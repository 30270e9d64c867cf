package graft

import org.apache.spark.sql.SparkSession

/** External-metastore parity smoke. The reference backs its catalog
  * with a Hive metastore service (reference:
  * hive-metastore/metastore-site.xml:29-40) so BI sessions resolve
  * tables by name; the repo's CatalogSpec pins the warehouse-DIRECTORY
  * contract with the in-memory catalog. This main pins the same DDL
  * surface against a REAL HiveExternalCatalog — an embedded
  * Derby-backed metastore — across two separate PROCESSES:
  *
  *   sbt "runMain graft.MetastoreSmoke write <sfDir>"   # phase 1
  *   sbt "runMain graft.MetastoreSmoke read"            # phase 2
  *
  * Phase 1 saveAsTable's a dimension and tags it with DDL; phase 2 (a
  * fresh JVM, fresh SparkContext, no state but the metastore) must
  * list the table, read its 25 rows by name, and see the property.
  * Two processes — not two sessions — because embedded Derby pins its
  * boot to one JVM; on a cluster the ConnectionURL points at the
  * shared metastore service and nothing else changes (the contract is
  * the metastore, not the transport).
  */
object MetastoreSmoke {

  private def base = s"${Tables.scratchRoot}/metastore_smoke"

  private def session(): SparkSession = {
    sys.props("derby.system.home") = base // keep derby.log out of the repo
    GraftSession.local(extra = Map(
      "spark.sql.warehouse.dir" -> s"$base/warehouse",
      "javax.jdo.option.ConnectionURL" ->
        s"jdbc:derby:;databaseName=$base/metastore_db;create=true",
      "spark.sql.catalogImplementation" -> "hive"))
  }

  def main(args: Array[String]): Unit = args.headOption match {
    case Some("write") =>
      val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
      Tables.rmTree(new java.io.File(base))
      new java.io.File(base).mkdirs()
      val s = session()
      s.sparkContext.setLogLevel("WARN")
      Tables.load(s, sfDir, "nation")
        .selectExpr("CAST(n_nationkey AS BIGINT) AS n_nationkey",
          "n_name", "CAST(n_regionkey AS BIGINT) AS n_regionkey")
        .write.mode("overwrite").saveAsTable("ms_nation")
      s.sql("ALTER TABLE ms_nation SET TBLPROPERTIES ('graft.smoke'='1')")
      println("METASTORE SMOKE WRITE OK: ms_nation committed to " +
        "Derby-backed HiveExternalCatalog")
      s.stop()

    case Some("read") =>
      val s = session()
      s.sparkContext.setLogLevel("WARN")
      val tables = s.sql("SHOW TABLES").collect().map(_.getString(1))
      require(tables.contains("ms_nation"),
        s"metastore lost the table; catalog has: ${tables.mkString(",")}")
      val n = s.sql("SELECT count(*) AS n FROM ms_nation")
        .collect()(0).getLong(0)
      require(n == 25, s"expected 25 nations via catalog read, got $n")
      val props = s.sql("SHOW TBLPROPERTIES ms_nation").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
      require(props.get("graft.smoke").contains("1"),
        s"DDL table property lost across processes: $props")
      println(s"METASTORE SMOKE PASS: fresh process resolved ms_nation " +
        s"($n rows, DDL property intact) through the external metastore")
      s.stop()

    case other => sys.error(
      s"usage: MetastoreSmoke write <sfDir> | read (got $other)")
  }
}
