package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.hive.thriftserver.HiveThriftServer2

/** EP2 — the long-lived SQL serving endpoint. The reference's BI path is
  * a persistent Spark Thrift Server that Metabase connects to by name
  * (reference: docker-compose.yml:70-88, hive-metastore/metastore-site
  * .xml:29-40); this is the same surface embedded in-process:
  * HiveServer2 wire protocol (any hive-jdbc/ODBC client), serving the
  * session catalog over the persistent warehouse directory plus the
  * engine's registered table views.
  *
  * Scale stance: the endpoint is a thin protocol adapter — every query a
  * client submits compiles through the same Catalyst session as the
  * programmatic surface (extensions registered, AQE on), so nothing
  * here re-implements execution. On a cluster this main runs on the
  * driver of a long-lived application; concurrency is Spark's scheduler
  * fair-sharing across JDBC sessions, and the catalog moves from the
  * in-memory implementation to a shared metastore with no change to
  * this code (the warehouse-directory contract CatalogSpec pins).
  */
object Serve {

  /** Register the engine's tables and start the Thrift endpoint inside
    * an existing session. Exposed separately from main so ServeSpec can
    * smoke the wire protocol on an ephemeral port and stop the server.
    *
    * The hive.server2.thrift.port conf must be set on the session
    * BEFORE calling (startWithSparkSession snapshots the conf into its
    * HiveConf). A failed start throws to the caller instead of exiting
    * its JVM (`exitOnError = false`). Temp-view visibility across JDBC
    * connections requires the STATIC conf
    * spark.sql.hive.thriftServer.singleSession=true (set at session
    * build in main); without it each connection still sees every
    * CATALOG table — the persistent-warehouse surface.
    *
    * Returns the public HiveServer2 supertype (the concrete
    * HiveThriftServer2 class is private[hive]); stop() is what callers
    * need. */
  def start(spark: SparkSession, sfDir: String)
      : org.apache.hive.service.server.HiveServer2 = {
    Tables.registerViews(spark, sfDir)
    operators.Catalog.rebuildCatalogDims(spark, sfDir)
    // expose the experiment-tracking ledger (RunStore) when it exists —
    // the BI/JDBC analog of browsing the reference's MLflow UI
    val runsRoot = operators.RunStore.defaultRoot(sfDir)
    if (new java.io.File(s"$runsRoot/runs").exists())
      operators.RunStore.registerViews(spark, runsRoot)
    HiveThriftServer2.startWithSparkSession(spark, exitOnError = false)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val port = args.lift(1).getOrElse("10000")
    val spark = GraftSession.local(extra = Map(
      "spark.sql.hive.thriftServer.singleSession" -> "true",
      "hive.server2.thrift.port" -> port))
    spark.sparkContext.setLogLevel("WARN")
    start(spark, sfDir)
    println(s"graft-serve: listening on jdbc:hive2://localhost:$port " +
      s"(tables from $sfDir + catalog warehouse); kill to stop")
    // serve until the process is killed — the endpoint IS the program
    Thread.currentThread().join()
  }
}
