package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, QueryModule, Tables}

/** Persistent-catalog DDL surface — the reference's BI path is
  * metastore-backed tables served over Thrift (reference:
  * hive-metastore/metastore-site.xml:29-40, docker-compose.yml:70-88 wire
  * a Hive Metastore + Spark Thrift Server so Metabase/Power BI query
  * catalog tables by NAME, not by path). The engine-side equivalent is
  * the session catalog over a warehouse directory: `CREATE TABLE ...
  * USING parquet`, `INSERT INTO`, `INSERT OVERWRITE`, `SHOW TABLES`,
  * `DESCRIBE`. On a cluster the same statements run against a shared
  * metastore; nothing here assumes the in-memory implementation (the
  * warehouse directory outliving the session is exactly the metastore
  * contract: CatalogSpec pins that a NEW session over the same warehouse
  * reads the same rows).
  *
  * Scale shape: DDL is metadata-only; the INSERTs move the 25/5-row dim
  * tables (deliberately — the capability under test is the catalog, not
  * the writer; parquet write throughput is pinned by the Roundtrip
  * family on lineitem-sized inputs).
  */
object Catalog extends QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private[graft] def dropWithLocation(s: SparkSession, tbl: String): Unit = {
    s.sql(s"DROP TABLE IF EXISTS $tbl")
    // the in-memory catalog is per-session but the warehouse DIRECTORY
    // outlives it — a fresh session's CREATE hits LOCATION_ALREADY_EXISTS
    // on a stale dir unless it is removed with the catalog entry
    Tables.rmTree(new java.io.File(
      new java.net.URI(s.conf.get("spark.sql.warehouse.dir") + s"/$tbl")))
  }

  /** Full DDL+DML lifecycle for the two catalog dims; idempotent (each
    * call drops and rebuilds), so repeated bench/verify runs are stable. */
  private[graft] def rebuildCatalogDims(s: SparkSession, dir: String): Unit = {
    dropWithLocation(s, "graft_cat_nation")
    dropWithLocation(s, "graft_cat_region")
    s.sql("""CREATE TABLE graft_cat_nation
             (n_nationkey BIGINT, n_name STRING, n_regionkey BIGINT)
             USING parquet""")
    s.sql("""CREATE TABLE graft_cat_region
             (r_regionkey BIGINT, r_name STRING)
             USING parquet""")
    t(s, dir, "nation").createOrReplaceTempView("graft_src_nation")
    t(s, dir, "region").createOrReplaceTempView("graft_src_region")
    s.sql("""INSERT INTO graft_cat_nation
             SELECT CAST(n_nationkey AS BIGINT), n_name,
                    CAST(n_regionkey AS BIGINT)
             FROM graft_src_nation""")
    // INSERT OVERWRITE is the second DML verb the Thrift path needs
    // (idempotent partition/table refresh); seed with one INSERT INTO so
    // the overwrite demonstrably replaces rather than appends
    s.sql("""INSERT INTO graft_cat_region
             SELECT CAST(r_regionkey AS BIGINT), r_name FROM graft_src_region""")
    s.sql("""INSERT OVERWRITE graft_cat_region
             SELECT CAST(r_regionkey AS BIGINT), r_name FROM graft_src_region""")
  }

  val all: Seq[Q] = Seq(

    // ---- CREATE TABLE + INSERT INTO + read back BY NAME: the aggregate
    // runs over the catalog table, so a wrong DDL/DML path (lost rows,
    // doubled INSERT, bad casts) breaks the oracle hash ----
    Q(
      "catalog_create_insert_select",
      Some("""
        SELECT CAST(n.n_regionkey AS BIGINT) AS r_key,
               CAST(count(*) AS BIGINT) AS n_nations,
               min(n.n_name) AS first_nation
        FROM nation n GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        rebuildCatalogDims(s, dir)
        s.table("graft_cat_nation")
          .groupBy(col("n_regionkey").as("r_key"))
          .agg(count(lit(1)).as("n_nations"),
            min(col("n_name")).as("first_nation"))
          .orderBy("r_key")
      }),

    // ---- catalog-to-catalog join through INSERT OVERWRITE: region went
    // through INSERT INTO + INSERT OVERWRITE; an append-instead-of-
    // replace bug doubles every count ----
    Q(
      "catalog_insert_overwrite_join",
      Some("""
        SELECT r.r_name, CAST(count(*) AS BIGINT) AS n_nations
        FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
        GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        rebuildCatalogDims(s, dir)
        s.table("graft_cat_nation")
          .join(s.table("graft_cat_region"),
            col("n_regionkey") === col("r_regionkey"))
          .groupBy("r_name")
          .agg(count(lit(1)).as("n_nations"))
          .orderBy("r_name")
      }),

    // ---- SHOW TABLES introspection (what a BI tool's schema browser
    // issues first over Thrift). Filtered to this family's prefix so the
    // row set is deterministic regardless of what other queries created
    // in the shared session catalog ----
    Q(
      "catalog_show_tables",
      Some("""
        SELECT * FROM (VALUES
          ('graft_cat_nation', false),
          ('graft_cat_region', false)) t(table_name, is_temporary)
        ORDER BY 1"""),
      (s, dir) => {
        rebuildCatalogDims(s, dir)
        // pattern pinned to the two dims this query creates — a bare
        // 'graft_cat_*' would also list tables left by OTHER catalog
        // queries in the shared session (order-dependent row count)
        s.sql("SHOW TABLES LIKE 'graft_cat_nation|graft_cat_region'")
          .select(col("tableName").as("table_name"),
            col("isTemporary").as("is_temporary"))
          .orderBy("table_name")
      }),

    // ---- DESCRIBE TABLE introspection: the declared DDL types come back
    // from the catalog verbatim (BI tools type their columns from this) ----
    Q(
      "catalog_describe_table",
      Some("""
        SELECT * FROM (VALUES
          ('n_name', 'string'),
          ('n_nationkey', 'bigint'),
          ('n_regionkey', 'bigint')) t(col_name, data_type)
        ORDER BY 1"""),
      (s, dir) => {
        rebuildCatalogDims(s, dir)
        s.sql("DESCRIBE TABLE graft_cat_nation")
          .filter(col("col_name") =!= "" && !col("col_name").startsWith("#"))
          .select("col_name", "data_type")
          .orderBy("col_name")
      }),

    // ---- CTAS + persistent VIEW: the BI pattern where a curated gold
    // table is materialized once (CTAS) and consumers query a named VIEW
    // whose definition lives in the catalog. The view's aggregate runs
    // at read time — a stale/doubled CTAS or a view resolving to the
    // wrong table breaks the hash ----
    Q(
      "catalog_ctas_view",
      Some("""
        SELECT o_orderstatus,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS total_cents,
               CAST(count(*) AS BIGINT) AS n
        FROM orders GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        dropWithLocation(s, "graft_cat_orders_gold")
        s.sql("DROP VIEW IF EXISTS graft_cat_v_revenue")
        t(s, dir, "orders").createOrReplaceTempView("graft_src_orders")
        s.sql("""CREATE TABLE graft_cat_orders_gold USING parquet AS
                 SELECT o_orderstatus,
                        CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                 FROM graft_src_orders""")
        s.sql("""CREATE VIEW graft_cat_v_revenue AS
                 SELECT o_orderstatus,
                        CAST(sum(cents) AS BIGINT) AS total_cents,
                        CAST(count(*) AS BIGINT) AS n
                 FROM graft_cat_orders_gold GROUP BY o_orderstatus""")
        s.table("graft_cat_v_revenue").orderBy("o_orderstatus")
      }),

    // ---- ALTER TABLE ADD COLUMNS — catalog-level schema evolution (the
    // storage-level counterpart is merge_schema_evolution): rows written
    // before the ALTER come back with NULL in the new column, rows after
    // carry values; both generations are read through ONE catalog schema ----
    Q(
      "catalog_alter_add_column",
      Some("""
        SELECT CAST(n_nationkey AS BIGINT) AS id, n_name AS name,
               CASE WHEN n_nationkey >= 10 THEN CAST(n_regionkey AS BIGINT)
               END AS region_key
        FROM nation ORDER BY id"""),
      (s, dir) => {
        dropWithLocation(s, "graft_cat_evolve")
        t(s, dir, "nation").createOrReplaceTempView("graft_src_nation")
        s.sql("""CREATE TABLE graft_cat_evolve
                 (id BIGINT, name STRING) USING parquet""")
        s.sql("""INSERT INTO graft_cat_evolve
                 SELECT CAST(n_nationkey AS BIGINT), n_name
                 FROM graft_src_nation WHERE n_nationkey < 10""")
        s.sql("ALTER TABLE graft_cat_evolve ADD COLUMNS (region_key BIGINT)")
        s.sql("""INSERT INTO graft_cat_evolve
                 SELECT CAST(n_nationkey AS BIGINT), n_name,
                        CAST(n_regionkey AS BIGINT)
                 FROM graft_src_nation WHERE n_nationkey >= 10""")
        s.table("graft_cat_evolve").orderBy("id")
      }),

    // ---- partitioned catalog table + SHOW PARTITIONS: the metastore
    // partition registry BI tools and engines prune by. The INSERT uses
    // dynamic partitioning (partition value from the data); the listing
    // is the metadata-only operation that must NOT scan data at scale ----
    Q(
      "catalog_show_partitions",
      Some("""
        SELECT DISTINCT 'status=' || o_orderstatus AS "partition"
        FROM orders ORDER BY 1"""),
      (s, dir) => {
        dropWithLocation(s, "graft_cat_part")
        t(s, dir, "orders").createOrReplaceTempView("graft_src_orders")
        s.sql("""CREATE TABLE graft_cat_part
                 (o_orderkey BIGINT, cents BIGINT)
                 USING parquet PARTITIONED BY (status STRING)""")
        s.sql("""INSERT INTO graft_cat_part
                 SELECT CAST(o_orderkey AS BIGINT),
                        CAST(round(o_totalprice * 100) AS BIGINT),
                        o_orderstatus AS status
                 FROM graft_src_orders""")
        s.sql("SHOW PARTITIONS graft_cat_part").orderBy("partition")
      }),

    // ---- ANALYZE TABLE + stats introspection: the CBO contract — the
    // computed rowCount comes back through the catalog (DESCRIBE
    // EXTENDED), compared against the true count. CboSpec separately
    // pins that these stats actually reach the optimizer's plan ----
    Q(
      "catalog_analyze_stats",
      Some("""
        SELECT 'graft_cat_nation' AS table_name,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM nation"""),
      (s, dir) => {
        rebuildCatalogDims(s, dir)
        s.sql("ANALYZE TABLE graft_cat_nation COMPUTE STATISTICS")
        s.sql("DESCRIBE TABLE EXTENDED graft_cat_nation")
          .filter(col("col_name") === "Statistics")
          .select(lit("graft_cat_nation").as("table_name"),
            regexp_extract(col("data_type"), "(\\d+) rows", 1)
              .cast("long").as("n_rows"))
      })
  )
}
