package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import graft.{Q, QueryModule, Tables}

/** Source/sink operators (SURVEY.md §2.1): JSON sink+scan (S5/S7), CSV
  * reader options (S8), Hive-partitioned parquet write + partition-pruned
  * read (S10/S11), and the incremental anti-join ingest (S4/J1, reference
  * app/bronze.py:50-63,114-116).
  *
  * Each roundtrip WRITES to a scratch dir under target/ and reads back, so
  * the registered query exercises the real writer/reader path while the
  * DuckDB oracle checks the equivalent aggregate straight off the base
  * table — a write/read identity check, not just a syntax demo.
  */
object Roundtrip extends QueryModule {

  private def t(s: SparkSession, dir: String, n: String): DataFrame =
    Tables.load(s, dir, n)

  private def scratch(name: String): String = {
    val d = new java.io.File(s"${Tables.scratchRoot}/$name")
    d.mkdirs()
    d.getAbsolutePath
  }

  // (session, sfDir) → bucketed tables already written. The bench runs
  // each query repeatedly; rewriting both catalog tables inside the timed
  // body made the row measure parquet writes, not the exchange-free join.
  private val bucketedReady =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Write the two bucketBy(8, key) catalog tables once per (session,
    * sfDir); subsequent calls in the same session reuse them. */
  private def ensureBucketedTables(s: SparkSession, dir: String): Unit = {
    val key = s"${System.identityHashCode(s)}|" +
      s.conf.get("spark.sql.warehouse.dir")
    if (bucketedReady.get(key) == dir &&
        s.catalog.tableExists("graft_li_bucketed") &&
        s.catalog.tableExists("graft_ord_bucketed")) return
    bucketedReady.synchronized {
      if (bucketedReady.get(key) == dir &&
          s.catalog.tableExists("graft_li_bucketed") &&
          s.catalog.tableExists("graft_ord_bucketed")) return
      // the in-memory catalog is per-session but the warehouse DIRECTORY
      // outlives it — drop both or a fresh session hits
      // LOCATION_ALREADY_EXISTS on a stale dir
      for (tbl <- Seq("graft_li_bucketed", "graft_ord_bucketed"))
        graft.operators.Catalog.dropWithLocation(s, tbl)
      t(s, dir, "lineitem")
        .select("l_orderkey", "l_returnflag")
        .write.mode(SaveMode.Overwrite)
        .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .saveAsTable("graft_li_bucketed")
      t(s, dir, "orders")
        .select("o_orderkey", "o_totalprice")
        .write.mode(SaveMode.Overwrite)
        .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .saveAsTable("graft_ord_bucketed")
      bucketedReady.put(key, dir)
    }
  }

  // (session, sfDir) → DPP scratch tables already written (same
  // write-once discipline as the bucketed tables: the bench row should
  // time the dynamically-pruned join, not the partitioned write).
  private val dppReady =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Write the DPP demo pair once per scale dir: a fact partitioned by
    * ship_month (12 hive dirs) and a tiny month→quarter dim as plain
    * parquet (parquet, not an in-memory literal frame, so the dim filter
    * is NOT constant-foldable and pruning must happen at runtime). */
  private def ensureDppTables(s: SparkSession, dir: String): String = {
    val root = scratch("dpp_" + new java.io.File(dir).getName)
    if (dppReady.get(root) != dir) dppReady.synchronized {
      if (dppReady.get(root) != dir) {
        t(s, dir, "lineitem")
          .select(col("l_orderkey"), col("l_extendedprice"),
            month(col("l_shipdate")).as("ship_month"))
          .write.mode(SaveMode.Overwrite)
          .partitionBy("ship_month").parquet(s"$root/fact")
        s.range(1, 13)
          .select(col("id").cast("int").as("m"),
            expr("CAST((id - 1) DIV 3 AS INT) + 1").as("quarter"))
          .write.mode(SaveMode.Overwrite).parquet(s"$root/dim")
        dppReady.put(root, dir)
      }
    }
    root
  }

  private val dynOverwriteReady =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Write the full event_type-partitioned base table once per scale dir
    * (same write-once discipline as ensureDppTables), so the timed
    * insert_overwrite_dynamic body measures only the O(one partition)
    * dynamic overwrite — the mechanism under test — not a full-table
    * setup write. The overwrite itself recomputes the click partition
    * from the SOURCE table, so repeated timed runs are idempotent. */
  private def ensureDynOverwriteBase(s: SparkSession, dir: String): String = {
    val root = scratch("dyn_overwrite_" + new java.io.File(dir).getName)
    if (dynOverwriteReady.get(root) != dir) dynOverwriteReady.synchronized {
      if (dynOverwriteReady.get(root) != dir) {
        t(s, dir, "events")
          .select("event_id", "user_id", "event_type", "value")
          .write.mode(SaveMode.Overwrite)
          .partitionBy("event_type").parquet(root)
        dynOverwriteReady.put(root, dir)
      }
    }
    root
  }

  private val binaryFilesReady =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Write one small binary blob per region (its nations as ASCII
    * lines) once per scale dir — bounded FIXTURE generation (25 rows),
    * not the operator under test; the operator is the binaryFile scan
    * in the query body. Content is a pure function of the nation
    * table, which is what lets DuckDB oracle the digests without
    * reading the files. */
  private def ensureBinaryFiles(s: SparkSession, dir: String): String = {
    val root = scratch("binfiles_" + new java.io.File(dir).getName)
    if (binaryFilesReady.get(root) != dir) binaryFilesReady.synchronized {
      if (binaryFilesReady.get(root) != dir) {
        t(s, dir, "nation")
          .selectExpr("CAST(n_regionkey AS BIGINT) AS n_regionkey",
            "CAST(n_nationkey AS STRING) || '|' || n_name AS line")
          .groupBy("n_regionkey")
          .agg(concat_ws("\n",
            array_sort(collect_list(col("line")))).as("body"))
          .collect()
          .foreach { r =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(
                s"$root/region_${r.getLong(0)}.bin"),
              (r.getString(1) + "\n")
                .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          }
        binaryFilesReady.put(root, dir)
      }
    }
    root
  }

  val all: Seq[Q] = Seq(

    // ---- S5+S7: JSON sink then JSON scan (schema inference), aggregate ----
    Q(
      "json_roundtrip_documents",
      Some("""
        SELECT lang, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val out = scratch("json_documents")
        t(s, dir, "documents").write.mode(SaveMode.Overwrite).json(out)
        s.read.json(out)
          .groupBy("lang")
          .agg(count(lit(1)).as("n"), sum("n_chars").as("total_chars"))
          .orderBy("lang")
      }),

    // ---- S8a: multiLine JSON — a pretty-printed JSON ARRAY file (the
    // shape the reference reads with multiLine=true,
    // realestate_pipeline.py:131-137); single-line JSON readers reject it ----
    Q(
      "json_multiline_read",
      Some("""
        SELECT CAST(r_regionkey AS BIGINT) AS r_regionkey, r_name
        FROM region ORDER BY 1"""),
      (s, dir) => {
        val out = scratch("json_multiline")
        // region is a bounded dim (5 rows at any SF) — driver-side
        // stringify is safe; the point is the multiLine READER path.
        val rows = t(s, dir, "region")
          .select(col("r_regionkey").cast("long"), col("r_name"))
          .toJSON.collect()
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$out/data.json"),
          rows.mkString("[\n  ", ",\n  ", "\n]"))
        s.read.option("multiLine", "true").json(s"$out/data.json")
          .select(col("r_regionkey"), col("r_name"))
          .orderBy("r_regionkey")
      }),

    // ---- S8: CSV write + header/schema read options ----
    Q(
      "csv_roundtrip_events",
      Some("""
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               round(sum(value), 2) AS total_value
        FROM events GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val out = scratch("csv_events")
        t(s, dir, "events")
          .select("event_id", "event_type", "value")
          .write.mode(SaveMode.Overwrite).option("header", "true").csv(out)
        s.read
          .option("header", "true")
          .schema("event_id LONG, event_type STRING, value DOUBLE")
          .csv(out)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("total_value"))
          .orderBy("event_type")
      }),

    // ---- S10/S11: partitioned parquet write, then a partition-pruned read
    // (prune verified by explain() in RoundtripSpec) ----
    Q(
      "partitioned_write_prune",
      Some("""
        SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS n,
               round(sum(o_totalprice), 1) AS total
        FROM orders WHERE o_orderstatus = 'F'
        GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val out = scratch("partitioned_orders")
        t(s, dir, "orders")
          .withColumn("status", col("o_orderstatus"))
          .write.mode(SaveMode.Overwrite).partitionBy("status").parquet(out)
        s.read.parquet(out)
          .filter(col("status") === "F") // only the status=F directory is scanned
          .groupBy("status")
          .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 1).as("total"))
          .orderBy("status")
      }),

    // ---- ORC roundtrip: the second columnar format next to parquet
    // (predicate pushdown + column pruning work the same way; ORC is
    // what Hive-lineage deployments bring). Avro is NOT registered —
    // spark-avro is an external module absent from this build. ----
    Q(
      "orc_roundtrip_supplier",
      Some("""
        SELECT CAST(s_nationkey AS BIGINT) AS nationkey,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(s_acctbal * 100) AS BIGINT)) AS BIGINT)
                 AS bal_cents
        FROM supplier GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val out = scratch("orc_supplier")
        t(s, dir, "supplier").write.mode(SaveMode.Overwrite).orc(out)
        s.read.orc(out)
          .groupBy(col("s_nationkey").cast("long").as("nationkey"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("s_acctbal") * 100).cast("long")).as("bal_cents"))
          .orderBy("nationkey")
      }),

    // ---- XML roundtrip (Spark 4 native XML source): write rowTag
    // elements, read back with schema inference, verify by aggregate —
    // the remaining ingestion format next to JSON/CSV/parquet/text. ----
    Q(
      "xml_roundtrip_nation",
      Some("""
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(n_nationkey) AS BIGINT) AS key_sum,
               min(n_name) AS first_name
        FROM nation"""),
      (s, dir) => {
        val out = scratch("xml_nation")
        t(s, dir, "nation")
          .write.mode(SaveMode.Overwrite)
          .option("rootTag", "nations").option("rowTag", "nation").xml(out)
        s.read.option("rowTag", "nation").xml(out)
          .agg(count(lit(1)).as("n"),
            sum("n_nationkey").as("key_sum"),
            min("n_name").as("first_name"))
      }),

    // ---- malformed-record handling: every 5th line of a JSON-lines file
    // is corrupted (truncated object); the default PERMISSIVE parse turns
    // each bad line into an all-null row instead of failing the job —
    // corrupt rows bucket under 'CORRUPT' via the null lang. At 100 TB a
    // single bad line must never kill an ingest; IngestSpec pins the
    // FAILFAST contrast (same file, hard error). ----
    Q(
      "json_corrupt_records",
      Some("""
        SELECT CASE WHEN doc_id % 5 = 0 THEN 'CORRUPT' ELSE lang END
                 AS lang_bucket,
               CAST(count(*) AS BIGINT) AS n
        FROM documents GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val out = scratch("corrupt_json_documents")
        t(s, dir, "documents")
          .select(
            when(col("doc_id") % 5 === 0,
              concat(lit("{bad "), col("doc_id").cast("string")))
              .otherwise(to_json(struct(col("doc_id"), col("lang"))))
              .as("value"))
          .write.mode(SaveMode.Overwrite).text(out)
        s.read.schema("doc_id LONG, lang STRING").json(out)
          .groupBy(coalesce(col("lang"), lit("CORRUPT")).as("lang_bucket"))
          .agg(count(lit(1)).as("n"))
          .orderBy("lang_bucket")
      }),

    // ---- schema evolution: two writers with different schema versions
    // land in one dataset; mergeSchema reconciles them at read (the
    // missing column nulls out for old files) — the P7 reconciliation
    // story at the STORAGE layer, which is how long-lived 100 TB datasets
    // actually evolve (no rewrite of old files). ----
    Q(
      "merge_schema_evolution",
      Some("""
        SELECT r_regionkey AS region_key, r_name AS region_name,
               CAST(CASE WHEN r_regionkey < 3 THEN NULL
                         ELSE length(r_name) END AS BIGINT) AS name_len
        FROM region ORDER BY 1"""),
      (s, dir) => {
        val out = scratch("schema_evolution_region")
        val r = t(s, dir, "region")
        // v1 writer: two columns only (regions 0-2)
        r.filter(col("r_regionkey") < 3)
          .select(col("r_regionkey"), col("r_name"))
          .write.mode(SaveMode.Overwrite).parquet(out)
        // v2 writer: adds name_len (regions 3+), appended
        r.filter(col("r_regionkey") >= 3)
          .select(col("r_regionkey"), col("r_name"),
            length(col("r_name")).cast("long").as("name_len"))
          .write.mode(SaveMode.Append).parquet(out)
        s.read.option("mergeSchema", "true").parquet(out)
          .select(col("r_regionkey").as("region_key"),
            col("r_name").as("region_name"), col("name_len"))
          .orderBy("region_key")
      }),

    // ---- range-clustered write: repartitionByRange + sortWithinPartitions
    // on the filter column — the high-cardinality alternative to hive
    // partitionBy (which would explode into one directory per value).
    // Each output file covers a disjoint o_orderdate range, so a date
    // filter on readback skips whole files/row-groups via parquet
    // min/max stats (RoundtripSpec asserts the disjoint file ranges). ----
    Q(
      "range_clustered_write",
      Some("""
        SELECT strftime(time_bucket(INTERVAL '1 month', o_orderdate),
                 '%Y-%m') AS month,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val out = scratch("range_clustered_orders")
        t(s, dir, "orders")
          .repartitionByRange(8, col("o_orderdate"))
          .sortWithinPartitions("o_orderdate")
          .write.mode(SaveMode.Overwrite).parquet(out)
        s.read.parquet(out)
          .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
          .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
          .agg(count(lit(1)).as("n"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
          .orderBy("month")
      }),

    // ---- Z-order clustering key (the Delta/Iceberg OPTIMIZE ZORDER
    // primitive): bit-interleave two 8-bit dimensions into one 16-bit
    // sort key so range-partitioning on it gives files bounded in BOTH
    // dimensions at once — two-dimensional file skipping from a
    // one-dimensional layout. Pure integer bit arithmetic (exact in any
    // engine); RoundtripSpec asserts the locality property on an actual
    // repartitionByRange(zkey) write. ----
    Q(
      "zorder_interleave_key",
      Some {
        val terms = (0 until 8).map(i =>
          s"((x >> $i) & 1) * ${1L << (2 * i)} + " +
            s"((y >> $i) & 1) * ${1L << (2 * i + 1)}").mkString(" + ")
        s"""
        SELECT o_orderkey, CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y,
               CAST($terms AS BIGINT) AS zkey
        FROM (SELECT o_orderkey,
                     o_custkey % 256 AS x,
                     dayofyear(o_orderdate) % 256 AS y
              FROM orders)
        ORDER BY o_orderkey"""
      },
      (s, dir) => {
        val z = (0 until 8).map(i =>
          shiftright(col("x"), i).bitwiseAND(1) * lit(1L << (2 * i)) +
            shiftright(col("y"), i).bitwiseAND(1) * lit(1L << (2 * i + 1)))
          .reduce(_ + _)
        t(s, dir, "orders")
          .select(col("o_orderkey"),
            (col("o_custkey") % 256).as("x"),
            (dayofyear(col("o_orderdate")) % 256).as("y"))
          .select(col("o_orderkey"), col("x").cast("long").as("x"),
            col("y").cast("long").as("y"), z.cast("long").as("zkey"))
          .orderBy("o_orderkey")
      }),

    // ---- bucketed co-located join: both sides written bucketBy(8, key)
    // into catalog tables, so the fact⋈fact sort-merge join needs NO
    // shuffle exchange (the 100 TB pattern for repeated joins on the same
    // key; BucketingSpec asserts the exchange-free plan) ----
    Q(
      "bucketed_join_colocated",
      Some("""
        SELECT l_returnflag,
               CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS order_cents
        FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        ensureBucketedTables(s, dir)
        s.table("graft_li_bucketed")
          .join(s.table("graft_ord_bucketed"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("l_returnflag")
          .agg(count(lit(1)).as("n"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("order_cents"))
          .orderBy("l_returnflag")
      }),

    // ---- bucketed shuffle-free aggregation: grouping on the bucket key
    // needs NO exchange — the scan's bucket layout already satisfies the
    // aggregate's distribution requirement, so the plan is scan →
    // final HashAggregate with zero data movement. The companion to the
    // exchange-free bucketed join: at 100 TB a table bucketed on its
    // hot group/join key amortizes ONE write-time shuffle across every
    // subsequent agg and join on that key. BucketingSpec pins the
    // no-hash-exchange plan. ----
    Q(
      "agg_bucketed_no_shuffle",
      Some("""
        SELECT CAST(l_orderkey AS BIGINT) AS l_orderkey,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM lineitem GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        ensureBucketedTables(s, dir)
        // group on the RAW bucket column (already BIGINT) — a cast or
        // expression here would stop the bucket distribution from
        // satisfying the aggregate and reintroduce the exchange
        s.table("graft_li_bucketed")
          .groupBy("l_orderkey")
          .agg(count(lit(1)).as("n_lines"))
          .orderBy("l_orderkey")
      }),

    // ---- file-provenance metadata (_metadata struct): at 100 TB,
    // per-file lineage (which object produced which rows) comes from the
    // hidden metadata column, not from parsing paths in user code ----
    Q(
      "file_metadata_provenance",
      Some("""
        SELECT 'lineitem.parquet' AS file_name,
               CAST(count(*) AS BIGINT) AS n FROM lineitem
        GROUP BY 1 ORDER BY 1"""),
      (s, dir) =>
        s.read.parquet(s"$dir/lineitem.parquet")
          .select(col("_metadata.file_name").as("file_name"))
          .groupBy("file_name")
          .agg(count(lit(1)).as("n"))
          .orderBy("file_name")),

    // ---- parquet writer codec option (zstd) roundtrip ----
    Q(
      "parquet_zstd_roundtrip",
      Some("""
        SELECT n_regionkey, CAST(count(*) AS BIGINT) AS n_nations
        FROM nation GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val out = scratch("zstd_nation")
        t(s, dir, "nation")
          .write.mode(SaveMode.Overwrite)
          .option("compression", "zstd").parquet(out)
        s.read.parquet(out)
          .groupBy("n_regionkey")
          .agg(count(lit(1)).as("n_nations"))
          .orderBy("n_regionkey")
      }),

    // ---- small-file compaction (the OPTIMIZE/maintenance half of a
    // lakehouse): a fragmented landing zone (64 splinter files — the
    // shape a streaming or per-batch ingest leaves behind) rewritten to
    // size-targeted files via repartition, with content identity checked
    // by the oracle and the file-count collapse asserted in
    // RoundtripSpec. At 100 TB this is the job that keeps scan task
    // counts and parquet footer overhead bounded; the rewrite is one
    // round-robin shuffle, no driver-side file handling. ----
    Q(
      "compact_small_files",
      Some("""
        SELECT lang, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(n_chars) AS BIGINT) AS chars
        FROM documents GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val frag = scratch("compact_fragmented")
        val tidy = scratch("compact_tidy")
        t(s, dir, "documents")
          .repartition(64)
          .write.mode(SaveMode.Overwrite).parquet(frag)
        s.read.parquet(frag)
          .repartition(4)
          .write.mode(SaveMode.Overwrite).parquet(tidy)
        s.read.parquet(tidy)
          .groupBy("lang")
          .agg(count(lit(1)).as("n"), sum("n_chars").as("chars"))
          .orderBy("lang")
      }),

    // ---- MERGE/upsert without a table format: the reference README
    // declares Delta but ships plain parquet (SURVEY §0) — the engine
    // expresses upsert as keyed anti-join + union + partition overwrite,
    // the Spark-native MERGE-INTO equivalent over immutable files ----
    Q(
      "upsert_partition_rewrite",
      Some("""
        WITH target AS (SELECT o_orderkey, o_totalprice FROM orders
                        WHERE o_orderstatus = 'F'),
        updates AS (SELECT o_orderkey, o_totalprice * 2 AS o_totalprice
                    FROM orders WHERE o_orderstatus = 'F' AND o_orderkey % 10 = 0),
        merged AS (
          SELECT t.o_orderkey, t.o_totalprice FROM target t
          WHERE t.o_orderkey NOT IN (SELECT o_orderkey FROM updates)
          UNION ALL
          SELECT o_orderkey, o_totalprice FROM updates)
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM merged"""),
      (s, dir) => {
        val out = scratch("upsert_orders")
        val target = t(s, dir, "orders")
          .filter(col("o_orderstatus") === "F")
          .select("o_orderkey", "o_totalprice")
        target.write.mode(SaveMode.Overwrite).parquet(out)
        val updates = target.filter(col("o_orderkey") % 10 === 0)
          .withColumn("o_totalprice", col("o_totalprice") * 2)
        val existing = s.read.parquet(out)
        val merged = existing
          .join(updates.select(col("o_orderkey").as("upd_key")),
            col("o_orderkey") === col("upd_key"), "left_anti")
          .unionByName(updates)
        // rewrite to a NEW location then read — an in-place overwrite
        // would read and clobber the same files in one job
        val out2 = scratch("upsert_orders_v2")
        merged.write.mode(SaveMode.Overwrite).parquet(out2)
        s.read.parquet(out2)
          .agg(count(lit(1)).as("n"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
      }),

    // ---- table-format core from first principles: immutable files +
    // per-version manifests + copy-on-write commits (sources.Snapshots).
    // v2 rewrites 1 of 8 buckets and re-references the rest; reading
    // "as of v1" after the v2 commit must still see the original data —
    // the oracle recomputes both snapshots relationally ----
    Q(
      "snapshot_time_travel",
      Some("""
        WITH base AS (SELECT o_orderkey, o_totalprice FROM orders
                      WHERE o_orderstatus = 'F'),
        v2 AS (SELECT o_orderkey,
                      CASE WHEN o_orderkey % 40 = 0 THEN o_totalprice * 2
                           ELSE o_totalprice END AS o_totalprice
               FROM base)
        SELECT * FROM (
          SELECT CAST(1 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
          FROM base
          UNION ALL
          SELECT CAST(2 AS BIGINT), CAST(count(*) AS BIGINT),
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
          FROM v2)
        ORDER BY version"""),
      (s, dir) => {
        val root = Snapshots.buildDemoTable(s, dir)
        def snap(v: Int) = Snapshots.readVersion(s, root, v)
          .agg(count(lit(1)).as("n"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
          .select(lit(v.toLong).as("version"), col("n"), col("cents"))
        snap(1).unionByName(snap(2)).orderBy("version")
      }),

    // ---- SQL DELETE over the snapshot format: copy-on-write commit that
    // rewrites ONLY the buckets holding matching keys (%40==0 keys all
    // hash to bucket 0) and re-references the other 7 file groups. The
    // query reads BOTH v2 (pre-delete) and v3 (post-delete): a green row
    // proves the delete applied AND the prior snapshot stayed immutable ----
    Q(
      "snapshot_delete_rows",
      Some("""
        WITH base AS (SELECT o_orderkey, o_totalprice FROM orders
                      WHERE o_orderstatus = 'F'),
        v2 AS (SELECT o_orderkey,
                      CASE WHEN o_orderkey % 40 = 0 THEN o_totalprice * 2
                           ELSE o_totalprice END AS o_totalprice
               FROM base),
        v3 AS (SELECT * FROM v2 WHERE o_orderkey % 40 <> 0)
        SELECT * FROM (
          SELECT CAST(2 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
          FROM v2
          UNION ALL
          SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT),
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
          FROM v3)
        ORDER BY version"""),
      (s, dir) => {
        val root = Snapshots.buildDemoTable(s, dir, "snap_delete")
        Snapshots.commitDelete(s, root, 2, col("o_orderkey") % 40 === 0)
        def snap(v: Int) = Snapshots.readVersion(s, root, v)
          .agg(count(lit(1)).as("n"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
          .select(lit(v.toLong).as("version"), col("n"), col("cents"))
        snap(2).unionByName(snap(3)).orderBy("version")
      }),

    // ---- SQL UPDATE over the snapshot format: same COW commit shape;
    // %40==13 keys all live in bucket 5, so exactly one file group is
    // rewritten (non-matching rows in it carried unchanged) ----
    Q(
      "snapshot_update_rows",
      Some("""
        WITH base AS (SELECT o_orderkey, o_totalprice FROM orders
                      WHERE o_orderstatus = 'F'),
        v2 AS (SELECT o_orderkey,
                      CASE WHEN o_orderkey % 40 = 0 THEN o_totalprice * 2
                           ELSE o_totalprice END AS o_totalprice
               FROM base),
        v3 AS (SELECT o_orderkey,
                      CASE WHEN o_orderkey % 40 = 13 THEN o_totalprice + 1000
                           ELSE o_totalprice END AS o_totalprice
               FROM v2)
        SELECT * FROM (
          SELECT CAST(2 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
          FROM v2
          UNION ALL
          SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT),
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
          FROM v3)
        ORDER BY version"""),
      (s, dir) => {
        val root = Snapshots.buildDemoTable(s, dir, "snap_update")
        Snapshots.commitUpdate(s, root, 2,
          col("o_orderkey") % 40 === 13,
          "o_totalprice" -> (col("o_totalprice") + 1000))
        def snap(v: Int) = Snapshots.readVersion(s, root, v)
          .agg(count(lit(1)).as("n"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
          .select(lit(v.toLong).as("version"), col("n"), col("cents"))
        snap(2).unionByName(snap(3)).orderBy("version")
      }),

    // ---- schema evolution across snapshot commits: v3 = metadata-only
    // ADD COLUMN (zero data movement, schema travels in schema_v3.json);
    // v4 = COW UPDATE populating the column for bucket-2 keys. Reading v2
    // AFTER both commits still yields the OLD 2-column schema; v3 reads
    // the new column as NULL from files that predate it ----
    Q(
      "snapshot_schema_evolution",
      Some("""
        WITH base AS (SELECT o_orderkey FROM orders
                      WHERE o_orderstatus = 'F')
        SELECT * FROM (
          SELECT CAST(2 AS BIGINT) AS version,
                 CAST(count(*) AS BIGINT) AS n_rows,
                 CAST(2 AS BIGINT) AS n_cols, CAST(0 AS BIGINT) AS n_banded
          FROM base
          UNION ALL
          SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT),
                 CAST(3 AS BIGINT), CAST(0 AS BIGINT)
          FROM base
          UNION ALL
          SELECT CAST(4 AS BIGINT), CAST(count(*) AS BIGINT),
                 CAST(3 AS BIGINT),
                 CAST(count(*) FILTER (WHERE o_orderkey % 8 = 2) AS BIGINT)
          FROM base)
        ORDER BY version"""),
      (s, dir) => {
        val root = Snapshots.buildDemoTable(s, dir, "snap_evolve")
        Snapshots.commitAddColumn(s, root, 2, "price_band",
          org.apache.spark.sql.types.StringType)
        Snapshots.commitUpdate(s, root, 3,
          col("o_orderkey") % 8 === 2, "price_band" -> lit("mid"))
        def stats(v: Int) = {
          val df = Snapshots.readVersion(s, root, v)
          val banded =
            if (df.columns.contains("price_band")) count(col("price_band"))
            else count(when(lit(false), 1)) // column predates this version
          df.agg(count(lit(1)).as("n_rows"), banded.as("n_banded"))
            .select(lit(v.toLong).as("version"), col("n_rows"),
              lit(df.columns.length.toLong).as("n_cols"), col("n_banded"))
        }
        stats(2).unionByName(stats(3)).unionByName(stats(4))
          .orderBy("version")
      }),

    // ---- S4/J1: incremental ingest dedup — new batch anti-joined against
    // the already-seen key set (reference keeps list_ids.txt; we keep a
    // keyed DataFrame — at scale, a bucketed table of seen keys) ----
    Q(
      "anti_join_incremental_ingest",
      Some("""
        SELECT CAST(count(*) AS BIGINT) AS n_new,
               CAST(min(o_orderkey) AS BIGINT) AS first_new,
               CAST(max(o_orderkey) AS BIGINT) AS last_new
        FROM orders
        WHERE o_orderkey NOT IN
          (SELECT o_orderkey FROM orders WHERE o_orderkey % 3 <> 0)"""),
      (s, dir) => {
        val batch = t(s, dir, "orders")
        val seen = batch.filter(col("o_orderkey") % 3 =!= 0)
          .select(col("o_orderkey").as("seen_key"))
        batch
          .join(seen, col("o_orderkey") === col("seen_key"), "left_anti")
          .agg(
            count(lit(1)).as("n_new"),
            min("o_orderkey").as("first_new"),
            max("o_orderkey").as("last_new"))
      }),

    // ---- SQL MERGE INTO over the snapshot format: one changeset carrying
    // both UPDATE-matched rows (%40==13 keys, price+5000) and INSERT-new
    // rows (three synthetic keys far above the domain) applied as ONE
    // copy-on-write commit. Touched buckets derive from the SOURCE keys,
    // so write amplification tracks the changeset's key spread — reading
    // v2 and v3 together proves the merge applied and v2 stayed immutable ----
    Q(
      "snapshot_merge_into",
      Some("""
        WITH base AS (SELECT o_orderkey, o_totalprice FROM orders
                      WHERE o_orderstatus = 'F'),
        v2 AS (SELECT o_orderkey,
                      CASE WHEN o_orderkey % 40 = 0 THEN o_totalprice * 2
                           ELSE o_totalprice END AS o_totalprice
               FROM base),
        src AS (
          SELECT o_orderkey, o_totalprice + 5000 AS o_totalprice
          FROM v2 WHERE o_orderkey % 40 = 13
          UNION ALL
          SELECT * FROM (VALUES (CAST(1000000001 AS BIGINT), 111.0),
                                (CAST(1000000002 AS BIGINT), 222.0),
                                (CAST(1000000003 AS BIGINT), 333.0))
            t(o_orderkey, o_totalprice)),
        v3 AS (SELECT * FROM v2
               WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
               UNION ALL SELECT * FROM src)
        SELECT * FROM (
          SELECT CAST(2 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                   AS cents
          FROM v2
          UNION ALL
          SELECT CAST(3 AS BIGINT), CAST(count(*) AS BIGINT),
                 CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
          FROM v3)
        ORDER BY version"""),
      (s, dir) => {
        val root = Snapshots.buildDemoTable(s, dir, "snap_merge")
        val updates = Snapshots.readVersion(s, root, 2)
          .filter(col("o_orderkey") % 40 === 13)
          .select(col("o_orderkey"),
            (col("o_totalprice") + 5000).as("o_totalprice"))
        val inserts = s.createDataFrame(Seq(
          (1000000001L, 111.0), (1000000002L, 222.0), (1000000003L, 333.0)))
          .toDF("o_orderkey", "o_totalprice")
        Snapshots.commitMerge(s, root, 2, updates.unionByName(inserts))
        def snap(v: Int) = Snapshots.readVersion(s, root, v)
          .agg(count(lit(1)).as("n"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
          .select(lit(v.toLong).as("version"), col("n"), col("cents"))
        snap(2).unionByName(snap(3)).orderBy("version")
      }),

    // ---- VACUUM with retention: after a DELETE commit (v3), expire
    // versions 1-2 — data files referenced only by expired manifests are
    // physically removed, files SHARED with v3 survive, and the retained
    // snapshot reads back byte-identical. The oracle pins the post-vacuum
    // read; RoundtripSpec pins the file-level reachability semantics ----
    Q(
      "snapshot_vacuum_retention",
      Some("""
        WITH base AS (SELECT o_orderkey, o_totalprice FROM orders
                      WHERE o_orderstatus = 'F'),
        v2 AS (SELECT o_orderkey,
                      CASE WHEN o_orderkey % 40 = 0 THEN o_totalprice * 2
                           ELSE o_totalprice END AS o_totalprice
               FROM base),
        v3 AS (SELECT * FROM v2 WHERE o_orderkey % 40 <> 0)
        SELECT CAST(3 AS BIGINT) AS version, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents,
               TRUE AS expired_unreadable
        FROM v3"""),
      (s, dir) => {
        val root = Snapshots.buildDemoTable(s, dir, "snap_vacuum")
        Snapshots.commitDelete(s, root, 2, col("o_orderkey") % 40 === 0)
        Snapshots.vacuum(root, keepFrom = 3)
        val expiredGone =
          !java.nio.file.Files.exists(Snapshots.manifestPath(root, 1)) &&
            !java.nio.file.Files.exists(Snapshots.manifestPath(root, 2))
        Snapshots.readVersion(s, root, 3)
          .agg(count(lit(1)).as("n"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
          .select(lit(3L).as("version"), col("n"), col("cents"),
            lit(expiredGone).as("expired_unreadable"))
      }),

    // ---- change-data-feed read between snapshot versions (Delta CDF
    // shape): v1 → v2 COW update (bucket 0), v2 → v3 DELETE (bucket 5),
    // v3 → v4 MERGE inserting new keys (bucket 5). The feed derives from
    // the MANIFEST DIFF — only the file groups present in exactly one of
    // the two manifests are read (here buckets 0 and 5; the other six
    // never leave disk), so a changelog over a 100 TB table costs
    // O(changed buckets), not a table diff. The oracle replays all three
    // commits from the base table; RoundtripSpec pins the file-level
    // bound (diff touches exactly the two buckets) and feed ≡ full diff ----
    Q(
      "snapshot_change_feed",
      Some("""
        WITH base AS (SELECT o_orderkey, o_totalprice FROM orders
                      WHERE o_orderstatus = 'F'),
        ch AS (
          SELECT 'update_preimage' AS change_type, o_totalprice
          FROM base WHERE o_orderkey % 40 = 0
          UNION ALL
          SELECT 'update_postimage', o_totalprice * 2
          FROM base WHERE o_orderkey % 40 = 0
          UNION ALL
          SELECT 'delete', o_totalprice
          FROM base WHERE o_orderkey % 40 = 13
          UNION ALL
          SELECT 'insert', o_totalprice
          FROM orders WHERE o_orderstatus = 'O' AND o_orderkey % 40 = 21)
        SELECT change_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM ch GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val root = Snapshots.buildDemoTable(s, dir, "snap_cdf")
        // v3: DELETE keys ≡13 (mod 40) — all in bucket 5 (13 % 8)
        Snapshots.commitDelete(s, root, 2, col("o_orderkey") % 40 === 13)
        // v4: MERGE inserting O-status keys ≡21 (mod 40) — disjoint from
        // the F-status table (one status per orderkey), also bucket 5
        val src = t(s, dir, "orders")
          .filter(col("o_orderstatus") === "O" &&
            col("o_orderkey") % 40 === 21)
          .select("o_orderkey", "o_totalprice")
        Snapshots.commitMerge(s, root, 3, src)
        Snapshots.changeFeed(s, root, 1, 4)
          .groupBy("change_type")
          .agg(count(lit(1)).as("n"),
            sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
          .orderBy("change_type")
      }),

    // ---- dynamic partition pruning: the fact side is a hive-partitioned
    // parquet table; the month filter exists only as `quarter = 2` on the
    // dim side, so static pruning can't help — at runtime Spark turns the
    // broadcast dim into a partition filter on the fact scan
    // (dynamicpruningexpression in PartitionFilters; PlanShapeSpec pins
    // it) and reads 3 of 12 partition directories. At 100 TB this is THE
    // mechanism that keeps star-schema queries from scanning the whole
    // fact table when the predicate lives on a dimension. Both scratch
    // tables are written once per scale dir (the timed body measures the
    // pruned join, not parquet writes — same discipline as the bucketed
    // join). ----
    Q(
      "join_dpp_partition_prune",
      Some("""
        SELECT CAST(month(l_shipdate) AS BIGINT) AS ship_month,
               CAST(count(*) AS BIGINT) AS n_lines,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                 AS BIGINT) AS cents
        FROM lineitem
        WHERE month(l_shipdate) BETWEEN 4 AND 6
        GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val root = ensureDppTables(s, dir)
        val fact = s.read.parquet(s"$root/fact")
        val dim = s.read.parquet(s"$root/dim")
          .filter(col("quarter") === 2)
        fact.join(dim, fact("ship_month") === dim("m"))
          .groupBy(col("ship_month").cast("long").as("ship_month"))
          .agg(count(lit(1)).as("n_lines"),
            sum(round(col("l_extendedprice") * 100).cast("long"))
              .as("cents"))
          .orderBy("ship_month")
      }),

    // ---- INSERT OVERWRITE with dynamic partition overwrite: the daily
    // partition-refresh pattern (recompute one day/partition, replace it
    // in place, leave every other partition untouched). Static overwrite
    // mode would truncate the whole table; `partitionOverwriteMode=
    // dynamic` (a per-write option, not a session flip) replaces ONLY the
    // partitions present in the incoming data — here the `click`
    // partition is rewritten with doubled values while the other four
    // event types keep their original files. At 100 TB the refresh cost
    // is O(recomputed partition), never O(table). ----
    Q(
      "insert_overwrite_dynamic",
      Some("""
        SELECT event_type, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round((CASE WHEN event_type = 'click'
                                         THEN value * 2 ELSE value END) * 100)
                        AS BIGINT)) AS BIGINT) AS cents
        FROM events GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val root = ensureDynOverwriteBase(s, dir)
        t(s, dir, "events")
          .select("event_id", "user_id", "event_type", "value")
          .filter(col("event_type") === "click")
          .withColumn("value", col("value") * 2)
          .write.mode(SaveMode.Overwrite)
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("event_type").parquet(root)
        s.read.parquet(root)
          .groupBy("event_type")
          .agg(count(lit(1)).as("n"),
            sum(round(col("value") * 100).cast("long")).as("cents"))
          .orderBy("event_type")
      }),

    // ---- parquet column bloom filters: file-level skipping for POINT
    // lookups on a column the layout is NOT sorted or partitioned by —
    // the case min/max row-group stats can't help (a random key's range
    // spans every file). The writer embeds a per-row-group bloom filter
    // for l_partkey; a reader probing `l_partkey = k` skips any row
    // group whose filter rules k out. At 100 TB this turns needle
    // queries on secondary keys from full scans into a handful of row
    // groups at a few-KB-per-group storage cost. RoundtripSpec pins the
    // footer metadata (filter present for l_partkey, absent for the
    // not-enabled column); the oracle pins the lookup result. ----
    Q(
      "parquet_bloom_point_lookup",
      Some("""
        SELECT CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT))
                 AS BIGINT) AS cents
        FROM lineitem WHERE l_partkey = 101"""),
      (s, dir) => {
        val root = scratch("bloom_pt")
        t(s, dir, "lineitem")
          .select("l_orderkey", "l_partkey", "l_extendedprice")
          .write.mode(SaveMode.Overwrite)
          .option("parquet.bloom.filter.enabled#l_partkey", "true")
          .option("parquet.bloom.filter.expected.ndv#l_partkey", "25000")
          // dictionary-encoded chunks drop their bloom filter (the
          // dictionary is already an exact membership test) — force the
          // plain-encoded path a genuinely high-NDV key would take
          .option("parquet.enable.dictionary#l_partkey", "false")
          .parquet(root)
        s.read.parquet(root)
          .filter(col("l_partkey") === 101)
          .agg(count(lit(1)).as("n"),
            sum(round(col("l_extendedprice") * 100).cast("long"))
              .as("cents"))
      }),

    // ---- incremental materialized-view maintenance off the change feed:
    // the downstream consumer the CDF exists FOR. The per-group (count,
    // integer-cents sum) view is maintained by applying SIGNED deltas
    // from changeFeed(v1→v4) — insert/update_postimage add, delete/
    // update_preimage subtract — onto the v1 aggregate; additive
    // aggregates make the merge a full-outer coalesce-sum. Work is
    // O(changed buckets) + O(|view|), never a fact re-scan: at 100 TB
    // this is the difference between refreshing a dashboard from a
    // commit's changelog and re-aggregating the table. The oracle
    // RECOMPUTES the view from the replayed v4 state from scratch, so a
    // green row IS the incremental ≡ recompute proof. ----
    Q(
      "snapshot_incremental_mv",
      Some("""
        WITH base AS (SELECT o_orderkey, o_totalprice FROM orders
                      WHERE o_orderstatus = 'F'),
        v2 AS (SELECT o_orderkey,
                      CASE WHEN o_orderkey % 40 = 0 THEN o_totalprice * 2
                           ELSE o_totalprice END AS o_totalprice
               FROM base),
        v3 AS (SELECT * FROM v2 WHERE o_orderkey % 40 <> 13),
        v4 AS (SELECT * FROM v3
               UNION ALL
               SELECT o_orderkey, o_totalprice FROM orders
               WHERE o_orderstatus = 'O' AND o_orderkey % 40 = 21)
        SELECT o_orderkey % 8 AS grp, CAST(count(*) AS BIGINT) AS n,
               CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
                 AS cents
        FROM v4 GROUP BY 1 ORDER BY 1"""),
      (s, dir) => {
        val root = Snapshots.buildDemoTable(s, dir, "snap_imv")
        Snapshots.commitDelete(s, root, 2, col("o_orderkey") % 40 === 13)
        val src = t(s, dir, "orders")
          .filter(col("o_orderstatus") === "O" &&
            col("o_orderkey") % 40 === 21)
          .select("o_orderkey", "o_totalprice")
        Snapshots.commitMerge(s, root, 3, src)
        val grp = pmod(col("o_orderkey"), lit(8)).as("grp")
        val cents = round(col("o_totalprice") * 100).cast("long")
        val base = Snapshots.readVersion(s, root, 1)
          .groupBy(grp).agg(count(lit(1)).as("n"), sum(cents).as("cents"))
        val delta = Snapshots.changeFeed(s, root, 1, 4)
          .withColumn("sign",
            when(col("change_type").isin("insert", "update_postimage"), 1L)
              .otherwise(-1L))
          .groupBy(grp)
          .agg(sum(col("sign")).as("dn"),
            sum(col("sign") * cents).as("dcents"))
        base.join(delta, Seq("grp"), "full_outer")
          .select(col("grp"),
            (coalesce(col("n"), lit(0L)) + coalesce(col("dn"), lit(0L)))
              .as("n"),
            (coalesce(col("cents"), lit(0L)) +
              coalesce(col("dcents"), lit(0L))).as("cents"))
          .orderBy("grp")
      }),

    // ---- raw-blob ingestion: Spark's binaryFile source — the scan
    // path a multimodal pipeline uses for image/audio blobs before the
    // decode stage (operators.Multimodal picks up from the binary
    // column this produces). The query scans a directory of opaque
    // files and emits (name, size, md5) per blob; the blobs are a pure
    // function of the nation table, so DuckDB oracles the exact
    // digests by reconstructing the same bytes relationally — the
    // file-system read itself is what's being pinned. Scale: one file
    // = one row; Spark parallelizes over files (maxPartitionBytes
    // packing), and the digest is per-row codegen — the same shape at
    // 5 blobs or 500 million. ----
    Q(
      "binaryfile_scan_digest",
      Some("""
        WITH lines AS (
          SELECT n_regionkey,
                 CAST(n_nationkey AS VARCHAR) || '|' || n_name AS line
          FROM nation),
        blobs AS (
          SELECT n_regionkey,
                 string_agg(line, chr(10) ORDER BY line) || chr(10)
                   AS content
          FROM lines GROUP BY n_regionkey)
        SELECT 'region_' || CAST(n_regionkey AS VARCHAR) || '.bin'
                 AS fname,
               CAST(strlen(content) AS BIGINT) AS len,
               md5(content) AS digest
        FROM blobs ORDER BY fname"""),
      (s, dir) => {
        val root = ensureBinaryFiles(s, dir)
        s.read.format("binaryFile").load(root)
          .selectExpr("element_at(split(path, '/'), -1) AS fname",
            "length AS len", "md5(content) AS digest")
          .orderBy("fname")
      })
  )
}
