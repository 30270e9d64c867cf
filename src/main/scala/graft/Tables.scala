package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated TPC-H-ish testdata
  * (see /root/repo/TESTDATA.md, FIXTURES.md §2).
  *
  * One parquet file per table under `sfDir`. All queries in
  * [[SparkEntry.queries]] read through here so scans stay uniform
  * (vectorized parquet reader, pushdown-friendly).
  */
object Tables {
  /** Root for sink-side scratch output (roundtrip writes, stream
    * checkpoints). Overridable via -Dgraft.scratch so the queries aren't
    * tied to this container's layout; defaults to the repo's target dir. */
  def scratchRoot: String =
    sys.props.getOrElse("graft.scratch", "/root/repo/target/scratch")

  /** Delete the build-if-absent DERIVED tables under [[scratchRoot]]
    * (the pHash fingerprint table and the ANN hyperplane index). They
    * are deterministic corpus functions, but letting them survive across
    * timed runs means a later cold bench reads an index an earlier run
    * built and never pays the build — a cross-run precomputed
    * intermediate, which the measurement rules treat as gaming. Bench
    * and Verify call this at startup so every invocation pays each
    * build exactly once, in-run (the within-run amortization across the
    * table's ~5 consumers per query is the legitimate part of the
    * design and is unchanged). */
  def wipeDerivedScratch(): Unit =
    for (sub <- Seq("phash_fp", "ann_index")) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) { val l = f.listFiles; if (l != null) l.foreach(rm) }
        f.delete(); ()
      }
      rm(new java.io.File(s"$scratchRoot/$sub"))
    }

  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** Load one testdata table with its memoized [[rawSchema]], so a load
    * launches no Spark job; every call still builds a fresh DataFrame in
    * the caller's session. events' ts is normalized to TIMESTAMP by
    * [[normalizeEventTs]]. */
  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.schema(rawSchema(spark, sfDir, name))
      .parquet(s"$sfDir/$name.parquet")
    if (name == "events") normalizeEventTs(df) else df
  }

  private val NanosAsLong = "spark.sql.legacy.parquet.nanosAsLong"
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[String, StructType]()

  /** The schema `spark.read.parquet` infers for a table, memoized per JVM
    * like [[rowCount]]: the testdata under an sfDir never changes, and
    * each inference is a Spark job. Only the StructType is shared, never
    * a DataFrame, so sessions stay independent.
    *
    * The memo key is the file path plus every session conf that changes
    * the inferred types. Today that is only
    * `spark.sql.legacy.parquet.nanosAsLong`: events.parquet stores ts as
    * INT64 TIMESTAMP(NANOS), which Spark's vectorized reader rejects
    * outright, so the conf is pinned here to read the nanos as plain
    * longs (normalizeEventTs then truncates them to microseconds — the
    * same ns→µs truncation DuckDB applies, so oracle comparisons line
    * up). It is pinned for every table, not just events: it only changes
    * INT64 TIMESTAMP(NANOS) columns, which no other table has, and a
    * value that does not depend on load order means each table is
    * inferred once. */
  private[graft] def rawSchema(spark: SparkSession, sfDir: String,
      name: String): StructType = {
    spark.conf.set(NanosAsLong, "true")
    val path = s"$sfDir/$name.parquet"
    schemas.computeIfAbsent(s"$path|$NanosAsLong=${spark.conf.get(NanosAsLong)}",
      _ => spark.read.parquet(path).schema)
  }

  /** Normalize the `ts` column to session-tz TIMESTAMP whatever the
    * parquet encoding. Two encodings have been observed from the driver's
    * generator: INT64 TIMESTAMP(NANOS) (read as plain longs via the
    * legacy conf [[rawSchema]] pins — integer DIV, a double division
    * would lose precision at 1e18-scale nanos) and TIMESTAMP(MICROS)
    * without isAdjustedToUTC, which Spark reads as TIMESTAMP_NTZ. Watermarks require TIMESTAMP
    * (EVENT_TIME_IS_NOT_ON_TIMESTAMP_TYPE on NTZ), so cast NTZ across;
    * the session tz is pinned UTC, so wall-clock values — and DuckDB
    * oracle comparisons — are unchanged. */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.timestamp_micros(
            org.apache.spark.sql.functions.expr("ts DIV 1000")))
      case TimestampNTZType =>
        df.withColumn("ts",
          org.apache.spark.sql.functions.col("ts").cast("timestamp"))
      case _ => df
    }
  }

  /** Register every table as a temp view (for spark.sql entry points —
    * the engine's equivalent of the reference's Thrift-Server surface,
    * reference: docker-compose.yml:70-88). */
  def registerViews(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => load(spark, sfDir, n).createOrReplaceTempView(n))

  /** Memoized row counts for the immutable driver testdata, keyed on the
    * resolved file path: range-slice sizing needs the table's cardinality
    * on EVERY build of the query, and the data under an sfDir never
    * changes, so pay the count job once per (dir, table) per JVM instead
    * of one extra driver action per invocation. */
  private val rowCounts =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  def rowCount(spark: SparkSession, sfDir: String, name: String): Long =
    rowCounts.computeIfAbsent(s"$sfDir/$name.parquet",
      _ => load(spark, sfDir, name).count())

  /** Parquet footer row count, read driver-side through the Hadoop FS
    * API — no Spark job, so queries can size LSH parameters at
    * plan-CONSTRUCTION time without executing anything (EXPLAIN and the
    * PlanShapeSpec audits stay job-free). Memoized like [[rowCount]];
    * the testdata under an sfDir never changes. */
  def footerRowCount(spark: SparkSession, path: String): Long =
    rowCounts.computeIfAbsent("footer:" + path, _ => {
      val conf = spark.sparkContext.hadoopConfiguration
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(conf)
      var n = 0L
      val it = fs.listFiles(p, true)
      while (it.hasNext) {
        val st = it.next()
        if (st.isFile && st.getPath.getName.endsWith(".parquet")) {
          val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
            org.apache.parquet.hadoop.util.HadoopInputFile
              .fromPath(st.getPath, conf))
          try n += rdr.getRecordCount finally rdr.close()
        }
      }
      n
    })

  /** BSP-loop lineage truncation with a fault-tolerance toggle.
    *
    * Default: `localCheckpoint()` — fast (executor block manager), the
    * right call in local mode and for short loops. Its cluster-scale
    * caveat: blocks are pinned to executors, so losing an executor
    * mid-iteration kills the job (the truncated lineage can't recompute).
    * Setting `-Dgraft.checkpoint.dir=/shared/fs/path` switches every BSP
    * loop to RELIABLE `checkpoint()` against that directory (HDFS/S3 on a
    * real cluster), which survives executor loss at the cost of a write
    * per superstep — the standard Pregel/GraphX trade. */
  def truncateLineage(df: DataFrame): DataFrame =
    sys.props.get("graft.checkpoint.dir") match {
      case Some(dir) =>
        val sc = df.sparkSession.sparkContext
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        df.checkpoint()
      case None => df.localCheckpoint()
    }

  /** `.truncated` chains where `.localCheckpoint()` used to. */
  implicit class LineageOps(private val df: DataFrame) extends AnyVal {
    def truncated: DataFrame = truncateLineage(df)
  }

  /** Run `body` (a BSP loop whose rounds execute eagerly inside) with
    * the session shuffle width pinned to `width`, restoring prior
    * values afterwards. Pins BOTH `spark.sql.shuffle.partitions` AND
    * AQE's `coalescePartitions.initialPartitionNum`: whenever the
    * latter is configured session-wide (the scale-stress harness does
    * exactly that), AQE takes ITS value as the pre-coalesce width and
    * silently ignores shuffle.partitions — so a loop that pinned only
    * shuffle.partitions ran at the harness's 256, not the measured
    * edges/1M it computed. */
  def withLoopWidth[T](s: SparkSession, width: Long)(body: => T): T = {
    val initKey = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    val prevInit = s.conf.getOption(initKey)
    s.conf.set("spark.sql.shuffle.partitions", width.toString)
    s.conf.set(initKey, width.toString)
    try body
    finally {
      s.conf.set("spark.sql.shuffle.partitions", prevParts)
      prevInit match {
        case Some(v) => s.conf.set(initKey, v)
        case None => s.conf.unset(initKey)
      }
    }
  }
}
