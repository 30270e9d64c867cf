package graft.operators

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** EXPERIMENT-TRACKING SINK — the engine-side analog of the reference's
  * MLflow logging step (reference: airflow/dags/realestate_pipeline.py:
  * 197,232-235 — mlflow.log_param / log_metric / log_model around the
  * RandomForest train). Instead of an external tracking server, runs are
  * lakehouse-native append-only parquet tables under the warehouse,
  * queryable by every surface the engine already has (DataFrame API, SQL
  * views, graft.Serve JDBC):
  *
  *   <root>/runs      (run_id, algo)
  *   <root>/params    (run_id, param, value)   — strings, MLflow-style
  *   <root>/metrics   (run_id, metric, value)  — doubles
  *
  * Scale stance: a logged metrics set is MODEL-sized (the one-row fit
  * summaries the Learn family produces), never data-sized. So logging
  * collects that row to the driver and appends local rows — one write
  * job per table, whose cost is independent of the training corpus —
  * and every read is a plain parquet scan under the schemas declared
  * here, with no inference job. A production
  * deployment partitions runs/ by date and compacts small files
  * (compact_small_files is the operator for exactly that); the schema
  * does not change.
  */
object RunStore {

  /** Drop the whole store (deterministic replay for oracled queries). */
  def reset(s: SparkSession, root: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(root)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.delete(p, true)
    ()
  }

  /** The three ledger tables' schemas, declared once: writers build
    * their rows against them and every reader skips schema inference.
    * All fields nullable, as a parquet read reports them. */
  val schemas: Map[String, StructType] = Map(
    "runs" -> "run_id STRING, algo STRING",
    "params" -> "run_id STRING, param STRING, value STRING",
    "metrics" -> "run_id STRING, metric STRING, value DOUBLE")
    .map { case (t, ddl) => t -> StructType.fromDDL(ddl) }

  /** One ledger table, read under its declared schema (no job). */
  def read(s: SparkSession, root: String, table: String): DataFrame =
    s.read.schema(schemas(table)).parquet(s"$root/$table")

  /** Append one run: identity + string params + the metrics row. */
  def log(s: SparkSession, root: String, runId: String, algo: String,
      params: Seq[(String, String)], metricsRow: DataFrame): Unit =
    logAll(s, root, Seq((runId, algo, params, metricsRow)))

  /** Append runs, one commit per ledger table: a write costs one job
    * of commit-protocol latency, not data, so logging k runs pays 3
    * jobs instead of 3·k. Each metrics frame is model-sized (a one-row
    * fit summary): its columns, cast to double in Spark, are collected
    * and unpivoted into (metric, value) rows on the driver, and all
    * three tables are written from local rows, coalesced to one
    * partition so each append adds one file per table (a local relation
    * otherwise splits into up to defaultParallelism files, all of which
    * every ledger read then lists and opens). The tables are unordered
    * append-only sets and every row carries its run_id. */
  def logAll(s: SparkSession, root: String,
      runs: Seq[(String, String, Seq[(String, String)], DataFrame)]): Unit = {
    def append(table: String, rows: Seq[Row]): Unit =
      s.createDataFrame(rows.asJava, schemas(table)).coalesce(1)
        .write.mode("append").parquet(s"$root/$table")
    append("runs", runs.map { case (runId, algo, _, _) => Row(runId, algo) })
    append("params", runs.flatMap { case (runId, _, params, _) =>
      params.map { case (k, v) => Row(runId, k, v) }
    })
    append("metrics", runs.flatMap { case (runId, _, _, m) =>
      m.select(m.columns.toSeq.map(c => col(c).cast("double")): _*)
        .collect().toSeq.flatMap(r =>
          m.columns.toSeq.zip(r.toSeq).map { case (c, v) => Row(runId, c, v) })
    })
    // the Serve catalog tables (registerViews) cache their resolved
    // file listing in the session's tableRelationCache, so a long-lived
    // JDBC/BI session could miss runs appended after it first queried —
    // refresh the ledger tables whenever they are registered.
    Seq("ml_runs", "ml_params", "ml_metrics")
      .filter(s.catalog.tableExists)
      .foreach(t => s.sql(s"REFRESH TABLE $t"))
  }

  /** The queryable run ledger: runs ⋈ metrics, plus the per-run param
    * count. runs and the param counts are model-sized, so both are
    * broadcast into the join. */
  def snapshot(s: SparkSession, root: String): DataFrame = {
    val nParams = read(s, root, "params")
      .groupBy("run_id").agg(count(lit(1)).as("n_params"))
    broadcast(read(s, root, "runs")).join(read(s, root, "metrics"), "run_id")
      .join(broadcast(nParams), Seq("run_id"), "left")
      .select(col("run_id"), col("algo"),
        coalesce(col("n_params"), lit(0L)).as("n_params"),
        col("metric"), round(col("value"), 6).as("value"))
  }

  /** Expose the store to SQL/JDBC clients (graft.Serve calls this when
    * the store exists, making runs BI-queryable like any other table).
    * Registered as CATALOG-level external parquet tables, not temp
    * views: temp views are session state, and in HiveServer2
    * multi-session mode (the default; each JDBC connection owns its
    * session) a fresh BI connection would not see them — ServeSpec's
    * parallel-session case pins exactly this. Dropping an external
    * table never deletes the ledger files. */
  def registerViews(s: SparkSession, root: String): Unit =
    Seq("runs" -> "ml_runs", "params" -> "ml_params",
      "metrics" -> "ml_metrics").foreach { case (d, v) =>
      s.catalog.dropTempView(v) // a stale temp view would shadow
      s.sql(s"DROP TABLE IF EXISTS $v")
      s.sql(s"CREATE TABLE $v (${schemas(d).toDDL}) " +
        s"USING parquet LOCATION '$root/$d'")
    }

  /** Default store location for a given data dir. */
  def defaultRoot(dir: String): String =
    s"${graft.Tables.scratchRoot}/mlruns/${new java.io.File(dir).getName}"
}
