package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Ingestion helpers mirroring the reference DAG's reader semantics
  * (S8, realestate_pipeline.py:127-138): try multiLine JSON first, fall
  * back to header CSV when the JSON parse yields nothing usable.
  */
object Ingest {

  /** The reference's try/except reader: `read.option("multiLine").json`,
    * and on failure `read.option("header").csv`. Spark's JSON reader
    * doesn't throw on malformed input — it yields `_corrupt_record` — so
    * "failure" here means: no parseable columns beyond the corrupt-record
    * column (the engine-native restatement of the reference's except path).
    */
  def readJsonWithCsvFallback(spark: SparkSession, path: String): DataFrame = {
    val json =
      try {
        val df = spark.read.option("multiLine", "true").json(path)
        val realCols = df.columns.filterNot(_ == "_corrupt_record")
        if (realCols.isEmpty) None
        else Some(df.select(realCols.toIndexedSeq.map(df(_)): _*))
      } catch { case _: Throwable => None }
    json.getOrElse(
      spark.read.option("header", "true").csv(path))
  }
}
