package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Quiet-box A/B harness for the ts_zscore_outliers round-7 perf flag:
  * times the round-6 body (whole-slice ≥100 guard, direct base.count())
  * against the round-7 body (per-(slice,type) interior guard, memoized
  * rowCount) in ONE session, alternating runs. Run via
  * `sbt "Test/runMain graft.ABZscore /root/testdata/sf0.1 3"`.
  */
object ABZscore {

  private def sliceParts(s: SparkSession, n: Long, minRows: Int): Int = {
    val shuffle = s.conf.get("spark.sql.shuffle.partitions").toInt
    math.max(1, math.min(shuffle, (n / minRows).toInt))
  }

  /** Shared tail of both variants: carry + windowed z-score. */
  private def scoreFrom(ranged: DataFrame, parts: Int): DataFrame = {
    val tail = Window.partitionBy("__pid", "event_type")
      .orderBy(col("ts").desc, col("event_id").desc)
    val carry = ranged
      .withColumn("__rn", row_number().over(tail))
      .filter(col("__rn") <= 100 && col("__pid") < parts - 1)
      .drop("__rn")
      .withColumn("__pid", col("__pid") + 1)
      .withColumn("__carry", lit(true))
    val tw = Window.partitionBy("__pid", "event_type")
      .orderBy(col("ts"), col("event_id"))
      .rowsBetween(-100, -1)
    ranged.withColumn("__carry", lit(false))
      .unionByName(carry)
      .select(col("event_id"), col("cents"), col("__carry"),
        count(col("cents")).over(tw).cast("double").as("cnt"),
        sum(col("cents")).over(tw).cast("double").as("s"),
        sum(col("cents") * col("cents")).over(tw).cast("double").as("ss"))
      .filter(!col("__carry"))
      .withColumn("z",
        when(col("cnt") >= 20,
          (col("cents") - col("s") / col("cnt")) /
            sqrt((col("cnt") * col("ss") - col("s") * col("s")) /
              (col("cnt") * (col("cnt") - 1.0)))))
      .select(col("event_id"), round(col("z"), 4).as("zscore"),
        when(col("z").isNull, lit(null).cast("boolean"))
          .otherwise(abs(col("z")) > 3.0).as("is_outlier"))
      .orderBy("event_id")
  }

  private def ranged(s: SparkSession, dir: String, parts: Int)
      : DataFrame = {
    val keys = Seq(col("event_type"), col("ts"), col("event_id"))
    Tables.load(s, dir, "events")
      .select(col("event_id"), col("event_type"), col("ts"),
        round(col("value") * 100).cast("long").as("cents"))
      .repartitionByRange(parts, keys: _*)
      .sortWithinPartitions(keys: _*)
      .withColumn("__pid", spark_partition_id())
      .persist()
  }

  /** round-6 body: direct count, whole-slice guard. */
  def r6(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.load(s, dir, "events")
    val parts = sliceParts(s, base.count(), minRows = 300)
    val r = ranged(s, dir, parts)
    val sizes = r.groupBy("__pid").count().collect()
    require(parts == 1 || sizes.forall(_.getLong(1) >= 100))
    scoreFrom(r, parts)
  }

  /** round-7 body: memoized count, per-(slice,type) interior guard. */
  def r7(s: SparkSession, dir: String): DataFrame = {
    val parts = sliceParts(s, Tables.rowCount(s, dir, "events"),
      minRows = 300)
    val r = ranged(s, dir, parts)
    val sizes = r.groupBy("__pid", "event_type").count().collect()
    if (parts > 1) sizes.groupBy(_.getString(1)).foreach {
      case (_, rows) =>
        val span = rows.map(x => (x.getInt(0), x.getLong(2))).sortBy(_._1)
        require(span.drop(1).dropRight(1).forall(_._2 >= 100))
    }
    scoreFrom(r, parts)
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    def time(name: String, f: => DataFrame): Double = {
      val t0 = System.nanoTime()
      val n = f.count()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      println(f"[ab] $name%-4s $dt%.3f s  ($n rows)")
      dt
    }
    // warm-up both once (JIT, file listing), then alternate timed reps
    time("warm-r6", r6(spark, dir)); time("warm-r7", r7(spark, dir))
    val (a, b) = (Array.ofDim[Double](reps), Array.ofDim[Double](reps))
    for (i <- 0 until reps) {
      a(i) = time("r6", r6(spark, dir))
      b(i) = time("r7", r7(spark, dir))
    }
    println(f"[ab] r6 min=${a.min}%.3f  r7 min=${b.min}%.3f  " +
      f"ratio=${b.min / a.min}%.3f")
    spark.stop()
  }
}
