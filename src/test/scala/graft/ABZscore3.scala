package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Quiet-box 3-way A/B for the round-10 `ts_zscore_outliers` perf flag
  * (VERDICT r10 "What's wrong #1"): both independent round-10 runs read
  * the query 1.34-1.50x slower than round 9, and the suspect is commit
  * 4b53a7b's zero-variance guard — `min(cents) OVER tw < max(cents)
  * OVER tw`, i.e. two extra O(frame) window aggregates over the 100-row
  * sliding frame (Spark recomputes sliding-frame aggregates from
  * scratch per row, so each extra agg is ~100 ops/row).
  *
  * Variants, all sharing the same ranged/carry skeleton:
  *   - r9:  count + 2 BIGINT window sums, float guard
  *          `(cnt*ss - s*s) > 0` in DOUBLE (round-9 body; has the
  *          documented all-identical-frame hole past 2^53).
  *   - r10: r9 + min/max spread guard (round-10 body; correct, slow).
  *   - fix: r9's exact window-agg set (count + 2 BIGINT sums — no
  *          min/max), with the guard moved to per-row SCALAR decimal
  *          arithmetic on those sums: num = cnt·ss − s² computed in
  *          DECIMAL (exact; zero iff the frame is constant, by the
  *          Cauchy–Schwarz equality condition), guarding AND feeding
  *          the division via CAST(num AS DOUBLE). One exact conjunct,
  *          zero extra window aggregates.
  *
  * Run: `sbt "Test/runMain graft.ABZscore3 /root/testdata/sf0.1 4"`.
  */
object ABZscore3 {

  private def sliceParts(s: SparkSession, n: Long, minRows: Int): Int = {
    val shuffle = s.conf.get("spark.sql.shuffle.partitions").toInt
    math.max(1, math.min(shuffle, (n / minRows).toInt))
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

  private def withCarry(ranged: DataFrame, parts: Int): DataFrame = {
    val tail = Window.partitionBy("__pid", "event_type")
      .orderBy(col("ts").desc, col("event_id").desc)
    val carry = ranged
      .withColumn("__rn", row_number().over(tail))
      .filter(col("__rn") <= 100 && col("__pid") < parts - 1)
      .drop("__rn")
      .withColumn("__pid", col("__pid") + 1)
      .withColumn("__carry", lit(true))
    ranged.withColumn("__carry", lit(false)).unionByName(carry)
  }

  private def tw = Window.partitionBy("__pid", "event_type")
    .orderBy(col("ts"), col("event_id"))
    .rowsBetween(-100, -1)

  private def finish(z: DataFrame): DataFrame =
    z.select(col("event_id"), round(col("z"), 4).as("zscore"),
        when(col("z").isNull, lit(null).cast("boolean"))
          .otherwise(abs(col("z")) > 3.0).as("is_outlier"))
      .orderBy("event_id")

  /** round-9 body: 3 window aggs, float-only guard. */
  def r9(r: DataFrame, parts: Int): DataFrame = finish(
    withCarry(r, parts)
      .select(col("event_id"), col("cents"), col("__carry"),
        count(col("cents")).over(tw).cast("double").as("cnt"),
        sum(col("cents")).over(tw).cast("double").as("s"),
        sum(col("cents") * col("cents")).over(tw).cast("double")
          .as("ss"))
      .filter(!col("__carry"))
      .withColumn("z",
        when(col("cnt") >= 20 &&
            (col("cnt") * col("ss") - col("s") * col("s")) > 0,
          (col("cents") - col("s") / col("cnt")) /
            sqrt((col("cnt") * col("ss") - col("s") * col("s")) /
              (col("cnt") * (col("cnt") - 1.0))))))

  /** round-10 body: 5 window aggs (adds min/max spread guard). */
  def r10(r: DataFrame, parts: Int): DataFrame = finish(
    withCarry(r, parts)
      .select(col("event_id"), col("cents"), col("__carry"),
        count(col("cents")).over(tw).cast("double").as("cnt"),
        sum(col("cents")).over(tw).cast("double").as("s"),
        sum(col("cents") * col("cents")).over(tw).cast("double")
          .as("ss"),
        (min(col("cents")).over(tw) < max(col("cents")).over(tw))
          .as("spread"))
      .filter(!col("__carry"))
      .withColumn("z",
        when(col("cnt") >= 20 && col("spread") &&
            (col("cnt") * col("ss") - col("s") * col("s")) > 0,
          (col("cents") - col("s") / col("cnt")) /
            sqrt((col("cnt") * col("ss") - col("s") * col("s")) /
              (col("cnt") * (col("cnt") - 1.0))))))

  /** candidate fix: 3 window aggs, exact scalar DECIMAL guard. */
  def fix(r: DataFrame, parts: Int): DataFrame = {
    val num: Column =
      col("cnt").cast("decimal(3,0)") * col("ss").cast("decimal(19,0)") -
        col("s").cast("decimal(18,0)") * col("s").cast("decimal(18,0)")
    finish(
      withCarry(r, parts)
        .select(col("event_id"), col("cents"), col("__carry"),
          count(col("cents")).over(tw).as("cnt"),
          sum(col("cents")).over(tw).as("s"),
          sum(col("cents") * col("cents")).over(tw).as("ss"))
        .filter(!col("__carry"))
        .withColumn("num", num)
        .withColumn("z",
          when(col("cnt") >= 20 && col("num") > 0,
            (col("cents") -
              col("s").cast("double") / col("cnt").cast("double")) /
              sqrt(col("num").cast("double") /
                (col("cnt").cast("double") *
                  (col("cnt").cast("double") - 1.0))))))
  }

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).map(_.toInt).getOrElse(4)
    val spark = GraftSession.local(
      extra = Map("spark.sql.ansi.enabled" -> "true"))
    spark.sparkContext.setLogLevel("WARN")
    val parts = sliceParts(spark,
      Tables.load(spark, dir, "events").count(), minRows = 300)

    // noop sink, full body inside the timing (ranged build + persist +
    // the carry-guard collect + windows + global sort) — count() would
    // let Catalyst prune the unused window columns and measure nothing
    // (Bench.scala's documented pitfall, rediscovered here the hard way)
    def run(name: String, f: (DataFrame, Int) => DataFrame): Double = {
      val t0 = System.nanoTime()
      val r = ranged(spark, dir, parts)
      val sizes = r.groupBy("__pid", "event_type").count().collect()
      require(sizes.nonEmpty)
      f(r, parts).write.mode("overwrite").format("noop").save()
      val dt = (System.nanoTime() - t0) / 1e9
      r.unpersist(blocking = true)
      println(f"[ab3] $name%-8s $dt%.3f s")
      dt
    }
    // sanity: the three variants agree row-for-row on this data
    val r0 = ranged(spark, dir, parts)
    val a9 = r9(r0, parts); val a10 = r10(r0, parts)
    val af = fix(r0, parts)
    require(a9.exceptAll(a10).isEmpty && a10.exceptAll(a9).isEmpty,
      "r9 vs r10 outputs differ")
    require(a10.exceptAll(af).isEmpty && af.exceptAll(a10).isEmpty,
      "r10 vs fix outputs differ")
    r0.unpersist(blocking = true)
    println("[ab3] outputs identical across all three variants")

    run("warm-r9", r9); run("warm-r10", r10); run("warm-fix", fix)
    val (a, b, c) = (Array.ofDim[Double](reps),
      Array.ofDim[Double](reps), Array.ofDim[Double](reps))
    for (i <- 0 until reps) {
      a(i) = run("r9", r9); b(i) = run("r10", r10); c(i) = run("fix", fix)
    }
    def fmt(x: Array[Double]) = x.map(v => f"$v%.3f").mkString(",")
    println(s"[ab3] r9=[${fmt(a)}] r10=[${fmt(b)}] fix=[${fmt(c)}]")
    println(f"[ab3] min r9=${a.min}%.3f r10=${b.min}%.3f " +
      f"fix=${c.min}%.3f  r10/r9=${b.min / a.min}%.3f " +
      f"fix/r9=${c.min / a.min}%.3f")
    spark.stop()
  }
}
