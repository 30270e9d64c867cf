package graft

import org.apache.spark.sql.functions._

/** Error-bound pin for the KLL quantile sketch aggregate: every reported
  * quantile must fall between the EXACT quantiles at rank ± 3% (k=200 →
  * ~1.65% two-sided normalized rank error at 99% confidence; 3% gives
  * slack without letting a broken merge path slip through). Also pins
  * that the sketch survives the partial/merge path by forcing a
  * multi-partition aggregation.
  */
class KllQuantilesSpec extends SparkSpec {

  test("kll quantiles bracket the exact quantiles at rank +/- 3%") {
    val res = SparkEntry.queries("agg_kll_quantiles")(spark, sf).collect()
    assert(res.nonEmpty)
    val ranks = Seq(0.5, 0.9, 0.99)
    for (row <- res) {
      val status = row.getString(0)
      // the query emits scalar p50/p90/p99 columns (driver-comparator
      // friendly), not an array — read them positionally
      val got = Seq(row.getDouble(1), row.getDouble(2), row.getDouble(3))
      assert(got.length == ranks.length)
      val exact = Tables.load(spark, sf, "orders")
        .filter(col("o_orderstatus") === status)
        .select(col("o_totalprice").cast("double")).as[Double](
          org.apache.spark.sql.Encoders.scalaDouble)
        .collect().sorted
      for ((r, q) <- ranks.zip(got)) {
        def exactAt(rr: Double): Double =
          exact(math.min(exact.length - 1,
            math.max(0, math.ceil(rr * exact.length).toInt - 1)))
        val (lo, hi) = (exactAt(r - 0.03), exactAt(r + 0.03))
        assert(q >= lo && q <= hi,
          s"$status p$r=$q outside exact bracket [$lo, $hi]")
      }
    }
  }

  test("sketch merges across a forced repartition without drift") {
    val base = Tables.load(spark, sf, "orders")
      .select(col("o_totalprice").cast("double").as("x"))
    def q(df: org.apache.spark.sql.DataFrame): Seq[Double] =
      df.agg(expr("kll_quantiles(x)")).head().getSeq[Double](0)
    val one = q(base.coalesce(1))
    val many = q(base.repartition(32))
    // same data through 1 vs 32 partial buffers: both must satisfy the
    // rank-error contract; with k=200 and n in the low tens of thousands
    // the two runs stay within the same 3%-rank bracket
    val exact = base.collect().map(_.getDouble(0)).sorted
    def exactAt(rr: Double): Double =
      exact(math.min(exact.length - 1,
        math.max(0, math.ceil(rr * exact.length).toInt - 1)))
    for ((r, i) <- Seq(0.5, 0.9, 0.99).zipWithIndex) {
      val (lo, hi) = (exactAt(r - 0.03), exactAt(r + 0.03))
      assert(one(i) >= lo && one(i) <= hi, s"single-buffer p$r drifted")
      assert(many(i) >= lo && many(i) <= hi, s"merged p$r drifted")
    }
  }
}
