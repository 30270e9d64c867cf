package graft

import org.apache.spark.sql.functions._

/** The Misra-Gries sketch: exact regime (capacity >= vocabulary) equals a
  * plain groupBy count; lossy regime keeps the MG guarantee — every term
  * with true frequency > N/(capacity+1) survives, reported counts are
  * lower bounds; partitioning must not change the exact-regime result
  * (merge correctness).
  */
class HeavyHittersSpec extends SparkSpec {

  private def sketch(df: org.apache.spark.sql.DataFrame, cap: Int) = {
    df.agg(call_function("misra_gries", col("term"), lit(cap)).as("sk"))
      .select(explode(col("sk")).as("hh"))
      .select(col("hh.term"), col("hh.min_count"))
  }

  test("exact regime matches groupBy count and survives repartitioning") {
    import spark.implicits._
    val terms = Seq.tabulate(1000)(i => s"t${i % 17}").toDF("term")
    val exact = terms.groupBy("term").agg(count(lit(1)).as("min_count"))
    for (parts <- Seq(1, 7)) {
      val got = sketch(terms.repartition(parts), cap = 32)
      assert(got.except(exact).count() == 0 && exact.except(got).count() == 0,
        s"exact-regime sketch diverged at $parts partitions")
    }
  }

  test("lossy regime keeps every true heavy hitter with lower-bound counts") {
    import spark.implicits._
    // skewed stream: "hot" 500, "warm" 300, 40 distinct cold singletons ×5
    val data = Seq.fill(500)("hot") ++ Seq.fill(300)("warm") ++
      (0 until 40).flatMap(i => Seq.fill(5)(s"cold$i"))
    val n = data.size
    val cap = 8
    val rows = sketch(data.toDF("term").repartition(5), cap).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows.size <= cap)
    // MG guarantee: freq > N/(cap+1) => present (hot and warm qualify)
    for (t <- Seq("hot", "warm")) {
      assert(rows.contains(t), s"true heavy hitter $t evicted")
      val truth = if (t == "hot") 500L else 300L
      assert(rows(t) <= truth, s"$t count ${rows(t)} above truth $truth")
      // undercount bounded by total decrements <= N/(cap+1) per buffer,
      // summed over the 5 partial buffers + final merge
      assert(rows(t) >= truth - 6L * n / (cap + 1),
        s"$t lower bound ${rows(t)} too far below $truth")
    }
  }
}
