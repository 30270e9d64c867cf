package graft

import scala.util.Random
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, REPARTITION_BY_NUM}

/** [[graft.plans.SmallGlobalSort]]: a global sort over small materialized
  * stages runs in one partition, without the range exchange's sampling
  * job and map stage, and returns the range-exchange plan's rows in the
  * same order. */
class SmallGlobalSortSpec extends SparkSpec {
  import BiTemplates.rangeExchanges

  override def beforeAll(): Unit = {
    super.beforeAll()
    BiTemplates.registerViews(spark, sf)
  }

  private def withConf[T](key: String, value: String)(body: => T): T = {
    spark.conf.set(key, value)
    try body finally spark.conf.unset(key)
  }

  /** The same statement's rows in order, without adaptive execution,
    * which keeps the range exchange the rule replaces. */
  private def nonAdaptiveRows(sql: String) =
    withConf("spark.sql.adaptive.enabled", "false") {
      val df = spark.sql(sql)
      assert(rangeExchanges(df.queryExecution.executedPlan).nonEmpty)
      df.collect().toSeq
    }

  test("small BI sorts plan Coalesce 1 for the range exchange, with fewer jobs") {
    val r = new Random(11)
    // sf0.001: the aggregate's map job and the result job; the join
    // shape adds its four broadcast builds
    val jobsPinned = Seq[(String, Int => Boolean)](
      "lineitem_range_agg" -> (_ == 2), "revenue_by_region" -> (_ <= 6))
    for ((name, jobsOk) <- jobsPinned; _ <- 1 to 3) {
      val sql = BiTemplates(name)(r)
      val df = spark.sql(sql)
      val jobs = jobsDuring(df.collect())
      assert(jobsOk(jobs), s"$name: $jobs jobs")
      assert(BiTemplates.sortsInOnePartition(df),
        s"$name:\n${df.queryExecution.executedPlan}")
      val rows = df.collect().toSeq
      assert(rows.nonEmpty, sql)
      assert(rows == nonAdaptiveRows(sql), sql)
    }
  }

  test("a gate below the input size keeps the range exchange") {
    val sql = BiTemplates("lineitem_range_agg")(new Random(3))
    withConf("spark.sql.adaptive.coalescePartitions.minPartitionSize", "1b") {
      val df = spark.sql(sql)
      val jobs = jobsDuring(df.collect())
      val plan = df.queryExecution.executedPlan
      assert(!BiTemplates.sortsInOnePartition(df), plan)
      assert(rangeExchanges(plan).map(_.shuffleOrigin) == Seq(ENSURE_REQUIREMENTS), plan)
      // the range exchange's sampling job and map stage are back
      assert(jobs == 4, s"$jobs jobs")
      assert(df.collect().toSeq == nonAdaptiveRows(sql), sql)
    }
  }

  test("repartitionByRange keeps its exchange under a small sort") {
    val orders = Tables.load(spark, sf, "orders")
    val df = orders.select("o_orderkey", "o_custkey")
      .repartitionByRange(4, col("o_orderkey"))
      .orderBy(col("o_custkey"), col("o_orderkey"))
    val rows = df.collect().toSeq
    val origins = rangeExchanges(df.queryExecution.executedPlan).map(_.shuffleOrigin)
    assert(origins.contains(REPARTITION_BY_NUM), df.queryExecution.executedPlan)
    assert(rows == rows.sortBy(r => (r.getLong(1), r.getLong(0))))
  }
}
