package graft

import scala.util.Random
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.execution.{CoalesceExec, InputAdapter, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec

/** The dag_serve BI templates, in-process, for the specs that pin their
  * compiles and plans; `catalog_ledger` reads stand-in views with the
  * ledger's columns. */
object BiTemplates extends AdaptiveSparkPlanHelper {
  /** name -> statement text for a seeded parameter draw. */
  val templates: Seq[(String, Random => String)] = Seq(
    "revenue_by_region" -> { r =>
      val y = 1995 + r.nextInt(4); val m = 1 + r.nextInt(10)
      f"""SELECT r_name, date_format(l_shipdate, 'yyyy-MM') AS ship_month,
         |  sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS revenue_cents,
         |  count(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE l_shipdate >= TIMESTAMP '$y-$m%02d-01'
         |  AND l_shipdate < TIMESTAMP '$y-$m%02d-01' + INTERVAL 3 MONTHS
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    "segment_topk" -> { r =>
      val y = 1995 + r.nextInt(4); val k = 3 + r.nextInt(8)
      s"""WITH cs AS (
         |  SELECT c_mktsegment, c_custkey,
         |         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS spend_cents
         |  FROM customer JOIN orders ON c_custkey = o_custkey
         |  WHERE o_orderdate >= TIMESTAMP '$y-01-01' AND o_orderdate < TIMESTAMP '${y + 1}-01-01'
         |  GROUP BY 1, 2)
         |SELECT c_mktsegment, c_custkey, spend_cents, CAST(rnk AS BIGINT) AS rnk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY c_mktsegment
         |    ORDER BY spend_cents DESC, c_custkey) AS rnk FROM cs)
         |WHERE rnk <= $k ORDER BY 1, 4""".stripMargin
    },
    "point_lookup" -> { r =>
      s"""SELECT o_orderkey, o_custkey, o_orderstatus,
         |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         |  date_format(o_orderdate, 'yyyy-MM-dd') AS order_date
         |FROM orders WHERE o_orderkey = ${r.nextInt(1500)}""".stripMargin
    },
    "lineitem_range_agg" -> { r =>
      val day = java.time.LocalDate.of(1995, 1, 2).plusDays(r.nextInt(1400))
      val days = 30 + r.nextInt(61)
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
         |  sum(CAST(l_quantity AS BIGINT)) AS qty,
         |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '$day' AND l_shipdate < TIMESTAMP '$day' + INTERVAL $days DAYS
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    "catalog_ledger" -> { r =>
      s"""SELECT rg.r_name, n.n_name, u.run_id, m.metric,
         |  CAST(round(m.value * 1000000) AS BIGINT) AS micro
         |FROM nation n
         |JOIN region rg ON n.n_regionkey = rg.r_regionkey
         |CROSS JOIN pl_runs u
         |JOIN pl_metrics m ON m.run_id = u.run_id
         |WHERE n.n_nationkey = ${r.nextInt(25)}
         |ORDER BY 3, 4""".stripMargin
    })

  def apply(name: String): Random => String = templates.toMap.apply(name)

  /** The sf tables plus the `pl_runs` / `pl_metrics` stand-ins. */
  def registerViews(spark: SparkSession, sfDir: String): Unit = {
    Tables.registerViews(spark, sfDir)
    spark.range(3).selectExpr("concat('run', id) AS run_id")
      .createOrReplaceTempView("pl_runs")
    spark.range(6).selectExpr("concat('run', id % 3) AS run_id",
        "concat('m', id) AS metric", "id / 7.0D AS value")
      .createOrReplaceTempView("pl_metrics")
  }

  /** Range exchanges in a plan, through adaptive stages. */
  def rangeExchanges(plan: SparkPlan): Seq[ShuffleExchangeExec] = collect(plan) {
    case e @ ShuffleExchangeExec(_: RangePartitioning, _, _, _) => e
  }

  /** After `df` ran: its final adaptive plan sorts globally over a
    * `Coalesce 1` and plans no range exchange ([[graft.plans.SmallGlobalSort]]). */
  def sortsInOnePartition(df: DataFrame): Boolean = {
    val plan = df.queryExecution.executedPlan
    rangeExchanges(plan).isEmpty && collect(plan) {
      // a codegen'd sort reads the (non-codegen) coalesce through an adapter
      case SortExec(_, true, CoalesceExec(1, _) | InputAdapter(CoalesceExec(1, _)), _) => ()
    }.nonEmpty
  }
}
