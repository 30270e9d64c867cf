package graft.plans

import org.apache.spark.sql.catalyst.plans.physical.RangePartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{CoalesceExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.QueryStageExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** Sorts a small global `ORDER BY` in one partition instead of behind a
  * range exchange.
  *
  * `EnsureRequirements` plans every global sort over a
  * `RangePartitioning` exchange. Preparing that exchange runs a job that
  * samples its input for the partition bounds, and the exchange adds a
  * shuffle-map stage. When the input is small, that buys nothing: below
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` (1 MB by
  * default) AQE's `CoalesceShufflePartitions` reads the whole range
  * shuffle as one partition, so the sort runs as one task anyway. This
  * rule gives the sort that one partition directly, with a
  * `CoalesceExec(1)`, and the sampling job and the map stage go away.
  *
  * It fires on a `SortExec(global = true)` directly over an
  * `ENSURE_REQUIREMENTS` range exchange of more than one partition, when
  * every leaf under the exchange is a materialized query stage and the
  * stages' runtime sizes sum to at most that minimum partition size. The
  * one sort task reads the child's partitions in the order the coalesced
  * range partition would have read the map outputs, so the rows and their
  * order, ties included, are the range-exchange plan's.
  *
  * What it leaves alone:
  *   - exchanges a user asked for (`repartitionByRange`, `repartition`),
  *     whose origin is not `ENSURE_REQUIREMENTS`;
  *   - a sort whose input still reads a file or an unmaterialized stage:
  *     its size is not known yet;
  *   - plans without adaptive execution, streams included: the rule is
  *     a query-stage preparation rule, so only AQE runs it, after
  *     `EnsureRequirements` on each re-plan. The pre-adaptive
  *     `sparkPlan`, which the plan-smell gate audits, never sees it.
  *
  * The final adaptive plan of such a sort shows `Coalesce 1` where the
  * range exchange was, and a `df.orderBy(...).write` of a small result
  * writes one file.
  */
private[graft] object SmallGlobalSort extends Rule[SparkPlan] {
  def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case s @ SortExec(_, true, ShuffleExchangeExec(
        RangePartitioning(_, n), child, ENSURE_REQUIREMENTS, _), _)
        if n > 1 && small(child) =>
      s.withNewChildren(Seq(CoalesceExec(1, child)))
  }

  /** Every leaf is a materialized stage, and their sizes sum to at most
    * the size below which AQE coalesces a shuffle into one partition. */
  private def small(child: SparkPlan): Boolean = {
    val sizes = child.collectLeaves().map {
      case q: QueryStageExec if q.isMaterialized =>
        Some(q.getRuntimeStatistics.sizeInBytes)
      case _ => None
    }
    sizes.forall(_.isDefined) &&
      sizes.flatten.sum <= conf.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE)
  }
}
