package graft

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Expression, Pmod}
import org.apache.spark.sql.execution.{GlobalLimitExec, LocalLimitExec,
  LocalTableScanExec, SparkPlan, TakeOrderedAndProjectExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec,
  CartesianProductExec}
import org.apache.spark.sql.execution.window.WindowExec

/** The suite's one walk over every registered query. Each query is built
  * once; the facts every whole-registry check asserts on are taken from
  * the plan the plan-smell gate audits ([[PlanSmells.overAuditRoots]]:
  * the pre-adaptive plan plus every cached plan under it, which do not
  * depend on AQE), then the same DataFrame runs `limit(1).count()` and
  * the cache is cleared. The result is memoized per JVM, so every suite
  * in the forked test JVM shares one sweep.
  */
object RegistrySweep {

  /** What the checks need to know of one query. */
  final case class Facts(
      smells: PlanSmells.Smells, // `error` set if it fails to build or plan
      unboundedWindows: Int, // unpartitioned windows over unbounded input
      cartesian: Boolean, // a CartesianProductExec anywhere
      nestedLoop: Boolean, // a BroadcastNestedLoopJoinExec anywhere
      runError: Option[String]) // why building or `limit(1).count()` failed

  private val memo = mutable.Map[String, Seq[(String, Facts)]]()

  /** Facts of every registered query over `sf`, alphabetical by name. */
  def facts(spark: SparkSession, sf: String): Seq[(String, Facts)] =
    synchronized { memo.getOrElseUpdate(sf, sweep(spark, sf)) }

  private def sweep(spark: SparkSession, sf: String): Seq[(String, Facts)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val facts =
        try {
          val df = fn(spark, sf)
          val planned =
            try PlanSmells.overAuditRoots(df.queryExecution)(factsOf)
            catch { case e: Throwable => unplanned(e, None) }
          planned.copy(runError =
            try { df.limit(1).count(); None }
            catch { case e: Throwable => Some(e.getMessage) })
        } catch { case e: Throwable => unplanned(e, Some(e.getMessage)) }
      spark.catalog.clearCache()
      name -> facts
    }

  private def unplanned(e: Throwable, runError: Option[String]): Facts =
    Facts(PlanSmells.failed(e), 0, false, false, runError)

  private def factsOf(roots: Seq[SparkPlan]): Facts = {
    def any(pf: PartialFunction[SparkPlan, SparkPlan]) =
      roots.exists(_.collectWithSubqueries(pf).nonEmpty)
    Facts(
      PlanSmells.smellsOfRoots(roots),
      roots.map(_.collectWithSubqueries {
        case w: WindowExec
            if w.partitionSpec.forall(constantKey) && !bounded(w.child) => w
      }.size).sum,
      any { case c: CartesianProductExec => c },
      any { case j: BroadcastNestedLoopJoinExec => j },
      None)
  }

  /** A window input whose cardinality the plan's structure bounds: under
    * a limit, a grand aggregate's single row, or a literal local
    * relation. A WindowExec with an empty partitionSpec funnels its
    * entire input through ONE task ("No Partition Defined" warning), a
    * scale-killer unless the input is bounded like this. */
  private def bounded(p: SparkPlan): Boolean = p match {
    case _: LocalTableScanExec => true
    case _: GlobalLimitExec => true
    case _: LocalLimitExec => true
    case _: TakeOrderedAndProjectExec => true
    case a: BaseAggregateExec if a.groupingExpressions.isEmpty => true
    // an aggregate grouped ONLY on the slice id (__pid =
    // spark_partition_id) emits ≤ one row per shuffle partition — a
    // cluster-width constant, not a data-size quantity. This is the
    // offsets frame of the TeraSort two-pass in globalRowNumber /
    // exclusivePrefixSum; its tiny ordered window is the designed
    // alternative to a global single-partition window.
    case a: BaseAggregateExec
        if a.groupingExpressions.flatMap(_.references.toSeq)
          .forall(_.name == "__pid") => true
    case other =>
      other.children.nonEmpty && other.children.forall(bounded)
  }

  /** A constant-valued partition key — foldable (lit(0)) or the
    * non-foldable pmod(x, 1) spelling the repo uses to silence the "No
    * Partition Defined" warning on audited-bounded frames — is still ONE
    * partition: it is audited exactly like an empty spec, so nothing
    * unbounded can hide behind a constant key. */
  private def constantKey(e: Expression): Boolean = e.foldable || (e match {
    case p: Pmod =>
      p.right.foldable && (p.right.eval() match {
        case 1 | 1L => true
        case _ => false
      })
    case _ => false
  })
}
