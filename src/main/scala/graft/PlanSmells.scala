package graft

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec, SortAggregateExec}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback

/** Repo-wide physical-plan smell audit — the institutionalized form of
  * round 12's two catches:
  *
  *  - `dedup_semantic_cells`' max_by over a struct ordering key planned
  *    as a silent SortAggregate (sorted the N×k stream: 33 GB spill);
  *  - the cleaning functions' composition trees, replicated by filter
  *    pushdown past the JVM JIT thresholds (interpreted bytecode, 3.7×
  *    on p2_null_drop once fixed).
  *
  * For every registered query it reports, from the pre-adaptive
  * physical plan (aggregate strategy choices are made at planning, not
  * by AQE) and every cached plan under it ([[auditRoots]]):
  * SortAggregate count, hash/object-hash counts for context,
  * CodegenFallback expression classes present in hot operators, and the
  * largest single expression tree (node count) — a proxy for
  * JIT-threshold risk. PlanSmellsGateSpec diffs these stats against the
  * committed `PLAN_SMELLS_BASELINE.json` under [[violations]]: a new
  * SortAggregate, a new codegen-fallback class, or expression-tree
  * growth past the measured JIT-risk threshold fails the build.
  * SortAggregate is correct for genuinely sort-based aggregates
  * (collation grouping, streaming state, 1-row XML/JSON/DDL frames) and
  * some fallbacks are deliberate (TrigramShingles' one-pass scan beat
  * the per-element HOF dispatch it replaced) — those live in the
  * baseline.
  *
  * Baseline-update procedure (after REVIEWING the diff — an update
  * must be a decision, not a reflex):
  *   sbt "runMain graft.Inspect smells /root/testdata/sf0.001 PLAN_SMELLS_BASELINE.json"
  * then commit the regenerated file alongside the change that moved it.
  */
object PlanSmells {

  final case class Smells(
      sortAgg: Int,
      hashAgg: Int,
      objHashAgg: Int,
      maxExprTree: Int,
      fallbacks: Seq[String],
      error: Option[String]) {
    def json: String =
      error match {
        case Some(e) => s"""{"error":${Json.str(e)}}"""
        case None =>
          s"""{"sort_agg":$sortAgg,"hash_agg":$hashAgg,""" +
            s""""obj_hash_agg":$objHashAgg,"max_expr_tree":$maxExprTree,""" +
            s""""codegen_fallbacks":[${fallbacks.map(Json.str).mkString(",")}]}"""
      }
  }

  /** The roots an audit walks: the plan itself plus, recursively, every
    * InMemoryTableScanExec's cached plan (AQE unwrapped), so a persist()
    * cannot hide a sub-plan. Each distinct cached plan is one extra root
    * (identity-dedup — a self-join over one cache must not double the
    * counts taken over the roots). */
  private[graft] def auditRoots(plan: SparkPlan): Seq[SparkPlan] = {
    val seenCached = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[SparkPlan, java.lang.Boolean]())
    val roots = scala.collection.mutable.ArrayBuffer[SparkPlan]()
    def addRoot(p: SparkPlan): Unit = {
      val r = p match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan
        case other => other
      }
      roots += r
      r.collectWithSubqueries {
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
          s.relation.cachedPlan
      }.foreach(cp => if (seenCached.add(cp)) addRoot(cp))
    }
    addRoot(plan)
    roots.toSeq
  }

  /** Apply `f` to a query's audit roots: those of the pre-adaptive
    * sparkPlan (aggregate strategy choices are made at planning, not by
    * AQE), or, when `f` cannot walk them, those of the prepared
    * executedPlan. Subquery-carrying plans (bloom prefilter, DPP probe,
    * NOT IN) hold LOGICAL subquery plans before preparation, and
    * collectWithSubqueries cannot traverse them. */
  private[graft] def overAuditRoots[A](qe: QueryExecution)(
      f: Seq[SparkPlan] => A): A =
    try f(auditRoots(qe.sparkPlan))
    catch { case _: Throwable => f(auditRoots(qe.executedPlan)) }

  /** Smell stats of one physical plan over its [[auditRoots]] (exposed
    * so the gate spec can prove the detector on a planted regression). */
  private[graft] def smellsOfPlan(plan: SparkPlan): Smells =
    smellsOfRoots(auditRoots(plan))

  /** Smell stats summed over audit roots. */
  private[graft] def smellsOfRoots(roots: Seq[SparkPlan]): Smells = {
    var sortAggs, hashAggs, objAggs = 0
    val fallbacks = scala.collection.mutable.SortedSet[String]()
    var maxTree = 0
    for (root <- roots) {
      sortAggs += root.collectWithSubqueries { case s: SortAggregateExec => s }.size
      hashAggs += root.collectWithSubqueries { case h: HashAggregateExec => h }.size
      objAggs += root.collectWithSubqueries { case o: ObjectHashAggregateExec => o }.size
      root.foreach { node =>
        node.expressions.foreach { exprRoot =>
          var size = 0
          exprRoot.foreach { e =>
            size += 1
            e match {
              case _: CodegenFallback
                  if !e.getClass.getName.startsWith("org.apache.spark.sql.catalyst.expressions.objects") =>
                fallbacks += e.getClass.getSimpleName
              case _ => ()
            }
          }
          if (size > maxTree) maxTree = size
        }
      }
    }
    Smells(sortAggs, hashAggs, objAggs, maxTree, fallbacks.toSeq, None)
  }

  /** Smell stats of one registered query, built by `df`. */
  private[graft] def smellsOf(df: => DataFrame): Smells =
    try overAuditRoots(df.queryExecution)(smellsOfRoots)
    catch { case e: Throwable => failed(e) }

  /** The row of a query that failed to build or plan. */
  private[graft] def failed(e: Throwable): Smells =
    Smells(0, 0, 0, 0, Nil, Some(e.toString.takeWhile(_ != '\n').take(160)))

  /** Expression trees past this node count are JIT-blowout risk:
    * p2_null_drop's measured blowout ran interpreted at 102 nodes
    * (~700 core-µs/row), so new growth past ~100 needs a native-kernel
    * collapse or an explicit baseline decision. */
  private[graft] val JitRiskTreeNodes = 100

  /** Gate rules — pure so the spec can prove them on a planted
    * regression. Returns human-readable violations (empty = pass).
    *
    *  - a query must plan without error;
    *  - SortAggregate count must not exceed its baseline row (new
    *    queries: zero — the silent-SortAggregate trap is the #1 smell);
    *  - codegen-fallback classes must stay within the query's baseline
    *    set (new queries: within the union of all baselined classes —
    *    each of those was an explicit decision; a brand-new
    *    non-codegen expression class in any hot path needs one too);
    *  - the largest expression tree must not grow past
    *    max(baseline, [[JitRiskTreeNodes]]).
    */
  private[graft] def violations(
      name: String,
      s: Smells,
      baseline: Map[String, Smells],
      baselinedFallbackUnion: Set[String]): Seq[String] = {
    s.error match {
      case Some(e) => return Seq(s"$name: plans with error: $e")
      case None => ()
    }
    val b = baseline.get(name)
    val out = scala.collection.mutable.ArrayBuffer[String]()
    val sortCap = b.map(_.sortAgg).getOrElse(0)
    if (s.sortAgg > sortCap)
      out += s"$name: SortAggregate count ${s.sortAgg} > baseline $sortCap " +
        "(silent sort-agg trap — non-fixed-width aggregate buffer?)"
    val allowedFb = b.map(_.fallbacks.toSet).getOrElse(baselinedFallbackUnion)
    val newFb = s.fallbacks.toSet -- allowedFb
    if (newFb.nonEmpty)
      out += s"$name: new codegen-fallback classes ${newFb.toSeq.sorted.mkString(",")} " +
        "(interpreted expression in a hot operator?)"
    val treeCap = math.max(b.map(_.maxExprTree).getOrElse(0), JitRiskTreeNodes)
    if (s.maxExprTree > treeCap)
      out += s"$name: max expression tree ${s.maxExprTree} > cap $treeCap " +
        "(JIT-blowout risk — collapse to a native kernel or baseline it deliberately)"
    out.toSeq
  }

  /** Parse a PLAN_SMELLS json artifact back into Smells rows (Jackson —
    * already on Spark's classpath). */
  private[graft] def parseBaseline(path: String): Map[String, Smells] = {
    val qs = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new java.io.File(path)).get("queries")
    qs.fieldNames.asScala.map { name =>
      val v = qs.get(name)
      def int(k: String) = v.get(k).asInt()
      name -> (
        if (v.has("error")) Smells(0, 0, 0, 0, Nil, Some(v.get("error").asText()))
        else Smells(int("sort_agg"), int("hash_agg"), int("obj_hash_agg"),
          int("max_expr_tree"),
          v.get("codegen_fallbacks").elements.asScala.map(_.asText).toSeq, None))
    }.toMap
  }
}
