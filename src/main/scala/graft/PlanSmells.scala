package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
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
  * For every registered query this reports, from the pre-adaptive
  * physical plan (aggregate strategy choices are made at planning, not
  * by AQE): SortAggregate count, hash/object-hash counts for context,
  * CodegenFallback expression classes present in hot operators, and the
  * largest single expression tree (node count) — a proxy for
  * JIT-threshold risk. Since round 13 this is a GATE, not just a
  * report: PlanSmellsGateSpec recomputes these stats in `sbt test` and
  * diffs them against the committed `PLAN_SMELLS_BASELINE.json` —
  * a new SortAggregate, a new codegen-fallback class, or expression-
  * tree growth past the measured JIT-risk threshold fails the build.
  * SortAggregate is correct for genuinely sort-based aggregates
  * (collation grouping, streaming state, 1-row XML/JSON/DDL frames) and
  * some fallbacks are deliberate (TrigramShingles' one-pass scan beat
  * the per-element HOF dispatch it replaced) — those live in the
  * baseline and the spec's allowlists.
  *
  * Since round 14 traversal DESCENDS into persist() boundaries: every
  * InMemoryTableScanExec's cached physical plan (unwrapping AQE) is
  * audited as an additional root, recursively, with identity-dedup so
  * a self-join over one cache counts its plan once. Round 13 had
  * documented the InMemoryRelation blind spot (a persist hid everything
  * beneath it — its own two-stage restructure surfaced previously-
  * hidden fallback classes when a cache moved); the gate now sees
  * through caches, and the baseline carries the newly visible rows.
  *
  * Baseline-update procedure (after REVIEWING the diff — an update
  * must be a decision, not a reflex):
  *   sbt "runMain graft.PlanSmells /root/testdata/sf0.001 PLAN_SMELLS_BASELINE.json"
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
        case Some(e) => s"""{"error":${jsonStr(e)}}"""
        case None =>
          s"""{"sort_agg":$sortAgg,"hash_agg":$hashAgg,""" +
            s""""obj_hash_agg":$objHashAgg,"max_expr_tree":$maxExprTree,""" +
            s""""codegen_fallbacks":[${fallbacks.map(jsonStr).mkString(",")}]}"""
      }
  }

  /** Full JSON string escape (backslash, quote, control chars) — a raw
    * backslash or tab in an exception message previously made the
    * artifact invalid JSON. */
  private[graft] def jsonStr(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

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

  /** Smell stats of one physical plan over its [[auditRoots]] (exposed
    * so the gate spec can prove the detector on a planted regression). */
  private[graft] def smellsOfPlan(plan: SparkPlan): Smells = {
    val roots = auditRoots(plan)
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

  /** Smell stats of one registered query's pre-adaptive plan. */
  private[graft] def smellsOf(spark: SparkSession, sfDir: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Smells =
    try {
      val qe = fn(spark, sfDir).queryExecution
      // subquery-carrying plans (bloom prefilter, DPP probe, NOT IN)
      // hold LOGICAL subquery plans before preparation and
      // collectWithSubqueries cannot traverse them — retry on the
      // prepared executedPlan rather than reporting an error
      try smellsOfPlan(qe.sparkPlan)
      catch { case _: Throwable => smellsOfPlan(qe.executedPlan) }
    } catch {
      case e: Throwable =>
        Smells(0, 0, 0, 0, Nil,
          Some(e.toString.takeWhile(_ != '\n').take(160)))
    }

  /** Stats for every registered query (alphabetical), releasing any
    * within-plan persist() per query. */
  private[graft] def statsFor(spark: SparkSession, sfDir: String)
      : Seq[(String, Smells)] =
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val s = smellsOf(spark, sfDir, fn)
      spark.catalog.clearCache()
      name -> s
    }

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
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(java.nio.file.Files.readString(
      java.nio.file.Paths.get(path)))
    val qs = root.get("queries")
    val out = scala.collection.mutable.LinkedHashMap[String, Smells]()
    val it = qs.fields()
    while (it.hasNext) {
      val e = it.next()
      val v = e.getValue
      out(e.getKey) =
        if (v.has("error"))
          Smells(0, 0, 0, 0, Nil, Some(v.get("error").asText()))
        else Smells(
          v.get("sort_agg").asInt(),
          v.get("hash_agg").asInt(),
          v.get("obj_hash_agg").asInt(),
          v.get("max_expr_tree").asInt(),
          {
            val fb = scala.collection.mutable.ArrayBuffer[String]()
            v.get("codegen_fallbacks").forEach(n => fb += n.asText())
            fb.toSeq
          },
          None)
    }
    out.toMap
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // exploratory default is the NON-baseline path: overwriting the
    // committed gate baseline must be an explicit second argument (the
    // scaladoc's update command), never an argument-less reflex
    // (ADVICE r13)
    val outPath = args.lift(1).getOrElse("PLAN_SMELLS.json")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")

    val stats = statsFor(spark, sfDir)
    val failed = stats.count(_._2.error.isDefined)
    val rows = stats.map { case (name, s) => s"${jsonStr(name)}:${s.json}" }
      .mkString(",\n ")
    val json = s"""{"sf_dir":${jsonStr(sfDir)},"queries":{\n $rows\n}}\n"""
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      json.getBytes("UTF-8"))
    println(s"[smells] wrote $outPath (${stats.size} queries, $failed failed)")
    spark.stop()
  }
}
