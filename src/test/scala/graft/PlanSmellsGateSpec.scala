package graft

import org.apache.spark.sql.functions._

/** The plan-smell audit as a GATE (VERDICT r12 task 1): round 12's
  * lessons — the silent-SortAggregate trap and the JIT-blowout
  * expression trees — caught four live offenders when first run as a
  * report; this spec makes offender N+1 fail `sbt test` at introduction
  * time. It takes every registered query's smell stats (SortAggregate
  * count, codegen-fallback classes, max expression tree) over the
  * pre-adaptive physical plan from the suite's one registry walk
  * ([[RegistrySweep]]) and diffs them against the
  * committed `PLAN_SMELLS_BASELINE.json` under PlanSmells.violations'
  * rules. The five inherent sort_agg rows (collation grouping,
  * streaming state, 1-row XML/JSON/DDL frames) and the deliberate
  * fallbacks (TrigramShingles, the sketch aggregates, Spark's own
  * non-codegen HOFs) pass because they are IN the baseline — the gate
  * fails on what is NEW.
  *
  * Baseline update (a decision, not a reflex — review the diff first):
  *   sbt "runMain graft.Inspect smells /root/testdata/sf0.001 PLAN_SMELLS_BASELINE.json"
  *
  * Gate proof: the planted-regression test below rebuilds the exact
  * round-12 trap (max_by with a struct ordering buffer) and asserts the
  * detector + rules flag it; a live plant into a registered query was
  * also run once to watch the full spec fail (SCALE.md round-13).
  */
class PlanSmellsGateSpec extends SparkSpec {

  // resolved relative to the build's working directory (sbt sets
  // user.dir to the project root), so the gate works from any checkout
  // location
  private lazy val baseline = PlanSmells.parseBaseline(
    java.nio.file.Paths.get(sys.props("user.dir"),
      "PLAN_SMELLS_BASELINE.json").toString)
  private lazy val fbUnion = baseline.values.flatMap(_.fallbacks).toSet

  test("no registered query regresses vs the committed plan-smell baseline") {
    val bad = RegistrySweep.facts(spark, sf).flatMap { case (name, f) =>
      PlanSmells.violations(name, f.smells, baseline, fbUnion)
    }
    assert(bad.isEmpty, "\n" + bad.mkString("\n") +
      "\nIf deliberate, regenerate PLAN_SMELLS_BASELINE.json (see scaladoc).")
  }

  test("gate self-proof: a planted max_by-over-struct regression is caught") {
    // the round-12 trap verbatim: max_by whose ordering value is a
    // STRUCT — not an UnsafeRow-mutable buffer type, so
    // HashAggregateExec refuses it and the planner silently falls back
    // to SortAggregateExec, sorting the whole input stream
    val planted = spark.range(100)
      .select(col("id") % 7 as "g", col("id") as "v")
      .groupBy("g")
      .agg(max_by(col("v"), struct(col("v"), col("g"))).as("m"))
    val s = PlanSmells.smellsOfPlan(planted.queryExecution.sparkPlan)
    assert(s.sortAgg > 0,
      "detector missed the planted SortAggregate — gate is blind")
    val v = PlanSmells.violations("planted_max_by_struct", s, baseline, fbUnion)
    assert(v.exists(_.contains("SortAggregate")),
      s"rules did not flag the planted regression: $v")
  }

  test("gate self-proof: a persist() cannot hide a planted SortAggregate " +
      "(traversal descends into InMemoryRelation cached plans)") {
    // round 13's documented evasion, closed: the same max_by-over-struct
    // trap, but BEHIND a cache boundary — the downstream query's plan
    // shows only an InMemoryTableScanExec, and a traversal that stops
    // there reports zero SortAggregates
    val cached = spark.range(100)
      .select(col("id") % 7 as "g", col("id") as "v")
      .groupBy("g")
      .agg(max_by(col("v"), struct(col("v"), col("g"))).as("m"))
      .persist()
    try {
      val downstream = cached.select(col("g"))
      val plan = downstream.queryExecution.sparkPlan
      // the plant must actually be hidden behind a cache boundary —
      // otherwise this proves nothing
      assert(plan.collectWithSubqueries {
        case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec => s
      }.nonEmpty, "plant did not plan through an InMemoryTableScanExec")
      val s = PlanSmells.smellsOfPlan(plan)
      assert(s.sortAgg > 0,
        "detector missed the SortAggregate hidden under persist() — " +
          "the InMemoryRelation blind spot is back")
      val v = PlanSmells.violations("planted_cached_max_by", s, baseline, fbUnion)
      assert(v.exists(_.contains("SortAggregate")),
        s"rules did not flag the cached planted regression: $v")
    } finally { cached.unpersist(); () }
  }

  test("gate self-proof: a planted JIT-blowout expression tree is caught") {
    // a composed tree past the ~100-node JIT-risk cap (p2_null_drop's
    // measured blowout point) on a query with no baseline row
    val big = (1 to 60).map(i => col("id") * i).reduce(_ + _)
    val planted = spark.range(10).select(big.as("x"))
    val s = PlanSmells.smellsOfPlan(planted.queryExecution.sparkPlan)
    assert(s.maxExprTree > PlanSmells.JitRiskTreeNodes)
    val v = PlanSmells.violations("planted_huge_tree", s, baseline, fbUnion)
    assert(v.exists(_.contains("expression tree")),
      s"rules did not flag the planted tree: $v")
  }
}
