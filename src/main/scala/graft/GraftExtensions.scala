package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}
import graft.functions.{CosineSim, LshBucket, MinHashSig, NGramsGenerator, RollingHash}
import graft.plans.{ParamLiterals, SmallGlobalSort}

/** The engine's custom SQL functions, declared once in `functions` and
  * installed once per session at build time by `class GraftExtensions`.
  * That is the only install path: nothing registers them per query.
  *
  * Sessions come from `GraftSession.local`, which sets
  * `spark.sql.extensions=graft.GraftExtensions`; a session built any other
  * way needs that conf (or `.withExtensions(new GraftExtensions)`) to see
  * the functions. Sessions derived from one inherit them: `foreachBatch`
  * micro-batch clones, and `newSession()` sessions such as the Thrift
  * server's. That is what lets BI clients, which send SQL text and cannot
  * call Scala, use the same functions the DataFrame queries do.
  *
  * The same install adds the engine's planner pieces: the as-of join
  * strategy and its pruning rule, and [[graft.plans.ParamLiterals]],
  * which keeps filter constants out of generated class text so statements
  * that differ only in their parameters reuse one compiled class.
  *
  * It also adds [[graft.plans.SmallGlobalSort]], an adaptive query-stage
  * preparation rule: a global `ORDER BY` whose materialized input stages
  * sum to at most AQE's minimum partition size (1 MB) sorts behind a
  * `Coalesce 1` instead of a range exchange, so it skips the exchange's
  * sampling job and its shuffle-map stage. A BI statement that ends in
  * `ORDER BY` over a few hundred rows runs two jobs fewer. Only AQE runs
  * the rule, so non-adaptive sessions, streams and the pre-adaptive
  * `sparkPlan` keep the range exchange.
  */
object GraftExtensions {
  /** Spark ships BloomFilterAggregate / BloomFilterMightContain as
    * internal expressions (the machinery behind InjectRuntimeFilter) but
    * does NOT expose them in the public function registry — surfacing
    * them here gives SQL/DSL users the manual bloom-prefilter join
    * (operators/Scale.scala) with the engine's own codegen'd sketch. */
  private val bloomAgg: Seq[Expression] => Expression = exprs =>
    new org.apache.spark.sql.catalyst.expressions.aggregate
      .BloomFilterAggregate(exprs(0), exprs(1), exprs(2))
  private val bloomProbe: Seq[Expression] => Expression = exprs =>
    org.apache.spark.sql.catalyst.expressions
      .BloomFilterMightContain(exprs(0), exprs(1))

  /** (name, usage, builder) of every custom SQL function. */
  private[graft] val functions
      : Seq[(String, String, Seq[Expression] => Expression)] = Seq(
    ("rolling_hash", "rolling_hash(str) - 64-bit polynomial rolling hash",
      exprs => RollingHash(exprs.head)),
    ("cosine_sim", "cosine_sim(a, b) - cosine similarity of double arrays",
      exprs => CosineSim(exprs(0), exprs(1))),
    ("lsh_bucket", "lsh_bucket(vec, table, bits) - sign-random-projection bucket",
      exprs => LshBucket(exprs(0), exprs(1), exprs(2))),
    ("minhash_sig", "minhash_sig(hashes, perms) - MinHash signature",
      exprs => MinHashSig(exprs(0), exprs(1))),
    ("sorted_intersect_size",
      "sorted_intersect_size(a, b) - |A intersect B| of sorted bigint arrays",
      exprs => graft.functions.SortedIntersectSize(exprs(0), exprs(1))),
    ("positional_any_equal",
      "positional_any_equal(a, b) - exists i: a[i] = b[i] (bigint arrays)",
      exprs => graft.functions.PositionalAnyEqual(exprs(0), exprs(1))),
    ("nearest_centroid",
      "nearest_centroid(vec, codebook) - argmax-cosine cell id",
      exprs => graft.functions.NearestCentroid(exprs(0), exprs(1))),
    ("ngrams_gen", "ngrams_gen(tokens, n) - generator of (pos, ngram) rows",
      exprs => NGramsGenerator(exprs(0), exprs(1))),
    ("misra_gries",
      "misra_gries(term, capacity) - heavy-hitters sketch (term, min_count)",
      graft.functions.MisraGries.build),
    ("trigram_shingles",
      "trigram_shingles(tokens) - distinct word-trigram shingles",
      exprs => graft.functions.TrigramShingles(exprs.head)),
    ("space_tokens",
      "space_tokens(text) - non-empty single-space-separated tokens",
      exprs => graft.functions.SpaceTokens(exprs.head)),
    ("bpe_merge_apply",
      "bpe_merge_apply(syms, pa, pb) - greedy left-to-right BPE merge pass",
      exprs => graft.functions.BpeMergeApply(exprs(0), exprs(1), exprs(2))),
    ("gram_sums",
      "gram_sums(vec) - (n, d, sv, pp) exact Gram sums of 2^-20-quantized doubles",
      exprs => graft.functions.GramSums(exprs.head)),
    ("kll_quantiles",
      "kll_quantiles(x) - KLL sketch [p50, p90, p99] of a double column",
      exprs => graft.functions.KllQuantiles(exprs.head)),
    // Spark 4.1 has a public builtin of this name
    // (catalyst.expressions.aggregate.ThetaSketchAgg); this entry replaces
    // it in every session, which logs one "replaced a previously
    // registered function" warning per session built. ExtensionsSpec
    // pins that the engine's sketch wins.
    ("theta_sketch_agg",
      "theta_sketch_agg(x) - theta sketch of a key column (binary); " +
        "replaces Spark's builtin of the same name",
      exprs => graft.functions.ThetaSketchAgg(exprs.head)),
    ("theta_estimate",
      "theta_estimate(sk) - distinct-count estimate of a theta sketch",
      exprs => graft.functions.ThetaEstimate(exprs.head)),
    ("theta_intersect_est",
      "theta_intersect_est(a, b) - |A intersect B| estimate",
      exprs => graft.functions.ThetaIntersectEst(exprs(0), exprs(1))),
    ("theta_union_est",
      "theta_union_est(a, b) - |A union B| estimate",
      exprs => graft.functions.ThetaUnionEst(exprs(0), exprs(1))),
    ("theta_anotb_est",
      "theta_anotb_est(a, b) - |A minus B| estimate",
      exprs => graft.functions.ThetaAnotBEst(exprs(0), exprs(1))),
    ("theta_assert_exact",
      "theta_assert_exact(sk) - sketch unchanged; error if estimate-mode",
      exprs => graft.functions.ThetaAssertExact(exprs.head)),
    ("bloom_filter_agg",
      "bloom_filter_agg(xxhash64(x), items, bits) - bloom sketch of hashed keys",
      bloomAgg),
    ("might_contain",
      "might_contain(bloom, xxhash64(x)) - bloom membership probe",
      bloomProbe),
    ("parse_area",
      "parse_area(str) - F1 area parse (first [0-9,.]+ run, commas stripped)",
      exprs => graft.functions.ParseArea(exprs.head)),
    ("parse_number",
      "parse_number(str) - F2 int(float(str)) with truncation, else null",
      exprs => graft.functions.ParseNumber(exprs.head)),
    ("normalize_price",
      "normalize_price(str) - F3 price in billions VND (ty/trieu units)",
      exprs => graft.functions.NormalizePrice(exprs.head)))
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {

  // the 5-arg form is the one that carries a usage string without
  // demanding the validated Arguments/Examples layout of the full form
  @annotation.nowarn("cat=deprecation")
  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  override def apply(ext: SparkSessionExtensions): Unit = {
    for ((name, usage, builder) <- GraftExtensions.functions)
      ext.injectFunction((FunctionIdentifier(name), info(name, usage), builder))
    // whole-operator extension (SURVEY §2.6 (c)): the as-of join planner
    // strategy for graft.plans.AsofJoinPlan, plus the optimizer rule that
    // column-prunes through it (Catalyst can't see inside custom nodes)
    ext.injectPlannerStrategy(_ => graft.plans.GraftStrategy)
    ext.injectOptimizerRule(_ => graft.plans.PruneAsofJoinColumns)
    // filter constants as class references: one compile per statement
    // shape (this hook runs with and without AQE; see ParamLiterals)
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = ParamLiterals
    })
    // a small global sort runs in one partition, without the range
    // exchange's sampling job (AQE only, after EnsureRequirements)
    ext.injectQueryStagePrepRule(_ => SmallGlobalSort)
  }
}
