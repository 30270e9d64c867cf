package graft

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.functions.{array, lit}
import graft.functions.VectorExprs

/** The SparkSessionExtensions path: custom functions must resolve from SQL
  * text with no per-query registration (SparkSpec builds the session with
  * spark.sql.extensions=graft.GraftExtensions).
  */
class ExtensionsSpec extends SparkSpec {

  test("injected functions resolve from bare SQL text") {
    val row = spark.sql("""
      SELECT rolling_hash('abc') AS rh,
             cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d)) AS cs,
             lsh_bucket(array(1.0d, -1.0d), 0L, 4L) AS lb,
             minhash_sig(array(5L, 9L), 2) AS ms
    """).collect()(0)
    assert(row.getLong(0) != 0L)
    assert(math.abs(row.getDouble(1) - 1.0) < 1e-12)
    assert(row.getLong(2) >= 0L && row.getLong(2) < 16L)
    assert(row.getSeq[Long](3).length == 2)
  }

  test("round-3 injections resolve from SQL: shingles, heavy hitters") {
    val row = spark.sql("""
      SELECT trigram_shingles(array('a', 'b', 'c', 'd')) AS sh
    """).collect()(0)
    assert(row.getSeq[String](0) == Seq("a b c", "b c d"))
    val hh = spark.sql("""
      SELECT misra_gries(t, 4) AS sk
      FROM VALUES ('x'), ('x'), ('y') AS v(t)
    """).collect()(0).getSeq[org.apache.spark.sql.Row](0)
    assert(hh.map(r => r.getString(0) -> r.getLong(1)).toMap ==
      Map("x" -> 2L, "y" -> 1L))
  }

  /** One SQL call per declared function (FROM clause included where the
    * function aggregates). */
  private val calls = Map(
    "rolling_hash" -> "rolling_hash('abc')",
    "cosine_sim" -> "cosine_sim(array(1.0d, 0.0d), array(1.0d, 0.0d))",
    "lsh_bucket" -> "lsh_bucket(array(1.0d, -1.0d), 0L, 4L)",
    "minhash_sig" -> "minhash_sig(array(5L, 9L), 2)",
    "sorted_intersect_size" -> "sorted_intersect_size(array(1L, 2L), array(2L, 3L))",
    "positional_any_equal" -> "positional_any_equal(array(1L, 2L), array(3L, 2L))",
    "nearest_centroid" -> ("nearest_centroid(array(1.0d, 0.0d), " +
      "array(named_struct('cell', 0L, 'cv', array(1.0d, 0.0d))))"),
    "ngrams_gen" -> "ngrams_gen(array('a', 'b', 'c'), 2)",
    "misra_gries" -> "misra_gries(t, 4) FROM VALUES ('x'), ('y') AS v(t)",
    "trigram_shingles" -> "trigram_shingles(array('a', 'b', 'c'))",
    "space_tokens" -> "space_tokens('a b')",
    "bpe_merge_apply" -> "bpe_merge_apply(array('a', 'b'), 'a', 'b')",
    "gram_sums" -> "gram_sums(array(1.0d, 2.0d))",
    "kll_quantiles" -> "kll_quantiles(CAST(id AS DOUBLE)) FROM range(100)",
    "theta_sketch_agg" -> "theta_sketch_agg(id) FROM range(10)",
    "theta_estimate" -> "theta_estimate(theta_sketch_agg(id)) FROM range(10)",
    "theta_intersect_est" ->
      "theta_intersect_est(theta_sketch_agg(id), theta_sketch_agg(id)) FROM range(10)",
    "theta_union_est" ->
      "theta_union_est(theta_sketch_agg(id), theta_sketch_agg(id)) FROM range(10)",
    "theta_anotb_est" ->
      "theta_anotb_est(theta_sketch_agg(id), theta_sketch_agg(id)) FROM range(10)",
    "theta_assert_exact" -> "theta_assert_exact(theta_sketch_agg(id)) FROM range(10)",
    "bloom_filter_agg" -> "bloom_filter_agg(xxhash64(id), 100L, 1024L) FROM range(10)",
    "might_contain" -> ("might_contain((SELECT bloom_filter_agg(xxhash64(id), " +
      "100L, 1024L) FROM range(10)), xxhash64(3L))"),
    "parse_area" -> "parse_area('12,5 m2')",
    "parse_number" -> "parse_number('3.7')",
    "normalize_price" -> "normalize_price('2 ty')")

  test("injected functions appear in the catalog with descriptions") {
    // build the queries whose bodies used to re-install the registry
    // first: an install after session build would replace the catalog
    // entries this test reads
    for (q <- Seq("text_heavy_hitters", "agg_theta_set_ops", "agg_kll_quantiles"))
      SparkEntry.queries(q)(spark, sf)
    spark.range(1)
      .select(VectorExprs.cosine(array(lit(1.0)), array(lit(1.0)))).collect()

    val names = GraftExtensions.functions.map(_._1)
    assert(names.distinct == names, "a function is declared twice")
    assert(calls.keySet == names.toSet)
    for ((name, usage, _) <- GraftExtensions.functions) {
      spark.sql(s"SELECT ${calls(name)}").collect()
      val info = spark.sessionState.catalog
        .lookupFunctionInfo(FunctionIdentifier(name))
      assert(info.getClassName == classOf[GraftExtensions].getName, name)
      val desc = spark.sql(s"DESCRIBE FUNCTION EXTENDED $name")
        .collect().map(_.getString(0)).mkString("\n")
      assert(desc.contains(usage), s"$name:\n$desc")
    }
  }

  test("theta_sketch_agg resolves to the engine's sketch, not Spark's builtin") {
    val plan = spark.sql(s"SELECT ${calls("theta_sketch_agg")}")
      .queryExecution.analyzed
    assert(plan.expressions.exists(_.exists(
      _.isInstanceOf[graft.functions.ThetaSketchAgg])), plan.toString)
  }
}
