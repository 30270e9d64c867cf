package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

/** Round-17 native-expression parity pins: each optimization expression
  * must be element-identical to the HOF spelling it replaced (the HOF
  * forms stay here as the executable specification, exactly the
  * DedupSpec/TrigramShingles precedent).
  */
class NativeExprParitySpec extends SparkSpec {
  import spark.implicits._

  test("space_tokens ≡ filter(split(text,' '), t -> t <> '')") {
    val cases = Seq(
      "a b c", "  a  b  ", "", " ", "   ", "one",
      "tab\tand space", "unicode ÿ tökens ≠ here", "a  b   c    d",
      "trailing space ", " leading", "a\nb c")
    val df = (cases.map(Option(_)) :+ None).toDF("text")
    val got = df.select(call_function("space_tokens", col("text")))
      .collect().map(r => if (r.isNullAt(0)) null else r.getSeq[String](0))
    val want = df.select(filter(split(col("text"), " "), t => t =!= ""))
      .collect().map(r => if (r.isNullAt(0)) null else r.getSeq[String](0))
    assert(got.toSeq == want.toSeq)
  }

  test("space_tokens matches the HOF tokenizer on every corpus document") {
    val docs = Tables.load(spark, sf, "documents")
    val diff = docs.select(
        call_function("space_tokens", col("text")).as("a"),
        filter(split(col("text"), " "), t => t =!= "").as("b"))
      .filter(col("a") =!= col("b")).count()
    assert(diff == 0L)
  }

  test("bpe_merge_apply ≡ the aggregate() fold merge") {
    // words exercising: repeated chars (greedy left order), pa==pb,
    // multi-char symbols, no-match, match-at-start/end
    val words = Seq("lll", "hello", "aabbaab", "xyzzy", "ab", "ba",
      "aaaa", "mississippi")
    val merges = Seq(("l", "l"), ("a", "b"), ("b", "a"), ("s", "s"),
      ("h", "e"), ("z", "y"))
    for ((pa, pb) <- merges) {
      val df = words.toDF("w")
        .withColumn("syms", filter(split(col("w"), ""), y => y =!= lit("")))
        .withColumn("pa", lit(pa)).withColumn("pb", lit(pb))
      val fold = df.withColumn("out", expr(
        s"filter(split(aggregate(syms, '', " +
          s"${graft.operators.TextAnalysis.bpeMergeLambda("endswith")}), chr(31)), " +
          "y -> y <> '')"))
      val native = df.withColumn("out",
        call_function("bpe_merge_apply", col("syms"), col("pa"), col("pb")))
      val a = fold.select("w", "out").collect()
        .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
      val b = native.select("w", "out").collect()
        .map(r => r.getString(0) -> r.getSeq[String](1)).toMap
      assert(a == b, s"merge ($pa,$pb)")
    }
    // second-pass parity on already-merged multi-char symbols
    val df2 = Seq(Seq("ab", "c", "ab", "ab", "c"))
      .toDF("syms").withColumn("pa", lit("ab")).withColumn("pb", lit("c"))
    val fold2 = df2.selectExpr(
      s"filter(split(aggregate(syms, '', " +
        s"${graft.operators.TextAnalysis.bpeMergeLambda("endswith")}), chr(31)), " +
        "y -> y <> '') AS out").collect()(0).getSeq[String](0)
    val nat2 = df2.select(call_function("bpe_merge_apply",
      col("syms"), col("pa"), col("pb"))).collect()(0).getSeq[String](0)
    assert(fold2 == Seq("abc", "ab", "abc") && nat2 == fold2)
  }

  test("bpe_merge_apply skips null elements, codegen and interpreted") {
    // a per-row CASE keeps the array from being constant-folded, so the
    // projection really runs in the mode under test
    val df = spark.range(2).select(array(lit("l"),
      when(col("id") === 0, lit(null).cast("string")).otherwise(lit("x")),
      lit("l"), lit(null).cast("string"), lit("l")).as("syms"))
    for ((factory, wholeStage) <- Seq("CODEGEN_ONLY" -> "true",
        "NO_CODEGEN" -> "false")) {
      spark.conf.set("spark.sql.codegen.factoryMode", factory)
      spark.conf.set("spark.sql.codegen.wholeStage", wholeStage)
      try {
        val got = df.select(call_function("bpe_merge_apply", col("syms"),
            lit("l"), lit("l"))).orderBy(col("syms")(1).asc_nulls_first)
          .collect().map(_.getSeq[String](0).toSeq).toSeq
        assert(got == Seq(Seq("ll", "l"), Seq("l", "x", "ll")), factory)
      } finally {
        spark.conf.unset("spark.sql.codegen.factoryMode")
        spark.conf.unset("spark.sql.codegen.wholeStage")
      }
    }
  }

  test("gram_sums ≡ the double-posexplode DECIMAL sums on embeddings") {
    val q = Tables.load(spark, sf, "embeddings").selectExpr("vec_id",
      "transform(CAST(embedding AS ARRAY<DOUBLE>), x -> " +
        "CAST(floor(x * 1048576) AS BIGINT)) AS qa")
    val e1 = q.select(col("qa"), posexplode(col("qa")).as(Seq("i", "qi")))
    val spp = e1.select(col("i"), col("qi"),
        posexplode(col("qa")).as(Seq("j", "qj")))
      .groupBy("i", "j")
      .agg(sum(expr("CAST(qi * qj AS DECIMAL(38,0))")).as("p"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDecimal(2)).toMap
    val sv = e1.groupBy("i")
      .agg(sum(expr("CAST(qi AS DECIMAL(38,0))")).as("sv"))
      .collect().map(r => r.getInt(0) -> r.getDecimal(1)).toMap
    val n = q.count()

    val g = Tables.load(spark, sf, "embeddings")
      .agg(call_function("gram_sums",
        col("embedding").cast("array<double>")).as("g"))
      .select("g.n", "g.d", "g.sv", "g.pp").collect()(0)
    val d = g.getInt(1)
    assert(g.getLong(0) == n)
    assert(d == sv.size)
    val gsv = g.getSeq[java.math.BigDecimal](2)
    for (i <- 0 until d)
      assert(gsv(i).compareTo(sv(i)) == 0, s"sv($i)")
    val gpp = g.getSeq[java.math.BigDecimal](3)
    assert(gpp.size == d * d)
    for (i <- 0 until d; j <- 0 until d)
      assert(gpp(i * d + j).compareTo(spp((i, j))) == 0, s"pp($i,$j)")
  }

  test("gram_sums 128-bit accumulation survives values past long range") {
    // 2^21-scale quantized values whose pair-product sums overflow a
    // signed 64-bit accumulator within a few thousand rows: 3000 copies
    // of q=[2^21, -2^21] → Σ q0·q0 = 3000·2^42 > 2^53 (fine for long)…
    // so push harder: 3000 rows of [2^31-ish values] via x = 2^11 →
    // q = 2^31; q·q = 2^62; two rows overflow long. The DECIMAL
    // reference can't run at that magnitude cheaply row-by-row here, so
    // pin against an exact BigInt computed driver-side.
    val x = math.pow(2, 11) // q = floor(2^11 · 2^20) = 2^31
    val rows = 3000
    val df = spark.range(rows).select(
      array(lit(x), lit(-x)).cast("array<double>").as("v"))
    val g = df.agg(call_function("gram_sums", col("v")).as("g"))
      .select("g.n", "g.sv", "g.pp").collect()(0)
    val q = BigInt(1) << 31
    val want00 = (q * q) * rows
    val pp = g.getSeq[java.math.BigDecimal](2)
    assert(BigInt(pp(0).toBigInteger) == want00)
    assert(BigInt(pp(1).toBigInteger) == -want00)
    assert(BigInt(pp(3).toBigInteger) == want00)
    val sv = g.getSeq[java.math.BigDecimal](1)
    assert(BigInt(sv(0).toBigInteger) == q * rows)
  }
}
