package graft

import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.functions.Cleaning

/** Property tests (SURVEY §5.3): totality of the cleaning parsers over
  * arbitrary strings, anti-join containment, and write→read roundtrip
  * identity. Raw ScalaCheck generators with fixed seeds (deterministic,
  * no scalatestplus bridge needed); each batch evaluates through a real
  * Spark job so the ANSI/codegen path is what's exercised.
  */
class PropertySpec extends SparkSpec {
  import spark.implicits._

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))

  private val weirdString: Gen[String] = Gen.oneOf(
    Gen.alphaNumStr,
    Gen.asciiPrintableStr,
    Gen.listOf(Gen.oneOf('0', '9', ',', '.', ' ', 'm', '²', 't', 'ỷ',
      'r', 'i', 'ệ', 'u', '-', '+', 'e', 'E')).map(_.mkString),
    Gen.const(null: String))

  test("cleaning parsers are total: never throw, null or finite output") {
    for (trial <- 1 to 10) {
      val inputs = sample(Gen.listOfN(100, weirdString), 42L + trial)
      val rows = inputs.toDF("s")
        .select(
          Cleaning.parseArea(col("s")).as("a"),
          Cleaning.parseNumber(col("s")).as("n"),
          Cleaning.normalizePrice(col("s")).as("p"))
        .collect()
      assert(rows.length == inputs.length)
      rows.foreach { r =>
        if (!r.isNullAt(0)) assert(!r.getDouble(0).isNaN)
        if (!r.isNullAt(2)) assert(!r.getDouble(2).isNaN)
      }
    }
  }

  test("anti-join output = left minus seen, exactly") {
    for (trial <- 1 to 5) {
      val left = sample(Gen.listOf(Gen.chooseNum(0L, 50L)), 100L + trial)
      val seen = sample(Gen.listOf(Gen.chooseNum(0L, 50L)), 200L + trial)
      val out = left.toDF("k")
        .join(seen.toDF("sk"), col("k") === col("sk"), "left_anti")
        .select("k").as[Long].collect().toList
      assert(out.sorted == left.filterNot(seen.contains).sorted)
    }
  }

  test("custom as-of join equals the window-based reference on random timelines") {
    import org.apache.spark.sql.expressions.Window
    // randomized keyed timelines with duplicate timestamps, keys missing
    // from either side, and skewed key sizes — the edge surface of the
    // hand-written merge in AsofJoinExec
    for (trial <- 1 to 5) {
      val leftRows = sample(Gen.listOfN(120,
        Gen.zip(Gen.oneOf("k1", "k2", "k3", "k4", "konlyleft"),
          Gen.chooseNum(0L, 40L))), 500L + trial)
        .zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong) }
      // unique (key, time) on the right: which of two equal-time right
      // rows "wins" is tie-order-dependent in any as-of formulation, so
      // the well-defined domain (and the registered query's hourly-agg
      // right side) has no right-side time ties
      val rightRows = sample(Gen.listOfN(60,
        Gen.zip(Gen.oneOf("k1", "k2", "k3", "konlyright"),
          Gen.chooseNum(0L, 40L))), 600L + trial)
        .zipWithIndex.map { case ((k, t), i) => (k, t, i.toLong + 1000L) }
        .groupBy(r => (r._1, r._2)).values.map(_.maxBy(_._3)).toList
      val left = leftRows.toDF("k", "t", "lid")
      val right = rightRows.toDF("rk", "rt", "rid")

      val custom = graft.plans.AsofJoin
        .leftOuter(left, right, ("k", "rk"), ("t", "rt"))
        .select(col("lid"), col("rid"))

      // reference: union-merge + running last(ignoreNulls); on duplicate
      // right times the LATER rid wins in both implementations when the
      // union orders right rows by (rt, rid)
      val l = left.select(col("k").as("uk"), col("t").as("ut"),
        lit(1).as("is_left"), col("lid"),
        lit(null).cast("long").as("rid"), lit(null).cast("long").as("ordr"))
      val r = right.select(col("rk").as("uk"), col("rt").as("ut"),
        lit(0).as("is_left"), lit(null).cast("long").as("lid"),
        col("rid"), col("rid").as("ordr"))
      val w = Window.partitionBy("uk")
        .orderBy(col("ut"), col("is_left"), col("ordr"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val reference = l.unionByName(r)
        .withColumn("asof_rid", last(col("rid"), ignoreNulls = true).over(w))
        .filter(col("lid").isNotNull)
        .select(col("lid"), col("asof_rid").as("rid"))

      val diff = custom.except(reference).count() +
        reference.except(custom).count()
      assert(diff == 0,
        s"trial $trial: custom as-of diverged from window reference")
    }
  }

  test("misra-gries on random streams: exact when capacity covers, bounded when not") {
    for (trial <- 1 to 3) {
      val terms = sample(Gen.listOfN(800,
        Gen.frequency(
          5 -> Gen.const("heavy"),
          3 -> Gen.oneOf("warm1", "warm2"),
          2 -> Gen.chooseNum(0, 60).map(i => s"cold$i"))), 700L + trial)
      val df = terms.toDF("term").repartition(3)
      val exact = terms.groupBy(identity).view.mapValues(_.size.toLong).toMap
      // exact regime
      val wide = df.agg(call_function("misra_gries", col("term"), lit(128))
          .as("sk"))
        .select(explode(col("sk")).as("hh"))
        .select("hh.term", "hh.min_count")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(wide == exact, s"trial $trial: wide sketch not exact")
      // lossy regime: guarantees only
      val n = terms.size
      val cap = 6
      val tight = df.agg(call_function("misra_gries", col("term"), lit(cap))
          .as("sk"))
        .select(explode(col("sk")).as("hh"))
        .select("hh.term", "hh.min_count")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(tight.size <= cap)
      tight.foreach { case (t, c) =>
        assert(c <= exact(t), s"trial $trial: $t overcounted $c > ${exact(t)}")
      }
      // every term with frequency > N/(cap+1) must be present
      exact.filter(_._2 > n / (cap + 1)).keys.foreach { t =>
        assert(tight.contains(t), s"trial $trial: heavy hitter $t evicted")
      }
    }
  }

  test("trigram_shingles equals the HOF reference on random token arrays") {
    val token: Gen[String] = Gen.oneOf(
      Gen.const(""), Gen.alphaNumStr.map(_.take(5)),
      Gen.oneOf("中文", "Ω", "a b")) // multi-byte + embedded space
    for (trial <- 1 to 3) {
      val texts = sample(Gen.listOfN(60, Gen.listOf(token).map(_.mkString(" "))),
        800L + trial)
      val df = texts.toDF("text")
      val diff = df.select(
        call_function("trigram_shingles", split(col("text"), " ")).as("n"),
        graft.operators.Dedup.shinglesReference(col("text")).as("r"))
        .filter(not(col("n") === col("r"))).count()
      assert(diff == 0, s"trial $trial: native/HOF shingle mismatch")
    }
  }

  test("BPE merge fold equals a reference greedy implementation on " +
      "random symbol sequences") {
    // reference: greedy left-to-right single-merge application
    def ref(syms: List[String], pa: String, pb: String): List[String] =
      syms.foldLeft(List.empty[String]) { (acc, x) =>
        if (acc.nonEmpty && acc.last == pa && x == pb)
          acc.init :+ (pa + pb)
        else acc :+ x
      }
    val sym: Gen[String] = Gen.oneOf("a", "b", "c", "ab", "bc", "l")
    val word: Gen[List[String]] = Gen.choose(1, 8)
      .flatMap(n => Gen.listOfN(n, sym))
    for (trial <- 1 to 3) {
      val words = sample(Gen.listOfN(80, word), 4200L + trial)
      val pairs = sample(Gen.listOfN(80,
        Gen.zip(sym, sym)), 9900L + trial)
      val rows = words.zip(pairs).map { case (w, (pa, pb)) =>
        (w, pa, pb, ref(w, pa, pb))
      }
      val df = rows.toDF("syms", "pa", "pb", "want")
      val diff = df.withColumn("got", expr(
        s"filter(split(aggregate(syms, '', " +
          s"${operators.TextAnalysis.bpeMergeLambda("endswith")}), " +
          "chr(31)), y -> y <> '')"))
        .filter(not(col("got") === col("want"))).count()
      assert(diff == 0, s"trial $trial: merge fold diverges from reference")
    }
  }

  test("adaptive embedding-LSH sizing: pinned branch, miss bound, " +
      "occupancy target, monotonicity") {
    import operators.Dedup.embLshConfig
    // pinned branch is bit-frozen: every oracled dir must replay
    for (n <- Seq(1L, 100L, 600L, 2400L, 8192L))
      assert(embLshConfig(n) == (8, 24), s"n=$n")
    val q = 0.8989 // per-sign-bit agreement prob at the 0.95 angle
    val ns = sample(Gen.listOfN(200, Gen.chooseNum(8193L, 1000000000000L)),
      777L)
    for (n <- ns) {
      val (bits, tables) = embLshConfig(n)
      // analytic per-pair miss at the threshold angle stays <= 1e-6:
      // a true pair collides in one table w.p. q^bits, so missing ALL
      // tables is (1 - q^bits)^tables
      val missLog = tables * math.log1p(-math.pow(q, bits))
      assert(missLog <= math.log(1e-6) + 1e-9,
        s"n=$n bits=$bits tables=$tables miss=e^$missLog")
      // occupancy target ~8 vectors/bucket under uniform hashing:
      // bucket count 2^bits lands in [n/8, n/4)
      assert(math.pow(2, bits) >= n / 8.0 && math.pow(2, bits) < n / 2.0,
        s"n=$n bits=$bits off the n/8 occupancy target")
      assert(tables >= 1)
    }
    // bits never decreases with n (no size regime where buckets refill)
    val sorted = ns.sorted
    sorted.zip(sorted.tail).foreach { case (a, b) =>
      assert(embLshConfig(a)._1 <= embLshConfig(b)._1) }
  }

  test("adaptive MinHash banding: pinned branch, threshold stability, " +
      "high-similarity recall, log-N growth") {
    import operators.Dedup.{minhashConfig, MinhashPinnedN}
    for (n <- Seq(1L, 500L, 5000L, MinhashPinnedN))
      assert(minhashConfig(n) == (16, 4, 4), s"n=$n")
    val ns = sample(Gen.listOfN(200,
      Gen.chooseNum(MinhashPinnedN + 1, 1000000000000L)), 888L)
    for (n <- ns) {
      val (perms, bands, rows) = minhashConfig(n)
      assert(perms == bands * rows, s"n=$n: sig length != b*r")
      assert(rows >= 5 && rows <= 8 && perms <= 128, s"n=$n ($perms,$bands,$rows)")
      // the LSH candidate threshold s* = b^(-1/r) must not drift from
      // the pinned 4x4 value (4^(-1/4) ~ 0.707) as N scales — recall at
      // the verify threshold is a correctness property, not a tuning
      val sStar = math.pow(bands.toDouble, -1.0 / rows)
      assert(sStar >= 0.60 && sStar <= 0.75, s"n=$n s*=$sStar")
      // recall for a genuinely-similar pair (jaccard 0.8) stays high:
      // P(candidate) = 1 - (1 - s^r)^b
      val recall08 = 1 - math.pow(1 - math.pow(0.8, rows), bands)
      assert(recall08 >= 0.85, s"n=$n recall@0.8=$recall08")
      // rows-per-band track log N until the 8-row cap: background
      // bucket collisions fall exponentially in r, which is what keeps
      // occupancy flat where the old fixed config went quadratic
      val wantR = math.min(8.0,
        4 + math.log(n.toDouble / MinhashPinnedN) / math.log(2) / 2)
      assert(rows >= wantR - 1 && rows <= wantR + 1, s"n=$n r=$rows want~$wantR")
    }
    val sorted = ns.sorted
    sorted.zip(sorted.tail).foreach { case (a, b) =>
      assert(minhashConfig(a)._3 <= minhashConfig(b)._3) }
  }

  test("adaptive semantic-cell count: pinned branch, bounded occupancy, " +
      "monotone growth") {
    import operators.Dedup.{semCellCount, SemCellsPinnedN}
    // every DuckDB-oracled dir bit-replays the pinned 16-cell quantizer
    for (n <- Seq(1L, 600L, 2400L, SemCellsPinnedN))
      assert(semCellCount(n) == 16, s"n=$n")
    val ns = sample(Gen.listOfN(200,
      Gen.chooseNum(SemCellsPinnedN + 1, 1000000000000L)), 889L)
    for (n <- ns) {
      val k = semCellCount(n)
      // expected occupancy n/k stays in a constant band — the property
      // that keeps the within-cell pair stream ~linear in N (a fixed k
      // would make it quadratic, the same scale-killer the LSH bucket
      // and minhash band sizing already correct for)
      val occ = n.toDouble / k
      assert(occ > 75 && occ <= 150.5, s"n=$n k=$k occ=$occ")
    }
    val sorted = ns.sorted
    sorted.zip(sorted.tail).foreach { case (a, b) =>
      assert(semCellCount(a) <= semCellCount(b)) }
  }

  test("partitioned parquet write -> read is an identity on rows") {
    for (trial <- 1 to 3) {
      val rows = sample(Gen.listOfN(20,
        Gen.zip(Gen.chooseNum(1L, 999L), Gen.oneOf("a", "b", "c"))), 300L + trial)
      val out = s"${Tables.scratchRoot}/prop_roundtrip"
      rows.toDF("v", "part").write.mode("overwrite")
        .partitionBy("part").parquet(out)
      val back = spark.read.parquet(out)
        .select(col("v"), col("part")).as[(Long, String)].collect().toList
      assert(back.sorted == rows.sorted)
    }
  }
}
