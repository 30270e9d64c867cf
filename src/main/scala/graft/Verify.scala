package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** Dump one query's result as parquet under `outDir/name`. On failure,
    * fail LOUDLY: a silently-absent output dir made 5 regressions
    * invisible in round 7's correctness diff. Leave an explicit marker
    * where the parquet would be, so the driver's read errors out
    * per-query (an "err" row) instead of skipping the row entirely.
    * Returns true on success. */
  private[graft] def dumpOne(spark: SparkSession, sfDir: String,
      outDir: String, name: String,
      fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
      : Boolean = {
    try {
      fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      true
    } catch { case e: Throwable =>
      System.err.println(s"[verify] $name failed: ${e.getMessage}")
      val dir = Paths.get(s"$outDir/$name")
      Files.createDirectories(dir)
      Files.writeString(dir.resolve("_ERROR.txt"),
        s"$name failed:\n${e.toString}\n")
      false
    }
    // queries may persist() intermediates for within-plan reuse (e.g.
    // dedup_minhash_lsh); release them so cached blocks don't pile up
    // in the shared session across the whole query list.
    finally spark.catalog.clearCache()
  }

  /** Machine-checked error envelopes for the 5 allowlisted `no_oracle`
    * sketch queries (RegistrySpec pins the allowlist): each row compares
    * the ENGINE's approximate answer against the exact answer the engine
    * computes itself, under the sketch's published bound —
    *  - approx_count_distinct: HLL++ default rsd 5% → |a/e−1| ≤ 3·rsd;
    *  - hll_sketch_agg (DataSketches, lgK=12): rse ≈ 1.04/√4096 ≈ 1.6%
    *    → 3·rse = 4.9%;
    *  - kll_quantiles (k=200, normalized rank error ≈ 1.65% @99%):
    *    value bracketed by exact quantiles at rank p ± 3%;
    *  - approx_percentile(accuracy=1000): rank error ≤ 1/accuracy →
    *    bracket at rank p ± 1% (10× the guarantee, room for ties);
    *  - seeded Bernoulli sample: CLT bracket |n − f·N| ≤ 4σ + 5.
    * Returns (query, metric, value, lo, hi, within) rows.
    *
    * `runner` supplies each graded query's RESULT rows and defaults to
    * the in-process DataFrame collect; ServeParity passes a JDBC runner
    * so the values returned over the Thrift wire are graded under the
    * SAME envelopes (the four sketch queries are exempt from EP2 hash
    * parity because partial-agg merge order legally differs between the
    * two executions — exempt must still mean bounded, not skipped).
    * The engine-EXACT reference values always come from the in-process
    * engine. `grade` restricts which queries are graded (the JDBC pass
    * grades only its exempt set). */
  private[graft] def approxBoundRows(spark: SparkSession, sfDir: String,
      runner: String => Seq[Seq[Any]] = null,
      grade: String => Boolean = _ => true)
      : Seq[(String, String, Double, Double, Double, Boolean)] = {
    import org.apache.spark.sql.functions._
    val rows =
      scala.collection.mutable.ArrayBuffer[(String, String, Double, Double, Double, Boolean)]()
    def add(q: String, m: String, v: Double, lo: Double, hi: Double): Unit =
      rows += ((q, m, v, lo, hi, v >= lo && v <= hi))
    val run: String => Seq[Seq[Any]] =
      if (runner != null) runner
      else name => SparkEntry.queries(name)(spark, sfDir).collect()
        .toSeq.map(_.toSeq)
    def str(r: Seq[Any], i: Int): String = r(i).toString
    def num(r: Seq[Any], i: Int): Double = r(i) match {
      case n: Number => n.doubleValue()
      case other => other.toString.toDouble // hive-jdbc may hand back strings
    }
    val orders = Tables.load(spark, sfDir, "orders")

    if (grade("agg_approx_count_distinct")) {
      val exactDistinct = orders.groupBy("o_orderstatus")
        .agg(countDistinct(col("o_custkey")).as("e")).collect()
        .map(r => r.getString(0) -> r.getLong(1).toDouble).toMap
      for (r <- run("agg_approx_count_distinct"))
        add("agg_approx_count_distinct", s"custs[${str(r, 0)}]", num(r, 1),
          exactDistinct(str(r, 0)) * (1 - 0.15),
          exactDistinct(str(r, 0)) * (1 + 0.15))
    }

    if (grade("agg_hll_sketch_union")) {
      val exactTotal = orders.agg(countDistinct(col("o_custkey")))
        .collect()(0).getLong(0).toDouble
      for (r <- run("agg_hll_sketch_union"))
        add("agg_hll_sketch_union", "total_custs", num(r, 0),
          exactTotal * (1 - 0.049), exactTotal * (1 + 0.049))
    }

    // exact rank-bracket quantiles per status (percentile = exact agg)
    def exactQ(lo: Double, hi: Double): Map[String, (Double, Double)] =
      orders.groupBy("o_orderstatus")
        .agg(expr(s"percentile(o_totalprice, $lo)").as("lo"),
          expr(s"percentile(o_totalprice, $hi)").as("hi")).collect()
        .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    if (grade("agg_kll_quantiles")) {
      val kllBr = Map("p50" -> exactQ(0.47, 0.53), "p90" -> exactQ(0.87, 0.93),
        "p99" -> exactQ(0.96, 1.0))
      for (r <- run("agg_kll_quantiles");
           (p, i) <- Seq("p50" -> 1, "p90" -> 2, "p99" -> 3)) {
        val (lo, hi) = kllBr(p)(str(r, 0))
        add("agg_kll_quantiles", s"$p[${str(r, 0)}]", num(r, i), lo, hi)
      }
    }
    if (grade("agg_approx_percentile")) {
      val apBr = Map("p50" -> exactQ(0.49, 0.51), "p90" -> exactQ(0.89, 0.91))
      for (r <- run("agg_approx_percentile");
           (p, i) <- Seq("p50" -> 1, "p90" -> 2)) {
        val (lo, hi) = apBr(p)(str(r, 0))
        add("agg_approx_percentile", s"$p[${str(r, 0)}]", num(r, i), lo, hi)
      }
    }

    // sample_bernoulli_seeded is deliberately KEPT allowlisted (r15
    // verdict task 7 adjudication): the row's SUBJECT is Spark's native
    // sample() — a partition-seeded XORShift draw whose selected set is
    // a function of physical layout, which no SQL engine can replay.
    // Converting it to seeded-hash membership would duplicate the
    // already-hash-oracled sample_hash_deterministic and stop covering
    // the native sampler's draw path entirely; the CLT envelope below
    // is the strongest cross-engine statement that exists for it.
    if (grade("sample_bernoulli_seeded")) {
      val n = Tables.rowCount(spark, sfDir, "lineitem").toDouble
      val sigma = math.sqrt(0.1 * 0.9 * n)
      for (r <- run("sample_bernoulli_seeded"))
        add("sample_bernoulli_seeded", "n_sampled", num(r, 0),
          0.1 * n - 4 * sigma - 5, 0.1 * n + 4 * sigma + 5)
    }
    rows.toSeq
  }

  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // mark this JVM as an oracle-comparison run: queries whose static
    // oracle SQL pins a config constant (e.g. dedup_semantic_cells' 16
    // centroids) assert the pinned regime holds and fail LOUDLY here
    // instead of silently hash-mismatching against a diverged oracle
    System.setProperty("graft.oracle.run", "true")
    // optional extra args: restrict to the named queries (dev iteration);
    // the driver always passes exactly (sfDir, outDir) → full run
    val only = args.drop(2).toSet
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    // cross-run scratch containment (r17): same stance as Bench — the
    // dump must build its own derived tables, not read a prior run's.
    Tables.wipeDerivedScratch()
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .flatMap { case (name, fn) =>
        val ok = dumpOne(spark, sfDir, outDir, name, fn)
        if (ok) None else Some(name)
      }
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} FAILED: ${failed.mkString(", ")}")
      Files.writeString(Paths.get(s"$outDir/_FAILED_QUERIES.txt"),
        failed.mkString("", "\n", "\n"))
    }
    // error-bound artifact for the allowlisted no_oracle sketches: the
    // driver's hash compare can't grade them, so Verify grades them
    // itself (approx vs engine-exact under the published envelope) and
    // ships the verdicts next to the parquet dumps. Out-of-bound rows
    // scream on stderr — a sketch outside its own envelope is a bug,
    // not an approximation.
    if (only.isEmpty) try {
      val bounds = approxBoundRows(spark, sfDir)
      // JSON has no NaN/Infinity literal: a non-finite value (e.g. an
      // exact percentile over an unexpectedly empty group) emitted via
      // raw interpolation would make the downstream json.load throw
      // and silently void the whole artifact. Emit null AND grade the
      // row as out-of-bound — a non-finite sketch value is a failure,
      // not a formatting nuisance.
      def num(d: Double): String =
        if (java.lang.Double.isFinite(d)) d.toString else "null"
      val bj = bounds.map { case (qn, m, v, lo, hi, ok) =>
        val okF = ok && Seq(v, lo, hi).forall(java.lang.Double.isFinite)
        s"""{"query": ${Json.str(qn)}, "metric": ${Json.str(m)}, "value": ${num(v)}, """ +
          s""""lo": ${num(lo)}, "hi": ${num(hi)}, "within": $okF}"""
      }.mkString("[", ",\n ", "]")
      Files.writeString(Paths.get(s"$outDir/approx_bounds.json"), bj)
      val out = bounds.filter(r =>
        !r._6 || !Seq(r._3, r._4, r._5).forall(java.lang.Double.isFinite))
      if (out.nonEmpty) {
        // stderr alone is too quiet for a gate (ApproxBoundsSpec only
        // covers sf0.01): leave a machine-visible failure marker next
        // to the artifact, the same channel _FAILED_QUERIES.txt uses
        System.err.println(
          s"[verify] APPROX OUT OF BOUND: " + out.map(r =>
            s"${r._1}/${r._2}=${r._3} not in [${r._4},${r._5}]").mkString("; "))
        Files.writeString(Paths.get(s"$outDir/_APPROX_OUT_OF_BOUND.txt"),
          out.map(r => s"${r._1}/${r._2}=${r._3} not in [${r._4},${r._5}]")
            .mkString("", "\n", "\n"))
        ()
      }
    } catch { case e: Throwable =>
      System.err.println(s"[verify] approx-bounds pass failed: $e")
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
