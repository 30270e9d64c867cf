package graft
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    // cross-run scratch containment (r17): wipe the build-if-absent
    // derived tables so THIS run pays the pHash fingerprint / ANN index
    // builds instead of reading an earlier run's artifacts (see
    // Tables.wipeDerivedScratch).
    Tables.wipeDerivedScratch()
    // optional scale-smoke knobs (unset in the driver's contract run):
    // SPARK_GRAFT_BENCH_ONLY=a,b,c restricts the query list;
    // spill counters are always collected (cheap listener) and reported
    // per query so a memory-constrained run shows WHERE pressure lands.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spillMem = new java.util.concurrent.atomic.AtomicLong
    val spillDisk = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val m = te.taskMetrics
          if (m != null) {
            spillMem.addAndGet(m.memoryBytesSpilled)
            spillDisk.addAndGet(m.diskBytesSpilled)
            ()
          }
        }
      })
    // untimed warmup: first-touch costs (whole-stage codegen JIT, parquet
    // reader init, streaming engine + state store bootstrap) land on
    // whichever query runs first and would misattribute ~10s; three cheap
    // representative queries absorb them so timings are steady-state.
    // noop sink: full materialization of every output row/column. A
    // count() would let Catalyst prune whole projections (a rename-only
    // query degenerates to parquet row-count metadata) and under-measure.
    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
    // (the drift sentinels join the warmup so their START checkpoint
    // sample is steady-state, not first-touch — otherwise the end/start
    // drift ratio would be deflated by the start sample's own JIT cost)
    for (w <- Seq("silver_clean", "stream_tumbling_window",
      "emb_norm_stats_by_label", "catalog_show_tables",
      "compact_small_files", "csv_roundtrip_events", "p4_type_casts",
      "window_running_sum_spend"))
      try run(w) catch { case _: Throwable => }
    // min of two BACK-TO-BACK runs per query: single-shot numbers on a
    // shared box carry ±several-second GC/scheduling noise; the min is
    // the standard steady-state estimator, and back-to-back execution
    // keeps the min COMPARABLE across rounds. (Round 13 trialed the
    // literal A/A — two interleaved full passes — as the drift control
    // and the alternating A/B measured it breaking exactly that
    // comparability: a pass-2 sample arrives minutes after pass 1 and
    // only regains 1.12× of its first-touch cost where a back-to-back
    // second run regains 1.36×, so per-query mins read a systematic
    // ~1.2× higher on byte-identical code while like-for-like FIRST
    // samples were dead flat at 0.997 — AB_r12_r13.json, BASELINE.md
    // §round-13. The A/A was reverted for the sentinel scheme below.)
    // failures surface as -1 (never a near-zero "best" time) plus an
    // errors map, so a broken query degrades the report instead of
    // silently improving the total.
    val errors = scala.collection.mutable.LinkedHashMap[String, String]()
    val spillMb = scala.collection.mutable.LinkedHashMap[String, Double]()
    // load adjudication: a shared box can inflate every query uniformly
    // (round 6's driver run read 1.46× vs round 5 while a re-run
    // reproduced round-5 times). Record the machine state around the run
    // plus BOTH per-query timings so a reader can separate box load from
    // a code regression without re-running: high loadavg or a large
    // run1/run2 spread says noise; a clean-box, tight-spread slowdown
    // says regression. Protocol note in BASELINE.md §adjudication.
    def loadavg(): Seq[Double] =
      try scala.io.Source.fromFile("/proc/loadavg").mkString.trim
        .split("\\s+").take(3).toSeq.map(_.toDouble)
      catch { case _: Throwable => Seq(-1.0, -1.0, -1.0) }
    val nproc = Runtime.getRuntime.availableProcessors
    val loadBefore = loadavg()
    // IN-ARTIFACT DRIFT CONTROL (the box's ~10-minute drift mode means
    // any single-session canonical can read ±25 % with no code change):
    // a fixed sentinel set — the drift-signature sub-second metadata/IO
    // queries plus two compute-bound rows — is re-timed (one run each)
    // at the START, MIDDLE, and END of the suite. Reading rule: the
    // sentinel medians end/start or mid/start far from 1 (≳1.3) mean
    // the box moved mid-run and the artifact needs regeneration or an
    // alternating A/B before any cross-round claim. Unlike the A/A
    // trial this leaves the per-query timing scheme byte-compatible
    // with every earlier round.
    val sentinelSet = Seq("catalog_show_tables", "compact_small_files",
      "csv_roundtrip_events", "p4_type_casts", "silver_clean",
      "window_running_sum_spend")
    val sentinels = scala.collection.mutable.LinkedHashMap[String, scala.collection.mutable.ArrayBuffer[Double]]()
    def sentinelPass(): Unit =
      for (q <- sentinelSet if sys.env.get("SPARK_GRAFT_BENCH_ONLY").isEmpty) {
        val t0 = System.nanoTime()
        try {
          run(q)
          sentinels.getOrElseUpdate(q,
            scala.collection.mutable.ArrayBuffer[Double]()) +=
            math.round((System.nanoTime() - t0) / 1e9 * 1000) / 1000.0
        } catch { case _: Throwable => () }
        spark.catalog.clearCache()
      }
    sentinelPass()
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)))
    val allRuns = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    val results = names.zipWithIndex.map { case (name, idx) =>
      if (idx == names.size / 2) sentinelPass()
      val (m0, d0) = (spillMem.get(), spillDisk.get())
      val times = (1 to 2).flatMap { _ =>
        val t0 = System.nanoTime()
        val r =
          try { run(name); Some((System.nanoTime() - t0) / 1e9) }
          catch {
            case t: Throwable =>
              errors.getOrElseUpdate(name, t.toString.takeWhile(_ != '\n').take(200))
              None
          }
        // release any within-plan persist() the query made: blocks would
        // otherwise accumulate across 100+ queries, and a retained cache
        // would let iteration 2 measure a warm-cache path instead of the
        // query.
        spark.catalog.clearCache()
        r
      }
      // listener events are async — the tail of a query's tasks may
      // land on the next row; fine for a pressure map, not accounting
      val mb = (spillMem.get() - m0 + spillDisk.get() - d0) / 1e6
      if (mb > 0) spillMb(name) = math.round(mb * 10) / 10.0
      allRuns(name) = times.map(t => math.round(t * 1000) / 1000.0)
      name -> (if (times.isEmpty) -1.0 else times.min)
    }
    sentinelPass()
    val loadAfter = loadavg()
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => Json.str(k) + ":" + Json.str(v) }
      .mkString("{", ",", "}")
    val spillJson = spillMb.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val runsJson = allRuns.map { case (k, v) =>
      s"\"" + k + "\":" + v.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    def arr(xs: Seq[Double]) = xs.mkString("[", ",", "]")
    val sentJson = sentinels.map { case (k, v) =>
      s"\"" + k + "\":" + v.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    // machine-readable sentinel verdict (round-13 verdict task 6): the
    // reading rule lived in BASELINE.md prose — mid/start or end/start
    // sentinel medians far from 1 mean the box moved mid-run and the
    // artifact is not comparable across rounds. Emit the computed
    // medians and the boolean so the driver (or any reader) can flag a
    // drifted canonical without knowing the protocol. Quiet = both
    // medians within [1/1.3, 1.3]; -1 = not computed (restricted run).
    def median(xs: Seq[Double]): Double =
      if (xs.isEmpty) -1.0
      else {
        val s = xs.sorted
        val m = if (s.size % 2 == 1) s(s.size / 2)
          else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
        math.round(m * 1000) / 1000.0
      }
    // Drop triples with a 0.000-rounded sample (ADVICE r14): a zero
    // start makes v(1)/v(0) Infinity/NaN — quiet stays false but the
    // emitted medians would be meaningless. With no positive triples
    // the medians stay -1 (= not computed).
    val triples =
      sentinels.values.filter(v => v.size >= 3 && v.take(3).forall(_ > 0)).toSeq
    val midStart = median(triples.map(v => v(1) / v(0)))
    val endStart = median(triples.map(v => v(2) / v(0)))
    def quiet(r: Double): Boolean = r > 0 && r >= 1 / 1.3 && r <= 1.3
    val sentinelsQuiet = triples.nonEmpty && quiet(midStart) && quiet(endStart)
    val sentVerdict =
      s""""sentinel_ratios":{"mid_start":$midStart,"end_start":$endStart},""" +
        s""""sentinels_quiet":$sentinelsQuiet"""
    val total = results.map(_._2).filter(_ >= 0).sum
    val json = s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"errors":$errJson,"spill_mb":$spillJson,"runs":$runsJson,"sentinels":$sentJson,$sentVerdict,"load_before":${arr(loadBefore)},"load_after":${arr(loadAfter)},"nproc":$nproc,"sf":${Json.str(sfDir)}}"""
    println(json)
    // the driver clips sbt stdout (round 8's BENCH_r08.json kept only an
    // alphabetical tail of the per-query map, "parsed": null), so also
    // persist the full artifact to a repo file — committed each round,
    // it lets cross-round comparison reach every query instead of 43/246.
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get(sys.env.getOrElse(
        "SPARK_GRAFT_BENCH_OUT", "BENCH_full.json")), json + "\n")
    catch { case t: Throwable =>
      System.err.println(s"[bench] could not write BENCH_full.json: $t") }
    spark.stop()
  }
}
