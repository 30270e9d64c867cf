package perfbench

import java.nio.file.Path
import scala.collection.mutable.ArrayBuffer
import graft.operators.Pipeline
import graft.sources.Ingest

/** The DAG phase of `dag_serve`: one closed-loop client runs the
  * reference DAG — ingest → bronze_to_silver → silver_to_gold →
  * train_and_log — `Iterations` times over a seeded bronze crawl batch,
  * and checks each iteration's outputs against the batch manifest.
  *
  * The batch is the reference crawler's largest run: 20 ads a page for
  * at most 200 pages, 4 000 ads, here 3 600 distinct listings plus 400
  * exact duplicates. The reference writes one object per run; the batch
  * is split into 8 files so that parsing can use every core. */
final class Dag(run: Run) {
  val Listings = 3600
  val BatchFiles = 8
  val Iterations = 3
  private val spark = run.spark
  private val dagDir = run.work.resolve("dag")
  private val rnd = new scala.util.Random(run.seed)
  private val date = f"2024-${rnd.nextInt(12) + 1}%02d-${rnd.nextInt(28) + 1}%02d"
  private val manifest = {
    val t0 = System.nanoTime()
    val m = Gen.crawlBatch(dagDir.resolve("bronze"), run.seed, Listings, BatchFiles, date)
    run.genS += (System.nanoTime() - t0) / 1e9
    m
  }
  private val batch = dagDir.resolve("bronze").toString

  private case class Iter(tasks: Seq[Span], bronzeRows: Long,
      silverDir: Path, goldDir: Path, ledger: Map[String, Double]) {
    var silverRows = -1L // counted by the check
  }
  private val iters = ArrayBuffer[Iter]()
  private var n = 0

  def setup(): Unit = Common.registerViewsOnce(run)

  private def iteration(): Iter = {
    n += 1
    val silverDir = dagDir.resolve(s"silver_$n")
    val goldDir = dagDir.resolve(s"gold_$n")
    val req = s"dag-$n"
    val t = run.trace
    // 1. ingest: schema inference happens while the reader is built
    val (bronze, construct) = t.span("ingest.construct", req)(
      Ingest.readJsonWithCsvFallback(spark, batch))
    val (bronzeRows, exec) = t.span("ingest.exec", req)(bronze.count())
    // 2. bronze_to_silver into a fresh silver directory
    val (_, b2s) = t.span("bronze_to_silver", req)(
      Pipeline.writeSilverPartitioned(Pipeline.bronzeToSilver(bronze),
        manifest.files.head, silverDir.toString))
    // 3. silver_to_gold
    val (_, s2g) = t.span("silver_to_gold", req)(
      Pipeline.silverToGold(spark.read.parquet(silverDir.toString))
        .write.mode("overwrite").parquet(goldDir.toString))
    // 4. train_and_log: the registered ml_runs_log (Learn + RunStore)
    val (ledger, tl) = t.span("train_and_log", req)(
      graft.SparkEntry.queries("ml_runs_log")(spark, run.sfDir).collect())
    val coeffs = ledger.filter(_.getString(0) == "r1_ols_cents")
      .map(r => r.getString(3) -> r.getDouble(4)).toMap
    Iter(Seq(construct, exec, b2s, s2g, tl), bronzeRows, silverDir, goldDir, coeffs)
  }

  /** Check one iteration's outputs against the manifest (untimed). */
  private def checkIter(it: Iter): Unit = {
    run.check("dag: bronze listings", it.bronzeRows == manifest.listings,
      s"read ${it.bronzeRows}, manifest ${manifest.listings}")
    val silver = spark.read.parquet(it.silverDir.toString)
    val silverRows = silver.count()
    it.silverRows = silverRows
    run.check("dag: kept silver rows", silverRows == manifest.silverRows,
      s"silver $silverRows, manifest ${manifest.silverRows}")
    val gold = spark.read.parquet(it.goldDir.toString)
    val hist = gold.groupBy("location_encoded").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val goldRows = hist.values.sum
    run.check("dag: gold rows", goldRows == manifest.silverRows,
      s"gold $goldRows, manifest ${manifest.silverRows}")
    val want = manifest.locationHist.filter(_._2 > 0)
    run.check("dag: location_encoded histogram", hist == want,
      s"gold $hist, manifest $want")
    run.check("dag: ledger holds b0/b1/b2 for r1_ols_cents",
      Seq("b0", "b1", "b2").forall(k => it.ledger.get(k).exists(_.isFinite)),
      s"ledger r1_ols_cents = ${it.ledger}")
  }

  private def drop(it: Iter): Unit = { Util.rm(it.silverDir); Util.rm(it.goldDir) }

  /** One untimed iteration; it also leaves the ledger the endpoints load. */
  def warmup(): Unit = { val it = iteration(); checkIter(it); drop(it) }

  /** `Iterations` iterations; returns the median iteration time. */
  def measure(): Double = {
    for (_ <- 1 to Iterations) {
      iters += iteration()
      run.op(true)
    }
    Stats.median(iters.map(_.tasks.map(_.seconds).sum).toSeq)
  }

  def verify(): Unit = {
    iters.foreach { it => checkIter(it) }
    if (run.trace.enabled) layers()
    iters.foreach(drop)
    appendProbe()
  }

  /** Per-layer numbers: medians over the measured iterations. */
  private def layers(): Unit = {
    def med(f: Iter => Double) = Stats.median(iters.map(f).toSeq)
    val bronzeBytes = manifest.bronzeBytes.toDouble
    run.put("ingest.construct_s", med(_.tasks(0).seconds))
    run.put("ingest.exec_s", med(_.tasks(1).seconds))
    run.put("ingest.input_bytes", med(it => (it.tasks(0)("scan_bytes") +
      it.tasks(1)("scan_bytes")).toDouble))
    run.put("ingest.jobs", med(it => (it.tasks(0)("jobs") + it.tasks(1)("jobs")).toDouble))
    run.put("bronze_to_silver.s", med(_.tasks(2).seconds))
    run.put("bronze_to_silver.shuffle_write_bytes",
      med(_.tasks(2)("shuffle_write_bytes").toDouble))
    run.put("bronze_to_silver.output_bytes", med(it => Util.du(it.silverDir)._1.toDouble))
    run.put("bronze_to_silver.output_files", med(it => Util.du(it.silverDir)._2.toDouble))
    run.put("bronze_to_silver.keep_ratio", med(it => it.silverRows.toDouble / it.bronzeRows))
    run.put("silver_to_gold.s", med(_.tasks(3).seconds))
    run.put("silver_to_gold.scan_bytes", med(_.tasks(3)("scan_bytes").toDouble))
    run.put("silver_to_gold.output_bytes", med(it => Util.du(it.goldDir)._1.toDouble))
    run.put("storage.bytes_per_bronze_byte",
      med(it => (Util.du(it.silverDir)._1 + Util.du(it.goldDir)._1) / bronzeBytes))
    run.put("train_and_log.s", med(_.tasks(4).seconds))
    run.put("train_and_log.jobs", med(_.tasks(4)("jobs").toDouble))
  }

  /** Untimed two-day append probe: write a second crawl date into the
    * same silver directory through `Pipeline.writeSilverPartitioned` and
    * count the date partitions that survive (2 expected). A known defect
    * at the time of writing keeps only the second date; the result is
    * reported (metric `dag.append_probe_partitions`, a note on stderr)
    * rather than counted as a failed operation of the workload. */
  private def appendProbe(): Unit = {
    val dir = dagDir.resolve("silver_append_probe")
    val silver = Pipeline.bronzeToSilver(Ingest.readJsonWithCsvFallback(spark, batch))
      .limit(100)
    val day2 = java.time.LocalDate.parse(date).plusDays(1).toString.replace("-", "")
    Pipeline.writeSilverPartitioned(silver, manifest.files.head, dir.toString)
    Pipeline.writeSilverPartitioned(silver, s"crawl_${day2}_000000.json", dir.toString)
    val parts = Option(dir.toFile.listFiles).toSeq.flatten
      .count(_.getName.startsWith("date="))
    run.put("dag.append_probe_partitions", parts.toDouble)
    if (parts != 2)
      run.notes += s"known defect: two-day append into one silver dir kept $parts of 2 date partitions"
    Util.rm(dir)
  }
}
