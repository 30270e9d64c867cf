package perfbench

import java.nio.file.{Files, Path}
import scala.collection.immutable.ListMap
import scala.collection.mutable
import org.apache.spark.sql.SparkSession

/** Shared state of one benchmark run: the session, the tracer, the
  * generated inputs and the result being assembled. */
final class Run(val spark: SparkSession, val trace: Trace, val work: Path,
    val sfDir: String, val seed: Long, val seconds: Double) {
  val metrics = mutable.LinkedHashMap[String, Double]()
  val checks = mutable.ArrayBuffer[(String, Boolean, String)]()
  val notes = mutable.ArrayBuffer[String]()
  val extra = mutable.LinkedHashMap[String, Any]()
  var attempted = 0L
  var failed = 0L
  /** Seconds spent generating inputs; reported as `setup.gen_s` and
    * left out of `setup_s`. */
  var genS = 0.0

  /** Set a metric; run.py holds each metric's unit. */
  def put(name: String, value: Double): Unit = metrics(name) = value

  /** Record an output check; a failing check counts as a failed attempt. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit = {
    attempted += 1
    if (!ok) failed += 1
    checks += ((name, ok, if (ok) "" else detail))
  }

  /** Count one operation of the workload, failed or not. */
  def op(ok: Boolean): Unit = { attempted += 1; if (!ok) failed += 1 }
}

/** Pieces shared by the workloads. */
object Common {
  /** One direct, timed `Tables.registerViews` call (in setup). */
  def registerViewsOnce(run: Run): Unit = {
    val (_, sp) = run.trace.span("tables.register_views")(
      graft.Tables.registerViews(run.spark, run.sfDir))
    run.put("tables.register_views_s", sp.seconds)
  }

  /** The operation metrics every workload reports: `lat` every
    * operation's latency, `perKind` the median latency of each kind of
    * operation, `busyS` the time the clients were busy. The tail stays
    * per-layer: a run has too few operations for a steady p95. */
  def putOps(run: Run, lat: Seq[Double], perKind: Seq[Double], busyS: Double): Unit = {
    run.put("op_p50_ms", Stats.median(lat))
    run.put("op.p95_ms", Stats.quantile(lat, 0.95))
    run.put("op.samples", lat.size.toDouble)
    run.put("op_geomean_ms", Stats.geomean(perKind))
    run.put("ops_per_s", lat.size / busyS)
  }
}

/** One benchmark run in a fresh JVM:
  * `Main <workload> <seed> <seconds> <trace 0|1> <work dir> <data dir> <result file>`.
  *
  * The run builds the session, generates its inputs, starts the
  * endpoints the workload needs, warms up, measures for `seconds`, checks
  * the outputs and writes one JSON result. `setup_s` is JVM start to
  * ready (session, extensions, endpoints, warmup) minus the time spent
  * generating inputs (the sf tables and the crawl batch), which is
  * reported as `setup.gen_s`. The tables do not depend on the run's
  * seed, so they are generated once into the data dir and reused by
  * later runs. */
object Main {
  val Sf = 0.01
  val Cpus = 4

  def main(args: Array[String]): Unit =
    try runOnce(args)
    catch {
      case t: Throwable =>
        t.printStackTrace()
        System.err.flush()
        Runtime.getRuntime.halt(1) // the endpoints' threads would keep the JVM up
    }

  private def runOnce(args: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, workS, dataS, outS) = args
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val work = Path.of(workS).toAbsolutePath
    val scratch = work.resolve("scratch")

    val t0 = System.nanoTime()
    val spark = SparkSession.builder()
      .master(s"local[$Cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", Cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", classOf[graft.GraftExtensions].getName)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("tmp").toString)
      .config("spark.sql.hive.thriftServer.singleSession", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9

    val trace = new Trace(spark, traceS == "1")
    val sfDir = Path.of(dataS).toAbsolutePath.resolve(s"sf$Sf").toString
    val tg = System.nanoTime()
    val done = Path.of(sfDir, "_GENERATED")
    if (!Files.exists(done)) {
      Util.rm(Path.of(sfDir))
      Gen.tables(spark, sfDir, Sf, seed = 42L)
      Files.writeString(done, "")
    }
    val genS = (System.nanoTime() - tg) / 1e9
    val run = new Run(spark, trace, work, sfDir, seedS.toLong, secondsS.toDouble)
    run.genS = genS
    run.put("setup.session_s", sessionS)

    val w: Workload = workload match {
      case "dag_serve"       => new DagServe(run)
      case "analytics_heavy" => new Analytics(run)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.setup()
    val tw = System.nanoTime()
    w.warmup()
    run.put("setup.warmup_s", (System.nanoTime() - tw) / 1e9)
    val predict = new Predict(run)
    run.put("setup_s", (System.currentTimeMillis() - jvmStart) / 1e3 - run.genS)
    run.put("setup.gen_s", run.genS)

    val totalsBefore = trace.totals
    val streamBefore = trace.streamTotals
    predict.startLoad()
    val (unitS, _) = trace.span("window")(w.measure(run.seconds))
    predict.stopLoad()
    if (trace.enabled) {
      val after = trace.totals
      def d(k: String) = (after(k) - totalsBefore(k)).toDouble
      run.put("spark.jobs", d("jobs"))
      run.put("spark.stages", d("stages"))
      run.put("spark.tasks", d("tasks"))
      run.put("spark.task_busy_s", d("busy_ms") / 1e3)
      run.put("spark.task_cpu_s", d("cpu_ns") / 1e9)
      run.put("spark.gc_s", d("gc_ms") / 1e3)
      run.put("spark.shuffle_read_bytes", d("shuffle_read_bytes"))
      run.put("spark.shuffle_write_bytes", d("shuffle_write_bytes"))
      run.put("spark.spill_bytes", d("spill_bytes"))
      run.put("spark.scan_bytes", d("scan_bytes"))
      val Seq(batches, batchMs, stateRows) =
        trace.streamTotals.zip(streamBefore).map { case (a, b) => (a - b).toDouble }
      run.put("stream.batches", batches)
      run.put("stream.batch_ms", if (batches > 0) batchMs / batches else 0.0)
      run.put("stream.state_rows", stateRows)
      run.put("trace.unit_s", unitS)
    }
    run.put("unit_s", unitS)
    w.verify()
    predict.report()
    if (trace.enabled) run.put("tables.register_views_calls", trace.registerViewsCalls)
    run.put("peak_rss_mb", peakRssMb())
    hostFacts(run)

    trace.dump(work.resolve("trace.jsonl"))
    val result = Util.json.writeValueAsString(ListMap(Seq(
      "workload" -> workload,
      "attempted" -> run.attempted,
      "failed" -> run.failed,
      "metrics" -> ListMap(run.metrics.toSeq: _*),
      "checks" -> run.checks.toList.map { case (n, ok, d) =>
        ListMap("name" -> n, "ok" -> ok, "detail" -> d) },
      "notes" -> run.notes.toList) ++ run.extra.toSeq: _*))
    Files.writeString(Path.of(outS), result + "\n")
    // Everything is on disk. A graceful stop would close each JDBC
    // session, and closing one stalls for tens of seconds in the
    // endpoint's embedded-metastore retries, so end the JVM here; the
    // next run wipes the work directory.
    System.out.flush(); System.err.flush()
    Runtime.getRuntime.halt(0)
  }

  private def peakRssMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024)
      .getOrElse(0.0)

  private def hostFacts(run: Run): Unit = {
    val load = scala.io.Source.fromFile("/proc/loadavg").mkString.trim.split("\\s+")
    run.put("host.loadavg_1m", load(0).toDouble)
    run.put("host.nproc", Runtime.getRuntime.availableProcessors.toDouble)
    run.put("host.heap_max_mb", Runtime.getRuntime.maxMemory / 1048576.0)
  }
}

/** A workload: set up its endpoints, warm up (untimed, inside setup_s),
  * measure for `seconds` and return the unit time, then check the
  * outputs (untimed). */
trait Workload {
  def setup(): Unit
  def warmup(): Unit
  def measure(seconds: Double): Double
  def verify(): Unit
}

/** `dag_serve`: the reference's end-to-end flow in one session. First
  * a few iterations of the medallion DAG (its untimed warmup iteration
  * trains and logs the model the endpoints serve), then BI over JDBC for
  * `seconds`; `/predict` load runs through both phases. The median DAG
  * iteration is the unit; the BI phase gets the window because its
  * statements are short and a steady median needs many of them. */
final class DagServe(run: Run) extends Workload {
  private val dag = new Dag(run)
  private val bi = new Bi(run)
  def setup(): Unit = { dag.setup(); bi.setup() }
  def warmup(): Unit = { dag.warmup(); bi.exposeLedger(); bi.warmup() }
  def measure(seconds: Double): Double = {
    val unit = dag.measure()
    bi.measure(seconds)
    unit
  }
  def verify(): Unit = { dag.verify(); bi.verify() }
}
