package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.{ListenerDrain, SparkContext}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.analysis.LocalTempView
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.command.CreateViewCommand
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Spark execution counters for one span (or for the whole run). */
final class Counters {
  val jobs, stages, tasks = new AtomicLong
  val busyMs, cpuNs, gcMs = new AtomicLong
  val shuffleRead, shuffleWrite, spill, scan, output = new AtomicLong

  private def all = Seq(jobs, stages, tasks, busyMs, cpuNs, gcMs,
    shuffleRead, shuffleWrite, spill, scan, output)
  def snapshot: Seq[Long] = all.map(_.get)
}

object Counters {
  /** Names in the order of [[Counters.snapshot]]. */
  val names: Seq[String] = Seq("jobs", "stages", "tasks", "busy_ms", "cpu_ns",
    "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "scan_bytes", "output_bytes")
}

/** One timed call into the engine. `counters` is empty when tracing is off. */
final case class Span(name: String, id: Long, parent: Long, request: String,
    startNs: Long, endNs: Long, counters: Map[String, Long]) {
  def seconds: Double = (endNs - startNs) / 1e9
  def ms: Double = (endNs - startNs) / 1e6
  def apply(k: String): Long = counters.getOrElse(k, 0L)
}

/** Span recorder. With tracing off a span is two clock reads; with
  * tracing on, jobs submitted inside a span carry its id as a local
  * property, a listener charges every stage and task of those jobs to
  * it, and the listener bus is drained before the span closes so a
  * query's tail tasks are never charged to the next span. Records stay
  * in memory and are written out once, at the end of the run. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  private val sc: SparkContext = spark.sparkContext
  private val Key = "perfbench.span"
  private val seq = new AtomicLong
  private val bySpan = new ConcurrentHashMap[Long, Counters]()
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val parentOf = new ConcurrentHashMap[Long, Long]()
  /** Counters over every job of the run, tagged or not. */
  val total = new Counters
  val spans = ArrayBuffer[Span]()
  private val stack = new ThreadLocal[List[Long]] {
    override def initialValue(): List[Long] = Nil
  }

  // streaming progress (per micro-batch), traced runs only
  val streamBatches, streamBatchMs, streamStateRows = new AtomicLong
  // temp views named `lineitem` created on this session, traced runs only
  private val lineitemViews = new AtomicLong

  if (enabled) {
    sc.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val span = Option(e.properties).flatMap(p =>
          Option(p.getProperty(Key))).map(_.toLong).getOrElse(-1L)
        e.stageInfos.foreach(s => stageSpan.put(s.stageId, span))
        forSpan(span)(_.jobs.incrementAndGet())
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        forSpan(stageSpan.getOrDefault(e.stageInfo.stageId, -1L))(
          _.stages.incrementAndGet())
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val m = e.taskMetrics
        forSpan(stageSpan.getOrDefault(e.stageId, -1L)) { c =>
          c.tasks.incrementAndGet()
          if (m != null) {
            c.busyMs.addAndGet(m.executorRunTime)
            c.cpuNs.addAndGet(m.executorCpuTime)
            c.gcMs.addAndGet(m.jvmGCTime)
            c.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
            c.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
            c.spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
            c.scan.addAndGet(m.inputMetrics.bytesRead)
            c.output.addAndGet(m.outputMetrics.bytesWritten)
          }
        }
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        streamBatches.incrementAndGet()
        streamBatchMs.addAndGet(p.batchDuration)
        streamStateRows.addAndGet(p.stateOperators.map(_.numRowsTotal).sum)
      }
    })
    // Every `Tables.registerViews` call creates the temp view `lineitem`
    // (among the other sf tables) through a CreateViewCommand, which the
    // session reports to its execution listeners like any other command.
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.logical match {
          case c: CreateViewCommand if c.viewType == LocalTempView &&
              c.name.table == "lineitem" => lineitemViews.incrementAndGet()
          case _ =>
        }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    })
  }

  /** `Tables.registerViews` calls so far in the run, counted from the
    * `lineitem` temp views the session created (after a drain). */
  def registerViewsCalls: Double = { drain(); lineitemViews.get.toDouble }

  /** Charge to the span and to each enclosing span, and to the total. */
  private def forSpan(span: Long)(f: Counters => Any): Unit = {
    f(total)
    var s = span
    while (s >= 0) {
      val c = bySpan.get(s)
      if (c == null) s = -1
      else { f(c); s = parentOf.getOrDefault(s, -1L) }
    }
  }

  /** Wait until every posted listener event has been delivered. */
  def drain(): Unit = if (enabled) ListenerDrain(sc)

  /** Time `body` as a span named `name`; `request` ties spans of one
    * client request together. */
  def span[T](name: String, request: String = "")(body: => T): (T, Span) = {
    val id = seq.incrementAndGet()
    val parent = stack.get.headOption.getOrElse(-1L)
    val prevProp = sc.getLocalProperty(Key)
    if (enabled) {
      bySpan.put(id, new Counters)
      parentOf.put(id, parent)
      sc.setLocalProperty(Key, id.toString)
    }
    stack.set(id :: stack.get)
    val t0 = System.nanoTime()
    try {
      val r = body
      val t1 = System.nanoTime()
      drain()
      val counters =
        if (!enabled) Map.empty[String, Long]
        else Counters.names.zip(bySpan.get(id).snapshot).toMap
      val sp = Span(name, id, parent, request, t0, t1, counters)
      spans.synchronized(spans += sp)
      (r, sp)
    } finally {
      stack.set(stack.get.tail)
      if (enabled) {
        sc.setLocalProperty(Key, prevProp)
        bySpan.remove(id)
      }
    }
  }

  /** Micro-batches, their summed duration (ms) and state rows so far. */
  def streamTotals: Seq[Long] = {
    drain()
    Seq(streamBatches.get, streamBatchMs.get, streamStateRows.get)
  }

  /** The whole-run counters as a name → value map (after a drain). */
  def totals: Map[String, Long] = {
    drain()
    Counters.names.zip(total.snapshot).toMap
  }

  /** Spans as JSON lines (name, start, end, parent, request, counters). */
  def dump(path: java.nio.file.Path): Unit = {
    val lines = spans.synchronized(spans.toList).map { s =>
      Util.json.writeValueAsString(scala.collection.immutable.ListMap(
        Seq("name" -> s.name, "id" -> s.id, "parent" -> s.parent,
          "request" -> s.request, "start_ns" -> s.startNs, "end_ns" -> s.endNs) ++
          s.counters.toSeq: _*))
    }
    java.nio.file.Files.writeString(path, lines.mkString("", "\n", "\n"))
    ()
  }
}

/** Helpers over a list of values. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)
}
