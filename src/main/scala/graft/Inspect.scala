package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.{ListenerDrain, SparkContext}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.FormattedMode

/** The one inspection main over the registered queries. The session
  * comes from GraftSession, as Bench's does, so these are the bench's plans.
  *
  *   time <sfDir> [--explain] <query...>: construct (eager driver jobs
  *     while the DataFrame is built) / plan / exec (noop sink) split, two
  *     rounds per query so JIT warm-up shows, each with the classes
  *     Janino compiled in it (`compiles=`, `compile_ms=`; a round-2
  *     compile is a class whose text changed between rounds) and the
  *     Spark jobs it ran, construct and exec together (`jobs=`);
  *     `--explain` then prints the final executed plan.
  *   dump <sfDir> <outDir> <suffix> [query...]: `explain("formatted")` to
  *     `<outDir>/<query>_<suffix>.txt` (default: every query). Runs only
  *     the eager rounds some queries (pagerank, bfs) run while built.
  *   smells [sfDir] [outPath]: the [[PlanSmells]] report of every query.
  *     The default output is `PLAN_SMELLS.json`: overwriting the gate's
  *     baseline takes naming `PLAN_SMELLS_BASELINE.json`.
  */
object Inspect {
  def main(args: Array[String]): Unit = {
    val command: (SparkSession, Seq[String]) => Unit = args.headOption match {
      case Some("time") => time
      case Some("dump") => dump
      case Some("smells") => smells
      case _ => sys.error("usage: graft.Inspect time|dump|smells <args>")
    }
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    try command(spark, args.toSeq.tail) finally spark.stop()
  }

  private def time(spark: SparkSession, args: Seq[String]): Unit = {
    val sfDir = args.head
    val explain = args.contains("--explain")
    for (name <- args.tail.filterNot(_ == "--explain")) {
      for (round <- 1 to 2) {
        val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val compileNs0 = CodeGenerator.compileTime
        val ((t0, t1, t2, t3), jobs) = jobsDuring(spark.sparkContext) {
          val t0 = System.nanoTime()
          val df = SparkEntry.queries(name)(spark, sfDir)
          val t1 = System.nanoTime() // construction (may run eager BSP jobs)
          df.queryExecution.executedPlan // force analysis+optimization+planning
          val t2 = System.nanoTime()
          df.write.mode("overwrite").format("noop").save()
          (t0, t1, t2, System.nanoTime())
        }
        println(f"[plantime] $name r$round construct=${(t1 - t0) / 1e9}%.2f " +
          f"plan=${(t2 - t1) / 1e9}%.2f exec=${(t3 - t2) / 1e9}%.2f " +
          f"total=${(t3 - t0) / 1e9}%.2f " +
          s"compiles=${CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0} " +
          f"compile_ms=${(CodeGenerator.compileTime - compileNs0) / 1e6}%.1f " +
          s"jobs=$jobs")
        spark.catalog.clearCache()
      }
      if (explain) {
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.collect()
        println(s"[plantime] $name final plan:\n${df.queryExecution.executedPlan}")
        spark.catalog.clearCache()
      }
    }
  }

  /** `body`'s result and the Spark jobs launched while it ran, counted by
    * a listener; the bus is drained before and after, so earlier jobs do
    * not reach the count and none of `body`'s are missed. */
  private[graft] def jobsDuring[T](sc: SparkContext)(body: => T): (T, Int) = {
    val jobs = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    ListenerDrain(sc)
    sc.addSparkListener(counter)
    try {
      val result = body
      ListenerDrain(sc)
      (result, jobs.get)
    } finally sc.removeSparkListener(counter)
  }

  private def dump(spark: SparkSession, args: Seq[String]): Unit = {
    val Seq(sfDir, outDir, suffix) = args.take(3)
    val names =
      if (args.length > 3) args.drop(3) else SparkEntry.queries.keys.toSeq.sorted
    Files.createDirectories(Paths.get(outDir))
    for (name <- names) {
      try {
        val txt = SparkEntry.queries(name)(spark, sfDir)
          .queryExecution.explainString(FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
        println(s"[plandump] $name ok (${txt.length} chars)")
      } catch {
        case t: Throwable =>
          println(s"[plandump] $name ERROR ${t.toString.takeWhile(_ != '\n').take(200)}")
      }
    }
  }

  private def smells(spark: SparkSession, args: Seq[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outPath = args.lift(1).getOrElse("PLAN_SMELLS.json")
    // any within-plan persist() is released per query
    val stats = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val s = PlanSmells.smellsOf(fn(spark, sfDir))
      spark.catalog.clearCache()
      name -> s
    }
    val failed = stats.count(_._2.error.isDefined)
    val rows = stats.map { case (name, s) => s"${Json.str(name)}:${s.json}" }
      .mkString(",\n ")
    val json = s"""{"sf_dir":${Json.str(sfDir)},"queries":{\n $rows\n}}\n"""
    Files.write(Paths.get(outPath), json.getBytes("UTF-8"))
    println(s"[smells] wrote $outPath (${stats.size} queries, $failed failed)")
  }
}
