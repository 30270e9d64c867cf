package perfbench

import scala.collection.mutable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `analytics_heavy`: one closed-loop client runs a fixed list of
  * registered queries through `SparkEntry.queries(name)(spark, sfDir)`
  * into the `noop` sink, in a seeded order each pass. The untimed warm
  * pass also computes each query's order-independent result hash
  * (count(*) + sum(xxhash64(to_json(struct(*))))), which the caller
  * compares with the recorded values. Traced runs split every query
  * into construct (building the DataFrame, including the eager jobs
  * that loops and streams run), plan (forcing the executed plan) and
  * exec (the noop write). */
final class Analytics(run: Run) extends Workload {
  val Queries = Seq("graph_pagerank_3iter", "stream_stream_join",
    "sql_cte_window_topk")
  private val spark = run.spark
  private val rnd = new scala.util.Random(run.seed)

  private case class Sample(construct: Span, plan: Option[Span], exec: Span) {
    def seconds: Double = construct.seconds + plan.map(_.seconds).getOrElse(0.0) + exec.seconds
  }
  private val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Sample]]()
  private val hashes = mutable.LinkedHashMap[String, String]()

  def setup(): Unit = Common.registerViewsOnce(run)

  private def build(name: String): DataFrame =
    graft.SparkEntry.queries(name)(spark, run.sfDir)

  private def timed(name: String, req: String): Sample = {
    val t = run.trace
    val (df, c) = t.span(s"q.$name.construct", req)(build(name))
    val p = if (t.enabled) Some(t.span(s"q.$name.plan", req)(df.queryExecution.executedPlan)._2) else None
    val (_, e) = t.span(s"q.$name.exec", req)(
      df.write.mode("overwrite").format("noop").save())
    spark.catalog.clearCache()
    Sample(c, p, e)
  }

  /** Warm pass: run every query once and hash its result. */
  def warmup(): Unit =
    for (name <- Queries) {
      val t0 = System.nanoTime()
      val ok =
        try {
          val h = build(name).agg(count(lit(1)).cast("string"),
            sum(xxhash64(to_json(struct(col("*"))))
              .cast("decimal(38,0)")).cast("string")).collect()(0)
          hashes(name) = s"${h.getString(0)}:${h.getString(1)}"
          System.err.println(f"[perfbench] warm $name%-26s ${(System.nanoTime() - t0) / 1e9}%.2f s")
          true
        } catch { case e: Throwable => hashes(name) = s"error: $e".take(200); false }
      spark.catalog.clearCache()
      run.op(ok)
    }

  def measure(seconds: Double): Double = {
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    var pass = 0
    while (pass == 0 || System.nanoTime() < deadline) {
      pass += 1
      for (name <- rnd.shuffle(Queries)) {
        val s = timed(name, s"pass-$pass")
        System.err.println(f"[perfbench] pass $pass $name%-26s ${s.seconds}%.2f s")
        samples.getOrElseUpdate(name, mutable.ArrayBuffer()) += s
        run.op(true)
      }
    }
    val all = samples.values.flatten.toSeq
    val perQuery = Queries.map(q => Stats.median(samples(q).map(_.seconds).toSeq))
    Common.putOps(run, all.map(_.seconds * 1e3), perQuery.map(_ * 1e3),
      busyS = all.map(_.seconds).sum)
    perQuery.sum
  }

  def verify(): Unit = {
    run.extra("analytics_hashes") = hashes.toMap
    if (!run.trace.enabled) return
    var sums = Map.empty[String, Double].withDefaultValue(0.0)
    for (q <- Queries) {
      val ss = samples(q).toSeq
      def med(f: Sample => Double) = Stats.median(ss.map(f))
      val vals = Seq(
        "construct_s" -> med(_.construct.seconds),
        "plan_s" -> med(_.plan.map(_.seconds).getOrElse(0.0)),
        "exec_s" -> med(_.exec.seconds),
        "construct_jobs" -> med(_.construct("jobs").toDouble),
        "exec_jobs" -> med(_.exec("jobs").toDouble))
      for ((k, v) <- vals) {
        run.put(s"q.$q.$k", v)
        sums += k -> (sums(k) + v)
      }
    }
    for (k <- Seq("construct_s", "plan_s", "exec_s", "construct_jobs"))
      run.put(s"analytics.$k", sums(k))
  }
}
