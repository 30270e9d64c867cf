package graft

/** Dump `.explain("formatted")` for named registered queries to files —
  * the optimization-round evidence trail (`plans/r16/<q>_{before,after}.txt`).
  *
  * Usage: runMain graft.PlanDump <sfDir> <outDir> <suffix> [query...]
  * (no queries → all registered queries).
  *
  * Plan-only: nothing is executed by the dump itself; queries whose
  * *construction* runs eager BSP rounds (components/pagerank/bfs) do run
  * those rounds, and their dump shows the final post-loop plan — noted
  * in OPTIMIZATION_r16.md where it matters. The session comes from
  * GraftSession, as Bench's does, so dumped plans are the bench's plans.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val outDir = args(1)
    val suffix = args(2)
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    val names =
      if (args.length > 3) args.drop(3).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    for (name <- names) {
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), txt)
        println(s"[plandump] $name ok (${txt.length} chars)")
      } catch {
        case t: Throwable =>
          println(s"[plandump] $name ERROR ${t.toString.takeWhile(_ != '\n').take(200)}")
      }
    }
    spark.stop()
  }
}
