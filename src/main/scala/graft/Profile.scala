package graft

/** Ad-hoc profiler: time named queries (twice, to split plan/JIT warmup
  * from steady state) and optionally dump the executed plan.
  *
  * Usage: runMain graft.Profile <sfDir> [--explain] <query...>
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val explain = args.contains("--explain")
    val names = args.drop(1).filterNot(_ == "--explain")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("WARN")
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      for (round <- 1 to 2) {
        val t0 = System.nanoTime()
        val n = fn(spark, sfDir).count()
        println(f"[profile] $name round$round: ${(System.nanoTime() - t0) / 1e9}%.2f s ($n rows)")
        // match Bench: release within-plan persists so round 2 measures
        // the query, not a warm cache
        spark.catalog.clearCache()
      }
      if (explain) {
        val df = fn(spark, sfDir)
        df.collect()
        println(s"[profile] $name final plan:\n${df.queryExecution.executedPlan}")
      }
    }
    spark.stop()
  }
}
