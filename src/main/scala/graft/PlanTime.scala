package graft

/** Split a query's wall time into plan-construction+optimization vs
  * execution (noop sink), for the optimization round's "where does the
  * time go" audit (guide §1/§7.3). Two rounds each so JIT warmup is
  * visible; `--explain` then prints the final executed plan. Usage:
  * runMain graft.PlanTime <sfDir> [--explain] <query...> */
object PlanTime {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val explain = args.contains("--explain")
    val names = args.drop(1).filterNot(_ == "--explain")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    for (name <- names) {
      for (round <- 1 to 2) {
        val t0 = System.nanoTime()
        val df = SparkEntry.queries(name)(spark, sfDir)
        val t1 = System.nanoTime() // construction (may run eager BSP jobs)
        df.queryExecution.executedPlan // force analysis+optimization+planning
        val t2 = System.nanoTime()
        df.write.mode("overwrite").format("noop").save()
        val t3 = System.nanoTime()
        println(f"[plantime] $name r$round construct=${(t1 - t0) / 1e9}%.2f " +
          f"plan=${(t2 - t1) / 1e9}%.2f exec=${(t3 - t2) / 1e9}%.2f " +
          f"total=${(t3 - t0) / 1e9}%.2f")
        spark.catalog.clearCache()
      }
      if (explain) {
        val df = SparkEntry.queries(name)(spark, sfDir)
        df.collect()
        println(s"[plantime] $name final plan:\n${df.queryExecution.executedPlan}")
        spark.catalog.clearCache()
      }
    }
    spark.stop()
  }
}
