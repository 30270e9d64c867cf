package graft
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.local()
    spark.sparkContext.setLogLevel("ERROR")
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)) {
      try {
        val plan = fn(spark, sfDir).queryExecution.executedPlan.toString
        val flags = Seq(
          "CartesianProduct" -> plan.contains("CartesianProduct"),
          "BroadcastNestedLoopJoin" -> plan.contains("BroadcastNestedLoopJoin"))
          .collect { case (f, true) => f }
        if (flags.nonEmpty) println(s"[audit] $name: ${flags.mkString(",")}")
      } catch { case e: Throwable =>
        println(s"[audit] $name: ERROR ${e.getMessage.takeWhile(_ != '\n').take(100)}")
      }
    }
    println("[audit] done")
    spark.stop()
  }
}
