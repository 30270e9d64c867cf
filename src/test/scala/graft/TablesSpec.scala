package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Tables infers each table's parquet schema once per JVM: after that,
  * loading tables, registering the views and building a SQL-surface
  * query run no Spark job. */
class TablesSpec extends SparkSpec {

  /** Spark jobs launched while `body` runs, counted by a listener. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    ListenerDrain(sc) // earlier jobs must not reach the new listener
    sc.addSparkListener(counter)
    try { body; ListenerDrain(sc) } finally sc.removeSparkListener(counter)
    jobs.get
  }

  test("after one registerViews, a second call and building " +
      "sql_cte_window_topk launch no job") {
    Tables.registerViews(spark, sf)
    val jobs = jobsDuring {
      Tables.registerViews(spark, sf)
      SparkEntry.queries("sql_cte_window_topk")(spark, sf)
    }
    assert(jobs == 0, s"$jobs jobs")
  }
}
