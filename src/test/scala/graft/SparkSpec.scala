package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession for specs. One session per suite (getOrCreate
  * reuses the JVM-wide session, so suites in one forked JVM share it).
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  // 4 cores whatever the host: partition counts, and with them plan
  // shapes and task counts some specs assert, stay the same everywhere
  lazy val spark: SparkSession = GraftSession.local(4)

  lazy val sf: String = "/root/testdata/sf0.001"

  /** Spark jobs launched while `body` runs, counted by a listener. */
  protected def jobsDuring(body: => Unit): Int = {
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

  override def afterAll(): Unit = {
    // keep the session for the next suite (stop() would break sharing)
    super.afterAll()
  }
}
