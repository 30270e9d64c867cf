package graft

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
  protected def jobsDuring(body: => Unit): Int =
    Inspect.jobsDuring(spark.sparkContext)(body)._2

  override def afterAll(): Unit = {
    // keep the session for the next suite (stop() would break sharing)
    super.afterAll()
  }
}
