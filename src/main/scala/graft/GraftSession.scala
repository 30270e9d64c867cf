package graft

import org.apache.spark.sql.SparkSession

/** Builds every session of the engine: `local[cpus]` with as many
  * shuffle partitions as cores, UTC session time, no UI, and the
  * `GraftExtensions` functions and planner rules. Every main, probe and
  * spec gets its session here; `extra` carries only what a caller really
  * needs on top (the Thrift endpoint's port, a Hive catalog, ANSI mode).
  * `getOrCreate` semantics: an already-active session is returned as is.
  */
object GraftSession {
  /** `SPARK_GRAFT_CPUS`, else every core the JVM sees. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def local(cpus: Int = defaultCpus,
      extra: Map[String, String] = Map.empty): SparkSession =
    extra.foldLeft(SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.extensions", classOf[GraftExtensions].getName)) {
      case (b, (k, v)) => b.config(k, v)
    }.getOrCreate()
}
