package graft

/** Tables infers each table's parquet schema once per JVM: after that,
  * loading tables, registering the views and building a SQL-surface
  * query run no Spark job. */
class TablesSpec extends SparkSpec {

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
