package graft

import org.apache.spark.sql.functions._

/** Cost-based-optimizer surface (SURVEY §4): table/column statistics from
  * ANALYZE TABLE must actually change physical planning. The pinned
  * behavior: a selective filter on a catalog table is opaque to the
  * default size-only estimator (the filtered side keeps its full
  * sizeInBytes, so the join stays sort-merge), but with CBO enabled and
  * column stats (min/max/ndv) the FilterEstimation shrinks the side below
  * the broadcast threshold and the SAME query plans a BroadcastHashJoin.
  * This is the static-planning analogue of what AQE does at runtime — a
  * 100 TB deployment wants both (CBO picks the right initial plan; AQE
  * repairs mis-estimates).
  */
class CboSpec extends SparkSpec {

  test("ANALYZE column stats flip a selectively-filtered join to broadcast") {
    val s = spark
    for (tbl <- Seq("graft_cbo_orders", "graft_cbo_lineitem"))
      operators.Catalog.dropWithLocation(s, tbl)
    Tables.load(s, sf, "orders").write.saveAsTable("graft_cbo_orders")
    Tables.load(s, sf, "lineitem").write.saveAsTable("graft_cbo_lineitem")
    s.sql("ANALYZE TABLE graft_cbo_orders COMPUTE STATISTICS FOR COLUMNS o_orderkey")
    s.sql("ANALYZE TABLE graft_cbo_lineitem COMPUTE STATISTICS")

    def plan(cbo: Boolean): String = {
      // static plans only: AQE would repair the estimate at runtime and
      // mask exactly the planning difference this test pins
      val confs = Seq(
        "spark.sql.cbo.enabled" -> cbo.toString,
        "spark.sql.adaptive.enabled" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "2048")
      val prev = confs.map { case (k, _) => k -> s.conf.get(k) }
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      try {
        s.sql("""
          SELECT count(*) FROM graft_cbo_lineitem l
          JOIN (SELECT * FROM graft_cbo_orders WHERE o_orderkey < 10) o
            ON l.l_orderkey = o.o_orderkey""")
          .queryExecution.sparkPlan.toString
      } finally prev.foreach { case (k, v) => s.conf.set(k, v) }
    }

    val without = plan(cbo = false)
    val withCbo = plan(cbo = true)
    assert(!without.contains("BroadcastHashJoin"),
      "size-only estimation must NOT see through the filter (test setup)")
    assert(withCbo.contains("BroadcastHashJoin"),
      "CBO with column stats must shrink the filtered side below the " +
        "broadcast threshold")
  }
}
