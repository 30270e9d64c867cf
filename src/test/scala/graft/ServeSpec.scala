package graft

import java.sql.{Connection, DriverManager, SQLException}
import java.util.concurrent.{CountDownLatch, TimeUnit}

/** Smoke + concurrency hardening for the EP2 serving endpoint: the real
  * HiveServer2 wire protocol over loopback (hive-jdbc client) against the
  * engine's catalog — the reference's Metabase-connects-to-Thrift
  * contract (docker-compose.yml:70-88) reduced to observable behavior.
  * One server per suite; each test opens FRESH connections.
  */
class ServeSpec extends SparkSpec {

  private val port = 10137
  private var server: org.apache.hive.service.server.HiveServer2 = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    // a populated run ledger BEFORE start → Serve registers the ml_runs
    // views (the BI path over experiment tracking)
    val root = operators.RunStore.defaultRoot(sf)
    operators.RunStore.reset(spark, root)
    operators.RunStore.log(spark, root, "serve-smoke-1", "linreg",
      Seq("lr" -> "0.1"),
      spark.range(1).selectExpr("0.5 AS r2", "42.0 AS sse"))
    operators.RunStore.log(spark, root, "serve-smoke-2", "logreg",
      Seq("lr" -> "0.01", "iters" -> "3"),
      spark.range(1).selectExpr("0.9 AS auc"))
    spark.conf.set("hive.server2.thrift.port", port.toString)
    server = Serve.start(spark, sf)
  }

  override def afterAll(): Unit = {
    if (server != null) server.stop()
    super.afterAll()
  }

  private def connect(): Connection = {
    Class.forName("org.apache.hive.jdbc.HiveDriver")
    // the server binds asynchronously; retry the fresh connection
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    var conn: Connection = null
    var last: Throwable = null
    while (conn == null && System.nanoTime() < deadline) {
      try conn = DriverManager.getConnection(
        s"jdbc:hive2://localhost:$port", "", "")
      catch { case e: Throwable => last = e; Thread.sleep(500) }
    }
    assert(conn != null, s"could not connect: $last")
    conn
  }

  test("fresh JDBC connection lists catalog tables and aggregates one") {
    val conn = connect()
    try {
      val st = conn.createStatement()
      // SHOW TABLES over the wire: the persistent-catalog dims
      // registered by Serve.start must be visible to a NEW session
      val rs = st.executeQuery("SHOW TABLES")
      val tables = Iterator.continually(rs)
        .takeWhile(_.next()).map(_.getString("tableName")).toSet
      assert(tables.contains("graft_cat_nation") &&
        tables.contains("graft_cat_region"),
        s"catalog dims missing from SHOW TABLES: $tables")

      // a named-table aggregate over the warehouse: 25 nations in 5
      // regions, exercised as a join so the endpoint runs a real plan
      val rs2 = st.executeQuery("""
        SELECT r.r_name, count(*) AS n
        FROM graft_cat_nation n JOIN graft_cat_region r
          ON n.n_regionkey = r.r_regionkey
        GROUP BY r.r_name ORDER BY r.r_name""")
      var rows = 0; var total = 0L
      while (rs2.next()) { rows += 1; total += rs2.getLong("n") }
      assert(rows == 5, s"expected 5 region groups, got $rows")
      assert(total == 25, s"expected 25 nations total, got $total")
    } finally conn.close()
  }

  test("parallel JDBC sessions run concurrently; ml_runs views served") {
    // two fresh sessions fire queries at the same time (latch-released)
    // and both must come back correct — Spark scheduler fair-sharing
    // across HiveServer2 sessions, nothing serialized at the endpoint
    val results = new java.util.concurrent.ConcurrentHashMap[String, Long]()
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val go = new CountDownLatch(1)
    val done = new CountDownLatch(2)
    def worker(name: String, sql: String): Thread = {
      val t = new Thread(() => {
        try {
          val c = connect()
          try {
            go.await(30, TimeUnit.SECONDS)
            val rs = c.createStatement().executeQuery(sql)
            assert(rs.next())
            results.put(name, rs.getLong(1))
          } finally c.close()
        } catch { case e: Throwable => errors.add(e) }
        finally done.countDown()
      })
      t.start(); t
    }
    worker("nations",
      "SELECT count(*) FROM graft_cat_nation n JOIN graft_cat_region r " +
        "ON n.n_regionkey = r.r_regionkey")
    // the run-ledger views registered from the populated RunStore:
    // 2 runs, 3 metrics rows total — queried as a JOIN like a BI tool
    worker("run_metrics",
      "SELECT count(*) FROM ml_runs r JOIN ml_metrics m " +
        "ON r.run_id = m.run_id")
    go.countDown()
    assert(done.await(120, TimeUnit.SECONDS), "workers timed out")
    assert(errors.isEmpty, s"worker errors: ${errors.peek()}")
    assert(results.get("nations") == 25L,
      s"nations join returned ${results.get("nations")}")
    assert(results.get("run_metrics") == 3L,
      s"ml_runs x ml_metrics returned ${results.get("run_metrics")}")
  }

  test("statement cancellation interrupts a running query; session survives") {
    val conn = connect()
    try {
      val st = conn.createStatement()
      // 25^6 ≈ 244M-row cross product: long enough to catch mid-flight
      val heavy = "SELECT count(*) FROM graft_cat_nation a, " +
        "graft_cat_nation b, graft_cat_nation c, graft_cat_nation d, " +
        "graft_cat_nation e, graft_cat_nation f"
      val canceller = new Thread(() => {
        Thread.sleep(1500); try st.cancel() catch { case _: Throwable => }
      })
      canceller.start()
      val t0 = System.nanoTime()
      val outcome =
        try { st.executeQuery(heavy); "completed" }
        catch { case _: SQLException => "cancelled" }
      canceller.join()
      val secs = (System.nanoTime() - t0) / 1e9
      // either the cancel landed (normal) or the box raced through the
      // cross product first — but a cancelled statement must not hang
      assert(outcome == "cancelled" || secs < 10,
        s"statement neither cancelled nor finished promptly (${secs}s)")
      // the SESSION must remain usable after a cancelled statement
      val rs = conn.createStatement()
        .executeQuery("SELECT count(*) FROM graft_cat_region")
      assert(rs.next() && rs.getLong(1) == 5,
        "connection unusable after cancel")
    } finally conn.close()
  }

  test("a JDBC session opens and closes in under 5 s with the ledger views") {
    // Serve.start registered the ml_runs views (beforeAll's ledger); a BI
    // tool that reconnects per dashboard refresh pays this round trip
    val t0 = System.nanoTime()
    val conn = connect()
    try {
      val rs = conn.createStatement().executeQuery("SELECT count(*) FROM ml_runs")
      assert(rs.next() && rs.getLong(1) == 2)
    } finally conn.close()
    val secs = (System.nanoTime() - t0) / 1e9
    assert(secs < 5, f"session open + query + close took $secs%.1f s")
  }

  test("no temp-view leakage between JDBC sessions (multi-session mode)") {
    // without the singleSession static conf (Serve.main's opt-in for
    // shared temp views), each connection owns its session state: a temp
    // view created on one connection must be invisible to another
    val a = connect(); val b = connect()
    try {
      a.createStatement().execute(
        "CREATE TEMPORARY VIEW leak_probe AS SELECT 1 AS x")
      val rsA = a.createStatement()
        .executeQuery("SELECT count(*) FROM leak_probe")
      assert(rsA.next() && rsA.getLong(1) == 1)
      val leaked =
        try { b.createStatement()
          .executeQuery("SELECT count(*) FROM leak_probe"); true }
        catch { case _: SQLException => false }
      assert(!leaked, "temp view leaked across JDBC sessions")
    } finally { a.close(); b.close() }
  }
}
