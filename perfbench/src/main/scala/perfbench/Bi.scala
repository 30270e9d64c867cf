package perfbench

import java.sql.{Connection, DriverManager}
import scala.collection.mutable.ArrayBuffer
import scala.util.Random

/** The BI phase of `dag_serve`: `graft.Serve` (HiveServer2 over the
  * session) next to the co-located `graft.ServeModel`; three closed-loop
  * hive-jdbc clients cycle through the BI templates in a seeded order
  * (so every run sees the same mix) with fresh seeded parameters per
  * statement. Every template returns only BIGINT and
  * STRING columns so the rows compare exactly against the same SQL run
  * in-process. Needs the RunStore ledger (the DAG's train_and_log). */
final class Bi(run: Run) {
  val Clients = 3
  val ChecksPerTemplate = 1
  private val spark = run.spark
  private val port = Predict.freePort()

  private case class Stmt(template: String, sql: String,
      executeMs: Double, fetchMs: Double,
      rows: Seq[String], error: Option[String]) {
    def ms: Double = executeMs + fetchMs
  }
  private val stmts = ArrayBuffer[Stmt]()

  /** Template name → SQL with fresh parameters from `r`. */
  val templates: Seq[(String, Random => String)] = Seq(
    "revenue_by_region" -> { r =>
      val y = 1995 + r.nextInt(6); val m = 1 + r.nextInt(10)
      f"""SELECT r_name, date_format(l_shipdate, 'yyyy-MM') AS ship_month,
         |  sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)) AS revenue_cents,
         |  count(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE l_shipdate >= TIMESTAMP '$y-$m%02d-01'
         |  AND l_shipdate < TIMESTAMP '$y-$m%02d-01' + INTERVAL 3 MONTHS
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    "segment_topk" -> { r =>
      val y = 1995 + r.nextInt(6); val k = 3 + r.nextInt(8)
      s"""WITH cs AS (
         |  SELECT c_mktsegment, c_custkey,
         |         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS spend_cents
         |  FROM customer JOIN orders ON c_custkey = o_custkey
         |  WHERE o_orderdate >= TIMESTAMP '$y-01-01' AND o_orderdate < TIMESTAMP '${y + 1}-01-01'
         |  GROUP BY 1, 2)
         |SELECT c_mktsegment, c_custkey, spend_cents, CAST(rnk AS BIGINT) AS rnk FROM (
         |  SELECT *, row_number() OVER (PARTITION BY c_mktsegment
         |    ORDER BY spend_cents DESC, c_custkey) AS rnk FROM cs)
         |WHERE rnk <= $k ORDER BY 1, 4""".stripMargin
    },
    "point_lookup" -> { r =>
      val key = r.nextInt((1500000 * Main.Sf).toInt)
      s"""SELECT o_orderkey, o_custkey, o_orderstatus,
         |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
         |  date_format(o_orderdate, 'yyyy-MM-dd') AS order_date
         |FROM orders WHERE o_orderkey = $key""".stripMargin
    },
    "lineitem_range_agg" -> { r =>
      val day = java.time.LocalDate.of(1995, 1, 2).plusDays(r.nextInt(2300))
      val days = 30 + r.nextInt(61)
      s"""SELECT l_returnflag, l_linestatus, count(*) AS n,
         |  sum(CAST(l_quantity AS BIGINT)) AS qty,
         |  sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '$day' AND l_shipdate < TIMESTAMP '$day' + INTERVAL $days DAYS
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin
    },
    "catalog_ledger" -> { r =>
      val k = r.nextInt(25)
      s"""SELECT rg.r_name, n.n_name, u.run_id, m.metric,
         |  CAST(round(m.value * 1000000) AS BIGINT) AS micro
         |FROM graft_cat_nation n
         |JOIN graft_cat_region rg ON n.n_regionkey = rg.r_regionkey
         |CROSS JOIN ml_runs u
         |JOIN ml_metrics m ON m.run_id = u.run_id
         |WHERE n.n_nationkey = $k
         |ORDER BY 3, 4""".stripMargin
    })

  private var conns: Seq[java.util.concurrent.Future[(Connection, Double)]] = Nil
  private lazy val clients: Seq[(Connection, Double)] = conns.map(_.get())

  /** Start the endpoint, then open the clients' connections in the
    * background (opening a session is slow; see `bi.connect_ms`). The
    * ledger tables are registered later by [[exposeLedger]]. */
  def setup(): Unit = {
    spark.conf.set("hive.server2.thrift.port", port.toString)
    val (_, sp) = run.trace.span("serve.start")(graft.Serve.start(spark, run.sfDir))
    run.put("serve.start_s", sp.seconds)
    Class.forName("org.apache.hive.jdbc.HiveDriver")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(Clients)
    conns = (0 until Clients).map(_ => pool.submit(() => {
      val t0 = System.nanoTime()
      val deadline = t0 + 120e9.toLong
      var c: Connection = null
      while (c == null) {
        try c = connect()
        catch {
          case e: Throwable =>
            if (System.nanoTime() > deadline) throw e
            Thread.sleep(200)
        }
      }
      (c, (System.nanoTime() - t0) / 1e6)
    }))
    pool.shutdown()
  }

  /** Register the RunStore ledger as the ml_runs tables, as Serve.start
    * does when the ledger already exists at start. */
  def exposeLedger(): Unit = {
    val root = graft.operators.RunStore.defaultRoot(run.sfDir)
    graft.operators.RunStore.registerViews(spark, root)
  }

  private def connect(): Connection =
    DriverManager.getConnection(s"jdbc:hive2://127.0.0.1:$port", "", "")

  /** Execute and fetch every row as a string ("\\N" for NULL). */
  private def execute(c: Connection, sql: String): (Double, Double, Seq[String]) = {
    val st = c.createStatement()
    try {
      val t0 = System.nanoTime()
      val rs = st.executeQuery(sql)
      val t1 = System.nanoTime()
      val n = rs.getMetaData.getColumnCount
      val rows = ArrayBuffer[String]()
      while (rs.next())
        rows += (1 to n).map(i => Option(rs.getString(i)).getOrElse("\\N")).mkString("|")
      val t2 = System.nanoTime()
      ((t1 - t0) / 1e6, (t2 - t1) / 1e6, rows.toSeq)
    } finally st.close()
  }

  /** Wait for the connections, then each template once, untimed. */
  def warmup(): Unit = {
    run.put("bi.connect_ms", Stats.median(clients.map(_._2)))
    val r = new Random(run.seed + 99)
    for ((_, t) <- templates) execute(clients.head._1, t(r))
  }

  def measure(seconds: Double): Unit = {
    val before = run.trace.totals
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val t0 = System.nanoTime()
    val threads = (0 until Clients).map { id =>
      val th = new Thread(() => {
        val r = new Random(run.seed * 1000003 + id)
        val order = r.shuffle(templates)
        val c = clients(id)._1
        var i = 0
        // whole rounds only, so every run weighs the templates equally
        while (System.nanoTime() < deadline || i % order.size != 0) {
          val (name, t) = order(i % order.size)
          i += 1
          val sql = t(r)
          val s =
            try {
              val (e, f, rows) = execute(c, sql)
              Stmt(name, sql, e, f, rows, None)
            } catch {
              case ex: Throwable =>
                Stmt(name, sql, 0, 0, Nil, Some(ex.toString.take(200)))
            }
          stmts.synchronized(stmts += s)
        }
      }, s"perfbench-bi-$id")
      th.start(); th
    }
    threads.foreach(_.join())
    val windowS = (System.nanoTime() - t0) / 1e9
    if (run.trace.enabled) {
      val after = run.trace.totals
      val n = math.max(1, stmts.size).toDouble
      run.put("bi.jobs_per_stmt", (after("jobs") - before("jobs")) / n)
      run.put("bi.tasks_per_stmt", (after("tasks") - before("tasks")) / n)
      run.put("bi.scan_bytes_per_stmt", (after("scan_bytes") - before("scan_bytes")) / n)
    }
    val ok = stmts.filter(_.error.isEmpty).toSeq
    stmts.foreach(s => run.op(s.error.isEmpty))
    val perTemplate = templates.map(_._1).map(n => n -> ok.filter(_.template == n))
    Common.putOps(run, ok.map(_.ms),
      perTemplate.filter(_._2.nonEmpty).map(p => Stats.median(p._2.map(_.ms))),
      busyS = windowS)
    if (run.trace.enabled)
      for ((n, ss) <- perTemplate) {
        run.put(s"bi.execute_ms.$n", Stats.median(ss.map(_.executeMs)))
        run.put(s"bi.fetch_ms.$n", Stats.median(ss.map(_.fetchMs)))
      }
  }

  /** Row checks: a sample of each template against in-process SQL. */
  def verify(): Unit = {
    val errors = stmts.flatMap(_.error)
    run.check("bi: every statement succeeded", errors.isEmpty,
      s"${errors.size} failed, first: ${errors.headOption.getOrElse("")}")
    for ((name, _) <- templates) {
      val sample = stmts.filter(s => s.template == name && s.error.isEmpty)
        .take(ChecksPerTemplate)
      run.check(s"bi: $name was executed", sample.nonEmpty, "no statement")
      for (s <- sample) {
        val local = spark.sql(s.sql).collect().map(r =>
          r.toSeq.map(v => if (v == null) "\\N" else v.toString).mkString("|")).toSeq
        run.check(s"bi: $name rows match in-process SQL", local.sorted == s.rows.sorted,
          s"jdbc ${s.rows.size} rows, in-process ${local.size}; sql: ${s.sql.take(120)}")
      }
    }
  }
}
