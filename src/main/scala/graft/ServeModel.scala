package graft

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets.UTF_8
import org.apache.spark.sql.SparkSession

/** EP3 — the model-serving HTTP endpoint. The reference DECLARES this
  * component but ships no implementation: model_server/Dockerfile:12
  * installs Flask+MLflow and CMDs a `serve.py` that does not exist in
  * the repo. The observable contract is a small HTTP service that loads
  * a trained model from the tracking registry and serves predictions;
  * this is that contract over the engine's own registry — the RunStore
  * ledger (the MLflow analog, operators/RunStore.scala), whose
  * `r1_ols_cents` run carries the OLS coefficients (b0, b1, b2) as
  * logged metrics.
  *
  * Scale stance: the MODEL is one row — loading it is a bounded
  * metadata collect (the legitimate kind), and each /predict is pure
  * driver-side arithmetic with zero Spark work per request. The
  * ENGINE's role ends at training + logging; at fleet scale this
  * process is a stateless replica reading the same ledger parquet.
  * JDK-only (com.sun.net.httpserver + hand-rolled JSON): the serving
  * tier adds no dependencies to the engine.
  */
object ServeModel {

  final case class OlsModel(runId: String, algo: String,
      b0: Double, b1: Double, b2: Double) {
    def predict(x1: Double, x2: Double): Double = b0 + b1 * x1 + b2 * x2
  }

  /** Load the OLS run from the ledger; if the registered model is
    * absent, run the engine's own logging query first (train + log,
    * ml_runs_log). "Absent" means the r1_ols_cents b0/b1/b2 METRICS are
    * missing — not merely the directory: a partial ledger (other runs
    * logged first, an interrupted log) would otherwise surface as an
    * opaque NoSuchElementException at server startup. Existence checks
    * go through the Hadoop FileSystem API to match RunStore.reset
    * (any supported FS, not just local). */
  def loadModel(spark: SparkSession, sfDir: String): OlsModel = {
    val root = RunStoreRoot(sfDir)
    def coeffs(): Option[Map[String, Double]] = {
      val p = new org.apache.hadoop.fs.Path(s"$root/metrics")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) None
      else {
        val m = spark.read.parquet(s"$root/metrics")
          .filter("run_id = 'r1_ols_cents'")
          .collect().map(r => r.getString(1) -> r.getDouble(2)).toMap
        if (Seq("b0", "b1", "b2").forall(m.contains)) Some(m) else None
      }
    }
    val m = coeffs().getOrElse {
      try SparkEntry.queries("ml_runs_log")(spark, sfDir).collect()
      catch {
        case t: Throwable => throw new IllegalStateException(
          s"model registry at $root has no registered r1_ols_cents model " +
            s"and training from sfDir=$sfDir failed", t)
      }
      coeffs().getOrElse(throw new IllegalStateException(
        s"model registry at $root has no r1_ols_cents b0/b1/b2 metrics " +
          s"even after training via ml_runs_log — check sfDir ($sfDir)"))
    }
    val algo = spark.read.parquet(s"$root/runs")
      .filter("run_id = 'r1_ols_cents'")
      .collect().headOption.map(_.getString(1)).getOrElse("unknown")
    OlsModel("r1_ols_cents", algo, m("b0"), m("b1"), m("b2"))
  }

  private def RunStoreRoot(sfDir: String): String =
    operators.RunStore.defaultRoot(sfDir)

  /** Minimal JSON number extraction: first match of `"key": <number>`.
    * The accepted request shape is flat ({"x1": n, "x2": n}), so a
    * regex is exact here — no nesting, no strings-with-colons. */
  private def jsonNum(body: String, key: String): Option[Double] = {
    val re = ("\"" + key + "\"\\s*:\\s*(-?[0-9]+(?:\\.[0-9]+)?(?:[eE][+-]?[0-9]+)?)").r
    re.findFirstMatchIn(body).map(_.group(1).toDouble)
  }

  private def respond(ex: HttpExchange, code: Int, json: String): Unit = {
    val bytes = json.getBytes(UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }

  /** JSON string literal with escaping (error messages carry quotes). */
  private def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"'          => "\\\""
      case '\\'         => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c            => c.toString
    } + "\""

  /** JSON-safe double: Infinity/NaN are not valid JSON literals, so
    * ledger-view doubles serialize as null; /predict rejects non-finite
    * values explicitly instead. */
  private def jnum(d: Double): String =
    if (java.lang.Double.isFinite(d)) d.toString else "null"

  /** Every handler body runs guarded: an unhandled throw would leave
    * the HttpExchange unanswered and the client hanging on a half-open
    * connection — errors must come back as structured 500 JSON. */
  private def guarded(h: HttpExchange => Unit): HttpHandler =
    (ex: HttpExchange) =>
      try h(ex)
      catch {
        case t: Throwable =>
          try respond(ex, 500, s"""{"error":${jstr(t.toString.take(200))}}""")
          catch { case _: Throwable => () } // headers already sent
      }

  /** Start the endpoint; returns the server (callers stop()). The runs
    * snapshot for /runs is re-read per request — the ledger is
    * append-only metadata, and a fresh read serves newly-logged runs
    * without a restart (registry semantics, not a cache). */
  def start(spark: SparkSession, sfDir: String, port: Int): HttpServer = {
    val model = loadModel(spark, sfDir)
    val root = RunStoreRoot(sfDir)
    // TCP_NODELAY on accepted sockets: the response headers and body go
    // out as separate writes, and Nagle's algorithm would hold the body
    // until the client's delayed ACK (~40 ms per request). The JDK reads
    // the property once, in a static initializer, so it must be set
    // before the first HttpServer of the JVM is created.
    System.setProperty("sun.net.httpserver.nodelay", "true")
    val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)

    server.createContext("/health", guarded(ex =>
      respond(ex, 200,
        s"""{"status":"ok","model_run":"${model.runId}"}""")))

    server.createContext("/model", guarded(ex =>
      respond(ex, 200,
        s"""{"run_id":"${model.runId}","algo":"${model.algo}",""" +
          s""""b0":${jnum(model.b0)},"b1":${jnum(model.b1)},""" +
          s""""b2":${jnum(model.b2)}}""")))

    server.createContext("/runs", guarded { ex =>
      val rows = operators.RunStore.snapshot(spark, root)
        .orderBy("run_id", "metric")
        .collect() // ledger = model-sized metadata, bounded by design
        .map { r =>
          s"""{"run_id":"${r.getString(0)}","algo":"${r.getString(1)}",""" +
            s""""n_params":${r.getLong(2)},"metric":"${r.getString(3)}",""" +
            s""""value":${jnum(r.getDouble(4))}}"""
        }
      respond(ex, 200, rows.mkString("[", ",", "]"))
    })

    server.createContext("/predict", guarded { ex =>
      val body = new String(ex.getRequestBody.readAllBytes(), UTF_8)
      (jsonNum(body, "x1"), jsonNum(body, "x2")) match {
        case (Some(x1), Some(x2)) if java.lang.Double.isFinite(x1) &&
            java.lang.Double.isFinite(x2) =>
          val y = model.predict(x1, x2)
          if (java.lang.Double.isFinite(y))
            respond(ex, 200, s"""{"run_id":"${model.runId}","y":$y}""")
          else respond(ex, 500,
            """{"error":"prediction overflowed to a non-finite value"}""")
        case (Some(_), Some(_)) =>
          // a literal like 1e999 parses to Infinity — reject it before
          // it reaches the model and comes back as invalid JSON
          respond(ex, 400,
            """{"error":"x1 and x2 must be finite numbers"}""")
        case _ =>
          respond(ex, 400,
            """{"error":"expected JSON body with numeric x1 and x2"}""")
      }
    })

    server.setExecutor(java.util.concurrent.Executors.newFixedThreadPool(4))
    server.start()
    server
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val port = args.lift(1).map(_.toInt).getOrElse(5001) // reference port
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-serve-model")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", classOf[GraftExtensions].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    start(spark, sfDir, port)
    println(s"graft-serve-model: http://127.0.0.1:$port " +
      "(/health /model /runs /predict); kill to stop")
    Thread.currentThread().join()
  }
}
