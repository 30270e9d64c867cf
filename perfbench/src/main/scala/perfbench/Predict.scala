package perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import scala.collection.mutable.ArrayBuffer

/** `graft.ServeModel` co-located with every workload, and one open-loop
  * `/predict` generator at a fixed rate. Each request is timed from its
  * scheduled send time, so a stalled endpoint shows as latency on every
  * request scheduled behind it (no coordinated omission); how late the
  * generator itself sent is reported as `predict.gen_lag_ms`.
  *
  * The reference documents no serving traffic, so the rate is a choice:
  * 20 requests/s gives a few hundred samples per run, and its 50 ms
  * period stays above the endpoint's ~45 ms per-request floor (see
  * README), so one sender thread can keep up. */
final class Predict(run: Run) {
  val RatePerS = 20.0

  private val port = Predict.freePort()
  private val (_, startSpan) = run.trace.span("servemodel.start") {
    graft.ServeModel.start(run.spark, run.sfDir, port)
  }
  run.put("servemodel.start_s", startSpan.seconds)

  private val (b0, b1, b2) = {
    val body = Predict.get(s"http://127.0.0.1:$port/model")
    def num(k: String) = Predict.number(body, k)
      .getOrElse(throw new IllegalStateException(s"/model lacks $k: $body"))
    (num("b0"), num("b1"), num("b2"))
  }

  private val latencies = ArrayBuffer[Double]()
  private val lags = ArrayBuffer[Double]()
  private var bad = 0L
  @volatile private var running = false
  private var thread: Thread = _

  def startLoad(): Unit = {
    running = true
    val rnd = new scala.util.Random(run.seed * 7919 + 1)
    thread = new Thread(() => {
      val periodNs = (1e9 / RatePerS).toLong
      var client = new KeepAlive(port)
      val start = System.nanoTime()
      var i = 0L
      while (running) {
        val due = start + i * periodNs
        val wait = due - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        if (running) {
          val sent = System.nanoTime()
          val x1 = rnd.between(1.0, 500.0); val x2 = rnd.between(0.0, 50.0)
          val ok =
            try {
              val body = client.post("/predict", s"""{"x1": $x1, "x2": $x2}""")
              val y = Predict.number(body, "y")
              val want = b0 + b1 * x1 + b2 * x2
              y.exists(v => math.abs(v - want) <= 1e-9 * math.max(1.0, math.abs(want)))
            } catch {
              case _: Throwable =>
                client.close(); client = new KeepAlive(port); false
            }
          val done = System.nanoTime()
          latencies.synchronized {
            latencies += (done - due) / 1e6
            lags += (sent - due) / 1e6
            if (!ok) bad += 1
          }
        }
        i += 1
      }
      client.close()
    }, "perfbench-predict")
    thread.setDaemon(true)
    thread.start()
  }

  def stopLoad(): Unit = { running = false; thread.join() }

  def report(): Unit = latencies.synchronized {
    run.put("predict_p50_ms", Stats.median(latencies.toSeq))
    run.put("predict.p95_ms", Stats.quantile(latencies.toSeq, 0.95))
    run.put("predict.p99_ms", Stats.quantile(latencies.toSeq, 0.99))
    run.put("predict.samples", latencies.size.toDouble)
    run.put("predict.gen_lag_ms", Stats.quantile(lags.toSeq, 0.99))
    run.attempted += latencies.size
    run.failed += bad
    run.check("predict: y = b0 + b1*x1 + b2*x2 for every response",
      bad == 0 && latencies.nonEmpty, s"$bad of ${latencies.size} responses wrong")
  }
}

object Predict {
  /** The numeric field `k` of a JSON object body. */
  def number(body: String, k: String): Option[Double] =
    Option(Util.json.readTree(body).get(k)).filter(_.isNumber).map(_.asDouble)

  def freePort(): Int = {
    val s = new java.net.ServerSocket(0)
    try s.getLocalPort finally s.close()
  }

  /** GET on a fresh connection; returns the response body. */
  def get(url: String): String = {
    val c = URI.create(url).toURL.openConnection().asInstanceOf[HttpURLConnection]
    c.setConnectTimeout(10000); c.setReadTimeout(60000)
    val code = c.getResponseCode
    val in = if (code < 400) c.getInputStream else c.getErrorStream
    val s = try new String(in.readAllBytes(), UTF_8) finally in.close()
    if (code != 200) throw new IllegalStateException(s"HTTP $code: $s")
    s
  }
}

/** A keep-alive HTTP/1.1 client on one socket that writes each request
  * in a single segment (TCP_NODELAY), so the measured latency is the
  * endpoint's and not a Nagle/delayed-ACK stall of the client's own
  * header-then-body writes. */
final class KeepAlive(port: Int) {
  private val sock = new java.net.Socket("127.0.0.1", port)
  sock.setTcpNoDelay(true)
  sock.setSoTimeout(60000)
  private val in = new java.io.BufferedInputStream(sock.getInputStream)
  private val out = sock.getOutputStream

  def post(path: String, body: String): String = {
    val b = body.getBytes(UTF_8)
    val head = s"POST $path HTTP/1.1\r\nHost: 127.0.0.1:$port\r\n" +
      s"Content-Type: application/json\r\nContent-Length: ${b.length}\r\n\r\n"
    out.write(head.getBytes(UTF_8) ++ b)
    out.flush()
    val status = line()
    var len = 0
    var l = line()
    while (l.nonEmpty) {
      val i = l.indexOf(':')
      if (i > 0 && l.substring(0, i).trim.equalsIgnoreCase("content-length"))
        len = l.substring(i + 1).trim.toInt
      l = line()
    }
    val resp = new String(in.readNBytes(len), UTF_8)
    if (!status.contains(" 200 ")) throw new IllegalStateException(s"$status: $resp")
    resp
  }

  private def line(): String = {
    val sb = new StringBuilder
    var c = in.read()
    while (c != '\n' && c != -1) { if (c != '\r') sb += c.toChar; c = in.read() }
    sb.toString
  }

  def close(): Unit = sock.close()
}
