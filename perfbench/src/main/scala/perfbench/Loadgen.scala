package perfbench

import java.net.{HttpURLConnection, URI}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.{ConcurrentLinkedQueue, LinkedBlockingQueue}
import java.util.concurrent.atomic.AtomicLong
import java.util.concurrent.locks.LockSupport
import scala.jdk.CollectionConverters._

/** One request as the program sees it: a path with its query string, an
  * optional body, and the headers a client would send. `key` identifies
  * identical queries (the repeat share and the answer check group by it);
  * `points` is the number of line-protocol points a write carries. */
final case class Req(kind: String, template: String, path: String,
    body: Array[Byte] = null, headers: Seq[(String, String)] = Nil,
    key: String = "", points: Int = 0, seq: Long = -1L)

/** What one request cost and returned. Times are `System.nanoTime`;
  * `dueNs` is the open-loop schedule time (the send time in closed loop),
  * so latency from due time includes any queueing behind busy clients. */
final case class Sample(req: Req, dueNs: Long, startNs: Long, endNs: Long,
    status: Int, bytes: Long, digest: String, error: String) {
  def latencyMs: Double = (endNs - dueNs) / 1e6
  def ok: Boolean = error == null && status >= 200 && status < 300
  def timedOut: Boolean = error != null && error.startsWith("timeout")
}

object Stats {
  /** Nearest-rank percentile of an unsorted sample (`p` in 0..100). */
  def pct(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }
  /** Harrell-Davis estimate of the `p`th percentile: a Beta-weighted mean
    * of all order statistics. On the few dozen samples of a run it moves
    * less from run to run than a single order statistic does. */
  def hd(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val n = s.size
      val a = p / 100.0 * (n + 1)
      val b = (1 - p / 100.0) * (n + 1)
      def cdf(x: Double) = org.apache.commons.math3.special.Beta.regularizedBeta(x, a, b)
      s.indices.map(i => (cdf((i + 1).toDouble / n) - cdf(i.toDouble / n)) * s(i)).sum
    }
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** A minimal JSON writer: the benchmark's output is flat maps of numbers,
  * strings and nested maps, so a dependency would buy nothing. */
object Json {
  def str(s: String): String = s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c    => c.toString
  }.mkString("\"", "", "\"")

  def value(v: Any): String = v match {
    case null                => "null"
    case s: String           => str(s)
    case b: Boolean          => b.toString
    case d: Double           => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number           => n.toString
    case m: Map[_, _]        => obj(m.toSeq.map { case (k, x) => k.toString -> x })
    case xs: Seq[_]          => xs.map(value).mkString("[", ",", "]")
    case other               => str(other.toString)
  }

  def obj(kvs: Seq[(String, Any)]): String =
    kvs.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}

/** Blocking HTTP/1.1 client over `HttpURLConnection`: one connection per
  * client thread at a time (the JDK keeps it alive between requests), so
  * `clients` threads never hold more than `clients` connections. A request
  * that has not answered within `timeoutMs` counts as a client timeout. */
final class Client(port: Int, timeoutMs: Int) {
  private val base = s"http://127.0.0.1:$port"

  def send(r: Req, dueNs: Long): Sample = {
    val start = System.nanoTime()
    var status = -1
    var bytes = 0L
    var digest: String = null
    var error: String = null
    try {
      val c = URI.create(base + r.path).toURL.openConnection().asInstanceOf[HttpURLConnection]
      c.setConnectTimeout(timeoutMs)
      c.setReadTimeout(timeoutMs)
      r.headers.foreach { case (k, v) => c.setRequestProperty(k, v) }
      if (r.body != null) {
        c.setRequestMethod("POST")
        c.setDoOutput(true)
        c.setFixedLengthStreamingMode(r.body.length)
        val out = c.getOutputStream
        try out.write(r.body) finally out.close()
      }
      status = c.getResponseCode
      val in = if (status >= 400) c.getErrorStream else c.getInputStream
      val md = java.security.MessageDigest.getInstance("SHA-1")
      val head = new java.io.ByteArrayOutputStream()
      if (in != null) {
        try {
          val buf = new Array[Byte](1 << 16)
          var n = in.read(buf)
          while (n >= 0) {
            md.update(buf, 0, n); bytes += n
            if (head.size < 300) head.write(buf, 0, math.min(n, 300))
            n = in.read(buf)
          }
        } finally in.close()
      }
      digest = md.digest().map(b => f"$b%02x").mkString
      if (status >= 400) error = s"http $status: " + head.toString(UTF_8).take(300).trim
    } catch {
      case _: java.net.SocketTimeoutException => error = "timeout"
      case e: Exception => error = e.getClass.getSimpleName + ": " + e.getMessage
    }
    val end = System.nanoTime()
    if (error == null && (status < 200 || status >= 300))
      error = s"http $status"
    Sample(r, dueNs, start, end, status, bytes, digest, error)
  }
}

object Loadgen {
  val TimeoutMs = 10000 // the reference's per-node timeout (coordinator.go)

  /** One open-loop stream: request `i` is due at `i / rateHz` seconds after
    * the phase starts, whether or not earlier requests have answered;
    * `workers` client threads take due requests in order. */
  final case class Stream(name: String, rateHz: Double, workers: Int, gen: Long => Req)

  final case class OpenResult(samples: Seq[Sample], lagMs: Seq[Double])

  /** Run open-loop streams side by side for `seconds`, then let in-flight
    * requests finish (each is bounded by the client timeout). `lagMs` is how
    * late the generator itself handed each request to the client pool. */
  def openLoop(client: Client, streams: Seq[Stream], seconds: Double): OpenResult = {
    val t0 = System.nanoTime() + 20000000L // 20 ms to start every thread
    val endNs = t0 + (seconds * 1e9).toLong
    val samples = new ConcurrentLinkedQueue[Sample]()
    val lags = new ConcurrentLinkedQueue[java.lang.Double]()
    val threads = streams.flatMap { s =>
      val q = new LinkedBlockingQueue[(Req, Long)]()
      val poison = (Req("stop", "", ""), 0L)
      val dispatcher = new Thread(() => {
        var i = 0L
        var due = t0
        while (due < endNs) {
          val wait = due - System.nanoTime()
          if (wait > 0) LockSupport.parkNanos(wait)
          lags.add((System.nanoTime() - due) / 1e6)
          q.put((s.gen(i), due))
          i += 1
          due = t0 + (i * 1e9 / s.rateHz).toLong
        }
        (1 to s.workers).foreach(_ => q.put(poison))
      }, s"perfbench-open-${s.name}")
      val workers = (1 to s.workers).map { w =>
        new Thread(() => {
          var item = q.take()
          while (item ne poison) {
            samples.add(client.send(item._1, item._2))
            item = q.take()
          }
        }, s"perfbench-${s.name}-$w")
      }
      dispatcher +: workers
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    OpenResult(samples.asScala.toSeq.sortBy(_.dueNs), lags.asScala.map(_.doubleValue).toSeq)
  }

  final case class ClosedResult(samples: Seq[Sample], seconds: Double)

  /** `clients` threads each send their next request as soon as the last
    * one answered, for `seconds`; requests are numbered from one shared
    * counter so the sequence is the seed's, whichever client sends it. */
  def closedLoop(client: Client, clients: Int, seconds: Double,
      gen: Long => Req, firstSeq: Long): ClosedResult = {
    val next = new AtomicLong(firstSeq)
    val samples = new ConcurrentLinkedQueue[Sample]()
    val t0 = System.nanoTime()
    val endNs = t0 + (seconds * 1e9).toLong
    val threads = (1 to clients).map { c =>
      new Thread(() => {
        while (System.nanoTime() < endNs) {
          val r = gen(next.getAndIncrement())
          samples.add(client.send(r, System.nanoTime()))
        }
      }, s"perfbench-closed-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    ClosedResult(samples.asScala.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  /** One timed phase: `clients` closed-loop clients (`fg`) beside the
    * open-loop `background` streams (`bg`). */
  final case class Phase(fg: ClosedResult, bg: OpenResult) {
    def samples: Seq[Sample] = fg.samples ++ bg.samples
  }

  def phase(client: Client, clients: Int, gen: Long => Req, background: Seq[Stream],
      seconds: Double): Phase = {
    var bg = OpenResult(Nil, Nil)
    val bgThread = new Thread(() => bg = openLoop(client, background, seconds),
      "perfbench-background")
    bgThread.start()
    val fg = try closedLoop(client, clients, seconds, gen, 0L) finally bgThread.join()
    Phase(fg, bg)
  }

  /** Run `body` every `everyMs` on its own thread until the returned stop
    * function is called (which waits for a pass in progress to end). */
  def every(name: String, everyMs: Long)(body: => Unit): () => Seq[(Long, Long)] = {
    @volatile var stop = false
    val spans = new ConcurrentLinkedQueue[(Long, Long)]()
    val t = new Thread(() => {
      var next = System.nanoTime() + everyMs * 1000000L
      while (!stop) {
        val wait = next - System.nanoTime()
        if (wait > 0) LockSupport.parkNanos(math.min(wait, 50000000L))
        else {
          val s = System.nanoTime()
          body
          spans.add((s, System.nanoTime()))
          next += everyMs * 1000000L
        }
      }
    }, s"perfbench-$name")
    t.start()
    () => { stop = true; t.join(); spans.asScala.toSeq }
  }

  def urlEncode(s: String): String = java.net.URLEncoder.encode(s, UTF_8)

  def gzip(text: String): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val gz = new java.util.zip.GZIPOutputStream(bos)
    try gz.write(text.getBytes(UTF_8)) finally gz.close()
    bos.toByteArray
  }

  def basicAuth(user: String, pw: String): (String, String) =
    "Authorization" -> ("Basic " +
      java.util.Base64.getEncoder.encodeToString(s"$user:$pw".getBytes(UTF_8)))
}
