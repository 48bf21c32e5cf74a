package perfbench

import graft.{Engine, HttpApi, InfluxJson}
import graft.ql.{Parser, SelectStmt, Translator}
import graft.sources.LineProtocol
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

/** The served state a workload's requests run against. */
final class Served(val engine: Engine, val api: HttpApi, val dataDir: Option[Path],
    val creds: Option[(String, String)]) {
  val client = new Client(api.boundPort, Loadgen.TimeoutMs)
  /** Keys of the set-up's warm-up requests, in the order they were sent. */
  val setupKeys = scala.collection.mutable.ArrayBuffer.empty[String]
  def close(): Unit = { api.stop(); engine.close() }
}

trait Workload {
  def name: String

  /** Make the run's inputs from the seed; not part of the set-up time. */
  def prepare(spark: SparkSession, dir: Path): Unit
  /** Engine, server, preload, CQ, auth and warm-up: the timed set-up. */
  def setup(spark: SparkSession, dir: Path): Served

  /** Numbered queries of the timed phase, and the closed-loop clients
    * that send them. */
  def queryGen(s: Served): Long => Req
  def clients(s: Served): Int
  /** Open-loop streams that run beside the queries. */
  def background(s: Served): Seq[Loadgen.Stream] = Nil
  /** Requests of the untimed closed loop that settles the JVM before the
    * timed phase. */
  def steadyGen(s: Served): Long => Req = queryGen(s)
  /** Background maintenance timer (interval ms and the pass). */
  def timer(s: Served): Option[(Long, () => Unit)] = None

  /** The request sequence of the traced pass, in due-time order. */
  def tracedSequence(s: Served, n: Int): Seq[Req]
  /** Drive one request through the layers' public functions; returns the
    * rows answered (queries) or points acknowledged (writes). */
  def direct(s: Served, t: Tracer, r: Req): Long

  /** Correctness checks, run after the timed phase: each failed check
    * with the number of wrong answers it found. */
  def check(spark: SparkSession, s: Served, samples: Seq[Sample]): Seq[(String, Long)]
  /** Points the set-up stored before the timed phase (durable workloads). */
  def preloadedPoints: Long = 0L
  /** Facts about the workload, recorded with every run. */
  def describe: Seq[(String, Any)]
}

object Workload {
  val Epoch = "ms"

  def all(seed: Long, cpus: Int): Map[String, Workload] = Map(
    "dashboard" -> new Dashboard(seed, cpus),
    "mixed" -> new Mixed(seed, cpus))

  def iso(epochSec: Long): String = java.time.Instant.ofEpochSecond(epochSec).toString

  def rng(seed: Long, i: Long, salt: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + salt)

  /** Index into `n` templates for request `i`: every block of `n`
    * consecutive requests holds each template once, in a seeded order, so
    * a run's template mix does not depend on its seed. */
  def cycled(seed: Long, i: Long, n: Int): Int = {
    val order = new scala.util.Random(rng(seed, Math.floorDiv(i, n.toLong), 2).nextLong())
      .shuffle((0 until n).toList)
    order(Math.floorMod(i, n.toLong).toInt)
  }

  def queryPath(q: String, db: String = "default", extra: String = ""): String =
    s"/query?db=$db&epoch=$Epoch&q=${Loadgen.urlEncode(q)}$extra"

  /** Fixed two-decimal rendering of integer cents (line-protocol floats). */
  def cents(c: Int): String = {
    val a = math.abs(c)
    (if (c < 0) "-" else "") + (a / 100) + "." + (if (a % 100 < 10) "0" else "") + (a % 100)
  }

  /** `rows` in a JSON response body: values arrays across every series. */
  def rowCount(body: String): Long = {
    var n = 0L
    var i = body.indexOf("\"values\":[")
    while (i >= 0) {
      var j = i + 10
      var depth = 1
      while (depth > 0 && j < body.length) {
        body.charAt(j) match {
          case '[' => if (depth == 1) n += 1; depth += 1
          case ']' => depth -= 1
          case '"' => j = body.indexOf('"', j + 1) // values hold no escaped quotes
          case _ => ()
        }
        j += 1
      }
      i = body.indexOf("\"values\":[", j)
    }
    n
  }

  /** Send set-up requests, `parallel` at a time; any failure fails the
    * set-up. */
  def warmUp(s: Served, reqs: Seq[Req], parallel: Int): Unit = {
    s.setupKeys ++= reqs.map(_.key)
    parMap(reqs, parallel) { r =>
      val x = s.client.send(r, System.nanoTime())
      require(x.ok, s"warm-up ${r.template} failed: ${x.error}")
    }
  }

  /** `f` over `xs` on `threads` threads, results in input order. */
  def parMap[A, B](xs: Seq[A], threads: Int)(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try xs.map(x => pool.submit(() => f(x))).map(_.get())
    finally pool.shutdown()
  }

  /** Share of the queries in `timed` that repeat one the server had
    * already answered: one of the `earlier` keys (everything sent before
    * the phase, warm-up included) or an earlier query of the phase. */
  def repeatShare(earlier: Seq[String], timed: Seq[Sample]): Double = {
    val seen = scala.collection.mutable.HashSet.from(earlier)
    val qs = timed.filter(_.req.kind == "query").sortBy(_.dueNs)
    qs.count(x => !seen.add(x.req.key)).toDouble / math.max(1, qs.size)
  }

  def sha1(s: String): String =
    java.security.MessageDigest.getInstance("SHA-1").digest(s.getBytes(UTF_8))
      .map(b => f"$b%02x").mkString

  /** The traced query chain, in `HttpApi.handleQuery` order: parse, the
    * auth gate, then per statement translate and serialize (the body
    * `Engine.queryJsonStream` / `queryJsonChunked` writes). */
  def directQuery(s: Served, t: Tracer, q: String, chunkSize: Option[Int]): String = {
    val stmts = t.span("ql.parse")(Parser.parseAll(q))
    s.creds.foreach { case (u, pw) =>
      t.span("cluster.auth") {
        require(s.engine.users.authenticate(u, pw), "authentication failed")
        require(stmts.forall(st => s.engine.isAuthorized(u, st, "default")), "forbidden")
      }
    }
    val w = new java.io.StringWriter
    if (chunkSize.isEmpty) w.write("""{"results":[""")
    stmts.zipWithIndex.foreach { case (st, i) =>
      if (i > 0 && chunkSize.isEmpty) w.write(",")
      st match {
        case sel: SelectStmt =>
          val df = t.span("ql.translate")(s.engine.executeStmt(sel))
          val name = Translator.measurementName(sel.from)
          t.span("InfluxJson.serialize") {
            chunkSize match {
              case Some(cs) => InfluxJson.serializeChunked(name, df, w, cs,
                sel.groupByTags, Some(Epoch), timeDesc = sel.orderDesc, sid = i)
              case None => InfluxJson.serializeStreamResult(name, df, w,
                sel.groupByTags, Some(Epoch), timeDesc = sel.orderDesc, sid = i)
            }
          }
        case other =>
          val df = t.span("ql.translate")(s.engine.executeStmt(other))
          if (chunkSize.nonEmpty) w.write("""{"results":[""")
          t.span("InfluxJson.serialize")(InfluxJson.serializeStreamResult("results", df, w, sid = i))
          if (chunkSize.nonEmpty) w.write("]}\n")
      }
    }
    if (chunkSize.isEmpty) w.write("]}")
    w.toString
  }

  private val writeLock = new Object

  /** The traced write chain, in `HttpApi.handleWrite` order: gunzip and
    * split, the auth gate, group by measurement, then one engine write per
    * measurement under the write lock. Returns the points acknowledged. */
  def directWrite(s: Served, t: Tracer, body: Array[Byte]): Long = {
    val lines = t.span("HttpApi.decode")(LineProtocol.splitLines(LineProtocol.gunzip(body)))
    s.creds.foreach { case (u, pw) =>
      t.span("cluster.auth") {
        require(s.engine.users.authenticate(u, pw) &&
          s.engine.users.authorize(u, "default", "WRITE"), "forbidden")
      }
    }
    val groups = t.span("HttpApi.route")(lines.groupBy(LineProtocol.measurementOf))
    writeLock.synchronized {
      groups.toSeq.sortBy(_._1).map { case (m, ls) =>
        t.span("Engine.write") {
          s.engine.setRetentionPolicy(m, "default", "autogen")
          val (ok, bad) = s.engine.writeLineProtocol(ls, m, "ns")
          require(bad == 0, s"$bad points rejected")
          ok
        }
      }.sum
    }
  }

  /** Canonical answer of a query, straight from the engine. */
  def engineAnswer(e: Engine, q: String, chunkSize: Option[Int]): String = {
    val w = new java.io.StringWriter
    chunkSize match {
      case Some(cs) => e.queryJsonChunked(q, w, cs, Some(Epoch))
      case None     => e.queryJsonStream(q, w, Some(Epoch))
    }
    w.toString
  }

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val walk = Files.walk(p)
    try walk.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.deleteIfExists(f))
    finally walk.close()
  }

  /** (parquet files, bytes) under a directory. */
  def storeStats(dir: Path): (Long, Long) = if (!Files.exists(dir)) (0L, 0L) else {
    val walk = Files.walk(dir)
    try {
      var n = 0L; var b = 0L
      walk.filter(f => Files.isRegularFile(f)).forEach { f =>
        if (f.getFileName.toString.endsWith(".parquet")) { n += 1; b += Files.size(f) }
      }
      (n, b)
    } finally walk.close()
  }

  def dirBytes(dir: Path): Long = if (!Files.exists(dir)) 0L else {
    val walk = Files.walk(dir)
    try walk.filter(f => Files.isRegularFile(f)).mapToLong(f => Files.size(f)).sum()
    finally walk.close()
  }
}
