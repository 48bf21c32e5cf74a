package perfbench

import graft.{Engine, HttpApi}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.file.Path

/** Read-only InfluxQL dashboard over a seeded `events` measurement (100k
  * points, 5 tag values, 30 days) on a non-durable engine. Templates are
  * the oracle-proven `InfluxQLSuite` shapes over time windows drawn from a
  * small fixed set, so a known share of requests repeats an earlier one.
  * Warm-up and the untimed steady load use other windows than the timed
  * phase, so the timed requests repeat only each other (and the two
  * templates that have no window). */
final class Dashboard(seed: Long, cpus: Int) extends Workload {
  import Dashboard.Template
  import Workload._
  val name = "dashboard"

  val Points = 100000
  val Day = 86400L
  val Base = 1704067200L // 2024-01-01T00:00:00Z
  val WindowsPerTemplate = 2
  val ChunkSize = 1000
  private val chunkedSuffix = s"&chunked=true&chunk_size=$ChunkSize"

  private val templates = Seq(
    Template("iql_mean_1d", 7, (a, b) =>
      s"SELECT mean(value) FROM events WHERE time >= '$a' AND time < '$b' GROUP BY time(1d), event_type"),
    Template("iql_tz_fill", 14, (a, b) =>
      s"SELECT mean(value) FROM events WHERE time >= '$a' AND time < '$b' " +
        "GROUP BY time(1d) fill(0) tz('America/New_York')"),
    Template("iql_count_sum_1d", 7, (a, b) =>
      s"SELECT count(value), sum(value) FROM events WHERE event_type != 'purchase' " +
        s"AND time >= '$a' AND time < '$b' GROUP BY time(1d)"),
    Template("iql_selector_tag_bucket", 7, (a, b) =>
      s"SELECT first(value), event_type FROM events WHERE time >= '$a' AND time < '$b' GROUP BY time(1d)"),
    Template("iql_top_per_bucket", 7, (a, b) =>
      s"SELECT top(value, 2) FROM events WHERE time >= '$a' AND time < '$b' GROUP BY time(1d)"),
    Template("iql_percentile_per_bucket", 7, (a, b) =>
      s"SELECT percentile(value, 90) FROM events WHERE time >= '$a' AND time < '$b' " +
        "GROUP BY time(1d), event_type"),
    Template("iql_derivative_of_mean", 14, (a, b) =>
      s"SELECT derivative(mean(value), 1d) FROM events WHERE time >= '$a' AND time < '$b' " +
        "GROUP BY time(1d), event_type"),
    Template("iql_moving_avg", 1, (a, b) =>
      s"SELECT moving_average(value, 3) FROM events WHERE time >= '$a' AND time < '$b' GROUP BY event_type"),
    Template("iql_raw", 3, (a, b) =>
      s"SELECT value FROM events WHERE time >= '$a' AND time < '$b' AND event_type = 'click' " +
        "ORDER BY time ASC LIMIT 50"),
    Template("iql_show_tag_values", 0, (_, _) => "SHOW TAG VALUES"),
    Template("iql_show_series", 0, (_, _) => "SHOW SERIES"),
    Template("raw_week_chunked", 7, (a, b) =>
      s"SELECT value, user_id FROM events WHERE time >= '$a' AND time < '$b' AND event_type = 'error'",
      chunked = true),
    Template("two_statement", 3, (a, b) =>
      s"SELECT count(value) FROM events WHERE time >= '$a' AND time < '$b'; " +
        s"SELECT max(value) FROM events WHERE time >= '$a' AND time < '$b' GROUP BY event_type"))

  // the small fixed sets of windows, from the seed: per template, distinct
  // start days, the first WindowsPerTemplate for the timed phase and the
  // next WindowsPerTemplate for warm-up and steady load
  private val windows: Map[String, IndexedSeq[(String, String)]] = templates.map { t =>
    val starts = new scala.util.Random(rng(seed, t.name.hashCode.toLong, 17).nextLong())
      .shuffle((0 to 30 - t.days).toIndexedSeq)
    t.name -> (0 until 2 * WindowsPerTemplate).map { w =>
      val start = if (t.days == 0) 0 else starts(w)
      (iso(Base + start * Day), iso(Base + (start + t.days) * Day))
    }
  }.toMap

  /** Request `i`: templates cycle (see `cycled`); the window is drawn
    * from the template's timed set, or its warm set if `warm`. */
  def request(i: Long, warm: Boolean = false): Req =
    templateRequest(templates(cycled(seed, i, templates.size)),
      rng(seed, i, 1).nextInt(WindowsPerTemplate) + (if (warm) WindowsPerTemplate else 0))
      .copy(seq = i)

  private var inputDir: Path = _

  def prepare(spark: SparkSession, dir: Path): Unit = {
    inputDir = dir
    val h = (k: Int) => xxhash64(lit(seed), col("id"), lit(k))
    val slot = 30L * Day * 1000000L / Points
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
    try spark.range(0, Points, 1, cpus).select(
        col("id").as("event_id"),
        timestamp_micros(lit(Base * 1000000L) + col("id") * slot + pmod(h(1), lit(slot))).as("ts"),
        (pmod(h(2), lit(1500L)) + 1).as("user_id"),
        element_at(array(Seq("click", "view", "purchase", "signup", "error").map(lit): _*),
          (pmod(h(3), lit(5L)) + 1).cast("int")).as("event_type"),
        (pmod(h(4), lit(20000L)) / 100.0).as("value"),
        concat(lit("{\"k\": "), pmod(h(5), lit(100L)).cast("string"), lit("}")).as("props"))
      .coalesce(1).write.parquet(dir.resolve("events.parquet").toString)
    finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
  }

  def setup(spark: SparkSession, dir: Path): Served = {
    val engine = new Engine(spark, inputDir.toString)
    val served = new Served(engine, new HttpApi(engine).start(), None, None)
    warmUp(served, templates.map(t => templateRequest(t, WindowsPerTemplate)), cpus)
    served
  }

  private def templateRequest(t: Template, w: Int): Req = {
    val (a, b) = windows(t.name)(w)
    val q = t.q(a, b)
    val extra = if (t.chunked) chunkedSuffix else ""
    Req("query", t.name, queryPath(q, extra = extra), key = q + extra)
  }

  def queryGen(s: Served): Long => Req = i => request(i)
  def clients(s: Served): Int = cpus
  override def steadyGen(s: Served): Long => Req = i => request(i, warm = true)

  def tracedSequence(s: Served, n: Int): Seq[Req] = (0L until n).map(i => request(i))

  def direct(s: Served, t: Tracer, r: Req): Long = {
    val chunked = r.key.endsWith(chunkedSuffix)
    rowCount(directQuery(s, t, r.key.stripSuffix(chunkedSuffix), Option.when(chunked)(ChunkSize)))
  }

  def check(spark: SparkSession, s: Served, samples: Seq[Sample]): Seq[(String, Long)] =
    parMap(samples.filter(_.req.kind == "query").groupBy(_.req.key).toSeq.sortBy(_._1), cpus) {
      case (key, ss) =>
        val q = key.stripSuffix(chunkedSuffix)
        val want = sha1(engineAnswer(s.engine, q, Option.when(key.endsWith(chunkedSuffix))(ChunkSize)))
        val bad = ss.count(x => x.ok && x.digest != want)
        if (bad > 0) Seq(s"${ss.head.req.template}: $bad of ${ss.size} answers differ from the engine's for: $q" -> bad.toLong)
        else Nil
    }.flatten

  def describe: Seq[(String, Any)] = Seq(
    "points" -> Points, "tag_values" -> 5, "days" -> 30, "durable" -> false,
    "templates" -> templates.map(_.name), "windows_per_template" -> WindowsPerTemplate,
    "warm_windows_per_template" -> WindowsPerTemplate,
    "query_clients" -> cpus)
}

object Dashboard {
  /** A query shape over a window of `days` (0: no window). */
  final case class Template(name: String, days: Int, q: (String, String) => String,
      chunked: Boolean = false)
}
