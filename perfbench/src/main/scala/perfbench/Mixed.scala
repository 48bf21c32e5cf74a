package perfbench

import graft.{Engine, HttpApi}
import graft.sources.LineProtocol
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** Writes beside reads on one durable measurement: a bulk-loaded `cpu`
  * history (150,000 points, 250 hosts x 4 regions) with a continuous query
  * into `cpu_1m` and auth turned on; one Telegraf-style writer posts a
  * 1,000-point batch (one point per series) at a fixed interval while
  * dashboard queries over `cpu`, anchored at the write frontier, run
  * beside it and a timer runs `Engine.maintain()`. */
final class Mixed(seed: Long, cpus: Int) extends Workload {
  import Workload._
  val name = "mixed"

  val Hosts = 250
  val Regions = 4
  val Series = Hosts * Regions
  val History = 150 // points per series in the bulk load
  val StepS = 10L    // event-time step between a series' points
  val Base = 1706745600L // 2024-02-01T00:00:00Z
  // frozen rates: the writer posts WriteHz batches per second. Beside the
  // query clients a write takes about 2-2.5 s on 4 cores, so at one every
  // 10 s most queries run beside no write and the median query is not a
  // write's victim; the writes' cost shows in the tail and the throughput
  val WriteHz = 0.1
  val MaintainMs = 2000L
  // the traced pass runs its direct calls one at a time: a write before
  // every TracedQueriesPerWrite-th query, a maintenance pass after every
  // TracedQueriesPerMaintain-th
  val TracedQueriesPerWrite = 10
  val TracedQueriesPerMaintain = 5
  val Creds = ("app", "app-pw")
  val Cq = "CREATE CONTINUOUS QUERY cq_cpu_1m ON default BEGIN " +
    "SELECT mean(usage_user) INTO cpu_1m FROM cpu GROUP BY time(1m), host END"

  private val nextBatch = new AtomicLong(0L)
  // batches written outside the timed samples: the set-up's warm-up and
  // the traced pass's direct writes
  private val ackedUntimed = new ConcurrentLinkedQueue[java.lang.Long]()
  private var sfDir: Path = _
  private var lpDir: Path = _

  private def host(h: Int) = f"h$h%03d"
  private def frontierSec(batch: Long): Long = Base + (History + batch) * StepS

  /** One point per series at `tsSec`, values from `r`. */
  private def pointsAt(r: SplittableRandom, tsSec: Long): String = {
    val ts = tsSec * 1000000000L
    val sb = new StringBuilder(Series * 90)
    for (h <- 0 until Hosts; g <- 0 until Regions) {
      val user = r.nextInt(9000); val sys = r.nextInt(10000 - user)
      sb.append("cpu,host=").append(host(h)).append(",region=r").append(g)
        .append(" usage_user=").append(cents(user))
        .append(",usage_system=").append(cents(sys))
        .append(",usage_idle=").append(cents(10000 - user - sys))
        .append(' ').append(ts).append('\n')
    }
    sb.toString
  }

  /** Batch `k`: one point per series at the frontier `k` steps past the
    * history. */
  def batchText(k: Long): String = pointsAt(rng(seed, k, 7), frontierSec(k))

  private def write(k: Long): Req =
    Req("write", "telegraf_batch", "/write?db=default&precision=ns",
      body = Loadgen.gzip(batchText(k)),
      headers = Seq("Content-Encoding" -> "gzip", "Content-Type" -> "text/plain",
        Loadgen.basicAuth(Creds._1, Creds._2)),
      key = k.toString, points = Series, seq = k)

  // (name, (rng, frontier as RFC3339, frontier in epoch seconds) => query)
  private val templates: Seq[(String, (SplittableRandom, String, Long) => String)] = Seq(
    "mx_host_mean" -> ((r, f, fs) =>
      s"SELECT mean(usage_user) FROM cpu WHERE host = '${host(r.nextInt(Hosts))}' " +
        s"AND time >= '${iso(fs - 900)}' AND time <= '$f' GROUP BY time(1m)"),
    "mx_region_max" -> ((r, f, fs) =>
      s"SELECT max(usage_system) FROM cpu WHERE region = 'r${r.nextInt(Regions)}' " +
        s"AND time >= '${iso(fs - 300)}' AND time <= '$f' GROUP BY time(1m), host"),
    "mx_region_last" -> ((r, f, fs) =>
      s"SELECT last(usage_idle) FROM cpu WHERE region = 'r${r.nextInt(Regions)}' " +
        s"AND time >= '${iso(fs - 120)}' AND time <= '$f' GROUP BY host"),
    "mx_region_count" -> ((_, f, fs) =>
      s"SELECT count(usage_user) FROM cpu WHERE time >= '${iso(fs - 600)}' AND time <= '$f' " +
        "GROUP BY region"),
    "mx_show_tag_values" -> ((_, _, _) => "SHOW TAG VALUES FROM cpu WITH KEY = host"))

  /** Query `i`, its window ending at batch `batch`'s frontier. */
  private def query(i: Long, batch: Long): Req = {
    val r = rng(seed, i, 11)
    val (tpl, q) = templates(cycled(seed, i, templates.size))
    val fs = frontierSec(batch)
    val text = q(r, iso(fs), fs)
    Req("query", tpl, queryPath(text), headers = Seq(Loadgen.basicAuth(Creds._1, Creds._2)),
      key = text, seq = i)
  }

  /** The bulk-load history as line-protocol text, step `j` of every
    * series at `Base + j * StepS`, in `cpus` files so the load reads it in
    * parallel. */
  def prepare(spark: SparkSession, dir: Path): Unit = {
    sfDir = Files.createDirectories(dir.resolve("sf"))
    lpDir = Files.createDirectories(dir.resolve("lp"))
    (0 until History).groupBy(_ % cpus).foreach { case (f, steps) =>
      val w = Files.newBufferedWriter(lpDir.resolve(s"history-$f.lp"))
      try steps.foreach(j => w.write(pointsAt(rng(seed, j.toLong, 13), Base + j * StepS)))
      finally w.close()
    }
  }

  def setup(spark: SparkSession, dir: Path): Served = {
    nextBatch.set(0L); ackedUntimed.clear()
    val data = dir.resolve("data")
    val engine = new Engine(spark, sfDir.toString, Some(data.toString))
    val (ok, bad) = engine.ingestLineProtocolFiles(lpDir.toString, "cpu")
    require(ok == Series.toLong * History && bad == 0, s"bulk load: $ok ok, $bad bad")
    engine.execute(Cq)
    engine.execute("CREATE USER admin WITH PASSWORD 'admin-pw' WITH ALL PRIVILEGES")
    engine.execute(s"CREATE USER ${Creds._1} WITH PASSWORD '${Creds._2}'")
    engine.execute(s"GRANT ALL ON default TO ${Creds._1}")
    val served = new Served(engine, new HttpApi(engine).start(), Some(data), Some(Creds))
    val b0 = nextBatch.getAndIncrement()
    warmUp(served, Seq(write(b0)), 1)
    ackedUntimed.add(b0)
    warmUp(served, templates.indices.map(i => query(i.toLong, b0)), cpus - 1)
    served
  }

  private def writerStream(): Loadgen.Stream =
    Loadgen.Stream("write", WriteHz, 1, _ => write(nextBatch.getAndIncrement()))

  def clients(s: Served): Int = cpus - 1
  /** Each query is anchored at the last batch handed to the writer when it
    * is made. */
  def queryGen(s: Served): Long => Req =
    i => query(i, math.max(0L, nextBatch.get() - 1))
  override def background(s: Served): Seq[Loadgen.Stream] = Seq(writerStream())
  override def timer(s: Served): Option[(Long, () => Unit)] =
    Some(MaintainMs -> (() => s.engine.maintain()))

  def tracedSequence(s: Served, n: Int): Seq[Req] = (0 until n).flatMap { i =>
    val w = if (i % TracedQueriesPerWrite == 0) Seq(write(nextBatch.getAndIncrement())) else Nil
    val m = if ((i + 1) % TracedQueriesPerMaintain == 0) Seq(Req("maintain", "maintain", "")) else Nil
    w ++ Seq(query(i.toLong, nextBatch.get() - 1)) ++ m
  }

  def direct(s: Served, t: Tracer, r: Req): Long = r.kind match {
    case "query" => rowCount(directQuery(s, t, r.key, None))
    case "write" => val n = directWrite(s, t, r.body); ackedUntimed.add(r.seq); n
    case _       => t.span("Engine.maintain")(s.engine.maintain()); 0L
  }

  override def preloadedPoints: Long = Series.toLong * (History + 1)

  def check(spark: SparkSession, s: Served, samples: Seq[Sample]): Seq[(String, Long)] = {
    val acked = (ackedUntimed.asScala.map(_.longValue) ++
      samples.filter(x => x.req.kind == "write" && x.ok).map(_.req.seq)).toSeq.distinct.sorted
    checkCq(s) ++ checkWrites(spark, s, acked)
  }

  /** `cpu_1m` equals a direct `GROUP BY time(1m), host` recomputation over
    * the final data, bucket for bucket. */
  private def checkCq(s: Served): Seq[(String, Long)] = {
    val hi = iso(frontierSec(nextBatch.get()) + 60)
    val lo = iso(Base)
    def means(q: String, as: String) = s.engine.execute(q)
      .where(col("mean").isNotNull).select(col("time"), col("host"), col("mean").as(as))
    val direct = means(s"SELECT mean(usage_user) FROM cpu WHERE time >= '$lo' AND time < '$hi' " +
      "GROUP BY time(1m), host", "a")
    val cq = means(s"SELECT mean FROM cpu_1m WHERE time >= '$lo' AND time < '$hi' GROUP BY host", "b")
    val joined = direct.join(cq, Seq("time", "host"), "full_outer")
    val bad = joined.where(!(col("a") <=> col("b")) && coalesce(
      abs(col("a") - col("b")) > lit(1e-9) * (abs(col("a")) + lit(1.0)), lit(true))).count()
    val rows = cq.count()
    if (bad > 0) Seq(s"cpu_1m: $bad of $rows buckets differ from the direct recomputation" -> bad)
    else if (rows == 0) Seq("cpu_1m: no rows" -> 1L)
    else Nil
  }

  /** A fresh engine over the same data dir reads back exactly the bulk
    * load plus the acknowledged batches, and sampled points equal the
    * ones sent. */
  private def checkWrites(spark: SparkSession, s: Served, acked: Seq[Long]): Seq[(String, Long)] = {
    val fresh = new Engine(spark, sfDir.toString, s.dataDir.map(_.toString))
    try {
      val got = fresh.execute("SELECT count(usage_user) FROM cpu").collect()
        .headOption.map(r => r.getLong(r.length - 1)).getOrElse(0L)
      val want = Series.toLong * (History + acked.size)
      val count = if (got == want) Nil
        else Seq(s"cpu: read back $got points, $want acknowledged" -> math.abs(got - want))
      val r = rng(seed, acked.size.toLong, 5)
      val sampled = Seq.fill(6) {
        val lines = LineProtocol.splitLines(batchText(acked(r.nextInt(acked.size))))
        LineProtocol.parseLine(lines(r.nextInt(lines.size))).toOption.get
      }
      val rows = sampled.flatMap { p =>
        val where = p.tags.toSeq.sorted.map { case (k, v) => s"$k = '$v'" }.mkString(" AND ")
        val t = iso(p.timeNs.get / 1000000000L)
        val q = s"SELECT ${p.fields.keys.toSeq.sorted.mkString(", ")} FROM ${p.measurement} " +
          s"WHERE $where AND time >= '$t' AND time <= '$t'"
        val found = fresh.execute(q).collect()
        val same = found.length == 1 && p.fields.forall {
          case (f, LineProtocol.FFloat(v)) => found(0).getAs[Any](f) == v
          case _ => false
        }
        if (same) Nil else Seq(s"sampled point differs or is missing: $q -> ${found.mkString(";")}" -> 1L)
      }
      count ++ rows
    } finally fresh.close()
  }

  def describe: Seq[(String, Any)] = Seq(
    "history_points" -> Series.toLong * History, "hosts" -> Hosts, "regions" -> Regions,
    "durable" -> true, "cq" -> Cq, "auth" -> true,
    "write_interval_ms" -> 1000.0 / WriteHz, "points_per_write" -> Series,
    "query_clients" -> (cpus - 1), "writer_clients" -> 1,
    "maintain_interval_ms" -> MaintainMs, "templates" -> templates.map(_._1),
    "flush_policy" -> "parquet files closed before the 204; no fsync")
}
