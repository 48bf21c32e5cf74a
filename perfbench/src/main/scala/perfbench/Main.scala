package perfbench

import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The served-path benchmark: starts `HttpApi` over an `Engine` in this
  * JVM, drives it over loopback HTTP with a seeded request sequence, checks
  * the answers, and prints one `RESULT` line (plus a `DETAIL` line with the
  * run's facts). `--trace 1` runs the traced variant, which reports the
  * per-layer split instead of the end-to-end figures.
  *
  * Usage: Main --workload dashboard|mixed --seed N --seconds S
  *             --trace 0|1 --work DIR --out DIR
  */
object Main {
  val SetupReps = 3
  // untimed closed-loop load after set-up: the first seconds under load
  // run measurably slower while the JIT settles
  val SteadySeconds = 3.0
  // first sequence number of the steady closed loop (the timed phase
  // numbers from 0)
  val SteadyBase = 3000000L

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ >= 0).sum

  /** The program's own session settings (`Sessions.build`), on a session
    * whose scratch, warehouse and local dirs live under `work`. */
  def session(work: Path, cpus: Int): SparkSession = {
    val tmp = System.getProperty("java.io.tmpdir")
    SparkSession.builder().master(s"local[$cpus]").appName("perfbench")
      .config("spark.local.dir", tmp)
      .config("spark.hadoop.hadoop.tmp.dir", tmp)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.Sessions.build("perfbench", s"local[$cpus]")
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = Paths.get(opt("work"))
    val out = Paths.get(opt("out"))
    val cpus = Runtime.getRuntime.availableProcessors()
    val wl = Workload.all(seed, cpus).getOrElse(opt("workload"),
      throw new IllegalArgumentException(s"unknown workload ${opt("workload")}"))
    val clock = scala.collection.mutable.ArrayBuffer[(String, Double)](
      "jvm_start" -> ManagementFactory.getRuntimeMXBean.getStartTime / 1e3)
    def mark(name: String): Unit = clock += (name -> System.currentTimeMillis() / 1e3)
    mark("main")

    // set-up, repeated: each rep builds the session, engine, server,
    // preload, CQ and warm-up from scratch; the last rep's state is served.
    // The run's inputs are made from the seed inside the first rep's
    // session, and that time is not set-up time.
    var spark: SparkSession = null
    var served: Served = null
    val setupS = (0 until (if (traced) 1 else SetupReps)).map { rep =>
      if (served != null) { served.close(); stop(spark); Workload.deleteTree(work.resolve(s"rep${rep - 1}")) }
      val t0 = System.nanoTime()
      spark = session(work, cpus)
      val prepNs = if (rep > 0) 0L else {
        val p0 = System.nanoTime()
        wl.prepare(spark, Files.createDirectories(work.resolve("input")))
        mark("prepared")
        System.nanoTime() - p0
      }
      served = wl.setup(spark, Files.createDirectories(work.resolve(s"rep$rep")))
      (System.nanoTime() - t0 - prepNs) / 1e9
    }
    mark("set_up")

    val base = Seq("workload" -> wl.name, "seed" -> seed, "seconds" -> seconds,
      "trace" -> traced, "nproc" -> cpus,
      "setup_reps_s" -> setupS, "spec" -> wl.describe.toMap)
    val (metrics, detail, samples, failures) =
      if (traced) TracedRun(wl, spark, served, seconds, out, seed)
      else plainRun(wl, spark, served, seconds, setupS, () => mark("measured"))
    mark("checked")

    served.close()
    val cachedRdds = spark.sparkContext.getPersistentRDDs.size
    stop(spark)
    mark("stopped")
    val failed = samples.count(!_.ok).toLong + failures.map(_._2).sum
    val attempted = math.max(1L, samples.size.toLong)
    val hygiene = Seq("cached_rdds_after" -> cachedRdds,
      "client_timeouts" -> samples.count(_.timedOut),
      "failed_frac" -> failed.toDouble / attempted,
      "check_failures" -> failures.map(_._1),
      "wall_s" -> clock.zip(clock.tail).map { case ((_, a), (n, b)) => n -> (b - a) }.toMap,
      "errors" -> samples.filterNot(_.ok).groupBy(s => s"${s.req.template}: ${s.error}")
        .map { case (e, ss) => e -> ss.size })
    println("DETAIL " + Json.obj(base ++ detail ++ hygiene))
    // `correct` is the answer checks' verdict; failed requests (non-2xx,
    // timeouts) and wrong answers both count in `failed`
    println("RESULT " + Json.obj(Seq("correct" -> failures.isEmpty,
      "attempted" -> attempted, "failed" -> failed,
      "metrics" -> metrics.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) }.toMap)))
    System.out.flush()
  }

  type Metrics = Seq[(String, (Double, String))]

  /** Latency summary of one request class (Harrell-Davis quantiles). */
  def latency(ss: Seq[Sample]): Seq[(String, Any)] = {
    val ms = ss.filter(_.ok).map(_.latencyMs)
    val p95 = Stats.hd(ms, 95)
    // the highest whole percentile with at least ten samples beyond it
    val tailPct = math.floor(100.0 * (1 - 10.0 / math.max(ms.size, 10))).max(0.0)
    val tail = Stats.pct(ms, tailPct)
    Seq("n" -> ms.size, "p50_ms" -> Stats.hd(ms, 50), "p95_ms" -> p95,
      "beyond_p95" -> ms.count(_ > p95),
      "tail_pct" -> tailPct, "tail_ms" -> tail, "beyond_tail" -> ms.count(_ > tail))
  }

  /** Geometric mean, over the query templates, of each template's median
    * latency: every template weighs the same, however many of its requests
    * fit in the phase. */
  def templateP50Gm(ss: Seq[Sample]): Double = {
    val p50s = ss.filter(_.ok).groupBy(_.req.template).values.map(t => Stats.hd(t.map(_.latencyMs), 50))
    if (p50s.isEmpty) 0.0 else math.exp(p50s.map(math.log).sum / p50s.size)
  }

  /** The timed phase: `clients` closed-loop clients send the workload's
    * queries beside its background streams and its maintenance timer.
    * Returns the phase and the timer's passes. */
  def timedPhase(wl: Workload, served: Served, clients: Int,
      seconds: Double): (Loadgen.Phase, Seq[(Long, Long)]) =
    withTimer(wl, served)(Loadgen.phase(served.client, clients, wl.queryGen(served),
      wl.background(served), seconds))

  /** Drive the closed loop, untimed, until the JVM has settled. */
  def steady(wl: Workload, served: Served): Seq[Sample] =
    Loadgen.closedLoop(served.client, wl.clients(served), SteadySeconds,
      wl.steadyGen(served), SteadyBase).samples

  /** Completed requests per second between the first and the last
    * completion (counting is not quantized by the window's edges). */
  def rate(ss: Seq[Sample], fallbackS: Double): Double = {
    val done = ss.filter(_.ok).sortBy(_.endNs)
    if (done.size < 3) done.size / fallbackS
    else (done.size - 1) / ((done.last.endNs - done.head.endNs) / 1e9)
  }

  /** Run `body` beside the workload's maintenance timer, which starts with
    * it, so its passes fall at the same points of the body's schedule in
    * every run. Returns the body's result and the passes' (start, end). */
  def withTimer[A](wl: Workload, served: Served)(body: => A): (A, Seq[(Long, Long)]) = {
    val stop = wl.timer(served).map { case (ms, f) => Loadgen.every("maintain", ms)(f()) }
    var passes: Seq[(Long, Long)] = Nil
    val a = try body finally passes = stop.map(_()).getOrElse(Nil)
    (a, passes)
  }

  def plainRun(wl: Workload, spark: SparkSession, served: Served, seconds: Double,
      setupS: Seq[Double], measured: () => Unit): (Metrics, Seq[(String, Any)], Seq[Sample], Seq[(String, Long)]) = {
    val warm = steady(wl, served)
    val gc0 = gcMs()
    val (ph, maintainSpans) = timedPhase(wl, served, wl.clients(served), seconds)
    val gcPause = gcMs() - gc0
    System.gc(); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    measured()

    // only the timed requests are checked and count as attempted
    val all = ph.samples
    val failures = wl.check(spark, served, all)
    val ops = rate(ph.fg.samples, ph.fg.seconds)
    val metrics: Metrics = Seq(
      "setup_s" -> (Stats.median(setupS), "s"),
      "query_p50_gm_ms" -> (templateP50Gm(ph.fg.samples), "ms"),
      "ops_per_s" -> (ops, "1/s"),
      "heap_retained_mb" -> (heapMb, "MB"))
    val writes = all.filter(s => s.req.kind == "write" && s.ok)
    val before = served.setupKeys.toSeq ++ warm.sortBy(_.dueNs).map(_.req.key)
    val stored = served.dataDir.map { d =>
      Workload.dirBytes(d).toDouble / (wl.preloadedPoints + writes.map(_.req.points.toLong).sum)
    }
    val detail = Seq(
      "phase_s" -> ph.fg.seconds, "clients" -> wl.clients(served), "ops_per_s" -> ops,
      "latency" -> all.groupBy(_.req.kind).map { case (k, v) => k -> latency(v).toMap },
      "query_templates" -> ph.fg.samples.groupBy(_.req.template)
        .map { case (t, v) => t -> latency(v).toMap },
      "lag_p95_ms" -> Stats.pct(ph.bg.lagMs, 95),
      // share of the timed queries the server had answered before
      "repeat_share" -> Workload.repeatShare(before, ph.fg.samples),
      "store_bytes_per_point" -> stored.getOrElse(0.0),
      "gc_pause_ms" -> gcPause, "maintain_passes" -> maintainSpans.size,
      "maintain_p50_ms" -> Stats.median(maintainSpans.map { case (s, e) => (e - s) / 1e6 }))
    (metrics, detail, all, failures)
  }
}
