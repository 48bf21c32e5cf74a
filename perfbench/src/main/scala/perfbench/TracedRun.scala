package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer

/** The traced variant of a run, in three passes over the same seeded
  * request sequence:
  *
  *  1. the timed phase over HTTP with the listeners inert (untraced), with
  *     one query client, so its latencies compare with the one-at-a-time
  *     chain of pass 3;
  *  2. the same phase with the listeners counting (the tracing overhead is
  *     the difference of the two medians);
  *  3. the direct-call chain, one request at a time, through the layers'
  *     public functions in `HttpApi.handleQuery` / `handleWrite` order,
  *     one span per call.
  *
  * Per-layer figures come from pass 3, except the HTTP-side ones, which
  * compare pass 1 with pass 3. Spans are written out when the run ends. */
object TracedRun {
  val PassShare = Seq(0.35, 0.35, 0.30)
  val Pings = 200

  /** Every per-layer metric with its unit, in report order. Layers a
    * workload does not exercise report 0. */
  val Units: Seq[(String, String)] = Seq(
    "HttpApi.ping_ms" -> "ms", "HttpApi.query_overhead_ms" -> "ms",
    "HttpApi.response_bytes" -> "B", "HttpApi.decode_ms" -> "ms",
    "HttpApi.write_wait_ms" -> "ms", "cluster.auth_ms" -> "ms",
    "ql.parse_ms" -> "ms", "ql.translate_ms" -> "ms",
    "plan.analysis_ms" -> "ms", "plan.optimization_ms" -> "ms",
    "plan.planning_ms" -> "ms", "plan.executions_per_req" -> "count",
    "exec.jobs_per_req" -> "count", "exec.stages_per_req" -> "count",
    "exec.tasks_per_req" -> "count", "exec.task_cpu_ms_per_req" -> "ms",
    "exec.wall_ms" -> "ms", "exec.input_bytes_per_req" -> "B",
    "exec.rows_read_per_row_returned" -> "ratio", "exec.files_scanned_per_req" -> "count",
    "exec.listing_ms_per_req" -> "ms", "exec.shuffle_bytes_per_req" -> "B",
    "exec.spill_bytes" -> "B", "exec.gc_ms_per_req" -> "ms",
    "InfluxJson.self_ms" -> "ms", "InfluxJson.rows_per_req" -> "count",
    "Engine.write_ms" -> "ms", "Engine.write_driver_ms" -> "ms",
    "Engine.write_jobs_per_batch" -> "count", "Engine.write_task_cpu_ms_per_batch" -> "ms",
    "Engine.write_executions_per_batch" -> "count", "Engine.maintain_ms" -> "ms",
    "Engine.maintain_bytes_rewritten" -> "B", "sources.files_written_per_batch" -> "count",
    "sources.bytes_written_per_point" -> "B/point", "sources.store_files" -> "count",
    "jvm.gc_pause_ms" -> "ms", "loadgen.lag_p95_ms" -> "ms",
    "loadgen.trace_overhead_ms" -> "ms")

  /** One request of pass 3: what it returned and what Spark counted. */
  final case class Rec(id: Long, req: Req, counts: Counts, rows: Long, spans: Seq[Span]) {
    val root: Span = spans.filter(s => s.parent == -1L && s.name != "exec.job").maxBy(_.ms)
    def spanMs(name: String): Double = spans.filter(_.name == name).map(_.ms).sum
    /** Span time under `name` not covered by Spark jobs. */
    def driverMs(name: String): Double = spans.filter(_.name == name)
      .map(s => s.ms - counts.jobWallNs(s.startNs, s.endNs) / 1e6).sum
  }

  def apply(wl: Workload, spark: SparkSession, served: Served, seconds: Double, out: Path,
      seed: Long): (Main.Metrics, Seq[(String, Any)], Seq[Sample], Seq[(String, Long)]) = {
    val tracer = new Tracer(spark)
    tracer.register()
    val t0 = System.nanoTime()
    def latencyPass(share: Double): Loadgen.Phase =
      Main.timedPhase(wl, served, 1, seconds * share)._1
    Main.steady(wl, served)
    val gc0 = Main.gcMs()
    val p1 = latencyPass(PassShare(0))
    val gcPause = Main.gcMs() - gc0
    tracer.enabled = true
    val p2 = latencyPass(PassShare(1))
    tracer.enabled = false
    val pings = (1 to Pings).map(_ => served.client.send(Req("ping", "ping", "/ping"), System.nanoTime()))

    val queries1 = p1.samples.count(s => s.req.kind == "query" && s.ok)
    val sequence = wl.tracedSequence(served, math.max(20, queries1))
    val deadline = System.nanoTime() + (seconds * PassShare(2) * 1e9).toLong
    val recs = ArrayBuffer.empty[(Long, Req, Counts, Long)]
    tracer.enabled = true
    val it = sequence.iterator
    var id = 0L
    val chainFailures = ArrayBuffer.empty[String]
    while (it.hasNext && System.nanoTime() < deadline) {
      val r = it.next()
      scala.util.Try(tracer.request(id, r.template)(wl.direct(served, tracer, r))) match {
        case scala.util.Success((rows, counts)) => recs += ((id, r, counts, rows))
        case scala.util.Failure(e) => chainFailures += s"${r.template}: $e"
      }
      id += 1
    }
    tracer.unregister()
    val bySpan = tracer.all.groupBy(_.req)
    val rs = recs.map { case (i, r, c, rows) => Rec(i, r, c, rows, bySpan.getOrElse(i, Nil)) }.toSeq
    Files.createDirectories(out)
    val spanFile = out.resolve(s"${wl.name}-seed$seed-spans.jsonl")
    tracer.write(spanFile, t0)

    val failures = wl.check(spark, served, p1.samples ++ p2.samples) ++
      chainFailures.map(m => s"traced call failed: $m" -> 1L)
    val (metrics, lines) = summarize(wl, served, p1, p2, pings, rs, gcPause)
    lines.foreach(l => println(Json.obj(l)))
    val detail = Seq("spans_file" -> spanFile.toString, "spans" -> tracer.all.size,
      "traced_requests" -> rs.size, "pass_seconds" -> PassShare.map(_ * seconds),
      "untraced" -> p1.samples.groupBy(_.req.kind).map { case (k, v) => k -> Main.latency(v).toMap },
      "traced" -> p2.samples.groupBy(_.req.kind).map { case (k, v) => k -> Main.latency(v).toMap })
    (metrics, detail, p1.samples ++ p2.samples, failures)
  }

  def summarize(wl: Workload, served: Served, p1: Loadgen.Phase, p2: Loadgen.Phase,
      pings: Seq[Sample], rs: Seq[Rec], gcPause: Long): (Main.Metrics, Seq[Seq[(String, Any)]]) = {
    import Stats.{mean, median, pct}
    def ok(ss: Seq[Sample], kind: String) = ss.filter(s => s.req.kind == kind && s.ok)
    val qs = rs.filter(_.req.kind == "query")
    val ws = rs.filter(_.req.kind == "write")
    val ms = rs.filter(_.req.kind == "maintain")
    def med(xs: Seq[Rec])(f: Rec => Double) = median(xs.map(f))
    def avg(xs: Seq[Rec])(f: Rec => Double) = mean(xs.map(f))
    val q1 = ok(p1.samples, "query")
    val w1 = ok(p1.samples, "write")
    val q2 = ok(p2.samples, "query")
    val written = ws.map(_.counts.outputBytes).sum.toDouble
    val v: Map[String, Double] = Map(
      "HttpApi.ping_ms" -> median(pings.filter(_.ok).map(_.latencyMs)),
      "HttpApi.query_overhead_ms" ->
        (if (qs.isEmpty) 0.0 else pct(q1.map(_.latencyMs), 50) - med(qs)(_.root.ms)),
      "HttpApi.response_bytes" -> mean(q1.map(_.bytes.toDouble)),
      "HttpApi.decode_ms" -> med(ws)(_.spanMs("HttpApi.decode")),
      "HttpApi.write_wait_ms" ->
        (if (ws.isEmpty) 0.0 else pct(w1.map(_.latencyMs), 50) - med(ws)(_.spanMs("Engine.write"))),
      "cluster.auth_ms" -> med(rs.filter(_.spans.exists(_.name == "cluster.auth")))(_.spanMs("cluster.auth")),
      "ql.parse_ms" -> med(qs)(_.spanMs("ql.parse")),
      "ql.translate_ms" -> med(qs)(_.spanMs("ql.translate")),
      "plan.analysis_ms" -> med(qs)(_.counts.analysisMs.toDouble),
      "plan.optimization_ms" -> med(qs)(_.counts.optimizationMs.toDouble),
      "plan.planning_ms" -> med(qs)(_.counts.planningMs.toDouble),
      "plan.executions_per_req" -> avg(qs)(_.counts.executions.toDouble),
      "exec.jobs_per_req" -> avg(qs)(_.counts.jobs.toDouble),
      "exec.stages_per_req" -> avg(qs)(_.counts.stages.toDouble),
      "exec.tasks_per_req" -> avg(qs)(_.counts.tasks.toDouble),
      "exec.task_cpu_ms_per_req" -> avg(qs)(_.counts.taskCpuNs / 1e6),
      "exec.wall_ms" -> med(qs)(_.counts.jobWallNs() / 1e6),
      "exec.input_bytes_per_req" -> avg(qs)(_.counts.inputBytes.toDouble),
      "exec.rows_read_per_row_returned" ->
        (qs.map(_.counts.scanRows).sum.toDouble / math.max(1L, qs.map(_.rows).sum)),
      "exec.files_scanned_per_req" -> avg(qs)(_.counts.scanFiles.toDouble),
      "exec.listing_ms_per_req" -> avg(qs)(_.counts.listingMs.toDouble),
      "exec.shuffle_bytes_per_req" -> avg(qs)(_.counts.shuffleWriteBytes.toDouble),
      "exec.spill_bytes" -> rs.map(_.counts.spillBytes).sum.toDouble,
      "exec.gc_ms_per_req" -> avg(qs)(_.counts.gcMs.toDouble),
      "InfluxJson.self_ms" -> med(qs)(_.driverMs("InfluxJson.serialize")),
      "InfluxJson.rows_per_req" -> avg(qs)(_.rows.toDouble),
      "Engine.write_ms" -> med(ws)(_.spanMs("Engine.write")),
      "Engine.write_driver_ms" -> med(ws)(_.driverMs("Engine.write")),
      "Engine.write_jobs_per_batch" -> avg(ws)(_.counts.jobs.toDouble),
      "Engine.write_task_cpu_ms_per_batch" -> avg(ws)(_.counts.taskCpuNs / 1e6),
      "Engine.write_executions_per_batch" -> avg(ws)(_.counts.executions.toDouble),
      "Engine.maintain_ms" -> med(ms)(_.spanMs("Engine.maintain")),
      "Engine.maintain_bytes_rewritten" -> avg(ms)(_.counts.outputBytes.toDouble),
      "sources.files_written_per_batch" -> avg(ws)(_.counts.filesWritten.toDouble),
      "sources.bytes_written_per_point" -> written / math.max(1, ws.map(_.req.points).sum),
      "sources.store_files" -> served.dataDir.map(d => Workload.storeStats(d)._1.toDouble).getOrElse(0.0),
      "jvm.gc_pause_ms" -> gcPause.toDouble,
      "loadgen.lag_p95_ms" -> pct(p1.bg.lagMs, 95),
      "loadgen.trace_overhead_ms" ->
        (if (q1.isEmpty || q2.isEmpty) 0.0
         else Stats.hd(q2.map(_.latencyMs), 50) - Stats.hd(q1.map(_.latencyMs), 50)))
    val metrics = Units.map { case (k, u) => k -> (v(k), u) }

    // per-template lines: untraced HTTP p50, the traced chain, and their gap
    val templates = (q1.map(_.req.template) ++ qs.map(_.req.template)).distinct.sorted
    val lines = templates.flatMap { t =>
      val http = q1.filter(_.req.template == t).map(_.latencyMs)
      val chain = qs.filter(_.req.template == t).map(_.root.ms)
      val base = s"${wl.name}.tpl.$t"
      Seq(Seq("name" -> s"$base.p50_ms", "value" -> pct(http, 50), "unit" -> "ms", "n" -> http.size),
        Seq("name" -> s"$base.chain_ms", "value" -> median(chain), "unit" -> "ms", "n" -> chain.size),
        Seq("name" -> s"$base.overhead_ms",
          "value" -> (if (http.isEmpty || chain.isEmpty) 0.0 else pct(http, 50) - median(chain)),
          "unit" -> "ms", "n" -> math.min(http.size, chain.size)))
    }
    (metrics, lines)
  }
}
