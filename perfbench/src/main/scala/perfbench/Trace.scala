package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable.ArrayBuffer

/** One timed call: `parent` is the enclosing span's id (-1 at a request's
  * root), `req` the traced request it belongs to. Times are nanoTime. */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long,
    parent: Long, req: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** What Spark reported while one traced request ran: counts from the
  * scheduler and SQL listener events, the planning phases from each
  * execution's `QueryPlanningTracker`, and scan-node metrics of the
  * executed plans. */
final class Counts {
  var jobs = 0; var stages = 0; var tasks = 0
  var taskCpuNs = 0L; var gcMs = 0L; var inputBytes = 0L
  var shuffleWriteBytes = 0L; var spillBytes = 0L; var outputBytes = 0L
  var analysisMs = 0L; var optimizationMs = 0L; var planningMs = 0L
  var executions = 0
  var scanFiles = 0L; var scanRows = 0L; var listingMs = 0L; var filesWritten = 0L
  val jobSpans = ArrayBuffer.empty[(Long, Long)] // (startNs, endNs)
  val plans = ArrayBuffer.empty[QueryExecution]

  /** Wall time covered by Spark jobs inside [lo, hi] (overlaps merged). */
  def jobWallNs(lo: Long = Long.MinValue, hi: Long = Long.MaxValue): Long = {
    val clipped = jobSpans.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    clipped.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

/** Spans recorded by the traced pass plus the Spark listeners that count
  * work at the same boundaries. Listeners are registered through Spark's
  * public `SparkListener` / `QueryExecutionListener` APIs and stay inert
  * while `enabled` is false, so the untraced passes pay one volatile read
  * per event. The traced pass is sequential: everything Spark reports
  * between a request's start and the listener queue going quiet belongs
  * to that request. */
final class Tracer(spark: SparkSession) {
  @volatile var enabled = false
  private val spans = ArrayBuffer.empty[Span]
  private var nextId = 0L
  private var stack: List[Long] = Nil
  private var req = -1L
  @volatile private var counts = new Counts
  @volatile private var lastEventNs = System.nanoTime()
  private val openJobs = scala.collection.mutable.Map.empty[Int, Long]
  @volatile private var openSql = 0
  // Spark event times are wall-clock ms; map them onto the nanoTime axis
  private val wallToNano = System.nanoTime() - System.currentTimeMillis() * 1000000L
  private def nanoOf(wallMs: Long): Long = wallMs * 1000000L + wallToNano

  private object Plans extends AdaptiveSparkPlanHelper

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (enabled) synchronized {
      counts.jobs += 1; openJobs(e.jobId) = nanoOf(e.time); touch()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = if (enabled) synchronized {
      openJobs.remove(e.jobId).foreach(s => counts.jobSpans += ((s, nanoOf(e.time))))
      touch()
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      if (enabled) synchronized { counts.stages += 1; touch() }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (enabled) synchronized {
      val c = counts
      c.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.taskCpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.inputBytes += m.inputMetrics.bytesRead
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
      }
      touch()
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = if (enabled) e match {
      case _: SparkListenerSQLExecutionStart => synchronized { openSql += 1; touch() }
      case _: SparkListenerSQLExecutionEnd   => synchronized { openSql -= 1; touch() }
      case _ => ()
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = if (enabled) synchronized {
      val c = counts
      val ph = qe.tracker.phases
      c.analysisMs += ph.get("analysis").map(_.durationMs).getOrElse(0L)
      c.optimizationMs += ph.get("optimization").map(_.durationMs).getOrElse(0L)
      c.planningMs += ph.get("planning").map(_.durationMs).getOrElse(0L)
      c.executions += 1
      c.plans += qe
      touch()
    }
  }

  private def touch(): Unit = lastEventNs = System.nanoTime()

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  def unregister(): Unit = {
    enabled = false
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Wait until Spark's listener queue has delivered everything the last
    * request caused: no open job or SQL execution, and no event for 15 ms
    * (bounded at 2 s). */
  private def quiesce(): Unit = {
    val deadline = System.nanoTime() + 2000000000L
    def quiet = synchronized(openJobs.isEmpty && openSql <= 0) &&
      System.nanoTime() - lastEventNs > 15000000L
    while (!quiet && System.nanoTime() < deadline) Thread.sleep(2)
  }

  /** Run one traced request; returns its result and what Spark counted. */
  def request[T](id: Long, name: String)(body: => T): (T, Counts) = {
    quiesce()
    synchronized { counts = new Counts; openJobs.clear(); openSql = 0 }
    req = id
    val out = span(name)(body)
    quiesce()
    val c = synchronized(counts)
    // scan-node metrics are final once the request's jobs have ended
    c.plans.foreach { qe =>
      Plans.collectWithSubqueries(qe.executedPlan) { case s: FileSourceScanExec => s }
        .foreach { s =>
          def metric(k: String) = s.metrics.get(k).map(_.value).getOrElse(0L)
          c.scanFiles += metric("numFiles")
          c.scanRows += metric("numOutputRows")
          c.listingMs += metric("metadataTime")
        }
      Plans.collectWithSubqueries(qe.executedPlan) { case w: DataWritingCommandExec => w }
        .foreach(w => c.filesWritten += w.cmd.metrics.get("numFiles").map(_.value).getOrElse(0L))
    }
    c.plans.clear()
    c.jobSpans.foreach { case (s, e) =>
      val parent = spans.filter(sp => sp.req == id && sp.startNs <= s && sp.endNs >= s)
        .sortBy(sp => sp.endNs - sp.startNs).headOption.map(_.id).getOrElse(-1L)
      nextId += 1
      spans += Span(nextId, "exec.job", s, e, parent, id)
    }
    req = -1L
    (out, c)
  }

  def span[T](name: String)(body: => T): T = {
    nextId += 1
    val id = nextId
    val parent = stack.headOption.getOrElse(-1L)
    stack = id :: stack
    val s = System.nanoTime()
    try body
    finally {
      spans += Span(id, name, s, System.nanoTime(), parent, req)
      stack = stack.tail
    }
  }

  def all: Seq[Span] = spans.toSeq

  def write(path: java.nio.file.Path, t0: Long): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.foreach { s =>
      w.write(Json.obj(Seq("id" -> s.id, "name" -> s.name,
        "start_us" -> (s.startNs - t0) / 1000L, "end_us" -> (s.endNs - t0) / 1000L,
        "parent" -> s.parent, "req" -> s.req)))
      w.newLine()
    } finally w.close()
  }
}
