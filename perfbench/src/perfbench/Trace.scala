package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec,
  QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** Outside-in tracer. The benchmark wraps each call into a graft layer in
  * a [[span]]; spans live in memory and are reported when the run ends.
  *
  *  - Spark jobs: the span id travels as a Spark local property on the
  *    calling thread, and [[JobLog]] files every job under it. The bus
  *    is asynchronous, so nothing is read per call; [[attribute]] drains it
  *    once. Jobs of a streaming query run on the stream's own thread and
  *    are filed under the `stream.microBatch` span open when they start.
  *    Any other job without the property is unattributed and listed by
  *    call site.
  *  - Filesystem: each span takes deltas of the process-wide [[FsStats]];
  *    with one client thread the deltas belong to the span.
  *  - Notes: counts a call site adds to its open span (scan rows read
  *    from the executed plan, planning time, ...).
  *
  * A disabled tracer runs each body bare. */
final class Trace(spark: SparkSession, val enabled: Boolean) {
  import Trace._

  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var nextId = 1L
  val jobs = new JobLog
  if (enabled) spark.sparkContext.addSparkListener(jobs)

  def span[A](name: String, req: Long = -1L)(body: => A): A =
    if (!enabled) body
    else {
      val sc = spark.sparkContext
      val parent = stack.headOption
      val s = new Span(nextId, name, parent.map(_.id).getOrElse(0L), req)
      nextId += 1
      spans += s
      stack = s :: stack
      val prev = sc.getLocalProperty(SpanKey)
      sc.setLocalProperty(SpanKey, s.id.toString)
      val fs0 = FsStats.snap()
      s.startMs = System.currentTimeMillis()
      s.startNs = System.nanoTime()
      try body
      finally {
        s.endNs = System.nanoTime()
        s.endMs = System.currentTimeMillis()
        s.fs = FsStats.snap() - fs0
        sc.setLocalProperty(SpanKey, prev)
        stack = stack.tail
        parent.foreach(_.childNs += s.endNs - s.startNs)
      }
    }

  /** Add `v` to counter `key` of the innermost open span. */
  def note(key: String, v: Double): Unit =
    if (enabled) stack.headOption.foreach(s =>
      s.notes(key) = s.notes.getOrElse(key, 0.0) + v)

  /** Note the rows the leaf scans of `df`'s executed plan produced; call
    * after the frame was collected. */
  def noteScanRows(df: DataFrame): Unit =
    if (enabled) note("scan_rows", scanRows(df.queryExecution.executedPlan))

  /** Spans closed so far. */
  def all: Seq[Span] = spans.toSeq

  /** Drain the listener bus and file each job under its span. */
  def attribute(): Attribution = {
    org.apache.spark.perfbench.Drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(jobs)
    val byId = spans.map(s => s.id -> s).toMap
    val micro = spans.filter(_.name == MicroBatchSpan)
    val own = mutable.Map[Long, mutable.ArrayBuffer[JobLog.Job]]()
    val loose = mutable.ArrayBuffer[JobLog.Job]()
    jobs.all.foreach { j =>
      val target =
        if (j.span > 0 && byId.contains(j.span)) Some(j.span)
        else if (j.streaming)
          micro.find(m => j.startMs >= m.startMs && j.startMs <= m.endMs)
            .map(_.id)
        else None
      target match {
        case Some(id) => own.getOrElseUpdate(id, mutable.ArrayBuffer()) += j
        case None => loose += j
      }
    }
    // inclusive job lists: a span's own jobs plus its descendants'
    val children = spans.groupBy(_.parent)
    def inclusive(s: Span): Seq[JobLog.Job] =
      own.getOrElse(s.id, Nil).toSeq ++
        children.getOrElse(s.id, Nil).flatMap(inclusive)
    Attribution(spans.map(s => s.id -> inclusive(s)).toMap, loose.toSeq)
  }
}

object Trace {
  val SpanKey = "perfbench.span"
  val MicroBatchSpan = "stream.microBatch"

  final class Span(val id: Long, val name: String, val parent: Long,
                   val req: Long) {
    var startNs, endNs, startMs, endMs, childNs = 0L
    var fs: FsStats.Snap = FsStats.Zero
    val notes = mutable.Map[String, Double]()
    def wallMs: Double = (endNs - startNs) / 1e6
    def selfMs: Double = (endNs - startNs - childNs) / 1e6
  }

  final case class Attribution(jobsOf: Map[Long, Seq[JobLog.Job]],
                               unattributed: Seq[JobLog.Job]) {
    /** Wall time of `s` not covered by any of its jobs, in ms. */
    def driverMs(s: Span): Double = {
      val iv = jobsOf(s.id).map(j =>
        (math.max(j.startMs, s.startMs), math.min(j.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) {
          if (curB > curA) covered += curB - curA
          curA = a; curB = b
        } else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      math.max(0.0, s.wallMs - covered)
    }
  }

  /** Rows produced by the leaf scans of an executed plan: AQE wrappers and
    * query stages are unwrapped to the final plan, reused exchanges are
    * counted once, subqueries included. */
  def scanRows(p: SparkPlan): Long = p match {
    case a: AdaptiveSparkPlanExec => scanRows(a.executedPlan)
    case q: QueryStageExec => scanRows(q.plan)
    case _: ReusedExchangeExec => 0L
    case _ =>
      val own = if (p.children.isEmpty)
        p.metrics.get("numOutputRows").map(_.value).getOrElse(0L) else 0L
      own + p.children.map(scanRows).sum + p.subqueries.map(scanRows).sum
  }
}

/** Listener that records every job (start, end, span property, call
  * site) and the metrics of every completed stage, filed under the job
  * that ran it. Read only after the bus is drained. */
final class JobLog extends SparkListener {
  import JobLog._

  private val jobs = mutable.LinkedHashMap[Int, Job]()
  private val stageJob = mutable.Map[Int, Int]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val p = Option(e.properties)
    def prop(k: String) = p.flatMap(x => Option(x.getProperty(k)))
    val j = new Job(e.jobId, prop(Trace.SpanKey).map(_.toLong).getOrElse(0L),
      prop("sql.streaming.queryId").isDefined,
      prop("callSite.short").orElse(e.stageInfos.lastOption.map(_.name))
        .getOrElse("?"), e.time)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val si = e.stageInfo
      for (jid <- stageJob.get(si.stageId); j <- jobs.get(jid)) {
        val m = si.taskMetrics
        j.stages += 1
        j.tasks += si.numTasks
        if (m != null) {
          j.taskMs += m.executorRunTime
          j.gcMs += m.jvmGCTime
          j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          j.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }

  def all: Seq[Job] = synchronized(jobs.values.toSeq)
}

object JobLog {
  final class Job(val id: Int, val span: Long, val streaming: Boolean,
                  val callSite: String, val startMs: Long) {
    var endMs: Long = startMs
    var stages, tasks = 0
    var taskMs, gcMs, shuffleBytes, spillBytes = 0L
  }
}
