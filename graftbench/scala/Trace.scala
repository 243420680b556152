package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region recorded by the benchmark's own code around a call
  * into a layer. Times are epoch milliseconds (with sub-ms precision from
  * the monotonic clock) so they line up with Spark's event timestamps. */
final case class Span(id: Int, name: String, leg: String, parent: Int,
    startMs: Double, endMs: Double)

/** Span recorder. Spans live in memory and are written out with the run
  * record; nothing is recorded while `enabled` is false. */
final class Tracer {
  @volatile var enabled = false
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private val originMs = System.currentTimeMillis().toDouble
  private val originNs = System.nanoTime()

  def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6

  def span[T](name: String, leg: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = stack.headOption.getOrElse(-1)
      spans += Span(id, name, leg, parent, nowMs, Double.NaN)
      stack.push(id)
      try body
      finally {
        stack.pop()
        spans(id) = spans(id).copy(endMs = nowMs)
      }
    }

  /** A span whose bounds come from Spark's own clock (job run, query
    * planning phase), attached under `parent`. */
  def derived(name: String, leg: String, parent: Int, s: Double, e: Double): Unit =
    if (enabled) spans += Span(spans.size, name, leg, parent, s, e)

  def all: Seq[Span] = spans.toSeq
}

final case class JobRec(id: Int, startMs: Long, var endMs: Long, stages: Seq[Int])

final case class TaskRec(stageId: Int, launchMs: Long, finishMs: Long,
    runMs: Long, cpuNs: Long, deserMs: Long, resultSerMs: Long,
    gettingResultMs: Long, gcMs: Long, peakMem: Long, spillDisk: Long,
    shWrite: Long, shRead: Long, fetchWaitMs: Long, inputBytes: Long) {
  def durMs: Long = finishMs - launchMs
  def schedDelayMs: Long =
    math.max(0L, durMs - runMs - deserMs - resultSerMs - gettingResultMs)
}

final case class PhaseRec(phase: String, startMs: Long, endMs: Long)

/** One SQL execution (Spark's `SQLExecution` events): from the start of a
  * query's execution to its end, across adaptive re-planning between its
  * jobs. */
final case class SqlRec(id: Long, startMs: Long, var endMs: Long)

/** Collects job, task and query-planning events while attached. Registered
  * from the benchmark only; the engine is not instrumented. */
final class LayerListener extends SparkListener with QueryExecutionListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val phases = new ConcurrentLinkedQueue[PhaseRec]()
  val sqls = new ConcurrentLinkedQueue[SqlRec]()
  private val open = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val openSql = new java.util.concurrent.ConcurrentHashMap[Long, SqlRec]()
  @volatile var lastEventNs: Long = System.nanoTime()
  @volatile var active = false

  def clear(): Unit = { jobs.clear(); tasks.clear(); phases.clear(); sqls.clear() }

  override def onJobStart(e: SparkListenerJobStart): Unit = if (active) {
    val j = JobRec(e.jobId, e.time, -1L, e.stageIds)
    open.put(e.jobId, j); jobs.add(j); lastEventNs = System.nanoTime()
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val j = open.remove(e.jobId)
    if (j != null) j.endMs = e.time
    lastEventNs = System.nanoTime()
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => if (active) {
      val r = SqlRec(s.executionId, s.time, -1L)
      openSql.put(s.executionId, r); sqls.add(r); lastEventNs = System.nanoTime()
    }
    case s: SparkListenerSQLExecutionEnd =>
      val r = openSql.remove(s.executionId)
      if (r != null) r.endMs = s.time
      lastEventNs = System.nanoTime()
    case _ =>
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active) {
    val i = e.taskInfo
    val m = e.taskMetrics
    if (m != null) tasks.add(TaskRec(e.stageId, i.launchTime, i.finishTime,
      m.executorRunTime, m.executorCpuTime, m.executorDeserializeTime,
      m.resultSerializationTime, i.gettingResultTime match {
        case 0L => 0L
        case g => math.max(0L, i.finishTime - g)
      }, m.jvmGCTime, m.peakExecutionMemory, m.diskBytesSpilled,
      m.shuffleWriteMetrics.bytesWritten,
      m.shuffleReadMetrics.localBytesRead + m.shuffleReadMetrics.remoteBytesRead,
      m.shuffleReadMetrics.fetchWaitTime, m.inputMetrics.bytesRead))
    lastEventNs = System.nanoTime()
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    if (active) {
      qe.tracker.phases.foreach { case (p, s) =>
        phases.add(PhaseRec(p, s.startTimeMs, s.endTimeMs))
      }
      lastEventNs = System.nanoTime()
    }

  override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()

  /** Wait until every job seen has ended and the event stream has been
    * quiet for `quietMs` (listener delivery is asynchronous). */
  def drain(quietMs: Long = 150, maxMs: Long = 10000): Unit = {
    val t0 = System.nanoTime()
    def quiet = (System.nanoTime() - lastEventNs) / 1e6 > quietMs
    while ((!open.isEmpty || !openSql.isEmpty || !quiet) &&
        (System.nanoTime() - t0) / 1e6 < maxMs)
      Thread.sleep(20)
  }

  def jobList: Seq[JobRec] = jobs.asScala.toSeq
  def taskList: Seq[TaskRec] = tasks.asScala.toSeq
  def phaseList: Seq[PhaseRec] = phases.asScala.toSeq
  def sqlList: Seq[SqlRec] = sqls.asScala.toSeq
}

object Layers {
  def median(xs: Iterable[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.toIndexedSeq.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Length of the union of intervals, clipped to [lo, hi]. */
  def covered(iv: Seq[(Double, Double)], lo: Double, hi: Double): Double = {
    val c = iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var curS = Double.NaN; var curE = Double.NaN
    c.foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) total += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) total += curE - curS
    total
  }

  /** Task-level aggregates over a set of tasks (one pass, or one leg). */
  def taskMetrics(ts: Seq[TaskRec]): Map[String, Double] = {
    val n = ts.size
    val byStage = ts.groupBy(_.stageId)
    // stragglers: max over median task time per stage, weighted by the
    // stage's run time (stages with a single task cannot straggle)
    val multi = byStage.values.filter(_.size >= 2).toSeq
    val wsum = multi.map(_.map(_.runMs).sum.toDouble).sum
    val straggler =
      if (wsum <= 0) 1.0
      else multi.map { st =>
        val d = st.map(_.durMs.toDouble)
        val med = math.max(median(d), 1.0)
        (d.max / med) * st.map(_.runMs).sum / wsum
      }.sum
    val fixedMs = ts.map(t => t.deserMs + t.schedDelayMs + t.resultSerMs).sum.toDouble
    Map(
      "exchange.write_mb" -> ts.map(_.shWrite).sum / 1e6,
      "exchange.read_mb" -> ts.map(_.shRead).sum / 1e6,
      "exchange.fetch_wait_s" -> ts.map(_.fetchWaitMs).sum / 1e3,
      "exchange.spill_mb" -> ts.map(_.spillDisk).sum / 1e6,
      "exchange.shuffles" -> byStage.count(_._2.exists(_.shWrite > 0)).toDouble,
      "exec.tasks" -> n.toDouble,
      "exec.run_s" -> ts.map(_.runMs).sum / 1e3,
      "exec.cpu_s" -> ts.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> ts.map(_.gcMs).sum / 1e3,
      "exec.deser_s" -> ts.map(_.deserMs).sum / 1e3,
      "exec.sched_delay_s" -> ts.map(_.schedDelayMs).sum / 1e3,
      "exec.task_fixed_ms" -> (if (n == 0) 0.0 else fixedMs / n),
      "exec.straggler" -> straggler,
      "exec.peak_mem_mb" -> (if (n == 0) 0.0 else ts.map(_.peakMem).max / 1e6))
  }
}
