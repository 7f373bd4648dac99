package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.DoubleAdder

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** One operation of a workload, as the client saw it. */
final case class OpRecord(id: String, name: String, kind: String,
    startNs: Long, endNs: Long, ok: Boolean) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** A traced interval; `op` is the id of the operation that caused it. */
final case class Span(op: String, layer: String, name: String,
    startNs: Long, endNs: Long)

/** Collects what one run measures. Operations and calls into engine
  * modules are timed from outside, by the benchmark; only operations of
  * the timed region (job group prefix `t:`) feed the reported metrics.
  * Spans are kept in memory only when tracing, and written at exit. */
final class Recorder(val tracing: Boolean) {
  val ops = new ConcurrentLinkedQueue[OpRecord]()
  val spans = new ConcurrentLinkedQueue[Span]()
  private val calls = new ConcurrentHashMap[String, ConcurrentLinkedQueue[Double]]()
  private val counts = new ConcurrentHashMap[String, DoubleAdder]()
  private val currentOp = new ThreadLocal[String]()
  /** epoch-ms → this JVM's nanoTime scale, for Spark's event times */
  val msToNs: Long = System.nanoTime() - System.currentTimeMillis() * 1000000L

  def timedOps: Seq[OpRecord] = ops.asScala.filter(_.id.startsWith("t:")).toSeq
  private def inTimedOp: Boolean = Option(currentOp.get).exists(_.startsWith("t:"))
  /** calls are recorded in timed ops and in set-up outside any op */
  private def recordCall: Boolean = Option(currentOp.get).forall(_.startsWith("t:"))

  /** Run one operation under its own job group; a thrown error marks it
    * failed and is reported, never rethrown. */
  def op(spark: org.apache.spark.sql.SparkSession, id: String, name: String,
      kind: String)(body: => Unit): Boolean = {
    spark.sparkContext.setJobGroup(id, name, interruptOnCancel = false)
    currentOp.set(id)
    val t0 = System.nanoTime()
    val ok = try { body; true } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] $name ($id) failed: $e")
        false
    }
    val t1 = System.nanoTime()
    currentOp.remove()
    spark.sparkContext.clearJobGroup()
    ops.add(OpRecord(id, name, kind, t0, t1, ok))
    if (tracing) spans.add(Span(id, "op", name, t0, t1))
    ok
  }

  /** Time one call into an engine module (`metric` names the per-layer
    * metric, whose prefix is the module). Calls of timed ops count, and
    * calls made during set-up, outside any op (index builds). */
  def call[T](metric: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try body finally {
      val t1 = System.nanoTime()
      if (recordCall) calls.computeIfAbsent(metric, _ => new ConcurrentLinkedQueue())
        .add((t1 - t0) / 1e6)
      if (tracing && currentOp.get != null)
        spans.add(Span(currentOp.get, metric.takeWhile(_ != '.'), metric, t0, t1))
    }
  }

  /** Add to a counter of the timed region. */
  def count(metric: String, v: Double): Unit =
    if (inTimedOp) counts.computeIfAbsent(metric, _ => new DoubleAdder()).add(v)

  def callTimes(metric: String): Seq[Double] =
    Option(calls.get(metric)).map(_.asScala.toSeq).getOrElse(Nil)
  def counted(metric: String): Double =
    Option(counts.get(metric)).map(_.sum).getOrElse(0.0)
}

/** Spark-side counters per job group: jobs, stages, tasks and task
  * metrics from a SparkListener, planning phases and graft rule runs
  * from a QueryExecutionListener. SQL executions are tied to the job
  * group of the thread that started them. */
final class SparkProbe(rec: Recorder) extends SparkListener with QueryExecutionListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val execGroup = new ConcurrentHashMap[Long, String]()
  private val jobGroup = new ConcurrentHashMap[Int, String]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val totals = new ConcurrentHashMap[String, DoubleAdder]()

  private def add(group: String, k: String, v: Double): Unit =
    if (group != null && group.startsWith("t:"))
      totals.computeIfAbsent(k, _ => new DoubleAdder()).add(v)

  def total(k: String): Double = Option(totals.get(k)).map(_.sum).getOrElse(0.0)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val g = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
    if (g != null) {
      jobGroup.put(e.jobId, g)
      e.stageIds.foreach(s => stageGroup.put(s, g))
    }
    jobStart.put(e.jobId, e.time)
    add(g, "exec.jobs", 1)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val g = jobGroup.get(e.jobId)
    val t0 = jobStart.remove(e.jobId)
    if (rec.tracing && g != null && t0 != null)
      rec.spans.add(Span(g, "exec", s"job ${e.jobId}",
        t0 * 1000000L + rec.msToNs, e.time * 1000000L + rec.msToNs))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    add(stageGroup.get(e.stageInfo.stageId), "exec.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val g = stageGroup.get(e.stageId)
    val m = e.taskMetrics
    add(g, "exec.tasks", 1)
    if (m != null) {
      val info = e.taskInfo
      val wait = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime
      add(g, "exec.task_run_ms", m.executorRunTime.toDouble)
      add(g, "exec.task_cpu_ms", m.executorCpuTime / 1e6)
      add(g, "exec.task_wait_ms", math.max(0L, wait).toDouble)
      add(g, "exec.gc_ms", m.jvmGCTime.toDouble)
      add(g, "exec.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
      add(g, "exec.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
      add(g, "exec.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      add(g, "exec.input_bytes", m.inputMetrics.bytesRead.toDouble)
      add(g, "exec.output_bytes", m.outputMetrics.bytesWritten.toDouble)
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart =>
      s.jobGroupId.foreach(g => execGroup.put(s.executionId, g))
    case u: SparkListenerSQLAdaptiveExecutionUpdate =>
      add(execGroup.get(u.executionId), "exec.aqe_replans", 1)
    case _ => ()
  }

  /** Planning phases (start, end ms) and graft rule summaries per SQL
    * execution. The query-execution listener runs on its own bus queue,
    * so executions are tied to job groups only in [[settle]]. */
  private val planned = new ConcurrentLinkedQueue[(Long, Seq[(String, Long, Long)],
    Seq[(Double, Long, Long)])]()

  private def onQuery(qe: QueryExecution): Unit = {
    val phases = Seq("analysis", "optimization", "planning").flatMap(p =>
      qe.tracker.phases.get(p).map(s => (p, s.startTimeMs, s.endTimeMs)))
    val rules = qe.tracker.rules.collect {
      case (rule, s) if rule.startsWith("graft.plans.") =>
        (s.totalTimeNs / 1e6, s.numInvocations, s.numEffectiveInvocations)
    }.toSeq
    planned.add((qe.id, phases, rules))
  }

  /** Fold the planning records into the totals; call once, after the
    * listener bus has drained. */
  def settle(): Unit = planned.asScala.foreach { case (id, phases, rules) =>
    val g = execGroup.get(id)
    phases.foreach { case (p, t0, t1) =>
      add(g, s"plans.${p}_ms", (t1 - t0).toDouble)
      if (rec.tracing && g != null)
        rec.spans.add(Span(g, "plans", p, t0 * 1000000L + rec.msToNs,
          t1 * 1000000L + rec.msToNs))
    }
    rules.foreach { case (ms, runs, effective) =>
      add(g, "plans.graft_rules_ms", ms)
      add(g, "plans.graft_rule_runs", runs.toDouble)
      add(g, "plans.graft_rule_effective", effective.toDouble)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    onQuery(qe)
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    onQuery(qe)
}
