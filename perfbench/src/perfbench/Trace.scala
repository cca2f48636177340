package perfbench

import java.time.Instant
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBridge
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.streaming.StreamingQueryListener

import graft.sinks.TweetSink

/** Wall clock in fractional epoch milliseconds: the origin Spark uses for
  * its listener-event timestamps, with sub-millisecond resolution. */
object Clock {
  private val originMs = System.currentTimeMillis().toDouble
  private val originNs = System.nanoTime()
  def nowMs: Double = originMs + (System.nanoTime() - originNs) / 1e6
}

/** One micro-batch as its StreamingQueryProgress reports it. */
final case class Batch(runId: String, batchId: Long, startMs: Double,
    durations: Map[String, Long], inputRows: Long) {
  def ms(phase: String): Double = durations.getOrElse(phase, 0L).toDouble
  def endMs: Double = startMs + ms("triggerExecution")
}

/** Progress of every streaming query, in arrival order. The ETL workloads
  * register it in traced and untraced runs alike: batch latency comes from
  * here. */
final class ProgressListener extends StreamingQueryListener {
  private val started = new ConcurrentLinkedQueue[(String, Double)]
  private val batches = new ConcurrentLinkedQueue[Batch]
  import StreamingQueryListener._
  override def onQueryStarted(e: QueryStartedEvent): Unit =
    started.add(e.runId.toString -> Instant.parse(e.timestamp).toEpochMilli.toDouble)
  override def onQueryProgress(e: QueryProgressEvent): Unit = {
    val p = e.progress
    batches.add(Batch(p.runId.toString, p.batchId,
      Instant.parse(p.timestamp).toEpochMilli.toDouble,
      p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
      p.numInputRows))
  }
  override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()

  /** Batches of the queries started at or after `sinceMs`, by batch id. */
  def batchesSince(sinceMs: Double): Seq[Batch] = {
    val runs = started.asScala.collect { case (id, t) if t >= math.floor(sinceMs) => id }.toSet
    batches.asScala.filter(b => runs(b.runId)).toSeq.sortBy(b => (b.startMs, b.batchId))
  }
}

/** A span: a named interval with the span that caused it (-1 for a root). */
final case class Span(id: Int, parent: Int, name: String, startMs: Double, endMs: Double) {
  def ms: Double = endMs - startMs
}

/** The traced run's recorder. It registers only its own listeners — a
  * SparkListener (jobs, stages, tasks, SQL executions) and a
  * QueryExecutionListener (planning phases, exchanges) — and keeps every
  * event in memory; the benchmark adds spans around its calls into the
  * engine and derives per-layer metrics once the listener bus has drained. */
final class Trace(spark: SparkSession) {
  import Trace._

  val jobs = new ConcurrentLinkedQueue[JobEv]
  val stages = new ConcurrentLinkedQueue[Double]
  val tasks = new ConcurrentLinkedQueue[TaskEv]
  val qes = new ConcurrentLinkedQueue[QeEv]
  private val sqlStart = new ConcurrentHashMap[Long, (Double, Boolean, Boolean)]
  private val sqlEnd = new ConcurrentHashMap[Long, Double]
  private val spans = mutable.ArrayBuffer.empty[Span]

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val exec = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .flatMap(_.toLongOption)
      jobs.add(JobEv(e.time.toDouble, exec, e.stageIds))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.add(e.stageInfo.submissionTime.getOrElse(0L).toDouble)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) tasks.add(TaskEv(e.stageId, e.taskInfo.launchTime.toDouble,
        m.executorRunTime, m.executorCpuTime, m.jvmGCTime,
        m.inputMetrics.bytesRead, m.inputMetrics.recordsRead,
        m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
        m.memoryBytesSpilled + m.diskBytesSpilled))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        sqlStart.put(s.executionId, (s.time.toDouble, isWrite(s.physicalPlanDescription),
          s.rootExecutionId.exists(_ != s.executionId)))
      case s: SparkListenerSQLExecutionEnd => sqlEnd.put(s.executionId, s.time.toDouble)
      case _ => ()
    }
  }

  private val qeListener = new org.apache.spark.sql.util.QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
  }

  private def record(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases
    def dur(p: String) = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
    val start = ph.values.map(_.startTimeMs).minOption.getOrElse(0L).toDouble
    val end = ph.values.map(_.endTimeMs).maxOption.getOrElse(0L).toDouble
    val exchanges = try Plans.exchanges(qe.executedPlan) catch { case _: Throwable => 0 }
    qes.add(QeEv(start, end, dur("analysis"), dur("optimization"), dur("planning"), exchanges))
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = PerfbenchBridge.drainListenerBus(spark.sparkContext)

  /** The spans the benchmark recorded around its own calls into the engine. */
  def recordedSpans: Seq[Span] = synchronized(spans.toSeq)

  /** SQL executions that started inside [from, to]. */
  def sqlExecutions(from: Double, to: Double): Seq[SqlEv] =
    sqlStart.asScala.toSeq.collect {
      case (id, (s, w, n)) if s >= math.floor(from) && s <= to =>
        SqlEv(id, s, Option(sqlEnd.get(id)).map(_.doubleValue).getOrElse(s), w, n)
    }.sortBy(_.startMs)

  /** The sink wrapper: times every TweetSink.append as a span. */
  def wrapSink(inner: TweetSink): TweetSink = new TweetSink {
    override def ensureTable(): String = inner.ensureTable()
    override def append(df: DataFrame): Unit = {
      val t0 = Clock.nowMs
      try inner.append(df)
      finally Trace.this.synchronized { spans += Span(spans.size, -1, "sinks.append", t0, Clock.nowMs) }
    }
  }

  /** Counters over every event that falls inside [from, to]: the totals the
    * per-layer metrics divide. */
  def window(from: Double, to: Double): Window = {
    val lo = math.floor(from)
    val ts = tasks.asScala.filter(t => t.launchMs >= lo && t.launchMs <= to).toSeq
    Window(
      jobs = jobs.asScala.count(j => j.submitMs >= lo && j.submitMs <= to),
      stages = stages.asScala.count(s => s >= lo && s <= to),
      tasks = ts,
      qes = qes.asScala.filter(q => q.startMs >= lo && q.startMs <= to).toSeq)
  }

  /** Input records read by the tasks of the given SQL executions. */
  def recordsReadBy(execIds: Set[Long]): Long = {
    val stageExec = jobs.asScala.flatMap(j => j.execId.filter(execIds).toSeq
      .flatMap(id => j.stageIds.map(_ -> id))).toMap
    tasks.asScala.filter(t => stageExec.contains(t.stageId)).map(_.recordsRead).sum
  }
}

object Trace {
  final case class JobEv(submitMs: Double, execId: Option[Long], stageIds: Seq[Int])
  final case class TaskEv(stageId: Int, launchMs: Double, runMs: Long, cpuNs: Long,
      gcMs: Long, bytesRead: Long, recordsRead: Long, shuffleWrite: Long,
      shuffleRead: Long, spill: Long)
  final case class QeEv(startMs: Double, endMs: Double, analysisMs: Double,
      optimizationMs: Double, planningMs: Double, exchanges: Int)
  /** A SQL execution; `nested` when it ran inside another one (every
    * action a foreachBatch function takes runs inside the micro-batch's). */
  final case class SqlEv(id: Long, startMs: Double, endMs: Double, isWrite: Boolean,
      nested: Boolean) {
    def ms: Double = endMs - startMs
  }

  final case class Window(jobs: Int, stages: Int, tasks: Seq[TaskEv], qes: Seq[QeEv]) {
    def runMs: Double = tasks.map(_.runMs).sum.toDouble
    def cpuMs: Double = tasks.map(_.cpuNs).sum / 1e6
    def gcMs: Double = tasks.map(_.gcMs).sum.toDouble
    def bytesRead: Double = tasks.map(_.bytesRead).sum.toDouble
    def recordsRead: Double = tasks.map(_.recordsRead).sum.toDouble
    def shuffleWrite: Double = tasks.map(_.shuffleWrite).sum.toDouble
    def shuffleRead: Double = tasks.map(_.shuffleRead).sum.toDouble
    def spill: Double = tasks.map(_.spill).sum.toDouble
    def analysisMs: Double = qes.map(_.analysisMs).sum
    def optimizationMs: Double = qes.map(_.optimizationMs).sum
    def planningMs: Double = qes.map(_.planningMs).sum
    def exchanges: Double = qes.map(_.exchanges).sum.toDouble
  }

  private def isWrite(plan: String): Boolean =
    plan != null && plan.contains("InsertIntoHadoopFsRelationCommand")

  private object Plans extends AdaptiveSparkPlanHelper {
    def exchanges(p: SparkPlan): Int = collectWithSubqueries(p) { case e: ShuffleExchangeLike => e }.size
  }

  /** Self time of each span: its duration minus the part of it that its
    * children cover. Returns (span, selfMs) in span order. */
  def selfTimes(spans: Seq[Span]): Seq[(Span, Double)] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val iv = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startMs, s.startMs), math.min(c.endMs, s.endMs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0.0
      var curA = Double.NaN; var curB = Double.NaN
      iv.foreach { case (a, b) =>
        if (curA.isNaN) { curA = a; curB = b }
        else if (a <= curB) curB = math.max(curB, b)
        else { covered += curB - curA; curA = a; curB = b }
      }
      if (!curA.isNaN) covered += curB - curA
      s -> math.max(0.0, s.ms - covered)
    }
  }

  /** Per span name: count, total ms and self ms. */
  def spanSummary(spans: Seq[Span]): Seq[(String, Json.Obj)] =
    selfTimes(spans).groupBy(_._1.name).toSeq.sortBy(_._1).map { case (name, xs) =>
      name -> Json.obj("count" -> xs.size, "total_ms" -> xs.map(_._1.ms).sum,
        "self_ms" -> xs.map(_._2).sum)
    }
}
