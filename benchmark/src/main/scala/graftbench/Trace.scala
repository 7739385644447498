package graftbench

import java.time.Instant
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

import graft.model.{AttrCodec, SpanContextRow, SpanRow, SpanStatusRow, TimeFns}

/** Epoch microseconds read off the monotonic timer, so spans the benchmark
  * stamps and the millisecond times Spark's listener reports share a clock. */
object Clock {
  private val anchorNs = System.nanoTime()
  private val anchorUs = System.currentTimeMillis() * 1000L
  def nowUs(): Long = anchorUs + (System.nanoTime() - anchorNs) / 1000L
}

/** One span at a boundary the benchmark controls (workload, run, op,
  * phase) or one Spark job/stage taken from the listener. */
case class BSpan(
    id: Long,
    parent: Long,
    name: String,
    layer: String,
    startUs: Long,
    endUs: Long,
    attrs: Map[String, Any] = Map.empty) {
  def durS: Double = (endUs - startUs) / 1e6
}

/** In-memory span recorder. Ids are positive; parent 0 means a root. */
final class Recorder {
  private val buf = new ConcurrentLinkedQueue[BSpan]()
  private val ids = new AtomicLong(0L)

  def nextId(): Long = ids.incrementAndGet()
  def add(s: BSpan): Unit = buf.add(s)
  def spans: Seq[BSpan] = buf.iterator().asScala.toSeq

  /** Run `body` inside a new span; the body gets the span's id. */
  def span[A](name: String, layer: String, parent: Long)(body: Long => A): A = {
    val id = nextId()
    val t0 = Clock.nowUs()
    try body(id)
    finally add(BSpan(id, parent, name, layer, t0, Clock.nowUs()))
  }

}

object Recorder {
  def hexId(id: Long): String = f"0x$id%016x"

  /** Spans as the engine's span rows (one trace), for
    * `graft.exec.SpanSink.writeJsonl`; a span whose parent is not among
    * them becomes a root. */
  def toSpanRows(spans: Seq[BSpan], traceId: String): Seq[SpanRow] = {
    val ids = spans.map(_.id).toSet
    def iso(us: Long) = TimeFns.toIso(Instant.ofEpochSecond(us / 1000000L, (us % 1000000L) * 1000L))
    spans.sortBy(_.id).map { s => SpanRow(
      name = s.name,
      context = SpanContextRow(traceId, hexId(s.id), "[]"),
      parent_id = if (ids(s.parent)) Some(hexId(s.parent)) else None,
      kind = "SpanKind.INTERNAL",
      start_time = iso(s.startUs),
      end_time = iso(s.endUs),
      status = SpanStatusRow("OK", None),
      attributes = AttrCodec.renderMap(s.attrs + ("layer" -> s.layer)),
      events = Nil,
      links = Nil,
      resource = Map("service.name" -> AttrCodec.render("graft-benchmark")))
    }
  }
}

/** What the listener saw of one Spark job. */
final class JobRec(val jobId: Int, val startMs: Long, val op: Option[String],
    val stageIds: Seq[Int]) {
  @volatile var endMs: Long = -1L
}

/** What the listener saw of one stage attempt. */
final class StageRec(val stageId: Int) {
  var submitMs = -1L
  var doneMs = -1L
  var numTasks = 0
  var cpuNs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var firstLaunchMs = Long.MaxValue
  val taskMs = mutable.ArrayBuffer.empty[Long]
}

/** One planned-and-executed query. */
case class QueryRec(startMs: Long, planMs: Long, exchanges: Int, fallbackExprs: Int)

/** Spark's public listeners, attached only while a traced pass runs. Jobs
  * are attributed to ops through the local property [[SparkProbe.OpKey]]
  * that the benchmark sets on every thread that submits work; queries are
  * attributed by their start time. */
final class SparkProbe extends SparkListener with QueryExecutionListener {
  private val jobById = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stages = new java.util.concurrent.ConcurrentHashMap[Int, StageRec]()
  val queries = new ConcurrentLinkedQueue[QueryRec]()
  @volatile private var lastExecStartMs = -1L
  @volatile private var lastEventMs: Long = System.currentTimeMillis()

  def jobs: Seq[JobRec] = jobById.values().asScala.toSeq.sortBy(_.jobId)
  def job(id: Int): Option[JobRec] = Option(jobById.get(id))
  def stage(id: Int): Option[StageRec] = Option(stages.get(id))

  private def touch(): Unit = lastEventMs = System.currentTimeMillis()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    touch()
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(SparkProbe.OpKey)))
    jobById.put(e.jobId, new JobRec(e.jobId, e.time, op, e.stageIds))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    touch()
    Option(jobById.get(e.jobId)).foreach(_.endMs = e.time)
  }

  private def rec(id: Int) = stages.computeIfAbsent(id, i => new StageRec(i))

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = {
    touch()
    val r = rec(e.stageInfo.stageId)
    r.synchronized { r.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis()) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    touch()
    val i = e.stageInfo
    val r = rec(i.stageId)
    r.synchronized {
      r.doneMs = i.completionTime.getOrElse(System.currentTimeMillis())
      if (r.submitMs < 0) r.submitMs = i.submissionTime.getOrElse(r.doneMs)
      r.numTasks += i.numTasks
      val m = i.taskMetrics
      if (m != null) {
        r.cpuNs += m.executorCpuTime
        r.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    touch()
    val r = rec(e.stageId)
    r.synchronized {
      r.firstLaunchMs = math.min(r.firstLaunchMs, e.taskInfo.launchTime)
      r.taskMs += e.taskInfo.duration
    }
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = {
    touch()
    e match {
      case s: SparkListenerSQLExecutionStart => lastExecStartMs = s.time
      case _ =>
    }
  }

  // Query callbacks follow their execution's end event on the same
  // listener thread; the latest execution start is close enough to place
  // the query inside its op, which spans many milliseconds.
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    touch()
    val planMs = qe.tracker.phases.values.map(_.durationMs).sum
    val nodes = SparkProbe.planNodes(qe.executedPlan)
    val exchanges = nodes.count {
      case _: ShuffleExchangeLike | _: BroadcastExchangeLike => true
      case _ => false
    }
    val fallback = nodes.map(_.expressions.map(_.collect { case f: CodegenFallback => f }.size).sum).sum
    val start = if (lastExecStartMs > 0) lastExecStartMs
      else System.currentTimeMillis() - durationNs / 1000000L
    queries.add(QueryRec(start, planMs, exchanges, fallback))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = touch()

  /** Block until the listener bus has gone quiet and every job it saw
    * started has ended (the bus delivers asynchronously). */
  def awaitQuiet(maxMs: Long = 10000L): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    def settled = jobs.forall(_.endMs >= 0) &&
      System.currentTimeMillis() - lastEventMs > 200
    while (!settled && System.currentTimeMillis() < deadline) Thread.sleep(20)
  }
}

object SparkProbe {
  /** Local property naming the op a Spark job belongs to. */
  val OpKey = "graftbench.op"

  /** Every node of an executed plan, through adaptive wrappers, query
    * stages and subqueries. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case q: QueryStageExec => q +: planNodes(q.plan)
    case other => other +: (other.children ++ other.subqueries).flatMap(planNodes)
  }
}
