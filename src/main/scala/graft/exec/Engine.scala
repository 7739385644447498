package graft.exec

import java.util.concurrent.{Executors, Semaphore, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.concurrent.{Await, ExecutionContext, Future, Promise}
import scala.concurrent.duration.{Duration, SECONDS}
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.SparkSession

import graft.model.{Errors, ExceptionGroup, SerializedData, SpanRow}

/** Task-result wrapper flowing between DAG nodes (SURVEY §1.1), mirroring
  * `composable_logs/wrappers.py:31-65`: the consumer logs provenance links
  * from `spanId`/`traceparent`. */
case class TaskResult[+A](result: A, spanId: String, traceparent: String)

/** A lazy DAG node (the reference's Ray `FunctionNode`,
  * `wrappers.py:263-398`). Nodes are built by [[Engine.task]] and run by
  * [[Engine.runDag]]; within one `runDag` call each node executes exactly
  * once (run-once semantics proven by `test_parallel_tasks.py:218-259`).
  */
final class Node private[exec] (
    val taskId: String,
    private[exec] val deps: Seq[Node],
    private[exec] val body: (Seq[Try[TaskResult[Any]]], RunCtx) => Try[TaskResult[Any]])

private[exec] case class RunCtx(
    baggage: Map[String, Any],
    topSpan: SpanContext)

/** The Spark-native workflow engine (SURVEY §2 Group E): DAG composition,
  * parallel scheduling with per-task CPU budgets, timeout-kill,
  * short-circuit error propagation, parameter propagation and typed
  * logging — the reference's Ray execution model
  * (`composable_logs/wrappers.py`) re-hosted on one driver JVM + Spark jobs.
  *
  * Mapping: Ray worker process → driver-pool thread; Ray actor kill →
  * thread interrupt + `cancelJobGroup` (the task's Spark jobs are tagged
  * with its span id); Ray CPU reservation → a counting semaphore with the
  * same observable exclusion property (`test_task_queuing.py:59-87`); OTel
  * baggage → explicit run context (no cross-process ambiguity).
  */
final class Engine(
    val spark: SparkSession,
    totalCpus: Int = Runtime.getRuntime.availableProcessors()) {

  val sink = new SpanSink
  val tracer = new Tracer(sink)
  private val cpuSemaphore = new Semaphore(totalCpus)

  private val pool = Executors.newCachedThreadPool(r => {
    val t = new Thread(r, "graft-dag")
    t.setDaemon(true)
    t
  })
  private implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)

  def spans: Seq[SpanRow] = sink.spans

  /** E1 — the `@task` wrapper. Returns a node builder: apply it to upstream
    * nodes to compose the DAG. The body receives the unwrapped upstream
    * values (in dependency order). */
  def task(
      taskId: String,
      taskParameters: Map[String, Any] = Map.empty,
      numCpus: Int = 1,
      timeoutS: Option[Double] = None,
      taskType: String = "python")(f: Seq[Any] => Any): Seq[Node] => Node = {

    if (!timeoutS.forall(_ > 0))
      throw new IllegalArgumentException(
        "timeout_s should be positive of None (no timeout)")
    if (numCpus <= 0 || numCpus > totalCpus)
      throw new IllegalArgumentException(
        s"num_cpus must be in [1, $totalCpus] (got $numCpus); a larger " +
          "reservation than the engine's budget could never be scheduled")
    taskParameters.keys.foreach { k =>
      if (!(k.startsWith("task.") || k.startsWith("workflow.")))
        throw new IllegalArgumentException(
          s"Task defined with task parameter $k. " +
            "Parameters should start with 'task.' or 'workflow.")
    }

    (deps: Seq[Node]) => new Node(taskId, deps,
      (upstream, runCtx) =>
        executeTask(taskId, taskType, taskParameters, numCpus, timeoutS, f,
          upstream, runCtx))
  }

  // E4 short-circuit + E1 execute-task span + E2 timeout guard.
  private def executeTask(
      taskId: String,
      taskType: String,
      taskParameters: Map[String, Any],
      numCpus: Int,
      timeoutS: Option[Double],
      f: Seq[Any] => Any,
      upstream: Seq[Try[TaskResult[Any]]],
      runCtx: RunCtx): Try[TaskResult[Any]] = {

    // E4: upstream failure ⇒ grouped Failure, and NO span is opened
    // (failed-downstream tasks are absent from logs,
    // `test_parallel_tasks.py:176-193`).
    val upstreamErrors = upstream.collect { case Failure(e) => e }
    if (upstreamErrors.nonEmpty)
      return Failure(Errors.flattenExceptions(upstreamErrors))

    val args = upstream.collect { case Success(tr) => tr }

    tracer.inSpan("execute-task",
      parent = Some(runCtx.topSpan),
      links = args.map(a => SpanContext.fromTraceparent(a.traceparent))) { span =>

      val thisSpanId = span.ctx.spanId
      val thisTraceparent = span.ctx.traceparent

      // E6: parameter resolution order baggage ⊕ task ⊕ system
      // (`test_dag_runner.py:150-171`); later entries win.
      val augParams: Map[String, Any] =
        runCtx.baggage ++ taskParameters ++ Map(
          "task.id" -> taskId,
          "task.type" -> taskType,
          "task.num_cpus" -> numCpus,
          "task.timeout_s" -> timeoutS.map(t => t: Any).getOrElse(-1))
      augParams.foreach { case (k, v) => span.setAttribute(k, v) }

      // E9: legacy task-dependency sub-spans (dual representation with the
      // links above; equality asserted by `test_dag_runner.py:139-144`).
      args.foreach { a =>
        tracer.inSpan("task-dependency") { sub =>
          sub.setAttribute("from_task_span_id", a.spanId)
          sub.setAttribute("to_task_span_id", thisSpanId)
        }
      }

      val unwrapped = args.map(_.result)

      val tryResult = runWithTimeoutGuard(
        span, thisSpanId, augParams, numCpus, timeoutS, f, unwrapped)

      // execute-task span: status from outcome, exception NOT re-recorded
      // here (asymmetric recording contract, `wrappers.py:381-388`).
      logOutcome(span, tryResult, recordException = false)

      tryResult.map(x => TaskResult(x, thisSpanId, thisTraceparent))
    }
  }

  /** E2 — timeout guard: body on a killable daemon thread; on timeout the
    * thread is interrupted and the task's Spark job group cancelled. Exact
    * failure message preserved (asserted verbatim,
    * `test_stuck_task.py:23-25`). */
  private def runWithTimeoutGuard(
      taskSpan: OpenSpan,
      taskSpanId: String,
      augParams: Map[String, Any],
      numCpus: Int,
      timeoutS: Option[Double],
      f: Seq[Any] => Any,
      args: Seq[Any]): Try[Any] = {

    tracer.inSpan("timeout-guard") { guard =>
      val killed = new AtomicBoolean(false)
      val promise = Promise[Try[Any]]()

      val bodyThread = new Thread(() => {
        // E5: CPU budget — the inner span only opens once `numCpus` permits
        // are held, giving the reference's exclusion property. A timeout
        // interrupt during the queue wait exits quietly (no permits held).
        val acquired =
          try { cpuSemaphore.acquire(numCpus); true }
          catch { case _: InterruptedException => false }
        if (acquired) try {
          val result = tracer.withAmbient(guard) {
            val inner = tracer.startSpan("call-python-function")
            val ctx = new TaskContext(Engine.this,
              augParams + ("_opentelemetry_traceparent" -> inner.ctx.traceparent),
              inner.ctx)
            spark.sparkContext.setJobGroup(taskSpanId,
              s"graft task ${augParams.getOrElse("task.id", "")}",
              interruptOnCancel = true)
            val r = TaskContext.withContext(ctx) { Try(f(args)) }
            spark.sparkContext.clearJobGroup()
            // synchronized with the kill path: a timeout firing between the
            // flag check and end() must not let the inner span slip out
            // ("a killed task's inner span is never exported")
            killed.synchronized {
              if (!killed.get()) {
                logOutcome(inner, r, recordException = true)
                inner.end()
              }
            }
            r
          }
          promise.trySuccess(result)
        } catch {
          case _: InterruptedException => // killed: swallow, no span
          case e: Throwable => promise.trySuccess(Failure(e))
        } finally cpuSemaphore.release(numCpus)
      }, s"graft-task-$taskSpanId")
      bodyThread.setDaemon(true)
      bodyThread.start()

      val result: Try[Any] =
        try {
          val d = timeoutS.map(t => Duration(t, SECONDS)).getOrElse(Duration.Inf)
          val r = Await.result(promise.future, d)
          // finished within timeout: guard span gets status, NOT the
          // function's exception (recorded in the inner span already).
          logOutcome(guard, r, recordException = false)
          r
        } catch {
          case _: java.util.concurrent.TimeoutException =>
            killed.synchronized { killed.set(true) }
            bodyThread.interrupt()
            spark.sparkContext.cancelJobGroup(taskSpanId)
            val failure = Failure(new Exception(
              "Timeout error: execution did not finish within timeout limit."))
            logOutcome(guard, failure, recordException = true)
            failure
        }
      result
    }
  }

  private def logOutcome(span: OpenSpan, t: Try[_], recordException: Boolean): Unit =
    t match {
      case Success(_) => span.setStatus("OK")
      case Failure(e) =>
        span.setStatus("ERROR", Some("Failure"))
        if (recordException) span.recordException(e)
    }

  /** E3 — run a multi-sink DAG: every node runs once (memoized futures);
    * sink errors are flattened into a string-deduplicated ExceptionGroup.
    * (`wrappers.py:416-497`) */
  def runDag(
      dagSinks: Seq[Node],
      workflowParameters: Map[String, Any] = Map.empty): Try[Seq[Any]] =
    tracer.inSpan("dag-top-span") { span =>
      workflowParameters.foreach { case (k, v) => span.setAttribute(k, v) }
      val runCtx = RunCtx(workflowParameters, span.ctx)

      val memo = scala.collection.mutable.HashMap.empty[Node, Future[Try[TaskResult[Any]]]]
      def futureOf(node: Node): Future[Try[TaskResult[Any]]] =
        memo.getOrElseUpdate(node, {
          val depFs = node.deps.map(futureOf)
          Future.sequence(depFs).map(results => node.body(results, runCtx))
        })

      val results = Await.result(
        Future.sequence(dagSinks.map(futureOf)), Duration.Inf)

      val errors = results.collect { case Failure(e) => e }
      if (errors.nonEmpty) Failure(Errors.flattenExceptions(errors))
      else Success(results.collect { case Success(tr) => tr.result })
    }

  /** A logging handle parented at an explicit traceparent — the shim path
    * used by the MLflow protocol adapter (F2), mirroring
    * `get_task_context(P={"_opentelemetry_traceparent": ...})`. */
  def loggerFor(traceparent: String): TaskContext = {
    val ctx = SpanContext.fromTraceparent(traceparent)
    new TaskContext(this,
      Map("_opentelemetry_traceparent" -> traceparent), ctx)
  }

  /** Single-sink convenience: unwraps the one result (`wrappers.py:426-427`). */
  def runDag(dag: Node, workflowParameters: Map[String, Any]): Try[Any] =
    runDag(Seq(dag), workflowParameters).map(Errors.one(_))

  def runDag(dag: Node): Try[Any] = runDag(dag, Map.empty[String, Any])
}

/** E6/E7 — the in-task parameter + typed-logging API, mirroring
  * `ComposableLogsLogger` (`task_opentelemetry_logging.py:197-381`). Inside
  * a task body, `TaskContext.get` resolves the ambient context; log calls
  * emit `named-value`/`artefact` child spans of the task's inner span.
  */
final class TaskContext private[exec] (
    engine: Engine,
    val parameters: Map[String, Any],
    parentCtx: SpanContext) {

  private def logNamedValue(name: String, content: Any, isFile: Boolean): Unit = {
    val sd = SerializedData.encode(content)
    engine.tracer.inSpan(
      if (isFile) "artefact" else "named-value",
      parent = Some(parentCtx)) { span =>
      span.setAttribute("name", name)
      span.setAttribute("type", sd.tpe)
      span.setAttribute("encoding", sd.encoding)
      span.setAttribute("content_encoded", sd.encodedContent)
      span.setStatus("OK")
    }
  }

  def logArtefact(name: String, content: String): Unit =
    logNamedValue(name, content, isFile = true)
  def logArtefact(name: String, content: Array[Byte]): Unit =
    logNamedValue(name, content, isFile = true)

  def logValue(name: String, value: Any): Unit =
    logNamedValue(name, value, isFile = false)
  def logString(name: String, value: String): Unit =
    logNamedValue(name, value, isFile = false)
  def logInt(name: String, value: Long): Unit =
    logNamedValue(name, value, isFile = false)
  def logBoolean(name: String, value: Boolean): Unit =
    logNamedValue(name, value, isFile = false)
  def logFloat(name: String, value: Double): Unit =
    logNamedValue(name, value, isFile = false)

  def getParameter(key: String): Any = parameters.getOrElse(key,
    throw new NoSuchElementException(s"Parameter $key not found"))
}

object TaskContext {
  private val current = new ThreadLocal[Option[TaskContext]] {
    override def initialValue(): Option[TaskContext] = None
  }

  /** Ambient resolution inside a task body (the reference's
    * `get_task_context()`). */
  def get: TaskContext = current.get().getOrElse(
    throw new IllegalStateException("No TaskContext: not inside a task body"))

  private[exec] def withContext[A](ctx: TaskContext)(body: => A): A = {
    val prev = current.get()
    current.set(Some(ctx))
    try body
    finally current.set(prev)
  }
}

/** E10 — span recorder test harness: diffs the engine's sink around a code
  * block (`opentelemetry_helpers.py:494-546`) — synchronous, so none of the
  * reference's sleeps/double-flushes. */
object SpanRecorder {
  def record(engine: Engine)(block: => Unit): Seq[SpanRow] = {
    val pre = engine.sink.spans.map(_.context.span_id).toSet
    block
    engine.sink.spans.filterNot(s => pre.contains(s.context.span_id))
  }
}
