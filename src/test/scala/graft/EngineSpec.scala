package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.util.{Failure, Success}

import org.scalatest.funsuite.AnyFunSuite

import graft.exec.{Engine, SpanRecorder, TaskContext}
import graft.model.{ExceptionGroup, Intervals, SpanModel, TimeFns}
import graft.parser.SpanParser

/** Execution round-trip tests (SURVEY §5): run a real DAG, then assert on
  * the PARSED span output — ports of the reference's
  * `test_dag_runner.py`, `test_parallel_tasks.py`, `test_stuck_task.py`,
  * `test_task_queuing.py`, `test_task_opentelemetry_logging.py`. */
class EngineSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  def newEngine(cpus: Int = 4) = new Engine(spark, cpus)

  test("E1/E3/E6: fan-in compose DAG (ref test_dag_runner.py:63-137)") {
    val engine = newEngine()
    val in1 = engine.task("input_1",
      Map("task.foo" -> 12))(_ => 10)
    val in2 = engine.task("input_2")(_ => 123 + 20)
    val process = engine.task("process")(args =>
      args.map(_.asInstanceOf[Int]).sum)

    val spans = SpanRecorder.record(engine) {
      val result = engine.runDag(
        process(Seq(in1(Nil), in2(Nil))),
        Map("workflow.env" -> "xyz"))
      assert(result == Success(153))
    }
    val s = SpanParser.parseSpans(SpanModel.toDF(spark, spans))
    assert(s.isSuccess)
    assert(s.attributes == Map("workflow.env" -> "xyz"))
    assert(s.taskRuns.size == 3)
    assert(s.taskRuns.map(_.taskId).toSet == Set("input_1", "input_2", "process"))

    val in1Run = s.taskRuns.find(_.taskId == "input_1").get
    assert(in1Run.attributes == Map(
      "workflow.env" -> "xyz", "task.foo" -> 12L, "task.id" -> "input_1",
      "task.type" -> "python", "task.num_cpus" -> 1L, "task.timeout_s" -> -1L))

    // dependency edges logged in both representations and equal
    val df = SpanModel.toDF(spark, spans)
    val deps = SpanParser.extractTaskDependencies(df)
    assert(deps == SpanParser.extractTaskDependenciesFromLinks(df))
    val processRun = s.taskRuns.find(_.taskId == "process").get
    assert(deps == Set(
      (in1Run.spanId, processRun.spanId),
      (s.taskRuns.find(_.taskId == "input_2").get.spanId, processRun.spanId)))

    // span tree: execute-task → timeout-guard → call-python-function
    import graft.spans.SpansOps._
    val guards = df.filterNested(Seq("name"), "timeout-guard")
      .select("context.span_id", "parent_id").collect()
      .map(r => r.getString(0) -> r.getString(1))
    assert(guards.length == 3)
    val processGuard = guards.find(_._2 == processRun.spanId).get._1
    val processCall = df.filterNested(Seq("name"), "call-python-function")
      .filterNested(Seq("parent_id"), processGuard)
      .select("context.span_id").head().getString(0)
    assert(df.containsPath(processRun.spanId, processGuard, processCall))
  }

  test("E4: upstream failure short-circuits, failed-downstream absent from logs") {
    val engine = newEngine()
    val bad = engine.task("bad")(_ => throw new Exception("boom!"))
    val ok = engine.task("ok")(_ => 1)
    val process = engine.task("process")(args => args)

    val spans = SpanRecorder.record(engine) {
      val result = engine.runDag(process(Seq(bad(Nil), ok(Nil))), Map())
      result match {
        case Failure(e) => assert(graft.model.Errors.messageOf(e) == "boom!")
        case other => fail(s"expected Failure, got $other")
      }
    }
    val s = SpanParser.parseSpans(SpanModel.toDF(spark, spans))
    // only bad + ok ran; process never opened a span
    assert(s.taskRuns.map(_.taskId).toSet == Set("bad", "ok"))
    assert(SpanParser.extractTaskDependencies(SpanModel.toDF(spark, spans)).isEmpty)
    val badRun = s.taskRuns.find(_.taskId == "bad").get
    assert(badRun.isFailure)
    assert(badRun.exceptions.size == 1)
  }

  test("E3: two independent failures collect into string-deduplicated ExceptionGroup") {
    val engine = newEngine()
    val f1 = engine.task("f1")(_ => throw new Exception("err-A"))
    val f2 = engine.task("f2")(_ => throw new Exception("err-B"))
    val f3 = engine.task("f3")(_ => throw new Exception("err-A"))

    engine.runDag(Seq(f1(Nil), f2(Nil), f3(Nil)), Map()) match {
      case Failure(g: ExceptionGroup) =>
        assert(g.exceptions.map(graft.model.Errors.messageOf) == List("err-A", "err-B"))
      case other => fail(s"expected ExceptionGroup, got $other")
    }
  }

  test("E3: run-once semantics for shared upstream (ref test_parallel_tasks.py:218-259)") {
    val engine = newEngine()
    val counter = new AtomicInteger(0)
    val shared = engine.task("shared")(_ => counter.incrementAndGet())
    val sharedNode = shared(Nil)
    val d1 = engine.task("d1")(args => args.head)
    val d2 = engine.task("d2")(args => args.head)

    val result = engine.runDag(Seq(d1(Seq(sharedNode)), d2(Seq(sharedNode))), Map())
    assert(result == Success(Seq(1, 1)))
    assert(counter.get() == 1)
  }

  test("E2: timeout kills stuck task with exact message (ref test_stuck_task.py)") {
    val engine = newEngine()
    val stuck = engine.task("stuck", timeoutS = Some(0.5))(_ => {
      Thread.sleep(1000000L); 42
    })
    val t0 = System.nanoTime()
    val spans = SpanRecorder.record(engine) {
      engine.runDag(stuck(Nil), Map()) match {
        case Failure(e) => assert(e.getMessage ==
          "Timeout error: execution did not finish within timeout limit.")
        case other => fail(s"expected Failure, got $other")
      }
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    assert(elapsed >= 0.5)

    val s = SpanParser.parseSpans(SpanModel.toDF(spark, spans))
    val run = s.taskRuns.head
    assert(run.isFailure)
    assert(run.exceptions.size == 1) // exactly one: the guard's timeout error
    assert(run.timing.durationS > 0.5)
    assert(run.attributes("task.timeout_s") == 0.5)
    // the killed inner span is never exported
    import graft.spans.SpansOps._
    assert(SpanModel.toDF(spark, spans)
      .filterNested(Seq("name"), "call-python-function").count() == 0)
  }

  test("tracer clock: a now()-measured interval never records shorter " +
    "than it lasted") {
    // span durations (E2's `> timeout` check among them) are differences
    // of Tracer.now() stamps; each stamp must come from one clock, so an
    // interval can lose at most the µs truncation, never a whole ms
    val tracer = newEngine().tracer
    val rnd = new scala.util.Random(11)
    val worstUs = (1 to 400).map { _ =>
      val t0 = tracer.now()
      val n0 = System.nanoTime()
      java.util.concurrent.locks.LockSupport.parkNanos(
        50000L + rnd.nextInt(900000))
      val n1 = System.nanoTime()
      val t1 = tracer.now()
      val stampedUs = java.time.Duration.between(t0, t1).toNanos / 1000L
      (n1 - n0) / 1000L - stampedUs
    }.max
    assert(worstUs <= 10L,
      s"an interval recorded $worstUs µs shorter than nanoTime measured")
  }

  test("E5: CPU budget — 4 one-cpu tasks on 2 cpus never overlap 3-way " +
    "(ref test_task_queuing.py:41-87)") {
    val engine = newEngine(cpus = 2)
    val tasks = (0 until 4).map { i =>
      engine.task(s"t$i")(_ => { Thread.sleep(300); i })(Nil)
    }
    val t0 = System.nanoTime()
    val spans = SpanRecorder.record(engine) {
      assert(engine.runDag(tasks, Map()).isSuccess)
    }
    assert((System.nanoTime() - t0) / 1e9 > 0.6) // 4×0.3s on 2 cpus ⇒ ≥2 rounds

    // inner-call spans: no timestamp is inside 3 intervals at once
    val innerRanges = spans.filter(_.name == "call-python-function").map(sp =>
      Intervals.Range(
        TimeFns.iso8601ToEpochUs(sp.start_time),
        TimeFns.iso8601ToEpochUs(sp.end_time)))
    assert(innerRanges.size == 4)
    val tripleOverlap = innerRanges.combinations(3).exists(c =>
      c.combinations(2).forall(p => Intervals.intersect(p(0), p(1))) && {
        val lo = c.map(_.start).max
        val hi = c.map(_.stop).min
        lo < hi
      })
    assert(!tripleOverlap)
  }

  test("E7: logging attribution — same names in two tasks stay separate, " +
    "values survive task failure (ref test_task_opentelemetry_logging.py)") {
    val engine = newEngine()
    val t1 = engine.task("writer_1")(_ => {
      val ctx = TaskContext.get
      ctx.logInt("read-first", 111)
      ctx.logString("note", "from-1")
      ctx.logArtefact("out.txt", "contents-1")
      1
    })
    val t2 = engine.task("writer_2")(_ => {
      val ctx = TaskContext.get
      ctx.logFloat("read-first", 2.5)
      ctx.logBoolean("flag", true)
      ctx.logValue("blob", Vector(1L, 2L, 3L))
      throw new Exception("fails after logging")
    })

    val spans = SpanRecorder.record(engine) {
      engine.runDag(Seq(t1(Nil), t2(Nil)), Map())
    }
    val s = SpanParser.parseSpans(SpanModel.toDF(spark, spans))
    val r1 = s.taskRuns.find(_.taskId == "writer_1").get
    val r2 = s.taskRuns.find(_.taskId == "writer_2").get

    assert(r1.loggedValues("read-first").content == 111L)
    assert(r1.loggedValues("note").content == "from-1")
    assert(r1.getArtifact("out.txt").content == "contents-1")
    // t2 failed, but its logged values are still attributed to it
    assert(r2.isFailure)
    assert(r2.loggedValues("read-first").content == 2.5)
    assert(r2.loggedValues("flag").content == true)
    assert(r2.loggedValues("blob").content == Vector(1L, 2L, 3L))
    assert(r2.loggedArtifacts.isEmpty)
  }

  test("E6: parameter resolution order baggage ⊕ task ⊕ system " +
    "(ref test_dag_runner.py:150-171)") {
    val engine = newEngine()
    @volatile var seen: Map[String, Any] = Map.empty
    val t = engine.task("probe", Map("task.x" -> "task-level",
      "workflow.env" -> "task-override"))(_ => {
      seen = TaskContext.get.parameters
      0
    })
    engine.runDag(t(Nil), Map("workflow.env" -> "baggage-level",
      "workflow.only" -> "w"))
    assert(seen("workflow.env") == "task-override") // task params beat baggage
    assert(seen("workflow.only") == "w")
    assert(seen("task.x") == "task-level")
    assert(seen("task.id") == "probe")
    assert(seen("task.num_cpus") == 1)
    assert(seen.contains("_opentelemetry_traceparent"))
  }

  test("task definition validation: bad timeout and bad param prefix raise") {
    val engine = newEngine()
    intercept[IllegalArgumentException](
      engine.task("bad", timeoutS = Some(-1.0))(_ => 0))
    intercept[IllegalArgumentException](
      engine.task("bad", Map("invalid_key" -> 1))(_ => 0))
  }
}
