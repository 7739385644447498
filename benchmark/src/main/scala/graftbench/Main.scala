package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.exec.SpanSink
import graft.model.Json
import graft.spans.SpanSource

/** The benchmark's JVM side. `benchmark/run.py` builds it, prepares the
  * inputs and runs
  *
  * {{{
  * graftbench.Main run --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                     --data <sf dir> --shard <4x shard dir> --work <dir> --golden <dir>
  * graftbench.Main capture --rows all|compute --data <dir> --out <dir> --golden-file <file>
  * graftbench.Main fullcheck --data <dir> --golden-file <file>
  * graftbench.Main metrics
  * }}}
  *
  * and `run` prints one result line prefixed with [[ResultPrefix]]. */
object Main {
  val ResultPrefix = "GRAFTBENCH-RESULT "
  val ConfigPrefix = "GRAFTBENCH-CONFIG "
  val Workloads = Seq("battery_sf0.01", "compute_x4", "workflow_roundtrip")

  /** Workflows per pass and tasks per workflow of `workflow_roundtrip`. */
  val WorkflowsPerPass = 2
  val TasksPerWorkflow = 80

  /** Timed passes per run at least: one, or three in a traced run
    * (untraced, traced, untraced). Passes run on until `--seconds` have
    * passed, but the end-to-end metrics come from the first pass only and
    * the per-layer ones from the second: a later pass runs warmer code (a
    * second pass is about 15% faster), so counting it would make a result
    * depend on how long a pass takes against `--seconds`. */
  def minPasses(trace: Boolean): Int = if (trace) 3 else 1

  def main(argv: Array[String]): Unit = {
    val mode = argv.headOption.getOrElse("")
    val a = argv.drop(1).sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    mode match {
      case "run" => run(a)
      case "capture" => capture(a)
      case "fullcheck" => sys.exit(if (fullCheck(a)) 0 else 1)
      case "metrics" => println(Json.render(Layers.All.map(x =>
        ListMap("name" -> x.name, "unit" -> x.unit, "better" -> x.better))))
      case other =>
        System.err.println(s"unknown mode '$other' (run | capture | fullcheck | metrics)")
        sys.exit(2)
    }
  }

  def nproc: Int = Runtime.getRuntime.availableProcessors()

  /** The session graft.Bench builds, on `local[nproc]`. */
  def session(warehouse: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$nproc]")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", warehouse.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def meminfo: Map[String, Long] = scala.util.Try(
    Files.readAllLines(Paths.get("/proc/meminfo")).asScala.flatMap { l =>
      l.split("\\s+") match {
        case Array(k, v, _*) => v.toLongOption.map(k.stripSuffix(":") -> _)
        case _ => None
      }
    }.toMap).getOrElse(Map.empty)

  private def peakRssMb: Double = scala.util.Try(
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).get).getOrElse(0.0)

  /** The host's CPU pressure ("some" share of the last 10 and 60 s, in %)
    * and its 1-minute load average: the benchmark shares its host, and a
    * loaded host slows every op of a run alike. */
  def hostLoad: ListMap[String, Double] = {
    def read(f: String) = scala.util.Try(Files.readAllLines(Paths.get(f)).asScala.toSeq).getOrElse(Nil)
    val some = read("/proc/pressure/cpu").find(_.startsWith("some")).toSeq
      .flatMap(_.split("\\s+").drop(1)).flatMap(_.split("=") match {
        case Array(k, v) => v.toDoubleOption.map(k -> _)
        case _ => None
      }).toMap
    ListMap(
      "cpu_pressure_avg10" -> some.getOrElse("avg10", -1.0),
      "cpu_pressure_avg60" -> some.getOrElse("avg60", -1.0),
      "loadavg_1m" -> read("/proc/loadavg").headOption
        .flatMap(_.split(" ").headOption).flatMap(_.toDoubleOption).getOrElse(-1.0))
  }

  /** The (steal, total) CPU time of the machine so far, in clock ticks,
    * from /proc/stat: on a virtual machine, steal is the time its CPUs were
    * runnable but the hypervisor ran something else. */
  def cpuTicks: (Long, Long) = scala.util.Try {
    val t = Files.readAllLines(Paths.get("/proc/stat")).get(0).split("\\s+").drop(1).map(_.toLong)
    (t(7), t.take(8).sum)
  }.getOrElse((0L, 0L))

  /** The resolved configuration, recorded in every run's output. */
  def config(spark: SparkSession): ListMap[String, Any] = {
    val conf = spark.conf
    val mem = meminfo
    ListMap(
      "nproc" -> nproc,
      "master" -> spark.sparkContext.master,
      "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions"),
      "aqe" -> conf.get("spark.sql.adaptive.enabled"),
      "spark_version" -> spark.version,
      "jvm_version" -> System.getProperty("java.version"),
      "xmx" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .find(_.startsWith("-Xmx")).getOrElse(s"default(${Runtime.getRuntime.maxMemory() >> 20}m)"),
      "mem_available_kb" -> mem.getOrElse("MemAvailable", -1L),
      "cached_kb" -> mem.getOrElse("Cached", -1L))
  }

  /** Golden digests: row name → (sha256, row count). */
  def loadGolden(file: Path): Map[String, Digest.Result] =
    Json.parse(new String(Files.readAllBytes(file), StandardCharsets.UTF_8))
      .asInstanceOf[collection.Map[String, Any]]("rows")
      .asInstanceOf[collection.Map[String, Any]].map { case (k, v) =>
        val m = v.asInstanceOf[collection.Map[String, Any]]
        k -> Digest.Result(m("sha256").toString, m("rows").asInstanceOf[Long])
      }.toMap

  /** One timed op's outcome. */
  case class Op(name: String, seconds: Double, ok: Boolean)

  def run(a: Map[String, String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val workload = a("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a.getOrElse("trace", "0") == "1"
    val work = Paths.get(a("work")).toAbsolutePath
    Files.createDirectories(work)

    // Set-up: one session start, then the workload warms up once.
    val spark = session(work.resolve("warehouse"))
    val sc = spark.sparkContext
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1e3

    val rec = new Recorder
    val rnd = new Random(seed)
    val problems = Seq.newBuilder[String]
    var attempted = 0
    var failed = 0

    val golden = workload match {
      case "battery_sf0.01" => loadGolden(Paths.get(a("golden"), "sf0.01.json"))
      case "compute_x4" => loadGolden(Paths.get(a("golden"), "x4.json"))
      case _ => Map.empty[String, Digest.Result]
    }
    val queries = SparkEntry.queries
    val (rows, dataDir) = workload match {
      case "battery_sf0.01" => (Rows.Panel, a("data"))
      case "compute_x4" => (Rows.Compute, a("shard"))
      case _ => (Nil, "")
    }
    val wf = new WorkflowRoundtrip(spark, rec, work)
    var dagIndex = 0
    def nextDags(k: Int): Seq[DagSpec] = (0 until k).map { _ =>
      dagIndex += 1
      DagGen.generate(seed, dagIndex, TasksPerWorkflow)
    }

    // Warm-up: every op once, its output checked (the check itself is not
    // timed). Battery rows collect their result instead of the noop write.
    val warmS = {
      var t = 0.0
      if (rows.nonEmpty) rnd.shuffle(rows).foreach { name =>
        attempted += 1
        val t0 = System.nanoTime()
        val res = scala.util.Try {
          val df = queries(name)(spark, dataDir)
          (df.columns.toSeq, df.collect().toSeq)
        }
        t += secs(t0)
        res match {
          case scala.util.Success((cols, out)) =>
            val d = Digest.of(cols, out)
            if (!golden.get(name).contains(d)) {
              failed += 1
              problems += s"$name: digest ${d.sha256.take(12)}/${d.rows} rows, golden ${golden.get(name)}"
            }
          case scala.util.Failure(e) =>
            failed += 1
            problems += s"$name threw $e"
        }
      }
      else {
        val t0 = System.nanoTime()
        val runs = nextDags(1).map(d => wf.runWorkflow(d, 0L, seed))
        wf.archive(runs, 0L)
        t += secs(t0)
        val p = runs.flatMap(wf.check) ++ wf.checkArchive(runs)
        attempted += 2
        if (p.nonEmpty) failed += 1
        problems ++= p
      }
      t
    }

    // Timed phase: whole passes over the op list until `seconds` elapse.
    // A traced run traces its second pass only, so that the tracing
    // overhead is measured against untraced passes on both sides.
    val ops = Seq.newBuilder[Op]
    val passWalls = Seq.newBuilder[Double]
    val tracedPasses, untracedPasses = Seq.newBuilder[BSpan]
    val tracedRuns = Seq.newBuilder[WorkflowRun]
    var reportFiles = (0L, 0L)
    val probe = new SparkProbe
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs = gc.map(_.getCollectionTime).sum
    var gcTracedMs = 0L
    val pinnedAtStart = sc.getPersistentRDDs.size
    // the warm-up's garbage (collected results, digests) would otherwise
    // be collected during whichever op the seed puts first
    System.gc()
    val loadBefore = hostLoad
    val ticksBefore = cpuTicks
    // set-up is everything from the JVM's start to the first timed op
    val setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val t0 = System.nanoTime()
    var pass = 0
    val workloadSpan = rec.nextId()
    val workloadStart = Clock.nowUs()
    while (pass < minPasses(trace) || secs(t0) < seconds) {
      val traced = trace && pass == 1
      if (traced) {
        sc.addSparkListener(probe)
        spark.listenerManager.register(probe)
      }
      val gc0 = gcMs
      var wall = 0.0
      val passId = rec.nextId()
      val passStart = Clock.nowUs()
      def op(name: String, layer: String)(body: Long => Unit): Boolean = {
        val id = rec.nextId()
        val start = Clock.nowUs()
        val ok = scala.util.Try {
          sc.setLocalProperty(SparkProbe.OpKey, id.toString)
          try body(id) finally sc.setLocalProperty(SparkProbe.OpKey, null)
        } match {
          case scala.util.Success(_) => true
          case scala.util.Failure(e) =>
            problems += s"$name threw $e"
            if (sc.isStopped) throw e
            false
        }
        val end = Clock.nowUs()
        rec.add(BSpan(id, passId, name, layer, start, end, Map("kind" -> "op", "ok" -> ok)))
        attempted += 1
        if (!ok) failed += 1
        val s = (end - start) / 1e6
        wall += s
        if (pass == 0 && name != "archive") ops += Op(name, s, ok)
        ok
      }
      if (rows.nonEmpty) rnd.shuffle(rows).foreach { name =>
        op(name, Rows.group(name)) { id =>
          val df = rec.span("build", Rows.group(name), id)(_ => queries(name)(spark, dataDir))
          rec.span("action", Rows.group(name), id)(_ => noop(df))
        }
      }
      else {
        val runs = nextDags(WorkflowsPerPass).map { d =>
          var run: WorkflowRun = null
          if (op("workflow", "bench")(id => run = wf.runWorkflow(d, id, seed))) {
            val p = wf.check(run)
            if (p.nonEmpty) failed += 1
            problems ++= p
            if (traced) {
              tracedRuns += run
              Files.walk(run.outDir).iterator().asScala.filter(Files.isRegularFile(_)).foreach { f =>
                reportFiles = (reportFiles._1 + 1, reportFiles._2 + Files.size(f))
              }
            }
          }
          Option(run)
        }.flatten
        if (op("archive", "bench")(id => wf.archive(runs, id))) {
          val p = wf.checkArchive(runs)
          if (p.nonEmpty) failed += 1
          problems ++= p
        }
      }
      val passSpan = BSpan(passId, workloadSpan, s"pass $pass", "bench", passStart, Clock.nowUs(),
        Map("kind" -> "run", "traced" -> traced))
      rec.add(passSpan)
      passWalls += wall
      if (pass == 0 || pass == 2) untracedPasses += passSpan
      if (traced) {
        tracedPasses += passSpan
        gcTracedMs += gcMs - gc0
        probe.awaitQuiet()
        sc.removeSparkListener(probe)
        spark.listenerManager.unregister(probe)
      }
      pass += 1
    }
    rec.add(BSpan(workloadSpan, 0L, workload, "bench", workloadStart, Clock.nowUs(),
      Map("kind" -> "workload", "seed" -> seed)))
    val pinnedGrowth = sc.getPersistentRDDs.size - pinnedAtStart
    val cfg = config(spark) ++ ListMap(
      "host_load_before" -> loadBefore, "host_load_after" -> hostLoad,
      "cpu_steal_pct" -> {
        val (steal, total) = cpuTicks
        100.0 * (steal - ticksBefore._1) / math.max(1L, total - ticksBefore._2)
      })
    println(ConfigPrefix + Json.render(cfg))
    // two collections: the first lets Spark's cleaner drop what the
    // collected references held
    System.gc()
    Thread.sleep(200)
    System.gc()
    val liveHeapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val opSecs = ops.result().filter(_.ok).map(_.seconds)
    val geomean = if (opSecs.isEmpty) 0.0 else math.exp(opSecs.map(math.log).sum / opSecs.size)
    val walls = passWalls.result()
    val metrics: Seq[(String, Double, String)] =
      if (!trace) Seq(
        ("setup_s", setupS, "s"),
        ("wall_s", walls.head, "s"),
        ("op_geomean_s", geomean, "s"))
      else {
        val traced = Layers.Traced(tracedPasses.result(), rec.spans, probe, tracedRuns.result(),
          reportFiles, gcTracedMs / 1e3, pinnedGrowth, untracedPasses.result().map(_.durS),
          liveHeapMb, peakRssMb)
        val all = Layers.withSpark(traced, rec)
        val values = Layers.compute(traced, all)
        writeTrace(spark, all, work, workload, seed).foreach { p =>
          failed += 1
          problems += p
        }
        Layers.All.map(x => (x.name, values(x.name), x.unit))
      }

    val details = ListMap(
      "workload" -> workload, "seed" -> seed, "trace" -> trace, "passes" -> pass,
      "ops" -> opSecs.size, "op_p50_s" -> (if (opSecs.isEmpty) null else Stats.median(opSecs)),
      "op_p90_s" -> Stats.tail(opSecs, 0.9).getOrElse(null),
      "peak_rss_mb" -> peakRssMb, "live_heap_mb" -> liveHeapMb, "pass_s" -> walls,
      "op_s" -> ops.result().map(o => ListMap("name" -> o.name, "s" -> o.seconds, "ok" -> o.ok)),
      "session_s" -> sessionS, "warmup_s" -> warmS,
      "problems" -> problems.result().take(20), "config" -> cfg)
    Files.writeString(work.resolve(s"details-$workload-$seed-${if (trace) 1 else 0}.json"), Json.render(details))
    problems.result().take(20).foreach(p => System.err.println(s"[graftbench] problem: $p"))

    graft.llm.Similarity.releaseBroadcasts()
    spark.stop()
    val result = ListMap(
      "correct" -> (failed == 0),
      "attempted" -> attempted.toLong,
      "failed" -> failed.toLong,
      "metrics" -> ListMap(metrics.map { case (k, v, u) => k -> ListMap("value" -> v, "unit" -> u) }: _*))
    println(ResultPrefix + Json.render(result))
  }

  /** Write the trace as OTel-shaped JSONL through the engine's own span
    * sink, load it back with the engine's reader, and emit the per-layer
    * self-time table. Returns a problem if the reader loses spans. */
  private def writeTrace(spark: SparkSession, all: Seq[BSpan], work: Path,
      workload: String, seed: Long): Option[String] = {
    val sink = new SpanSink
    val rows = Recorder.toSpanRows(all, f"0x${seed & 0xffffffffL}%032x")
    rows.foreach(sink.add)
    val file = work.resolve(s"trace-$workload-$seed.jsonl")
    sink.writeJsonl(file.toString)
    val loaded = SpanSource.readJsonl(spark, file.toString).count()

    val self = Layers.selfTimes(all)
    val wall = all.filter(_.attrs.get("kind").contains("run")).map(_.durS).sum
    val table = ("layer\tself_s\tshare" +: self.toSeq.sortBy(-_._2).map { case (l, s) =>
      f"$l\t$s%.4f\t${s / math.max(1e-9, wall)}%.4f"
    }) :+ f"total\t${self.values.sum}%.4f\t(traced wall $wall%.4f s)"
    Files.write(work.resolve(s"selftime-$workload-$seed.tsv"), table.asJava)
    System.err.println(s"[graftbench] trace: $file (${rows.size} spans, read back $loaded)")
    table.foreach(l => System.err.println(s"[graftbench] selftime $l"))
    Option.when(loaded != rows.size)(s"trace: SpanSource.readJsonl loaded $loaded of ${rows.size} spans")
  }

  /** Run rows once on `data` and write a Verify-style dump (one parquet
    * directory per row plus oracle_sql.json, for scripts/check.py) and the
    * rows' digests. */
  def capture(a: Map[String, String]): Unit = {
    val out = Paths.get(a("out")).toAbsolutePath
    Files.createDirectories(out)
    val spark = session(out.resolveSibling(out.getFileName.toString + "-warehouse"))
    val qs = SparkEntry.queries
    val names = if (a.getOrElse("rows", "all") == "compute") Rows.Compute else qs.keys.toSeq.sorted
    val digests = names.map { n =>
      val df = qs(n)(spark, a("data"))
      val d = Digest.of(df)
      df.coalesce(1).write.mode("overwrite").parquet(out.resolve(n).toString)
      System.err.println(s"[graftbench] captured $n: ${d.rows} rows")
      n -> ListMap("sha256" -> d.sha256, "rows" -> d.rows)
    }
    val oracle = SparkEntry.oracleSql.filter(kv => names.contains(kv._1))
    Files.writeString(out.resolve("oracle_sql.json"), Json.render(oracle))
    Files.writeString(Paths.get(a("golden-file")), Json.render(ListMap(
      "source" -> a.getOrElse("source", ""), "rows" -> ListMap(digests: _*))) + "\n")
    spark.stop()
  }

  /** Every battery row once on `data`, compared with the golden digests. */
  def fullCheck(a: Map[String, String]): Boolean = {
    val golden = loadGolden(Paths.get(a("golden-file")))
    val spark = session(Paths.get(a.getOrElse("work", "target/fullcheck")).toAbsolutePath.resolve("warehouse"))
    val qs = SparkEntry.queries
    val names = if (a.getOrElse("rows", "all") == "compute") Rows.Compute else qs.keys.toSeq.sorted
    val bad = names.filterNot { n =>
      val ok = scala.util.Try(Digest.of(qs(n)(spark, a("data")))).toOption.exists(golden.get(n).contains)
      if (!ok) System.err.println(s"[graftbench] MISMATCH $n")
      ok
    }
    println(s"fullcheck: ${names.size - bad.size}/${names.size} rows match the golden digests")
    spark.stop()
    bad.isEmpty
  }
}
