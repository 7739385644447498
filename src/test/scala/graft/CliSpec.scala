package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

import graft.exec.{Engine, SpanRecorder}

/** G5 CLI end-to-end: the console-script equivalents run against real
  * engine-produced span logs and write the same artifact layouts the
  * reference's `pynb_log_parser` / `generate_static_data` produce. */
class CliSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private def runSpans() = {
    val engine = new Engine(spark, 2)
    val a = engine.task("cli_a")(_ => 1)
    val b = engine.task("cli_b")(_ => 2)
    SpanRecorder.record(engine) { engine.runDag(b(Seq(a(Nil))), Map()) }
  }

  test("G5 LogParserCli: span file -> directory tree + mermaid inputs") {
    val spans = runSpans()
    val dir = Files.createTempDirectory("graft-cli")
    val spanFile = s"$dir/spans.jsonl"
    val sink = new graft.exec.SpanSink
    spans.foreach(sink.add)
    sink.writeJsonl(spanFile)

    val outDir = s"$dir/tree"
    val gantt = s"$dir/gantt.mmd"
    val dag = s"$dir/dag.mmd"
    graft.cli.LogParserCli.run(Array(
      "--input_span_file", spanFile,
      "--output_directory", outDir,
      "--output_filepath_mermaid_gantt", gantt,
      "--output_filepath_mermaid_dag", dag), spark)

    val tree = new java.io.File(outDir)
    assert(tree.isDirectory, "output directory tree written")
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val files = walk(tree).map(_.getName)
    assert(files.nonEmpty)
    val ganttText = new String(Files.readAllBytes(java.nio.file.Paths.get(gantt)))
    assert(ganttText.contains("gantt"), ganttText.take(200))
    assert(ganttText.contains("cli_a") && ganttText.contains("cli_b"))
    val dagText = new String(Files.readAllBytes(java.nio.file.Paths.get(dag)))
    assert(dagText.contains("graph") || dagText.contains("flowchart"),
      dagText.take(200))
    assert(new java.io.File(s"$dir/dag-nolinks.mmd").exists())
  }

  test("G5 StaticDataCli: zip cache -> static website data layout") {
    val spans = runSpans()
    val json = "[" + spans.map(graft.exec.SpanJson.render).mkString(",\n") + "]"
    val dir = Files.createTempDirectory("graft-cli-zips")
    val zos = new java.util.zip.ZipOutputStream(
      Files.newOutputStream(dir.resolve("run1.zip")))
    zos.putNextEntry(new java.util.zip.ZipEntry("opentelemetry-spans.json"))
    zos.write(json.getBytes("UTF-8"))
    zos.closeEntry(); zos.close()

    val www = s"$dir/www"
    graft.cli.StaticDataCli.run(Array(
      "--zip_cache_dir", dir.toString,
      "--output_www_root_directory", www), spark)

    val root = new java.io.File(www)
    assert(root.isDirectory)
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
    val files = walk(root)
    assert(files.nonEmpty, "static data files written")
  }

  private def zipOf(dir: java.nio.file.Path, name: String, spansJson: String): Unit = {
    val zos = new java.util.zip.ZipOutputStream(Files.newOutputStream(dir.resolve(name)))
    try {
      zos.putNextEntry(new java.util.zip.ZipEntry("opentelemetry-spans.json"))
      zos.write(spansJson.getBytes("UTF-8"))
      zos.closeEntry()
    } finally zos.close()
  }

  test("G5 StaticDataCli: hostile span ids cannot write outside the www root") {
    import graft.model.AttrCodec
    val spans = runSpans()
    def runId(id: String) = id -> spans.map { s =>
      if (s.name == "execute-task") s.copy(attributes =
        s.attributes + ("workflow.workflow_run_id" -> AttrCodec.render(id)))
      else s
    }
    val firstTask = spans.find(_.name == "execute-task").get.context.span_id
    val taskId = "0x/../../../../escaped-task" -> spans.map { s =>
      if (s.context.span_id == firstTask)
        s.copy(context = s.context.copy(span_id = "0x/../../../../escaped-task"))
      else s
    }
    for ((bad, hostile) <- Seq(runId("../../../escaped"), runId("/tmp/absolute-run"),
        runId("."), taskId)) {
      val dir = Files.createTempDirectory("graft-cli-hostile")
      val zips = Files.createDirectories(dir.resolve("zips"))
      zipOf(zips, "run.zip",
        hostile.map(graft.exec.SpanJson.render).mkString("[", ",\n", "]"))
      val e = intercept[IllegalArgumentException](graft.cli.StaticDataCli.run(Array(
        "--zip_cache_dir", zips.toString,
        "--output_www_root_directory", dir.resolve("a/b/www").toString), spark))
      assert(e.getMessage.contains(bad), e.getMessage)
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      val escaped = walk(dir.toFile).map(_.toPath)
        .filterNot(p => p.startsWith(zips) || p.startsWith(dir.resolve("a/b/www")))
      assert(escaped.isEmpty, escaped)
    }
  }

  test("G5 LogParserCli: the no-links DAG replaces only the .mmd suffix") {
    val dir = Files.createTempDirectory("graft-cli-mmd")
    val spanFile = s"$dir/spans.jsonl"
    val sink = new graft.exec.SpanSink
    runSpans().foreach(sink.add)
    sink.writeJsonl(spanFile)
    val outDir = dir.resolve("out.mmd")
    graft.cli.LogParserCli.run(Array(
      "--input_span_file", spanFile,
      "--output_filepath_mermaid_dag", s"$outDir/dag.mmd"), spark)
    assert(Files.exists(outDir.resolve("dag.mmd")))
    assert(Files.exists(outDir.resolve("dag-nolinks.mmd")))
  }
}
