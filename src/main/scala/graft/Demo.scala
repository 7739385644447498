package graft

import graft.exec.{Engine, TaskContext}
import graft.model.Json
import graft.parser.SpanParser
import graft.spans.SpanSource

/** End-to-end smoke entry (SURVEY §7.2's minimum slice as a runnable main):
  * compose a DAG, run it with workflow parameters, flush spans to JSONL,
  * read them back through the span source, parse to a workflow summary,
  * print the summary dicts as JSON. */
object Demo {
  def main(args: Array[String]): Unit = Harness.withSession { spark =>
    val engine = new Engine(spark, totalCpus = 4)
    val in1 = engine.task("input_1", Map("task.variant" -> "a"))(_ => 10)
    val in2 = engine.task("input_2")(_ => 143)
    val process = engine.task("process")(xs => {
      val ctx = TaskContext.get
      val sum = xs.map(_.asInstanceOf[Int]).sum
      ctx.logInt("sum", sum)
      ctx.logArtefact("report.txt", s"the sum is $sum")
      sum
    })

    val result = engine.runDag(
      process(Seq(in1(Nil), in2(Nil))), Map("workflow.env" -> "demo"))
    println(s"dag result: $result")

    val outDir = args.headOption.getOrElse(
      java.nio.file.Files.createTempDirectory("graft-demo").toString)
    engine.sink.writeJsonl(s"$outDir/spans.jsonl")
    println(s"spans written: $outDir/spans.jsonl (${engine.sink.size} spans)")

    val back = SpanSource.readJsonl(spark, s"$outDir/spans.jsonl")
    val summary = SpanParser.parseSpans(back)
    println("workflow: " + Json.render(summary.asDict))
    summary.taskRuns.foreach(t => println("task: " + Json.render(t.asDict)))
  }
}
