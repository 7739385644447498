package graft.cli

import java.nio.file.Paths

import org.apache.spark.sql.SparkSession

import graft.parser.SpanParser
import graft.sinks.{DirectoryTreeSink, Mermaid, Render, StaticDataSink}
import graft.spans.SpanSource

/** G5 — CLI entry points mirroring the reference's console scripts
  * (`pynb_log_parser`, `generate_static_data`;
  * `workspace/composable_logs/setup.py:95-100`). Run via
  * `sbt "runMain graft.cli.LogParserCli ..."` or spark-submit; the
  * session comes from [[graft.Harness]]. */
object CliSpark {
  def parseArgs(args: Array[String]): Map[String, String] =
    args.sliding(2, 2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
}

/** `pynb_log_parser` equivalent (`otel_output_parser/cli_pynb_log_parser.py`):
  * expand a span log into a directory tree + Mermaid inputs. */
object LogParserCli {
  def main(args: Array[String]): Unit = graft.Harness.withSession(run(args, _))

  /** The CLI body, session-agnostic (testable without stopping a shared
    * session). */
  def run(args: Array[String], spark: SparkSession): Unit = {
    val a = CliSpark.parseArgs(args)
    val inputFile = a.getOrElse("input_span_file",
      sys.error("--input_span_file required"))

    val spans =
      if (inputFile.endsWith(".json")) SpanSource.readJsonArray(spark, inputFile)
      else SpanSource.readJsonl(spark, inputFile)
    val rows = SpanParser.collectSpans(spans)
    println(s"Number of spans loaded ${rows.length}")
    val summary = SpanParser.summarize(rows)

    a.get("output_directory").foreach { d =>
      DirectoryTreeSink.write(summary, Paths.get(d))
    }
    a.get("output_filepath_mermaid_gantt").foreach { p =>
      Render.writeText(Paths.get(p), Mermaid.ganttInputFile(summary))
    }
    a.get("output_filepath_mermaid_dag").foreach { p =>
      require(p.endsWith(".mmd"), "mermaid dag output must end in .mmd")
      Render.writeText(Paths.get(p),
        Mermaid.dagInputFile(summary, generateLinks = true))
      Render.writeText(Paths.get(p.stripSuffix(".mmd") + "-nolinks.mmd"),
        Mermaid.dagInputFile(summary, generateLinks = false))
    }
    println(" - Done")
  }
}

/** `generate_static_data` equivalent
  * (`otel_output_parser/cli_generate_static_data.py`): process every run
  * zip under a glob into the static-website data layout. The GitHub
  * artifact download (F1) is the network-fetch step feeding the same zip
  * scan; offline, the zip cache directory IS the source. */
object StaticDataCli {
  def main(args: Array[String]): Unit = graft.Harness.withSession(run(args, _))

  /** The CLI body, session-agnostic (testable without stopping a shared
    * session). */
  def run(args: Array[String], spark: SparkSession): Unit = {
    val a = CliSpark.parseArgs(args)
    val zipGlob = a.getOrElse("zip_cache_dir",
      sys.error("--zip_cache_dir required (directory or glob of run zips)"))
    val wwwRoot = Paths.get(a.getOrElse("output_www_root_directory",
      sys.error("--output_www_root_directory required")))

    val glob = if (zipGlob.endsWith(".zip")) zipGlob else s"$zipGlob/*.zip"
    val all = SpanSource.readZips(spark, glob).cache()
    try {
      val zips = all.select("source_zip").distinct()
        .collect().map(_.getString(0)).sorted

      // one collect per zip: the driver holds one run's spans at a time
      val entries = zips.flatMap { z =>
        val rows = SpanParser.collectSpans(
          all.filter(org.apache.spark.sql.functions.col("source_zip") === z))
        println(s"--- Processing new zip with ${rows.length} spans ...")
        StaticDataSink.process(SpanParser.summarize(rows), wwwRoot)
      }
      StaticDataSink.writeStaticData(entries.toSeq, wwwRoot)
      println("Done")
    } finally all.unpersist(blocking = false) // shared-session callers
  }
}
