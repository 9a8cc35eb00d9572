package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.ExplainMode

import graft.engine.GraftSession
import graft.queries.Catalog

/** Diagnostic main: writes the plans of the named queries to
  * `<outDir>/<query>_<tag>.txt` — the plan evidence files the optimization
  * rounds commit under `plans/rNN/`. Usage:
  *
  *   sbt "runMain graft.tools.ExplainDump [--executed] <outDir> <tag> q13 x24 ..."
  *
  * Reads the data dir from SPARK_GRAFT_SF_DIR like every other tool. By
  * default the dump is the pre-execution formatted plan (the artifact that
  * can be diffed without running Spark). `--executed` runs each query once
  * and dumps the FINAL post-AQE physical plan instead, to check
  * exchange/stage reuse and shuffle shapes as they actually ran. */
object ExplainDump {
  def main(argv: Array[String]): Unit = {
    val executed = argv.headOption.contains("--executed")
    val args = if (executed) argv.tail else argv
    require(args.length >= 3,
      "usage: ExplainDump [--executed] <outDir> <tag> <query>...")
    val outDir = Paths.get(args(0))
    val tag = args(1)
    val names = args.drop(2)
    Files.createDirectories(outDir)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.getOrCreate("graft-explaindump")
    names.foreach { name =>
      val df = Catalog.queries(name)(spark, sfDir)
      val txt = if (executed) {
        // run THIS QueryExecution's plan (a noop write or Dataset.foreach
        // would plan a new one), so its adaptive plan is final afterwards
        df.queryExecution.toRdd.foreach(_ => ())
        df.queryExecution.executedPlan.toString
      } else df.queryExecution.explainString(ExplainMode.fromString("formatted"))
      Files.write(outDir.resolve(s"${name}_$tag.txt"),
        txt.getBytes(StandardCharsets.UTF_8))
      println(s"[explaindump] wrote ${name}_$tag.txt (${txt.length} chars)")
    }
    spark.stop()
  }
}
