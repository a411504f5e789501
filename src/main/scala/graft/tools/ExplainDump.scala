package graft.tools

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import graft.{GraftSession, SparkEntry}

/** Plan-capture tool for the optimization rounds: dumps
  * `.explain("formatted")` for named registry queries to
  * `<outDir>/<query>_<tag>.txt` so plan-shape claims (Exchange count,
  * join strategy, PushedFilters/ReadSchema) are committed evidence,
  * not prose.
  *
  * Usage:
  *   sbt "runMain graft.tools.ExplainDump <outDir> <tag> q01_...,q313_..."
  *
  * Notes:
  *  - Building a query's DataFrame executes any eager work its
  *    constructor performs (the streaming queries run their bounded
  *    stream to a sink and return the materialized readback — their
  *    dump is the batch tail over the sink, which is still the plan
  *    the noop sink times AFTER the stream completes; the streaming
  *    side's shape lives in the code and OPTIMIZATION notes).
  *  - Same session as Bench/Verify (GraftSession.forMain), data dir
  *    from SPARK_GRAFT_SF_DIR.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    require(args.length == 3,
      "usage: ExplainDump <outDir> <tag> <comma-separated query names>")
    val Array(outDir, tag, namesCsv) = args
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.forMain("ERROR")
    Files.createDirectories(Paths.get(outDir))
    namesCsv.split(",").map(_.trim).filter(_.nonEmpty).foreach { name =>
      val fn = SparkEntry.queries.getOrElse(name,
        sys.error(s"unknown query: $name"))
      val df = fn(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      Files.write(Paths.get(outDir, s"${name}_$tag.txt"),
        txt.getBytes(StandardCharsets.UTF_8))
      GraftSession.dropStaleBlocks(spark)
      println(s"dumped $name -> $outDir/${name}_$tag.txt")
    }
    spark.stop()
  }
}
