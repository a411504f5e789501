package graft
import org.apache.spark.sql.SparkSession
import graft.util.Json
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = GraftSession.forMain("WARN")
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated filter (dev loop; the driver runs all):
    // SPARK_GRAFT_QUERIES=q34_embedding_neardup,q36_ann_ivf
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    // a typo'd filter silently selecting nothing would read as a clean
    // pass — surface it
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      if (unknown.nonEmpty)
        System.err.println(
          s"[verify] WARNING: SPARK_GRAFT_QUERIES names not registered: ${unknown.mkString(", ")}")
    }
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
    val failures = selected.flatMap { case (name, fn) =>
      val r = try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        Some(name -> s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}")
      }
      // free blocks the finished query persisted/localCheckpoint'ed —
      // the result is on disk, nothing live depends on them
      GraftSession.dropStaleBlocks(spark)
      r
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Failure manifest (a FILE, so dir-iterating tooling skips it): any
    // registered query that threw is recorded here instead of silently
    // producing no output directory.
    val failJson = failures
      .map { case (k, v) => s"${Json.str(k)}: ${Json.str(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/_failures.json"), failJson)
    spark.stop()
  }
}
