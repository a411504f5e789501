package graftbench

/** `registry_mix`: one noop-sink pass over a fixed list of registry
  * queries per round. The list holds two layers the roadmap means to
  * change, connected components (q67) and a bounded stateful stream run
  * through the shared bounded-run helper (q40), next to three cheap
  * single-pass queries (q09, q16, q26) where per-query fixed cost shows;
  * it is kept to passes of about 4 s so that a run measures several
  * (README.md). The inputs are the fixed DataGen tables, so the seed
  * changes nothing here. The first warm-up pass writes each result to
  * parquet, and `perfbench/run.py` compares those with DuckDB running
  * the query's `SparkEntry.oracleSql` over the same tables;
  * [[WarmPasses]] noop passes follow, because pass time keeps falling
  * for about four passes after a cold one. */
final class RegistryMix(ctx: Ctx, dataDir: String) extends Workload {
  private val spark = ctx.spark
  /** Query → the engine module that registers it. */
  val Queries: Seq[(String, String)] = Seq(
    "q09_argmax_per_day" -> "Relational",
    "q16_window_topn" -> "Windows",
    "q26_token_stats" -> "TextAnalysis",
    "q67_dedup_clusters" -> "Dedup",
    "q40_stream_hourly" -> "Streams")
  /** Noop passes after the cold one, before timing starts. */
  val WarmPasses = 3
  private val resultDir = ctx.outDir.resolve("results")
  private val problemsSeen = scala.collection.mutable.ArrayBuffer.empty[String]

  private def fn(q: String) = graft.SparkEntry.queries(q)

  /** Cold pass: every query once, its result written for the oracle
    * comparison, plus the oracle SQL it is compared with; then the warm
    * passes. */
  def setup(): Unit = {
    val missing = Queries.map(_._1).filterNot(graft.SparkEntry.queries.contains)
    require(missing.isEmpty, s"queries not registered: ${missing.mkString(",")}")
    for ((q, owner) <- Queries) {
      ctx.op("warmup", q, owner) {
        fn(q)(spark, dataDir).coalesce(1).write.mode("overwrite")
          .parquet(resultDir.resolve(q).toString)
      }
      graft.GraftSession.dropStaleBlocks(spark)
    }
    val oracles = graft.SparkEntry.oracleSql
    val noOracle = Queries.map(_._1).filterNot(oracles.contains)
    if (noOracle.nonEmpty) problemsSeen += s"no oracle SQL for ${noOracle.mkString(",")}"
    java.nio.file.Files.writeString(resultDir.resolve("oracle_sql.json"),
      Json.obj(Queries.flatMap { case (q, _) => oracles.get(q).map(q -> Json.str(_)) }))
    for (_ <- 0 until WarmPasses) round(-1)
  }

  def round(i: Int): Unit =
    for ((q, owner) <- Queries) {
      ctx.op(if (i < 0) "warmup" else "query", q, owner) {
        val df = ctx.phase("construct")(fn(q)(spark, dataDir))
        ctx.phase("action")(df.write.format("noop").mode("overwrite").save())
      }
      ctx.phase("upkeep")(graft.GraftSession.dropStaleBlocks(spark))
    }

  /** The result comparison and its self-test run in `run.py`, which has
    * DuckDB; here only the registration checks. */
  def problems: Seq[String] = problemsSeen.toSeq

  def selfTest(): Seq[String] = Nil
}
