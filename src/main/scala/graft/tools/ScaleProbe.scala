package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Scale-soak WORK probe: the cardinalities that explain per-query
  * time growth between scale factors (`runMain graft.tools.ScaleProbe
  * <dir> [dir2 ...]` → one JSON line per dir).
  *
  * The sf1 soak showed the exact-similarity and near-dup-graph query
  * families growing super-linearly in TIME; this tool measures the
  * WORK each family performs so the two can be compared directly.
  * The corpus has a fixed 31-word vocabulary (mirroring the driver
  * corpus, TESTDATA.md), so the word-trigram space saturates at
  * ~31³ ≈ 30k shingles and the document-pair candidate count
  * Σ_h df(h)·(df(h)−1)/2 of the inverted index grows ~quadratically
  * in corpus size by construction — a data property, not a plan
  * property. A query whose time ratio is BELOW its work ratio is
  * scaling sub-linearly in its actual work even when it is
  * super-linear in row count.
  */
object ScaleProbe {

  private[graft] def probe(spark: SparkSession, dir: String): Map[String, Long] = {
    import graft.Tables.{load, spread}
    import graft.dedup.Dedup

    val docs = spread(load(spark, dir, "documents"))
    val inv = docs
      .select(col("doc_id"),
        Dedup.shingleHashes(col("text"), mod = false).as("shs"))
      .select(col("doc_id"), size(col("shs")).cast(LongType).as("n"),
        explode(col("shs")).as("h"))

    // document-frequency profile of the shingle space
    val dfStats = inv.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .agg(count(lit(1)).as("distinct_shingles"),
        sum(col("df")).as("shingle_instances"),
        // candidate PAIR INSTANCES of the co-occurrence reduction:
        // every q33/q237-family query shuffles exactly this many rows
        // into its per-pair groupBy
        sum(expr("df * (df - 1) DIV 2")).as("cand_pair_instances"),
        max(col("df")).as("max_df")).head()

    // length-filtered candidate instances (the q33 prune: J >= 0.5
    // forbids a >2x size ratio; q237's containment cannot prune this
    // way, which is why it pays the full candidate volume)
    val a = inv.alias("a"); val b = inv.alias("b")
    val lenFiltered = a.join(b,
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
        col("a.n") <= col("b.n") * 2 && col("b.n") <= col("a.n") * 2)
      .count()

    // the outputs the graph family consumes
    val edges = Dedup.jaccardEdges(spark, dir).count()
    val containment = Dedup.containmentPairs(spark, dir).count()
    val lshCand = Dedup.lshBucketStats(spark, dir)
      .agg(sum(col("n_candidate_pairs"))).head().getLong(0)

    // q274's prefix-bucket profile: max bucket size (the hot-bucket
    // early warning — one low-entropy 32-char prefix serializes the
    // within-bucket quadratic check onto ceil(max/SaltTarget) tasks)
    // and the total in-bucket pair instances the equi-join shuffles
    val pfx = docs
      .filter(length(col("text")) >= Dedup.PrefixMinLen)
      .select(xxhash64(substring(col("text"), 1, Dedup.PrefixMinLen)).as("pk"))
      .groupBy(col("pk")).agg(count(lit(1)).as("n"))
      .agg(coalesce(max(col("n")), lit(0L)).as("mx"),
        coalesce(sum(expr("n * (n - 1) DIV 2")), lit(0L)).as("pairs")).head()

    Map(
      "n_docs" -> docs.count(),
      "distinct_shingles" -> dfStats.getLong(0),
      "shingle_instances" -> dfStats.getLong(1),
      "cand_pair_instances" -> dfStats.getLong(2),
      "max_df" -> dfStats.getLong(3),
      "cand_pair_instances_lenfiltered" -> lenFiltered,
      "jaccard_edges_tau05" -> edges,
      "containment_pairs_09" -> containment,
      "lsh_candidate_pairs" -> lshCand,
      "prefix_max_bucket" -> pfx.getLong(0),
      "prefix_pair_instances" -> pfx.getLong(1))
  }

  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: ScaleProbe <sfDir> [sfDir2 ...]")
    val spark = graft.GraftSession.forMain("ERROR")
    try args.foreach { dir =>
      val m = probe(spark, dir)
      val body = m.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k": $v""" }.mkString(", ")
      println(s"""{"dir": "$dir", $body}""")
    } finally spark.stop()
  }
}
