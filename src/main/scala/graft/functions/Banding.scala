package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** PIGEONHOLE BANDING over fixed-width integer fingerprints — the one
  * shared spelling of the blocking step every Hamming-distance
  * near-dup join in the engine uses (image aHash, acoustic
  * fingerprint, their streaming twins, and the wide-radius variant).
  *
  * The invariant: split a `nBands * bandBits`-bit hash into `nBands`
  * disjoint bands; two hashes within Hamming distance `nBands - 1`
  * differ in at most `nBands - 1` bits, so BY PIGEONHOLE at least one
  * band is bit-identical in both — an equi-join on (band, bkey) is a
  * LOSSLESS candidate prune for any distance threshold
  * `<= nBands - 1`, and the quadratic pair space is never
  * materialized. Recall/cost knob: more, narrower bands widen the
  * catchable radius (4×16 → dist ≤ 3; 8×8 → dist ≤ 7) at the price of
  * more candidate collisions per band (2^bandBits buckets per band).
  *
  * Scale shape: the only thing that ever shuffles is the exploded
  * (band, bkey, hash) row — ~24 bytes — keyed by (band, bkey), which
  * is also the state-partitioning key of the streaming form.
  *
  * [[multiBands]] builds the band array, [[banded]] fans rows out to
  * it, [[hammingPairs]] is the self-join every batch detector runs, and
  * [[bandJoin]]/[[hammingProbe]] the delta-against-corpus probe.
  */
object Banding {

  /** Pigeonhole band fan-out over a fingerprint carried as one or more
    * 64-bit columns: an array of `nBands` structs `(band: Int, bkey:
    * Long)`, where band b's key concatenates the `bitsEach`-wide slice
    * b of every hash word (`bkey = Σ_i slice_b(h_i) << (i·bitsEach)`).
    * A pair within Hamming distance `nBands − 1` over the concatenated
    * `hashes.length · 64` bits still matches at least one band exactly
    * in EVERY word, while each band carries `2^(hashes.length ·
    * bitsEach)` buckets: a second word at the same radius cuts random
    * band collisions 2^bitsEach-fold (q368 → q372, SCALE.md §14), and
    * four words at 8×8 leave even a structurally dark h1 slice ≥ 21
    * discriminating bits (q375, SCALE.md §18). The radius guarantee
    * needs near-dup edits to flip few bits across ALL words — q372's
    * and q375's contrast words flip none for a base-level edit. */
  def multiBands(hashes: Seq[Column], nBands: Int, bitsEach: Int): Column = {
    require(hashes.nonEmpty, "at least one hash word")
    require(nBands * bitsEach <= 64, "band slices must fit 64-bit hashes")
    require(hashes.length * bitsEach < 64, "the combined key must fit a long")
    val mask = (1L << bitsEach) - 1L
    array((0 until nBands).map { b =>
      val slices = hashes.map(h => shiftright(h, b * bitsEach).bitwiseAND(lit(mask)))
      struct(lit(b).as("band"),
        slices.zipWithIndex.map { case (s, i) =>
          if (i == 0) s else shiftleft(s, i * bitsEach)
        }.reduce(_.bitwiseOR(_)).as("bkey"))
    }: _*)
  }

  /** `df` with one row per band: every input column plus the fields of
    * the `bands` array's structs — `band` and `bkey` from [[multiBands]]
    * or the text LSH split, and `family` first from [[taggedBands]].
    * The fan-out behind every band join, band index and band audit. */
  def banded(df: DataFrame, bands: Column): DataFrame = {
    val keep = df.columns.map(col).toSeq
    df.select(keep :+ explode(bands).as("bk"): _*)
      .select(keep :+ col("bk.*"): _*)
  }

  /** Several band families in one array, each `(band, bkey)` struct
    * tagged with its family name — what the candidate audits (q373,
    * q376) fan out with [[banded]] to count every family's buckets in
    * one pass over the hashes. */
  def taggedBands(families: Seq[(String, Column)]): Column =
    concat(families.map { case (family, bands) =>
      transform(bands, b => struct(lit(family).as("family"),
        b.getField("band").as("band"), b.getField("bkey").as("bkey")))
    }: _*)

  /** The schema of a persisted Hamming band index: [[banded]] `(doc_id,
    * hashCols...)` rows over [[multiBands]] written partitioned by band,
    * with `band` last, as a read gives it back. */
  def hashBandSchema(hashCols: Seq[String]): StructType =
    StructType(("doc_id" +: hashCols :+ "bkey").map(StructField(_, LongType)) :+
      StructField("band", IntegerType))

  /** A persisted Hamming band index at `path`, read with
    * [[hashBandSchema]] instead of Spark's schema-inference job. */
  def readHashBands(spark: SparkSession, path: String, hashCols: Seq[String]): DataFrame =
    graft.Tables.readWritten(spark, path, hashBandSchema(hashCols))

  /** `delta` band rows joined to the `corpus` band rows with the same
    * `(band, bkey)`, aliased `d` and `c`: every probe's candidate join. */
  def bandJoin(delta: DataFrame, corpus: DataFrame): DataFrame =
    delta.alias("d").join(corpus.alias("c"),
      col("d.band") === col("c.band") && col("d.bkey") === col("c.bkey"))

  /** The Hamming probe of [[banded]] `delta` rows against `corpus` rows:
    * every [[bandJoin]] pair whose summed `bit_count` of the xor over the
    * hash words is at most `maxDist`, as `(new_doc, match_doc, dist)`,
    * once per colliding band (the caller collapses them). */
  def hammingProbe(delta: DataFrame, corpus: DataFrame,
      hashCols: Seq[String], maxDist: Int): DataFrame =
    bandJoin(delta, corpus)
      .select(col("d.doc_id").as("new_doc"), col("c.doc_id").as("match_doc"),
        hashCols.map(h =>
          bit_count(col(s"d.$h").bitwiseXOR(col(s"c.$h"))))
          .reduce(_ + _).as("dist"))
      .filter(col("dist") <= maxDist)

  /** The Hamming near-dup self-join over [[banded]] rows `(doc_id,
    * hashCols..., band, bkey)`: every pair `doc_a < doc_b` sharing a
    * band whose summed `bit_count` of the xor over the hash words is
    * at most `maxDist`, as `(doc_a, doc_b, dist)`. Lossless only while
    * `maxDist <= nBands - 1` (the pigeonhole bound), which it checks. */
  def hammingPairs(bands: DataFrame, hashCols: Seq[String], nBands: Int,
      maxDist: Int): DataFrame = {
    require(maxDist <= nBands - 1,
      s"$nBands-band banding is lossless only for dist <= ${nBands - 1}")
    val x = bands.alias("x")
    val y = bands.alias("y")
    x.join(y, col("x.band") === col("y.band") &&
        col("x.bkey") === col("y.bkey") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        hashCols.map(h => bit_count(col(s"x.$h").bitwiseXOR(col(s"y.$h"))))
          .reduce(_ + _).as("dist"))
      // distance-filter BEFORE the distinct: candidates are pipelined
      // join output (8x8 bands collide ~256x more often than 4x16), and
      // only the few true near-pairs should reach the dedup shuffle
      .filter(col("dist") <= maxDist)
      .distinct()
  }
}
