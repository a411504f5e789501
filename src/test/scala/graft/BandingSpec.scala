package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.Banding

/** Property tests for the pigeonhole banding core — the one invariant
  * every near-dup family in the engine rests on: ANY pair within
  * Hamming distance nBands − 1 over the concatenated fingerprint
  * shares at least one (band, bkey), for any distribution of the
  * flips across the hash words. Seeded-deterministic cases, one Spark
  * job for the whole sweep. */
class BandingSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.test()

  test("multiBands: any <=7-flip edit of a 256-bit fingerprint shares a band (500 cases)") {
    import spark.implicits._
    val rnd = new java.util.Random(42L) // fixed seed — deterministic cases
    val cases = (1 to 500).map { i =>
      val h = Array.fill(4)(rnd.nextLong())
      val g = h.clone()
      // d in 0..7 flips at positions drawn WITH replacement across all
      // 256 bits — duplicates un-flip, which only lowers the distance,
      // so every case stays within the guaranteed radius
      val d = i % 8
      (0 until d).foreach { _ =>
        val bit = rnd.nextInt(256)
        g(bit / 64) ^= (1L << (bit % 64))
      }
      (i, h(0), h(1), h(2), h(3), g(0), g(1), g(2), g(3))
    }
    val df = cases.toDF("id", "h1", "h2", "h3", "h4", "g1", "g2", "g3", "g4")
    val miss = df.select(col("id"),
        arrays_overlap(
          Banding.multiBands(Seq(col("h1"), col("h2"), col("h3"), col("h4")), 8, 8),
          Banding.multiBands(Seq(col("g1"), col("g2"), col("g3"), col("g4")), 8, 8))
          .as("hit"))
      .filter(!col("hit")).count()
    assert(miss === 0L, s"$miss fingerprints within radius 7 missed by the banding")
  }

  test("multiBands: the radius bound is tight — 8 flips, one per band, can evade") {
    import spark.implicits._
    // dirty every band once: bit b*8 lives in band b's h1 slice
    val h = Array(0L, 0L, 0L, 0L)
    val g = h.clone()
    (0 until 8).foreach { b => g(0) ^= (1L << (b * 8)) }
    val hit = Seq((h(0), h(1), h(2), h(3), g(0), g(1), g(2), g(3)))
      .toDF("h1", "h2", "h3", "h4", "g1", "g2", "g3", "g4")
      .select(arrays_overlap(
        Banding.multiBands(Seq(col("h1"), col("h2"), col("h3"), col("h4")), 8, 8),
        Banding.multiBands(Seq(col("g1"), col("g2"), col("g3"), col("g4")), 8, 8)))
      .head().getBoolean(0)
    assert(!hit, "8 one-per-band flips must defeat 8-band pigeonhole (bound is tight)")
  }

  /** `n` random `words`-word fingerprints, and for every fifth one a
    * partner within `maxFlips` bit flips spread over all its words —
    * planted near pairs among mostly far ones. */
  private def plantedFrame(seed: Long, n: Int, words: Int,
      maxFlips: Int): org.apache.spark.sql.DataFrame = {
    val rnd = new java.util.Random(seed)
    val base = (0 until n).map(_ => Array.fill(words)(rnd.nextLong()))
    val near = base.zipWithIndex.filter(_._2 % 5 == 0).map { case (h, _) =>
      val g = h.clone()
      (0 until rnd.nextInt(maxFlips + 1)).foreach { _ =>
        val bit = rnd.nextInt(64 * words)
        g(bit / 64) ^= (1L << (bit % 64))
      }
      g
    }
    val rows = (base ++ near).zipWithIndex.map { case (h, i) =>
      org.apache.spark.sql.Row.fromSeq(i.toLong +: h.toSeq)
    }
    val schema = StructType(StructField("doc_id", LongType) +:
      (1 to words).map(w => StructField(s"h$w", LongType)))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 4), schema)
  }

  test("hammingPairs equals the brute-force cross join at the lossless radius") {
    for ((words, nBands, bits, r) <- Seq((1, 4, 16, 3), (2, 8, 8, 7), (4, 8, 8, 7))) {
      val hs = (1 to words).map(w => s"h$w")
      val df = plantedFrame(7L * words + nBands, 300, words, r + 2)
      val got = Banding.hammingPairs(
          Banding.banded(df, Banding.multiBands(hs.map(col), nBands, bits)),
          hs, nBands, r)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
      val a = df.alias("a")
      val b = df.alias("b")
      val want = a.crossJoin(b).filter(col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id"),
          hs.map(h => bit_count(col(s"a.$h").bitwiseXOR(col(s"b.$h"))))
            .reduce(_ + _).as("d"))
        .filter(col("d") <= r)
        .collect().map(x => (x.getLong(0), x.getLong(1), x.getInt(2))).toSet
      assert(want.size >= 30, s"$words words: too few planted pairs (${want.size})")
      assert(got === want, s"$words words at ${nBands}x$bits, r = $r")
    }
  }

  test("hammingPairs refuses a radius past the pigeonhole bound") {
    import spark.implicits._
    val bands = Seq((1L, 0L, 0, 0L)).toDF("doc_id", "h1", "band", "bkey")
    val e = intercept[IllegalArgumentException](
      Banding.hammingPairs(bands, Seq("h1"), 4, 4))
    assert(e.getMessage.contains("dist <= 3"), e.getMessage)
  }

  test("persisted band indexes keep their schema: names, types and order") {
    import TempDirs.withTempDir
    val sf = "/root/testdata/sf0.001"
    def schema(fields: (String, DataType)*): StructType =
      StructType(fields.map { case (n, t) => StructField(n, t, nullable = true) })
    def at(path: String): StructType = spark.read.parquet(path).schema
    val textBands = schema("doc_id" -> LongType, "bkey" -> StringType,
      "band" -> IntegerType)
    val imageBands = schema("doc_id" -> LongType, "ahash" -> LongType,
      "bkey" -> LongType, "band" -> IntegerType)
    val quadBands = schema("doc_id" -> LongType, "h1" -> LongType,
      "h2" -> LongType, "h3" -> LongType, "h4" -> LongType,
      "bkey" -> LongType, "band" -> IntegerType)
    val audioBands = schema("doc_id" -> LongType, "fp" -> LongType,
      "bkey" -> LongType, "band" -> IntegerType)
    withTempDir("graft-bandfmt") { root =>
      val ix = root.toString
      graft.multimodal.Multimodal.saveImageIndex(spark, sf, s"$ix/img")
      assert(at(s"$ix/img/bands") === imageBands)
      graft.multimodal.Audio.saveAudioIndex(spark, sf, s"$ix/aud")
      assert(at(s"$ix/aud/bands") === audioBands)
      graft.dedup.Dedup.saveLshIndex(spark, sf, s"$ix/lsh")
      assert(at(s"$ix/lsh/bands") === textBands)
      graft.Tables.load(spark, sf, "documents").limit(40)
        .write.parquet(s"$ix/corpus")
      for ((policy, image) <- Seq(
          graft.ops.Pipeline.NarrowRadius3 -> imageBands,
          graft.ops.Pipeline.WideRadius7 -> quadBands)) {
        val out = s"$ix/ingest_$policy"
        graft.ops.Pipeline.saveIngestIndexes(spark, s"$ix/corpus", out, policy)
        assert(at(s"$out/text_bands") === textBands)
        assert(at(s"$out/image_bands") === image, policy)
        assert(at(s"$out/audio_bands") === audioBands)
        // the index reader takes its writer's schemas: exactly what Spark
        // infers, with one job (the policy row) for the whole open
        val ((read, h), jobs) = graft.util.Probes.jobs(spark)(
          graft.ops.Pipeline.openIngestIndex(spark, out))
        assert(jobs === 1, policy)
        assert(read === policy)
        for ((asset, df) <- Seq("keys" -> h.keys, "text_bands" -> h.textBands,
            "text_shingles" -> h.textSets, "image_bands" -> h.imageBands,
            "audio_bands" -> h.audioBands))
          assert(df.schema === at(s"$out/$asset"), s"$policy $asset")
      }
    }
  }
}
