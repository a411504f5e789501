package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.multimodal.Multimodal
import graft.multimodal.Multimodal.{MediaFeatures, MediaRecord}

/** Specs for the multimodal pipeline: REAL image decode through the
  * JDK's javax.imageio codecs (PNG/BMP/JPEG fixtures generated
  * in-test), plus the deterministic byte-fallback for non-image
  * payloads. */
class MultimodalSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.test()

  /** Encode a tiny known image through the JDK codec under test. */
  private def imageBytes(fmt: String, w: Int, h: Int,
      rgb: Seq[(Int, Int, Int)]): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    rgb.zipWithIndex.foreach { case ((r, g, b), i) =>
      img.setRGB(i % w, i / w, (r << 16) | (g << 8) | b)
    }
    val baos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, fmt, baos), s"no $fmt writer")
    baos.toByteArray
  }

  private val fixturePx = Seq((255, 0, 0), (0, 255, 0), (0, 0, 255),
    (255, 255, 255), (0, 0, 0), (128, 128, 128), (10, 20, 30), (200, 100, 50))

  test("real decode: PNG and BMP fixtures yield exact pixel stats") {
    import spark.implicits._
    for (fmt <- Seq("png", "bmp")) {
      val bytes = imageBytes(fmt, 4, 2, fixturePx)
      // metadata claims 99x99 — decoded dims must come from the pixels
      val ds = Seq(MediaRecord(1L, bytes, s"img/$fmt", 99, 99)).toDS()
      val f = Multimodal.extractFeatures(ds).collect().head
      assert(f.real_decode, s"$fmt should decode")
      assert(f.img_w === 4 && f.img_h === 2, s"$fmt dims from pixels")
      assert(f.n_pixels === 8)
      assert(f.n_bytes === bytes.length)
      assert(f.mean_r === 848.0 / 8, fmt)
      assert(f.mean_g === 758.0 / 8, fmt)
      assert(f.mean_b === 718.0 / 8, fmt)
      // integer luminance (r+g+b)/3 per pixel: 85,85,85,255,0,128,20,116
      assert(f.mean_pixel === 774.0 / 8, fmt)
    }
  }

  test("real decode: JPEG fixture decodes with true dimensions") {
    // JPEG is lossy — pin shape, not exact channel values
    val bytes = imageBytes("jpg", 4, 2, fixturePx)
    val d = Multimodal.decodeImage(bytes).get
    assert(d.w === 4 && d.h === 2)
    assert(d.gray.length === 8)
    assert(d.gray.forall(p => p >= 0 && p <= 255))
  }

  test("real decode: resize samples decoded (not metadata) geometry") {
    import spark.implicits._
    val bytes = imageBytes("png", 4, 2, fixturePx)
    val ds = Seq(MediaRecord(3L, bytes, "img/png", 77, 77)).toDS()
    val out = Multimodal.resize(ds, 2, 1).collect().head
    // NN over the TRUE 4x2 grid: rows y=0, cols x∈{0,2} → gray 85, 85
    assert(out.pixels.toSeq === Seq(85, 85))
  }

  test("extractFeatures falls back to byte decode for non-image payloads") {
    import spark.implicits._
    val recs = (0 until 100).map { i =>
      MediaRecord(i.toLong, Array.tabulate[Byte](i + 1)(j => (j % 7).toByte),
        "img/test", 10, 10)
    }
    val out = Multimodal.extractFeatures(recs.toDS()).collect()
      .sortBy(_.doc_id)
    assert(out.length === 100)
    out.foreach { f: MediaFeatures =>
      val n = f.doc_id.toInt + 1
      assert(!f.real_decode) // raw bytes are not an image container
      assert(f.n_bytes === n)
      assert(f.n_pixels === n) // fallback: 1 "pixel" per byte
      assert(f.img_w === 10 && f.img_h === 10) // echoes metadata claim
      val expectMean = (0 until n).map(_ % 7).sum.toDouble / n
      assert(math.abs(f.mean_pixel - expectMean) < 1e-12)
    }
  }

  test("resize emits fixed-size row-major buffers with clamped sampling") {
    import spark.implicits._
    val recs = Seq(
      MediaRecord(1L, Array.tabulate[Byte](12)(_.toByte), "img/x", 4, 3),
      MediaRecord(2L, Array.empty[Byte], "img/x", 4, 3)) // empty payload
    val out = Multimodal.resize(recs.toDS(), 2, 2).collect().sortBy(_.doc_id)
    assert(out.forall(r => r.pixels.length === 4))
    // doc 1: px = 0..11 laid out 4x3; NN at (0,0),(2,0),(0,1),(2,1)
    assert(out(0).pixels.toSeq === Seq(0, 2, 4, 6))
    assert(out(1).pixels.toSeq === Seq(0, 0, 0, 0))
  }

  test("frame sampling decimates fixed-size frames and keeps the tail") {
    import spark.implicits._
    val payload = Array.tabulate[Byte](25)(_.toByte) // 3 frames of 10 + tail 5
    val ds = Seq(MediaRecord(7L, payload, "vid/x", 1, 1)).toDS()
    val frames = Multimodal.sampleFrames(ds, frameBytes = 10, every = 2)
      .collect().sortBy(_.frame_idx)
    assert(frames.map(_.frame_idx).toSeq === Seq(0, 2))
    assert(frames(0).n_bytes === 10)
    assert(frames(1).n_bytes === 5) // tail frame kept, short
    assert(frames(0).mean_pixel === (0 until 10).sum.toDouble / 10)
    assert(frames(1).mean_pixel === (20 until 25).sum.toDouble / 5)
  }

  test("aHash: re-encode invariant, one-cell edit flips one bit, banding finds pairs") {
    import spark.implicits._
    // 8x8 grayscale pattern of extremes: left half bright, right dark.
    // Integer mean stays strictly between 0 and 255, so bits == the
    // bright-cell mask exactly.
    def px(bright: Set[Int]): Seq[(Int, Int, Int)] =
      (0 until 64).map(i => if (bright(i)) (255, 255, 255) else (0, 0, 0))
    val half = (0 until 64).filter(i => i % 8 < 4).toSet
    val png1 = imageBytes("png", 8, 8, px(half))
    val bmp2 = imageBytes("bmp", 8, 8, px(half)) // same pixels, other codec
    val edited = imageBytes("png", 8, 8, px(half + 7)) // one dark cell flipped
    val inverted = imageBytes("png", 8, 8, px((0 until 64).toSet -- half))
    val ds = Seq(
      MediaRecord(1L, png1, "img/png", 8, 8),
      MediaRecord(2L, bmp2, "img/bmp", 8, 8),
      MediaRecord(3L, edited, "img/png", 8, 8),
      MediaRecord(4L, inverted, "img/png", 8, 8)).toDS()
    val hs = Multimodal.aHash(ds).collect().map(h => h.doc_id -> h).toMap
    assert(hs.values.forall(_.real_decode))
    assert(hs(1L).ahash === hs(2L).ahash) // codec-invariant
    assert(java.lang.Long.bitCount(hs(1L).ahash ^ hs(3L).ahash) === 1)
    assert(java.lang.Long.bitCount(hs(1L).ahash ^ hs(4L).ahash) === 64)
    val pairs = Multimodal.imageNearDup(ds).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
    // exactly the near pairs, none involving the inverted image
    assert(pairs === Map((1L, 2L) -> 0, (1L, 3L) -> 1, (2L, 3L) -> 1),
      pairs.toString)
  }

  test("media records derive bounded dimensions from content hash") {
    val meta = Multimodal.mediaMeta(spark, "/root/testdata/sf0.001")
    import org.apache.spark.sql.functions._
    assert(meta.filter(col("width") < 0 || col("width") >= 640).count() === 0)
    assert(meta.filter(col("height") < 0 || col("height") >= 480).count() === 0)
  }

  test("scene render: codec round-trip is lossless and variants plant exact aHash distances") {
    // every codec the generated corpus uses must return the planted
    // cells bit-for-bit; the variant flip must move EXACTLY one aHash
    // bit regardless of codec
    import spark.implicits._
    val seed = 0xA5F00FF00F5AL // arbitrary 48-bit pattern, k well inside [1,55]
    for (fmt <- Seq("png", "bmp", "gif")) {
      val base = MediaRecord(0L, Multimodal.renderScene(seed, 0, fmt), fmt, 64, 64)
      val v1 = MediaRecord(1L, Multimodal.renderScene(seed, 1, fmt), fmt, 64, 64)
      val v2 = MediaRecord(2L, Multimodal.renderScene(seed, 2, fmt), fmt, 64, 64)
      val hs = Multimodal.aHash(Seq(base, v1, v2).toDS())
        .collect().map(h => h.doc_id -> h).toMap
      assert(hs.values.forall(_.real_decode), s"$fmt fell back to byte decode")
      assert(java.lang.Long.bitCount(hs(0L).ahash ^ hs(1L).ahash) === 1, fmt)
      assert(java.lang.Long.bitCount(hs(0L).ahash ^ hs(2L).ahash) === 1, fmt)
      assert(java.lang.Long.bitCount(hs(1L).ahash ^ hs(2L).ahash) === 2, fmt)
    }
  }

  test("generated corpus: q357 pairs equal the scene groups, q358 census all-real") {
    import org.apache.spark.sql.functions._
    val dir = "/root/testdata/sf0.001"
    val pairs = Multimodal.imageNearDupGenerated(spark, dir)
    // same 5-doc scene group <=> a planted pair; distance 1 iff the
    // base (variant 0) is on either side
    val bad = pairs.filter(
      col("doc_a").divide(5).cast("long") =!= col("doc_b").divide(5).cast("long") ||
      col("dist") =!= when(col("doc_a") % 5 === 0 || col("doc_b") % 5 === 0, 1)
        .otherwise(2)).count()
    assert(bad === 0)
    val census = Multimodal.decodeCensus(spark, dir).collect()
    assert(census.map(_.getString(0)).toSet === Set("bmp", "gif", "png"))
    census.foreach { r =>
      assert(r.getLong(1) === r.getLong(2), s"non-real decodes in $r") // n_media == n_real
      assert(r.getLong(3) === r.getLong(1) * 4096L) // 64x64 rasters
    }
  }

  test("q359: cell-aligned resize preserves per-doc bright mass at 1/16 scale") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val dir = "/root/testdata/sf0.001"
    // the full-res census counts 64 px per bright cell, the 16x16
    // resize must count exactly 4 per bright cell — same cells
    val full = Multimodal.generatedMedia(spark, dir).mapPartitions { it =>
      it.map { r =>
        val (px, _, _, _) = Multimodal.decodePixels(r)
        (r.doc_id, px.count(_ > 100).toLong)
      }
    }.toDF("doc_id", "bright64")
    val small = Multimodal.resizeCensus(spark, dir)
    val bad = small.join(full, "doc_id")
      .filter(col("n_bright") * 16 =!= col("bright64") || col("n_pixels") =!= 256)
      .count()
    assert(bad === 0)
  }

  test("q360: stride-2 sampling over the real GIF container hits exactly the even frames") {
    val dir = "/root/testdata/sf0.001"
    val rows = Multimodal.frameSampleCensus(spark, dir).collect()
    assert(rows.nonEmpty)
    // expected row set: per doc, frames {0} (nf=2) or {0, 2} (nf=3,4)
    val byDoc = rows.groupBy(_.getLong(0))
    byDoc.foreach { case (docId, frs) =>
      val nf = 2 + (docId % 3).toInt
      val want = (0 until nf by 2).toSeq
      assert(frs.map(_.getInt(1)).sorted.toSeq === want,
        s"doc $docId sampled wrong frames (nf=$nf)")
    }
    rows.foreach { r =>
      val (fi, np, mean) = (r.getInt(1), r.getLong(2), r.getDouble(3))
      assert(fi % 2 === 0) // every-2 decimation
      assert(np === 4096L) // full 64x64 raster per decoded frame
      // a decoded-frame mean is always a multiple of 200/4096 — the
      // two-level cell raster admits nothing else
      val kd = mean * 4096 / 200 / 64
      assert(kd === math.rint(kd) && kd >= 0 && kd <= 56, s"mean $mean")
    }
  }

  test("q368: wide flips are disjoint, distances are j_a + j_b, 8x8 banding catches radius 7") {
    // flip-set disjointness is what makes within-group distances exactly
    // additive — check it for a spread of seeds, then check the planted
    // distances survive the real codec round trip, and that the wide
    // corpus genuinely NEEDS the 8-band split (pairs above distance 3
    // exist, which 4x16 banding cannot catch)
    import spark.implicits._
    import org.apache.spark.sql.functions._
    for (seed <- Seq(0xA5F00FF00F5AL, 0x123456789ABCL, 0x0FEDCBA98765L)) {
      val all = (1 to 4).flatMap(j => Multimodal.wideFlips(seed, j))
      assert(all.distinct.length === all.length, s"overlapping flips for $seed")
      val recs = (0 to 4).map(j => MediaRecord(j.toLong,
        Multimodal.renderSceneWide(seed, j, "png"), "png", 64, 64))
      val hs = Multimodal.aHash(recs.toDS()).collect()
        .map(h => h.doc_id -> h.ahash).toMap
      for (a <- 0 to 4; b <- a + 1 to 4)
        assert(java.lang.Long.bitCount(hs(a.toLong) ^ hs(b.toLong)) === a + b,
          s"seed $seed pair ($a,$b)")
    }
    val pairs = Multimodal.imageNearDupWide(spark, "/root/testdata/sf0.001")
    assert(pairs.filter(col("dist") > 3).count() > 0,
      "no wide pairs — the 8x8 banding gate is vacuous")
    assert(pairs.filter(col("dist") > 7).count() === 0)
  }

  test("q364: the gate corpus populates every representable agreement cell, including both") {
    // the mirror feed keys artwork by the article's 160-char lead:
    // lead-preserving text dups must land in (true, true); text dups
    // whose edit falls inside the lead stay (true, false); the quintet
    // scenes supply (false, true). (false, false) is unrepresentable —
    // a pair neither detector emits is not a row of the outer join.
    val cells = Multimodal.crossModalDupMatrix(spark, "/root/testdata/sf0.001")
      .collect().map(r => (r.getBoolean(0), r.getBoolean(1)) -> r.getLong(2)).toMap
    assert(cells.getOrElse((true, true), 0L) > 0, s"empty both cell: $cells")
    assert(cells.getOrElse((true, false), 0L) > 0, s"empty text-only cell: $cells")
    assert(cells.getOrElse((false, true), 0L) > 0, s"empty image-only cell: $cells")
  }

  test("q367: animated GIF round-trips all frames exactly; ImageIO.read would see only frame 0") {
    val seed = 0x5A5A5A5A5A5AL
    val frames = (0 until 3).map { f =>
      (0 until 64).map { c =>
        val base = if (c < 56 && ((seed >> c) & 1L) == 1L) 200 else 0
        if (f > 0 && c == ((seed % 56).toInt + f) % 56) 200 - base else base
      }.toArray
    }
    val gif = Multimodal.encodeGifAnimation(frames)
    // the single-frame API sees one image — the reason q367 must use
    // the ImageReader path at all
    val single = Multimodal.decodeImage(gif)
    assert(single.nonEmpty && single.get.w === 64)
    val decoded = Multimodal.decodeAllFrames(gif)
    assert(decoded.length === 3, "sequence writer/reader dropped frames")
    decoded.zip(frames).zipWithIndex.foreach { case ((px, cells), f) =>
      assert(px.length === 4096, s"frame $f raster")
      // every pixel must equal its cell's planted gray level exactly
      (0 until 4096).foreach { i =>
        val expect = cells(((i / 64) / 8) * 8 + ((i % 64) / 8))
        assert(px(i) === expect, s"frame $f pixel $i")
      }
    }
  }

  test("q369: TTL dedup emits exactly batch q357 minus the watermark-evicted gap-3 pairs") {
    val dir = "/root/testdata/sf0.001"
    val key = (r: org.apache.spark.sql.Row) => (r.getLong(0), r.getLong(1), r.getInt(2))
    val batch = Multimodal.imageNearDupGenerated(spark, dir).collect().map(key).toSet
    val ttl = graft.streaming.Streams.streamImageDedupTtl(spark, dir)
      .collect().map(key).toSet
    assert(ttl.subsetOf(batch), "TTL form invented pairs the batch detector lacks")
    val suppressed = batch -- ttl
    assert(suppressed.nonEmpty, "nothing evicted — the TTL gate is vacuous")
    // exactly the pairs whose event-hours are 3 apart fall out of the
    // 90-minute watermark window; everything in-window must survive
    suppressed.foreach { case (a, b, _) =>
      assert(math.abs(a % 4 - b % 4) === 3, s"in-window pair ($a,$b) evicted")
    }
    batch.foreach { case p @ (a, b, _) =>
      if (math.abs(a % 4 - b % 4) <= 2) assert(ttl.contains(p), s"missing $p")
    }
  }

  test("q372: textured render round-trips all four grays; qcHash IS the texture word") {
    val dir = "/root/testdata/sf0.001"
    val specs = Multimodal.wideSpecs128(spark, dir).collect()
      .map(s => s.doc_id -> s).toMap
    val hashes = Multimodal.qcHash(
      Multimodal.generatedMediaWide128(spark, dir)).collect()
    assert(hashes.length === specs.size)
    hashes.foreach { h =>
      val s = specs(h.doc_id)
      assert(h.real_decode, s"doc ${h.doc_id} (${s.format}) fell to the byte fallback")
      // the quadrant-contrast hash must read the planted texture word
      // back EXACTLY through the real encode→decode round trip (gif's
      // palette must hold the 40/240 levels, not quantize them)
      assert(h.qhash === s.tex,
        s"qcHash != texture word for doc ${h.doc_id} (${s.format})")
      // and the 8x8 aHash must still equal the flipped seed cells —
      // the texture overlay (+40 on one quadrant = +10 on a cell mean)
      // must never cross the bright/dark threshold
      val h1 = Multimodal.wideFlips(s.seed, s.variant)
        .foldLeft(s.seed)((acc, c) => acc ^ (1L << c))
      assert(h.ahash === h1, s"aHash != planted cells for doc ${h.doc_id}")
    }
  }

  test("q373: the paired 8x16 banding cuts candidates vs the 8x8 split (degenerate band)") {
    val dir = "/root/testdata/sf0.001"
    val rows = Multimodal.bandingAudit(spark, dir).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val n = spark.read.parquet(s"$dir/documents.parquet").count()
    val (_, narrow) = rows("ahash64_8x8")
    val (pairedBuckets, paired) = rows("paired128_8x16")
    // aHash bits 56-63 are 0 for EVERY scene, so the 64-bit family's
    // band 7 holds all n docs in one bucket: C(n,2) candidates from
    // that band alone — the n^2/2 term q372 exists to remove
    assert(narrow >= n * (n - 1) / 2, "expected the degenerate band-7 term")
    assert(paired * 10 < narrow,
      s"128-bit banding must cut candidates >10x even at $n docs ($paired vs $narrow)")
    // the texture split must actually populate band 7 with many buckets
    assert(pairedBuckets > rows("ahash64_8x8")._1)
  }

  test("q375: quadHash reads back all three texture planes; h1 stays the flipped seed") {
    val dir = "/root/testdata/sf0.001"
    val specs = Multimodal.quadSpecs256(spark, dir).collect()
      .map(s => s.doc_id -> s).toMap
    val hashes = Multimodal.quadHash(
      Multimodal.generatedMediaQuad256(spark, dir)).collect()
    assert(hashes.length === specs.size)
    hashes.foreach { h =>
      val s = specs(h.doc_id)
      assert(h.real_decode, s"doc ${h.doc_id} (${s.format}) fell to the byte fallback")
      // each contrast word must read its texture plane back EXACTLY
      // through the real encode→decode round trip — a swapped quadrant,
      // a palette quantization, or a transposed downsample index breaks
      // a specific word, which names the defect
      assert(h.h2 === s.t0, s"h2 != t0 for doc ${h.doc_id} (${s.format})")
      assert(h.h3 === s.t1, s"h3 != t1 for doc ${h.doc_id} (${s.format})")
      assert(h.h4 === s.t2, s"h4 != t2 for doc ${h.doc_id} (${s.format})")
      val h1 = Multimodal.wideFlips(s.seed, s.variant)
        .foldLeft(s.seed)((acc, c) => acc ^ (1L << c))
      assert(h.h1 === h1, s"aHash != planted cells for doc ${h.doc_id}")
    }
  }

  test("q376: band-family candidate ordering holds (quad <= paired <= narrow)") {
    val dir = "/root/testdata/sf0.001"
    val full = Multimodal.bandingAudit256(spark, dir).collect()
    val rows = full
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val n = spark.read.parquet(s"$dir/documents.parquet").count()
    val (_, narrow) = rows("ahash64_8x8")
    val (pairedBuckets, paired) = rows("paired128_8x16")
    val (quadBuckets, quad) = rows("quad256_8x32")
    assert(narrow >= n * (n - 1) / 2, "expected the degenerate band-7 term")
    assert(paired * 10 < narrow, s"128-bit cut missing ($paired vs $narrow)")
    // adding key bits can only split buckets: candidates never grow,
    // occupied buckets never shrink
    assert(quad <= paired, s"256-bit banding grew candidates ($quad vs $paired)")
    assert(quadBuckets >= pairedBuckets)
    // the noise split reconciles, and the tripwire reads correctly on
    // the gate corpus: the degenerate 8x8 family is noise-dominated
    // (that is WHY q372/q375 exist); the quad family's candidates are
    // almost all planted signal, so it must not flag
    full.foreach { r =>
      assert(r.getLong(2) === r.getLong(3) + r.getLong(4),
        s"${r.getString(0)}: candidates != planted + noise")
      assert(r.getBoolean(5) === (r.getLong(4) * 2 > r.getLong(2)))
    }
    val flagged = full.map(r => r.getString(0) -> r.getBoolean(5)).toMap
    assert(flagged("ahash64_8x8"), "8x8 must trip the noise wire")
    assert(!flagged("quad256_8x32"), "quad noise must stay subdominant")
    // every within-group pair (distance <= 7 over 256 bits) must still
    // be caught: the banded join output is a superset of the plant
    val pairs = Multimodal.imageNearDupQuad256(spark, dir).collect()
    assert(pairs.length === (n / 5 * 10).toInt,
      "quad banding lost a planted pair (pigeonhole broken)")
  }

  test("q376 tripwire: a degenerate corpus (collapsed fingerprints across groups) flags every family") {
    import spark.implicits._
    // 200 docs, one per scene group (grp = doc_id div 5 all distinct),
    // every fingerprint word identical: zero planted pairs, every
    // bucket a full collision — the corpus that needs another hash
    // word must announce itself on ALL families, quad included
    val degenerate = (0L until 200L).map(i => (i * 5, 0L, 0L, 0L, 0L))
      .toDF("doc_id", "h1", "h2", "h3", "h4")
    val rows = Multimodal.bandingAudit256From(degenerate).collect()
    assert(rows.length === 3)
    rows.foreach { r =>
      assert(r.getLong(3) === 0L, s"${r.getString(0)}: planted must be 0")
      assert(r.getLong(4) === 8L * (200L * 199L / 2),
        s"${r.getString(0)}: all 8 bands fully collided")
      assert(r.getBoolean(5), s"${r.getString(0)} failed to flag")
    }
  }

  test("multiBands degenerates to hashBands/pairedBands on 1 and 2 words") {
    import graft.functions.Banding
    import org.apache.spark.sql.Column
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // the one- and two-word formulas multiBands replaced, and q79's
    // hand-built 4×8 SimHash split, kept here as its reference
    def hashBands(h: Column, nBands: Int, bits: Int): Column = {
      val mask = (1L << bits) - 1L
      array((0 until nBands).map { b =>
        struct(lit(b).as("band"),
          shiftright(h, b * bits).bitwiseAND(lit(mask)).as("bkey"))
      }: _*)
    }
    def pairedBands(h1: Column, h2: Column, nBands: Int, bits: Int): Column = {
      val mask = (1L << bits) - 1L
      array((0 until nBands).map { b =>
        struct(lit(b).as("band"),
          shiftright(h1, b * bits).bitwiseAND(lit(mask))
            .bitwiseOR(shiftleft(
              shiftright(h2, b * bits).bitwiseAND(lit(mask)), bits))
            .as("bkey"))
      }: _*)
    }
    val simhashBands = array((0 until 4).map { b =>
      struct(lit(b).as("band"),
        shiftrightunsigned(col("sh"), b * 8).bitwiseAND(lit(255L)).as("bkey"))
    }: _*)
    // negative words too: the signed and unsigned shifts must agree
    // under the mask
    val df = Seq((0x1234567890abcdefL, 0x0fedcba098765432L, 0x12345678),
        (-1L, Long.MinValue, -1), (Long.MinValue, -1L, Int.MinValue),
        (-0x1234567890abcdefL, 42L, -0x1234567))
      .toDF("h1", "h2", "sh")
    for (r <- df.select(
        Banding.multiBands(Seq(col("h1")), 8, 8), hashBands(col("h1"), 8, 8),
        Banding.multiBands(Seq(col("h1")), 4, 16), hashBands(col("h1"), 4, 16),
        Banding.multiBands(Seq(col("h1"), col("h2")), 8, 8),
        pairedBands(col("h1"), col("h2"), 8, 8),
        Banding.multiBands(Seq(col("sh")), 4, 8), simhashBands).collect()) {
      assert(r.get(0) === r.get(1))
      assert(r.get(2) === r.get(3))
      assert(r.get(4) === r.get(5))
      assert(r.get(6) === r.get(7))
    }
    // the same column types, so index rows written either way read alike
    val types = df.select(Banding.multiBands(Seq(col("h1")), 4, 16).as("m"),
      hashBands(col("h1"), 4, 16).as("e"),
      Banding.multiBands(Seq(col("sh")), 4, 8).as("ms"), simhashBands.as("es"))
      .schema.map(_.dataType)
    assert(types(0) === types(1) && types(2) === types(3))
  }

  test("q379/q380: image probe never self-matches, index probe is verdict-identical, lone-group deltas come back clean") {
    import org.apache.spark.sql.functions.col
    val dir = "/root/testdata/sf0.001"
    val inline = Multimodal.imageIncrementalDedup(spark, dir).collect()
    // delta-vs-corpus only: every best_match is a corpus doc, and no
    // delta doc can ever match itself or another delta doc
    assert(inline.nonEmpty)
    inline.filter(!_.isNullAt(2)).foreach { r =>
      assert(r.getLong(2) % 10 !== 0L, s"delta doc matched a delta doc: $r")
      assert(r.getLong(2) !== r.getLong(0))
    }
    // the persisted-index form emits byte-identical verdicts (the
    // q285/q331 never-fork rule), and its index is band-partitioned
    val tmp = java.nio.file.Files.createTempDirectory("graft_imgidx").toString
    try {
      Multimodal.saveImageIndex(spark, dir, tmp)
      val bandDirs = new java.io.File(s"$tmp/bands").listFiles()
        .filter(_.isDirectory).map(_.getName).sorted
      assert(bandDirs.toSeq === Seq("band=0", "band=1", "band=2", "band=3"),
        "index must be partitioned by band for probe-side pruning")
      val fromIdx = Multimodal.imageIndexProbe(spark, dir, tmp).collect()
      assert(fromIdx.map(_.toString).toSeq === inline.map(_.toString).toSeq)
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tmp))
    }
    // boundary: a delta doc alone in its scene group (truncated tail)
    // gets the clean (0, NULL, NULL) verdict, not a dropped row
    val tiny = java.nio.file.Files.createTempDirectory("graft_q379").toString
    try {
      import spark.implicits._
      (0L to 10L).map(i => (i, s"doc $i text")).toDF("doc_id", "text")
        .coalesce(1).write.mode("overwrite")
        .parquet(s"$tiny/documents.parquet")
      val t = Multimodal.imageIncrementalDedup(spark, tiny).collect()
      val byDoc = t.map(r => r.getLong(0) -> r).toMap
      assert(byDoc.keySet === Set(0L, 10L))
      assert(byDoc(0L).getLong(1) === 4L) // full group: 4 corpus siblings
      assert(byDoc(0L).getLong(2) === 4L) // best = dist-1 tie, max doc_id
      assert(byDoc(0L).getInt(3) === 1)
      assert(byDoc(10L).getLong(1) === 0L, "lone-group delta must be clean")
      assert(byDoc(10L).isNullAt(2) && byDoc(10L).isNullAt(3))
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(tiny))
    }
  }

  test("q366: streaming image dedup equals batch q357 exactly (can-never-fork)") {
    val dir = "/root/testdata/sf0.001"
    val stream = graft.streaming.Streams.streamImageDedup(spark, dir).collect()
    val batch = Multimodal.imageNearDupGenerated(spark, dir).collect()
    assert(stream.length === batch.length)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getInt(2))
    assert(stream.map(key).toSet === batch.map(key).toSet)
    assert(stream.nonEmpty)
  }
}
