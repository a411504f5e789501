package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._
import graft.functions.Banding

/** Multimodal-column plumbing for training-data pipelines (north-star
  * extension, BASELINE.json): media payloads travel as opaque `binary`
  * columns with typed metadata alongside; decode/feature-extraction
  * runs partition-batched over a typed Dataset.
  *
  * The decode step is REAL for images: `javax.imageio` ships PNG, JPEG,
  * BMP and GIF codecs inside every JDK, so [[decodeImage]] turns actual
  * image bytes into actual pixels (true dimensions + per-channel
  * stats) with no external dependency. Payloads that are not a
  * decodable image — e.g. the UTF-8 text stand-ins the `documents`
  * table provides — fall back to a deterministic byte-fake
  * ([[decodeFallback]]) so the pipeline stays total; the features row
  * carries a `real_decode` flag distinguishing the two.
  *
  * Scale notes: payloads never pass through a shuffle here (narrow
  * pipeline); at 100 TB you partition by content size so decode
  * batches stay memory-bounded, and push metadata-only predicates
  * (format, dimensions) to the parquet scan so undecodable/oversized
  * payloads are pruned before a single byte is fetched. ImageIO's
  * disk cache is disabled once per executor JVM — a codec that spills
  * every payload to local tmp files would turn decode into an IO
  * bench.
  */
object Multimodal {

  /** A media row: opaque payload + typed metadata. */
  case class MediaRecord(doc_id: Long, payload: Array[Byte], format: String,
    width: Int, height: Int)

  /** Per-media extracted features. `img_w`/`img_h` and the channel
    * means come from DECODED pixels when `real_decode` is true; on the
    * byte-fallback path they echo the metadata claim and the
    * single-channel mean. */
  case class MediaFeatures(doc_id: Long, n_bytes: Long, n_pixels: Long,
    mean_pixel: Double, img_w: Int, img_h: Int, mean_r: Double,
    mean_g: Double, mean_b: Double, real_decode: Boolean)

  /** Decode batch size: bounds peak decoded-buffer memory per task. */
  val DecodeBatch = 32

  /** Spread spec rows across the session's shuffle parallelism before
    * a codec mapPartitions: spec frames are ~20-byte rows coming off
    * ONE small parquet split, and without this every render/encode/
    * decode pipeline in the module runs as a single task no matter
    * how many cores the cluster has (measured: the whole generated
    * corpus serialized on 1 of 32 local cores at sf0.1). Hash
    * partitioning on doc_id — deterministic assignment, no sort,
    * and the shuffled payload is the slim spec, never media bytes. */
  private[multimodal] def fanOut[T](ds: Dataset[T]): Dataset[T] =
    ds.repartition(
      ds.sparkSession.sessionState.conf.numShufflePartitions,
      col("doc_id"))

  /** A decoded image: true dimensions, per-pixel luminance, and
    * per-channel means. */
  case class Decoded(w: Int, h: Int, gray: Array[Int], meanR: Double,
    meanG: Double, meanB: Double)

  // One-time per-JVM ImageIO setup (runs on each executor at first
  // decode): no AWT display needed, no tmp-file cache per payload.
  private lazy val imageIoReady: Unit = {
    System.setProperty("java.awt.headless", "true")
    javax.imageio.ImageIO.setUseCache(false)
  }

  /** REAL image decode via the JDK's bundled codecs (PNG/JPEG/BMP/GIF).
    * Returns None for payloads no installed reader recognizes — the
    * caller falls back to [[decodeFallback]]. Luminance is the integer
    * channel average (deterministic across JVMs; no float rounding). */
  def decodeImage(payload: Array[Byte]): Option[Decoded] = {
    imageIoReady
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        val argb = img.getRGB(0, 0, w, h, null, 0, w)
        val gray = new Array[Int](w * h)
        var sr = 0L; var sg = 0L; var sb = 0L
        var i = 0
        while (i < argb.length) {
          val p = argb(i)
          val r = (p >> 16) & 0xff; val g = (p >> 8) & 0xff; val b = p & 0xff
          sr += r; sg += g; sb += b
          gray(i) = (r + g + b) / 3
          i += 1
        }
        val n = math.max(argb.length, 1).toDouble
        Some(Decoded(w, h, gray, sr / n, sg / n, sb / n))
      }
    } catch {
      // NOT just IOException: ImageIO readers throw RuntimeExceptions
      // (CMMException, ArrayIndexOutOfBounds…) on payloads whose magic
      // number matches but whose body is corrupt — one bad row must
      // fall back, not kill the task (the pipeline-stays-total contract)
      case scala.util.control.NonFatal(_) => None
    }
  }

  /** Fallback for non-image payloads (text stand-ins, video frames):
    * deterministic "pixels" from the payload bytes themselves. Keeps
    * the pipeline total over mixed corpora where only some rows carry
    * decodable media. */
  def decodeFallback(payload: Array[Byte]): Array[Int] =
    payload.map(b => b & 0xff)

  private def meanOf(px: Array[Int]): Double = {
    if (px.isEmpty) return 0.0
    var s = 0L; var i = 0
    while (i < px.length) { s += px(i); i += 1 }
    s.toDouble / px.length
  }

  /** Total decode — THE one decode dispatch (real codec first, byte
    * fallback otherwise), shared by every pipeline stage so fallback
    * semantics can never fork: returns the [[Decoded]] (true dims on a
    * real decode; metadata dims + single-channel means on fallback)
    * plus whether a real codec ran. */
  def decodeTotal(r: MediaRecord): (Decoded, Boolean) =
    decodeImage(r.payload) match {
      case Some(d) => (d, true)
      case None =>
        val px = decodeFallback(r.payload)
        val m = meanOf(px)
        (Decoded(r.width, r.height, px, m, m, m), false)
    }

  /** Pixel-buffer view of [[decodeTotal]]. */
  def decodePixels(r: MediaRecord): (Array[Int], Int, Int, Boolean) = {
    val (d, real) = decodeTotal(r)
    (d.gray, d.w, d.h, real)
  }

  /** The documents table lifted into a media table: text bytes stand in
    * for an image payload; metadata (format, dimensions, content hash)
    * is derived deterministically. */
  /** 56-bit hash as a SQL fragment (integer `div` keeps exactness —
    * Column./ would detour through double and lose bits above 2^53). */
  private val hSql =
    "cast(conv(substring(md5(cast(text as binary)),1,14),16,10) as bigint)"

  def mediaMeta(spark: SparkSession, dir: String): DataFrame =
    spread(load(spark, dir, "documents")).select(
      col("doc_id"),
      concat(lit("img/"), col("source")).as("format"),
      length(encode(col("text"), "UTF-8")).cast(LongType).as("n_bytes"),
      expr(s"$hSql % 640").as("width"),
      expr(s"($hSql div 640) % 480").as("height"),
      md5(col("text").cast(BinaryType)).as("content_hash"))
      .orderBy(col("doc_id"))

  /** Partition-batched decode + feature extraction: the mapPartitions
    * iterator is consumed in DecodeBatch-sized groups, mirroring the
    * batch shape a vectorized (Arrow/pandas-style) UDF would see. Rows
    * whose payload is a real image get true decoded dimensions and
    * per-channel means; the rest get the deterministic byte-fallback
    * (and echo the metadata dimensions). */
  def extractFeatures(ds: Dataset[MediaRecord]): Dataset[MediaFeatures] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.grouped(DecodeBatch).flatMap { batch =>
        batch.map { r =>
          val (d, real) = decodeTotal(r)
          // fallback Decoded already holds the byte mean in every
          // channel (single-channel payload) — no second pass
          val mp = if (real) meanOf(d.gray) else d.meanR
          MediaFeatures(r.doc_id, r.payload.length.toLong,
            d.gray.length.toLong, mp, d.w, d.h,
            d.meanR, d.meanG, d.meanB, real_decode = real)
        }
      }
    }
  }

  /** A resized image: fixed output dimensions, row-major pixels. */
  case class ResizedMedia(doc_id: Long, out_w: Int, out_h: Int,
    pixels: Array[Int])

  /** One sampled frame's summary. */
  case class FrameSample(doc_id: Long, frame_idx: Int, n_bytes: Long,
    mean_pixel: Double)

  /** Nearest-neighbor resize over the decoded pixel buffer. Out-of-range
    * source indices clamp (the fallback buffer length is the payload
    * length, not necessarily w*h; a real decode always has exactly
    * w*h). */
  def resizeKernel(px: Array[Int], w: Int, h: Int, ow: Int, oh: Int): Array[Int] = {
    val out = new Array[Int](ow * oh)
    if (px.nonEmpty) {
      var y = 0
      while (y < oh) {
        val sy = math.min((y.toLong * h / oh).toInt, h - 1)
        var x = 0
        while (x < ow) {
          val sx = math.min((x.toLong * w / ow).toInt, w - 1)
          out(y * ow + x) = px(math.min(sy * w + sx, px.length - 1))
          x += 1
        }
        y += 1
      }
    }
    out
  }

  /** Batched resize pipeline: same partition-batched iterator shape as
    * [[extractFeatures]]; output schema is fixed-size so downstream
    * tensorization is schema-stable. */
  def resize(ds: Dataset[MediaRecord], ow: Int, oh: Int): Dataset[ResizedMedia] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.grouped(DecodeBatch).flatMap(_.map { r =>
        val (px, w, h, _) = decodePixels(r)
        ResizedMedia(r.doc_id, ow, oh,
          resizeKernel(px, math.max(w, 1), math.max(h, 1), ow, oh))
      })
    }
  }

  /** Frame sampling for video-like payloads: the payload is treated as
    * contiguous fixed-size frames and every `every`-th frame is
    * decoded and summarized — the standard decimation step before
    * per-frame feature extraction. Short tail frames are kept. */
  def sampleFrames(ds: Dataset[MediaRecord], frameBytes: Int,
      every: Int): Dataset[FrameSample] = {
    require(frameBytes > 0 && every > 0)
    import ds.sparkSession.implicits._
    ds.flatMap { r =>
      val nFrames = (r.payload.length + frameBytes - 1) / frameBytes
      (0 until nFrames by every).map { f =>
        val frame = r.payload.slice(f * frameBytes,
          math.min((f + 1) * frameBytes, r.payload.length))
        // a raw frame slice is never a self-contained image container;
        // frame decode goes straight to the byte path
        val px = decodeFallback(frame)
        FrameSample(r.doc_id, f, frame.length.toLong, meanOf(px))
      }
    }
  }

  /** 64-bit perceptual hash of a media row. */
  case class ImageHash(doc_id: Long, ahash: Long, real_decode: Boolean)

  /** AVERAGE-HASH (aHash): decode → 8x8 nearest-neighbor luminance
    * downsample → threshold each cell at the integer mean → 64 bits.
    * The standard cheap perceptual fingerprint: re-encodes of the
    * same pixels (PNG vs BMP) hash IDENTICALLY (decode-then-hash sees
    * pixels, not bytes — a content-hash like q41's md5 cannot), and
    * small edits flip few bits. All-integer (integer luminance,
    * integer mean) so the hash is bit-stable across JVMs. Same
    * partition-batched iterator shape as [[extractFeatures]]. */
  def aHash(ds: Dataset[MediaRecord]): Dataset[ImageHash] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.grouped(DecodeBatch).flatMap(_.map { r =>
        val (px, w, h, real) = decodePixels(r)
        ImageHash(r.doc_id, aHash64(px, w, h), real)
      })
    }
  }

  /** The aHash bit kernel over one decoded luminance raster — factored
    * so the single-image hash above and the per-frame clip hash
    * (q383) share one definition and can never fork. */
  private def aHash64(px: Array[Int], w: Int, h: Int): Long = {
    val small = resizeKernel(px, math.max(w, 1), math.max(h, 1), 8, 8)
    var sum = 0L
    var i = 0
    while (i < 64) { sum += small(i); i += 1 }
    val mean = sum / 64
    var bits = 0L
    i = 0
    while (i < 64) { if (small(i) > mean) bits |= (1L << i); i += 1 }
    bits
  }

  /** NEAR-DUPLICATE IMAGE pairs by Hamming distance over [[aHash]],
    * blocked by [[graft.functions.Banding.multiBands]] pigeonhole
    * banding: split the 64-bit hash into `nBands` x `bandBits`-bit
    * bands — any pair within Hamming distance `nBands - 1` agrees
    * EXACTLY on at least one band, so the equi-join on (band, bkey)
    * is a LOSSLESS prune and the quadratic pair space is never
    * materialized. Default 4x16 covers dist <= 3; the 8x8 wide form
    * (q368) trades more band collisions for radius <= 7. The
    * visual twin of the q31/q79 text near-dup family: catches the
    * same photo re-encoded, resized, or lightly edited across feeds,
    * where byte/content hashes see three unrelated blobs. */
  def imageNearDup(ds: Dataset[MediaRecord], maxDist: Int = 3,
      nBands: Int = 4, bandBits: Int = 16): DataFrame =
    Banding.hammingPairs(
      Banding.banded(aHash(ds).toDF().select(col("doc_id"), col("ahash")),
        Banding.multiBands(Seq(col("ahash")), nBands, bandBits)),
      Seq("ahash"), nBands, maxDist)
      .orderBy(col("doc_a"), col("doc_b"))

  /** A renderable scene spec: 56-bit [[graft.Tables.phash]] seed shared
    * by the scene's variants, the variant ordinal, and the encode
    * codec. Every field is derived from doc_id with the md5-portable
    * hash, so a DuckDB oracle can re-derive the EXPECTED result of the
    * real render→encode→decode→hash pipeline in closed form. */
  case class SceneSpec(doc_id: Long, seed: Long, variant: Int, format: String)

  /** Scene geometry: 64×64 px, 8×8 uniform cells; cells 0–55 carry the
    * seed's bits (bit set → 200, else 0), cells 56–63 are 0. Variant
    * j > 0 flips cell (seed mod 56 + j) mod 56 between 0↔200. Cell
    * values sit 100+ away from any possible aHash mean (200k/64 ∈
    * [3,196] for k ∈ [1,63] bright cells), so one flipped cell changes
    * EXACTLY one aHash bit — planted Hamming distances are 1 (base vs
    * variant) and 2 (variant vs variant), never perturbed by the mean
    * shift. */
  private val SceneCells = 56

  def sceneSpecs(spark: SparkSession, dir: String): Dataset[SceneSpec] =
    sceneSpecsOf(load(spark, dir, "documents"))

  /** Scene specs of an ARBITRARY doc-id frame — the generated-media
    * convention (payloads derive deterministically from doc_id alone)
    * applied to any id set, so the incremental ingest path can
    * fingerprint a persisted corpus artifact or an incoming batch
    * with no documents table behind them. */
  def sceneSpecsOf(ids: DataFrame): Dataset[SceneSpec] = {
    import ids.sparkSession.implicits._
    ids.select(
      col("doc_id"),
      phash(expr("cast(doc_id div 5 as string)")).as("seed"),
      (col("doc_id") % 5).cast(IntegerType).as("variant"),
      expr("CASE CAST((doc_id div 5) % 3 AS INT) WHEN 0 THEN 'png' " +
        "WHEN 1 THEN 'bmp' ELSE 'gif' END").as("format"))
      .as[SceneSpec]
  }

  /** Render the spec's 64×64 grayscale cell pattern and encode it with
    * the spec's REAL codec (JDK ImageIO writer). Lossless formats only
    * (png/bmp/gif; gif's palette holds the 2 gray levels exactly), so
    * decode returns the planted pixels bit-for-bit. */
  def renderScene(seed: Long, variant: Int, format: String): Array[Byte] = {
    val flips =
      if (variant > 0) Array(((seed % SceneCells).toInt + variant) % SceneCells)
      else Array.empty[Int]
    encodeCells(cellValues(seed, flips), format)
  }

  /** The seed's 64-cell pattern with the given cells flipped 0↔200. */
  private def cellValues(seed: Long, flips: Array[Int]): Array[Int] = {
    val cells = new Array[Int](64)
    var c = 0
    while (c < SceneCells) {
      cells(c) = if (((seed >> c) & 1L) == 1L) 200 else 0
      c += 1
    }
    flips.foreach(cj => cells(cj) = 200 - cells(cj))
    cells
  }

  /** Rasterize the 8×8 cell grid at 64×64 px and encode with the REAL
    * ImageIO writer for `format`. */
  private def cellImage(cells: Array[Int]): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(64, 64,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 64) {
      var x = 0
      while (x < 64) {
        val v = cells((y / 8) * 8 + (x / 8))
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    img
  }

  private def encodeCells(cells: Array[Int], format: String): Array[Byte] = {
    imageIoReady
    val bos = new java.io.ByteArrayOutputStream()
    val ok = javax.imageio.ImageIO.write(cellImage(cells), format, bos)
    require(ok, s"no ImageIO writer for format $format")
    bos.toByteArray
  }

  /** Flip set of the WIDE scene family: variant j flips j DISJOINT
    * cells — ring offsets `j(j-1)/2 + 1 .. j(j-1)/2 + j` from the
    * seed anchor (offsets 1..10 across the five variants, all
    * distinct mod 56) — so within a 5-doc group every pairwise
    * Hamming distance is EXACTLY `j_a + j_b` (the base contributes
    * 0): distances 1..7, the full radius the 8×8-bit banding must
    * catch and the 4×16 default would miss above 3. */
  def wideFlips(seed: Long, variant: Int): Array[Int] = {
    val anchor = (seed % SceneCells).toInt
    val off = variant * (variant - 1) / 2
    Array.tabulate(variant)(t => (anchor + 1 + off + t) % SceneCells)
  }

  /** Wide-variant render: same geometry/codecs as [[renderScene]],
    * multi-cell flips per [[wideFlips]]. */
  def renderSceneWide(seed: Long, variant: Int, format: String): Array[Byte] =
    encodeCells(cellValues(seed, wideFlips(seed, variant)), format)

  /** REAL animated-GIF encode via ImageIO's sequence writer: each
    * frame's 8×8 cell grid is rasterized ([[cellImage]]) and appended
    * with `writeToSequence`, yielding a genuine multi-image GIF89a
    * container — the JDK's one bundled multi-frame format. GIF's
    * palette holds the two gray levels (0, 200) exactly, so frame
    * decode returns the planted pixels bit-for-bit. */
  def encodeGifAnimation(frames: Seq[Array[Int]]): Array[Byte] = {
    imageIoReady
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      frames.foreach { cells =>
        writer.writeToSequence(
          new javax.imageio.IIOImage(cellImage(cells), null, null), null)
      }
      writer.endWriteSequence()
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  /** REAL multi-frame decode via the ImageReader API — `ImageIO.read`
    * silently returns only frame 0 of an animated container; frame
    * extraction needs `getNumImages(true)` + `read(i)`. Returns the
    * per-frame luminance buffers (w*h ints each; our frames are
    * full-raster so no inter-frame compositing applies). Empty on
    * unrecognized payloads — the pipeline-stays-total contract. */
  def decodeAllFrames(payload: Array[Byte]): Seq[Array[Int]] = {
    imageIoReady
    try {
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(payload))
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) { iis.close(); return Seq.empty }
      val reader = readers.next()
      try {
        reader.setInput(iis, false)
        val n = reader.getNumImages(true)
        (0 until n).map { i =>
          val img = reader.read(i)
          val w = img.getWidth; val h = img.getHeight
          val argb = img.getRGB(0, 0, w, h, null, 0, w)
          argb.map(p => (((p >> 16) & 0xff) + ((p >> 8) & 0xff) + (p & 0xff)) / 3)
        }
      } finally { reader.dispose(); iis.close() }
    } catch {
      case scala.util.control.NonFatal(_) => Seq.empty
    }
  }

  /** A multi-frame clip spec: per-DOC seed (frames are the group),
    * 2–4 frames; frame f > 0 flips cell `(seed mod 56 + f) mod 56` —
    * the q357 variant rule with the frame index as the variant. */
  case class GifSpec(doc_id: Long, seed: Long, n_frames: Int)

  def gifSpecs(spark: SparkSession, dir: String): Dataset[GifSpec] = {
    import spark.implicits._
    load(spark, dir, "documents").select(
      col("doc_id"),
      phash(expr("cast(doc_id as string)")).as("seed"),
      (lit(2) + col("doc_id") % 3).cast(IntegerType).as("n_frames"))
      .as[GifSpec]
  }

  /** The generated animated-GIF table: one REAL multi-frame container
    * per doc, produced executor-side from the row's own spec. */
  def generatedGifs(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    fanOut(gifSpecs(spark, dir)).mapPartitions { it =>
      it.grouped(DecodeBatch).flatMap(_.map { s =>
        val frames = (0 until s.n_frames).map { f =>
          val flips =
            if (f == 0) Array.empty[Int]
            else Array(((s.seed % SceneCells).toInt + f) % SceneCells)
          cellValues(s.seed, flips)
        }
        MediaRecord(s.doc_id, encodeGifAnimation(frames), "gif", 64, 64)
      })
    }
  }

  /** Per-frame census row (q367). */
  case class GifFrameCensus(doc_id: Long, frame_idx: Int, n_pixels: Long,
    n_bright: Long)

  /** q367 — MULTI-FRAME GIF CENSUS: the frame path over a REAL
    * container codec (q360's clips are byte-planes by design; this is
    * the container twin). Each doc's animated GIF is decoded frame by
    * frame through the ImageReader API and every frame's bright-pixel
    * count is emitted; the oracle re-derives the count in closed form
    * (`64 × (bit_count(seed) ± the frame-f flip)` — q358's kd formula
    * with the frame index as the variant). Load-bearing failure modes:
    * a decoder that sees only frame 0 (ImageIO.read semantics) emits
    * too few rows; a sequence writer that palette-quantizes or
    * composites frames shifts a bright count; a frame-count formula
    * slip breaks the row set. Decode is partition-batched and narrow —
    * payloads never shuffle; output is O(frames). */
  def gifFrameCensus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    generatedGifs(spark, dir).mapPartitions { it =>
      it.grouped(DecodeBatch).flatMap(_.flatMap { r =>
        decodeAllFrames(r.payload).zipWithIndex.map { case (px, f) =>
          var bright = 0L
          var i = 0
          while (i < px.length) { if (px(i) > 100) bright += 1; i += 1 }
          GifFrameCensus(r.doc_id, f, px.length.toLong, bright)
        }
      })
    }.toDF().orderBy(col("doc_id"), col("frame_idx"))
  }

  // ---------------------------------------------------------------
  // q383 — CLIP-LEVEL video near-dup: re-encoded clips dedup as UNITS
  // (the video analogue of q362's acoustic fingerprint).
  // ---------------------------------------------------------------

  /** A clip-group spec: unlike [[GifSpec]] (one unique clip per doc),
    * clips come in RE-ENCODE GROUPS of four (group = doc_id div 4 —
    * the audio grouping rule, reused so the two clip-shaped corpora
    * stay structurally aligned): a base clip (variant 0) and three
    * re-encodes, each re-encode differing by ONE extra flipped cell
    * carried through EVERY frame (a constant rendering artifact — the
    * planted stand-in for a brightness/quantization shift that a real
    * re-encode introduces), each separately encoded through the REAL
    * multi-frame GIF writer. Frame f > 0 additionally flips the
    * frame-motion cell (the [[GifSpec]] rule), shared by all variants
    * of the group. Cells at offsets 1..3 (frames) and 18..20
    * (variants) from the seed anchor are distinct mod 56, so the
    * planted per-frame Hamming distances are exact: base↔variant 1,
    * variant↔variant 2, and the CLIP distance (summed over aligned
    * frames) is n_frames × that. */
  case class ClipSpec(doc_id: Long, seed: Long, n_frames: Int, variant: Int)

  def clipSpecs(spark: SparkSession, dir: String): Dataset[ClipSpec] = {
    import spark.implicits._
    val g = "cast(doc_id div 4 as string)"
    load(spark, dir, "documents").select(
      col("doc_id"),
      phash(concat(lit("CL"), expr(g))).as("seed"),
      (lit(2) + expr("(doc_id div 4) % 3")).cast(IntegerType).as("n_frames"),
      (col("doc_id") % 4).cast(IntegerType).as("variant"))
      .as[ClipSpec]
  }

  /** The generated clip table: one REAL animated-GIF container per doc
    * ([[encodeGifAnimation]] — genuine GIF89a multi-image), rendered
    * executor-side from the row's own spec. */
  def generatedClips(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    fanOut(clipSpecs(spark, dir)).mapPartitions { it =>
      it.grouped(DecodeBatch).flatMap(_.map { s =>
        val anchor = (s.seed % SceneCells).toInt
        val vFlip =
          if (s.variant == 0) Array.empty[Int]
          else Array((anchor + 17 + s.variant) % SceneCells)
        val frames = (0 until s.n_frames).map { f =>
          val fFlip =
            if (f == 0) Array.empty[Int]
            else Array((anchor + f) % SceneCells)
          cellValues(s.seed, fFlip ++ vFlip)
        }
        MediaRecord(s.doc_id, encodeGifAnimation(frames), "gif", 64, 64)
      })
    }
  }

  /** (doc_id, frame_idx, fhash, nf): every clip frame decoded through
    * the ImageReader multi-frame path and aHashed with the SHARED
    * [[aHash64]] kernel, plus the clip's frame count (carried so the
    * verify can demand full alignment without a second decode). */
  private def clipFrameHashes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    generatedClips(spark, dir).mapPartitions { it =>
      it.grouped(DecodeBatch).flatMap(_.flatMap { r =>
        val frames = decodeAllFrames(r.payload)
        frames.zipWithIndex.map { case (px, f) =>
          (r.doc_id, f, aHash64(px, 64, 64), frames.length)
        }
      })
    }.toDF("doc_id", "frame_idx", "fhash", "nf")
  }

  /** q383 — CLIP-LEVEL VIDEO NEAR-DUP: re-encoded clips dedup as
    * UNITS, not frame-by-frame — the missing video analogue of the
    * image (q357) and audio (q362) detectors. The order-aware clip
    * signature is the SEQUENCE of per-frame aHashes; candidates come
    * from a banded join keyed on (frame_idx, band, bkey) — the frame
    * index in the key is what makes it order-aware: frame 2 of one
    * clip can only ever collide with frame 2 of another, so a
    * re-ordered cut is NOT a near-dup — and the verify joins the two
    * clips' FULL aligned hash sequences, demands complete alignment
    * on both sides (equal frame counts, every frame matched) and a
    * summed Hamming distance ≤ 8. A one-frame verify would be wrong
    * two ways: a cross-group band accident on a single frame would
    * pass, and a clip sharing one frame with a longer clip would
    * read as a duplicate of it.
    *
    * Decode-once discipline (the r12–r14 codec-stage lesson applied
    * at design time, not discovered at the soak): the frame-hash
    * table is materialized to a per-call scratch parquet in ONE
    * decode pass, and the band, verify-left and verify-right sides
    * all read that parquet — the container codec runs once per clip,
    * not once per plan reference.
    *
    * Closed-form oracle: a group's pairs are planted at clip distance
    * n_frames × 1 (base↔re-encode) or × 2 (re-encode↔re-encode), and
    * per-frame distances ≤ 2 sit inside the 4×16 banding's lossless
    * radius, so the pair set is exact. Cross-group frame hashes
    * disagree on ~28 of 56 cell bits; P(aligned clip distance ≤ 8)
    * is ≪ 1e-12 per pair, so the oracle is sound through sf10 —
    * same probabilistic-ceiling bookkeeping as q368/q372. */
  def clipNearDup(spark: SparkSession, dir: String): DataFrame = {
    val fh = snapshot(spark, clipFrameHashes(spark, dir),
      graft.util.Scratch.indexDir("graft_clip_fh", dir))
    val bands = Banding.banded(
      fh.select(col("doc_id"), col("frame_idx"), col("fhash")),
      Banding.multiBands(Seq(col("fhash")), 4, 16))
    val x = bands.alias("x")
    val y = bands.alias("y")
    val cand = x.join(y, col("x.frame_idx") === col("y.frame_idx") &&
        col("x.band") === col("y.band") &&
        col("x.bkey") === col("y.bkey") &&
        col("x.doc_id") < col("y.doc_id"))
      // frame-radius filter BEFORE the distinct: a band accident at
      // frame distance > 3 never reaches the pair shuffle
      .filter(bit_count(col("x.fhash").bitwiseXOR(col("y.fhash"))) <= 3)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val fa = fh.select(col("doc_id").as("doc_a"), col("frame_idx"),
      col("fhash").as("ha"), col("nf").as("na"))
    val fb = fh.select(col("doc_id").as("doc_b"), col("frame_idx"),
      col("fhash").as("hb"), col("nf").as("nb"))
    cand.join(fa, Seq("doc_a"))
      .join(fb, Seq("doc_b", "frame_idx"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(bit_count(col("ha").bitwiseXOR(col("hb"))))
          .cast(LongType).as("clip_dist"),
        count(lit(1)).as("n_aligned"),
        max(col("na")).as("na"), max(col("nb")).as("nb"))
      .filter(col("n_aligned") === col("na") &&
        col("n_aligned") === col("nb") && col("clip_dist") <= 8)
      .select(col("doc_a"), col("doc_b"), col("clip_dist"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  // ---------------------------------------------------------------
  // q387 — TRIM-TOLERANT clip near-dup: q383 demands EXACT frame-count
  // alignment, so a one-frame trim defeats it (documented residue).
  // ---------------------------------------------------------------

  /** A trimmed-clip spec: [[ClipSpec]]'s re-encode groups of four,
    * with variants additionally TRIMMED from the start by
    * trim = variant mod 3 ∈ {0,1,2} ORIGINAL frames (variant 0: the
    * untrimmed base; variant 3: an untrimmed re-encode — offset-0
    * pairs must still match). Remaining frames keep their ORIGINAL
    * motion flips (a trim cuts frames, it does not re-render them), so
    * two clips' frames align exactly when their ORIGINAL frame numbers
    * agree: encoded index i of a trim-δ clip is original frame i+δ.
    * n_frames = 4 + (group mod 3) ∈ {4,5,6} keeps every overlap
    * window ≥ 2 frames. */
  case class TrimClipSpec(doc_id: Long, seed: Long, n_frames: Int,
    variant: Int, trim: Int)

  def trimClipSpecs(spark: SparkSession, dir: String): Dataset[TrimClipSpec] = {
    import spark.implicits._
    val g = "cast(doc_id div 4 as string)"
    load(spark, dir, "documents").select(
      col("doc_id"),
      phash(concat(lit("TC"), expr(g))).as("seed"),
      (lit(4) + expr("(doc_id div 4) % 3")).cast(IntegerType).as("n_frames"),
      (col("doc_id") % 4).cast(IntegerType).as("variant"),
      ((col("doc_id") % 4) % 3).cast(IntegerType).as("trim"))
      .as[TrimClipSpec]
  }

  /** The generated trimmed-clip table — [[generatedClips]]' render
    * rules (variant flip carried through every frame, frame-motion
    * flip keyed on the ORIGINAL frame number) minus the first `trim`
    * frames, each clip through the real multi-frame GIF writer. */
  def generatedTrimClips(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    fanOut(trimClipSpecs(spark, dir)).mapPartitions { it =>
      it.grouped(DecodeBatch).flatMap(_.map { s =>
        val anchor = (s.seed % SceneCells).toInt
        val vFlip =
          if (s.variant == 0) Array.empty[Int]
          else Array((anchor + 17 + s.variant) % SceneCells)
        val frames = (s.trim until s.n_frames).map { f =>
          val fFlip =
            if (f == 0) Array.empty[Int]
            else Array((anchor + f) % SceneCells)
          cellValues(s.seed, fFlip ++ vFlip)
        }
        MediaRecord(s.doc_id, encodeGifAnimation(frames), "gif", 64, 64)
      })
    }
  }

  /** q387 — TRIM-TOLERANT CLIP NEAR-DUP: q383's order-aware detector
    * extended with a BOUNDED alignment offset, so a clip trimmed by up
    * to 2 frames still dedups against its source. Candidates come from
    * the same banded join, with the probe side fanned to 5 offset keys
    * (frame_idx + δ, |δ| ≤ 2) — the frame index stays IN the equi-key,
    * so pruning survives and a re-ordered cut still cannot match. The
    * verify aligns the two hash sequences at each candidate δ and
    * demands (a) the overlap window is FULLY matched —
    * n_aligned = min(n_a, n_b), exactly the start-trim overlap — and
    * (b) summed Hamming ≤ 2·n_aligned (the planted per-frame ceiling).
    * The cap is load-bearing, not a tolerance: a WRONG offset between
    * same-group clips can also achieve a full-looking overlap count,
    * but misaligned frames disagree on the motion cells (≥ 3 bits per
    * frame vs ≤ 2 planted — rejected for every n ≥ 4; the margin is
    * tightest at n = 4: 5 > 4). Per pair the minimum-distance offset
    * wins.
    *
    * Closed-form oracle: every same-group pair matches at offset
    * trim_a − trim_b with clip distance
    * (n − max(trim_a, trim_b)) × (1 if either side is the base else
    * 2); cross-group aligned frames disagree on ~28 of 56 bits, so
    * the ≤ 2·n cap is unreachable (same bookkeeping as q383). */
  def clipNearDupTrimTolerant(spark: SparkSession, dir: String): DataFrame = {
    // decode-once discipline (q383's): one decode pass to scratch,
    // read by the band side and both verify sides
    val fh = snapshot(spark, {
      import spark.implicits._
      generatedTrimClips(spark, dir).mapPartitions { it =>
        it.grouped(DecodeBatch).flatMap(_.flatMap { r =>
          val frames = decodeAllFrames(r.payload)
          frames.zipWithIndex.map { case (px, f) =>
            (r.doc_id, f, aHash64(px, 64, 64), frames.length)
          }
        })
      }.toDF("doc_id", "frame_idx", "fhash", "nf")
    }, graft.util.Scratch.indexDir("graft_trim_fh", dir))
    val bands = Banding.banded(
      fh.select(col("doc_id"), col("frame_idx"), col("fhash")),
      Banding.multiBands(Seq(col("fhash")), 4, 16))
    val xo = bands
      .select(col("doc_id"), col("frame_idx"), col("fhash"),
        col("band"), col("bkey"),
        explode(sequence(lit(-2), lit(2))).as("off"))
      .withColumn("fkey", col("frame_idx") + col("off"))
    val cand = xo.alias("x").join(bands.alias("y"),
        col("x.fkey") === col("y.frame_idx") &&
        col("x.band") === col("y.band") &&
        col("x.bkey") === col("y.bkey") &&
        col("x.doc_id") < col("y.doc_id"))
      .filter(bit_count(col("x.fhash").bitwiseXOR(col("y.fhash"))) <= 3)
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.off").as("off"))
      .distinct()
    val fa = fh.select(col("doc_id").as("doc_a"),
      col("frame_idx").as("fi"), col("fhash").as("ha"), col("nf").as("na"))
    val fb = fh.select(col("doc_id").as("doc_b"),
      col("frame_idx").as("fj"), col("fhash").as("hb"), col("nf").as("nb"))
    val verified = cand.join(fa, Seq("doc_a"))
      .withColumn("fj", col("fi") + col("off"))
      .join(fb, Seq("doc_b", "fj"))
      .groupBy(col("doc_a"), col("doc_b"), col("off"))
      .agg(sum(bit_count(col("ha").bitwiseXOR(col("hb"))))
          .cast(LongType).as("clip_dist"),
        count(lit(1)).as("n_aligned"),
        max(col("na")).as("na"), max(col("nb")).as("nb"))
      .filter(col("n_aligned") === least(col("na"), col("nb")) &&
        col("clip_dist") <= lit(2) * col("n_aligned"))
    verified
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(min(struct(col("clip_dist"), col("off"))).as("best"))
      .select(col("doc_a"), col("doc_b"),
        col("best.off").cast(IntegerType).as("best_offset"),
        col("best.clip_dist").as("clip_dist"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** The generated media table: REAL encoded image bytes (one render +
    * encode per row, partition-batched like every decode path here) —
    * the corpus the oracle-gated image queries run on. Payloads are
    * produced executor-side from the row's own spec: nothing is
    * shipped from the driver, and the render cost scales with the
    * partition, not the job. */
  def generatedMedia(spark: SparkSession, dir: String): Dataset[MediaRecord] =
    generatedMediaOf(load(spark, dir, "documents"))

  /** [[generatedMedia]] over an arbitrary doc-id frame (see
    * [[sceneSpecsOf]]). */
  def generatedMediaOf(ids: DataFrame): Dataset[MediaRecord] = {
    import ids.sparkSession.implicits._
    fanOut(sceneSpecsOf(ids)).mapPartitions { it =>
      it.grouped(DecodeBatch).flatMap(_.map { s =>
        MediaRecord(s.doc_id, renderScene(s.seed, s.variant, s.format),
          s.format, 64, 64)
      })
    }
  }

  /** Banded aHash rows of an arbitrary doc-id frame — the probe-side
    * handle the incremental ingest writer composes (render → codec →
    * decode → aHash → 4×16 bands, all the gated q357/q379 machinery). */
  private[graft] def imageBandsOf(ids: DataFrame): DataFrame =
    aHashBands(generatedMediaOf(ids))

  /** The wide-variant generated media table ([[renderSceneWide]] per
    * row — real codecs, multi-cell flips). */
  def generatedMediaWide(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    fanOut(sceneSpecs(spark, dir)).mapPartitions { it =>
      it.grouped(DecodeBatch).flatMap(_.map { s =>
        MediaRecord(s.doc_id, renderSceneWide(s.seed, s.variant, s.format),
          s.format, 64, 64)
      })
    }
  }

  /** q368 — WIDE-RADIUS PERCEPTUAL NEAR-DUP (the recall knob of the
    * image near-dup family): the q357 pipeline with 8×8-bit pigeonhole
    * bands, lossless to Hamming distance 7, over the WIDE scene corpus
    * whose within-group distances are planted at exactly `j_a + j_b`
    * (1..7 — [[wideFlips]]). The default 4×16 banding would MISS every
    * pair above distance 3, so this gate exercises precisely what the
    * wide banding buys; the price (documented in
    * [[graft.functions.Banding]]) is ~256× more band collisions, which
    * is why the distance filter runs on the pipelined join output
    * before anything is shuffled again. Cross-group distances
    * concentrate near 28 and cannot pass ≤ 7 (P ≈ 2e-8 per pair).
    *
    * ORACLE SF CEILING (ADVICE r12): the cross-group safety margin is
    * probabilistic and thins with the SQUARE of the group count — at
    * sf1 (~10k scene groups, ~5e7 cross-group pairs) the expected
    * number of spurious ≤ 7 pairs is ~1, so the closed-form oracle
    * gate is only sound for sf ≤ 0.1 (~5e5 cross pairs, expectation
    * ~0.01). Soak q368 at sf ≥ 1 on throughput/candidate-count probes
    * only, or use q372's 128-bit fingerprint, whose per-pair
    * probability (~2e-13 at the same radius) keeps the expectation
    * ≪ 1 through sf10 — or q375's 256-bit quad fingerprint
    * (P ≈ 1e-60), sound at any scale. */
  def imageNearDupWide(spark: SparkSession, dir: String): DataFrame =
    imageNearDup(generatedMediaWide(spark, dir), maxDist = 7,
      nBands = 8, bandBits = 8)

  // ---------------------------------------------------------------
  // q372/q373 — the 128-bit wide-radius fingerprint (SCALE.md §14's
  // documented lever, implemented): widen the fingerprint, not the
  // radius.
  // ---------------------------------------------------------------

  /** A wide scene spec plus its 63-bit TEXTURE word: bits 0–55 from
    * phash("T"+group), bits 56–62 from phash("U"+group) (bit 63 stays
    * 0 so both hash columns remain non-negative — arithmetic shifts
    * then agree bit-for-bit between Spark and DuckDB). The seed (and
    * so the scene geometry, anchors, and planted distances) is q368's
    * VERBATIM — the corpus keeps the structurally dark bottom cell
    * row, because that is the shape that makes q368's 8×8 banding
    * degenerate and the audit comparison honest. The texture is
    * GROUP-derived: identical across a scene group's variants, so it
    * contributes ZERO Hamming distance to planted pairs, and
    * independent across groups, so it contributes ~31 bits against
    * spurious cross-group matches plus 7–8 bits of bucket entropy to
    * every paired band. aHash margin with the texture overlay (+10 on
    * a textured cell's mean): dark-tex (10) stays under the image
    * mean for bright-count k ≥ 4, bright-non-tex (200) stays over it
    * for k ≤ 57 — P(k < 4) for k ~ Binomial(56, 1/2) is < 1e-12 per
    * group, negligible past sf10. */
  case class SceneSpec128(doc_id: Long, seed: Long, tex: Long, variant: Int,
    format: String)

  def wideSpecs128(spark: SparkSession, dir: String): Dataset[SceneSpec128] = {
    import spark.implicits._
    val g = "cast(doc_id div 5 as string)"
    load(spark, dir, "documents").select(
      col("doc_id"),
      phash(expr(g)).as("seed"),
      phash(concat(lit("T"), expr(g)))
        .bitwiseOR(shiftleft(
          phash(concat(lit("U"), expr(g))).bitwiseAND(lit(0x7fL)), 56))
        .as("tex"),
      (col("doc_id") % 5).cast(IntegerType).as("variant"),
      expr("CASE CAST((doc_id div 5) % 3 AS INT) WHEN 0 THEN 'png' " +
        "WHEN 1 THEN 'bmp' ELSE 'gif' END").as("format"))
      .as[SceneSpec128]
  }

  /** Rasterize the cell grid WITH quadrant texture: cell c's TOP-LEFT
    * 4×4-px quadrant is lifted +40 when texture bit c is set (pixel
    * levels {0, 40, 200, 240} — four exact grays, still lossless under
    * png/bmp/gif). The texture rides at 16×16-cell granularity (4×4-px
    * blocks), one level below the 8×8 scene cells, which is exactly
    * where [[qcHash]]'s second 64 bits read it back out. */
  private def cellImage128(cells: Array[Int], tex: Long): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(64, 64,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 64) {
      var x = 0
      while (x < 64) {
        val c = (y / 8) * 8 + (x / 8)
        val t = ((tex >> c) & 1L) == 1L && x % 8 < 4 && y % 8 < 4
        val v = cells(c) + (if (t) 40 else 0)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    img
  }

  /** Wide render with the group texture overlay: same geometry, codecs
    * and [[wideFlips]] distances as [[renderSceneWide]]; the flips
    * toggle the cell BASE (0↔200) and leave the texture overlay
    * untouched, so within-group aHash distances stay exactly
    * j_a + j_b while the texture survives every variant. */
  def renderSceneWide128(seed: Long, tex: Long, variant: Int,
      format: String): Array[Byte] = {
    imageIoReady
    val bos = new java.io.ByteArrayOutputStream()
    val ok = javax.imageio.ImageIO.write(
      cellImage128(cellValues(seed, wideFlips(seed, variant)), tex),
      format, bos)
    require(ok, s"no ImageIO writer for format $format")
    bos.toByteArray
  }

  /** The textured wide corpus ([[renderSceneWide128]] per row — real
    * codecs, multi-cell flips, group texture). */
  def generatedMediaWide128(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    fanOut(wideSpecs128(spark, dir)).mapPartitions { it =>
      it.grouped(DecodeBatch).flatMap(_.map { s =>
        MediaRecord(s.doc_id, renderSceneWide128(s.seed, s.tex, s.variant,
          s.format), s.format, 64, 64)
      })
    }
  }

  /** The 128-bit perceptual fingerprint: [[aHash]]'s 64 bits plus a
    * QUADRANT-CONTRAST hash at 16×16-cell granularity. */
  case class ImageHash2(doc_id: Long, ahash: Long, qhash: Long,
    real_decode: Boolean)

  /** Decode ONCE, fingerprint TWICE: the 8×8 aHash (as [[aHash]]) and
    * a second 64-bit QUADRANT-CONTRAST hash from the 16×16
    * nearest-neighbor downsample — bit c is set when cell c's top-left
    * 4×4-px quadrant is STRICTLY brighter than the cell's other three
    * quadrants combined (3·q0 > q1+q2+q3, all exact integers, no
    * image-mean dependence at all). The two hashes see DIFFERENT
    * granularities of the same pixels: a small edit (one 8×8 cell)
    * flips one aHash bit and — because the contrast predicate compares
    * WITHIN the cell, where an edit moves base and quadrants together
    * — zero qcHash bits, so near-dup radii are preserved while
    * unrelated images disagree on ~half of 128 bits instead of 64. */
  def qcHash(ds: Dataset[MediaRecord]): Dataset[ImageHash2] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.grouped(DecodeBatch).flatMap(_.map { r =>
        val (px, w, h, real) = decodePixels(r)
        val small = resizeKernel(px, math.max(w, 1), math.max(h, 1), 8, 8)
        var sum = 0L
        var i = 0
        while (i < 64) { sum += small(i); i += 1 }
        val mean = sum / 64
        var bits = 0L
        i = 0
        while (i < 64) { if (small(i) > mean) bits |= (1L << i); i += 1 }
        val g = resizeKernel(px, math.max(w, 1), math.max(h, 1), 16, 16)
        var qbits = 0L
        var c = 0
        while (c < 64) {
          val rr = (c / 8) * 2; val cc = (c % 8) * 2
          val q0 = g(rr * 16 + cc); val q1 = g(rr * 16 + cc + 1)
          val q2 = g((rr + 1) * 16 + cc); val q3 = g((rr + 1) * 16 + cc + 1)
          if (3 * q0 > q1 + q2 + q3) qbits |= (1L << c)
          c += 1
        }
        ImageHash2(r.doc_id, bits, qbits, real)
      })
    }
  }

  /** q372 — WIDE-RADIUS NEAR-DUP ON THE 128-BIT FINGERPRINT: q368's
    * planted-distance gate (radius ≤ 7, distances exactly j_a + j_b)
    * run through two-word [[graft.functions.Banding.multiBands]] — 8 bands of
    * 16 bits (8 aHash + 8 qcHash bits each, 65 536 buckets/band) in
    * place of q368's 8×8 (256/band). Same pigeonhole losslessness at
    * the same radius; ~256× fewer random band collisions — and the
    * 64-bit form's one DEGENERATE band (aHash bits 56–63 are 0 for
    * every scene, so its band 7 holds ALL n docs and alone contributes
    * n²/2 candidates) becomes 128 texture-split buckets. This is the
    * fix for SCALE.md §14's candidate-growth term; q373 is the audit
    * that measures it. Honest residual: that band still has only the 7
    * texture bits of entropy, so an n²/256 term survives at extreme n
    * (~10⁷ docs per partition domain before it dominates the planted
    * pairs); that residual is retired in turn by q375's 256-bit quad
    * fingerprint ([[imageNearDupQuad256]] — every band ≥ 21
    * discriminating bits, measured exponent 1.00 at 500 k docs,
    * SCALE.md §20). Cross-group pairs differ on ~28 aHash + ~31
    * texture bits — P(≤ 7 of 128) ≈ 1e-26, so the closed-form oracle
    * stays sound far past the sf1 ceiling documented on q368. */
  def imageNearDupWide128(spark: SparkSession, dir: String): DataFrame = {
    val hs = Seq("ahash", "qhash")
    Banding.hammingPairs(
      Banding.banded(
        qcHash(generatedMediaWide128(spark, dir)).toDF()
          .select((col("doc_id") +: hs.map(col)): _*),
        Banding.multiBands(hs.map(col), 8, 8)),
      hs, 8, 7)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q373 — BANDING CANDIDATE AUDIT: the measured form of the q368 vs
    * q372 collision story, over the SAME textured corpus and real
    * decode path. For both band families — 8×8 over the 64-bit aHash
    * (q368's split) and 8×16 over the 128-bit paired fingerprint
    * (q372's) — count occupied buckets and the candidate pairs the
    * banded self-join WOULD produce (Σ_bucket m·(m−1)/2, computed from
    * bucket occupancies — one narrow aggregation, the quadratic join
    * itself is never run). The oracle recomputes both hash words in
    * closed form (aHash = seed XOR the wideFlips mask; qcHash = the
    * texture word exactly), so this gate also pins the REAL
    * decode→fingerprint path bit-for-bit against the plant. At sf0.1
    * the 64-bit family's count is dominated by its degenerate band 7
    * (~n²/2); the paired family cuts candidates ~1000× — the audit
    * column SCALE.md §14 wanted. */
  def bandingAudit(spark: SparkSession, dir: String): DataFrame = {
    val hashes = qcHash(generatedMediaWide128(spark, dir)).toDF()
    val tagged = Banding.banded(hashes, Banding.taggedBands(Seq(
      "ahash64_8x8" -> Banding.multiBands(Seq(col("ahash")), 8, 8),
      "paired128_8x16" ->
        Banding.multiBands(Seq(col("ahash"), col("qhash")), 8, 8))))
    tagged.groupBy(col("family"), col("band"), col("bkey"))
      .agg(count(lit(1)).as("m"))
      .groupBy(col("family"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(expr("(m * (m - 1)) div 2")).as("n_candidates"))
      .orderBy(col("family"))
  }

  // ---------------------------------------------------------------
  // q375/q376 — the 256-bit fingerprint (SCALE.md §18's residual,
  // retired): widen h2 so EVERY band carries >= 21 discriminating
  // bits, including the one whose aHash slice is structurally dark.
  // ---------------------------------------------------------------

  /** A quad-textured scene spec: the q368/q372 geometry (seed, wide
    * flips, codec mix) plus THREE independent 63-bit texture words,
    * one per non-base cell quadrant. Each word is built like q372's
    * (`bits 0–55 from one phash, 56–62 from another, bit 63 kept 0 so
    * arithmetic shifts agree between Spark and DuckDB`), from three
    * disjoint hash namespaces, so the words are mutually independent
    * AND independent of the seed. Like q372's texture they are
    * GROUP-derived: zero Hamming contribution within a scene group,
    * ~31.5 bits of disagreement per word across groups. */
  case class SceneSpec256(doc_id: Long, seed: Long, t0: Long, t1: Long,
    t2: Long, variant: Int, format: String)

  private def texWord(hi: org.apache.spark.sql.Column,
      lo: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    lo.bitwiseOR(shiftleft(hi.bitwiseAND(lit(0x7fL)), 56))

  def quadSpecs256(spark: SparkSession, dir: String): Dataset[SceneSpec256] =
    quadSpecs256Of(load(spark, dir, "documents"))

  /** Quad specs of an ARBITRARY doc-id frame — the wide-policy probe
    * handle (see [[sceneSpecsOf]] for the narrow twin). */
  def quadSpecs256Of(ids: DataFrame): Dataset[SceneSpec256] = {
    val spark = ids.sparkSession
    import spark.implicits._
    val g = "cast(doc_id div 5 as string)"
    val tw = (p: String) => texWord(
      phash(concat(lit(p + "H"), expr(g))), phash(concat(lit(p + "L"), expr(g))))
    ids.select(
      col("doc_id"),
      phash(expr(g)).as("seed"),
      tw("Q0").as("t0"), tw("Q1").as("t1"), tw("Q2").as("t2"),
      (col("doc_id") % 5).cast(IntegerType).as("variant"),
      expr("CASE CAST((doc_id div 5) % 3 AS INT) WHEN 0 THEN 'png' " +
        "WHEN 1 THEN 'bmp' ELSE 'gif' END").as("format"))
      .as[SceneSpec256]
  }

  /** Rasterize with PER-QUADRANT texture: cell c's top-left 4×4-px
    * quadrant is lifted +40 when t0 bit c is set, top-right when t1,
    * bottom-left when t2; the bottom-right quadrant ALWAYS stays at
    * the cell base — it is the reference level the quadrant-contrast
    * predicates compare against, which is what makes them invariant
    * to the planted base flips (base and reference move together).
    * Pixel levels stay the four exact grays {0, 40, 200, 240} —
    * lossless under png/bmp/gif. */
  private def cellImage256(cells: Array[Int], t0: Long, t1: Long,
      t2: Long): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(64, 64,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < 64) {
      var x = 0
      while (x < 64) {
        val c = (y / 8) * 8 + (x / 8)
        val tex =
          if (y % 8 < 4) { if (x % 8 < 4) t0 else t1 }
          else { if (x % 8 < 4) t2 else 0L }
        val v = cells(c) + (if (((tex >> c) & 1L) == 1L) 40 else 0)
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    img
  }

  def renderSceneQuad256(s: SceneSpec256): Array[Byte] = {
    imageIoReady
    val bos = new java.io.ByteArrayOutputStream()
    val ok = javax.imageio.ImageIO.write(
      cellImage256(cellValues(s.seed, wideFlips(s.seed, s.variant)),
        s.t0, s.t1, s.t2),
      s.format, bos)
    require(ok, s"no ImageIO writer for format ${s.format}")
    bos.toByteArray
  }

  /** The quad-textured corpus — real codecs, [[wideFlips]] planted
    * distances, three texture planes. */
  def generatedMediaQuad256(spark: SparkSession, dir: String): Dataset[MediaRecord] =
    generatedMediaQuad256Of(load(spark, dir, "documents"))

  /** [[generatedMediaQuad256]] over an arbitrary doc-id frame — the
    * wide-policy ([[graft.ops.Pipeline.WideRadius7]]) probe side of
    * the incremental ingest writer. */
  def generatedMediaQuad256Of(ids: DataFrame): Dataset[MediaRecord] = {
    import ids.sparkSession.implicits._
    fanOut(quadSpecs256Of(ids)).mapPartitions { it =>
      it.grouped(DecodeBatch).flatMap(_.map { s =>
        MediaRecord(s.doc_id, renderSceneQuad256(s), s.format, 64, 64)
      })
    }
  }

  /** Banded quad-256 fingerprint rows of an arbitrary doc-id frame —
    * the [[imageBandsOf]] twin under the WIDE policy: render → codec →
    * decode → [[quadHash]] → 8×32 `multiBands` (lossless to Hamming 7,
    * candidate exponent 1.00 — the q375 geometry). Carries all four
    * hash words on the band row so the Hamming verify runs inside the
    * band join, like the narrow form. */
  private[graft] def quadBandsOf(ids: DataFrame): DataFrame =
    quadBands(quadHash(generatedMediaQuad256Of(ids)).toDF())

  /** The quad hash words, in band-row and probe order. */
  private[graft] val QuadWords = Seq("h1", "h2", "h3", "h4")

  /** 8×32 band rows `(doc_id, h1..h4, band, bkey)` of a quad hash frame. */
  private def quadBands(hashes: DataFrame): DataFrame =
    Banding.banded(hashes.select((col("doc_id") +: QuadWords.map(col)): _*),
      Banding.multiBands(QuadWords.map(col), 8, 8))

  /** The 256-bit perceptual fingerprint, carried as four longs. */
  case class ImageHash4(doc_id: Long, h1: Long, h2: Long, h3: Long,
    h4: Long, real_decode: Boolean)

  /** Decode ONCE, fingerprint FOUR ways: h1 is the 8×8 mean-threshold
    * aHash; h2–h4 are QUADRANT-CONTRAST-VS-BASE hashes from the 16×16
    * nearest-neighbor downsample — for scene cell c with quadrant
    * samples q0 (top-left), q1 (top-right), q2 (bottom-left), q3
    * (bottom-right, the untextured base), bit c of h2/h3/h4 is set
    * when q0/q1/q2 is STRICTLY brighter than q3. A base-level edit
    * moves all four quadrants together, so it flips one h1 bit and
    * ZERO contrast bits — planted radii live entirely in h1 — while
    * unrelated images disagree on ~half of 256 bits. Exact integer
    * comparisons; no image-mean dependence in h2–h4 at all. */
  def quadHash(ds: Dataset[MediaRecord]): Dataset[ImageHash4] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.grouped(DecodeBatch).flatMap(_.map { r =>
        val (px, w, h, real) = decodePixels(r)
        val small = resizeKernel(px, math.max(w, 1), math.max(h, 1), 8, 8)
        var sum = 0L
        var i = 0
        while (i < 64) { sum += small(i); i += 1 }
        val mean = sum / 64
        var b1 = 0L
        i = 0
        while (i < 64) { if (small(i) > mean) b1 |= (1L << i); i += 1 }
        val g = resizeKernel(px, math.max(w, 1), math.max(h, 1), 16, 16)
        var b2 = 0L; var b3 = 0L; var b4 = 0L
        var c = 0
        while (c < 64) {
          val rr = (c / 8) * 2; val cc = (c % 8) * 2
          val q0 = g(rr * 16 + cc); val q1 = g(rr * 16 + cc + 1)
          val q2 = g((rr + 1) * 16 + cc); val q3 = g((rr + 1) * 16 + cc + 1)
          if (q0 > q3) b2 |= (1L << c)
          if (q1 > q3) b3 |= (1L << c)
          if (q2 > q3) b4 |= (1L << c)
          c += 1
        }
        ImageHash4(r.doc_id, b1, b2, b3, b4, real)
      })
    }
  }

  /** q375 — WIDE-RADIUS NEAR-DUP ON THE 256-BIT FINGERPRINT: the
    * q368/q372 planted-distance gate (radius ≤ 7, distances exactly
    * j_a + j_b) banded 8×32 via [[graft.functions.Banding.multiBands]]
    * — 8 bits from EACH of the four hash words per band, 2³² buckets.
    * This retires SCALE.md §18's measured residual: q372's band 7
    * (dark aHash row + 7 texture bits = 128 buckets → n²/256
    * candidates) now carries 21 discriminating bits (7 from each
    * texture plane) → ~n²/2²², i.e. negligible to ~10⁸ docs per
    * partition domain; every other band carries the full 32. Same
    * pigeonhole losslessness at radius 7 (the planted edits flip h1
    * bits only — [[quadHash]]). Cross-group pairs differ on ~28 h1 +
    * ~94 texture bits, so P(≤ 7 of 256) is ~1e-60 and the closed-form
    * oracle is sound at ANY scale factor — also retiring q368's
    * documented sf ceiling for this family. q376 is the audit that
    * measures the candidate cut. */
  def imageNearDupQuad256(spark: SparkSession, dir: String): DataFrame =
    imageNearDupQuad256From(quadHash(generatedMediaQuad256(spark, dir)).toDF())

  /** The q375 pair join over a PRECOMPUTED (doc_id, h1..h4) frame —
    * factored so the wide corpus build can decode+fingerprint ONCE
    * and feed both its banding guard and this join (the decode-once
    * discipline); q375's registered form delegates here, so the two
    * can never fork. */
  private[graft] def imageNearDupQuad256From(hashes: DataFrame): DataFrame =
    Banding.hammingPairs(quadBands(hashes), QuadWords, 8, 7)
      .orderBy(col("doc_a"), col("doc_b"))

  /** q376 — 256-BIT BANDING CANDIDATE AUDIT: q373's measured-collision
    * story extended to the quad fingerprint, over the SAME quad
    * corpus and real decode path. Three band families — q368's 8×8
    * over h1 alone, q372's 8×16 over (h1, h2), and q375's 8×32 over
    * all four words — each reduced to occupied-bucket and candidate
    * counts (Σ m·(m−1)/2 from occupancies; the quadratic join never
    * runs). The oracle recomputes all four words in closed form
    * (h1 = seed XOR the wideFlips sum; h2–h4 = the texture words
    * verbatim), so the gate pins the decode→4-way-fingerprint path
    * bit-for-bit AND the audit columns measure the n²/256 → n²/2²²
    * residual cut at whatever scale it runs.
    *
    * The NOISE TRIPWIRE (round 14): each family's candidates split
    * into the planted signal (same scene group — the pairs the
    * detector exists to find) and collision noise (cross-group bucket
    * accidents, the n²/2^bits term); `noise_flagged` fires when noise
    * exceeds half the candidates. The quad family's noise is ~4% of
    * signal on the gate corpus and becomes subdominant only past
    * ~10⁷ docs per partition domain (SCALE.md §20) — this column is
    * how the corpus that needs a FIFTH `multiBands` word announces
    * itself instead of silently going quadratic. The flag rides the
    * same occupancy reduction (group-by only, no pair join). */
  def bandingAudit256(spark: SparkSession, dir: String): DataFrame =
    bandingAudit256From(quadHash(generatedMediaQuad256(spark, dir)).toDF())

  /** The audit's reduction, factored so specs can feed an adversarial
    * hash frame ((doc_id, h1..h4) rows; planted group = doc_id div 5)
    * and pin the tripwire on a degenerate corpus. */
  private[graft] def bandingAudit256From(hashes: DataFrame): DataFrame = {
    val tagged = Banding.banded(hashes.withColumn("grp", expr("doc_id div 5")),
      Banding.taggedBands(Seq(
        "ahash64_8x8" -> Banding.multiBands(Seq(col("h1")), 8, 8),
        "paired128_8x16" -> Banding.multiBands(Seq(col("h1"), col("h2")), 8, 8),
        "quad256_8x32" -> Banding.multiBands(QuadWords.map(col), 8, 8))))
    // two-level occupancy: per (bucket, group) counts roll into per-
    // bucket totals, so the same pass yields total candidates AND the
    // same-group (planted) share — still zero pair joins
    tagged.groupBy(col("family"), col("band"), col("bkey"), col("grp"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("family"), col("band"), col("bkey"))
      .agg(sum(col("c")).as("m"),
        sum(expr("(c * (c - 1)) div 2")).as("pl"))
      .groupBy(col("family"))
      .agg(count(lit(1)).as("n_buckets"),
        sum(expr("(m * (m - 1)) div 2")).as("n_candidates"),
        sum(col("pl")).as("n_planted"))
      .withColumn("n_noise", col("n_candidates") - col("n_planted"))
      .withColumn("noise_flagged", col("n_noise") * 2 > col("n_candidates"))
      .orderBy(col("family"))
  }

  /** q357 — PERCEPTUAL NEAR-DUP OVER REAL ENCODED IMAGES: the full
    * image pipeline (render → real codec encode → real ImageIO decode
    * → 8×8 aHash → pigeonhole-banded pair join) run end-to-end on
    * deterministic generated scenes, gated by a closed-form oracle:
    * docs in the same 5-doc scene group are planted at Hamming
    * distance 1 (base↔variant) or 2 (variant↔variant); cross-scene
    * distances concentrate near 28 (independent 56-bit patterns) and
    * can never pass the ≤3 filter. A wrong render, a lossy/broken
    * codec path, a resize off-by-one, or a banding bug each break the
    * pair set — this is the decode path's DuckDB gate, not a spec
    * assertion. Scale shape: identical to [[imageNearDup]] (banded
    * equi-join; quadratic space never materialized). */
  def imageNearDupGenerated(spark: SparkSession, dir: String): DataFrame =
    imageNearDup(generatedMedia(spark, dir))

  /** (doc_id, ahash, band, bkey) rows for a media set — the probe-side
    * building block shared by the inline (q379) and persisted (q380)
    * incremental image-dedup forms. The 16-byte (hash + key) row is
    * the ONLY thing that ever crosses a shuffle; carrying the hash on
    * the band row means the Hamming verify runs inside the band join
    * with no second fetch (cheap for a 64-bit hash, unlike q285's
    * shingle sets). */
  private def aHashBands(ds: Dataset[MediaRecord]): DataFrame =
    Banding.banded(aHash(ds).toDF().select(col("doc_id"), col("ahash")),
      Banding.multiBands(Seq(col("ahash")), 4, 16))

  /** The banded-fingerprint probe's verdict tail, shared by every
    * Hamming probe — image q379/q380 (`ahash`, radius 3), audio
    * q381/q382 (`fp`, radius 3) and the wide-policy ingest probe (quad
    * words, radius 7): delta/corpus band rows in, one verdict row per
    * delta doc out. Band-key equi-join → summed Hamming ≤ `maxDist`
    * over `hashCols` ([[Banding.hammingProbe]], the candidate rule
    * the index-seeded streams share) → per-delta-doc match count + best
    * match (smallest distance, doc-id tie-break the q285 spelling),
    * clean (0, NULL, NULL) rows via the left join. */
  private[graft] def bandProbeVerdict(deltaBands: DataFrame,
      corpusBands: DataFrame, deltaIds: DataFrame,
      hashCols: Seq[String], maxDist: Int): DataFrame = {
    // distance-filtered before the distinct — only true near-matches
    // reach the verdict shuffle
    val cand = Banding.hammingProbe(deltaBands, corpusBands, hashCols, maxDist)
      .distinct()
    val wBest = Window.partitionBy(col("new_doc"))
      .orderBy(col("dist"), col("match_doc").desc)
    val best = cand
      .withColumn("rn", row_number().over(wBest))
      .withColumn("n_matches",
        count(lit(1)).over(Window.partitionBy(col("new_doc"))))
      .filter(col("rn") === 1)
      .select(col("new_doc"), col("n_matches"),
        col("match_doc").as("best_match"), col("dist").as("best_dist"))
    deltaIds.join(best, Seq("new_doc"), "left")
      .select(col("new_doc"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("best_match"), col("best_dist"))
      .orderBy(col("new_doc"))
  }

  /** q379 — INCREMENTAL IMAGE DEDUP PROBE: the q285 production shape
    * carried to the image column — a new batch's artwork (the shared
    * delta rule, doc_id % 10 == 0) probed against the ALREADY-INGESTED
    * corpus's perceptual fingerprints, never against itself and never
    * corpus-vs-corpus. Both sides run the REAL render→codec→decode→
    * aHash pipeline (q357's), candidates come from the 4×16 pigeonhole
    * band join (lossless to Hamming 3), and every delta doc gets a
    * verdict row: match count, best match, best distance, or a clean
    * (0, NULL, NULL). The closed-form oracle replays the planted scene
    * structure: a delta doc's matches are exactly its scene group's
    * corpus members, at distance 1 (base↔variant) or 2
    * (variant↔variant).
    *
    * Scale shape: the corpus side prunes to colliding band keys (the
    * delta never touches non-colliding corpus docs); the only shuffle
    * rows are 16-byte (hash, key) pairs; the quadratic pair space is
    * never materialized. At 100 TB the corpus side is [[saveImageIndex]]'s
    * persisted asset — q380 is that form, verdict-identical. */
  def imageIncrementalDedup(spark: SparkSession, dir: String): DataFrame =
    deltaVerdicts(spark, dir, imageBandsOf, imageBandsOf(
      load(spark, dir, "documents").filter(!isDelta(col("doc_id")))), "ahash")

  /** The radius-3 [[bandProbeVerdict]]s of `dir`'s delta docs, banded by
    * `bandsOf`, against `corpusBands` of the same kernel: image
    * q379/q380 and audio q381/q382. Each side filters its doc slice
    * BEFORE the render: a filter above the codec mapPartitions cannot
    * push through it, so filtering one banded frame would run the full
    * render+decode+hash pipeline once PER JOIN SIDE (measured 1.9x on
    * the probe at heaps1). */
  private[graft] def deltaVerdicts(spark: SparkSession, dir: String,
      bandsOf: DataFrame => DataFrame, corpusBands: DataFrame,
      hashCol: String): DataFrame = {
    val docs = load(spark, dir, "documents")
    bandProbeVerdict(bandsOf(docs.filter(isDelta(col("doc_id")))), corpusBands,
      docs.select(col("doc_id").as("new_doc")).filter(isDelta(col("new_doc"))),
      Seq(hashCol), 3)
  }

  /** Persist the corpus side of the q379 probe as an on-disk index:
    * the banded fingerprint table, partitioned by band so a probe
    * prunes to its band's files. At 100 TB this is the asset an ingest
    * pipeline builds ONCE per corpus — decode + fingerprint paid at
    * build time, never per batch — the `saveLshIndex` lifecycle
    * carried to the image column. Unlike the text index there is no
    * sidecar set table: the 64-bit hash rides the band row, so a probe
    * is one partition-pruned join. */
  def saveImageIndex(spark: SparkSession, dir: String,
      indexDir: String): Unit =
    imageBandsOf(load(spark, dir, "documents")
        .filter(!isDelta(col("doc_id"))))
      .write.mode("overwrite").partitionBy("band")
      .parquet(s"$indexDir/bands")

  /** q380 — INCREMENTAL IMAGE DEDUP FROM THE PERSISTED INDEX: the
    * q379 probe with its corpus side READ from [[saveImageIndex]]'s
    * parquet instead of re-decoded — the production ingest shape
    * (corpus fingerprints are paid once per corpus, not once per
    * batch). Verdicts must be byte-identical to q379 (same oracle
    * string — the q285/q331 never-fork pattern), which the gate
    * enforces every round; band files are partition-pruned by the
    * probe's band column. */
  def imageIndexProbe(spark: SparkSession, dir: String,
      indexDir: String): DataFrame =
    deltaVerdicts(spark, dir, imageBandsOf,
      Banding.readHashBands(spark, s"$indexDir/bands", Seq("ahash")), "ahash")

  /** q380's registered form: build the index fresh in a per-CALL temp
    * dir (unique — concurrent calls never race on overwrite; deleted
    * at JVM exit so repeated runs never accumulate tmp parquet — see
    * [[graft.util.Scratch]]), probe from it. */
  def imageIndexProbeFresh(spark: SparkSession, dir: String): DataFrame = {
    val indexDir = graft.util.Scratch.indexDir("graft_img_index", dir)
    saveImageIndex(spark, dir, indexDir)
    imageIndexProbe(spark, dir, indexDir)
  }

  /** Per-media census row (q358). */
  case class MediaCensus(format: String, n_pixels: Long, n_bright: Long,
    real_decode: Boolean)

  /** q358 — PER-FORMAT DECODE CENSUS: decode every generated payload
    * with the real codec stack and roll up, per format, the media
    * count, how many decodes were REAL (codec recognized the bytes —
    * must be all of them), total decoded pixels, and total bright
    * pixels (> 100). Bright pixels have a closed form the oracle
    * recomputes: 64 px/cell × (bit_count(seed) ± the variant flip) —
    * so a codec that silently fell back to the byte-fake, clipped a
    * channel, or mis-sized the raster shows up as an integer
    * mismatch, per format. All-integer aggregates; one partial-agg
    * rollup to O(formats). */
  def decodeCensus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    generatedMedia(spark, dir).mapPartitions { it =>
      it.grouped(DecodeBatch).flatMap(_.map { r =>
        val (px, _, _, real) = decodePixels(r)
        var bright = 0L
        var i = 0
        while (i < px.length) { if (px(i) > 100) bright += 1; i += 1 }
        MediaCensus(r.format, px.length.toLong, bright, real)
      })
    }
      .groupBy(col("format"))
      .agg(count(lit(1)).as("n_media"),
        sum(col("real_decode").cast(LongType)).as("n_real_decode"),
        sum(col("n_pixels")).as("n_pixels_total"),
        sum(col("n_bright")).as("bright_pixels_total"))
      .orderBy(col("format"))
  }

  /** q359 — RESIZE GEOMETRY GATE: resize every generated scene
    * 64×64 → 16×16 through the REAL decode and count bright output
    * pixels per doc. The scenes' 8×8 cells are resize-aligned
    * (nearest-neighbor maps output (x,y) to source (4x,4y), which
    * lands inside cell (x/2, y/2)), so each of the 64 cells is
    * sampled exactly 4 times and the bright count has the closed
    * form 4 × (bit_count(seed) ± the variant flip) — the SAME kd the
    * q358 oracle derives, scaled by pixels-per-cell. Any index-math
    * defect in [[resizeKernel]] (row-major mixup, off-by-one clamp,
    * transposed dims) samples a wrong cell somewhere and breaks a
    * row. Row-granular (one row per doc), all-integer. */
  def resizeCensus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    resize(generatedMedia(spark, dir), 16, 16)
      .map { r =>
        var bright = 0L
        var i = 0
        while (i < r.pixels.length) { if (r.pixels(i) > 100) bright += 1; i += 1 }
        (r.doc_id, r.pixels.length.toLong, bright)
      }
      .toDF("doc_id", "n_pixels", "n_bright")
      .orderBy(col("doc_id"))
  }

  /** A sampled decoded frame (q360). */
  case class ContainerFrameSample(doc_id: Long, frame_idx: Int,
    n_pixels: Long, mean_pixel: Double)

  /** q360 — FRAME-SAMPLING CENSUS over the REAL GIF container: the
    * stride-2 decimation step of a video feature pipeline, run on
    * genuinely multi-frame media — every 2nd frame of each doc's
    * animated GIF is decoded via the ImageReader API
    * ([[decodeAllFrames]]; plain ImageIO.read would silently sample
    * only frame 0) and summarized by pixel count and luminance mean.
    * Until round 13 this query sampled synthetic byte-plane clips;
    * q367 made the container decode real, so the sampler now rides it
    * (r12 verdict item 5). The oracle re-derives each SAMPLED frame's
    * mean from the GIF closed form — q367's per-frame bright-count
    * formula (`kd = bit_count(seed) ± the frame-f flip`) at the even
    * frame indices only: a stride slip emits the wrong row set, a
    * frame-0-only decoder emits too few rows, and a compositing or
    * quantizing codec shifts a mean. mean = 200·64·kd / 4096 — exact
    * integer sum over a power-of-two count, ONE IEEE division in both
    * engines. Decode is partition-batched and narrow; fixed-byte-plane
    * decimation (no container) remains available as [[sampleFrames]].
    */
  def frameSampleCensus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    generatedGifs(spark, dir).mapPartitions { it =>
      it.grouped(DecodeBatch).flatMap(_.flatMap { r =>
        val frames = decodeAllFrames(r.payload)
        (0 until frames.length by 2).map { f =>
          val px = frames(f)
          ContainerFrameSample(r.doc_id, f, px.length.toLong, meanOf(px))
        }
      })
    }.toDF()
      .select(col("doc_id"), col("frame_idx"), col("n_pixels"),
        col("mean_pixel"))
      .orderBy(col("doc_id"), col("frame_idx"))
  }

  /** MIRROR-FEED imagery: a second feed whose artwork is keyed by the
    * article's LEAD (first 160 chars) — the mirror-feed behavior: a
    * re-served near-dup article keeps its lead, so its mirror artwork
    * renders PIXEL-IDENTICAL scenes (aHash distance 0) even though the
    * two docs' bodies differ; unrelated docs get independent seeds
    * (~28-bit distances, never within radius 3). Codecs rotate by
    * doc_id — the two sides of a mirror pair usually carry DIFFERENT
    * encodings of the same pixels, so this feed also gates aHash's
    * re-encode invariance inside an oracle query. */
  def mirrorMedia(spark: SparkSession, dir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    load(spark, dir, "documents").select(
      col("doc_id"),
      phash(expr("substring(text, 1, 160)")).as("seed"),
      expr("CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png' " +
        "WHEN 1 THEN 'bmp' ELSE 'gif' END").as("format"))
      .as[(Long, Long, String)]
      .transform(fanOut(_))
      .mapPartitions { it =>
        it.grouped(DecodeBatch).flatMap(_.map { case (id, seed, fmt) =>
          MediaRecord(id, renderScene(seed, 0, fmt), fmt, 64, 64)
        })
      }
  }

  /** q364 — CROSS-MODAL DUPLICATE AGREEMENT: which duplicate structure
    * is visible to which detector. The text near-dup pair set (q33's
    * exact-Jaccard edges) and the image perceptual near-dup pair set
    * (q357's banded aHash pairs over the generated scenes, UNIONed
    * with the [[mirrorMedia]] feed's pairs) are full-outer joined on
    * the pair key and rolled up into the (in_text, in_image)
    * agreement matrix — the audit a multimodal corpus runs before
    * trusting either detector alone: a feed that re-serves articles
    * VERBATIM with re-rendered imagery lands in text_only;
    * re-encoded/resized imagery under rewritten captions lands in
    * image_only; true mirror feeds land in BOTH. All four cells are
    * oracle-exercised on the gate corpus: the quintet scenes plant
    * image-only structure, the long-range text dups plant text-only
    * structure, and the mirror feed's lead-keyed artwork makes every
    * lead-preserving text dup an image dup too (nonzero both cell).
    * Scale shape: all inputs are slim pair frames, the join is keyed,
    * output is O(4) rows. */
  def crossModalDupMatrix(spark: SparkSession, dir: String): DataFrame =
    dupAgreementMatrix(
      graft.dedup.Dedup.jaccardEdges(spark, dir)
        .select(col("doc_a"), col("doc_b")),
      imageNearDupGenerated(spark, dir).select(col("doc_a"), col("doc_b"))
        .unionByName(imageNearDup(mirrorMedia(spark, dir))
          .select(col("doc_a"), col("doc_b")))
        .distinct())

  /** The matrix core over any two (doc_a, doc_b) pair frames. */
  def dupAgreementMatrix(text: DataFrame, image: DataFrame): DataFrame =
    text.withColumn("in_text", lit(true))
      .join(image.withColumn("in_image", lit(true)),
        Seq("doc_a", "doc_b"), "full_outer")
      .select(coalesce(col("in_text"), lit(false)).as("in_text"),
        coalesce(col("in_image"), lit(false)).as("in_image"))
      .groupBy(col("in_text"), col("in_image"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("in_text"), col("in_image"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q41_multimodal_meta" -> mediaMeta,
    "q357_image_neardup_pairs" -> imageNearDupGenerated,
    "q358_decode_census" -> decodeCensus,
    "q359_resize_census" -> resizeCensus,
    "q360_frame_sample_census" -> frameSampleCensus,
    "q364_crossmodal_dup_matrix" -> crossModalDupMatrix,
    "q367_gif_frame_census" -> gifFrameCensus,
    "q368_image_neardup_wide" -> imageNearDupWide,
    "q372_image_neardup_wide128" -> imageNearDupWide128,
    "q373_banding_audit" -> bandingAudit,
    "q375_image_neardup_quad256" -> imageNearDupQuad256,
    "q376_banding_audit256" -> bandingAudit256,
    "q379_image_incremental_dedup" -> imageIncrementalDedup,
    "q380_image_index_probe" -> imageIndexProbeFresh,
    "q383_clip_near_dup" -> clipNearDup,
    "q387_clip_near_dup_trimmed" -> clipNearDupTrimTolerant)

  /** The oracle's spelling of the scene seed (portable md5 hash of the
    * scene key — [[graft.Tables.phashSql]]). */
  private def seedSqlDuck: String = phashSql("CAST(doc_id // 5 AS VARCHAR)")

  /** q379's closed-form verdict oracle — shared VERBATIM with q380
    * (the persisted-index probe must emit byte-identical verdicts;
    * the q285/q331 never-fork pattern). A delta doc's matches are its
    * scene group's corpus members at the planted distances (1 when
    * either side is the base variant, else 2 — all within the radius-3
    * filter); a delta doc alone in its group (a truncated tail group)
    * gets the clean (0, NULL, NULL) row. */
  private val imageProbeOracle: String =
    """WITH g AS (SELECT doc_id, doc_id // 5 AS grp,
      |            CAST(doc_id % 5 AS INT) AS vr FROM documents),
      |m AS (SELECT d.doc_id AS new_doc, c.doc_id AS match_doc,
      |        CASE WHEN d.vr = 0 OR c.vr = 0 THEN 1 ELSE 2 END AS dist
      |      FROM g d JOIN g c ON d.grp = c.grp AND c.doc_id <> d.doc_id
      |       AND c.doc_id % 10 <> 0
      |      WHERE d.doc_id % 10 = 0),
      |b AS (SELECT new_doc, match_doc, dist,
      |        ROW_NUMBER() OVER (PARTITION BY new_doc
      |          ORDER BY dist, match_doc DESC) AS rn,
      |        COUNT(*) OVER (PARTITION BY new_doc) AS n_matches
      |      FROM m)
      |SELECT d.doc_id AS new_doc,
      |  CAST(COALESCE(b.n_matches, 0) AS BIGINT) AS n_matches,
      |  b.match_doc AS best_match,
      |  CAST(b.dist AS INT) AS best_dist
      |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
      |LEFT JOIN (SELECT * FROM b WHERE rn = 1) b ON d.doc_id = b.new_doc
      |ORDER BY new_doc""".stripMargin

  val oracles: Map[String, String] = Map(
    "q41_multimodal_meta" ->
      s"""SELECT doc_id,
        | 'img/' || source AS format,
        | CAST(OCTET_LENGTH(ENCODE(text)) AS BIGINT) AS n_bytes,
        | ${phashSql("text")} % 640 AS width,
        | (${phashSql("text")} // 640) % 480 AS height,
        | md5(text) AS content_hash
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q357_image_neardup_pairs" ->
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        | CAST(CASE WHEN a.doc_id % 5 = 0 OR b.doc_id % 5 = 0
        |           THEN 1 ELSE 2 END AS INT) AS dist
        |FROM documents a JOIN documents b
        |  ON a.doc_id // 5 = b.doc_id // 5 AND a.doc_id < b.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q358_decode_census" ->
      s"""WITH s AS (
        | SELECT $seedSqlDuck AS seed,
        |        CAST(doc_id % 5 AS INT) AS j,
        |        CASE CAST((doc_id // 5) % 3 AS INT) WHEN 0 THEN 'png'
        |             WHEN 1 THEN 'bmp' ELSE 'gif' END AS format
        | FROM documents),
        |k AS (
        | SELECT format,
        |        bit_count(seed)
        |        + CASE WHEN j = 0 THEN 0
        |               WHEN ((seed >> CAST((seed % 56 + j) % 56 AS INT)) & 1) = 1
        |               THEN -1 ELSE 1 END AS kd
        | FROM s)
        |SELECT format,
        |       CAST(COUNT(*) AS BIGINT) AS n_media,
        |       CAST(COUNT(*) AS BIGINT) AS n_real_decode,
        |       CAST(COUNT(*) * 4096 AS BIGINT) AS n_pixels_total,
        |       CAST(SUM(kd) * 64 AS BIGINT) AS bright_pixels_total
        |FROM k GROUP BY format ORDER BY format""".stripMargin,
    "q359_resize_census" ->
      s"""WITH s AS (
        | SELECT doc_id, $seedSqlDuck AS seed, CAST(doc_id % 5 AS INT) AS j
        | FROM documents)
        |SELECT doc_id,
        |       CAST(256 AS BIGINT) AS n_pixels,
        |       CAST(4 * (bit_count(seed)
        |         + CASE WHEN j = 0 THEN 0
        |                WHEN ((seed >> CAST((seed % 56 + j) % 56 AS INT)) & 1) = 1
        |                THEN -1 ELSE 1 END) AS BIGINT) AS n_bright
        |FROM s ORDER BY doc_id""".stripMargin,
    // q360: q367's per-frame closed form at the even frame indices
    // only — the stride is the thing under test
    "q360_frame_sample_census" ->
      s"""WITH s AS (
        | SELECT doc_id, ${phashSql("CAST(doc_id AS VARCHAR)")} AS seed,
        |        2 + CAST(doc_id % 3 AS INT) AS nf
        | FROM documents),
        |f AS (
        | SELECT doc_id, seed, unnest(range(0, nf, 2)) AS fi FROM s)
        |SELECT doc_id,
        |       CAST(fi AS INT) AS frame_idx,
        |       CAST(4096 AS BIGINT) AS n_pixels,
        |       CAST(200 * 64 * (bit_count(seed)
        |         + CASE WHEN fi = 0 THEN 0
        |                WHEN ((seed >> CAST((seed % 56 + fi) % 56 AS INT)) & 1) = 1
        |                THEN -1 ELSE 1 END) AS DOUBLE) / 4096 AS mean_pixel
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,
    // q367: per-DOC seed; frame f's bright count is q358's kd formula
    // with the frame index as the variant, 64 px per bright cell.
    "q367_gif_frame_census" ->
      s"""WITH s AS (
        | SELECT doc_id, ${phashSql("CAST(doc_id AS VARCHAR)")} AS seed,
        |        2 + CAST(doc_id % 3 AS INT) AS nf
        | FROM documents),
        |f AS (
        | SELECT doc_id, seed, unnest(range(0, nf)) AS fi FROM s)
        |SELECT doc_id,
        |       CAST(fi AS INT) AS frame_idx,
        |       CAST(4096 AS BIGINT) AS n_pixels,
        |       CAST(64 * (bit_count(seed)
        |         + CASE WHEN fi = 0 THEN 0
        |                WHEN ((seed >> CAST((seed % 56 + fi) % 56 AS INT)) & 1) = 1
        |                THEN -1 ELSE 1 END) AS BIGINT) AS n_bright
        |FROM f ORDER BY doc_id, frame_idx""".stripMargin,
    // q368: within-group distance is exactly j_a + j_b by the disjoint
    // wideFlips construction; every group pair is within radius 7.
    "q368_image_neardup_wide" ->
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        | CAST((a.doc_id % 5) + (b.doc_id % 5) AS INT) AS dist
        |FROM documents a JOIN documents b
        |  ON a.doc_id // 5 = b.doc_id // 5 AND a.doc_id < b.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin,
    // q372: the identical planted rule — the texture word is
    // group-constant, so qcHash contributes ZERO distance within a
    // group and the 128-bit distances stay exactly j_a + j_b
    "q372_image_neardup_wide128" ->
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        | CAST((a.doc_id % 5) + (b.doc_id % 5) AS INT) AS dist
        |FROM documents a JOIN documents b
        |  ON a.doc_id // 5 = b.doc_id // 5 AND a.doc_id < b.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin,
    // q373: both hash words recomputed in CLOSED FORM (h1 = seed XOR
    // the wideFlips mask — offsets 1+j(j-1)/2..j(j-1)/2+j from the
    // seed anchor, all distinct mod 56, so the OR of the flip bits is
    // their SUM; h2 = the texture word verbatim), then bucket
    // occupancies per band family and Σ m(m−1)/2 — candidate counts
    // without ever forming a pair
    "q373_banding_audit" ->
      s"""WITH s AS (
        | SELECT doc_id, $seedSqlDuck AS seed,
        |        ${phashSql("'T' || CAST(doc_id // 5 AS VARCHAR)")} AS t1,
        |        ${phashSql("'U' || CAST(doc_id // 5 AS VARCHAR)")} AS t2,
        |        CAST(doc_id % 5 AS INT) AS j
        | FROM documents),
        |h AS (
        | SELECT doc_id,
        |        xor(seed, COALESCE(list_sum(list_transform(range(0, j),
        |          t -> (1::BIGINT << CAST((seed % 56 + 1 + (j*(j-1))//2 + t) % 56 AS INT)))),
        |          0)) AS h1,
        |        t1 | ((t2 & 127) << 56) AS h2
        | FROM s),
        |b AS (
        | SELECT 'ahash64_8x8' AS family, bb.band AS band,
        |        (h1 >> (8 * bb.band)) & 255 AS bkey
        | FROM h, (SELECT unnest(range(0, 8)) AS band) bb
        | UNION ALL
        | SELECT 'paired128_8x16' AS family, bb.band AS band,
        |        ((h1 >> (8 * bb.band)) & 255)
        |          | (((h2 >> (8 * bb.band)) & 255) << 8) AS bkey
        | FROM h, (SELECT unnest(range(0, 8)) AS band) bb),
        |m AS (SELECT family, band, bkey, COUNT(*) AS m
        |      FROM b GROUP BY 1, 2, 3)
        |SELECT family, CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |  CAST(SUM(m * (m - 1) // 2) AS BIGINT) AS n_candidates
        |FROM m GROUP BY family ORDER BY family""".stripMargin,
    // q375: the identical planted rule again — all three texture
    // planes are group-constant, so h2–h4 contribute ZERO distance
    // within a group and the 256-bit distances stay exactly j_a + j_b
    "q375_image_neardup_quad256" ->
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        | CAST((a.doc_id % 5) + (b.doc_id % 5) AS INT) AS dist
        |FROM documents a JOIN documents b
        |  ON a.doc_id // 5 = b.doc_id // 5 AND a.doc_id < b.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin,
    // q376: all four hash words in CLOSED FORM (h1 = seed XOR the
    // wideFlips sum, as q373; h2–h4 = the three texture words
    // verbatim), three band families, occupancies, Σ m(m−1)/2
    "q376_banding_audit256" ->
      s"""WITH s AS (
        | SELECT doc_id, $seedSqlDuck AS seed,
        |        ${phashSql("'Q0L' || CAST(doc_id // 5 AS VARCHAR)")}
        |          | ((${phashSql("'Q0H' || CAST(doc_id // 5 AS VARCHAR)")} & 127) << 56) AS t0,
        |        ${phashSql("'Q1L' || CAST(doc_id // 5 AS VARCHAR)")}
        |          | ((${phashSql("'Q1H' || CAST(doc_id // 5 AS VARCHAR)")} & 127) << 56) AS t1,
        |        ${phashSql("'Q2L' || CAST(doc_id // 5 AS VARCHAR)")}
        |          | ((${phashSql("'Q2H' || CAST(doc_id // 5 AS VARCHAR)")} & 127) << 56) AS t2,
        |        CAST(doc_id % 5 AS INT) AS j
        | FROM documents),
        |h AS (
        | SELECT doc_id,
        |        xor(seed, COALESCE(list_sum(list_transform(range(0, j),
        |          t -> (1::BIGINT << CAST((seed % 56 + 1 + (j*(j-1))//2 + t) % 56 AS INT)))),
        |          0)) AS h1,
        |        t0, t1, t2
        | FROM s),
        |b AS (
        | SELECT doc_id // 5 AS grp, 'ahash64_8x8' AS family,
        |        bb.band AS band,
        |        (h1 >> (8 * bb.band)) & 255 AS bkey
        | FROM h, (SELECT unnest(range(0, 8)) AS band) bb
        | UNION ALL
        | SELECT doc_id // 5 AS grp, 'paired128_8x16' AS family,
        |        bb.band AS band,
        |        ((h1 >> (8 * bb.band)) & 255)
        |          | (((t0 >> (8 * bb.band)) & 255) << 8) AS bkey
        | FROM h, (SELECT unnest(range(0, 8)) AS band) bb
        | UNION ALL
        | SELECT doc_id // 5 AS grp, 'quad256_8x32' AS family,
        |        bb.band AS band,
        |        ((h1 >> (8 * bb.band)) & 255)
        |          | (((t0 >> (8 * bb.band)) & 255) << 8)
        |          | (((t1 >> (8 * bb.band)) & 255) << 16)
        |          | (((t2 >> (8 * bb.band)) & 255) << 24) AS bkey
        | FROM h, (SELECT unnest(range(0, 8)) AS band) bb),
        |m AS (SELECT family, band, bkey, grp, COUNT(*) AS c
        |      FROM b GROUP BY 1, 2, 3, 4),
        |k AS (SELECT family, band, bkey, SUM(c) AS m,
        |        SUM(c * (c - 1) // 2) AS pl
        |      FROM m GROUP BY 1, 2, 3)
        |SELECT family, CAST(COUNT(*) AS BIGINT) AS n_buckets,
        |  CAST(SUM(m * (m - 1) // 2) AS BIGINT) AS n_candidates,
        |  CAST(SUM(pl) AS BIGINT) AS n_planted,
        |  CAST(SUM(m * (m - 1) // 2) - SUM(pl) AS BIGINT) AS n_noise,
        |  (SUM(m * (m - 1) // 2) - SUM(pl)) * 2 > SUM(m * (m - 1) // 2)
        |    AS noise_flagged
        |FROM k GROUP BY family ORDER BY family""".stripMargin,
    "q379_image_incremental_dedup" -> imageProbeOracle,
    "q380_image_index_probe" -> imageProbeOracle,
    // q364: text pairs re-derived by the q33 oracle CTE; image pairs by
    // the q357 scene-group rule UNION the mirror feed's shared-lead
    // rule; the matrix is their full-outer rollup.
    "q364_crossmodal_dup_matrix" ->
      s"""WITH ${graft.dedup.Dedup.jaccardCommonCte},
        |tp AS (SELECT doc_a, doc_b FROM common
        |       WHERE CAST(c AS DOUBLE) / (na + nb - c) >= 0.5),
        |ip AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |       FROM documents a JOIN documents b
        |         ON a.doc_id // 5 = b.doc_id // 5 AND a.doc_id < b.doc_id
        |       UNION
        |       SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        |       FROM documents a JOIN documents b
        |         ON substring(a.text, 1, 160) = substring(b.text, 1, 160)
        |        AND a.doc_id < b.doc_id),
        |u AS (SELECT tp.doc_a IS NOT NULL AS in_text,
        |             ip.doc_a IS NOT NULL AS in_image
        |      FROM tp FULL OUTER JOIN ip
        |        ON tp.doc_a = ip.doc_a AND tp.doc_b = ip.doc_b)
        |SELECT in_text, in_image, CAST(COUNT(*) AS BIGINT) AS n_pairs
        |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q383: clip near-dup pairs are exactly the re-encode groups
    // (doc_id div 4); clip distance is the planted per-frame distance
    // (1 with the base, 2 between re-encodes) summed over the group's
    // n_frames = 2 + (group % 3) aligned frames.
    "q383_clip_near_dup" ->
      """WITH d AS (SELECT doc_id, doc_id // 4 AS g,
        |                  CAST(doc_id % 4 AS INT) AS v
        |           FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |       CAST((2 + CAST(a.g % 3 AS INT)) *
        |         (CASE WHEN a.v = 0 OR b.v = 0 THEN 1 ELSE 2 END)
        |         AS BIGINT) AS clip_dist
        |FROM d a JOIN d b ON a.g = b.g AND a.doc_id < b.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin,
    // q387: every same-group pair matches at offset trim_a - trim_b
    // (trim = variant mod 3) over the overlap window
    // n - max(trim_a, trim_b), with the planted per-frame distance
    // (1 with the base, 2 between re-encodes) summed over it
    "q387_clip_near_dup_trimmed" ->
      """WITH c AS (SELECT doc_id, doc_id // 4 AS g,
        |             CAST(doc_id % 4 AS INT) AS v,
        |             CAST((doc_id % 4) % 3 AS INT) AS tr,
        |             CAST(4 + (doc_id // 4) % 3 AS INT) AS n
        |           FROM documents)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(a.tr - b.tr AS INT) AS best_offset,
        |  CAST((a.n - GREATEST(a.tr, b.tr)) *
        |    (CASE WHEN a.v = 0 OR b.v = 0 THEN 1 ELSE 2 END)
        |    AS BIGINT) AS clip_dist
        |FROM c a JOIN c b ON a.g = b.g AND a.doc_id < b.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin)
}
