package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._
import graft.functions.Banding

/** Audio-column plumbing for training-data pipelines (north-star
  * extension; completes the multimodal story next to the image path in
  * [[Multimodal]]): audio payloads travel as opaque `binary` WAV
  * containers, and decode is REAL — `javax.sound.sampled` ships a
  * RIFF/WAVE codec inside every JDK, so [[decodeAudio]] turns actual
  * WAV bytes into actual PCM samples (true sample rate, channel count,
  * signed 16-bit little-endian frames) with no external dependency.
  * Payloads no installed reader recognizes fall back to a `None` the
  * census surfaces as `real_decode = false` — a silently broken codec
  * path fails the DuckDB gate instead of hiding.
  *
  * The gated corpus is generated executor-side from each row's own
  * doc_id (nothing ships from the driver) with a closed form both
  * engines evaluate — the audio twin of [[Multimodal.sceneSpecs]]:
  *
  *   - docs group in FOURS (`gid = doc_id div 4`); the group's 56-bit
  *     seed is `phash(gid)` (md5-portable, [[graft.Tables.phash]]);
  *   - a clip is 64 windows x 12 samples = 768 samples at 8 kHz mono
  *     16-bit: window 0 is always ACTIVE (amplitude 5000), windows
  *     1..56 carry the seed's bits (set -> 5000, clear -> 0), windows
  *     57..63 are always SILENT — so the active-window count is
  *     always in [1, 58] and every thresholding step below has slack
  *     on both sides;
  *   - variant j in 1..3 flips window `1 + (seed mod 56 + j) mod 56`
  *     between silent<->active (the image-scene flip, same spelling);
  *   - sample i carries `+A` on even i, `-A` on odd i (A = the
  *     window's amplitude), so a byte-order or sign-extension defect
  *     in either codec direction corrupts `sum_abs`/`n_pos` and
  *     hash-mismatches the oracle.
  *
  * Scale notes: identical to the image path — payloads never cross a
  * shuffle (generation, decode, and per-window reduction are one
  * narrow pipeline); the near-dup join is banded so the quadratic
  * pair space is never materialized; at 100 TB the only wide exchange
  * is over (band, key) fingerprint rows, ~16 bytes each.
  */
object Audio {

  /** An audio row: opaque WAV payload + typed metadata. */
  case class AudioRecord(doc_id: Long, payload: Array[Byte], format: String)

  /** A decoded clip: true container-level facts + PCM samples. */
  case class DecodedAudio(sampleRate: Int, channels: Int,
    samples: Array[Int])

  /** Clip geometry (shared by generator, queries, and oracles). */
  val Windows = 64
  val WindowSamples = 12
  val ClipSamples: Int = Windows * WindowSamples // 768
  val SampleRate = 8000
  val Amp = 5000
  private val SeedWindows = 56 // windows 1..56 carry seed bits 0..55

  // (No JVM setup needed here: javax.sound.sampled's file codecs are
  // stream-based and never consult java.awt.headless — that property
  // is an ImageIO/AWT concern, set in Multimodal.imageIoReady.)

  /** The WAV codec providers, resolved ONCE per JVM through the public
    * SPI (ServiceLoader over javax.sound.sampled.spi) instead of the
    * `AudioSystem` facade. AudioSystem.getAudioInputStream/write walk
    * the provider registry under a global lock ON EVERY CALL — on this
    * host that is 52 µs/clip single-threaded and scales NEGATIVELY
    * past ~4 threads (50 k clips: 2.6 s on 1 thread, 3.2 s spread over
    * 32 — the contention measurement behind the old "audio doesn't
    * fan" decision, SCALE.md §17). The cached providers are 13 µs/clip
    * and scale linearly (the same 50 k clips: 50 ms on 32 threads), so
    * the codec stage parallelizes like every other decode path.
    * Stateless per the SPI contract, so one instance serves all tasks;
    * empty Option falls back to the facade (portability on JDKs with
    * no discoverable WAV provider). */
  private lazy val wavWriter: Option[javax.sound.sampled.spi.AudioFileWriter] = {
    val it = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileWriter]).iterator()
    var found: Option[javax.sound.sampled.spi.AudioFileWriter] = None
    while (found.isEmpty && it.hasNext) {
      val w = it.next()
      if (w.getAudioFileTypes.contains(
          javax.sound.sampled.AudioFileFormat.Type.WAVE)) found = Some(w)
    }
    found
  }

  private lazy val wavReader: Option[javax.sound.sampled.spi.AudioFileReader] = {
    // probe with a real smoke clip: the right reader is the one that
    // accepts our own writer's output
    val smoke = encodeWav(new Array[Int](WindowSamples))
    val it = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
    var found: Option[javax.sound.sampled.spi.AudioFileReader] = None
    while (found.isEmpty && it.hasNext) {
      val r = it.next()
      try {
        r.getAudioInputStream(new java.io.ByteArrayInputStream(smoke)).close()
        found = Some(r)
      } catch { case scala.util.control.NonFatal(_) => () }
    }
    found
  }

  /** Open a payload as an audio stream: the cached WAV reader first
    * (the hot path), the AudioSystem facade as the rare second chance
    * for non-WAV containers some other installed provider handles —
    * behavior-identical to the facade-only path, minus its lock. */
  private def openAudioStream(payload: Array[Byte]): javax.sound.sampled.AudioInputStream =
    wavReader match {
      case Some(r) =>
        try r.getAudioInputStream(new java.io.ByteArrayInputStream(payload))
        catch {
          case _: javax.sound.sampled.UnsupportedAudioFileException =>
            javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(payload))
        }
      case None =>
        javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
    }

  /** REAL WAV encode via the JDK codec: PCM signed 16-bit mono
    * little-endian samples -> a RIFF/WAVE container byte array. */
  def encodeWav(samples: Array[Int], sampleRate: Int = SampleRate): Array[Byte] = {
    val pcm = new Array[Byte](samples.length * 2)
    var i = 0
    while (i < samples.length) {
      val s = samples(i)
      pcm(2 * i) = (s & 0xff).toByte
      pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      sampleRate.toFloat, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, samples.length.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    wavWriter match {
      case Some(w) =>
        w.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, bos): Unit
      case None =>
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos): Unit
    }
    bos.toByteArray
  }

  /** REAL WAV decode via the JDK codec. Returns None for payloads the
    * reader does not recognize (the pipeline-stays-total contract —
    * same shape as [[Multimodal.decodeImage]]). Handles 16-bit PCM at
    * either endianness and any channel count (channels interleave;
    * samples are returned frame-major). */
  def decodeAudio(payload: Array[Byte]): Option[DecodedAudio] = {
    try {
      val ais = openAudioStream(payload)
      val fmt = ais.getFormat
      if (fmt.getSampleSizeInBits != 16) return None
      val bytes = ais.readAllBytes()
      ais.close()
      val n = bytes.length / 2
      val out = new Array[Int](n)
      val big = fmt.isBigEndian
      var i = 0
      while (i < n) {
        val lo = bytes(2 * i) & 0xff
        val hi = bytes(2 * i + 1) & 0xff
        out(i) = if (big) (lo << 8 | hi) << 16 >> 16 else (hi << 8 | lo) << 16 >> 16
        i += 1
      }
      Some(DecodedAudio(fmt.getSampleRate.round, fmt.getChannels, out))
    } catch {
      // UnsupportedAudioFileException on foreign bytes; RuntimeExceptions
      // on magic-number matches with corrupt bodies — one bad row must
      // fall back, not kill the task.
      case scala.util.control.NonFatal(_) => None
    }
  }

  /** Per-window amplitudes for a clip spec (the closed form). */
  def windowAmps(seed: Long, variant: Int): Array[Int] = {
    val amps = new Array[Int](Windows)
    amps(0) = Amp
    var w = 1
    while (w <= SeedWindows) {
      amps(w) = if (((seed >> (w - 1)) & 1L) == 1L) Amp else 0
      w += 1
    }
    if (variant > 0) {
      val wj = 1 + ((seed % SeedWindows).toInt + variant) % SeedWindows
      amps(wj) = Amp - amps(wj)
    }
    amps
  }

  /** Render the spec's samples: `+A` on even global index, `-A` on odd. */
  def renderClip(seed: Long, variant: Int): Array[Int] = {
    val amps = windowAmps(seed, variant)
    val s = new Array[Int](ClipSamples)
    var i = 0
    while (i < ClipSamples) {
      val a = amps(i / WindowSamples)
      s(i) = if (i % 2 == 0) a else -a
      i += 1
    }
    s
  }

  /** Clip spec per document row — all fields md5-portable so the
    * DuckDB oracle re-derives the pipeline's expected output. */
  case class ClipSpec(doc_id: Long, seed: Long, variant: Int)

  def clipSpecs(spark: SparkSession, dir: String): Dataset[ClipSpec] =
    clipSpecsOf(load(spark, dir, "documents"))

  /** Clip specs of an ARBITRARY doc-id frame — the audio twin of
    * [[Multimodal.sceneSpecsOf]], for the incremental ingest path. */
  def clipSpecsOf(ids: DataFrame): Dataset[ClipSpec] = {
    import ids.sparkSession.implicits._
    ids.select(
      col("doc_id"),
      phash(expr("cast(doc_id div 4 as string)")).as("seed"),
      (col("doc_id") % 4).cast(IntegerType).as("variant"))
      .as[ClipSpec]
  }

  /** The generated audio table: REAL WAV bytes, one render + encode per
    * row, produced executor-side from the row's own spec.
    *
    * FANNED OUT since round 13. The r11/r12 "audio doesn't fan"
    * decision (0.33 → 0.67 s at sf0.1) was measuring AudioSystem's
    * global registry lock, not the shuffle: with the codec facade's
    * contention removed (see [[wavReader]]), the general rule applies —
    * fan when per-row codec cost × rows on the widest partition
    * exceeds the slim-spec shuffle (~0.2 s fixed + ~2 µs/row), which
    * a ~30 µs/clip encode+decode chain crosses by ~20 k clips on one
    * split — and the A/B at heaps1 (50 k clips) measures fan+SPI at
    * 2.1/2.4/1.7 s vs 8.5/9.0/8.2 s for the r12 no-fan facade path
    * (SCALE.md §17). */
  def generatedAudio(spark: SparkSession, dir: String): Dataset[AudioRecord] =
    generatedAudioOf(load(spark, dir, "documents"))

  /** [[generatedAudio]] over an arbitrary doc-id frame. */
  def generatedAudioOf(ids: DataFrame): Dataset[AudioRecord] = {
    import ids.sparkSession.implicits._
    Multimodal.fanOut(clipSpecsOf(ids)).mapPartitions { it =>
      it.grouped(Multimodal.DecodeBatch).flatMap(_.map { s =>
        AudioRecord(s.doc_id, encodeWav(renderClip(s.seed, s.variant)), "wav")
      })
    }
  }

  /** Per-window absolute-sum energies of a decoded clip (clips whose
    * length is not the gated geometry still reduce — short tail
    * windows keep their partial sum). */
  def windowEnergies(samples: Array[Int]): Array[Long] = {
    val n = (samples.length + WindowSamples - 1) / WindowSamples
    val e = new Array[Long](n)
    var i = 0
    while (i < samples.length) {
      e(i / WindowSamples) += math.abs(samples(i).toLong)
      i += 1
    }
    e
  }

  /** Census row (q361). */
  case class AudioCensus(doc_id: Long, n_samples: Long,
    sample_rate: Int, sum_abs: Long, n_pos: Long, real_decode: Boolean)

  /** q361 — AUDIO DECODE CENSUS: run the full REAL encode->decode WAV
    * round trip per document and emit all-integer per-doc facts the
    * oracle recomputes from the clip formula: sample count, container
    * sample rate, total absolute amplitude (`60000 x active-window
    * count`), positive-sample count (`6 x active-window count` — the
    * even-index halves of active windows), and the real-decode flag
    * (oracle says TRUE: a codec fallback anywhere fails the gate).
    * Narrow pipeline — generation, decode, and reduction never leave
    * the partition; output is one row per doc. */
  def audioDecodeCensus(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    generatedAudio(spark, dir).mapPartitions { it =>
      it.grouped(Multimodal.DecodeBatch).flatMap(_.map { r =>
        decodeAudio(r.payload) match {
          case Some(d) =>
            var sumAbs = 0L
            var nPos = 0L
            var i = 0
            while (i < d.samples.length) {
              val s = d.samples(i)
              if (s > 0) nPos += 1
              sumAbs += math.abs(s.toLong)
              i += 1
            }
            AudioCensus(r.doc_id, d.samples.length.toLong, d.sampleRate,
              sumAbs, nPos, real_decode = true)
          case None =>
            AudioCensus(r.doc_id, 0L, 0, 0L, 0L, real_decode = false)
        }
      })
    }.toDF().orderBy(col("doc_id"))
  }

  /** 64-bit acoustic fingerprint: bit w set iff window w's mean
    * absolute amplitude exceeds the clip's global mean absolute
    * amplitude — the audio aHash. All-integer compare (cross-multiplied
    * to avoid a float mean), so the fingerprint is bit-stable across
    * JVMs. Re-encodes of the same samples fingerprint identically;
    * flipping one window flips exactly one bit (window means sit at 0
    * or Amp, the global mean strictly between — the generator
    * guarantees 1..58 of 64 windows active). */
  def audioFingerprint(samples: Array[Int]): Long = {
    val e = windowEnergies(samples)
    var total = 0L
    var w = 0
    while (w < e.length) { total += e(w); w += 1 }
    var bits = 0L
    val n = samples.length.toLong
    w = 0
    while (w < e.length && w < 64) {
      // mean_w > mean_global  <=>  e(w)/WindowSamples > total/n
      if (e(w) * n > total * WindowSamples) bits |= (1L << w)
      w += 1
    }
    bits
  }

  case class AudioFp(doc_id: Long, fp: Long)

  /** (doc_id, fp, band, bkey) rows for the decoded corpus — the banded
    * acoustic fingerprints shared by the self-join detector (q362) and
    * the incremental probe (q381). Undecodable clips are dropped
    * before banding (see [[audioNearDup]]'s note). */
  private def fpBands(spark: SparkSession, dir: String,
      keep: org.apache.spark.sql.Column = lit(true)): DataFrame =
    audioBandsOf(load(spark, dir, "documents").filter(keep))

  /** Banded acoustic-fingerprint rows of an arbitrary doc-id frame —
    * the probe-side handle the incremental ingest writer composes
    * (the gated q362/q381 machinery end to end). */
  private[graft] def audioBandsOf(ids: DataFrame): DataFrame =
    Banding.banded(fpOf(generatedAudioOf(ids)).toDF(),
      Banding.multiBands(Seq(col("fp")), 4, 16))

  /** The decode→fingerprint kernel over an arbitrary clip Dataset —
    * factored so the STREAMING detector (q386) can run the identical
    * stateless typed map per micro-batch (the [[Multimodal.aHash]]
    * pattern): payload bytes never outlive the map; only (doc_id, fp)
    * survives. Undecodable clips drop (see [[audioNearDup]]'s note). */
  private[graft] def fpOf(ds: Dataset[AudioRecord]): Dataset[AudioFp] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      it.grouped(Multimodal.DecodeBatch).flatMap(_.flatMap { r =>
        decodeAudio(r.payload).map(d =>
          AudioFp(r.doc_id, audioFingerprint(d.samples)))
      })
    }
  }

  /** q362 — ACOUSTIC NEAR-DUP over real encoded audio: the full
    * pipeline (render -> real WAV encode -> real decode -> windowed
    * fingerprint -> pigeonhole-banded pair join) gated by a
    * closed-form oracle. Docs in the same 4-doc group are planted at
    * Hamming distance 1 (base<->variant) or 2 (variant<->variant);
    * cross-group fingerprints differ in ~28 of 56 independent bits
    * and can never pass the <=3 filter (P[<=3 of 56] ~ 4e-13 per
    * pair). Banding is [[Multimodal.imageNearDup]]'s 4 x 16-bit split
    * — LOSSLESS for distance <= 3 by pigeonhole — so the quadratic
    * pair space is never materialized; the only shuffle carries
    * (band, key, fp) rows.
    *
    * Undecodable clips are EXCLUDED before banding (flatMap drops
    * them): an empty sample array fingerprints to 0L, so two broken
    * payloads would otherwise collide at Hamming distance 0 and emit
    * a false duplicate edge. Decode failures are the census's
    * (q361 `real_decode = false`) quarantine surface, not pair
    * candidates — on the gate corpus every clip decodes, so the
    * exclusion is a no-op the oracle already prices. */
  def audioNearDup(spark: SparkSession, dir: String, maxDist: Int = 3): DataFrame =
    Banding.hammingPairs(fpBands(spark, dir), Seq("fp"), 4, maxDist)
      .orderBy(col("doc_a"), col("doc_b"))

  /** q381 — INCREMENTAL AUDIO DEDUP PROBE: q379's ingest shape on the
    * acoustic fingerprint — a new batch's clips (the shared delta
    * rule, doc_id % 10 == 0) probed against the already-ingested
    * corpus, never self-joined. Both sides run the REAL WAV
    * encode→decode→fingerprint pipeline (q362's); the verdict tail is
    * [[Multimodal.bandProbeVerdict]] (band equi-join →
    * Hamming ≤ 3 → per-delta-doc verdict). Distinct from the image
    * twin in a way the oracle exploits: audio groups by doc div 4, so
    * a delta doc is the group BASE (doc ≡ 0 mod 20) or VARIANT 2
    * (doc ≡ 10 mod 20) — the probe must report best distance 1 in
    * both cases (variant 2's nearest is its base) but match mixes
    * {1,1,1} vs {1,2,2}, which a banding or fingerprint defect skews.
    *
    * Scale shape: identical to q379 — corpus prunes to colliding band
    * keys, 16-byte band rows are the only shuffle, and at 100 TB the
    * corpus side persists like [[Multimodal.saveImageIndex]]. */
  def audioIncrementalDedup(spark: SparkSession, dir: String): DataFrame =
    Multimodal.deltaVerdicts(spark, dir, audioBandsOf,
      fpBands(spark, dir, !isDelta(col("doc_id"))), "fp")

  /** Persist the corpus side of the q381 probe as an on-disk index —
    * [[Multimodal.saveImageIndex]]'s lifecycle on the acoustic
    * fingerprint: banded (doc_id, fp, bkey) rows partitioned by band,
    * so a probe prunes to its band's files and the corpus
    * encode→decode→fingerprint cost is paid once per corpus. */
  def saveAudioIndex(spark: SparkSession, dir: String,
      indexDir: String): Unit =
    fpBands(spark, dir, !isDelta(col("doc_id")))
      .write.mode("overwrite").partitionBy("band")
      .parquet(s"$indexDir/bands")

  /** q382 — INCREMENTAL AUDIO DEDUP FROM THE PERSISTED INDEX: q381
    * with its corpus side READ from [[saveAudioIndex]]'s parquet —
    * verdicts byte-identical to q381 (same oracle string, the
    * q285/q331/q380 never-fork pattern). Completes the persisted-index
    * story across all three ingest columns: text (q331), image (q380),
    * audio (q382). */
  def audioIndexProbe(spark: SparkSession, dir: String,
      indexDir: String): DataFrame =
    Multimodal.deltaVerdicts(spark, dir, audioBandsOf,
      Banding.readHashBands(spark, s"$indexDir/bands", Seq("fp")), "fp")

  /** q382's registered form: per-CALL temp index (unique, deleted at
    * JVM exit — [[graft.util.Scratch]]), build then probe. */
  def audioIndexProbeFresh(spark: SparkSession, dir: String): DataFrame = {
    val indexDir = graft.util.Scratch.indexDir("graft_aud_index", dir)
    saveAudioIndex(spark, dir, indexDir)
    audioIndexProbe(spark, dir, indexDir)
  }

  /** Silence-segmentation row (q363). */
  case class SilenceRuns(doc_id: Long, n_windows: Int,
    n_silent: Long, n_active_runs: Int, longest_active_run: Int)

  /** q363 — VOICE-ACTIVITY SEGMENTATION (silence trimming's analysis
    * half): decode each clip, mark each window silent iff its absolute
    * energy is zero, and emit per doc the silent-window count plus the
    * RUN STRUCTURE of the active windows — how many maximal active
    * runs and the longest one. Run-length logic is the genuinely new
    * kernel here (the census sums are order-blind; runs are not), and
    * the oracle re-derives it by building the 64-char window bitmap
    * string from the seed formula and splitting on '0'. An
    * off-by-one at either clip edge, a window mis-assignment, or a
    * flip at the wrong index all reorder some group's bitmap and
    * break a row. */
  def audioSilenceRuns(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    generatedAudio(spark, dir).mapPartitions { it =>
      it.grouped(Multimodal.DecodeBatch).flatMap(_.map { r =>
        val samples = decodeAudio(r.payload).map(_.samples).getOrElse(Array.empty)
        val e = windowEnergies(samples)
        var silent = 0L
        var runs = 0
        var longest = 0
        var cur = 0
        var w = 0
        while (w < e.length) {
          if (e(w) == 0L) { silent += 1; cur = 0 }
          else {
            if (cur == 0) runs += 1
            cur += 1
            if (cur > longest) longest = cur
          }
          w += 1
        }
        SilenceRuns(r.doc_id, e.length, silent, runs, longest)
      })
    }.toDF().orderBy(col("doc_id"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q361_audio_decode_census" -> audioDecodeCensus,
    "q362_audio_neardup_pairs" -> ((s, d) => audioNearDup(s, d)),
    "q363_audio_silence_runs" -> audioSilenceRuns,
    "q381_audio_incremental_dedup" -> audioIncrementalDedup,
    "q382_audio_index_probe" -> audioIndexProbeFresh)

  /** The oracle's spelling of the 4-doc group seed. */
  private def seedSqlDuck: String = phashSql("CAST(doc_id // 4 AS VARCHAR)")

  /** Shared oracle fragment: active-window count kb = 1 (window 0)
    * + bit_count(seed) +- the variant flip. */
  private def kbSql: String =
    s"""1 + bit_count(seed)
       | + CASE WHEN j = 0 THEN 0
       |        WHEN ((seed >> CAST((seed % 56 + j) % 56 AS INT)) & 1) = 1
       |        THEN -1 ELSE 1 END""".stripMargin

  val oracles: Map[String, String] = Map(
    "q361_audio_decode_census" ->
      s"""WITH s AS (
        | SELECT doc_id, $seedSqlDuck AS seed, CAST(doc_id % 4 AS INT) AS j
        | FROM documents),
        |k AS (SELECT doc_id, $kbSql AS kb FROM s)
        |SELECT doc_id,
        |       CAST(768 AS BIGINT) AS n_samples,
        |       CAST(8000 AS INT) AS sample_rate,
        |       CAST(kb * 60000 AS BIGINT) AS sum_abs,
        |       CAST(kb * 6 AS BIGINT) AS n_pos,
        |       TRUE AS real_decode
        |FROM k ORDER BY doc_id""".stripMargin,
    "q362_audio_neardup_pairs" ->
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        | CAST(CASE WHEN a.doc_id % 4 = 0 OR b.doc_id % 4 = 0
        |           THEN 1 ELSE 2 END AS INT) AS dist
        |FROM documents a JOIN documents b
        |  ON a.doc_id // 4 = b.doc_id // 4 AND a.doc_id < b.doc_id
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q363_audio_silence_runs" ->
      s"""WITH s AS (
        | SELECT doc_id, $seedSqlDuck AS seed, CAST(doc_id % 4 AS INT) AS j
        | FROM documents),
        |b AS (
        | SELECT doc_id,
        |   array_to_string(list_transform(range(0, 64), w -> CASE
        |     WHEN w = 0 THEN '1'
        |     WHEN w > 56 THEN '0'
        |     WHEN ((seed >> CAST(w - 1 AS INT)) & 1)
        |          + CASE WHEN j > 0 AND w - 1 = (seed % 56 + j) % 56
        |                 THEN 1 ELSE 0 END = 1
        |     THEN '1' ELSE '0' END), '') AS bits
        | FROM s),
        |r AS (
        | SELECT doc_id,
        |        list_filter(list_transform(string_split(bits, '0'),
        |                                   x -> length(x)),
        |                    n -> n > 0) AS runs,
        |        length(bits) - length(replace(bits, '0', '')) AS n_sil
        | FROM b)
        |SELECT doc_id,
        |       CAST(64 AS INT) AS n_windows,
        |       CAST(n_sil AS BIGINT) AS n_silent,
        |       CAST(len(runs) AS INT) AS n_active_runs,
        |       CAST(CASE WHEN len(runs) = 0 THEN 0
        |                 ELSE list_max(runs) END AS INT) AS longest_active_run
        |FROM r ORDER BY doc_id""".stripMargin,
    // q381/q382: the image probe's closed form on the 4-doc clip
    // groups — a delta doc's matches are its group's corpus members at
    // planted distance 1 (either side the base) or 2 (variant-variant);
    // the persisted-index form must emit byte-identical verdicts
    "q381_audio_incremental_dedup" -> audioProbeOracle,
    "q382_audio_index_probe" -> audioProbeOracle)

  private lazy val audioProbeOracle: String =
      """WITH g AS (SELECT doc_id, doc_id // 4 AS grp,
        |            CAST(doc_id % 4 AS INT) AS vr FROM documents),
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
}
