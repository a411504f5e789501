package graft

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.ops.Pipeline
import graft.TempDirs.withTempDirs

/** End-to-end corpus-build specs: the operator COMPOSITION contracts
  * that no single-query oracle covers — survivor accounting across
  * stages, exclusion guarantees, and rerun determinism of the written
  * artifact. */
class PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = GraftSession.test()
  private val sf = "/root/testdata/sf0.001"
  // per-run dirs: a fixed path could serve a STALE artifact from a
  // previous run to tests that don't force the build; cleaned afterAll
  private val out =
    java.nio.file.Files.createTempDirectory("graft_corpus_build").toString
  private val out2 =
    java.nio.file.Files.createTempDirectory("graft_corpus_rerun").toString

  override def afterAll(): Unit = {
    def rm(f: java.io.File): Unit = {
      val kids = f.listFiles(); if (kids != null) kids.foreach(rm)
      f.delete(): Unit
    }
    rm(new java.io.File(out)); rm(new java.io.File(out2))
  }

  private lazy val summary = Pipeline.prepareCorpus(spark, sf, out).collect()
  // force the build before any read — every test depends on summary
  private lazy val corpus = { summary; spark.read.parquet(out) }

  test("build emits all three splits with the 8/1/1 hash rule") {
    assert(summary.map(_.getString(0)).toSeq.sorted === Seq("test", "train", "val"))
    val n = summary.map(_.getLong(1)).sum
    assert(n > 0)
    // every written doc is in exactly the split its hash dictates —
    // recompute the rule over the artifact
    val wrong = corpus.withColumn("eb",
        Tables.phash(col("doc_id").cast("string")) % 10)
      .filter(
        (col("eb") < 8 && col("split") =!= "train") ||
        (col("eb") === 8 && col("split") =!= "val") ||
        (col("eb") === 9 && col("split") =!= "test"))
    assert(wrong.count() === 0L)
  }

  test("no bench-slice or contaminated doc survives the build") {
    assert(corpus.filter(col("doc_id") % 20 === 0).count() === 0L)
    val contaminated = Pipeline.decontaminate(spark, sf).select(col("doc_id"))
    assert(corpus.join(contaminated, Seq("doc_id"), "left_semi").count() === 0L)
  }

  test("survivors are exact-duplicate-free") {
    val dupGroups = corpus
      .select(col("doc_id"), graft.dedup.Dedup.contentKey(col("text")).as("k"))
      .groupBy(col("k")).count().filter(col("count") > 1)
    assert(dupGroups.count() === 0L)
  }

  test("the survivor set equals the independently modeled stage chain") {
    // independent model of the build's stage order: eligibility gates
    // (not bench, not contaminated, >= 10 tokens), THEN exact dedup by
    // the shared content key, THEN per-text-cluster minimum, THEN the
    // media stages — one survivor per planted scene group (doc div 5)
    // and per clip group (doc div 4), the ground truth the q357/q362
    // pair gates pin. Modeling eligibility alone would be unsound: a
    // normalized-content twin (case/whitespace variant) can be dropped
    // by exact dedup without being near-dup-paired, and the cluster
    // then keeps its next canonical member.
    val w = (c: org.apache.spark.sql.Column) =>
      org.apache.spark.sql.expressions.Window.partitionBy(c)
    val contaminated = Pipeline.decontaminate(spark, sf).select(col("doc_id"))
    val eligible = Tables.load(spark, sf, "documents")
      .filter(col("doc_id") % 20 =!= 0)
      .join(contaminated, Seq("doc_id"), "left_anti")
      .filter(size(split(trim(col("text")), " +")) >= 10)
    val canonical = eligible
      .withColumn("ck", graft.dedup.Dedup.contentKey(col("text")))
      .withColumn("mn", min(col("doc_id")).over(w(col("ck"))))
      .filter(col("doc_id") === col("mn"))
      .select(col("doc_id"))
    val clusters = graft.dedup.Dedup.dedupClusters(spark, sf)
      .select(col("doc_id"), col("cluster_id"))
    // per text cluster: the minimum canonical member (a cluster with
    // none keeps nothing) — an excluded minimum must NOT drag its
    // eligible siblings out of the corpus; unclustered docs pass
    val textKept = canonical.join(clusters, Seq("doc_id"), "left")
      .withColumn("cm", min(col("doc_id"))
        .over(w(coalesce(col("cluster_id"), -col("doc_id")))))
      .filter(col("cluster_id").isNull || col("doc_id") === col("cm"))
      .select(col("doc_id"))
    val imgKept = textKept
      .withColumn("gm", min(col("doc_id")).over(w(expr("doc_id div 5"))))
      .filter(col("doc_id") === col("gm")).select(col("doc_id"))
    val expected = imgKept
      .withColumn("gm", min(col("doc_id")).over(w(expr("doc_id div 4"))))
      .filter(col("doc_id") === col("gm")).select(col("doc_id"))
    val actual = corpus.select(col("doc_id"))
    assert(actual.exceptAll(expected).isEmpty &&
      expected.exceptAll(actual).isEmpty)
  }

  test("media dedup: at most one survivor per scene group and per clip group") {
    // the composed build may never ship two docs whose attached
    // artwork (scene group) or audio clip (clip group) are near-dups
    val maxPerScene = corpus.groupBy(expr("doc_id div 5")).count()
      .agg(max(col("count"))).collect()(0).getLong(0)
    val maxPerClip = corpus.groupBy(expr("doc_id div 4")).count()
      .agg(max(col("count"))).collect()(0).getLong(0)
    assert(maxPerScene === 1L, s"scene group shipped $maxPerScene near-dup images")
    assert(maxPerClip === 1L, s"clip group shipped $maxPerClip near-dup clips")
  }

  test("q377: priority sample carries a sound Horvitz–Thompson estimator") {
    import graft.ops.Pipeline
    val dir = "/root/testdata/sf0.001"
    val s = Pipeline.prioritySample(spark, dir).collect()
    assert(s.length === 32)
    assert(s.map(_.getInt(0)).toSeq === (1 to 32), "ranks must be dense 1..k")
    // ht = max(w, tau) >= w always; rows at the tau floor share ONE
    // exact value (tau), so the distinct floor count is 0 or 1
    assert(s.forall(r => r.getDouble(3) >= r.getLong(2).toDouble))
    val floors = s.filter(r => r.getDouble(3) > r.getLong(2).toDouble)
      .map(_.getDouble(3)).distinct
    assert(floors.length <= 1, s"multiple tau floors: ${floors.mkString(",")}")
    // unbiasedness, deterministically: the HT sum must estimate the
    // true token mass within the k=32 sampling error band (~1/sqrt(k))
    val est = s.map(_.getDouble(3)).sum
    val truth = spark.read.parquet(s"$dir/documents.parquet")
      .select(org.apache.spark.sql.functions.expr(
        "sum(size(split(trim(text), ' +')))")).collect()(0).getLong(0)
    assert(est > truth * 0.7 && est < truth * 1.4,
      s"HT estimate $est far from true mass $truth")
  }

  test("q378: per-stratum HT estimators are sound; tiny strata degenerate to exact sums") {
    import graft.ops.Pipeline
    import org.apache.spark.sql.functions.{col => c, expr}
    val dir = "/root/testdata/sf0.001"
    val s = Pipeline.stratifiedPrioritySample(spark, dir).collect()
    val bySrc = s.groupBy(_.getString(0))
    bySrc.foreach { case (src, rows) =>
      assert(rows.map(_.getInt(1)).sorted.toSeq === (1 to 8), s"$src ranks")
      assert(rows.forall(r => r.getDouble(4) >= r.getLong(3).toDouble), src)
      val floors = rows.filter(r => r.getDouble(4) > r.getLong(3).toDouble)
        .map(_.getDouble(4)).distinct
      assert(floors.length <= 1, s"$src has multiple tau floors")
    }
    // the 20 per-stratum estimators average down to a tight corpus
    // total: 1/sqrt(8) per stratum / sqrt(20) strata ~ 8% expected
    val est = s.map(_.getDouble(4)).sum
    val truth = spark.read.parquet(s"$dir/documents.parquet")
      .select(expr("sum(size(split(trim(text), ' +')))")).collect()(0).getLong(0)
    assert(est > truth * 0.7 && est < truth * 1.4,
      s"stratified HT estimate $est far from true mass $truth")
    // DLT boundary: a stratum with <= k docs samples everything and
    // tau = 0, so every HT weight is EXACTLY the doc's own w
    withTempDirs("graft_q378") { case Seq(tiny) =>
      import spark.implicits._
      Seq((0L, "only", "a b c"), (1L, "only", "d e"), (2L, "only", "f"))
        .toDF("doc_id", "source", "text")
        .coalesce(1).write.mode("overwrite").parquet(s"$tiny/documents.parquet")
      val t = Pipeline.stratifiedPrioritySample(spark, tiny).collect()
      assert(t.length === 3)
      assert(t.forall(r => r.getDouble(4) === r.getLong(3).toDouble),
        "tiny stratum must carry exact weights (tau = 0)")
    }
  }

  test("layout maintenance chains onto the built corpus: compact then retire") {
    import graft.ingest.GasPrices
    withTempDirs("graft_corpus_compact", "graft_corpus_frag") {
        case Seq(compacted, fragmented) =>
      def parquetFiles(p: String): Int = {
        def walk(f: java.io.File): Int = {
          val kids = f.listFiles()
          if (kids == null) 0
          else kids.map(k => if (k.isDirectory) walk(k)
            else if (k.getName.endsWith(".parquet")) 1 else 0).sum
        }
        walk(new java.io.File(p))
      }
      // fragment the built corpus deliberately (since the media dedup
      // stages landed, the sf0.001 artifact is one file per split —
      // the small-file problem has to be staged to be exercised)
      corpus.repartition(4).write.mode("overwrite")
        .partitionBy("split").parquet(fragmented)
      val nBefore = parquetFiles(fragmented)
      assert(nBefore > 3, s"staged corpus should be fragmented, got $nBefore files")
      // one maintenance rule for any partitioned store: corpus layout is
      // (split, doc_id) where the gas-prices store is (date, station)
      GasPrices.compactStore(spark, fragmented, compacted, 1, "split", Seq("doc_id"))
      val nAfter = parquetFiles(compacted)
      assert(nAfter < nBefore, s"compaction must shrink files: $nBefore -> $nAfter")
      // row multiset preserved bit-for-bit
      val before = corpus.select(col("doc_id"), col("text"), col("split"))
      val after = spark.read.parquet(compacted)
        .select(col("doc_id"), col("text"), col("split"))
      assert(after.exceptAll(before).isEmpty && before.exceptAll(after).isEmpty)
      // retention: retiring one split is an O(dropped) directory drop
      val dropped = GasPrices.dropPartitions(spark, compacted, "split", _ == "test")
      assert(dropped === 1L)
      val remaining = spark.read.parquet(compacted)
      assert(remaining.select(col("split")).distinct().collect()
        .map(_.getString(0)).sorted.toSeq === Seq("train", "val"))
      // kept rows untouched by the drop
      assert(remaining.count() ===
        before.filter(col("split") =!= "test").count())
    }
  }

  test("image policy: the quad-banded wide build ships the same corpus and waterfall on the gate corpus") {
    // both fingerprint families plant the same scene-group clusters
    // on the generated corpus (q357 dist <= 2, q375 dist <= 7, both
    // exactly the doc div 5 groups), so the WideRadius7 build must be
    // composition-identical — which is what licenses flipping the
    // radius knob without forking the waterfall oracle. A policy
    // wiring bug (wrong pipeline, wrong banding, lost pairs) breaks
    // this equality even though each pair pipeline is gated standalone
    withTempDirs("graft_corpus_wide") { case Seq(wideOut) =>
      Pipeline.prepareCorpus(spark, sf, wideOut, Pipeline.WideRadius7)
      val narrow = corpus.select(col("doc_id"), col("split"))
        .orderBy(col("doc_id")).collect().toSeq
      val wide = spark.read.parquet(wideOut)
        .select(col("doc_id"), col("split"))
        .orderBy(col("doc_id")).collect().toSeq
      assert(narrow === wide, "wide-policy build diverged from narrow")
      // wide survivors still satisfy the media invariant
      val maxPerScene = spark.read.parquet(wideOut)
        .groupBy(expr("doc_id div 5")).count()
        .agg(max(col("count"))).collect()(0).getLong(0)
      assert(maxPerScene === 1L)
    }
    val base = Pipeline.buildWaterfall(spark, sf).collect().map(_.toString)
    val wideWf = Pipeline.buildWaterfall(spark, sf, Pipeline.WideRadius7)
      .collect().map(_.toString)
    assert(base.toSeq === wideWf.toSeq,
      "waterfall must be policy-invariant on the gate corpus")
  }

  test("incremental ingest: probes the artifact, accepts only novel docs, re-ingest is a no-op") {
    withTempDirs("graft_ingest") { case Seq(work) =>
      Pipeline.prepareCorpus(spark, sf, work)
      val art0 = spark.read.parquet(work)
      val n0 = art0.count()
      val maxId = art0.agg(max(col("doc_id"))).head().getLong(0)
      // fresh ids on a 20-boundary: new scene (div 5) AND clip (div 4)
      // groups, spaced 20 apart so the batch is internally media-clean
      val base = ((maxId / 20) + 2) * 20
      val tpl = art0.drop("split").limit(1)
      def mk(id: Long, text: String) = tpl
        .withColumn("doc_id", lit(id)).withColumn("text", lit(text))
      def novelText(i: Int) =
        (0 until 12).map(j => s"zz${i}w$j").mkString(" ")
      val srcText = art0.filter(size(split(trim(col("text")), " +")) >= 12)
        .orderBy(col("doc_id")).select(col("text")).head().getString(0)
      val nearText = srcText + " zzextra" // J = (w-2)/(w-1) >= 0.9
      val batch1 = Seq(
        mk(base, novelText(0)),        // novel -> accepted
        mk(base + 20, novelText(1)),   // novel -> accepted
        mk(base + 40, srcText),        // exact content the corpus holds
        mk(base + 60, nearText),       // near-dup of corpus text
        mk(base + 80, "tiny"))         // fails the length gate
        .reduce(_ unionByName _)
        .unionByName(art0.drop("split").limit(1)) // same-id re-delivery
      val a1 = Pipeline.ingestBatch(spark, work, batch1).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(a1("1_batch_total") === 6L)
      assert(a1("2_id_new") === 5L, s"id guard: $a1")
      assert(a1("3_min_length") === 4L, s"length gate: $a1")
      assert(a1("4_exact_new") === 3L, s"exact stage: $a1")
      assert(a1("5_neardup_new") === 2L, s"text probe: $a1")
      assert(a1("6_image_new") === 2L && a1("7_audio_new_accepted") === 2L,
        s"fresh-group novels must pass media: $a1")
      assert(spark.read.parquet(work).count() === n0 + 2)
      // batch 2 probes the GROWN artifact: novel text but the scene
      // group of a doc ACCEPTED in batch 1 -> image stage rejects
      val a2 = Pipeline.ingestBatch(spark, work, mk(base + 1, novelText(7)))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(a2("5_neardup_new") === 1L && a2("6_image_new") === 0L,
        s"image probe must see batch-1 appends: $a2")
      // batch 3: re-keyed re-delivery of batch-1 content -> exact stage
      val a3 = Pipeline.ingestBatch(spark, work, mk(base + 100, novelText(0)))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(a3("3_min_length") === 1L && a3("4_exact_new") === 0L,
        s"re-keyed content must drop at the exact stage: $a3")
      assert(spark.read.parquet(work).count() === n0 + 2,
        "re-ingest must be a no-op")
      // appended docs carry the split their hash dictates (q69 rule)
      val wrong = spark.read.parquet(work)
        .filter(col("doc_id") >= base)
        .withColumn("eb", Tables.phash(col("doc_id").cast("string")) % 10)
        .filter((col("eb") < 8 && col("split") =!= "train") ||
          (col("eb") === 8 && col("split") =!= "val") ||
          (col("eb") === 9 && col("split") =!= "test"))
      assert(wrong.count() === 0L)
    }
  }

  test("index-backed ingest: audit and artifact byte-identical to the inline writer; indexes grow with the corpus") {
    // the never-fork gate for ingestBatchIndexed (VERDICT r15 #1): the
    // same multi-batch scenario runs through BOTH writers — inline
    // handles on copy A, persisted-index handles on copy B — and every
    // batch's audit plus the final artifacts must match byte-for-byte.
    // The index maintenance contract rides the same scenario: batch 2
    // must reject against a doc ACCEPTED in batch 1, which only works
    // if batch 1's accepted band rows were appended to the index.
    withTempDirs("graft_ing_a", "graft_ing_b", "graft_ing_ix") {
        case Seq(dirA, dirB, ix) =>
      corpus // force the shared build
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(out), new java.io.File(dirA))
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(out), new java.io.File(dirB))
      Pipeline.saveIngestIndexes(spark, dirB, ix)
      val art0 = spark.read.parquet(dirA)
      val nKeys0 = spark.read.parquet(s"$ix/keys").count()
      assert(nKeys0 === art0.count(), "index keys must cover the corpus")
      val maxId = art0.agg(max(col("doc_id"))).head().getLong(0)
      val base = ((maxId / 20) + 2) * 20
      val tpl = art0.drop("split").limit(1)
      def mk(id: Long, text: String) = tpl
        .withColumn("doc_id", lit(id)).withColumn("text", lit(text))
      def novelText(i: Int) =
        (0 until 12).map(j => s"ix${i}w$j").mkString(" ")
      val srcText = art0.filter(size(split(trim(col("text")), " +")) >= 12)
        .orderBy(col("doc_id")).select(col("text")).head().getString(0)
      val batches = Seq(
        Seq(mk(base, novelText(0)), mk(base + 20, novelText(1)),
          mk(base + 40, srcText), mk(base + 60, srcText + " ixextra"),
          mk(base + 80, "tiny")).reduce(_ unionByName _)
          .unionByName(art0.drop("split").limit(1)),
        mk(base + 1, novelText(7)), // image-group dup of a batch-1 accept
        mk(base + 100, novelText(0))) // re-keyed batch-1 content
      def audit(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getString(0) -> r.getLong(1)).toSeq.sorted
      batches.zipWithIndex.foreach { case (b, i) =>
        val inline = audit(Pipeline.ingestBatch(spark, dirA, b))
        val indexed = audit(Pipeline.ingestBatchIndexed(spark, dirB, b, ix))
        assert(inline === indexed, s"batch $i audits diverged")
      }
      val finalA = spark.read.parquet(dirA).orderBy(col("doc_id"))
        .collect().map(_.toString).toSeq
      val finalB = spark.read.parquet(dirB).orderBy(col("doc_id"))
        .collect().map(_.toString).toSeq
      assert(finalA === finalB, "artifacts diverged between writers")
      // maintenance: every artifact doc (original + accepted) has
      // exactly one key row and its band rows in the grown index
      val nFinal = spark.read.parquet(dirB).count()
      assert(spark.read.parquet(s"$ix/keys").count() === nFinal)
      val bandDocs = spark.read.parquet(s"$ix/text_bands")
        .select(col("doc_id")).distinct().count()
      assert(bandDocs === nFinal, "text band rows must cover the grown corpus")
      val imgDocs = spark.read.parquet(s"$ix/image_bands")
        .select(col("doc_id")).distinct().count()
      assert(imgDocs === nFinal, "image band rows must cover the grown corpus")
    }
  }

  test("ingest batch contracts: duplicate doc_ids collapse to one canonical; mutual near-dups are accepted but audited") {
    withTempDirs("graft_ing_c") { case Seq(work) =>
      corpus
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(out), new java.io.File(work))
      val art0 = spark.read.parquet(work)
      val n0 = art0.count()
      val maxId = art0.agg(max(col("doc_id"))).head().getLong(0)
      val base = ((maxId / 20) + 2) * 20
      val tpl = art0.drop("split").limit(1)
      def mk(id: Long, text: String) = tpl
        .withColumn("doc_id", lit(id)).withColumn("text", lit(text))
      def novelText(i: Int) =
        (0 until 12).map(j => s"bc${i}w$j").mkString(" ")
      // two rows, SAME doc_id, different novel content: the corpus-only
      // id guard would admit both (each canonicalizes its own content
      // group) and append a duplicate doc_id — the stage-1 collapse
      // must keep exactly the smaller (content-key, text) row
      val a1 = Pipeline.ingestBatch(spark, work,
          mk(base, novelText(0)).unionByName(mk(base, novelText(1))))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(a1("1_batch_total") === 2L && a1("2_id_new") === 1L,
        s"intra-batch id dup must drop at stage 1: $a1")
      assert(a1("7_audio_new_accepted") === 1L, s"one canonical accepted: $a1")
      val appended = spark.read.parquet(work)
        .filter(col("doc_id") === base).collect()
      assert(appended.length === 1, "duplicate doc_id must never append twice")
      assert(spark.read.parquet(work).count() === n0 + 1)
      // two mutually near-dup NOVEL docs in one batch: the gauntlet
      // probes the corpus only, so both are accepted (the documented
      // two-phase contract) — but the audit row must count them
      val t = novelText(5)
      val a2 = Pipeline.ingestBatch(spark, work,
          mk(base + 20, t).unionByName(mk(base + 40, t + " bcextra")))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(a2("7_audio_new_accepted") === 2L,
        s"batch-internal near-dups are both accepted by contract: $a2")
      assert(a2("8_intra_batch_neardup") === 2L,
        s"the contract violation must be audited: $a2")
      // a clean batch audits zero
      val a3 = Pipeline.ingestBatch(spark, work, mk(base + 60, novelText(9)))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(a3("8_intra_batch_neardup") === 0L, s"clean batch: $a3")
    }
  }

  test("ingest image policy: radius-5 pairs flagged by the wide probe, invisible to the narrow radius; wide corpus ingests wide") {
    import spark.implicits._
    // PROBE LEVEL — the differential the planted end-to-end geometry
    // cannot produce (a same-scene-group pair is within BOTH policies'
    // radii by construction, which is exactly why the wide build is
    // corpus-identical on the gate data): two fingerprints at quad
    // Hamming distance 5 sharing a band key. The wide probe (radius 7)
    // must flag; the narrow probe (radius 3) must not.
    val delta4 = Seq((1L, 31L, 0L, 0L, 0L, 0, 7L))
      .toDF("doc_id", "h1", "h2", "h3", "h4", "band", "bkey")
    val corpus4 = Seq((2L, 0L, 0L, 0L, 0L, 0, 7L))
      .toDF("doc_id", "h1", "h2", "h3", "h4", "band", "bkey")
    val ids = Seq(1L).toDF("new_doc")
    val wide = graft.multimodal.Multimodal.bandProbeVerdict(
      delta4, corpus4, ids, Seq("h1", "h2", "h3", "h4"), 7).collect()
    assert(wide.head.getLong(1) === 1L && wide.head.getInt(3) === 5,
      s"radius-7 probe must flag the distance-5 pair: ${wide.toSeq}")
    val delta1 = Seq((1L, 31L, 0, 7L)).toDF("doc_id", "ahash", "band", "bkey")
    val corpus1 = Seq((2L, 0L, 0, 7L)).toDF("doc_id", "ahash", "band", "bkey")
    val narrow = graft.multimodal.Multimodal.bandProbeVerdict(
      delta1, corpus1, ids, Seq("ahash"), 3).collect()
    assert(narrow.head.getLong(1) === 0L,
      s"radius-3 probe must not flag distance 5: ${narrow.toSeq}")
    // END TO END — a WideRadius7 corpus + index: a batch doc whose
    // quad render sits at planted distance >= 4 from its scene group's
    // kept member (variant 4 flips 4 cells) must drop at the image
    // stage THROUGH THE QUAD PIPELINE, and the indexed writer must
    // agree with the inline wide writer byte-for-byte. Without the
    // policy threading the narrow 4x16 aHash probe would run instead —
    // its radius still catches the pair (narrow distance 2), but the
    // fingerprints, bands, and index rows would be the wrong family,
    // which the h1..h4 index schema and this audit equality pin.
    withTempDirs("graft_wide_a", "graft_wide_b", "graft_wide_ix") {
        case Seq(wDir, wDir2, wIx) =>
      Pipeline.prepareCorpus(spark, sf, wDir, Pipeline.WideRadius7)
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(wDir), new java.io.File(wDir2))
      Pipeline.saveIngestIndexes(spark, wDir2, wIx, Pipeline.WideRadius7)
      assert(spark.read.parquet(s"$wIx/image_bands").columns.contains("h4"),
        "wide index must persist the quad fingerprint words")
      val art = spark.read.parquet(wDir)
      // a kept scene-group member that is not variant 4 (so 5g+4 is
      // free) — its group's variant-4 doc probes at distance 4 + j_kept
      val kept = art.filter(col("doc_id") % 5 =!= 4)
        .orderBy(col("doc_id")).select(col("doc_id")).head().getLong(0)
      val probeId = (kept / 5) * 5 + 4
      val novel = (0 until 12).map(j => s"wp0w$j").mkString(" ")
      val b = art.drop("split").limit(1)
        .withColumn("doc_id", lit(probeId)).withColumn("text", lit(novel))
      val inline = Pipeline.ingestBatch(spark, wDir, b, Pipeline.WideRadius7)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val indexed = Pipeline.ingestBatchIndexed(spark, wDir2, b, wIx)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(inline === indexed, s"wide writers diverged: $inline vs $indexed")
      assert(inline("5_neardup_new") === 1L && inline("6_image_new") === 0L,
        s"radius>=4 group variant must drop at the wide image stage: $inline")
    }
  }

  test("repairIngestIndexes reconciles an artifact-ahead index; re-delivery then drops at stage 1") {
    // the one reachable divergence under the writer's artifact-first
    // append order: docs landed in the artifact but not the index
    // (an ingest crashed between the two, or — as here — the INLINE
    // writer grew an artifact that also has persisted indexes).
    // Without repair, a re-delivery would re-accept those docs off
    // the stale keys sidecar and append duplicate doc_ids.
    withTempDirs("graft_rep_w", "graft_rep_ix") { case Seq(work, ix) =>
      corpus
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(out), new java.io.File(work))
      Pipeline.saveIngestIndexes(spark, work, ix)
      val art0 = spark.read.parquet(work)
      val maxId = art0.agg(max(col("doc_id"))).head().getLong(0)
      val base = ((maxId / 20) + 2) * 20
      val novel = art0.drop("split").limit(1)
        .withColumn("doc_id", lit(base))
        .withColumn("text",
          lit((0 until 12).map(j => s"rp0w$j").mkString(" ")))
      val a = Pipeline.ingestBatch(spark, work, novel) // indexes NOT maintained
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(a("7_audio_new_accepted") === 1L)
      val n1 = spark.read.parquet(work).count()
      assert(Pipeline.repairIngestIndexes(spark, work, ix) === 1L)
      // the repaired index now claims the doc: same-id re-delivery
      // drops at stage 1, the artifact stays fixed
      val a2 = Pipeline.ingestBatchIndexed(spark, work, novel, ix)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(a2("2_id_new") === 0L, s"repaired id guard must fire: $a2")
      assert(spark.read.parquet(work).count() === n1)
      // and repair is idempotent
      assert(Pipeline.repairIngestIndexes(spark, work, ix) === 0L)
    }
  }

  test("repair closes a PARTIAL index append: keys is the commit marker, per-asset anti-joins never duplicate rows") {
    // the VERDICT r15 #2 crash class: the four band/set appends run
    // concurrently, so a crash can land SOME of them before the keys
    // append (which now runs LAST, as the commit marker). Simulated
    // here by rewinding one band asset AND the keys rows for an
    // artifact-present doc: repair must find the doc via the keys
    // anti-join, restore ONLY the missing asset's rows (a blind
    // five-way re-append would duplicate the assets that landed), and
    // seal with the keys append — after which a re-delivered near-dup
    // of that doc is rejected by every gate.
    withTempDirs("graft_pr_w", "graft_pr_ix") { case Seq(work, ix) =>
      corpus
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(out), new java.io.File(work))
      Pipeline.saveIngestIndexes(spark, work, ix)
      val art0 = spark.read.parquet(work)
      val maxId = art0.agg(max(col("doc_id"))).head().getLong(0)
      val base = ((maxId / 20) + 2) * 20
      val tpl = art0.drop("split").limit(1)
      def mk(id: Long, text: String) = tpl
        .withColumn("doc_id", lit(id)).withColumn("text", lit(text))
      def novelText(i: Int) =
        (0 until 12).map(j => s"pr${i}w$j").mkString(" ")
      val doc = base + 20
      val a1 = Pipeline.ingestBatchIndexed(spark, work,
          mk(doc, novelText(0)), ix)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(a1("7_audio_new_accepted") === 1L)
      // rewind: delete the doc's rows from image_bands (that append
      // "failed") and from keys (the commit marker never ran); text/
      // audio/shingle appends "landed" before the crash
      def rewind(asset: String, partitioned: Boolean): Unit = {
        val path = s"$ix/$asset"
        val kept = spark.read.parquet(path)
          .filter(col("doc_id") =!= doc).collect()
        val schema = spark.read.parquet(path).schema
        org.apache.commons.io.FileUtils.deleteDirectory(
          new java.io.File(path))
        val df = spark.createDataFrame(
          new java.util.ArrayList(java.util.Arrays.asList(kept: _*)), schema)
        val w = df.write.mode("overwrite")
        (if (partitioned) w.partitionBy("band") else w).parquet(path)
      }
      rewind("image_bands", partitioned = true)
      rewind("keys", partitioned = false)
      assert(spark.read.parquet(s"$ix/image_bands")
        .filter(col("doc_id") === doc).count() === 0L)
      assert(spark.read.parquet(s"$ix/text_bands")
        .filter(col("doc_id") === doc).count() === 4L,
        "the text append must still be in place (partial crash state)")
      // repair: finds the doc (keys anti-join), restores image rows
      // ONLY, appends keys last
      assert(Pipeline.repairIngestIndexes(spark, work, ix) === 1L)
      for ((asset, n) <- Seq("text_bands" -> 4L, "image_bands" -> 4L,
          "audio_bands" -> 4L, "text_shingles" -> 1L, "keys" -> 1L)) {
        assert(spark.read.parquet(s"$ix/$asset")
          .filter(col("doc_id") === doc).count() === n,
          s"$asset must hold exactly the doc's rows after repair — " +
            "no duplicates from the assets that had already landed")
      }
      // the repaired index rejects re-deliveries at every gate:
      // same id -> stage 1; same scene/clip group (doc+1) -> image
      // stage (the asset we rewound); near-dup text -> text stage
      val a2 = Pipeline.ingestBatchIndexed(spark, work,
          mk(doc, novelText(0)), ix)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(a2("2_id_new") === 0L, s"id guard must fire: $a2")
      val a3 = Pipeline.ingestBatchIndexed(spark, work,
          mk(doc + 1, novelText(1)), ix)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(a3("5_neardup_new") === 1L && a3("6_image_new") === 0L,
        s"repaired image index must reject the scene sibling: $a3")
      val a4 = Pipeline.ingestBatchIndexed(spark, work,
          mk(base + 40, novelText(0) + " prextra"), ix)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(a4("4_exact_new") === 1L && a4("5_neardup_new") === 0L,
        s"text gate must reject the near-dup of the repaired doc: $a4")
      // and repair is idempotent
      assert(Pipeline.repairIngestIndexes(spark, work, ix) === 0L)
    }
  }

  test("the image policy travels with the artifact: a mismatched writer fails loudly") {
    // ADVICE r15: a caller forgetting ingestBatch's policy parameter
    // on a wide-built corpus must not silently probe narrow —
    // prepareCorpus records the policy in the artifact and both
    // writers validate against it.
    withTempDirs("graft_pm_w", "graft_pm_ix") { case Seq(work, ix) =>
      corpus // built NarrowRadius3 → meta says narrow
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(out), new java.io.File(work))
      val art0 = spark.read.parquet(work)
      val b = art0.drop("split").limit(1)
        .withColumn("doc_id", lit(10000000L))
        .withColumn("text",
          lit((0 until 12).map(j => s"pm0w$j").mkString(" ")))
      val e = intercept[IllegalArgumentException] {
        Pipeline.ingestBatch(spark, work, b, Pipeline.WideRadius7)
      }
      assert(e.getMessage.contains("narrow_radius3") &&
        e.getMessage.contains("wide_radius7"), e.getMessage)
      // the indexed writer cross-checks the INDEX meta too: a wide
      // index pointed at a narrow artifact is the same category error
      Pipeline.saveIngestIndexes(spark, work, ix, Pipeline.WideRadius7)
      val e2 = intercept[IllegalArgumentException] {
        Pipeline.ingestBatchIndexed(spark, work, b, ix)
      }
      assert(e2.getMessage.contains("wide_radius7"), e2.getMessage)
      // matching policies pass (the narrow default on a narrow corpus)
      val a = Pipeline.ingestBatch(spark, work, b)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(a("7_audio_new_accepted") === 1L, s"$a")
    }
  }

  test("wide build refuses a noise-dominated corpus; the gate corpus passes the same guard") {
    import spark.implicits._
    // the q376 tripwire is now ENFORCED by prepareCorpus(WideRadius7)
    // (the build that takes the radius-7 risk runs the guard the
    // policy doc promises). Flagged path: the degenerate corpus —
    // one doc per scene group, all fingerprint words identical, so
    // every candidate is collision noise — must refuse with the
    // fifth-word remedy named.
    val degenerate = (0L until 200L).map(i => (i * 5, 0L, 0L, 0L, 0L))
      .toDF("doc_id", "h1", "h2", "h3", "h4")
    val e = intercept[IllegalStateException] {
      Pipeline.guardWideBandingFrom(degenerate)
    }
    assert(e.getMessage.contains("fifth multiBands word"), e.getMessage)
    // clean path: the gate corpus passes the exact guard the wide
    // build invokes (the full wide build itself runs in the policy
    // tests above, through this same interlock)
    Pipeline.guardWideBandingFrom(graft.multimodal.Multimodal.quadHash(
      graft.multimodal.Multimodal.generatedMediaQuad256(spark, sf)).toDF())
  }

  test("grown-index banding audit: accreted noise flips the tripwire read straight from the asset") {
    import spark.implicits._
    // VERDICT r15 #6: the build-time guard cannot see an index that
    // DRIFTS noise-dominated as batches accrete — the audit must read
    // the persisted band asset itself. Synthetic wide asset (the
    // guardWideBandingFrom spec's constructed-hash pattern; the
    // real-decode reconstruction path is gated by q388): signal docs
    // pair within their scene groups at Hamming distance 1 with
    // group-distinct bytes in every h1 lane (zero cross-group
    // collisions); noise docs are group-less all-identical hashes.
    withTempDirs("graft_ixa") { case Seq(ix) =>
      def bandsOf(h: org.apache.spark.sql.DataFrame) = {
        val hs = Seq(col("h1"), col("h2"), col("h3"), col("h4"))
        h.select((col("doc_id") +: hs) :+
            explode(graft.functions.Banding.multiBands(hs, 8, 8)).as("bk"): _*)
          .select((col("doc_id") +: hs) :+ col("bk.band").as("band") :+
            col("bk.bkey").as("bkey"): _*)
      }
      Seq("wide_radius7").toDF("image_policy")
        .write.parquet(s"$ix/meta")
      val signal = (0L until 100L).flatMap { g =>
        val base = g * 0x0101010101010101L
        Seq((g * 5, base, 0L, 0L, 0L), (g * 5 + 1, base + 1L, 0L, 0L, 0L))
      }.toDF("doc_id", "h1", "h2", "h3", "h4")
      bandsOf(signal).write.partitionBy("band")
        .parquet(s"$ix/image_bands")
      def quadRow() = Pipeline.auditIngestIndexBanding(spark, ix)
        .filter(col("family") === "quad256_8x32").head()
      val clean = quadRow()
      assert(!clean.getBoolean(5),
        s"clean index must not flag: $clean")
      // a batch of 20 group-less identical-hash docs appends — their
      // C(20,2)×8 band accidents now dominate the 700 planted
      // candidates, and the audit read from the GROWN asset must say so
      val noise = (0L until 20L).map(i => ((1000L + i) * 5,
        0x00DEAD00BEEF00L, 0L, 0L, 0L))
        .toDF("doc_id", "h1", "h2", "h3", "h4")
      bandsOf(noise).write.mode("append").partitionBy("band")
        .parquet(s"$ix/image_bands")
      val grown = quadRow()
      assert(grown.getBoolean(5),
        s"noise-dominated grown index must flag: $grown")
    }
  }

  test("streaming ingest: foreachBatch writer equals the sequential indexed writer; full redelivery is a no-op") {
    // streamIngestIndexed's contract: micro-batches run the SAME
    // indexed gauntlet serially, so a staged 3-batch stream must leave
    // artifact, all five index assets, and per-batch audits identical
    // to three sequential ingestBatchIndexed calls on a twin corpus —
    // and re-running the whole stream with a fresh checkpoint (total
    // redelivery, the crash-recovery worst case) must change nothing.
    withTempDirs("graft_sing_a", "graft_sing_b", "graft_sing_ixa",
        "graft_sing_ixb", "graft_sing_src") {
        case Seq(dirSeq, dirStr, ixSeq, ixStr, stage) =>
      corpus // force the shared build
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(out), new java.io.File(dirSeq))
      org.apache.commons.io.FileUtils.copyDirectory(
        new java.io.File(out), new java.io.File(dirStr))
      Pipeline.saveIngestIndexes(spark, dirSeq, ixSeq)
      Pipeline.saveIngestIndexes(spark, dirStr, ixStr)
      val art0 = spark.read.parquet(dirSeq)
      val maxId = art0.agg(max(col("doc_id"))).head().getLong(0)
      val base = ((maxId / 20) + 2) * 20
      val tpl = art0.drop("split").limit(1)
      def mk(id: Long, text: String) = tpl
        .withColumn("doc_id", lit(id)).withColumn("text", lit(text))
      def novelText(i: Int) =
        (0 until 12).map(j => s"sg${i}w$j").mkString(" ")
      val batches = Seq(
        // novel accepts + an id-dup of an existing corpus doc
        Seq(mk(base, novelText(0)), mk(base + 20, novelText(1)),
          mk(base + 80, "tiny")).reduce(_ unionByName _)
          .unionByName(art0.drop("split").limit(1)),
        mk(base + 40, novelText(2)), // accepted
        mk(base + 100, novelText(0))) // near-dup of batch-1 accept
      // sequential ground truth
      def audit(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => r.getString(0) -> r.getLong(1)).toSeq.sorted
      val seqAudits = batches.map(b =>
        audit(Pipeline.ingestBatchIndexed(spark, dirSeq, b, ixSeq)))
      // stage the same batches as an mtime-ordered file stream
      new java.io.File(s"$stage/src").mkdirs(): Unit
      val m0 = new java.io.File(stage).lastModified()
      batches.zipWithIndex.foreach { case (b, k) =>
        val tmp = s"$stage/b$k"
        b.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(_.getName.endsWith(".parquet"))
          .getOrElse(sys.error(s"no part file for batch $k"))
        val dst = new java.io.File(s"$stage/src/batch$k.parquet")
        java.nio.file.Files.move(part.toPath, dst.toPath)
        require(dst.setLastModified(m0 + k * 60000L), s"mtime stamp $k")
      }
      val schema = spark.read.parquet(s"$stage/src").schema
      def runStream(tag: String): Seq[(Long, Seq[(String, Long)])] = {
        val audits =
          scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[(String, Long)])]
        val src = spark.readStream.schema(schema)
          .option("maxFilesPerTrigger", "1").parquet(s"$stage/src")
        Pipeline.streamIngestIndexed(spark, dirStr, ixStr, src,
          s"$stage/ckpt_$tag",
          onAudit = (id, a) => { audits += ((id, audit(a))); () })
        audits.toSeq
      }
      val strAudits = runStream("1")
      assert(strAudits.map(_._1) === strAudits.map(_._1).sorted,
        "micro-batches must execute in staged order")
      assert(strAudits.map(_._2) === seqAudits,
        "streamed audits diverged from sequential")
      def snap(dir: String, ix: String) = (
        spark.read.parquet(dir).orderBy(col("doc_id"))
          .collect().map(_.toString).toSeq,
        spark.read.parquet(s"$ix/keys").orderBy(col("doc_id"), col("ck"))
          .collect().map(_.toString).toSeq,
        spark.read.parquet(s"$ix/text_bands")
          .orderBy(col("doc_id"), col("band"), col("bkey"))
          .collect().map(_.toString).toSeq,
        spark.read.parquet(s"$ix/image_bands")
          .orderBy(col("doc_id"), col("band"), col("bkey"))
          .collect().map(_.toString).toSeq,
        spark.read.parquet(s"$ix/audio_bands")
          .orderBy(col("doc_id"), col("band"), col("bkey"))
          .collect().map(_.toString).toSeq)
      assert(snap(dirStr, ixStr) === snap(dirSeq, ixSeq),
        "streamed artifact/indexes diverged from sequential")
      // TOTAL REDELIVERY: fresh checkpoint, same staged files — every
      // doc must reject (id-guard against artifact+keys) and the final
      // state must be byte-identical
      val before = snap(dirStr, ixStr)
      val replay = runStream("2")
      replay.foreach { case (id, a) =>
        val m = a.toMap
        assert(m("7_audio_new_accepted") === 0L,
          s"redelivered batch $id re-ingested") }
      assert(snap(dirStr, ixStr) === before, "redelivery changed state")
    }
  }

  test("rerun writes the identical corpus (deterministic artifact)") {
    val first = corpus.select(col("doc_id"), col("split"))
      .orderBy(col("doc_id")).collect().toSeq
    Pipeline.prepareCorpus(spark, sf, out2)
    val second = spark.read.parquet(out2).select(col("doc_id"), col("split"))
      .orderBy(col("doc_id")).collect().toSeq
    assert(first === second)
  }
}
