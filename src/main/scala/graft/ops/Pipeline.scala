package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._

/** Corpus-pipeline operators a large-scale training-data build needs
  * beyond dedup/similarity (north-star extension, BASELINE.json): PII
  * scrubbing + pseudonymization, deterministic hash sampling,
  * train/val/test splitting, benchmark decontamination, and
  * repetition-quality signals.
  *
  * The unifying scale decision: every sampling/splitting operator here
  * is HASH-deterministic, not RNG-based. `sample(fraction, seed)` is
  * partition-layout-dependent (a repartition changes the sample), while
  * `phash(key) % N` assigns every row the same bucket on any cluster,
  * any partitioning, any engine — reproducible pipelines and an exact
  * DuckDB oracle for free. All per-row ops are codegen'd built-ins
  * running at scan speed with full column pruning.
  */
object Pipeline {

  private def tokens(c: Column): Column = split(trim(c), " +")

  /** Stable per-document bucket in [0, n): portable 56-bit hash of the
    * key rendered as a string (identical text in both engines). */
  private def hashBucket(key: Column, n: Int): Column =
    phash(key.cast(StringType)) % n

  /** PII scrubbing + pseudonymization (the C4/CCNet-style redaction
    * pass): mask digit runs in free-text identity fields, count what
    * was masked (an audit signal), and derive a stable pseudonym key —
    * the hash that lets downstream joins work without carrying the
    * raw identifier. Single codegen'd projection, shuffle-free. */
  def piiScrub(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "customer")
      .select(col("c_custkey"),
        regexp_replace(col("c_name"), "\\d+", "<ID>").as("masked_name"),
        length(regexp_replace(col("c_name"), "[^0-9]", ""))
          .cast(LongType).as("n_masked_chars"),
        phash(col("c_name")).as("pseudonym_key"))
      .orderBy(col("c_custkey"))

  /** Deterministic 5% corpus sample: keep rows whose key-hash bucket
    * is 0 of 20. Unlike `DataFrame.sample`, the selection is a pure
    * function of the row key — stable across partitionings, engines,
    * and reruns, which is what makes a 100 TB eval slice auditable. */
  def hashSample(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents")
      .filter(hashBucket(col("doc_id"), 20) === 0)
      .select(col("doc_id"), col("lang"), col("n_chars"))
      .orderBy(col("doc_id"))

  /** Train/val/test split by key hash (8/1/1): the split is a property
    * of the document, not of the run — adding or removing OTHER
    * documents never moves a doc across splits (no leakage on corpus
    * refresh). Emits per-split size/char/lang stats; the full split
    * assignment rides the same projection at scale. */
  def trainSplit(spark: SparkSession, dir: String): DataFrame =
    withSplit(load(spark, dir, "documents"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        countDistinct(col("lang")).as("n_langs"))
      .orderBy(col("split"))

  /** Benchmark decontamination (the GPT-3-style n-gram overlap check):
    * flag training docs sharing any 5-gram with the benchmark set.
    * Shingles are hashed to 8-byte keys ([[graft.Tables.phash]]) by
    * the native codegen'd expressions, so the contamination join
    * shuffles longs, not strings. The benchmark index is the SMALL
    * side by construction (eval sets are fixed; the corpus grows), so
    * it is broadcast — the training corpus never shuffles at all. At
    * 100 TB the same shape works with the benchmark hash set
    * distributed as a bloom filter when even the index outgrows
    * broadcast. */
  def decontaminate(spark: SparkSession, dir: String): DataFrame = {
    val (bench, train) = benchTrainShingles(spark, dir)
    contaminationRollup(train.join(broadcast(bench), "h"))
  }

  /** (bench, train) exploded 5-gram shingle-hash streams — the shared
    * front half of q70 and q81. */
  private def benchTrainShingles(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val docs = spread(load(spark, dir, "documents"))
      .select(col("doc_id"),
        call_function("phash_array",
          call_function("word_shingles", tokens(col("text")), lit(5)))
          .as("shs"))
    val bench = docs.filter(isBench(col("doc_id")))
      .select(col("doc_id").as("bench_id"), explode(col("shs")).as("h"))
    val train = docs.filter(!isBench(col("doc_id")))
      .select(col("doc_id"), explode(col("shs")).as("h"))
    (bench, train)
  }

  /** q349 — LEAK SOURCE MATRIX: q280 names WHICH eval items are
    * compromised; this adds BY WHOM — per (bench item, source), the
    * distinct training docs sharing a 5-gram, the coordination table
    * between the eval owner (retire/re-split the item) and the feed
    * owner (fix the crawler that ingests eval sets). Same
    * broadcast-bench shingle join as q70/q280 (the corpus side never
    * shuffles); one slim source join on the O(hits) pair set; rollup
    * O(leaky items × sources). */
  def leakSourceMatrix(spark: SparkSession, dir: String): DataFrame = {
    val (bench, train) = benchTrainShingles(spark, dir)
    val src = load(spark, dir, "documents")
      .select(col("doc_id"), col("source"))
    train.join(broadcast(bench), "h")
      .select(col("doc_id"), col("bench_id")).distinct()
      .join(src, "doc_id")
      .groupBy(col("bench_id"), col("source"))
      .agg(countDistinct(col("doc_id")).as("n_train_docs"))
      .orderBy(col("bench_id"), col("source"))
  }

  /** LEAK SEVERITY per benchmark item — q70's rollup INVERTED: for
    * every bench document (leaked or clean), how many TRAIN documents
    * share at least one 5-gram with it and how many of its distinct
    * shingles leak. q70 answers "which training docs to drop"; this
    * answers "which EVAL items are compromised however the corpus is
    * cleaned" — the ranking an eval owner uses to retire or re-split
    * items, and the zero rows certify the still-trustworthy slice.
    * Same broadcast-bench join as q70 (the corpus side never
    * shuffles); the bench-id rollup is partial-aggregable; clean
    * items survive via one left join against the tiny bench-id list. */
  def leakSeverity(spark: SparkSession, dir: String): DataFrame = {
    val (bench, train) = benchTrainShingles(spark, dir)
    val hits = train.join(broadcast(bench), "h")
      .groupBy(col("bench_id"))
      .agg(countDistinct(col("doc_id")).as("n_train_docs"),
        countDistinct(col("h")).as("n_leaked_shingles"))
    load(spark, dir, "documents").filter(isBench(col("doc_id")))
      .select(col("doc_id").as("bench_id"))
      .join(hits, Seq("bench_id"), "left")
      .select(col("bench_id"),
        coalesce(col("n_train_docs"), lit(0L)).as("n_train_docs"),
        coalesce(col("n_leaked_shingles"), lit(0L)).as("n_leaked_shingles"))
      .orderBy(col("bench_id"))
  }

  private def contaminationRollup(matches: DataFrame): DataFrame =
    matches.groupBy(col("doc_id"))
      .agg(countDistinct(col("bench_id")).as("n_bench_docs"),
        countDistinct(col("h")).as("n_shared_shingles"))
      .orderBy(col("doc_id"))

  /** Bloom-pruned decontamination — q70's documented overflow path made
    * real: when even the benchmark hash INDEX outgrows a broadcast hash
    * join, ship a fixed 128 KiB [[graft.functions.Sketches.BloomAgg]]
    * bitset instead and discard the (vast) non-colliding majority of
    * corpus shingles at scan speed; only survivors enter the exact
    * join. The Bloom filter has NO false negatives, so every truly
    * shared shingle survives the prune and the final exact join + exact
    * rollup produce byte-identical output to q70 — same oracle, scale
    * plan for when the eval suite is 10^8 shingles.
    *
    * Plan shape: sketch build is one partially-aggregated pass over the
    * bench side (map-side partial Bloom bitsets OR-merged, 128 KiB
    * total); the probe is codegen'd Column arithmetic over the
    * broadcast array — no UDF, no driver residency beyond the bitset. */
  def bloomDecontaminate(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.Sketches
    val (bench, train) = benchTrainShingles(spark, dir)
    val bloom = bench.agg(Sketches.bloomAgg(col("h")).as("bf"))
    val pruned = train.join(broadcast(bloom))
      .filter(Sketches.bloomMightContain(col("h"), col("bf")))
      .drop("bf")
    contaminationRollup(pruned.join(broadcast(bench), "h"))
  }

  /** Repetition signals (Gopher-style quality rules): type-token ratio
    * and most-frequent-token share per document. Two-level aggregation
    * — explode to (doc, token), partial-agg counts, then per-doc
    * rollup — so the token explosion shuffles only (doc_id, token,
    * count) partials, never raw text. */
  def repSignals(spark: SparkSession, dir: String): DataFrame =
    spread(load(spark, dir, "documents"))
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_unique"),
        max(col("c")).as("top_count"))
      .select(col("doc_id"), col("n_tokens"), col("n_unique"),
        (col("n_unique").cast(DoubleType) / col("n_tokens"))
          .as("unique_ratio"),
        (col("top_count").cast(DoubleType) / col("n_tokens"))
          .as("top_token_share"),
        (col("top_count").cast(DoubleType) / col("n_tokens") > 0.1)
          .as("is_repetitive"))
      .orderBy(col("doc_id"))

  /** Stratified quota sampling: an EXACT per-stratum quota (25 docs
    * per language) selected in deterministic hash-priority order — the
    * balanced-eval-set builder (equal representation per language/
    * domain regardless of stratum skew), where a fraction-based sample
    * would keep the corpus imbalance and an RNG one would be
    * layout-dependent.
    *
    * Scale shape: one shuffle on the stratum key; the rank window
    * sorts each stratum and only quota rows survive. Priority is a
    * pure function of doc_id (the q68 hash-determinism contract), so
    * the sample is stable across reruns and partitionings, and a
    * corpus refresh only swaps a sampled doc when an inserted doc
    * hash-sorts below the current quota boundary. */
  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    val n = 25
    val w = Window.partitionBy(col("lang"))
      .orderBy(col("priority"), col("doc_id"))
    load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"),
        phash(col("doc_id").cast(StringType)).as("priority"))
      .withColumn("sample_rank", row_number().over(w).cast(LongType))
      .filter(col("sample_rank") <= n)
      .select(col("doc_id"), col("lang"), col("sample_rank"))
      .orderBy(col("lang"), col("sample_rank"))
  }

  /** WEIGHTED deterministic sampling via replication min-hash
    * (integer-weight minwise sampling — the Broder minwise family;
    * pairwise P(i outranks j) = wᵢ/(wᵢ+wⱼ), the weighted-priority
    * property of Efraimidis-Spirakis keys, but in pure INTEGER hash
    * arithmetic: no pow/log, so the ordering is bit-identical across
    * engines, unlike u^(1/w) float keys). Each doc draws w hash
    * priorities (w = size-derived weight, capped) and keeps the
    * minimum; the global top-50 by (priority, doc_id) is the sample.
    * Same refresh-stability as q68: a doc's priority is a pure
    * function of its id, so re-sampling a grown corpus never reshuffles
    * survivors' priorities.
    *
    * Scale: the explode is ×w (bounded by the cap), collapsed by a
    * partial-aggregable min before any shuffle; the top-k is a
    * TakeOrderedAndProject heap, never a global sort. */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    val MaxW = 8
    spread(load(spark, dir, "documents"))
      .select(col("doc_id"),
        least(expr("n_chars div 200") + 1, lit(MaxW)).as("w"))
      .withColumn("j", explode(sequence(lit(1), col("w"))))
      .withColumn("p", phash(concat(col("doc_id").cast(StringType),
        lit(":"), col("j").cast(StringType))))
      .groupBy(col("doc_id"), col("w"))
      .agg(min(col("p")).as("priority"))
      .orderBy(col("priority"), col("doc_id"))
      .limit(50)
  }

  /** Sliding-window document chunking — the context-window preparation
    * step of a training/embedding pipeline: split each document into
    * CHUNK_TOKENS-token windows advancing by CHUNK_STRIDE (overlap
    * keeps boundary context). Pure per-row explode: no shuffle at all
    * until a consumer aggregates, chunk count is
    * ceil(max(n-C,0)/S)+1 (integer arithmetic, identical in both
    * engines), tail chunks clip at the document end. */
  def chunkDocs(spark: SparkSession, dir: String): DataFrame = {
    val C = 50
    val S = 40
    spread(load(spark, dir, "documents"))
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("nch",
        expr(s"(greatest(size(toks) - $C, 0) + ${S - 1}) div $S + 1"))
      .withColumn("chunk_idx", explode(sequence(lit(0L), col("nch") - 1)))
      .withColumn("chunk_start", col("chunk_idx") * S + 1)
      .select(col("doc_id"), col("chunk_idx"), col("chunk_start"),
        size(slice(col("toks"), col("chunk_start").cast(IntegerType), lit(C)))
          .cast(LongType).as("n_chunk_tokens"),
        array_join(slice(col("toks"), col("chunk_start").cast(IntegerType),
          lit(C)), " ").as("chunk_text"))
      .orderBy(col("doc_id"), col("chunk_idx"))
  }

  /** Deterministic sequence packing — assign documents to fixed token
    * budgets (the pretraining batch packer): within each of 8 hash
    * shards, documents are packed in id order by running token offset;
    * a document belongs to the bin where its first token lands
    * (`offset div BUDGET`, the streaming next-fit packer). Sharding is
    * the scale decision: a GLOBAL running sum would serialize on one
    * partition, while per-shard cumulative sums run in parallel and
    * stay deterministic because shard assignment is a pure hash of
    * doc_id — same packs on any cluster layout. Emits per-pack
    * occupancy stats (the packer's quality signal). */
  /** Token budget of one packed training sequence (q78/q316). */
  private val PackBudget = 2000

  /** Shared q78/q316 fragment: per-doc next-fit pack assignment — the
    * per-shard running token offset and the pack where each doc's
    * FIRST token lands. One window per shard partition, parallel
    * across shards. */
  private def packedDocs(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    load(spark, dir, "documents")
      .select(col("doc_id"), size(tokens(col("text"))).cast(LongType).as("n_tok"))
      .withColumn("shard", hashBucket(col("doc_id"), 8))
      .withColumn("cum", sum(col("n_tok")).over(w))
      .withColumn("pack_id", expr(s"(cum - n_tok) div $PackBudget"))
  }

  def packSequences(spark: SparkSession, dir: String): DataFrame =
    packedDocs(spark, dir)
      .groupBy(col("shard"), col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tokens"),
        min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
      .orderBy(col("shard"), col("pack_id"))

  /** q316 — PACK FRAGMENTATION audit: how many documents the q78
    * packer SPLITS across sequence boundaries, per shard — the
    * training-quality cost of fixed-length packing (a doc cut in half
    * loses cross-boundary context; attention masking only fixes
    * what's inside one sequence). Offset packing wastes no tokens by
    * construction, so fragmentation is THE packer metric: a doc
    * fragments iff its token span [cum−n_tok, cum) crosses a
    * PackBudget boundary, and its fragment count is the number of
    * pack ranges the span touches — both closed-form integer
    * expressions off the SAME [[packedDocs]] offsets q78 groups by,
    * so audit and packer can never disagree. Per shard: doc count,
    * split-doc count, total fragments, split rate (ONE division).
    * O(shards) output, one partial-agg rollup over the shared
    * window pass. */
  def packFragmentation(spark: SparkSession, dir: String): DataFrame =
    packedDocs(spark, dir)
      .withColumn("frags",
        expr(s"(cum - 1) div $PackBudget") - col("pack_id") + 1L)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("sum_tokens"),
        sum(when(col("frags") > 1L, 1L).otherwise(0L)).as("n_split_docs"),
        sum(col("frags")).as("n_fragments"))
      .withColumn("split_rate",
        col("n_split_docs").cast(DoubleType) / col("n_docs"))
      .orderBy(col("shard"))

  /** q329 — DELTA-INGEST REPORT: the q313 waterfall re-shaped for the
    * INCREMENTAL path — a new batch (q285's delta rule, doc_id % 10
    * = 0) marched through the ingest gauntlet against the EXISTING
    * corpus: batch total → bench held out → length gate →
    * decontaminated → exact-new (content key unseen in the corpus) →
    * near-dup-new (no q285 banded-probe match at J ≥ 0.5) →
    * image-new (artwork with no q379 corpus fingerprint match) →
    * audio-new (clip with no q381 corpus match). This is
    * the daily-ingest dashboard ("we received N docs, accepted M")
    * where q313 is the from-scratch build's; cheap gates run first
    * (length before the decontamination join) because on the ingest
    * path every survivor costs an index probe. Every stage composes
    * the SAME shared rules (isBench, decontaminate, contentKey,
    * incrementalDedup, and now the media probes — the REAL
    * render/encode/decode/fingerprint pipelines, delta-vs-corpus,
    * never self-joined), so report and ingest can never disagree.
    * On the gate corpus every delta doc's artwork and clip has
    * corpus-side group siblings, so the media stage counts pin ZERO
    * survivors — an implementation whose probe loses matches (broken
    * render, codec, banding, or join) reports nonzero and fails; the
    * per-doc match structure is gated by q379/q380/q381 standalone.
    *
    * Scale shape: all stages are filters/semi-joins on the O(delta)
    * batch; the near-dup stage rides q285's band-index probe and the
    * media stages ride q379/q381's (the corpus is never self-joined,
    * and at 100 TB their corpus sides persist — q331/q380); the exact
    * stage probes a distinct content-key set. Output O(stages). */
  def deltaIngestReport(spark: SparkSession, dir: String): DataFrame = {
    // ONE-PASS FORM (optimization r16, guide §2.4; same move as q313):
    // the first spelling unioned eight per-stage frames whose shared
    // prefix re-ran per stage — decontaminate ×5, incrementalDedup ×3,
    // the image/audio incremental probes ×2/×1 (measured 3.3 s at
    // sf0.1). Every anti-join becomes a left join carrying a marker,
    // every stage a cumulative boolean, and the eight counts ONE
    // conditional aggregate. Marker sides are doc_id-unique (each is
    // a filter/projection of a per-new-doc report), so the left joins
    // cannot fan out and flagging replaces the anti-join losslessly.
    val docs = spread(load(spark, dir, "documents"))
      .select(col("doc_id"), col("text"))
    val delta = docs.filter(isDelta(col("doc_id")))
    val cont = decontaminate(spark, dir)
      .select(col("doc_id"), lit(true).as("cont"))
    val corpusKeys = docs.filter(!isDelta(col("doc_id")))
      .select(graft.dedup.Dedup.contentKey(col("text")).as("ck")).distinct()
      .withColumn("ck_seen", lit(true))
    val dupNew = graft.dedup.Dedup.incrementalDedup(spark, dir)
      .filter(col("n_matches") > 0)
      .select(col("new_doc").as("doc_id"), lit(true).as("dup_new"))
    val imgDup = graft.multimodal.Multimodal.imageIncrementalDedup(spark, dir)
      .filter(col("n_matches") > 0)
      .select(col("new_doc").as("doc_id"), lit(true).as("img_dup"))
    val audDup = graft.multimodal.Audio.audioIncrementalDedup(spark, dir)
      .filter(col("n_matches") > 0)
      .select(col("new_doc").as("doc_id"), lit(true).as("aud_dup"))
    val staged = delta
      .join(cont, Seq("doc_id"), "left")
      .join(broadcast(dupNew), Seq("doc_id"), "left")
      .join(broadcast(imgDup), Seq("doc_id"), "left")
      .join(broadcast(audDup), Seq("doc_id"), "left")
      .withColumn("f2", !isBench(col("doc_id")))
      .withColumn("f3", col("f2") && size(tokens(col("text"))) >= 10)
      .withColumn("f4", col("f3") && col("cont").isNull)
      .withColumn("ck",
        when(col("f4"), graft.dedup.Dedup.contentKey(col("text"))))
      .join(corpusKeys, Seq("ck"), "left")
      .withColumn("f5", col("f4") && col("ck_seen").isNull)
      .withColumn("f6", col("f5") && col("dup_new").isNull)
      .withColumn("f7", col("f6") && col("img_dup").isNull)
      .withColumn("f8", col("f7") && col("aud_dup").isNull)
    def cIf(c: Column) = count(when(c, 1))
    staged.agg(count(lit(1)).as("c1"), cIf(col("f2")).as("c2"),
        cIf(col("f3")).as("c3"), cIf(col("f4")).as("c4"),
        cIf(col("f5")).as("c5"), cIf(col("f6")).as("c6"),
        cIf(col("f7")).as("c7"), cIf(col("f8")).as("c8"))
      .selectExpr("""stack(8,
          '1_delta_total', c1, '2_non_bench', c2, '3_min_length', c3,
          '4_decontaminated', c4, '5_exact_new', c5, '6_neardup_new', c6,
          '7_image_new', c7, '8_audio_new', c8) as (stage, n_docs)""")
      .orderBy(col("stage"))
  }

  /** q333 — SOURCE-INTERLEAVED TRAINING ORDER: the deterministic
    * round-robin that stops a training run from seeing an hour of one
    * source back-to-back (source-clumped batches bias gradients; the
    * fix is ordering, not sampling): each doc takes its rank WITHIN
    * its source (round), and the global order is (round, source) — so
    * round r emits one doc from every source that still has one. The
    * global position is materialized WITHOUT a global sort: round and
    * a broadcast source ordinal pack into one integer key for
    * [[Windows.globalRankNoSort]]'s two-level rank (the in-source
    * rank windows are per-source partitions; the only unpartitioned
    * window is over the O(sources) ordinal table).
    *
    * Deterministic and refresh-stable (hash-free total order), so the
    * order survives recomputation on any layout — the q93 shuffle's
    * structured sibling. Output O(n): position, round, source,
    * doc_id. */
  /** Shared (round, source-ordinal) packed key for the interleave
    * family (q333/q334): rank each doc within its source, ordinal-ize
    * the sources, and pack `k = round * mult + src_ord` where `mult =
    * sourceCount + 1` — any multiplier STRICTLY greater than the max
    * ordinal preserves the (round, source) lexicographic order, so a
    * corpus with ≥1024 sources cannot bleed src_ord into the next
    * round's keyspace. `mult` is derived IN-PLAN (a window count over
    * the already-single-partition ordinal frame), so deriving it runs
    * no Spark job of its own and the distinct-source subtree is
    * computed exactly once. */
  private def interleaveKeyed(docs: DataFrame): DataFrame = {
    val wSrc = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    val ranked = docs.withColumn("round",
      row_number().over(wSrc).cast(LongType))
    val wOrd = Window.orderBy(col("source"))
    val ordinals = docs.select(col("source")).distinct()
      .withColumn("src_ord", row_number().over(wOrd).cast(LongType))
      // same tiny single-partition frame the ordinal window already
      // shuffled to one task; count(*) over it adds no exchange
      .withColumn("mult",
        count(lit(1)).over(Window.partitionBy(lit(1))) + lit(1L))
    ranked.join(broadcast(ordinals), "source")
      .withColumn("k", col("round") * col("mult") + col("src_ord"))
  }

  def interleaveOrder(spark: SparkSession, dir: String): DataFrame = {
    val docs = spread(load(spark, dir, "documents"))
      .select(col("doc_id"), col("source"))
    val keyed = interleaveKeyed(docs)
    Windows.globalRankNoSort(keyed, col("k"), col("doc_id"),
        1L << 14, "position", "_n")
      .select(col("position"), col("round"), col("source"), col("doc_id"))
      .orderBy(col("position"))
  }

  /** q334 — INTERLEAVED SEQUENCE PACKING: q78's fixed-budget packer
    * run in q333's source-interleaved order instead of doc-id order —
    * so consecutive packs draw from rotating sources and a training
    * step never sees a single-source sequence batch. Emits the
    * per-pack audit that proves it: doc count, token mass, DISTINCT
    * SOURCE count per pack (the diversity number doc-id-ordered q78
    * cannot deliver when ids correlate with sources).
    *
    * Scale shape: the global running token offset over the interleave
    * order rides [[Windows.globalCumSumNoSort]] on the same packed
    * (round, source-ordinal) key q333 ranks by — NO single-partition
    * window; the pack rollup is partial-aggregable. Pack boundaries
    * partition the offset line, so the packing is lossless exactly as
    * q78's. */
  def interleavedPacking(spark: SparkSession, dir: String): DataFrame = {
    val docs = spread(load(spark, dir, "documents"))
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast(LongType).as("n_tok"))
    val keyed = interleaveKeyed(docs)
    Windows.globalCumSumNoSort(keyed, col("k"), col("doc_id"),
        col("n_tok"), 1L << 14, "cum", "_tot")
      .withColumn("pack_id", expr(s"(cum - n_tok) div $PackBudget"))
      .groupBy(col("pack_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("sum_tokens"),
        countDistinct(col("source")).as("n_sources"),
        min(col("doc_id")).as("first_doc"))
      .orderBy(col("pack_id"))
  }

  /** q342 — DATASET CARD: the one-row summary a corpus release ships
    * (Gebru et al.'s datasheets, as a query): volume (docs, tokens,
    * languages, sources), redundancy (exact-dup groups, near-dup
    * pairs), contamination (q70 count), and mean length — every
    * number composed from the SAME shared rules the pipeline
    * enforces (contentKey, the q33 pair set, decontaminate), so the
    * card can never disagree with the operators it summarizes. All
    * counts exact; the mean is ONE division of exact integers.
    *
    * Scale shape: three independent partial-agg passes + the gated
    * q33/q70 operators' own plans, joined as one-row broadcasts. */
  def datasetCard(spark: SparkSession, dir: String): DataFrame = {
    val docs = spread(load(spark, dir, "documents"))
    val base = docs.agg(
      count(lit(1)).as("n_docs"),
      sum(size(tokens(col("text"))).cast(LongType)).as("n_tokens"),
      countDistinct(col("lang")).as("n_langs"),
      countDistinct(col("source")).as("n_sources"))
    val dupGroups = docs
      .groupBy(graft.dedup.Dedup.contentKey(col("text")).as("ck"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") > 1L)
      .agg(count(lit(1)).as("n_exact_dup_groups"))
    val pairs = graft.dedup.Dedup.jaccardEdges(spark, dir)
      .agg(count(lit(1)).as("n_neardup_pairs"))
    val cont = decontaminate(spark, dir)
      .agg(count(lit(1)).as("n_contaminated"))
    base.crossJoin(broadcast(dupGroups))
      .crossJoin(broadcast(pairs))
      .crossJoin(broadcast(cont))
      .withColumn("mean_tokens",
        col("n_tokens").cast(DoubleType) / col("n_docs"))
  }

  /** q343 — PER-DOC BUILD LINEAGE: the drill-down behind q313's
    * stage counts — for EVERY document, the boolean trail of why it
    * survived or where it fell (bench held-out, too short,
    * contaminated, exact-duplicate, near-dup removed, IMAGE near-dup
    * removed, AUDIO near-dup removed) plus the final verdict. This is
    * the "why is doc 4711 not in the corpus?" support query, and the
    * reconciliation target that keeps the aggregate waterfall honest
    * (each stage count is a SUM over these flags — spec-pinned against
    * q313). Flags compose the SAME shared rules (isBench, length gate,
    * decontaminate, contentKey, dedupClusters, and the
    * mediaFlags/imageClusters/audioClusters trio — the media flags run
    * the REAL codec pipelines); the kept rule is the exact q313 chain.
    *
    * Scale shape: one base pass + slim semi-joinable flag sets
    * (contaminated O(hits), duplicate labels O(duplicates)), plus the
    * two media stages' corpus-wide fingerprint joins (narrow —
    * (doc_id, cluster) only); output O(n) booleans — the shape a
    * support tool filters by doc_id. */
  def docLineage(spark: SparkSession, dir: String): DataFrame =
    // ONE-PASS FLAG FORM (optimization r17, guide §2.4 — the q313 move
    // applied to the per-doc rows): the first spelling chained
    // flagged → survivors4 → kept5 → mediaFlags and then LEFT-JOINED
    // each stage frame back onto the base, so every join input
    // re-derived its whole prefix (the corpus tokenize/contentKey pass
    // ran once per stage frame; ReusedExchange cannot dedupe the
    // differing window subtrees — the r16 checkpoint attempt measured
    // 1.15× and was reverted). Now the per-doc trail reads straight
    // off [[stageFlags]]'s single annotated pass: each output column
    // is a boolean identity over consecutive stage flags, and the
    // q313↔q343 reconciliation (each waterfall count = SUM over these
    // flags) holds by construction — both queries render the SAME
    // frame. Column equivalence to the chained form, row by row:
    //   is_bench              = !f2            (definition of f2)
    //   exact_duplicate       = f4 && !f5      (canonicality is only
    //                                           defined among stage-4
    //                                           survivors; others false)
    //   neardup_removed       = f5 && !f6      (cluster min among s5)
    //   image_neardup_removed = f6 && !f7      (mediaFlags img_rm rule)
    //   audio_neardup_removed = f7 && !f8      (mediaFlags aud_rm rule)
    //   kept                  = f8             (survived all stages)
    stageFlags(spark, dir)
      .select(col("doc_id"),
        (!col("f2")).as("is_bench"),
        col("too_short"),
        col("contaminated"),
        (col("f4") && !col("f5")).as("exact_duplicate"),
        (col("f5") && !col("f6")).as("neardup_removed"),
        (col("f6") && !col("f7")).as("image_neardup_removed"),
        (col("f7") && !col("f8")).as("audio_neardup_removed"),
        col("f8").as("kept"))
      .orderBy(col("doc_id"))

  /** q348 — PER-SOURCE DATASET CARDS: q342's release datasheet at
    * feed granularity — one row per source with volume, language
    * spread, exact-duplicate involvement (docs whose content key
    * repeats anywhere in the corpus, charged to their source) and
    * benchmark contamination — the table a feed review walks top to
    * bottom when deciding renewals. Same shared rules as the global
    * card (contentKey, decontaminate), so drilling from q342 to q348
    * can never change a total. One base rollup + two slim flag
    * joins; output O(sources). */
  def sourceCards(spark: SparkSession, dir: String): DataFrame = {
    val docs = spread(load(spark, dir, "documents"))
    val dupKeys = docs
      .groupBy(graft.dedup.Dedup.contentKey(col("text")).as("ck"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1L)
      .select(col("ck"))
    val cont = decontaminate(spark, dir)
      .select(col("doc_id"), lit(1L).as("contaminated"))
    docs.select(col("doc_id"), col("source"), col("lang"),
        size(tokens(col("text"))).cast(LongType).as("ntok"),
        graft.dedup.Dedup.contentKey(col("text")).as("ck"))
      .join(broadcast(dupKeys.withColumn("isdup", lit(1L))), Seq("ck"), "left")
      .join(cont, Seq("doc_id"), "left")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ntok")).as("n_tokens"),
        countDistinct(col("lang")).as("n_langs"),
        sum(coalesce(col("isdup"), lit(0L))).as("n_exact_dup_docs"),
        sum(coalesce(col("contaminated"), lit(0L))).as("n_contaminated"))
      .withColumn("mean_tokens",
        col("n_tokens").cast(DoubleType) / col("n_docs"))
      .orderBy(col("source"))
  }

  /** EXACT order-statistic SELECTION without a global sort: the lower
    * median of lineitem's price column via two-level bucket selection
    * (the distributed quickselect shape): (1) one partial-aggregable
    * pass counts rows per 4096-cent bucket; (2) the cumulative walk
    * over the TINY bucket histogram locates the bucket containing rank
    * k = (n+1)/2 and the residual in-bucket rank; (3) only THAT
    * bucket's rows — n/buckets of the data — are ranked. A global
    * ORDER BY would shuffle-sort everything for one row; this sorts
    * ~0.02% of it. Cents are exact (decimal ×100 → int64), so bucket
    * boundaries cannot ride a float.
    *
    * Generalizes to any k-th order statistic / multi-quantile batch
    * (one bucket pass serves all quantiles); q52 keeps the per-group
    * small-domain form, q90/q95 the full-CDF forms. */
  def medianSelection(spark: SparkSession, dir: String): DataFrame = {
    val BucketCents = 4096L
    val s = load(spark, dir, "lineitem")
      .select((d2(col("l_extendedprice")) * 100).cast(LongType).as("cents"))
      .withColumn("bkt", expr(s"cents div $BucketCents"))
    val hist = s.groupBy(col("bkt")).agg(count(lit(1)).as("c"))
    val wCum = Window.orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = s.agg(count(lit(1)).as("n"))
    // the one-row target: bucket holding rank k, plus the in-bucket rank
    val target = hist.withColumn("cum", sum(col("c")).over(wCum))
      .crossJoin(broadcast(tot))
      .withColumn("k", expr("(n + 1) div 2"))
      .filter(col("cum") >= col("k") && col("cum") - col("c") < col("k"))
      .select(col("bkt"), (col("k") - (col("cum") - col("c"))).as("r"),
        col("n"))
    val wIn = Window.partitionBy(col("bkt")).orderBy(col("cents"))
    s.join(broadcast(target), "bkt")
      .withColumn("rn", row_number().over(wIn))
      .filter(col("rn") === col("r"))
      .select(col("n"),
        (col("cents").cast(DoubleType) / 100.0).as("median"))
  }

  /** WEIGHTED median — q139's two-level bucket selection generalized to
    * weights: the median UNIT price across all quantity units (each row
    * counts l_quantity times) without materializing the expansion and
    * without a global sort. Level 1: per-bucket weight totals + one
    * cumulative window over O(buckets) rows finds the bucket holding
    * weighted rank k=(W+1)/2 and the residual rank r inside it. Level
    * 2: only that bucket's per-value weight histogram is cumulated.
    * All ranks/weights are exact int64; the value rides cents. The
    * weighted form is what price indices / effort-weighted SLO
    * percentiles need — an unweighted median of line items would
    * over-count small orders. */
  def weightedMedian(spark: SparkSession, dir: String): DataFrame = {
    val BucketCents = 4096L
    val s = load(spark, dir, "lineitem")
      .select((d2(col("l_extendedprice")) * 100).cast(LongType).as("cents"),
        col("l_quantity").cast(LongType).as("w"))
      .withColumn("bkt", expr(s"cents div $BucketCents"))
    val hist = s.groupBy(col("bkt")).agg(sum(col("w")).as("wc"))
    val wCum = Window.orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = s.agg(sum(col("w")).as("tw"))
    val target = hist.withColumn("cum", sum(col("wc")).over(wCum))
      .crossJoin(broadcast(tot))
      .withColumn("k", expr("(tw + 1) div 2"))
      .filter(col("cum") >= col("k") && col("cum") - col("wc") < col("k"))
      .select(col("bkt"), (col("k") - (col("cum") - col("wc"))).as("r"),
        col("tw"))
    val inBucket = s.join(broadcast(target), "bkt")
      .groupBy(col("bkt"), col("r"), col("tw"), col("cents"))
      .agg(sum(col("w")).as("wc2"))
    val wIn = Window.partitionBy(col("bkt")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    inBucket.withColumn("cum2", sum(col("wc2")).over(wIn))
      .filter(col("cum2") >= col("r") && col("cum2") - col("wc2") < col("r"))
      .select(col("tw").as("total_weight"),
        (col("cents").cast(DoubleType) / 100.0).as("weighted_median"))
  }

  /** Corpus-wide percentile rank per document WITHOUT a global sort:
    * `percent_rank() OVER (ORDER BY x)` forces all rows through one
    * sorted partition — the classic scale cliff. Instead: build the
    * value HISTOGRAM (tiny: O(distinct lengths)), cumulative-sum it
    * (the only unpartitioned window, over the histogram not the
    * corpus), and broadcast-join the CDF back. Each doc's rank is then
    * `strictly_below / (n - 1)` — integer-exact operands, one IEEE
    * division, identical to SQL PERCENT_RANK tie semantics (all ties
    * share rank = 1 + count-below). The quality-score normalization
    * step of a corpus filter, at scan speed. */
  def percentileRank(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
      .select(col("doc_id"), col("n_chars"))
    val hist = docs.groupBy(col("n_chars").as("v"))
      .agg(count(lit(1)).as("c"))
    val w = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    // the corpus size rides the SAME histogram window pass as the CDF
    // (full-frame sum over the tiny histogram) — a separate count would
    // re-scan the corpus through the histogram's lineage
    val wAll = Window.orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cdf = hist
      .withColumn("below", coalesce(sum(col("c")).over(w), lit(0L)))
      .withColumn("n_docs", sum(col("c")).over(wAll))
    // null-safe join: a NULL metric row must stay present (dropping it
    // would silently diverge from the window oracle's row count);
    // fixture metrics are non-null, and NULL ordering semantics are
    // out of contract either way
    docs.join(broadcast(cdf), col("n_chars") <=> col("v"))
      .select(col("doc_id"), col("n_chars"),
        // n = 1 guard: PERCENT_RANK defines the single-row rank as 0,
        // where below/(n-1) would be 0/0 = NaN
        when(col("n_docs") > 1,
          col("below").cast(DoubleType) / (col("n_docs") - 1))
          .otherwise(lit(0.0)).as("pct_rank"))
      .orderBy(col("doc_id"))
  }

  /** The corpus's benchmark slice — ONE definition shared by the
    * decontamination queries and the end-to-end build. */
  private[graft] def isBench(docId: Column): Column = docId % 20 === 0

  /** The q69 leak-free 8/1/1 hash-split rule — one definition shared by
    * the q69 stats query and the end-to-end build. */
  private def withSplit(df: DataFrame): DataFrame =
    df.withColumn("b", hashBucket(col("doc_id"), 10))
      .withColumn("split",
        when(col("b") < 8, "train").when(col("b") === 8, "val")
          .otherwise("test"))
      .drop("b")

  /** Media-cluster labels from a near-dup PAIR set: label = the
    * minimum doc reachable in ONE hop (min over a doc's lesser
    * partners, or itself). Exact for transitively-closed pair sets —
    * the generated media corpora plant complete cliques per scene/clip
    * group, so every member pairs directly with the cluster minimum —
    * which MultimodalSpec/AudioSpec's planted-distance gates imply; a
    * general sparse pair graph needs q67's label-propagation loop
    * instead. Output is the slim (doc_id, cluster_id) frame the build
    * stages join on. */
  private def pairClusters(pairs: DataFrame): DataFrame = {
    val asB = pairs.groupBy(col("doc_b"))
      .agg(min(col("doc_a")).as("cluster_id"))
      .select(col("doc_b").as("doc_id"), col("cluster_id"))
    val asA = pairs
      .select(col("doc_a").as("doc_id"), col("doc_a").as("cluster_id"))
      .distinct()
    asB.unionByName(asA)
      .groupBy(col("doc_id")).agg(min(col("cluster_id")).as("cluster_id"))
  }

  /** BOTH media-dedup stages in ONE pass: annotate the text survivors
    * with boolean verdicts `img_rm` (not the image cluster's minimum
    * surviving member) and `aud_rm` (survived images, but not the
    * audio cluster's minimum image-surviving member); docs outside a
    * cluster pass through (the null-key window partitions them alone
    * via `coalesce(key, -doc_id)` — no giant null partition). The
    * SHARED stage rule of the build (prepareCorpus), the waterfall
    * (q313) and the lineage (q343) — the three can never fork — and
    * the reason each caller renders the media pair pipelines ONCE:
    * stage membership is a flag filter over this single frame, not a
    * chain of per-stage frames whose branches re-run the codec work
    * (the first spelling cost q343 2.2× at sf0.1). Unlike the sparse
    * text-cluster stage, media clusters cover most of the corpus
    * (every doc carries artwork/audio), so the cluster maps join by
    * shuffle — NOT broadcast. */
  private def mediaFlags(survivors: DataFrame,
      imgClusters: DataFrame, audClusters: DataFrame): DataFrame = {
    val j = survivors
      .join(imgClusters.withColumnRenamed("cluster_id", "icl"),
        Seq("doc_id"), "left")
      .join(audClusters.withColumnRenamed("cluster_id", "acl"),
        Seq("doc_id"), "left")
    val wI = Window.partitionBy(coalesce(col("icl"), -col("doc_id")))
    val wA = Window.partitionBy(coalesce(col("acl"), -col("doc_id")))
    j.withColumn("img_rm",
        col("icl").isNotNull &&
          col("doc_id") =!= min(col("doc_id")).over(wI))
      .withColumn("aud_rm",
        !col("img_rm") && col("acl").isNotNull &&
          col("doc_id") =!= min(when(!col("img_rm"), col("doc_id"))).over(wA))
      .drop("icl", "acl")
  }

  /** Image near-dup POLICY for the corpus build: which fingerprint +
    * banding family the image stage runs — the radius knob a real
    * build config carries. [[NarrowRadius3]] is q357's 64-bit aHash
    * under 4×16 banding (lossless to Hamming 3); [[WideRadius7]] is
    * q375's 256-bit quad fingerprint under 8×32 `multiBands`
    * (lossless to Hamming 7). The two are NOT interchangeable knob
    * positions on one pipeline — that is the point: widening the
    * radius on the single-word 8×8 split is the measured quadratic
    * killer (candidate exponent 2.00 at 50 k→500 k docs, SCALE.md
    * §18/§20), so the policy type makes "wider radius" arrive
    * ONLY with the banding whose candidate exponent stays 1.00.
    * q376's occupancy audit is the guard to run on a corpus before
    * adopting [[WideRadius7]]: its `noise_flagged` tripwire names the
    * corpus whose collision noise would dominate (and hence needs a
    * fifth hash word) BEFORE the build pays a quadratic stage.
    *
    * A policy carries everything the ingest path needs of it: its
    * `name` in the index meta, the band rows of a doc-id frame
    * (`bandsOf` — the probe side AND the index row shape of the
    * ingest image gate), and the hash words and radius its probe
    * verifies — radius and banding move TOGETHER, so a corpus built
    * wide is ingested wide (radius-4..7 near-dups cannot re-enter
    * through the ingest side door, VERDICT r14 #2). */
  sealed abstract class ImageDedupPolicy(val name: String,
      val bandsOf: DataFrame => DataFrame, val hashCols: Seq[String],
      val maxDist: Int) {
    /** The policy's probe verdict: delta band rows against corpus band
      * rows, one verdict row per `deltaIds` doc. */
    def probe(deltaBands: DataFrame, corpusBands: DataFrame,
        deltaIds: DataFrame): DataFrame =
      graft.multimodal.Multimodal.bandProbeVerdict(deltaBands, corpusBands,
        deltaIds, hashCols, maxDist)
  }
  /** Radius ≤ 3: q357's aHash + 4×16 pigeonhole banding. */
  case object NarrowRadius3 extends ImageDedupPolicy("narrow_radius3",
    graft.multimodal.Multimodal.imageBandsOf(_), Seq("ahash"), 3)
  /** Radius ≤ 7: q375's quad-256 fingerprint + 8×32 multiBands. */
  case object WideRadius7 extends ImageDedupPolicy("wide_radius7",
    graft.multimodal.Multimodal.quadBandsOf(_),
    graft.multimodal.Multimodal.QuadWords, 7)

  /** The build's media cluster maps — image clusters from the policy's
    * REAL render→codec→decode→fingerprint pair pipeline (q357 narrow /
    * q375 wide), audio clusters from q362's WAV fingerprint pairs. One
    * definition for build, waterfall and lineage. */
  private def imageClusters(spark: SparkSession, dir: String,
      policy: ImageDedupPolicy = NarrowRadius3,
      quadHashes: Option[DataFrame] = None): DataFrame =
    pairClusters(policy match {
      case NarrowRadius3 =>
        graft.multimodal.Multimodal.imageNearDupGenerated(spark, dir)
      case WideRadius7 => quadHashes match {
        // the build hands in its once-decoded fingerprint frame (the
        // guard already paid for it); standalone callers decode inline
        case Some(h) =>
          graft.multimodal.Multimodal.imageNearDupQuad256From(h)
        case None =>
          graft.multimodal.Multimodal.imageNearDupQuad256(spark, dir)
      }
    })

  private def audioClusters(spark: SparkSession, dir: String): DataFrame =
    pairClusters(graft.multimodal.Audio.audioNearDup(spark, dir))

  /** End-to-end training-corpus build — the composition a user of this
    * library actually runs, chaining the operator families end to end:
    *
    *  1. eligibility:   drop the bench slice, contaminated docs (q70's
    *                    verdict), and low-quality docs (< 10 tokens)
    *  2. exact dedup:   keep each content group's minimum ELIGIBLE doc
    *  3. near-dup:      keep each q67 cluster's minimum ELIGIBLE
    *                    survivor — gates run FIRST so an excluded
    *                    cluster minimum never drags its clean siblings
    *                    out of the corpus with it
    *  4. image dedup:   each doc's attached artwork runs the
    *                    `imagePolicy`'s REAL codec near-dup pipeline
    *                    (q357's radius-3 aHash by default; q375's
    *                    radius-7 quad-256 under [[WideRadius7]] — see
    *                    [[ImageDedupPolicy]] for why the radius and
    *                    the banding move together); every image
    *                    cluster keeps its minimum TEXT-SURVIVING
    *                    member (same gates-first rule as stage 3)
    *  5. audio dedup:   the same with q362's acoustic fingerprints
    *  6. split:         leak-free 8/1/1 by doc-hash (the q69 rule,
    *                    shared code)
    *  7. write:         parquet partitioned by split — downstream
    *                    trainers read their split's directory only
    *
    * Scale shape, stated honestly: the contamination verdict and the
    * text cluster map are tiny per-doc_id frames (near-dup relations
    * are sparse) and broadcast; the exact-dedup canonical choice is
    * NOT tiny and therefore runs as an in-line window over the content
    * key — one wide shuffle of the eligible corpus, the same cost
    * exactDedup itself pays, not a second scan plus giant semi-join.
    * The media cluster maps are corpus-sized (every doc carries
    * media), so their stages shuffle-join on doc_id; the heavy part —
    * decode + fingerprint — is the narrow banded-pair machinery the
    * standalone gates already soaked. Returns the per-split summary;
    * composition contracts are gated in PipelineSpec. */
  def prepareCorpus(spark: SparkSession, dir: String, outDir: String,
      imagePolicy: ImageDedupPolicy = NarrowRadius3): DataFrame = {
    // the wide policy's safety interlock (VERDICT r14 #3): q376's
    // noise tripwire runs WHERE the risk is taken — a corpus whose
    // quad-band candidates are collision-noise-dominated must not pay
    // the wide image stage (it needs a fifth hash word first), and
    // the guard the ImageDedupPolicy doc promises now actually runs
    // in the build that takes the risk. Decode-once discipline: the
    // quad fingerprint frame (the build's most expensive pass)
    // materializes to a per-call scratch parquet and feeds BOTH the
    // guard and the image cluster stage — one decode, two consumers.
    val quadHashes: Option[DataFrame] = imagePolicy match {
      case WideRadius7 =>
        val h = snapshot(spark, graft.multimodal.Multimodal.quadHash(
            graft.multimodal.Multimodal.generatedMediaQuad256(spark, dir)).toDF(),
          graft.util.Scratch.indexDir("graft_wide_quad", dir))
        guardWideBandingFrom(h)
        Some(h)
      case NarrowRadius3 => None
    }
    val docs = spread(load(spark, dir, "documents"))
    val contaminated = decontaminate(spark, dir).select(col("doc_id"))
    val eligible = docs
      .filter(!isBench(col("doc_id"))) // the bench slice never trains
      .join(contaminated, Seq("doc_id"), "left_anti")
      .filter(size(tokens(col("text"))) >= 10)
    // exact dedup among the eligible: min doc_id per normalized
    // content (the shared Dedup.contentKey rule). NOTE the shuffle here
    // is corpus-WIDTH — survivors must keep all their columns through
    // the exchange — unlike exactDedup's narrow (doc_id, key) shuffle;
    // at the extreme, dedup ids first and semi-join text back.
    val wContent = Window.partitionBy(col("ck"))
    val canonical = eligible
      .withColumn("ck", graft.dedup.Dedup.contentKey(col("text")))
      .withColumn("ck_min", min(col("doc_id")).over(wContent))
      .filter(col("doc_id") === col("ck_min"))
      .drop("ck", "ck_min")
    // near-dup: keep each cluster's minimum surviving member; docs in
    // no cluster pass through (left join -> null cluster_id)
    val clusters = graft.dedup.Dedup.dedupClusters(spark, dir)
      .select(col("doc_id"), col("cluster_id"))
    val joined = canonical.join(broadcast(clusters), Seq("doc_id"), "left")
    // split the frames BEFORE the window: unclustered docs (the vast
    // majority) would otherwise all share one null window partition
    val unclustered = joined.filter(col("cluster_id").isNull)
      .drop("cluster_id")
    val wCluster = Window.partitionBy(col("cluster_id"))
    val clusterReps = joined.filter(col("cluster_id").isNotNull)
      .withColumn("cl_min", min(col("doc_id")).over(wCluster))
      .filter(col("doc_id") === col("cl_min"))
      .drop("cluster_id", "cl_min")
    val kept = unclustered.unionByName(clusterReps)
    // media near-dup: the doc's artwork/audio ride the build through
    // the REAL codec pipelines; text survivors enter first, so a
    // media-dropped doc never drags its clean siblings out (the
    // gates-first rule, applied again)
    val keptMedia = mediaFlags(kept,
        imageClusters(spark, dir, imagePolicy, quadHashes),
        audioClusters(spark, dir))
      .filter(!col("img_rm") && !col("aud_rm"))
      .drop("img_rm", "aud_rm")
    withSplit(keptMedia).write.mode("overwrite").partitionBy("split").parquet(outDir)
    // the image policy travels WITH the artifact (underscore-prefixed
    // dir — invisible to the corpus read): an ingest writer left at
    // its default parameter on a wide-built corpus must fail loudly
    // instead of silently reopening the radius-4..7 side door
    // (ADVICE r15) — [[ingestBatch]]/[[ingestBatchIndexed]] validate
    // against this meta.
    writePolicyMeta(spark, imagePolicy, s"$outDir/_image_policy")
    spark.read.parquet(outDir)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("split"))
  }

  /** The CORPUS-SIDE HANDLES the ingest gauntlet probes — one frame
    * per gate: (doc_id, ck) identity/content keys, text LSH band rows
    * + shingle-hash sets (q285's machinery), image fingerprint bands
    * (policy-shaped: q357's aHash 4×16 or q375's quad-256 8×32), audio
    * fingerprint bands (q362's). [[ingestBatch]] computes them inline
    * from the artifact — O(corpus) signature/fingerprint work per
    * batch, the small-corpus spelling; [[ingestBatchIndexed]] READS
    * them from [[saveIngestIndexes]]'s parquet and maintains them on
    * append — the 100 TB shape, where corpus signatures are paid once
    * per corpus and a batch pays O(batch) plus band-pruned joins. The
    * gauntlet itself ([[ingestGauntlet]]) is one shared function, so
    * the two forms can never fork. */
  private[graft] case class IngestHandles(keys: DataFrame, textBands: DataFrame,
    textSets: DataFrame, imageBands: DataFrame, audioBands: DataFrame)

  private[graft] object IngestHandles {
    /** The five handles of a (doc_id, text) frame under `policy`. */
    def of(docs: DataFrame, policy: ImageDedupPolicy): IngestHandles = {
      val ids = docs.select(col("doc_id"))
      IngestHandles(
        keys = docs.select(col("doc_id"),
          graft.dedup.Dedup.contentKey(col("text")).as("ck")),
        textBands = graft.dedup.Dedup.textBandRows(docs),
        textSets = graft.dedup.Dedup.shingleSets(docs),
        imageBands = policy.bandsOf(ids),
        audioBands = graft.multimodal.Audio.audioBandsOf(ids))
    }

    /** The handles whose every frame is `frame` of its [[IndexAsset]]. */
    def from(frame: IndexAsset => DataFrame): IngestHandles =
      IngestHandles(frame(KeysAsset), frame(TextBandsAsset),
        frame(TextSetsAsset), frame(ImageBandsAsset), frame(AudioBandsAsset))
  }

  /** One asset of the persisted ingest index: its directory name, the
    * handle it stores, its schema under a policy, and its layout. A band
    * asset (`sortKey` None) is partitioned by band and sorted on (band,
    * bkey); the others are sorted on `sortKey` — keys by content key (the
    * exact-stage probe key), shingle sets by doc_id (the candidate-fetch
    * join key).
    *
    * A build lands SORTED (VERDICT r15 #1): range-partitioned and sorted
    * before it is written, so each parquet file/row-group covers a tight
    * key range and min/max stats can skip everything a probe's key set
    * does not touch — range partitioning (not `repartition(col("band"))`)
    * keeps the write parallel at any asset size instead of collapsing to
    * one task per band. An append sorts only, never re-ranges: a per-
    * batch append is small, and repartitionByRange's sampling pass and
    * 32-way shuffle would add fixed jobs and a fan of tiny files to every
    * ingest. Each appended file still lands internally sorted, so its
    * row-group min/max stats stay tight; the file-count growth is the
    * compaction routine's job, not the writer's. */
  private[graft] case class IndexAsset(name: String,
      of: IngestHandles => DataFrame, schema: ImageDedupPolicy => StructType,
      sortKey: Option[String] = None) {
    def write(df: DataFrame, indexDir: String, append: Boolean): Unit = {
      val sortCols = sortKey.fold(Seq("band", "bkey"))(Seq(_)).map(col)
      val ranged = if (append) df else df.repartitionByRange(sortCols: _*)
      val w = ranged.sortWithinPartitions(sortCols: _*)
        .write.mode(if (append) "append" else "overwrite")
      (if (sortKey.isEmpty) w.partitionBy("band") else w)
        .parquet(s"$indexDir/$name")
    }

    def read(spark: SparkSession, indexDir: String,
        policy: ImageDedupPolicy): DataFrame =
      readWritten(spark, s"$indexDir/$name", schema(policy))
  }

  private val KeysAsset = IndexAsset("keys", _.keys,
    _ => StructType(Seq(StructField("doc_id", LongType),
      StructField("ck", StringType))), Some("ck"))
  private val TextBandsAsset = IndexAsset("text_bands", _.textBands,
    _ => graft.dedup.Dedup.TextBandSchema)
  private val TextSetsAsset = IndexAsset("text_shingles", _.textSets,
    _ => graft.dedup.Dedup.ShingleSetSchema, Some("doc_id"))
  private val ImageBandsAsset = IndexAsset("image_bands", _.imageBands,
    p => graft.functions.Banding.hashBandSchema(p.hashCols))
  private val AudioBandsAsset = IndexAsset("audio_bands", _.audioBands,
    _ => graft.functions.Banding.hashBandSchema(Seq("fp")))

  /** Write one frame per asset (`frame`) into the index at `indexDir`:
    * the four band/set assets target disjoint paths, so they run
    * CONCURRENTLY (optimization r16, guide §2.6: wall-clock pays
    * max(write), not Σ(write), and independent jobs back-fill each
    * other's straggler tails); `frame` is evaluated inside each asset's
    * own job. The KEYS asset writes LAST and alone, after every band/set
    * write has succeeded — the keys sidecar is the index's COMMIT MARKER
    * (VERDICT r15 #2): a doc present in keys is guaranteed fully
    * indexed, so [[repairIngestIndexes]]' keys anti-join finds EVERY
    * partially-indexed doc, and a crashed build (no keys) is told apart
    * exactly like a crashed append. */
  private def writeIndex(indexDir: String, append: Boolean)(
      frame: IndexAsset => DataFrame): Unit = {
    graft.util.Concurrency.awaitSettled(
      Seq(TextBandsAsset, TextSetsAsset, ImageBandsAsset, AudioBandsAsset)
        .map(a => () => a.write(frame(a), indexDir, append)))
    KeysAsset.write(frame(KeysAsset), indexDir, append)
  }

  /** The persisted ingest index at `indexDir`: its recorded image policy
    * (one job, the meta row) and its five assets, each read with its
    * writer's schema — no schema-inference job. */
  private[graft] def openIngestIndex(spark: SparkSession,
      indexDir: String): (ImageDedupPolicy, IngestHandles) = {
    val policy = readPolicy(spark, s"$indexDir/meta")
    (policy, IngestHandles.from(_.read(spark, indexDir, policy)))
  }

  /** The stage-1/3 corpus-key probe of the ingest gauntlet, factored
    * so PlanSpec can pin its physical shape: which of the batch's keys
    * does the index already hold? Runs FROM THE INDEX SIDE as a
    * broadcast left-semi join — one narrow index scan, NO shuffle of
    * the index (the 100 TB contract; a plain left join would sort-
    * merge the whole sidecar per batch) — and only the tiny hit set
    * shuffles (the defensive distinct) before broadcasting back onto
    * the batch. */
  private[graft] def indexHits(indexKeys: DataFrame, batchKeys: DataFrame,
      key: String, flag: String): DataFrame =
    indexKeys.select(col(key))
      .join(broadcast(batchKeys.select(col(key)).distinct()),
        Seq(key), "left_semi")
      .distinct()
      .withColumn(flag, lit(true))

  /** The wide build's banding guard — q376's `noise_flagged` tripwire
    * evaluated on the quad fingerprint frame and ENFORCED: when the
    * 8×32 quad family's band candidates are majority collision noise,
    * a radius-7 build would pay a near-quadratic image stage, so the
    * build refuses and names the fix (a fifth `multiBands` word).
    * Factored over a hash frame so the spec can feed the degenerate
    * corpus ([[graft.multimodal.Multimodal.bandingAudit256From]]'s
    * pattern); [[prepareCorpus]] feeds the real decode path. */
  private[graft] def guardWideBandingFrom(hashes: DataFrame): Unit = {
    val aud = graft.multimodal.Multimodal.bandingAudit256From(hashes)
      .filter(col("family") === "quad256_8x32").head()
    if (aud.getBoolean(5)) throw new IllegalStateException(
      "WideRadius7 build refused: quad-256 band candidates are noise-" +
        s"dominated (n_noise=${aud.getLong(4)} of n_candidates=" +
        s"${aud.getLong(2)}) — this corpus needs a fifth multiBands " +
        "word before a radius-7 build is safe (q376's tripwire)")
  }

  private val PolicySchema = StructType(Seq(StructField("image_policy", StringType)))

  private def writePolicyMeta(spark: SparkSession, p: ImageDedupPolicy,
      path: String): Unit = {
    import spark.implicits._
    Seq(p.name).toDF("image_policy")
      .write.mode("overwrite").parquet(path)
  }

  /** The policy [[writePolicyMeta]] recorded at `path`. */
  private def readPolicy(spark: SparkSession, path: String): ImageDedupPolicy = {
    val name = readWritten(spark, path, PolicySchema).head().getString(0)
    Seq(NarrowRadius3, WideRadius7).find(_.name == name).getOrElse(
      throw new IllegalArgumentException(
        s"unknown image policy in index meta: $name"))
  }

  /** The policy recorded in the artifact by [[prepareCorpus]] — None
    * for artifacts predating the meta (those trust the caller's
    * parameter, the documented legacy contract). */
  private def artifactPolicy(spark: SparkSession,
      corpusDir: String): Option[ImageDedupPolicy] = {
    val path = new org.apache.hadoop.fs.Path(corpusDir, "_image_policy")
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(path)) Some(readPolicy(spark, path.toString)) else None
  }

  /** Fail loudly when a writer's policy disagrees with the one the
    * artifact was built under (ADVICE r15: a forgotten default
    * parameter must not silently probe a wide corpus narrow). */
  private def requirePolicyMatches(spark: SparkSession, corpusDir: String,
      used: ImageDedupPolicy, source: String): Unit =
    artifactPolicy(spark, corpusDir).foreach { ap =>
      require(ap == used,
        s"corpus artifact at $corpusDir was built ${ap.name} but " +
          s"$source supplies ${used.name} — pass the artifact's " +
          "policy (the radius-4..7 ingest side door stays closed)")
    }

  /** Internal gauntlet column names — reserved on the batch frame so
    * flag columns can ride next to the batch's own columns (the
    * accepted APPEND must carry every artifact column, and carrying
    * them through the flag frame is what makes the append pick the
    * CANONICAL row when a batch held the same doc_id twice). */
  private val IngestReserved = Seq("ck", "id_rn", "id0", "id_dup",
    "too_short", "m", "k0", "exact_dup", "t0", "text_dup", "i0",
    "img_dup", "a0", "aud_dup", "split")

  /** INCREMENTAL CORPUS INGEST — the shared gauntlet behind
    * [[ingestBatch]] (inline corpus handles) and [[ingestBatchIndexed]]
    * (persisted-index handles): append an incoming batch of documents
    * to an EXISTING corpus artifact ([[prepareCorpus]]'s layout) by
    * probing the handles — never a rebuild, never a corpus self-join.
    *
    * The gauntlet, cheapest gate first, every rule the gated shared
    * definition: (1) id guard — exact re-delivery of an already-
    * ingested doc_id drops immediately, and so does every non-
    * canonical row of a doc_id the BATCH carries twice (deterministic
    * canonical: smallest (content key, text) — without this, two
    * same-id rows with different text would each canonicalize its own
    * content group and both append, breaking the artifact's unique-id
    * invariant; ADVICE r14); (2) length gate; (3) exact content —
    * each batch content group keeps its min doc (the build's
    * canonical rule) and content the artifact already holds drops;
    * (4) text near-dup — [[graft.dedup.Dedup.textProbeAgainst]]
    * (q285's machinery verbatim) against the corpus band/set handles;
    * (5)/(6) image/audio near-dup — the q379/q381 banded fingerprint
    * probes (policy-shaped image pipeline) against the corpus band
    * handles. Batches are expected internally near-dup-free (the
    * batch-side build dedups within the batch — the two-phase shape
    * of a real daily pipeline); within-batch EXACT dups are still
    * collapsed here because the canonical rule is one line, and the
    * audit's `8_intra_batch_neardup` row COUNTS accepted docs that
    * violate the near-dup-free contract (each accepted doc self-probes
    * the accepted set with the same text/image/audio machinery;
    * n_matches >= 2 means "me plus another accepted doc") — the
    * contract is no longer silent (ADVICE r14).
    *
    * Because accepted docs APPEND, a later batch probes the GROWN
    * artifact — re-delivering yesterday's accepted content (same ids
    * or re-keyed) drops at stage 1 or 3/4/5/6, which is the
    * idempotence contract PipelineSpec pins. Ingest never rewrites
    * history: artifact docs are untouched, so a batch doc near-dup of
    * a kept doc loses regardless of doc_id order (unlike the batch
    * rebuild, which re-elects cluster minima — documented divergence,
    * the price of an append-only corpus).
    *
    * Returns the stage-count audit (q329's dashboard shape). Stage
    * counts are materialized BEFORE any append (one aggregation over
    * one persisted O(batch) flag frame, then the accepted docs' bands
    * are snapshotted and self-probed), so the audit reads the pre-append
    * handles and no append can feed back into a probe's lineage; the
    * writes then read the same snapshots. `batch` must not itself be a
    * live read of `corpusDir` or the index. */
  private def ingestGauntlet(spark: SparkSession, corpusDir: String,
      batch: DataFrame, h: IngestHandles, imagePolicy: ImageDedupPolicy,
      maintainIndex: Option[String]): DataFrame = {
    import graft.dedup.Dedup
    import graft.multimodal.{Audio, Multimodal}
    val clash = batch.columns.toSet.intersect(IngestReserved.toSet)
    require(clash.isEmpty, s"batch columns clash with gauntlet internals: $clash")
    val artifactCols =
      spark.read.parquet(corpusDir).columns.toIndexedSeq
    // Stage-1/3 key probes run FROM THE INDEX SIDE as broadcast
    // left-semi joins (VERDICT r15 #1): the batch's distinct ids/
    // content keys broadcast (a daily batch's 8–16-byte key columns —
    // MBs at millions of docs), the keys sidecar streams through ONE
    // narrow scan with NO shuffle (a plain left join would sort-merge
    // the ENTIRE corpus sidecar on doc_id every batch — the right side
    // of a left-outer join cannot broadcast), and only the tiny hit
    // set — batch keys the corpus already holds — comes back to
    // broadcast-left-join onto the batch. The post-semi distinct is
    // over that tiny hit set (defensive against an invariant-violating
    // duplicated sidecar row silently duplicating batch rows), never
    // over the corpus. PlanSpec pins the shape: no Exchange between
    // the keys-index scan and its semi join.
    // the hit frames SNAPSHOT to scratch (the same discipline as the
    // accepted-rows snapshot below): each probe chain executes exactly
    // once, and everything downstream — including the repeated base
    // subtrees inside the flags plan — broadcasts a KB-sized parquet
    // instead of re-deriving a semi-join
    def snapHits(df: DataFrame, tag: String): DataFrame =
      snapshot(spark, df, graft.util.Scratch.indexDir(s"graft_hits_$tag", corpusDir))
    val idHits = snapHits(indexHits(h.keys, batch.select(col("doc_id")),
      "doc_id", "id0"), "id")
    val ckHits = snapHits(indexHits(h.keys,
      batch.select(Dedup.contentKey(col("text")).as("ck")), "ck", "k0"),
      "ck")
    val wId = Window.partitionBy(col("doc_id"))
      .orderBy(col("ck"), col("text"))
    val wC = Window.partitionBy(col("ck"))
    val base = batch
      .withColumn("ck", Dedup.contentKey(col("text")))
      .withColumn("id_rn", row_number().over(wId))
      .join(broadcast(idHits), Seq("doc_id"), "left")
      .withColumn("id_dup",
        coalesce(col("id0"), lit(false)) || col("id_rn") > 1)
      .drop("id0", "id_rn")
      .withColumn("too_short",
        !col("id_dup") && size(tokens(col("text"))) < 10)
      .withColumn("m",
        min(when(!col("id_dup") && !col("too_short"), col("doc_id")))
          .over(wC))
      .join(broadcast(ckHits), Seq("ck"), "left")
      .withColumn("exact_dup",
        !col("id_dup") && !col("too_short") &&
          (col("doc_id") =!= col("m") || coalesce(col("k0"), lit(false))))
      .drop("m", "k0")
    val s4 = base
      .filter(!col("id_dup") && !col("too_short") && !col("exact_dup"))
    val textDup = Dedup.textProbeAgainst(
        s4.select(col("doc_id"), col("text")), h.textBands, h.textSets)
      .filter(col("n_matches") > 0)
      .select(col("new_doc").as("doc_id"), lit(true).as("t0"))
    val withText = base.join(textDup, Seq("doc_id"), "left")
      .withColumn("text_dup", coalesce(col("t0"), lit(false))).drop("t0")
    val s5 = withText.filter(!col("id_dup") && !col("too_short") &&
      !col("exact_dup") && !col("text_dup"))
    val imgDup = imagePolicy.probe(imagePolicy.bandsOf(s5.select(col("doc_id"))),
        h.imageBands, s5.select(col("doc_id").as("new_doc")))
      .filter(col("n_matches") > 0)
      .select(col("new_doc").as("doc_id"), lit(true).as("i0"))
    val withImg = withText.join(imgDup, Seq("doc_id"), "left")
      .withColumn("img_dup", coalesce(col("i0"), lit(false))).drop("i0")
    val s6 = withImg.filter(!col("id_dup") && !col("too_short") &&
      !col("exact_dup") && !col("text_dup") && !col("img_dup"))
    val audDup = Multimodal.bandProbeVerdict(
        Audio.audioBandsOf(s6.select(col("doc_id"))),
        h.audioBands, s6.select(col("doc_id").as("new_doc")),
        Seq("fp"), 3)
      .filter(col("n_matches") > 0)
      .select(col("new_doc").as("doc_id"), lit(true).as("a0"))
    val flags = withImg.join(audDup, Seq("doc_id"), "left")
      .withColumn("aud_dup", coalesce(col("a0"), lit(false))).drop("a0")
      .persist()
    val acceptedPred = !col("id_dup") && !col("too_short") &&
      !col("exact_dup") && !col("text_dup") && !col("img_dup") &&
      !col("aud_dup")
    // accepted rows are SNAPSHOTTED to a scratch parquet before ANY
    // append runs — this is load-bearing, not tidiness: appending to
    // the key/band assets recaches-by-path every cached plan that
    // reads them (Spark's CacheManager), so a frame derived from
    // `flags` would silently RECOMPUTE against the grown index after
    // the first append — the batch's own rows would then look like
    // corpus duplicates and every later append would write nothing.
    // The snapshot cuts that lineage: every append below reads only
    // the scratch file, immune to invalidation and feedback. (The
    // scratch dir is per-call unique and deleted at JVM exit.)
    val scratch = graft.util.Scratch.indexDir("graft_ingest_acc", corpusDir)
    try {
      // ONE aggregation materializes every probe once, against the
      // pre-append handles
      def surv(cs: Column*) = sum(when(cs.reduce(_ && _), 1L).otherwise(0L))
      val c = flags.agg(
        count(lit(1)).as("n1"),
        surv(!col("id_dup")).as("n2"),
        surv(!col("id_dup"), !col("too_short")).as("n3"),
        surv(!col("id_dup"), !col("too_short"), !col("exact_dup")).as("n4"),
        surv(!col("id_dup"), !col("too_short"), !col("exact_dup"),
          !col("text_dup")).as("n5"),
        surv(!col("id_dup"), !col("too_short"), !col("exact_dup"),
          !col("text_dup"), !col("img_dup")).as("n6"),
        surv(!col("id_dup"), !col("too_short"), !col("exact_dup"),
          !col("text_dup"), !col("img_dup"), !col("aud_dup")).as("n7"))
        .head()
      // a fully-rejected batch (the idempotent-re-delivery steady
      // state) skips the snapshot, the self-probes, and every append:
      // each would be a fixed-cost Spark job writing nothing
      val intra = if (c.getLong(6) == 0L) 0L else {
        val accepted = snapshot(spark, flags.filter(acceptedPred), s"$scratch/accepted")
        val accDocs = accepted.select(col("doc_id"), col("text"))
        // each accepted band/set frame is materialized exactly ONCE, to
        // scratch, before anything reads it: the self-probes below and
        // the index appends all scan those files, so the signature/
        // shingle/decode work per accepted doc is paid once, not once
        // per consumer. A persist() would not do that here: the self-
        // probe plan scans each frame twice before its cache exists,
        // and AQE gives every such scan its own cache-building job.
        val accH = IngestHandles.of(accDocs, imagePolicy)
        val acc = IngestHandles.from(a => if (a == KeysAsset) accH.keys
          else snapshot(spark, a.of(accH), s"$scratch/${a.name}"))
        // within-batch near-dup audit (the batch contract, measured):
        // self-probes over the ACCEPTED set only — O(batch) band joins,
        // zero corpus work
        val accNew = accDocs.select(col("doc_id").as("new_doc"))
        val violations = Dedup.textProbeAgainst(accDocs,
            acc.textBands, acc.textSets)
          .filter(col("n_matches") >= 2).select(col("new_doc"))
          .unionByName(imagePolicy.probe(acc.imageBands, acc.imageBands, accNew)
            .filter(col("n_matches") >= 2).select(col("new_doc")))
          .unionByName(Multimodal.bandProbeVerdict(acc.audioBands,
              acc.audioBands, accNew, Seq("fp"), 3)
            .filter(col("n_matches") >= 2).select(col("new_doc")))
          .distinct().count()
        // APPEND ORDER IS A RECOVERY CONTRACT, two-phase: (1) the
        // artifact append runs FIRST and alone — the append-only
        // artifact is the source of truth, and a doc must never be
        // CLAIMED by the index (id-guard keys) before it exists in the
        // artifact, or a failed ingest re-delivered would drop the docs
        // at stage 1 and silently lose them; (2) the index appends
        // ([[writeIndex]]: band/set assets, then keys, the commit
        // marker). A failure anywhere between (1) and the keys append
        // leaves the artifact ahead of keys — one DETECTABLE divergence
        // class, reconciled in O(missing docs); run repair before the
        // next batch.
        withSplit(accepted
            .drop(IngestReserved.filterNot(_ == "split"): _*))
          .select(artifactCols.map(col): _*)
          .write.mode("append").partitionBy("split")
          .parquet(corpusDir)
        // the accepted docs' rows APPEND to the same assets the probe
        // read, so batch N+1 probes the grown index without a rebuild:
        // the q331/q380/q382 asset lifecycle kept current by the writer
        // itself. They read only the snapshots above.
        maintainIndex.foreach(ix => writeIndex(ix, append = true)(_.of(acc)))
        violations
      }
      import spark.implicits._
      Seq(("1_batch_total", c.getLong(0)), ("2_id_new", c.getLong(1)),
        ("3_min_length", c.getLong(2)), ("4_exact_new", c.getLong(3)),
        ("5_neardup_new", c.getLong(4)), ("6_image_new", c.getLong(5)),
        ("7_audio_new_accepted", c.getLong(6)),
        ("8_intra_batch_neardup", intra))
        .toDF("stage", "n_docs").orderBy(col("stage"))
    } finally flags.unpersist(): Unit
  }

  /** The INLINE incremental ingest writer: corpus handles recomputed
    * from the artifact on every call. HONEST COST STATEMENT (ADVICE
    * r14): this form re-shingles the corpus text and re-renders/
    * re-decodes the corpus media PER BATCH — O(corpus) signature and
    * fingerprint work each ingest. That is fine for a small artifact
    * or a one-off; a production daily feed at 100 TB uses
    * [[ingestBatchIndexed]], which reads the persisted handles
    * ([[saveIngestIndexes]]) and maintains them on append, paying
    * O(batch). The two forms share [[ingestGauntlet]] verbatim and
    * PipelineSpec pins their audits and artifacts byte-identical. */
  def ingestBatch(spark: SparkSession, corpusDir: String,
      batch: DataFrame,
      imagePolicy: ImageDedupPolicy = NarrowRadius3): DataFrame = {
    requirePolicyMatches(spark, corpusDir, imagePolicy,
      "ingestBatch's imagePolicy parameter")
    val docs = spark.read.parquet(corpusDir).select(col("doc_id"), col("text"))
    ingestGauntlet(spark, corpusDir, batch,
      IngestHandles.of(docs, imagePolicy), imagePolicy, None)
  }

  /** Build (or rebuild) the PERSISTED INGEST INDEXES for an existing
    * corpus artifact — the one-time corpus-side bill the index-backed
    * writer amortizes: content-key sidecar, text LSH bands + shingle
    * sets (q331's asset shape), policy-shaped image fingerprint bands
    * (q380's), audio fingerprint bands (q382's), each band table
    * partitioned by band so a probe prunes to its band's files, plus
    * a meta row recording the image policy — the probe reads the
    * policy FROM the index, so a corpus built wide can never be
    * accidentally probed narrow. Every asset lands range-sorted (see
    * [[IndexAsset]]): one extra range shuffle per asset, paid once per
    * corpus; keys land after the other assets and meta seals the build
    * (see [[writeIndex]]). */
  def saveIngestIndexes(spark: SparkSession, corpusDir: String,
      indexDir: String,
      imagePolicy: ImageDedupPolicy = NarrowRadius3): Unit = {
    val h = IngestHandles.of(
      spark.read.parquet(corpusDir).select(col("doc_id"), col("text")),
      imagePolicy)
    writeIndex(indexDir, append = false)(_.of(h))
    writePolicyMeta(spark, imagePolicy, s"$indexDir/meta")
  }

  /** The INDEX-BACKED incremental ingest writer — the 100 TB shape
    * (VERDICT r15 top item): every corpus-side handle is READ from
    * [[saveIngestIndexes]]'s parquet (band tables partition-pruned by
    * the probe's band column), so a batch pays O(batch) shingle/
    * fingerprint work — the corpus is never re-shingled and its media
    * never re-decoded. Accepted docs append to the artifact AND to
    * the indexes (key sidecar, text bands + sets, image/audio bands),
    * so batch N+1 probes the grown index without a rebuild. The image
    * policy is read from the index meta — the knob travels with the
    * asset. Same gauntlet as [[ingestBatch]] verbatim; PipelineSpec
    * pins audit + artifact equality across multi-batch scenarios. */
  def ingestBatchIndexed(spark: SparkSession, corpusDir: String,
      batch: DataFrame, indexDir: String): DataFrame = {
    val (policy, handles) = openIngestIndex(spark, indexDir)
    requirePolicyMatches(spark, corpusDir, policy, "the index meta")
    ingestGauntlet(spark, corpusDir, batch, handles, policy, Some(indexDir))
  }

  /** RECONCILE the persisted ingest indexes with the artifact — the
    * recovery half of the writer's two-phase append contract: the
    * artifact appends first and the KEYS sidecar appends LAST (the
    * commit marker), so every reachable crash divergence is "artifact
    * ahead of keys" — including partial states where SOME band/set
    * appends landed before the crash. This routine finds artifact
    * docs absent from the key sidecar (one anti-join — complete by
    * the commit-marker ordering), then repairs each asset
    * INDEPENDENTLY: a band/set asset gets rows appended only for
    * missing docs it does not already hold (a blind five-way
    * re-append would duplicate rows in the assets whose append DID
    * land before the crash), and keys appends last, sealing the
    * repair with the same commit semantics as the writer. O(missing
    * docs) signature/fingerprint work plus one narrow doc_id scan per
    * asset, idempotent, safe to run any time. Returns the number of
    * docs repaired. */
  def repairIngestIndexes(spark: SparkSession, corpusDir: String,
      indexDir: String): Long = {
    val (policy, ix) = openIngestIndex(spark, indexDir)
    // snapshot before appending — the recache-by-path discipline the
    // writer itself follows (the anti-join reads the keys asset the
    // final append below grows)
    val docs = snapshot(spark, spark.read.parquet(corpusDir)
        .select(col("doc_id"), col("text"))
        .join(ix.keys.select(col("doc_id")), Seq("doc_id"), "left_anti"),
      graft.util.Scratch.indexDir("graft_ingest_repair", corpusDir))
    val n = docs.count()
    if (n > 0L) {
      val ids = docs.select(col("doc_id"))
      // per-asset need sets, each snapshotted BEFORE its append runs
      // (never read a path a concurrent job appends to): the asset's
      // doc_ids semi-joined against the tiny missing set — a narrow
      // column scan — anti-joined back so only genuinely absent docs
      // re-derive rows. Keys need every missing doc, by definition.
      def needs(a: IndexAsset): DataFrame = {
        val have = a.of(ix).select(col("doc_id"))
          .join(broadcast(ids), Seq("doc_id"), "left_semi")
          .distinct()
        snapshot(spark, docs.join(broadcast(have), Seq("doc_id"), "left_anti"),
          graft.util.Scratch.indexDir(s"graft_repair_${a.name}", corpusDir))
      }
      writeIndex(indexDir, append = true)(a =>
        a.of(IngestHandles.of(if (a == KeysAsset) docs else needs(a), policy)))
    }
    n
  }

  /** STREAMING CORPUS INGEST — [[ingestBatchIndexed]] as a Structured
    * Streaming `foreachBatch` sink: the production write path when the
    * corpus grows from a stream rather than a daily drop. Micro-batches
    * execute serially, so the result is BY CONSTRUCTION the sequential
    * multi-batch semantics PipelineSpec pins for the batch writer (each
    * batch probes the artifact + indexes exactly as they stood after
    * the previous batch); PipelineSpec additionally pins streamed ==
    * sequential equality end-to-end and full-redelivery idempotence.
    *
    * Crash story, composed from contracts that already exist:
    *  - a micro-batch that fails mid-gauntlet leaves at most "artifact
    *    ahead of keys" (the writer's two-phase append order);
    *  - on restart, `foreachBatch` re-delivers that batch (the
    *    checkpoint WAL marks it uncommitted) — and every gauntlet run
    *    starts by [[repairIngestIndexes]], reconciling
    *    the partial append before any probe; re-delivered docs the
    *    artifact already holds then reject at the id-guard, novel
    *    remainder ingests once. Repair on a CONSISTENT state is one
    *    narrow anti-join finding nothing — the same order of work as
    *    the id-guard probe itself, so the guard costs a per-batch
    *    constant, not a scale term.
    *
    * Each micro-batch frame is snapshotted to scratch parquet first:
    * the gauntlet contract requires `batch` not be a live read of the
    * corpus/index, and the gauntlet runs many jobs over the batch —
    * one materialization, then every probe reads the snapshot.
    * `onAudit` receives each batch's stage-count audit (the q329
    * dashboard shape) — the streaming twin of the batch writer's
    * return value. */
  def streamIngestIndexed(spark: SparkSession, corpusDir: String,
      indexDir: String, batches: DataFrame, checkpointDir: String,
      onAudit: (Long, DataFrame) => Unit = (_, _) => ()): Unit = {
    graft.streaming.Streams.runBounded(batches, "graft_stream_ingest",
        checkpointDir, stateful = false)(
      _.foreachBatch { (b: DataFrame, batchId: Long) =>
        repairIngestIndexes(spark, corpusDir, indexDir): Unit
        val snap = graft.util.Scratch.indexDir(
          s"graft_stream_ingest_b$batchId", corpusDir)
        try {
          // read back in `spark`, not the stream's own session (which
          // runs without AQE). The returned audit is a driver-local
          // frame (collected stage counts) and every index/artifact
          // append has run by the time the gauntlet returns, so nothing
          // references the snapshot afterwards
          val audit = ingestBatchIndexed(spark, corpusDir,
            snapshot(spark, b, snap), indexDir)
          onAudit(batchId, audit)
        } finally {
          // delete per batch, not at JVM exit: a continuous stream
          // would otherwise accumulate one snapshot per micro-batch
          // in tmp for the life of the driver
          org.apache.commons.io.FileUtils
            .deleteDirectory(new java.io.File(snap))
        }
      })
  }

  /** q388 — BANDING AUDIT OVER THE GROWN INGEST INDEX (VERDICT r15
    * #6): the q376 noise tripwire guards the wide BUILD, but an index
    * that accretes batches for months can drift noise-dominated with
    * no one re-running the build — this audits the PERSISTED image
    * band asset in place. The per-doc hash words are reconstructed
    * from the band rows themselves (every doc repeats once per band
    * with identical words — one dropDuplicates, ZERO re-decode), and
    * [[graft.multimodal.Multimodal.bandingAudit256From]]'s reduction
    * runs unchanged, so the reconstruct-from-asset path can never
    * fork from the decode path (q388's gate pins them equal). Under
    * [[NarrowRadius3]] the single-word asset audits its own
    * ahash64_8x8 family only. This scans the asset (O(corpus),
    * narrow), which is exactly why it is a MAINTENANCE surface — run
    * it every Nth batch or alongside [[repairIngestIndexes]] — and
    * not a per-batch gauntlet stage. */
  def auditIngestIndexBanding(spark: SparkSession,
      indexDir: String): DataFrame = {
    val policy = readPolicy(spark, s"$indexDir/meta")
    val bands = ImageBandsAsset.read(spark, indexDir, policy)
    val hashes = policy match {
      case WideRadius7 => bands
        .select(col("doc_id"), col("h1"), col("h2"), col("h3"), col("h4"))
        .dropDuplicates("doc_id")
      case NarrowRadius3 => bands
        .select(col("doc_id"), col("ahash").as("h1"),
          lit(0L).as("h2"), lit(0L).as("h3"), lit(0L).as("h4"))
        .dropDuplicates("doc_id")
    }
    val audit = graft.multimodal.Multimodal.bandingAudit256From(hashes)
    policy match {
      case WideRadius7 => audit
      case NarrowRadius3 => audit.filter(col("family") === "ahash64_8x8")
    }
  }

  /** q388's registered form: index the table's documents WIDE into a
    * per-call temp dir, audit from the asset — the oracle is q376's
    * string VERBATIM (the full-table decode-path audit), so the
    * reconstruction is pinned bit-for-bit. */
  def ingestIndexAudit(spark: SparkSession, dir: String): DataFrame = {
    val ix = graft.util.Scratch.indexDir("graft_ing_audit", dir)
    // the audit reads ONLY the image band asset + policy meta — build
    // exactly those two, via the SAME asset definition and meta writer
    // the full writer uses, so the asset layout cannot fork from
    // saveIngestIndexes'. The first spelling built all five assets and
    // never read the text/audio ones (optimization r16, guide §1.2:
    // don't compute things you throw away — measured 4.4 s at sf0.1).
    ImageBandsAsset.write(WideRadius7.bandsOf(
      load(spark, dir, "documents").select(col("doc_id"))), ix, append = false)
    writePolicyMeta(spark, WideRadius7, s"$ix/meta")
    auditIngestIndexBanding(spark, ix)
  }

  /** Deterministic training-order shuffle: every epoch a training run
    * needs the corpus in a pseudorandom order that is REPRODUCIBLE
    * (resume mid-epoch, re-run bit-identically) and layout-independent
    * — so the order is a pure function of (doc_id, epoch seed), never
    * of partitioning or an RNG.
    *
    * The global position assignment is the two-level rank pattern
    * (how distributed sort-rank works at scale): a global
    * `row_number() OVER (ORDER BY key)` would sort the corpus in ONE
    * partition; instead the 56-bit key space is cut into 4096 buckets
    * by its top bits (bucket order == key order), per-bucket counts
    * roll into broadcast cumulative offsets (the only unpartitioned
    * window runs over 4096 rows), and ranks within each bucket run in
    * parallel. position = bucket offset + in-bucket rank. */
  def shuffleOrder(spark: SparkSession, dir: String,
      seed: String = "epoch42"): DataFrame = {
    val docs = load(spark, dir, "documents")
      .select(col("doc_id"))
      .withColumn("sk",
        phash(concat(col("doc_id").cast(StringType), lit(":" + seed))))
      .withColumn("bkt", shiftright(col("sk"), 44))
    val counts = docs.groupBy(col("bkt")).agg(count(lit(1)).as("c"))
    val wB = Window.orderBy(col("bkt"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = counts
      .withColumn("off", coalesce(sum(col("c")).over(wB), lit(0L)))
      .drop("c")
    val wIn = Window.partitionBy(col("bkt"))
      .orderBy(col("sk"), col("doc_id")) // doc_id tie-break: exact under collision
    docs.join(broadcast(offsets), "bkt")
      .withColumn("shuffle_pos",
        col("off") + row_number().over(wIn).cast(LongType) - 1)
      .select(col("doc_id"), col("shuffle_pos"))
      .orderBy(col("doc_id"))
  }

  /** Per-language percentile rank — q90's CDF trick in its GROUPED
    * form, which is the one that scales furthest: every window here is
    * PARTITIONED by the group key (no unpartitioned window at all, not
    * even over the histogram), so the whole plan is embarrassingly
    * parallel across groups; the histogram shrink happens within each
    * group and the CDF broadcasts back. The normalization step of a
    * per-language quality gate. */
  def groupPercentileRank(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents")
      .select(col("doc_id"), col("lang"), col("n_chars"))
    val hist = docs.groupBy(col("lang"), col("n_chars").as("v"))
      .agg(count(lit(1)).as("c"))
    val wCdf = Window.partitionBy(col("lang")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wTot = Window.partitionBy(col("lang"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cdf = hist
      .withColumn("below", coalesce(sum(col("c")).over(wCdf), lit(0L)))
      .withColumn("n_grp", sum(col("c")).over(wTot))
      .withColumnRenamed("lang", "cdf_lang")
    // null-safe join keys: see q90 — NULL group/metric rows must not
    // silently drop relative to the PARTITION BY oracle
    docs.join(broadcast(cdf),
        col("lang") <=> col("cdf_lang") && col("n_chars") <=> col("v"))
      .select(docs("doc_id"), docs("lang"), docs("n_chars"),
        when(col("n_grp") > 1,
          col("below").cast(DoubleType) / (col("n_grp") - 1))
          .otherwise(lit(0.0)).as("pct_in_lang"))
      .orderBy(col("doc_id"))
  }

  /** LARGEST-REMAINDER apportionment (Hamilton's method): split a fixed
    * budget of 1000 sample slots across languages proportional to doc
    * counts, integer-exactly — quotas sum to the budget bit-for-bit,
    * no float shares. base = ⌊B·n/T⌋ per group; the B−Σbase leftover
    * slots go to the largest remainders (rem DESC, lang tie-break).
    * This is how q75-style stratified quotas should be SIZED when the
    * strata don't divide the budget evenly. Scale shape: one count
    * aggregation over the corpus; everything after runs on O(groups)
    * rows (two broadcast scalars, one tiny window) — the 100 TB cost
    * is the count, which is partial-aggregated. */
  def apportionQuota(spark: SparkSession, dir: String,
      budgetSlots: Long = 1000L): DataFrame = {
    val budget = lit(budgetSlots)
    val counts = load(spark, dir, "documents")
      .groupBy(col("lang")).agg(count(lit(1)).as("n"))
    val total = counts.agg(sum(col("n")).as("t"))
    val based = counts.crossJoin(broadcast(total))
      .withColumn("base", expr(s"($budgetSlots * n) DIV t"))
      .withColumn("rem", (budget * col("n")) % col("t"))
    val leftover = based.agg((budget - sum(col("base"))).as("l"))
    val w = Window.orderBy(col("rem").desc, col("lang"))
    based.crossJoin(broadcast(leftover))
      .withColumn("rn", row_number().over(w))
      .select(col("lang"), col("n"),
        (col("base") + when(col("rn") <= col("l"), 1L).otherwise(0L))
          .as("quota"))
      .orderBy(col("lang"))
  }

  /** EXACT-TOTAL proportional stratified sample: q146's
    * largest-remainder quotas drive a per-stratum hash-priority take,
    * so the sample is EXACTLY the 30-slot budget overall (sized below
    * the smallest fixture corpus so sampling is real at every SF),
    * proportional across languages, deterministic and refresh-stable
    * (same phash priority rule as q75 — membership is a pure function
    * of doc_id). The composition point of the two operators: q75 alone
    * fixes quotas a priori, q146 alone sizes them; this takes them.
    * One broadcast of O(langs) quotas, ranking windows PARTITIONED by
    * lang. id_sum is the determinism receipt the oracle re-derives. */
  def proportionalSample(spark: SparkSession, dir: String): DataFrame = {
    val quotas = apportionQuota(spark, dir, budgetSlots = 30L)
      .select(col("lang"), col("quota"))
    val docs = load(spark, dir, "documents").select(col("doc_id"), col("lang"))
      .withColumn("pri",
        phash(concat(col("doc_id").cast(StringType), lit(":psmp"))))
    val w = Window.partitionBy(col("lang")).orderBy(col("pri"), col("doc_id"))
    docs.join(broadcast(quotas), "lang")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= col("quota"))
      .groupBy(col("lang"))
      .agg(max(col("quota")).as("quota"), count(lit(1)).as("n_sampled"),
        sum(col("doc_id")).as("id_sum"))
      .orderBy(col("lang"))
  }

  /** RIGHT-TO-BE-FORGOTTEN cascade audit: given a forget-set of
    * customers (here the c_custkey % 97 = 0 slice; in production a
    * consent/deletion-request table), measure what a cascading purge
    * touches across the star — customers directly, orders via
    * custkey, lineitems via the purged orders' keys. Each hop is a
    * LEFT SEMI join carrying only the key column (never wide rows),
    * and the identical plan with `left_anti` IS the purge writer —
    * audit and delete share one cascade definition. At 100 TB the
    * forget-set is broadcast (deletion requests are small) so every
    * hop is a broadcast semi-join: no fact-table shuffle anywhere. */
  def forgetCascade(spark: SparkSession, dir: String): DataFrame = {
    val forget = load(spark, dir, "customer")
      .filter(col("c_custkey") % 97 === 0).select(col("c_custkey").as("k"))
    val customer = load(spark, dir, "customer")
    val orders = load(spark, dir, "orders")
    val lineitem = load(spark, dir, "lineitem")
    val purgedCust = customer
      .join(broadcast(forget), customer("c_custkey") === forget("k"), "left_semi")
    val purgedOrd = orders
      .join(broadcast(forget), orders("o_custkey") === forget("k"), "left_semi")
    val purgedKeys = purgedOrd.select(col("o_orderkey").as("pk"))
    val purgedLine = lineitem
      .join(broadcast(purgedKeys), lineitem("l_orderkey") === purgedKeys("pk"),
        "left_semi")
    def row(name: String, all: DataFrame, purged: DataFrame): DataFrame =
      purged.agg(count(lit(1)).as("n_purged"))
        .crossJoin(all.agg(count(lit(1)).as("n_total")))
        .select(lit(name).as("table_name"), col("n_purged"),
          (col("n_total") - col("n_purged")).as("n_retained"))
    row("customer", customer, purgedCust)
      .unionByName(row("orders", orders, purgedOrd))
      .unionByName(row("lineitem", lineitem, purgedLine))
      .orderBy(col("table_name"))
  }

  /** CORPUS HEALTH REPORT — the one-page per-language summary a
    * curation team reviews before accepting a refresh, composed from
    * the library's canonical rules (q30's contentKey, the shared
    * whitespace tokenizer) in ONE aggregation pass: volume, exact-dup
    * rate (docs vs distinct content keys), token mass, short-doc
    * count. Every ratio is one double division of integer-derived
    * values; COUNT(DISTINCT) runs on the md5 key both engines compute
    * identically. Output is O(languages) — the scan does all the
    * work, partially aggregated. */
  def corpusReport(spark: SparkSession, dir: String): DataFrame =
    spread(load(spark, dir, "documents"))
      .select(col("lang"),
        graft.dedup.Dedup.contentKey(col("text")).as("ck"),
        size(graft.dedup.Dedup.tokens(col("text"))).cast(LongType).as("ntok"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("ck")).as("n_unique"),
        sum(col("ntok")).as("total_tokens"),
        sum(when(col("ntok") < 10, 1L).otherwise(0L)).as("n_short"))
      .select(col("lang"), col("n_docs"), col("n_unique"),
        ((col("n_docs") - col("n_unique")).cast(DoubleType) / col("n_docs"))
          .as("dup_rate"),
        col("total_tokens"),
        (col("total_tokens").cast(DoubleType) / col("n_docs"))
          .as("avg_tokens"),
        col("n_short"))
      .orderBy(col("lang"))

  /** LEAVE-ONE-OUT TARGET ENCODING — the leakage-safe categorical
    * encoder supervised pipelines ship (Micci-Barreca 2001's empirical
    * Bayes mean encoding, LOO form): each customer's market segment is
    * replaced by the mean target over OTHER customers of that segment
    * — (Σ_seg t − own t) / (n_seg − 1) — so a row never sees its own
    * label (plain mean encoding leaks the target into the feature;
    * LOO is the standard fix). Target here = the customer's order
    * count, joined in as a left join so zero-order customers encode
    * as 0 (dropping them would bias every segment mean high).
    *
    * Determinism: numerator and denominator are EXACT BIGINTs carried
    * as output columns beside the encoding; the encoding itself is ONE
    * double division on identical operands (NULL when the segment is
    * a singleton — 0/0 must not fork engines). Scale: one fact rollup
    * (orders → per-customer counts), one O(segments) rollup broadcast
    * back over the dimension — the fact table shuffles once, on its
    * natural key. */
  def looTargetEncoding(spark: SparkSession, dir: String): DataFrame = {
    val t = load(spark, dir, "orders")
      .groupBy(col("o_custkey")).agg(count(lit(1)).as("t"))
    val ct = load(spark, dir, "customer")
      .join(t, col("c_custkey") === col("o_custkey"), "left")
      .select(col("c_custkey"), col("c_mktsegment"),
        coalesce(col("t"), lit(0L)).as("target"))
    val seg = ct.groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_seg"), sum(col("target")).as("t_seg"))
    ct.join(broadcast(seg), "c_mktsegment")
      .withColumn("loo_enc", when(col("n_seg") > 1,
        (col("t_seg") - col("target")).cast(DoubleType) /
          (col("n_seg") - 1).cast(DoubleType)))
      .select(col("c_custkey"), col("c_mktsegment"), col("target"),
        (col("t_seg") - col("target")).as("loo_num"),
        (col("n_seg") - 1).as("loo_den"), col("loo_enc"))
      .orderBy(col("c_custkey"))
  }

  /** GROUP-AWARE K-FOLD assignment — cross-validation folds assigned
    * on the GROUP key (user), not the row: every event of a user lands
    * in the same fold, the standard defense against within-group
    * leakage (a user's later events in train while their earlier ones
    * sit in test would leak behavior across the boundary — GroupKFold
    * in every ML toolkit). Fold = the engine-wide deterministic
    * [[graft.Tables.phashMod]] of the user id mod 5, so assignment is
    * refresh-stable (new data never reshuffles old users — q69's
    * hash-split contract at group granularity). Output is the per-fold
    * health readout a CV harness checks before training: group count,
    * row count, positive-class count (purchases) and positive share
    * (exact integers + ONE division). One rollup pass; the
    * by-construction group-integrity invariant is spec'd, not
    * re-counted here. */
  def groupedKfold(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(phashMod(col("user_id").cast(StringType)).mod(5).as("fold"),
        col("user_id"),
        (col("event_type") === "purchase").cast(LongType).as("is_pos"))
      .groupBy(col("fold"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"),
        sum(col("is_pos")).as("n_purchases"))
      .withColumn("purchase_share",
        col("n_purchases").cast(DoubleType) /
          col("n_events").cast(DoubleType))
      .orderBy(col("fold"))

  /** CALIBRATION / LIFT-CHART deciles — the model-quality readout
    * that needs no model: users ranked by a behavioral score (event
    * count), split into 10 equal-frequency deciles, each decile's
    * realized conversion rate (any purchase) beside it. A monotone
    * rate across deciles says the score ranks well (lift chart); a
    * flat tail says it saturates — the decile table IS the standard
    * campaign-targeting artifact. Deciles come from
    * [[Windows.ntileNoGlobalSort]] — the exact NTILE(10) total order
    * (score, user_id) with NO single-partition window (the oracle
    * states the naive window and matches because the two-level rank
    * is the same order). Conversions are exact integers; the rate is
    * ONE division. */
  def calibrationDeciles(spark: SparkSession, dir: String): DataFrame = {
    val users = events(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("score"),
        max((col("event_type") === "purchase").cast(LongType))
          .as("converted"))
    Windows.ntileNoGlobalSort(users, col("score"), col("user_id"),
        k = 10, bucketWidth = 16L, out = "decile")
      .groupBy(col("decile").cast(LongType).as("decile"))
      .agg(count(lit(1)).as("n_users"),
        sum(col("converted")).as("n_converted"))
      .withColumn("conv_rate",
        col("n_converted").cast(DoubleType) /
          col("n_users").cast(DoubleType))
      .orderBy(col("decile"))
  }

  /** LENGTH-CURRICULUM STAGING: the corpus split into 4 ordered
    * training stages by document length (shortest first) — the
    * length-based curriculum schedule a pretraining pipeline feeds to
    * the data loader (short/simple docs early, long docs late), with
    * per-stage audit stats (doc count, char range, mean length). The
    * total order is (n_chars, doc_id) — deterministic under ties.
    *
    * Scale shape: NTILE over a corpus-wide order WITHOUT a
    * single-partition global sort — [[Windows.ntileNoGlobalSort]]'s
    * two-level rank (per-bucket row_number + broadcast bucket
    * offsets) gives the exact NTILE(4) split; the stage rollup is a
    * 4-group partial-aggregable aggregate. The mean is an exact
    * integer sum with ONE cast to double (both engines identical). */
  def curriculumStages(spark: SparkSession, dir: String): DataFrame = {
    val docs = spread(load(spark, dir, "documents"))
      .select(col("doc_id"), col("n_chars"))
    Windows.ntileNoGlobalSort(docs, col("n_chars"), col("doc_id"),
        k = 4, bucketWidth = 256L, out = "stage")
      .groupBy(col("stage").cast(LongType).as("stage"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"),
        (sum(col("n_chars")).cast(DoubleType) /
          count(lit(1)).cast(DoubleType)).as("avg_chars"))
      .orderBy(col("stage"))
  }

  /** HELD-OUT TRIGRAM COVERAGE — the generalization-gap readout of the
    * q69 split: for every val/test document, the fraction of its
    * distinct trigram shingles that appear ANYWHERE in the train
    * split. High coverage says the held-out slice is lexically easy
    * (or leaked in paraphrase — q70 only catches verbatim 5-grams);
    * low coverage says the eval measures genuinely novel text.
    * The inverse view of q186's corpus-prefix novelty (reference set =
    * a SPLIT, not the ingestion prefix) and the soft complement of
    * q70's hard decontamination verdict.
    *
    * Scale shape: the train vocabulary is a distinct 8-byte-hash set
    * (two-level partial-aggregable distinct); held-out docs explode to
    * the same slim (doc_id, hash8B) stream and probe it with ONE
    * left-semi hash join; zero-coverage docs are kept by a left join
    * back to the per-doc shingle counts. Both sides reuse the q33
    * codegen'd shingle kernel. */
  def heldoutCoverage(spark: SparkSession, dir: String): DataFrame = {
    val docs = withSplit(spread(load(spark, dir, "documents")))
    def hashes(c: Column) = graft.dedup.Dedup.shingleHashes(c, mod = false)
    val train = docs.filter(col("split") === "train")
      .select(explode(hashes(col("text"))).as("h")).distinct()
    val held = docs.filter(col("split") =!= "train")
      .select(col("doc_id"), col("split"), hashes(col("text")).as("hs"))
      .select(col("doc_id"), col("split"),
        size(col("hs")).cast(LongType).as("n_shingles"),
        explode(col("hs")).as("h"))
    val covered = held.join(train, Seq("h"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_covered"))
    held.select(col("doc_id"), col("split"), col("n_shingles")).distinct()
      .join(covered, Seq("doc_id"), "left")
      .select(col("doc_id"), col("split"), col("n_shingles"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"),
        (coalesce(col("n_covered"), lit(0L)).cast(DoubleType) /
          col("n_shingles").cast(DoubleType)).as("coverage"))
      .orderBy(col("doc_id"))
  }

  /** q292 — QUANTILE NORMALIZATION across sources (the microarray /
    * batch-effect corrector applied to corpus stats): each doc's
    * length is replaced by the POOLED distribution's value at the
    * matching quantile of its OWN source, so every source ends up
    * with the same length distribution while each doc keeps its
    * within-source rank. The normalizer a mixture build applies
    * before length-based curriculum (q273) or quality gates compare
    * docs ACROSS feeds whose length profiles differ wholesale
    * (q289's W1 tells you THAT they drifted; this removes it).
    *
    * Exactness: everything is a rank — the target index is the
    * integer rule ceil(r·N/n_s), the mapped value an equi-join into
    * the pooled rank table. No floats at all.
    *
    * Scale shape: the pooled rank is the shared two-level
    * globalRankNoSort; the per-source rank comes from the (source,
    * value)-histogram CDF plus a within-tie ordinal whose window
    * partitions are tie groups — never one sorted partition per
    * source (the skew trap of a naive PARTITION BY source
    * row_number at 100 TB). */
  def quantileNormalize(spark: SparkSession, dir: String): DataFrame = {
    val d = load(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("n_chars").as("v"))
    val pooled = Windows.globalRankNoSort(d, col("v"), col("doc_id"),
      64L, "gr", "n").select(col("gr"), col("v").as("pv"))
    val hist = d.groupBy(col("source"), col("v")).agg(count(lit(1)).as("c"))
    val wB = Window.partitionBy(col("source")).orderBy(col("v"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val wT = Window.partitionBy(col("source"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cdf = hist
      .withColumn("below", coalesce(sum(col("c")).over(wB), lit(0L)))
      .withColumn("ns", sum(col("c")).over(wT))
      .drop("c")
    val wTie = Window.partitionBy(col("source"), col("v"))
      .orderBy(col("doc_id"))
    d.withColumn("tie_rn", row_number().over(wTie).cast(LongType))
      .join(cdf, Seq("source", "v"))
      .withColumn("r", col("below") + col("tie_rn"))
      .crossJoin(broadcast(d.agg(count(lit(1)).as("n"))))
      .withColumn("tgt", expr("(r * n + ns - 1) div ns"))
      .join(pooled, col("tgt") === col("gr"))
      .select(col("doc_id"), col("source"), col("v").as("n_chars"),
        col("pv").as("v_norm"))
      .orderBy(col("doc_id"))
  }

  /** q303 — TOKEN-BUDGET GREEDY SELECTION: fill a fixed training
    * budget (15k tokens) with the highest-quality docs first — the
    * doc-level greedy knapsack every "best data under N tokens" cut
    * runs (q221 apportions a budget ACROSS sources; this picks WHICH
    * docs inside one). Quality here is the distinct-token count (the
    * q71 diversity proxy — any integer score slots in); the take-while
    * rule is the INCLUSIVE cumulative token mass ≤ budget along the
    * (quality DESC, doc_id) total order, so the boundary doc that
    * overflows the budget is excluded deterministically.
    *
    * Scale shape: per-doc stats are one shuffle-free projection; the
    * cumulative mass rides [[Windows.globalCumSumNoSort]] (two-level
    * prefix sum — NO global sorted window); output is the per-doc
    * audit (rank mass + selected flag), all-integer. */
  def budgetSelection(spark: SparkSession, dir: String): DataFrame = {
    val d = spread(load(spark, dir, "documents"))
      .select(col("doc_id"),
        size(graft.text.TextAnalysis.tokens(col("text"))).cast(LongType).as("n_tokens"),
        size(array_distinct(graft.text.TextAnalysis.tokens(col("text"))))
          .cast(LongType).as("quality"))
    Windows.globalCumSumNoSort(d, -col("quality"), col("doc_id"),
        col("n_tokens"), 8L, "cum_tokens", "tot")
      .select(col("doc_id"), col("quality"), col("n_tokens"),
        col("cum_tokens"), (col("cum_tokens") <= 15000L).as("selected"))
      .orderBy(col("doc_id"))
  }

  /** q377 — PRIORITY SAMPLING (Duffield–Lund–Thorup): a fixed-size
    * weighted sample WITHOUT replacement with unbiased subset-sum
    * estimation — THE statistical subsampling primitive a corpus
    * pipeline needs when it can afford k documents but must still
    * estimate token mass over any slice of the full corpus. Each doc
    * gets priority w/u (w = its token count, u = a deterministic
    * uniform in (0,1] from the portable hash); keep the k largest
    * priorities; τ = the (k+1)-th priority; the Horvitz–Thompson
    * weight of a kept doc is max(w, τ), and Σ max(w, τ) over any
    * subset of the sample is an unbiased estimator of that subset's
    * true token mass. Distinct from q166 (uniform quota per stratum)
    * and q303 (greedy deterministic selection): inclusion here is
    * ∝ weight and the sample carries its own estimator.
    *
    * Determinism/oracle: u = (phash(doc_id:prio)+1)/2^56 — the +1
    * keeps u > 0. phash+1 can exceed 2^53, so the long→double cast
    * itself rounds; but both Spark and DuckDB round that cast the
    * same way (IEEE round-to-nearest-even) and the power-of-two
    * divide is then exact, so u is PORTABLE (bit-identical across
    * engines) rather than exact, and priority rounds once more
    * identically; ties are broken by doc_id. τ is the (k+1)-th
    * priority, or 0 when ≤ k docs qualify (then every doc is
    * sampled and its HT weight is exactly its own w — DLT's
    * boundary case, same rule as q378's per-stratum τ_s).
    *
    * Scale shape: the only corpus-wide work is ONE orderBy+limit —
    * Spark's TakeOrderedAndProject, a size-(k+1) heap per partition
    * and a driver-side merge of k+1 rows per partition; no data-row
    * shuffle, no global sort. The rank/τ window then runs over k+1
    * rows (domain-bounded by construction, the q341 pattern). */
  def prioritySample(spark: SparkSession, dir: String, k: Int = 32): DataFrame = {
    val docs = spread(load(spark, dir, "documents"))
      .select(col("doc_id"),
        size(tokens(col("text"))).cast(LongType).as("n_tokens"))
      .filter(col("n_tokens") > 0L)
      .withColumn("pri",
        col("n_tokens").cast(DoubleType) /
          ((phash(concat(col("doc_id").cast(StringType), lit(":prio")))
            + lit(1L)).cast(DoubleType) / lit(7.2057594037927936e16)))
    val top = docs.orderBy(col("pri").desc, col("doc_id")).limit(k + 1)
    val wRank = Window.orderBy(col("pri").desc, col("doc_id"))
    val wAll = Window.orderBy(col("pri").desc, col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    top
      .withColumn("rank", row_number().over(wRank))
      .withColumn("tau",
        coalesce(max(when(col("rank") === k + 1, col("pri"))).over(wAll),
          lit(0.0)))
      .filter(col("rank") <= k)
      .select(col("rank"), col("doc_id"), col("n_tokens"),
        greatest(col("n_tokens").cast(DoubleType), col("tau")).as("ht_weight"))
      .orderBy(col("rank"))
  }

  /** q378 — STRATIFIED PRIORITY SAMPLING: [[prioritySample]] per
    * source stratum — the form a real corpus build runs ("k docs per
    * domain, each stratum carrying its own unbiased token-mass
    * estimator"). Per-stratum priorities use the q377 construction
    * with a distinct salt; τ_s is the stratum's (k+1)-th priority, or
    * 0 when the stratum holds ≤ k docs (then every doc is sampled and
    * its HT weight is exactly its own w — the estimator degenerates to
    * the exact sum, DLT's boundary case).
    *
    * Scale shape: the grouped top-k is the window-rank spelling
    * (q166's pattern) — the only thing shuffled is the ~36-byte
    * (doc_id, source, w, pri) row, never text; τ_s comes from ONE
    * aggregation over the k+1 survivors per stratum and joins back
    * broadcast (strata counts are domain-bounded). */
  def stratifiedPrioritySample(spark: SparkSession, dir: String,
      k: Int = 8): DataFrame = {
    val docs = spread(load(spark, dir, "documents"))
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast(LongType).as("n_tokens"))
      .filter(col("n_tokens") > 0L)
      .withColumn("pri",
        col("n_tokens").cast(DoubleType) /
          ((phash(concat(col("doc_id").cast(StringType), lit(":sprio")))
            + lit(1L)).cast(DoubleType) / lit(7.2057594037927936e16)))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("pri").desc, col("doc_id"))
    val ranked = docs.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k + 1)
    val tau = ranked.groupBy(col("source"))
      .agg(coalesce(max(when(col("rank") === k + 1, col("pri"))), lit(0.0))
        .as("tau"))
    ranked.filter(col("rank") <= k)
      .join(broadcast(tau), "source")
      .select(col("source"), col("rank"), col("doc_id"), col("n_tokens"),
        greatest(col("n_tokens").cast(DoubleType), col("tau")).as("ht_weight"))
      .orderBy(col("source"), col("rank"))
  }

  /** q313 — CORPUS-BUILD WATERFALL: the stage-by-stage survivor count
    * of the end-to-end build ([[prepareCorpus]]'s exact stage rules,
    * restated as counts): total → bench slice held out →
    * decontaminated → length gate → exact-dedup canonical → near-dup
    * cluster representative → image near-dup representative → audio
    * near-dup representative. THE number-one dashboard of a data
    * pipeline ("we started with 10M docs and trained on 6.1M —
    * where did 39% go?"), and the regression tripwire when a rule
    * change silently eats a feed. Every stage count is an exact
    * integer; stage rules compose the SAME shared definitions
    * (isBench, decontaminate, contentKey, dedupClusters, the
    * mediaFlags/imageClusters/audioClusters trio) the build uses, so
    * report and build can never disagree. The media stage counts come
    * from the REAL codec pipelines; their oracle closed form is the
    * planted group structure (scene group = doc div 5, clip group =
    * doc div 4) the standalone q357/q362 gates already pin. The
    * `imagePolicy` knob mirrors the build's ([[ImageDedupPolicy]]):
    * both fingerprint families plant the same scene-group clusters on
    * the gate corpus, so the waterfall is policy-invariant there —
    * PipelineSpec pins that equality, which is what licenses swapping
    * the policy without forking the oracle. */
  /** The build's eight stage rules as BOOLEAN FLAGS over ONE annotated
    * pass of the corpus — the shared engine of the waterfall (q313)
    * and the per-doc lineage (q343), so the two can never disagree
    * (the reconciliation OperatorSpec pins is now an identity).
    *
    * ONE-PASS FORM (optimization r16, guide §2.4): the first spelling
    * unioned eight per-stage frames, each a superset of the previous
    * stage's plan, so the shared prefix re-ran once per stage —
    * decontaminate ×6, dedupClusters ×3, the image/audio codec
    * pipelines ×2 (measured 6.1 s at sf0.1; at 100 TB eight full
    * corpus scans). Here every stage becomes a BOOLEAN FLAG over one
    * annotated pass: each survivor-restricted window min is spelled
    * min(when(prev_flag, doc_id)) over the same key (null keys
    * isolated per doc, the mediaFlags trick, so no giant null
    * partition). Stage rules are bit-identical to the chained-filter
    * form: a row's flag_i can only differ if its stage-i window min
    * differed, and each min ranges over exactly the stage's survivor
    * set. Raw per-rule booleans (`contaminated`, `too_short`) ride
    * along for the lineage's independent columns. */
  private def stageFlags(spark: SparkSession, dir: String,
      imagePolicy: ImageDedupPolicy = NarrowRadius3): DataFrame = {
    val docs = spread(load(spark, dir, "documents"))
      .select(col("doc_id"), col("text"))
    // doc_id-unique flag/label sides (uniqueness pinned by q343's
    // lineage gate, which composes the same frames): left joins
    // cannot fan out, so flagging replaces the anti-join losslessly.
    val cont = decontaminate(spark, dir)
      .select(col("doc_id"), lit(true).as("cont"))
    val clusters = graft.dedup.Dedup.dedupClusters(spark, dir)
      .select(col("doc_id"), col("cluster_id"))
    val imgCl = imageClusters(spark, dir, imagePolicy)
      .withColumnRenamed("cluster_id", "icl")
    val audCl = audioClusters(spark, dir)
      .withColumnRenamed("cluster_id", "acl")
    val flagged = docs
      .join(cont, Seq("doc_id"), "left")
      .join(broadcast(clusters), Seq("doc_id"), "left")
      .join(imgCl, Seq("doc_id"), "left")
      .join(audCl, Seq("doc_id"), "left")
      .withColumn("contaminated", col("cont").isNotNull)
      .withColumn("too_short", size(tokens(col("text"))) < 10)
      .withColumn("f2", !isBench(col("doc_id")))
      .withColumn("f3", col("f2") && !col("contaminated"))
      .withColumn("f4", col("f3") && !col("too_short"))
      // ck only where stage 5 evaluates it; "#"+doc_id can never
      // collide with a 32-hex md5, so non-survivors window alone
      .withColumn("ck",
        when(col("f4"), graft.dedup.Dedup.contentKey(col("text"))))
      .drop("text")
    val wC = Window.partitionBy(
      coalesce(col("ck"), concat(lit("#"), col("doc_id"))))
    val wCl = Window.partitionBy(coalesce(col("cluster_id"), -col("doc_id")))
    val wI = Window.partitionBy(coalesce(col("icl"), -col("doc_id")))
    val wA = Window.partitionBy(coalesce(col("acl"), -col("doc_id")))
    flagged
      .withColumn("f5", col("f4") &&
        col("doc_id") === min(when(col("f4"), col("doc_id"))).over(wC))
      .withColumn("f6", col("f5") && (col("cluster_id").isNull ||
        col("doc_id") === min(when(col("f5"), col("doc_id"))).over(wCl)))
      .withColumn("f7", col("f6") && (col("icl").isNull ||
        col("doc_id") === min(when(col("f6"), col("doc_id"))).over(wI)))
      .withColumn("f8", col("f7") && (col("acl").isNull ||
        col("doc_id") === min(when(col("f7"), col("doc_id"))).over(wA)))
  }

  def buildWaterfall(spark: SparkSession, dir: String,
      imagePolicy: ImageDedupPolicy = NarrowRadius3): DataFrame = {
    val staged = stageFlags(spark, dir, imagePolicy)
    def cIf(c: Column) = count(when(c, 1))
    staged.agg(count(lit(1)).as("c1"), cIf(col("f2")).as("c2"),
        cIf(col("f3")).as("c3"), cIf(col("f4")).as("c4"),
        cIf(col("f5")).as("c5"), cIf(col("f6")).as("c6"),
        cIf(col("f7")).as("c7"), cIf(col("f8")).as("c8"))
      .selectExpr("""stack(8,
          '1_total', c1, '2_non_bench', c2, '3_decontaminated', c3,
          '4_min_length', c4, '5_exact_canonical', c5, '6_neardup_rep', c6,
          '7_image_rep', c7, '8_audio_rep', c8) as (stage, n_docs)""")
      .orderBy(col("stage"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q313_build_waterfall" -> ((s, d) => buildWaterfall(s, d)),
    "q329_delta_ingest_report" -> deltaIngestReport,
    "q388_ingest_index_audit" -> ingestIndexAudit,
    "q333_interleave_order" -> interleaveOrder,
    "q342_dataset_card" -> datasetCard,
    "q343_doc_lineage" -> docLineage,
    "q348_source_cards" -> sourceCards,
    "q349_leak_source_matrix" -> leakSourceMatrix,
    "q334_interleaved_packing" -> interleavedPacking,
    "q303_budget_selection" -> budgetSelection,
    "q377_priority_sample" ->
      ((s: SparkSession, d: String) => prioritySample(s, d)),
    "q378_stratified_priority_sample" ->
      ((s: SparkSession, d: String) => stratifiedPrioritySample(s, d)),
    "q292_quantile_normalize" -> quantileNormalize,
    "q280_leak_severity" -> leakSeverity,
    "q276_heldout_coverage" -> heldoutCoverage,
    "q273_curriculum_stages" -> curriculumStages,
    "q250_grouped_kfold" -> groupedKfold,
    "q251_calibration_deciles" -> calibrationDeciles,
    "q247_loo_target_encoding" -> looTargetEncoding,
    "q200_corpus_report" -> corpusReport,
    "q221_mixture_plan" -> mixturePlan,
    "q180_forget_cascade" -> forgetCascade,
    "q146_apportion_quota" ->
      ((s: SparkSession, d: String) => apportionQuota(s, d)),
    "q166_proportional_sample" -> proportionalSample,
    "q149_weighted_median" -> weightedMedian,
    "q95_group_percentile" -> groupPercentileRank,
    "q93_shuffle_order" -> ((s: SparkSession, d: String) => shuffleOrder(s, d)),
    "q90_percentile_rank" -> percentileRank,
    "q139_median_selection" -> medianSelection,
    "q77_chunk_docs" -> chunkDocs,
    "q78_pack_sequences" -> packSequences,
    "q316_pack_fragmentation" -> packFragmentation,
    "q75_stratified_sample" -> stratifiedSample,
    "q66_pii_scrub" -> piiScrub,
    "q68_hash_sample" -> hashSample,
    "q69_train_split" -> trainSplit,
    "q70_decontaminate" -> decontaminate,
    "q71_rep_signals" -> repSignals,
    "q81_bloom_decontaminate" -> bloomDecontaminate,
    "q117_weighted_sample" -> weightedSample)

  private def bucketSql(key: String, n: Int): String =
    s"(${phashSql(s"CAST($key AS VARCHAR)")} % $n)"

  /** The q146 quota derivation at a given budget, shared verbatim by
    * q166's oracle so the two can never fork. */
  /** TRAINING-MIXTURE PLAN: a 1M-token budget allocated across sources
    * by TEMPERATURE-SMOOTHED mass (T = 2 ⇒ weight ∝ √tokens — the
    * standard flattening that stops one giant source from drowning the
    * tail, without the pow() portability hazard: sqrt IS correctly
    * rounded in both engines). The allocation is q146's
    * largest-remainder apportionment over integer weights
    * floor(√m·10⁶ + 0.5), so the plan sums to the budget EXACTLY —
    * the sampler downstream consumes per-source token quotas, not
    * float shares. One corpus rollup to O(sources), then O(sources)
    * arithmetic; the ranking window runs over O(sources) rows. */
  def mixturePlan(spark: SparkSession, dir: String): DataFrame = {
    val B = 1000000L
    val mass = spread(load(spark, dir, "documents"))
      .groupBy(col("source"))
      .agg(sum(size(split(trim(col("text")), " +")).cast(LongType)).as("m"))
      .withColumn("w",
        floor(sqrt(col("m").cast(DoubleType)) * 1000000.0 + 0.5)
          .cast(LongType))
    val tot = mass.agg(sum(col("w")).as("tw"))
    val based = mass.crossJoin(broadcast(tot))
      .withColumn("base", expr(s"($B * w) DIV tw"))
      .withColumn("rem", (lit(B) * col("w")) % col("tw"))
    val leftover = based.agg((lit(B) - sum(col("base"))).as("l"))
    val wn = Window.orderBy(col("rem").desc, col("source"))
    based.crossJoin(broadcast(leftover))
      .withColumn("rn", row_number().over(wn))
      .select(col("source"), col("m"), col("w"),
        (col("base") + when(col("rn") <= col("l"), 1L).otherwise(0L))
          .as("alloc_tokens"))
      .orderBy(col("source"))
  }

  private def apportionSql(budget: Long): String =
    s"""WITH c AS (SELECT lang, COUNT(*) AS n FROM documents GROUP BY 1),
      |t AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM c),
      |b AS (SELECT lang, n, ($budget * n) // t.t AS base,
      |        ($budget * n) % t.t AS rem FROM c, t),
      |l AS (SELECT CAST($budget - SUM(base) AS BIGINT) AS l FROM b),
      |r AS (SELECT lang, n, base,
      |        ROW_NUMBER() OVER (ORDER BY rem DESC, lang) AS rn FROM b)
      |SELECT r.lang, r.n,
      |  CAST(r.base + CASE WHEN r.rn <= l.l THEN 1 ELSE 0 END AS BIGINT)
      |    AS quota
      |FROM r, l ORDER BY r.lang""".stripMargin

  val oracles: Map[String, String] = Map(
    // q388: the grown-index audit must equal the full-table decode-
    // path audit BIT-FOR-BIT — q376's oracle string verbatim (the
    // never-fork pattern): the asset-reconstructed hash frame is the
    // same (doc_id, h1..h4) set the decode path produces
    "q388_ingest_index_audit" ->
      graft.multimodal.Multimodal.oracles("q376_banding_audit256"),
    // q276: same q69 split rule, same trigram-shingle hash kernel;
    // coverage = |doc shingles ∩ train vocabulary| / |doc shingles|
    "q276_heldout_coverage" ->
      s"""WITH d AS (SELECT doc_id, text,
        |    CASE WHEN ${bucketSql("doc_id", 10)} < 8 THEN 'train'
        |         WHEN ${bucketSql("doc_id", 10)} = 8 THEN 'val'
        |         ELSE 'test' END AS split
        |  FROM documents),
        |t AS (SELECT doc_id, split,
        |    STRING_SPLIT_REGEX(TRIM(text), ' +') AS toks FROM d),
        |s AS (SELECT doc_id, split, ${graft.dedup.Dedup.shinglesSql} AS sh
        |  FROM t),
        |tr AS (SELECT DISTINCT
        |    UNNEST(LIST_TRANSFORM(sh, x -> ${phashSql("x")})) AS h
        |  FROM s WHERE split = 'train'),
        |e AS (SELECT doc_id, split, LEN(sh) AS n_shingles,
        |    UNNEST(LIST_TRANSFORM(sh, x -> ${phashSql("x")})) AS h
        |  FROM s WHERE split <> 'train'),
        |cv AS (SELECT doc_id, COUNT(*) AS n_covered
        |  FROM e JOIN tr USING (h) GROUP BY 1),
        |base AS (SELECT DISTINCT doc_id, split, n_shingles FROM e)
        |SELECT base.doc_id, base.split,
        |  CAST(base.n_shingles AS BIGINT) AS n_shingles,
        |  CAST(COALESCE(cv.n_covered, 0) AS BIGINT) AS n_covered,
        |  CAST(COALESCE(cv.n_covered, 0) AS DOUBLE)
        |    / CAST(base.n_shingles AS DOUBLE) AS coverage
        |FROM base LEFT JOIN cv USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // q273: NTILE(4) over the same (n_chars, doc_id) total order; the
    // mean routes the exact integer sum through ONE cast to double
    "q273_curriculum_stages" ->
      """WITH r AS (SELECT doc_id, n_chars,
        |    NTILE(4) OVER (ORDER BY n_chars, doc_id) AS stage
        |  FROM documents)
        |SELECT CAST(stage AS BIGINT) AS stage, COUNT(*) AS n_docs,
        |  CAST(MIN(n_chars) AS BIGINT) AS min_chars,
        |  CAST(MAX(n_chars) AS BIGINT) AS max_chars,
        |  CAST(CAST(SUM(n_chars) AS BIGINT) AS DOUBLE)
        |    / CAST(COUNT(*) AS DOUBLE) AS avg_chars
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "q250_grouped_kfold" ->
      s"""WITH ev AS (SELECT
        |    (${phashModSql("CAST(user_id AS VARCHAR)")}) % 5 AS fold,
        |    user_id,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS is_pos
        |  FROM events)
        |SELECT fold, CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
        |  COUNT(*) AS n_events, CAST(SUM(is_pos) AS BIGINT) AS n_purchases,
        |  CAST(SUM(is_pos) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS purchase_share
        |FROM ev GROUP BY 1 ORDER BY 1""".stripMargin,
    "q251_calibration_deciles" ->
      """WITH u AS (SELECT user_id, COUNT(*) AS score,
        |    MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS converted
        |  FROM events GROUP BY 1),
        |d AS (SELECT NTILE(10) OVER (ORDER BY score, user_id) AS decile,
        |    converted FROM u)
        |SELECT CAST(decile AS BIGINT) AS decile, COUNT(*) AS n_users,
        |  CAST(SUM(converted) AS BIGINT) AS n_converted,
        |  CAST(SUM(converted) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
        |    AS conv_rate
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "q247_loo_target_encoding" ->
      """WITH t AS (SELECT o_custkey, COUNT(*) AS t FROM orders GROUP BY 1),
        |ct AS (SELECT c_custkey, c_mktsegment,
        |    COALESCE(t.t, 0) AS target
        |  FROM customer LEFT JOIN t ON o_custkey = c_custkey),
        |seg AS (SELECT c_mktsegment, COUNT(*) AS n_seg,
        |    CAST(SUM(target) AS BIGINT) AS t_seg FROM ct GROUP BY 1)
        |SELECT c_custkey, c_mktsegment, target,
        |  CAST(t_seg - target AS BIGINT) AS loo_num,
        |  CAST(n_seg - 1 AS BIGINT) AS loo_den,
        |  CASE WHEN n_seg > 1 THEN CAST(t_seg - target AS DOUBLE)
        |    / CAST(n_seg - 1 AS DOUBLE) END AS loo_enc
        |FROM ct JOIN seg USING (c_mktsegment)
        |ORDER BY c_custkey""".stripMargin,
    "q221_mixture_plan" ->
      """WITH d AS (SELECT source,
        |    CAST(LEN(STRING_SPLIT_REGEX(TRIM(text), ' +')) AS BIGINT)
        |      AS ntok
        |  FROM documents),
        |c AS (SELECT source, CAST(SUM(ntok) AS BIGINT) AS m
        |  FROM d GROUP BY 1),
        |wt AS (SELECT source, m,
        |    CAST(FLOOR(SQRT(CAST(m AS DOUBLE)) * 1000000.0e0 + 0.5)
        |      AS BIGINT) AS w
        |  FROM c),
        |t AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM wt),
        |b AS (SELECT source, m, w, (1000000 * w) // t.tw AS base,
        |    (1000000 * w) % t.tw AS rem FROM wt, t),
        |l AS (SELECT CAST(1000000 - SUM(base) AS BIGINT) AS l FROM b),
        |r AS (SELECT source, m, w, base,
        |    ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rn FROM b)
        |SELECT r.source, r.m, r.w,
        |  CAST(r.base + CASE WHEN r.rn <= l.l THEN 1 ELSE 0 END AS BIGINT)
        |    AS alloc_tokens
        |FROM r, l ORDER BY r.source""".stripMargin,
    "q200_corpus_report" ->
      """WITH d AS (SELECT lang,
        |    md5(LOWER(TRIM(REGEXP_REPLACE(text, '\s+', ' ', 'g')))) AS ck,
        |    CAST(LEN(STRING_SPLIT_REGEX(TRIM(text), ' +')) AS BIGINT)
        |      AS ntok
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(COUNT(DISTINCT ck) AS BIGINT) AS n_unique,
        |  CAST(COUNT(*) - COUNT(DISTINCT ck) AS DOUBLE) / COUNT(*)
        |    AS dup_rate,
        |  CAST(SUM(ntok) AS BIGINT) AS total_tokens,
        |  CAST(CAST(SUM(ntok) AS BIGINT) AS DOUBLE) / COUNT(*)
        |    AS avg_tokens,
        |  CAST(SUM(CASE WHEN ntok < 10 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_short
        |FROM d GROUP BY 1 ORDER BY 1""".stripMargin,
    "q180_forget_cascade" ->
      """WITH f AS (SELECT c_custkey AS k FROM customer
        |           WHERE c_custkey % 97 = 0),
        |po AS (SELECT o_orderkey FROM orders
        |       WHERE o_custkey IN (SELECT k FROM f)),
        |pl AS (SELECT 1 FROM lineitem
        |       WHERE l_orderkey IN (SELECT o_orderkey FROM po))
        |SELECT 'customer' AS table_name,
        |  (SELECT COUNT(*) FROM f) AS n_purged,
        |  (SELECT COUNT(*) FROM customer) - (SELECT COUNT(*) FROM f)
        |    AS n_retained
        |UNION ALL
        |SELECT 'lineitem', (SELECT COUNT(*) FROM pl),
        |  (SELECT COUNT(*) FROM lineitem) - (SELECT COUNT(*) FROM pl)
        |UNION ALL
        |SELECT 'orders', (SELECT COUNT(*) FROM po),
        |  (SELECT COUNT(*) FROM orders) - (SELECT COUNT(*) FROM po)
        |ORDER BY table_name""".stripMargin,
    // the direct formulation: cumulative weights over the full sorted
    // value histogram; the boundary row where cum first reaches
    // k=(W+1)/2 IS the weighted median
    "q149_weighted_median" ->
      """WITH s AS (SELECT
        |    CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
        |      AS cents,
        |    CAST(l_quantity AS BIGINT) AS w FROM lineitem),
        |t AS (SELECT CAST(SUM(w) AS BIGINT) AS tw FROM s),
        |h AS (SELECT cents, CAST(SUM(w) AS BIGINT) AS wc
        |      FROM s GROUP BY 1),
        |c AS (SELECT cents, wc, SUM(wc) OVER (ORDER BY cents) AS cum
        |      FROM h)
        |SELECT t.tw AS total_weight,
        |  CAST(cents AS DOUBLE) / 100 AS weighted_median
        |FROM c, t
        |WHERE cum >= (tw + 1) // 2 AND cum - wc < (tw + 1) // 2""".stripMargin,
    "q146_apportion_quota" -> apportionSql(1000),
    "q166_proportional_sample" ->
      s"""WITH q AS (${apportionSql(30)}),
        |d AS (SELECT doc_id, lang,
        |    ${phashSql("CAST(doc_id AS VARCHAR) || ':psmp'")} AS pri
        |  FROM documents),
        |s AS (SELECT d.lang, d.doc_id, q.quota,
        |    ROW_NUMBER() OVER (PARTITION BY d.lang
        |      ORDER BY d.pri, d.doc_id) AS rn
        |  FROM d JOIN q USING (lang))
        |SELECT lang, CAST(MAX(quota) AS BIGINT) AS quota,
        |  CAST(COUNT(*) AS BIGINT) AS n_sampled,
        |  CAST(SUM(doc_id) AS BIGINT) AS id_sum
        |FROM s WHERE rn <= quota GROUP BY 1 ORDER BY 1""".stripMargin,
    "q95_group_percentile" ->
      """SELECT doc_id, lang, n_chars,
        |  PERCENT_RANK() OVER (PARTITION BY lang ORDER BY n_chars)
        |    AS pct_in_lang
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    // the single-partition window formulation the Spark plan's
    // two-level bucket rank deliberately avoids
    "q93_shuffle_order" ->
      s"""SELECT doc_id,
        |  CAST(ROW_NUMBER() OVER (ORDER BY sk, doc_id) - 1 AS BIGINT)
        |    AS shuffle_pos
        |FROM (SELECT doc_id,
        |        ${phashSql("CAST(doc_id AS VARCHAR) || ':epoch42'")} AS sk
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    // the window formulation the Spark plan deliberately avoids — same
    // (rank-1)/(n-1) tie semantics by construction
    // the oracle ranks everything (fine at oracle scale); only the
    // Spark plan uses the selection shape
    "q139_median_selection" ->
      """WITH s AS (SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100
        |             AS BIGINT) AS cents FROM lineitem),
        |n AS (SELECT COUNT(*) AS n FROM s),
        |r AS (SELECT cents, ROW_NUMBER() OVER (ORDER BY cents) AS rn FROM s)
        |SELECT n.n, CAST(r.cents AS DOUBLE) / 100.0 AS median
        |FROM r, n WHERE r.rn = (n.n + 1) // 2""".stripMargin,
    "q90_percentile_rank" ->
      """SELECT doc_id, n_chars,
        |  PERCENT_RANK() OVER (ORDER BY n_chars) AS pct_rank
        |FROM documents
        |ORDER BY doc_id""".stripMargin,
    "q77_chunk_docs" ->
      """WITH t AS (SELECT doc_id,
        |             STRING_SPLIT_REGEX(TRIM(text), ' +') AS toks
        |           FROM documents),
        |k AS (SELECT doc_id, toks,
        |        (GREATEST(LEN(toks) - 50, 0) + 39) // 40 + 1 AS nch
        |      FROM t)
        |SELECT doc_id, i - 1 AS chunk_idx,
        |  (i - 1) * 40 + 1 AS chunk_start,
        |  LEN(toks[(i-1)*40+1 : (i-1)*40+50]) AS n_chunk_tokens,
        |  ARRAY_TO_STRING(toks[(i-1)*40+1 : (i-1)*40+50], ' ') AS chunk_text
        |FROM k, UNNEST(GENERATE_SERIES(1, nch)) AS u(i)
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    "q78_pack_sequences" ->
      s"""WITH d AS (SELECT doc_id,
        |             CAST(LEN(STRING_SPLIT_REGEX(TRIM(text), ' +')) AS BIGINT) AS n_tok,
        |             ${bucketSql("doc_id", 8)} AS shard
        |           FROM documents),
        |c AS (SELECT *, SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |                ROWS UNBOUNDED PRECEDING) AS cum FROM d)
        |SELECT shard, CAST((cum - n_tok) // 2000 AS BIGINT) AS pack_id,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
        |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
        |FROM c
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    // q316: q78's offset CTEs + the closed-form fragment count
    "q316_pack_fragmentation" ->
      s"""WITH d AS (SELECT doc_id,
        |             CAST(LEN(STRING_SPLIT_REGEX(TRIM(text), ' +')) AS BIGINT) AS n_tok,
        |             ${bucketSql("doc_id", 8)} AS shard
        |           FROM documents),
        |c AS (SELECT *, SUM(n_tok) OVER (PARTITION BY shard ORDER BY doc_id
        |                ROWS UNBOUNDED PRECEDING) AS cum FROM d),
        |p AS (SELECT shard, n_tok,
        |        CAST((cum - 1) // 2000 AS BIGINT)
        |          - CAST((cum - n_tok) // 2000 AS BIGINT) + 1 AS frags
        |      FROM c)
        |SELECT shard, COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
        |  CAST(SUM(CASE WHEN frags > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_split_docs,
        |  CAST(SUM(frags) AS BIGINT) AS n_fragments,
        |  CAST(SUM(CASE WHEN frags > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / COUNT(*) AS split_rate
        |FROM p
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    "q75_stratified_sample" ->
      s"""SELECT doc_id, lang, sample_rank FROM (
        |  SELECT doc_id, lang,
        |    ROW_NUMBER() OVER (PARTITION BY lang
        |      ORDER BY ${phashSql("CAST(doc_id AS VARCHAR)")}, doc_id) AS sample_rank
        |  FROM documents)
        |WHERE sample_rank <= 25
        |ORDER BY lang, sample_rank""".stripMargin,
    "q66_pii_scrub" ->
      s"""SELECT c_custkey,
        | REGEXP_REPLACE(c_name, '\\d+', '<ID>', 'g') AS masked_name,
        | LENGTH(REGEXP_REPLACE(c_name, '[^0-9]', '', 'g')) AS n_masked_chars,
        | ${phashSql("c_name")} AS pseudonym_key
        |FROM customer
        |ORDER BY c_custkey""".stripMargin,
    "q117_weighted_sample" ->
      s"""WITH d AS (SELECT doc_id, LEAST(n_chars // 200 + 1, 8) AS w
        |           FROM documents),
        |v AS (SELECT doc_id, w, UNNEST(GENERATE_SERIES(1, w)) AS j FROM d),
        |p AS (SELECT doc_id, w,
        |        MIN(${phashSql("CAST(doc_id AS VARCHAR) || ':' || CAST(j AS VARCHAR)")}) AS priority
        |      FROM v GROUP BY 1, 2)
        |SELECT doc_id, w, priority FROM p
        |ORDER BY priority, doc_id
        |LIMIT 50""".stripMargin,
    "q68_hash_sample" ->
      s"""SELECT doc_id, lang, n_chars
        |FROM documents
        |WHERE ${bucketSql("doc_id", 20)} = 0
        |ORDER BY doc_id""".stripMargin,
    "q69_train_split" ->
      s"""SELECT CASE WHEN b < 8 THEN 'train' WHEN b = 8 THEN 'val'
        |            ELSE 'test' END AS split,
        | COUNT(*) AS n_docs,
        | CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
        | COUNT(DISTINCT lang) AS n_langs
        |FROM (SELECT *, ${bucketSql("doc_id", 10)} AS b FROM documents)
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    // q81 is the Bloom-pruned PLAN of the same exact computation — the
    // prune is lossless (no false negatives), so one oracle serves both.
    "q70_decontaminate" -> decontaminateOracle,
    "q81_bloom_decontaminate" -> decontaminateOracle,
    "q280_leak_severity" -> leakSeverityOracle,
    // q313: prepareCorpus's stage rules restated; cluster labels come
    // from Dedup.clusterLabCte (the q67 CTEs verbatim). CTE names t/s/
    // inv/common/pairs/edges/reach/lab belong to that fragment — the
    // waterfall's own CTEs use fresh names.
    // q334: same interleave order, plain-window cumsum mirror
    "q334_interleaved_packing" ->
      """WITH r AS (SELECT doc_id, source,
        |    CAST(LEN(STRING_SPLIT_REGEX(TRIM(text), ' +')) AS BIGINT) AS n_tok,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
        |      AS BIGINT) AS round
        |  FROM documents),
        |c AS (SELECT *, SUM(n_tok) OVER (ORDER BY round, source, doc_id
        |        ROWS UNBOUNDED PRECEDING) AS cum FROM r)
        |SELECT CAST((cum - n_tok) // 2000 AS BIGINT) AS pack_id,
        |  COUNT(*) AS n_docs,
        |  CAST(SUM(n_tok) AS BIGINT) AS sum_tokens,
        |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
        |  MIN(doc_id) AS first_doc
        |FROM c
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    // q349: q280's hit pairs + one source join
    "q349_leak_source_matrix" ->
      s"""WITH t AS (SELECT doc_id,
        |    STRING_SPLIT_REGEX(TRIM(text), ' +') AS toks FROM documents),
        |h5 AS (SELECT doc_id,
        |        UNNEST(LIST_TRANSFORM(LIST_DISTINCT(LIST_TRANSFORM(
        |          GENERATE_SERIES(1, GREATEST(LEN(toks)-4, 1)),
        |          i -> CONCAT_WS(' ', toks[i], toks[i+1], toks[i+2],
        |                         toks[i+3], toks[i+4]))),
        |          x -> ${phashSql("x")})) AS h
        |      FROM t),
        |hits AS (SELECT DISTINCT tr.doc_id, be.doc_id AS bench_id
        |         FROM h5 tr JOIN h5 be
        |           ON tr.h = be.h AND be.doc_id % 20 = 0
        |            AND tr.doc_id % 20 <> 0)
        |SELECT hits.bench_id, d.source,
        |  CAST(COUNT(DISTINCT hits.doc_id) AS BIGINT) AS n_train_docs
        |FROM hits JOIN documents d ON d.doc_id = hits.doc_id
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    // q348: the q342 rules at source granularity
    "q348_source_cards" ->
      s"""WITH t AS (SELECT doc_id, source, lang, text,
        |    STRING_SPLIT_REGEX(TRIM(text), ' +') AS toks FROM documents),
        |dk AS (SELECT ck FROM (
        |    SELECT md5(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))))
        |      AS ck, COUNT(*) AS n
        |    FROM documents GROUP BY 1) WHERE n > 1),
        |h5 AS (SELECT doc_id,
        |        UNNEST(LIST_TRANSFORM(LIST_DISTINCT(LIST_TRANSFORM(
        |          GENERATE_SERIES(1, GREATEST(LEN(toks)-4, 1)),
        |          i -> CONCAT_WS(' ', toks[i], toks[i+1], toks[i+2],
        |                         toks[i+3], toks[i+4]))),
        |          x -> ${phashSql("x")})) AS h
        |      FROM t),
        |cont AS (SELECT DISTINCT tr.doc_id FROM h5 tr JOIN h5 be
        |         ON tr.h = be.h AND be.doc_id % 20 = 0
        |          AND tr.doc_id % 20 <> 0)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(LEN(toks)) AS BIGINT) AS n_tokens,
        |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |  CAST(SUM(CASE WHEN
        |      md5(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))))
        |        IN (SELECT ck FROM dk) THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_exact_dup_docs,
        |  CAST(SUM(CASE WHEN doc_id IN (SELECT doc_id FROM cont)
        |      THEN 1 ELSE 0 END) AS BIGINT) AS n_contaminated,
        |  CAST(SUM(LEN(toks)) AS DOUBLE) / COUNT(*) AS mean_tokens
        |FROM t
        |GROUP BY source
        |ORDER BY source""".stripMargin,
    // q343: q313's stage CTEs restated as per-doc flags
    "q343_doc_lineage" ->
      s"""WITH RECURSIVE ${graft.dedup.Dedup.clusterLabCte},
        |h5 AS (SELECT doc_id,
        |        UNNEST(LIST_TRANSFORM(LIST_DISTINCT(LIST_TRANSFORM(
        |          GENERATE_SERIES(1, GREATEST(LEN(toks)-4, 1)),
        |          i -> CONCAT_WS(' ', toks[i], toks[i+1], toks[i+2],
        |                         toks[i+3], toks[i+4]))),
        |          x -> ${phashSql("x")})) AS h
        |      FROM t),
        |cont AS (SELECT DISTINCT tr.doc_id FROM h5 tr JOIN h5 be
        |         ON tr.h = be.h AND be.doc_id % 20 = 0
        |          AND tr.doc_id % 20 <> 0),
        |f AS (SELECT doc_id, text,
        |        doc_id % 20 = 0 AS is_bench,
        |        LEN(STRING_SPLIT_REGEX(TRIM(text), ' +')) < 10 AS too_short,
        |        doc_id IN (SELECT doc_id FROM cont) AS contaminated
        |      FROM documents),
        |s4 AS (SELECT doc_id,
        |         doc_id = MIN(doc_id) OVER (PARTITION BY
        |           md5(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g')))))
        |           AS exact_canonical
        |       FROM f WHERE NOT is_bench AND NOT contaminated
        |         AND NOT too_short),
        |k5 AS (SELECT s4.doc_id,
        |         lab.cluster_id IS NOT NULL AND
        |           s4.doc_id <> MIN(s4.doc_id) OVER (PARTITION BY
        |             COALESCE(lab.cluster_id, -s4.doc_id)) AS neardup_removed
        |       FROM s4 LEFT JOIN lab ON lab.doc_id = s4.doc_id
        |       WHERE s4.exact_canonical),
        |s6 AS (SELECT doc_id FROM k5 WHERE NOT neardup_removed),
        |s7 AS (SELECT doc_id FROM (
        |         SELECT doc_id, MIN(doc_id) OVER (PARTITION BY doc_id // 5)
        |           AS m FROM s6) WHERE doc_id = m),
        |s8 AS (SELECT doc_id FROM (
        |         SELECT doc_id, MIN(doc_id) OVER (PARTITION BY doc_id // 4)
        |           AS m FROM s7) WHERE doc_id = m)
        |SELECT f.doc_id, f.is_bench, f.too_short, f.contaminated,
        |  COALESCE(NOT s4.exact_canonical, FALSE) AS exact_duplicate,
        |  COALESCE(k5.neardup_removed, FALSE) AS neardup_removed,
        |  f.doc_id IN (SELECT doc_id FROM s6)
        |    AND f.doc_id NOT IN (SELECT doc_id FROM s7)
        |    AS image_neardup_removed,
        |  f.doc_id IN (SELECT doc_id FROM s7)
        |    AND f.doc_id NOT IN (SELECT doc_id FROM s8)
        |    AS audio_neardup_removed,
        |  f.doc_id IN (SELECT doc_id FROM s8) AS kept
        |FROM f
        |LEFT JOIN s4 ON s4.doc_id = f.doc_id
        |LEFT JOIN k5 ON k5.doc_id = f.doc_id
        |ORDER BY f.doc_id""".stripMargin,
    // q342: the same shared rules, restated in one SQL card
    "q342_dataset_card" ->
      s"""WITH ${graft.dedup.Dedup.jaccardCommonCte},
        |base AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(LEN(STRING_SPLIT_REGEX(TRIM(text), ' +'))) AS BIGINT)
        |      AS n_tokens,
        |    CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
        |    CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources
        |  FROM documents),
        |dg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact_dup_groups
        |  FROM (SELECT md5(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))))
        |          AS ck, COUNT(*) AS n
        |        FROM documents GROUP BY 1 HAVING COUNT(*) > 1)),
        |np AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_neardup_pairs
        |  FROM common WHERE CAST(c AS DOUBLE) / (na + nb - c) >= 0.5),
        |h5 AS (SELECT doc_id,
        |        UNNEST(LIST_TRANSFORM(LIST_DISTINCT(LIST_TRANSFORM(
        |          GENERATE_SERIES(1, GREATEST(LEN(toks)-4, 1)),
        |          i -> CONCAT_WS(' ', toks[i], toks[i+1], toks[i+2],
        |                         toks[i+3], toks[i+4]))),
        |          x -> ${phashSql("x")})) AS h
        |      FROM t),
        |ct AS (SELECT CAST(COUNT(DISTINCT tr.doc_id) AS BIGINT)
        |          AS n_contaminated
        |       FROM h5 tr JOIN h5 be
        |         ON tr.h = be.h AND be.doc_id % 20 = 0
        |          AND tr.doc_id % 20 <> 0)
        |SELECT base.*, dg.n_exact_dup_groups, np.n_neardup_pairs,
        |  ct.n_contaminated,
        |  CAST(n_tokens AS DOUBLE) / n_docs AS mean_tokens
        |FROM base, dg, np, ct""".stripMargin,
    // q333: plain-window mirror of the two-level interleave rank
    "q333_interleave_order" ->
      """WITH r AS (SELECT doc_id, source,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
        |      AS BIGINT) AS round
        |  FROM documents)
        |SELECT CAST(ROW_NUMBER() OVER (ORDER BY round, source, doc_id)
        |    AS BIGINT) AS position,
        |  round, source, doc_id
        |FROM r
        |ORDER BY position""".stripMargin,
    // q329: q285's probe chain (Dedup.deltaProbeCte, verbatim) + the
    // q313-style stage counts over the delta slice
    "q329_delta_ingest_report" ->
      s"""WITH ${graft.dedup.Dedup.deltaProbeCte},
        |h5 AS (SELECT doc_id,
        |        UNNEST(LIST_TRANSFORM(LIST_DISTINCT(LIST_TRANSFORM(
        |          GENERATE_SERIES(1, GREATEST(LEN(toks)-4, 1)),
        |          i -> CONCAT_WS(' ', toks[i], toks[i+1], toks[i+2],
        |                         toks[i+3], toks[i+4]))),
        |          x -> ${phashSql("x")})) AS h
        |      FROM t),
        |cont AS (SELECT DISTINCT tr.doc_id FROM h5 tr JOIN h5 be
        |         ON tr.h = be.h AND be.doc_id % 20 = 0
        |          AND tr.doc_id % 20 <> 0),
        |d1 AS (SELECT doc_id, text,
        |        LEN(STRING_SPLIT_REGEX(TRIM(text), ' +')) AS ntok
        |      FROM documents WHERE doc_id % 10 = 0),
        |w2 AS (SELECT * FROM d1 WHERE doc_id % 20 <> 0),
        |w3 AS (SELECT * FROM w2 WHERE ntok >= 10),
        |w4 AS (SELECT * FROM w3
        |       WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
        |ckk AS (SELECT md5(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))))
        |          AS k
        |        FROM documents WHERE doc_id % 10 <> 0),
        |w5 AS (SELECT * FROM w4
        |       WHERE md5(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g'))))
        |         NOT IN (SELECT k FROM ckk)),
        |w6 AS (SELECT * FROM w5
        |       WHERE doc_id NOT IN (SELECT DISTINCT new_doc FROM m)),
        |w7 AS (SELECT * FROM w6
        |       WHERE doc_id NOT IN (
        |         SELECT d.doc_id FROM documents d JOIN documents c
        |           ON d.doc_id // 5 = c.doc_id // 5
        |          AND c.doc_id <> d.doc_id AND c.doc_id % 10 <> 0
        |         WHERE d.doc_id % 10 = 0)),
        |w8 AS (SELECT * FROM w7
        |       WHERE doc_id NOT IN (
        |         SELECT d.doc_id FROM documents d JOIN documents c
        |           ON d.doc_id // 4 = c.doc_id // 4
        |          AND c.doc_id <> d.doc_id AND c.doc_id % 10 <> 0
        |         WHERE d.doc_id % 10 = 0))
        |SELECT '1_delta_total' AS stage,
        |  CAST((SELECT COUNT(*) FROM d1) AS BIGINT) AS n_docs
        |UNION ALL SELECT '2_non_bench', (SELECT COUNT(*) FROM w2)
        |UNION ALL SELECT '3_min_length', (SELECT COUNT(*) FROM w3)
        |UNION ALL SELECT '4_decontaminated', (SELECT COUNT(*) FROM w4)
        |UNION ALL SELECT '5_exact_new', (SELECT COUNT(*) FROM w5)
        |UNION ALL SELECT '6_neardup_new', (SELECT COUNT(*) FROM w6)
        |UNION ALL SELECT '7_image_new', (SELECT COUNT(*) FROM w7)
        |UNION ALL SELECT '8_audio_new', (SELECT COUNT(*) FROM w8)
        |ORDER BY stage""".stripMargin,
    "q313_build_waterfall" ->
      s"""WITH RECURSIVE ${graft.dedup.Dedup.clusterLabCte},
        |h5 AS (SELECT doc_id,
        |        UNNEST(LIST_TRANSFORM(LIST_DISTINCT(LIST_TRANSFORM(
        |          GENERATE_SERIES(1, GREATEST(LEN(toks)-4, 1)),
        |          i -> CONCAT_WS(' ', toks[i], toks[i+1], toks[i+2],
        |                         toks[i+3], toks[i+4]))),
        |          x -> ${phashSql("x")})) AS h
        |      FROM t),
        |cont AS (SELECT DISTINCT tr.doc_id FROM h5 tr JOIN h5 be
        |         ON tr.h = be.h AND be.doc_id % 20 = 0
        |          AND tr.doc_id % 20 <> 0),
        |d0 AS (SELECT doc_id, text,
        |        LEN(STRING_SPLIT_REGEX(TRIM(text), ' +')) AS ntok
        |      FROM documents),
        |w2 AS (SELECT * FROM d0 WHERE doc_id % 20 <> 0),
        |w3 AS (SELECT * FROM w2
        |       WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
        |w4 AS (SELECT * FROM w3 WHERE ntok >= 10),
        |w5 AS (SELECT doc_id FROM (
        |        SELECT doc_id, MIN(doc_id) OVER (PARTITION BY
        |          md5(LOWER(TRIM(REGEXP_REPLACE(text, '\\s+', ' ', 'g')))))
        |          AS m
        |        FROM w4) WHERE doc_id = m),
        |w6 AS (SELECT doc_id FROM w5
        |       WHERE doc_id NOT IN (SELECT doc_id FROM lab)
        |       UNION ALL
        |       SELECT doc_id FROM (
        |         SELECT w5.doc_id, MIN(w5.doc_id) OVER (PARTITION BY
        |           lab.cluster_id) AS m
        |         FROM w5 JOIN lab USING (doc_id)) WHERE doc_id = m),
        |w7 AS (SELECT doc_id FROM (
        |         SELECT doc_id, MIN(doc_id) OVER (PARTITION BY doc_id // 5)
        |           AS m FROM w6) WHERE doc_id = m),
        |w8 AS (SELECT doc_id FROM (
        |         SELECT doc_id, MIN(doc_id) OVER (PARTITION BY doc_id // 4)
        |           AS m FROM w7) WHERE doc_id = m)
        |SELECT '1_total' AS stage,
        |  CAST((SELECT COUNT(*) FROM d0) AS BIGINT) AS n_docs
        |UNION ALL SELECT '2_non_bench', (SELECT COUNT(*) FROM w2)
        |UNION ALL SELECT '3_decontaminated', (SELECT COUNT(*) FROM w3)
        |UNION ALL SELECT '4_min_length', (SELECT COUNT(*) FROM w4)
        |UNION ALL SELECT '5_exact_canonical', (SELECT COUNT(*) FROM w5)
        |UNION ALL SELECT '6_neardup_rep', (SELECT COUNT(*) FROM w6)
        |UNION ALL SELECT '7_image_rep', (SELECT COUNT(*) FROM w7)
        |UNION ALL SELECT '8_audio_rep', (SELECT COUNT(*) FROM w8)
        |ORDER BY stage""".stripMargin,
    // q303: the naive sorted-window cumsum; the two-level prefix sum
    // computes the same total order
    "q303_budget_selection" ->
      """WITH d AS (SELECT doc_id,
        |    CAST(LEN(toks) AS BIGINT) AS n_tokens,
        |    CAST(LEN(LIST_DISTINCT(toks)) AS BIGINT) AS quality
        |  FROM (SELECT doc_id,
        |          STRING_SPLIT_REGEX(TRIM(text), ' +') AS toks
        |        FROM documents)),
        |c AS (SELECT doc_id, quality, n_tokens,
        |        SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id)
        |          AS cum_tokens
        |      FROM d)
        |SELECT doc_id, quality, n_tokens,
        |  CAST(cum_tokens AS BIGINT) AS cum_tokens,
        |  cum_tokens <= 15000 AS selected
        |FROM c ORDER BY doc_id""".stripMargin,
    // q377: priorities replayed portably — the long→double cast
    // rounds identically (round-to-nearest-even) in both engines and
    // the power-of-two divide is then exact, so w/u rounds once the
    // same way; tau is the 33rd priority (0 when <= 32 docs qualify,
    // the DLT boundary case), HT weight = max(w, tau)
    "q377_priority_sample" ->
      s"""WITH d AS (SELECT doc_id,
        |    CAST(LEN(STRING_SPLIT_REGEX(TRIM(text), ' +')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |p AS (SELECT doc_id, n_tokens,
        |        CAST(n_tokens AS DOUBLE) /
        |          ((${phashSql("CAST(doc_id AS VARCHAR) || ':prio'")} + 1)
        |            / 72057594037927936.0) AS pri
        |      FROM d WHERE n_tokens > 0),
        |t AS (SELECT doc_id, n_tokens, pri FROM p
        |      ORDER BY pri DESC, doc_id LIMIT 33),
        |r AS (SELECT doc_id, n_tokens, pri,
        |        ROW_NUMBER() OVER (ORDER BY pri DESC, doc_id) AS rank
        |      FROM t),
        |r2 AS (SELECT doc_id, n_tokens, rank,
        |         COALESCE(MAX(CASE WHEN rank = 33 THEN pri END) OVER (),
        |           0.0) AS tau
        |       FROM r)
        |SELECT CAST(rank AS INT) AS rank, doc_id, n_tokens,
        |  GREATEST(CAST(n_tokens AS DOUBLE), tau) AS ht_weight
        |FROM r2 WHERE rank <= 32 ORDER BY rank""".stripMargin,
    // q378: the per-stratum replay — tau_s is the 9th priority per
    // source (0 when a stratum holds <= 8 docs), ht = max(w, tau_s)
    "q378_stratified_priority_sample" ->
      s"""WITH d AS (SELECT doc_id, source,
        |    CAST(LEN(STRING_SPLIT_REGEX(TRIM(text), ' +')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |p AS (SELECT doc_id, source, n_tokens,
        |        CAST(n_tokens AS DOUBLE) /
        |          ((${phashSql("CAST(doc_id AS VARCHAR) || ':sprio'")} + 1)
        |            / 72057594037927936.0) AS pri
        |      FROM d WHERE n_tokens > 0),
        |r AS (SELECT doc_id, source, n_tokens, pri,
        |        ROW_NUMBER() OVER (PARTITION BY source
        |          ORDER BY pri DESC, doc_id) AS rank
        |      FROM p),
        |t AS (SELECT source,
        |        COALESCE(MAX(CASE WHEN rank = 9 THEN pri END), 0.0) AS tau
        |      FROM r WHERE rank <= 9 GROUP BY source)
        |SELECT r.source, CAST(r.rank AS INT) AS rank, r.doc_id, r.n_tokens,
        |  GREATEST(CAST(r.n_tokens AS DOUBLE), t.tau) AS ht_weight
        |FROM r JOIN t ON r.source = t.source
        |WHERE r.rank <= 8
        |ORDER BY r.source, r.rank""".stripMargin,
    // q292: oracle uses plain windows — same ranks, simpler plan
    "q292_quantile_normalize" ->
      """WITH d AS (SELECT doc_id, source, n_chars AS v FROM documents),
        |p AS (SELECT v AS pv,
        |        ROW_NUMBER() OVER (ORDER BY v, doc_id) AS gr FROM d),
        |nn AS (SELECT COUNT(*) AS n FROM d),
        |s AS (SELECT doc_id, source, v,
        |        ROW_NUMBER() OVER (PARTITION BY source
        |          ORDER BY v, doc_id) AS r,
        |        COUNT(*) OVER (PARTITION BY source) AS ns
        |      FROM d)
        |SELECT s.doc_id, s.source, s.v AS n_chars, p.pv AS v_norm
        |FROM s CROSS JOIN nn
        |JOIN p ON p.gr = (s.r * nn.n + s.ns - 1) // s.ns
        |ORDER BY s.doc_id""".stripMargin,
    "q71_rep_signals" ->
      """WITH tok AS (SELECT doc_id,
        |               UNNEST(STRING_SPLIT_REGEX(TRIM(text), ' +')) AS tok
        |             FROM documents),
        |c AS (SELECT doc_id, tok, COUNT(*) AS c FROM tok GROUP BY 1, 2)
        |SELECT doc_id,
        | CAST(SUM(c) AS BIGINT) AS n_tokens,
        | COUNT(*) AS n_unique,
        | CAST(COUNT(*) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS unique_ratio,
        | CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS top_token_share,
        | (CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS BIGINT)) > 0.1 AS is_repetitive
        |FROM c
        |GROUP BY doc_id
        |ORDER BY doc_id""".stripMargin)

  /** q280: the same 5-gram CTE machinery as q70, rolled to the BENCH
    * side with clean items kept by a left join. */
  private[graft] lazy val leakSeverityOracle: String =
      s"""WITH t AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), ' +') AS toks
        |           FROM documents),
        |s AS (SELECT doc_id,
        |        LIST_DISTINCT(LIST_TRANSFORM(
        |          GENERATE_SERIES(1, GREATEST(LEN(toks)-4, 1)),
        |          i -> CONCAT_WS(' ', toks[i], toks[i+1], toks[i+2],
        |                         toks[i+3], toks[i+4]))) AS sh
        |      FROM t),
        |h AS (SELECT doc_id,
        |        UNNEST(LIST_TRANSFORM(sh, x -> ${phashSql("x")})) AS h
        |      FROM s),
        |hits AS (SELECT b.doc_id AS bench_id,
        |    COUNT(DISTINCT t.doc_id) AS n_train_docs,
        |    COUNT(DISTINCT b.h) AS n_leaked_shingles
        |  FROM h t JOIN h b ON t.h = b.h
        |    AND b.doc_id % 20 = 0 AND t.doc_id % 20 <> 0
        |  GROUP BY 1)
        |SELECT d.doc_id AS bench_id,
        |  CAST(COALESCE(hits.n_train_docs, 0) AS BIGINT) AS n_train_docs,
        |  CAST(COALESCE(hits.n_leaked_shingles, 0) AS BIGINT)
        |    AS n_leaked_shingles
        |FROM documents d LEFT JOIN hits ON hits.bench_id = d.doc_id
        |WHERE d.doc_id % 20 = 0
        |ORDER BY 1""".stripMargin

  private lazy val decontaminateOracle: String =
      s"""WITH t AS (SELECT doc_id, STRING_SPLIT_REGEX(TRIM(text), ' +') AS toks
        |           FROM documents),
        |s AS (SELECT doc_id,
        |        LIST_DISTINCT(LIST_TRANSFORM(
        |          GENERATE_SERIES(1, GREATEST(LEN(toks)-4, 1)),
        |          i -> CONCAT_WS(' ', toks[i], toks[i+1], toks[i+2],
        |                         toks[i+3], toks[i+4]))) AS sh
        |      FROM t),
        |h AS (SELECT doc_id,
        |        UNNEST(LIST_TRANSFORM(sh, x -> ${phashSql("x")})) AS h
        |      FROM s)
        |SELECT t.doc_id,
        | COUNT(DISTINCT b.doc_id) AS n_bench_docs,
        | COUNT(DISTINCT t.h) AS n_shared_shingles
        |FROM h t JOIN h b ON t.h = b.h
        | AND b.doc_id % 20 = 0 AND t.doc_id % 20 <> 0
        |GROUP BY t.doc_id
        |ORDER BY t.doc_id""".stripMargin
}
