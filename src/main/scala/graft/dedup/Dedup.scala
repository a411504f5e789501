package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._
import graft.functions.Banding

/** Deduplication operators for LLM-training-data pipelines (north-star
  * extension, BASELINE.json): exact dedup, MinHash+LSH near-dup pairs,
  * SimHash fingerprints, and exact n-gram Jaccard via an inverted-index
  * join. The reference's only dedup is the MinIO last-write-wins object
  * key (/root/reference/dags/get_prices_load_minio.py:80); these
  * generalize it to content-level duplicate detection.
  *
  * Scale design (100 TB):
  *  - exact dedup is a hash shuffle on a 128-bit content key — the only
  *    wide op; no sort.
  *  - MinHash signatures are one narrow pass; LSH banding turns the
  *    quadratic pair search into an equi-join on band keys. Band
  *    width r tunes the candidate-pair false-positive rate, so the
  *    shuffle volume is controlled regardless of corpus size.
  *  - n-gram Jaccard avoids O(n^2) via the inverted index; the join
  *    explodes only on shared shingles. For web-scale corpora add
  *    prefix filtering (PPJoin) — join only on each doc's rarest
  *    (n - ceil(tau*n) + 1) shingles — which preserves exactness.
  *  - every hash is the engine-portable [[graft.Tables.phash]] so the
  *    whole pipeline stays DuckDB-oracle-checkable.
  */
object Dedup {

  def tokens(c: Column): Column = split(trim(c), " +")

  /** Distinct word trigram shingles — the native [[graft.functions.WordNGrams]]
    * expression (codegen'd clipped-tail n-grams + first-occurrence
    * distinct), replacing an interpreted transform/concat_ws chain. */
  def shingles(c: Column): Column =
    call_function("word_shingles", tokens(c), lit(3))

  /** 56-bit portable hashes of the distinct shingles, folded into Z_P
    * for MinHash when `mod` is set. One codegen'd pass per document. */
  def shingleHashes(c: Column, mod: Boolean): Column =
    call_function(if (mod) "phash_mod_array" else "phash_array", shingles(c))

  /** The library's ONE canonical-content rule: md5 over
    * whitespace-collapsed, lowercased text — shared by q30, the
    * end-to-end corpus build, and the specs so the definition can
    * never silently fork. */
  def contentKey(text: Column): Column =
    md5(lower(trim(regexp_replace(text, "\\s+", " "))).cast(BinaryType))

  /** Exact duplicate grouping on whitespace/case-normalized content.
    * One shuffle on the md5 key; at scale prefer groupBy+agg over the
    * window when only canonical rows are kept (smaller state). */
  def exactDedup(spark: SparkSession, dir: String): DataFrame = {
    val key = contentKey(col("text"))
    val w = Window.partitionBy(col("content_key"))
    spread(load(spark, dir, "documents"))
      .select(col("doc_id"), key.as("content_key"))
      .withColumn("dup_group", min(col("doc_id")).over(w))
      .withColumn("group_size", count(lit(1)).over(w))
      .withColumn("is_canonical", col("doc_id") === col("dup_group"))
      .select(col("doc_id"), col("dup_group"), col("group_size"),
        col("is_canonical"))
      .orderBy(col("doc_id"))
  }

  /** MinHash permutation constants — canonical values live in
    * [[graft.functions.Hashing]] (the codegen kernel); these Seq views
    * exist to interpolate the identical literals into the DuckDB
    * oracle. */
  val A: Seq[Long] = graft.functions.Hashing.A.toSeq
  val B: Seq[Long] = graft.functions.Hashing.B.toSeq
  val K: Int = graft.functions.Hashing.K // signature length
  val BANDS = 4 // LSH bands of r = K/BANDS rows
  val R = K / BANDS

  /** Per-doc MinHash signature (array of K minima) over trigram
    * shingles — one codegen'd pass ([[graft.functions.MinHashSig]]),
    * narrow and shuffle-free. */
  private def withSignature(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      call_function("minhash_sig", shingleHashes(col("text"), mod = true))
        .as("sig"))

  /** LSH band keys of a (doc_id, sig) frame — ONE definition of the
    * band split serving q31's self-join, q285's delta-vs-corpus probe,
    * and the streaming detectors (all of which must never fork). Extra
    * input columns (e.g. the streaming form's watermark-tagged event
    * time) pass through untouched. */
  private[graft] def bandKeys(sigs: DataFrame): DataFrame =
    Banding.banded(sigs, array((0 until BANDS).map { b =>
      struct(lit(b).as("band"),
        concat_ws(",", (0 until R).map(r =>
          element_at(col("sig"), b * R + r + 1).cast(StringType)): _*).as("bkey"))
    }: _*))

  /** MinHash + LSH near-duplicate pairs of a (doc_id, sig) frame — the
    * detector q31 serves and q335's canaries audit: band-key self-join
    * with doc_id ordering, deduped, then the signature-estimated
    * Jaccard >= 0.5 confirms. The band join is the scale path — pair
    * generation never touches non-colliding docs. */
  private def lshPairs(sigs: DataFrame): DataFrame = {
    val bands = bandKeys(sigs)
    val x = bands.alias("x")
    val y = bands.alias("y")
    x.join(y, col("x.band") === col("y.band") &&
        col("x.bkey") === col("y.bkey") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.sig").as("sig_a"), col("y.sig").as("sig_b"))
      .distinct()
      .withColumn("est_jaccard",
        size(filter(zip_with(col("sig_a"), col("sig_b"), (a, b) => a === b),
          m => m)).cast(DoubleType) / lit(K.toDouble))
      .filter(col("est_jaccard") >= 0.5)
  }

  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    lshPairs(withSignature(spread(load(spark, dir, "documents"))))
      .select(col("doc_a"), col("doc_b"), col("est_jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** 32-bit SimHash per document over tokens (with multiplicity): bit b
    * is set when the signed sum of token-hash bit b is positive. One
    * narrow codegen'd pass ([[graft.functions.SimHash32]]); near-dup
    * lookup is then hamming distance on int keys. */
  def simhash(spark: SparkSession, dir: String): DataFrame =
    simhashed(spark, dir)
      .select(col("doc_id"), col("sh").as("simhash"))
      .orderBy(col("doc_id"))

  /** SimHash fingerprint per document (the q32 projection, reused by
    * the near-dup pairing below). */
  private def simhashed(spark: SparkSession, dir: String): DataFrame =
    spread(load(spark, dir, "documents"))
      .select(col("doc_id"),
        call_function("simhash32",
          call_function("phash_array", tokens(col("text")))).as("sh"))

  /** SimHash near-duplicate pairs (hamming distance <= 3) via LOSSLESS
    * multi-index banding — Manku et al., WWW'07 "Detecting
    * Near-Duplicates for Web Crawling" (PAPERS.md): split the 32-bit
    * fingerprint into 4 disjoint 8-bit bands; a pair within distance 3
    * can touch at most 3 bands, so by pigeonhole at least one band
    * matches exactly and the band equi-join yields a candidate
    * SUPERSET. `bit_count(xor)` verification is then exact — unlike
    * LSH this blocking provably loses nothing.
    *
    * Scale: on near-uniform fingerprints a band matches a random pair
    * with probability 2^-8, so 4 bands cut the verified pair stream
    * ~64x; band width trades that factor against the guaranteed
    * distance (b bands are lossless for hamming < b). This is the
    * hamming-space counterpart of q53's prefix filter — and the
    * pruning that q34's continuous cosine threshold provably cannot
    * have. */
  def simhashNearDup(spark: SparkSession, dir: String): DataFrame =
    Banding.hammingPairs(
      Banding.banded(simhashed(spark, dir),
        Banding.multiBands(Seq(col("sh")), 4, 8)),
      Seq("sh"), 4, 3)
      .select(col("doc_a"), col("doc_b"), col("dist").cast(LongType).as("hamming"))
      .orderBy(col("doc_a"), col("doc_b"))

  /** Trigram-shingle Jaccard >= 0.5 via inverted-index self-join on
    * 56-bit shingle hashes: explode hashed shingles, equi-join on the
    * hash, count overlap, |A ∪ B| = |A| + |B| - common.
    *
    * Scale shape: the join key is an 8-byte long, not a ~25-byte
    * shingle string — the dominant shuffle (the exploded inverted
    * index) shrinks ~3x. Set sizes ride along with the exploded rows
    * (they're functionally dependent on doc_id), so shingles are
    * computed once and no extra size-lookup joins are needed. Hash
    * collisions are identical in both engines (the oracle hashes the
    * same way), and at 2^56 the expected collision count is ~0 for any
    * realistic shingle universe. */
  /** The exact-Jaccard pair scores for every pair that CAN reach
    * J >= 0.5 — ONE definition feeding q33's >= 0.5 filter and q307's
    * threshold sweep (whose lowest rung is 0.5), so detector and
    * tuning curve can never fork.
    *
    * The join carries the LENGTH FILTER (Xiao et al.): J >= τ forces
    * |B| <= |A|/τ, so at τ=0.5 any pair with a >2x shingle-count
    * ratio is provably below every consumer's threshold and is
    * dropped DURING the probe — before the candidate rows reach the
    * per-pair groupBy shuffle. Lossless for all consumers (boundary
    * inclusive: nb == 2·na can still hit exactly 0.5); on a
    * dense-vocabulary corpus this halves the dominant shuffle. */
  private def jaccardScoredPairs(spark: SparkSession, dir: String): DataFrame = {
    val inv = spread(load(spark, dir, "documents"))
      .select(col("doc_id"),
        shingleHashes(col("text"), mod = false).as("shs"))
      .select(col("doc_id"), size(col("shs")).cast(LongType).as("n"),
        explode(col("shs")).as("h"))
    val a = inv.alias("a")
    val b = inv.alias("b")
    a.join(b, col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
        col("a.n") <= col("b.n") * 2 && col("b.n") <= col("a.n") * 2)
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("c"))
      .withColumn("jaccard",
        col("c").cast(DoubleType) / (col("na") + col("nb") - col("c")))
  }

  /** q33's pair set WITHOUT the presentation sort — the form every
    * internal consumer (the graph family, weighted rescoring, corpus
    * rollups) must take. The registered q33 adds a global orderBy for
    * the oracle; materializing THAT frame (localCheckpoint before a
    * multi-use graph computation) executes the range-partitioned sort,
    * whose sampling pass re-runs the entire upstream reduction before
    * the sort runs it again — a hidden 2× of the family's most
    * expensive subtree that the optimizer's sort elimination would
    * have removed from an un-checkpointed plan. Measured at sf0.1:
    * every edge-set consumer paid ~+1.5 s for it (r10 bench vs r9). */
  private[graft] def jaccardEdges(spark: SparkSession, dir: String): DataFrame =
    jaccardScoredPairs(spark, dir)
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))

  def ngramJaccard(spark: SparkSession, dir: String): DataFrame =
    jaccardEdges(spark, dir)
      .orderBy(col("doc_a"), col("doc_b"))

  /** q307 — DEDUP THRESHOLD SWEEP: the pair count the detector would
    * emit at each candidate Jaccard threshold, in ONE pass over the
    * scored pairs — the tuning curve read before committing a τ (too
    * low deletes paraphrases, too high keeps boilerplate; the elbow
    * is in this table). Conditional aggregation over the SAME scored
    * pairs q33 filters (shared via [[jaccardScoredPairs]]), so the
    * τ = 0.5 row is by construction q33's pair count. O(thresholds)
    * output. */
  def thresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val ts = Seq(0.5, 0.6, 0.7, 0.8, 0.9)
    val aggCols = ts.zipWithIndex.map { case (t, i) =>
      sum(when(col("jaccard") >= t, lit(1L)).otherwise(lit(0L)))
        .as(s"c$i")
    }
    val agg = jaccardScoredPairs(spark, dir)
      .agg(aggCols.head, aggCols.tail: _*)
    val stacked = ts.zipWithIndex.map { case (t, i) =>
      s"struct(CAST($t AS DOUBLE) AS threshold, CAST(c$i AS BIGINT) AS n_pairs)"
    }.mkString("array(", ", ", ")")
    agg.select(explode(expr(stacked)).as("s"))
      .select(col("s.threshold").as("threshold"), col("s.n_pairs").as("n_pairs"))
      .orderBy(col("threshold"))
  }

  /** PPJoin-style prefix-filtered exact Jaccard (same answer as q33,
    * different — web-scale — plan): under a global ordering of shingle
    * hashes, any pair with J >= t shares an element within the first
    * n - ceil(t*n) + 1 elements of each doc (Xiao et al., prefix
    * filtering; PAPERS.md similarity-join entries). Only prefixes are
    * exploded into the inverted index — at t=0.5 roughly half the
    * index volume, at t=0.8 a fifth — and candidates are verified
    * exactly via array intersection of the full hash sets. Exactness
    * is preserved; the shuffle that dominates at 100 TB shrinks by
    * 1-t/(1+... the prefix fraction. */
  def ppjoinJaccard(spark: SparkSession, dir: String): DataFrame = {
    val t = 0.5
    // this relation feeds the prefix index AND both verify joins; the
    // shingle-hash pass recomputes per use (narrow, codegen'd). A
    // production pipeline materializes it once as its signature table
    // — deliberately NOT persist()ed here so a benchmarked run prices
    // the full computation and no cache lingers across queries.
    val docs = spread(load(spark, dir, "documents"))
      .select(col("doc_id"),
        array_sort(shingleHashes(col("text"), mod = false)).as("shs"))
      .withColumn("n", size(col("shs")).cast(LongType))
    val prefixLen = (col("n") - ceil(col("n") * t) + 1).cast(IntegerType)
    // the exploded inverted index stays SLIM (doc_id, hash) — carrying
    // the full hash arrays through the pair join would multiply the
    // dominant shuffle by the array size; arrays are joined back only
    // for the (much smaller) candidate verification
    val inv = docs.select(col("doc_id"),
      explode(slice(col("shs"), lit(1), prefixLen)).as("h"))
    val a = inv.alias("a")
    val b = inv.alias("b")
    val cand = a
      .join(b, col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // no broadcast hint: at web scale the signature table is the BIG
    // side (candidates are the small one) — let the planner/AQE pick;
    // a shuffle join on doc_id is the shape that always survives
    cand
      .join(docs.select(col("doc_id").as("doc_a"),
        col("shs").as("sha"), col("n").as("na")), "doc_a")
      .join(docs.select(col("doc_id").as("doc_b"),
        col("shs").as("shb"), col("n").as("nb")), "doc_b")
      .withColumn("c", // arrays are sorted -> native linear merge count
        call_function("sorted_intersect_count", col("sha"), col("shb")))
      .withColumn("jaccard",
        col("c").cast(DoubleType) / (col("na") + col("nb") - col("c")))
      .filter(col("jaccard") >= t)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** One alternating round of the Kiveris et al. star algorithm
    * ("Connected Components in MapReduce and Beyond", PAPERS.md),
    * operating on a deduplicated directed edge list.
    *
    * large-star: every node connects its LARGER neighbors to
    * m(u) = min(Γ(u) ∪ {u}); small-star re-orients each edge
    * large→small and connects u and its (smaller) neighbors to m(u).
    * Alternating the two converges in O(log n) rounds to a forest of
    * stars whose centers are the component minima — the
    * adversarial-diameter (long-chain) complement to plain label
    * propagation. */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
      .distinct()
    val m = sym.groupBy(col("src")).agg(min(col("dst")).as("mn"))
      .withColumn("m", least(col("mn"), col("src")))
    sym.join(m, "src")
      .filter(col("dst") > col("src"))
      .select(col("dst").as("src"), col("m").as("dst"))
      .filter(col("src") =!= col("dst"))
      .distinct()
  }

  private def smallStar(e: DataFrame): DataFrame = {
    val or = e.select(greatest(col("src"), col("dst")).as("src"),
        least(col("src"), col("dst")).as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
    val m = or.groupBy(col("src")).agg(min(col("dst")).as("m"))
    or.join(m, "src")
      .select(col("dst").as("v"), col("m"))
      .union(m.select(col("src").as("v"), col("m")))
      .filter(col("v") =!= col("m"))
      .select(col("v").as("src"), col("m").as("dst"))
      .distinct()
  }

  /** One-shot materialization of a multi-referenced derived frame
    * (typically the exact-Jaccard reduction): a lazy localCheckpoint
    * protects it from recomputation — the sf1 soak measured exchange
    * reuse failing to dedupe it under AQE — at the cost of extra job +
    * block machinery per consumer. Lazy (eager = false) defers only the
    * final stage: under AQE the call itself is one SQL execution that
    * runs every shuffle-map stage of `df` before it returns, so plan
    * construction does run those jobs. The final stage runs with the
    * first action on the result.
    *
    * MEASURED A/B at sf0.1 (26-query graph family, same host window,
    * r11): materialize-always 55.5 s vs fused-plan-never 60.2 s — the
    * materialization wins at gate scale too (without blocks, the
    * single-reference shapes genuinely recompute the reduction), and
    * it wins big at sf1 (the soak's q238 44.3 → 21.4 s class of fix). */
  private[graft] def oneShot(df: DataFrame): DataFrame =
    df.localCheckpoint(eager = false)

  /** `df` materialized by one eager localCheckpoint — one SQL execution —
    * with the aggregates `metrics` observed as `name` inside that same
    * execution. The observed row is read from the execution's own plan
    * once the checkpoint has returned, when every task's accumulator
    * update has been merged, so nothing waits on the listener bus. A
    * missing row is an error naming `what`, never a default. */
  private def checkpointObserved(df: DataFrame, name: String, what: String,
      metrics: Column*): (DataFrame, org.apache.spark.sql.Row) = {
    val observed = df.observe(name, metrics.head, metrics.tail: _*)
    val out = observed.localCheckpoint(eager = true)
    val row = observed.queryExecution.observedMetrics.getOrElse(name,
      throw new IllegalStateException(s"connectedComponents: $what " +
        s"finished without its observed metric '$name'"))
    (out, row)
  }

  /** Connected components over an undirected pair list (first two
    * columns = the two endpoint ids): every node labeled with the
    * minimum id reachable from it. `propagationBudget` (at least 2)
    * caps the propagation rounds, round one included.
    *
    * Two regimes behind one operator:
    *  1. min-label propagation for up to `propagationBudget` rounds —
    *     O(component diameter) rounds. Round one is the seed, the least
    *     of each node's id and its neighbours' ids; it runs fused into
    *     round two. Every later round is ONE SQL execution: an eager
    *     localCheckpoint of the round's joins, whose changed-label count
    *     is observed inside that execution. Under AQE each such execution
    *     runs its shuffle-map stages and its final stage as separate
    *     jobs. Near-dup graphs are shallow, so this is the common exit.
    *  2. if the fixpoint is NOT reached in budget (adversarial
    *     long-chain graphs), fall back to alternating
    *     large-star/small-star contraction, which converges in
    *     O(log n) rounds regardless of diameter — no silent wrong
    *     labels at any depth. Each of its rounds is likewise one eager
    *     localCheckpoint that observes the edge count and checksum.
    * `localCheckpoint` truncates lineage each round so the plan never
    * grows with the loop; the driver only ever sees per-round scalar
    * metrics — no data rides through the driver. */
  def connectedComponents(pairs: DataFrame, propagationBudget: Int = 20): DataFrame = {
    require(propagationBudget >= 2,
      "the propagation budget counts round one, the seed, and at least one checked round")
    val Seq(a, b) = pairs.columns.take(2).toSeq
    // SINGLE-REFERENCE symmetrize: explode each pair into both
    // orientations, so the caller's (typically expensive) pair
    // derivation appears exactly ONCE in the plan — the two-branch
    // union shape either recomputed it (exchange reuse does not
    // reliably dedupe under AQE; measured at sf1) or needed a
    // localCheckpoint whose block write/read taxed every small-graph
    // query at sf0.1 (measured: the r10 family regression). persist()
    // materializes edges on the loop's first action; every round reads
    // the cache, never the derivation.
    val edges = pairs
      .select(explode(array(
        struct(col(a).as("s"), col(b).as("d")),
        struct(col(b).as("s"), col(a).as("d")))).as("e"))
      .select(col("e.s").as("src"), col("e.d").as("dst"))
      .persist()
    // every checked round is one eager localCheckpoint of `frame` (id,
    // label, old_label) that counts the changed labels in the same run
    def checked(frame: DataFrame, round: Int): (DataFrame, Boolean) = {
      val (next, changed) = checkpointObserved(frame, "cc_changed",
        s"propagation round $round", count(when(col("label") =!= col("old_label"), 1)))
      (next.drop("old_label"), changed.getLong(0) == 0)
    }
    // rounds one and two in one pass over the cached edges. Round one
    // (the seed) labels each node with the least id of its closed
    // neighbourhood; every node is a src of the symmetric edges, so it
    // covers the node set. A window over dst gives each edge (v, u) u's
    // seed, and grouping by src gives v's seed (old_label) and round
    // two's label. Each further scan of the edges in this plan would be
    // one more job that builds the same cache, since AQE never reuses a
    // cached-table stage.
    val seedOfDst = least(col("dst"),
      min(col("src")).over(Window.partitionBy(col("dst"))))
    var (labels, converged) = checked(
      edges.select(col("src"), col("dst"), seedOfDst.as("nbr_label"))
        .groupBy(col("src"))
        .agg(least(col("src"), min(col("dst"))).as("old_label"),
          min(col("nbr_label")).as("nbr_min"))
        .select(col("src").as("id"), least(col("old_label"), col("nbr_min")).as("label"),
          col("old_label")), 2)
    var round = 2
    while (!converged && round < propagationBudget) {
      round += 1
      val nbrMin = edges.join(labels, edges("dst") === labels("id"))
        .groupBy(col("src"))
        .agg(min(col("label")).as("nbr_min"))
      val (next, done) = checked(labels.withColumnRenamed("label", "old_label")
        .join(nbrMin, col("id") === col("src"))
        .select(col("id"), least(col("old_label"), col("nbr_min")).as("label"),
          col("old_label")), round)
      labels = next
      converged = done
    }
    if (!converged) {
      // star contraction: converged when an alternating round leaves
      // the edge set unchanged. Each round's checkpoint observes the
      // count and an order-insensitive hash checksum of its edges
      // (decimal(38,0) sum: ANSI-safe against long overflow at any
      // size). Rebuilt from the PERSISTED symmetric edges (one canonical
      // orientation per pair), not the caller's derivation — entering
      // the fallback must not re-run the upstream reduction.
      def starRound(d: DataFrame, what: String) = checkpointObserved(d,
        "cc_star", what, count(lit(1)),
        sum(xxhash64(col("src"), col("dst")).cast(DecimalType(38, 0))))
      var (e, prev) = starRound(edges.filter(col("src") < col("dst")).distinct(),
        "star contraction seed")
      var stable = false
      var rounds = 0
      while (!stable) {
        rounds += 1
        // O(log n) rounds expected (Kiveris et al.); far past that is a
        // regression in the star ops — fail loudly, never spin or emit
        // unconverged labels
        require(rounds <= 64,
          s"star contraction did not converge after $rounds rounds")
        val (next, cur) = starRound(smallStar(largeStar(e)),
          s"star contraction round $rounds")
        // checksum equality is only necessary; confirm with an exact
        // compare (runs ~once, at the end) so a 64-bit hash collision
        // can never bless a non-fixpoint as converged. Both frames are
        // distinct and their counts are equal, so next ⊆ e is next = e.
        stable = cur == prev && next.exceptAll(e).isEmpty
        prev = cur
        e = next
      }
      // at fixpoint e is a star forest pointing at component minima;
      // the node set comes from the last propagated labels, so the
      // result never re-derives the edges after they are unpersisted
      val centers = e.groupBy(col("src")).agg(min(col("dst")).as("label"))
      labels = labels.select(col("id"))
        .join(centers, col("id") === centers("src"), "left")
        .select(col("id"), coalesce(col("label"), col("id")).as("label"))
    }
    val sizes = labels.groupBy(col("label")).agg(count(lit(1)).as("n_members"))
    val out = labels.join(sizes, "label")
      .select(col("id"), col("label"), col("n_members"))
    edges.unpersist()
    out
  }

  /** Connected components over the exact near-dup pairs (q33's edge
    * set): duplicate CLUSTERS, not just pairs — the step a dedup
    * pipeline needs before it can keep one canonical doc per group,
    * since near-dup relations are not transitive (A~B, B~C but A!~C
    * still belong to one retention group). Delegates to
    * [[connectedComponents]] (label propagation with the
    * large-star/small-star fallback for adversarial diameters). */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val pairs = jaccardEdges(spark, dir).select(col("doc_a"), col("doc_b"))
    connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("label").as("cluster_id"),
        col("n_members"))
      .orderBy(col("doc_id"))
  }

  /** Cluster-level MinHash signatures: per-doc codegen'd signatures
    * rolled up per duplicate cluster with the mergeable
    * [[graft.functions.MinHashMerge]] Aggregator — the signature of
    * each cluster's shingle UNION, computed as a partial-aggregable
    * element-wise min (map-side combine applies; no re-shingling of
    * concatenated text). The signature is emitted comma-joined so the
    * oracle compare stays scalar. */
  def clusterMinhash(spark: SparkSession, dir: String): DataFrame = {
    val clusters = dedupClusters(spark, dir)
      .select(col("doc_id"), col("cluster_id"))
    val sigs = withSignature(spread(load(spark, dir, "documents")))
    clusters.join(sigs, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        minhashMergeAgg(col("sig")).as("csig"))
      .select(col("cluster_id"), col("n_members"),
        concat_ws(",", col("csig").cast(ArrayType(StringType))).as("cluster_sig"))
      .orderBy(col("cluster_id"))
  }

  /** The mergeable element-wise-min signature aggregate — shared with
    * the streaming source-sketch (q278), which is the whole point of a
    * MERGEABLE sketch: the same aggregate runs batch and incremental. */
  private[graft] lazy val minhashMergeAgg =
    udaf(graft.functions.MinHashMerge,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]())

  /** EFFECTIVE TOKEN YIELD per source — what each feed actually
    * contributes AFTER near-dup collapse: raw token mass beside the
    * token mass of the feed's q67-CANONICAL documents (each duplicate
    * cluster's content counted once, at its minimum-id survivor;
    * unclustered docs count as themselves). The yield ratio is the
    * curation number that re-prices a feed — a source with high raw
    * volume but low yield mostly re-serves content other docs already
    * carry, and its acquisition/storage cost is mispriced by raw
    * counts. All-integer sums (the per-cluster charge goes WHOLLY to
    * the canonical doc — no fractional apportioning, so no
    * float-summation-order hazard) with ONE final division.
    *
    * Scale shape: one left join of the slim (doc_id, cluster_id)
    * label table against per-doc token counts, then an O(sources)
    * partial-aggregable rollup — the labels come from the bounded
    * label-propagation machinery q67 already runs. */
  def effectiveYield(spark: SparkSession, dir: String): DataFrame = {
    val docs = spread(load(spark, dir, "documents"))
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast(LongType).as("ntok"))
    val clusters = dedupClusters(spark, dir)
      .select(col("doc_id"), col("cluster_id"))
    docs.join(clusters, Seq("doc_id"), "left")
      .withColumn("is_canonical",
        col("cluster_id").isNull || col("cluster_id") === col("doc_id"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("ntok")).as("raw_tokens"),
        sum(when(col("is_canonical"), col("ntok")).otherwise(lit(0L)))
          .as("effective_tokens"))
      .select(col("source"), col("n_docs"), col("raw_tokens"),
        col("effective_tokens"),
        (col("effective_tokens").cast(DoubleType) /
          col("raw_tokens").cast(DoubleType)).as("yield"))
      .orderBy(col("source"))
  }

  /** SPAN-SCRUB PLAN — q272's detections turned into the per-doc
    * REMOVAL plan a cleaning pipeline executes: flagged window
    * occurrences (hash in >= 2 distinct docs) become [pos, pos+L)
    * intervals, overlapping/adjacent intervals merge into islands
    * (gaps-and-islands: an interval starts a new island iff its start
    * exceeds the running max end of earlier intervals — one window
    * aggregate over the per-doc (pos)-ordered frame, the q259 sweep
    * shape), and each doc reports island count plus exact removed /
    * kept character counts. All-integer; the actual text splice is a
    * trivial substring walk the counts fully determine.
    *
    * Scale shape: anchor positions come from the no-hash twin of the
    * window kernel (index-aligned arrays, zipped by posexplode +
    * element_at — the text is scanned once per side, never
    * row-multiplied); the interval merge runs on FLAGGED windows only
    * (a small fraction of the corpus), partitioned by doc — state is
    * one running max per doc, never the corpus. */
  def spanScrubPlan(spark: SparkSession, dir: String): DataFrame = {
    val L = 40
    val e = spread(load(spark, dir, "documents"))
      .filter(length(col("text")) >= L)
      .select(col("doc_id"), length(col("text")).cast(LongType).as("len"),
        call_function("span_anchor_positions", col("text"), lit(L)).as("ps"),
        call_function("span_window_hashes", col("text"), lit(L)).as("hs"))
      .select(col("doc_id"), col("len"), col("ps"),
        posexplode(col("hs")).as(Seq("i", "h")))
      .select(col("doc_id"), col("len"),
        element_at(col("ps"), col("i") + 1).as("pos"), col("h"))
    val dup = e.select(col("h"), col("doc_id")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select(col("h"))
    val flagged = e.join(dup, Seq("h"), "left_semi")
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val prevEnd = max(col("pos") + (L - 1)).over(
      byDoc.rowsBetween(Window.unboundedPreceding, -1))
    val islands = flagged
      .withColumn("new_island",
        when(prevEnd.isNull || col("pos") > prevEnd, 1L).otherwise(0L))
      .withColumn("island",
        sum(col("new_island")).over(
          byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("doc_id"), col("len"), col("island"))
      .agg(min(col("pos")).as("s"), (max(col("pos")) + (L - 1)).as("e"),
        count(lit(1)).as("nw"))
    islands.groupBy(col("doc_id"), col("len"))
      .agg(sum(col("nw")).as("n_flagged"),
        count(lit(1)).as("n_islands"),
        sum(col("e") - col("s") + 1).as("removed_chars"))
      .select(col("doc_id"), col("n_flagged"), col("n_islands"),
        col("removed_chars"),
        (col("len") - col("removed_chars")).as("kept_chars"))
      .orderBy(col("doc_id"))
  }

  /** Batch per-source sketch — q278's one-shot twin, used by the spec
    * to pin stream/batch agreement of the mergeable aggregate. */
  private[graft] def sourceSketchBatch(spark: SparkSession, dir: String): DataFrame =
    spread(load(spark, dir, "documents"))
      .select(col("source"),
        call_function("minhash_sig", shingleHashes(col("text"), mod = true))
          .as("sig"))
      .groupBy(col("source"))
      .agg(minhashMergeAgg(col("sig")).as("ssig"), count(lit(1)).as("n_docs"))
      .select(col("source"), col("n_docs"),
        concat_ws(",", col("ssig").cast("array<string>")).as("source_sig"))
      .orderBy(col("source"))

  /** SOURCE-OVERLAP MATRIX — "how much does feed A repeat feed B":
    * for every unordered source pair, the MinHash-ESTIMATED Jaccard
    * between the two sources' shingle UNIONS (per-source signature =
    * the element-wise-min MERGE of its docs' signatures — the q74
    * mergeable-sketch property applied at source granularity) beside
    * the EXACT source-level Jaccard as the audit column (the
    * q211/q234 estimate-vs-truth pattern). The curation question this
    * answers — which feeds to down-weight because they re-serve each
    * other's content — precedes any per-document dedup decision.
    *
    * Scale shape: the estimate path is ONE partial-aggregable sketch
    * rollup to O(sources) rows of K longs, then an O(sources^2)
    * comparison of 16-slot signatures — at 100 TB this is the ONLY
    * affordable path (no pairwise corpus scan), which is why the
    * exact audit column rides along at test scale: it certifies the
    * estimator once, then production drops it. The exact path is the
    * q33 inverted-index reduction at source granularity: distinct
    * (source, hash8B) — far smaller than the doc-level index — with
    * per-hash fan-out bounded by the source count. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val docs = spread(load(spark, dir, "documents"))
    val bySource = docs
      .select(col("source"),
        call_function("minhash_sig", shingleHashes(col("text"), mod = true))
          .as("sig"))
      .groupBy(col("source")).agg(minhashMergeAgg(col("sig")).as("ssig"))
    val sh = docs
      .select(col("source"), explode(shingleHashes(col("text"), mod = false)).as("h"))
      .distinct()
    val counts = sh.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val inter = sh.alias("x").join(sh.alias("y"),
        col("x.h") === col("y.h") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("source_a"), col("y.source").as("source_b"))
      .agg(count(lit(1)).as("n_inter"))
    val pairs = bySource.alias("a").join(bySource.alias("b"),
        col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
        col("a.ssig").as("sa"), col("b.ssig").as("sb"))
    pairs
      .join(inter, Seq("source_a", "source_b"), "left")
      .join(counts.select(col("source").as("source_a"), col("n").as("na")), "source_a")
      .join(counts.select(col("source").as("source_b"), col("n").as("nb")), "source_b")
      .select(col("source_a"), col("source_b"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"),
        (coalesce(col("n_inter"), lit(0L)).cast(DoubleType) /
          (col("na") + col("nb") - coalesce(col("n_inter"), lit(0L)))
            .cast(DoubleType)).as("exact_jaccard"),
        (size(filter(zip_with(col("sa"), col("sb"), (x, y) => x === y),
          m => m)).cast(DoubleType) / lit(K.toDouble)).as("est_jaccard"))
      .orderBy(col("source_a"), col("source_b"))
  }

  private[graft] lazy val kmvAgg =
    udaf(graft.functions.KmvMerge,
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Long]())

  /** KMV (bottom-k) SOURCE CARDINALITY OVERLAP — q275's missing other
    * half: that query estimates the Jaccard RATIO between source
    * shingle unions; this one estimates the CARDINALITIES — distinct
    * union size and distinct INTERSECTION size per source pair — from
    * K=64-slot [[graft.functions.KmvMerge]] sketches. Intersection
    * cardinality is the quantity behind "how many NEW shingles does
    * feed B add over feed A" (acquisition/retirement pricing), and it
    * is exactly what HLL (q51's machinery) cannot answer. Estimator:
    * union sketch = K smallest of the two sketches' union,
    * est|A∪B| = (K-1)·2^56 / kth_min (exhaustive sketches short-cut to
    * the exact size), est|A∩B| = (fraction of the union sketch present
    * in BOTH input sketches) · est|A∪B|. All sketch content is a
    * deterministic function of the 56-bit portable shingle hashes, so
    * the oracle recomputes it value-for-value; exact audit columns
    * ride along (the q211/q234/q275 estimate-vs-truth pattern).
    *
    * Scale shape: the sketch path is ONE partial-aggregable rollup —
    * map-side combine reduces every partition to ≤ K longs per source
    * BEFORE the shuffle, so the corpus-wide distinct shuffle the exact
    * path needs simply does not exist at 100 TB; the pair stage is an
    * O(sources²) comparison of 64-slot arrays. */
  def kmvSourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val docs = spread(load(spark, dir, "documents"))
    val hashes = docs.select(col("source"),
      explode(shingleHashes(col("text"), mod = false)).as("h"))
    val sk = hashes.groupBy(col("source")).agg(kmvAgg(col("h")).as("ks"))
    // exact audit path (gate scale): distinct (source, hash) index
    val eh = hashes.distinct()
    val cn = eh.groupBy(col("source")).agg(count(lit(1)).as("n"))
    val it = eh.alias("x").join(eh.alias("y"),
        col("x.h") === col("y.h") && col("x.source") < col("y.source"))
      .groupBy(col("x.source").as("source_a"), col("y.source").as("source_b"))
      .agg(count(lit(1)).as("n_inter"))
    val k = graft.functions.KmvMerge.K
    // (K-1) * 2^56 — exact in double (needs 6 mantissa bits)
    val kmvScale = 4.539628424389459968e18
    val pairs = sk.alias("a").join(sk.alias("b"), col("a.source") < col("b.source"))
      .select(col("a.source").as("source_a"), col("b.source").as("source_b"),
        col("a.ks").as("ka"), col("b.ks").as("kb"))
      .withColumn("us",
        slice(array_sort(array_distinct(concat(col("ka"), col("kb")))), 1, k))
      .withColumn("n_us", size(col("us")))
      // int64 → double is round-to-nearest in BOTH engines: identical
      .withColumn("est_union",
        when(col("n_us") < k, col("n_us").cast(DoubleType))
          .otherwise(lit(kmvScale) /
            element_at(col("us"), col("n_us")).cast(DoubleType)))
      .withColumn("rho", size(filter(col("us"),
        v => array_contains(col("ka"), v) && array_contains(col("kb"), v))))
      .withColumn("est_inter",
        col("rho").cast(DoubleType) * col("est_union") /
          col("n_us").cast(DoubleType))
    pairs
      .join(it, Seq("source_a", "source_b"), "left")
      .join(cn.select(col("source").as("source_a"), col("n").as("na")), "source_a")
      .join(cn.select(col("source").as("source_b"), col("n").as("nb")), "source_b")
      .select(col("source_a"), col("source_b"),
        (col("na") + col("nb") - coalesce(col("n_inter"), lit(0L)))
          .as("n_union"),
        col("est_union"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter"),
        col("est_inter"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** CROSS-DOC EXACT SUBSTRING-SPAN DEDUP — the Spark-shaped form of
    * suffix-array exact-substring deduplication (Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"; see
    * PAPERS.md): instead of a corpus-wide suffix array (which needs a
    * global sort of every suffix), hash L=40-char windows at
    * CONTENT-DEFINED anchor positions — position i anchors iff a
    * 2-char integer probe (31·code(c_i) + code(c_{i+1})) ≡ 0 mod 16
    * (expected gap 16 chars), the content-defined-chunking trick.
    * Because anchors depend only on LOCAL content, two copies of the
    * same span select the SAME anchors whatever their byte offsets —
    * a fixed-stride grid would only match copies whose offsets agree
    * mod the stride. A shared run of R chars is missed only if none
    * of its R-39 window positions anchors: p ≈ (15/16)^(R-39), under
    * 1% by R ≈ 110. The probe is two integer ops per character — the
    * expensive md5 runs ONLY at anchors (~1/16 of positions), so the
    * per-byte CPU cost stays near a plain scan at 100 TB where an
    * every-position hash probe would be ~64x read amplification.
    * Long verbatim cross-doc spans (boilerplate, licenses, templated
    * text) are caught with O(1) integer work per character.
    * Reported per doc: anchored-window count, cross-doc-duplicated
    * window count (hash seen in >= 2 distinct docs), and the
    * duplicated fraction — the signal a training pipeline thresholds
    * to drop or trim span-contaminated docs (complementing whole-doc
    * near-dup q31/q33: a doc can be 30% verbatim-duplicated yet far
    * from any doc in Jaccard space).
    *
    * Scale shape: ONE pass per doc computes anchors + window hashes
    * (filter/transform over a position sequence — the text is never
    * row-multiplied before hashing); the dominant shuffle is the slim
    * exploded (doc_id, hash8B) index at ~chars/16 rows per doc, the
    * same shape as q33's inverted index; the duplicate-hash set comes
    * from a two-level partial-aggregable distinct; the occurrence
    * count is a semi-join on the 8-byte hash key. Never all-pairs,
    * never a suffix sort. */
  def spanDedup(spark: SparkSession, dir: String): DataFrame = {
    val L = 40
    // the native one-pass kernel (graft.functions.SpanWindowHashes) —
    // a filter/transform HOF spelling of the same rule is interpreted
    // per position and ~4x slower at sf0.1
    val winHashes = call_function("span_window_hashes", col("text"), lit(L))
    val wins = spread(load(spark, dir, "documents"))
      .filter(length(col("text")) >= L)
      .select(col("doc_id"), winHashes.as("hs"))
      .select(col("doc_id"), size(col("hs")).cast(LongType).as("n_windows"),
        explode(col("hs")).as("h"))
    val dupHashes = wins.select(col("h"), col("doc_id")).distinct()
      .groupBy(col("h")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= 2).select(col("h"))
    wins.join(dupHashes, Seq("h"), "left_semi")
      .groupBy(col("doc_id"), col("n_windows"))
      .agg(count(lit(1)).as("n_dup_windows"))
      .select(col("doc_id"), col("n_windows"), col("n_dup_windows"),
        (col("n_dup_windows").cast(DoubleType) /
          col("n_windows").cast(DoubleType)).as("dup_frac"))
      .orderBy(col("doc_id"))
  }

  /** Orient an undirected edge set (doc_a, doc_b) by DEGREE order:
    * each edge points from its lower-(degree, id) endpoint to the
    * higher one. A total order makes the orientation acyclic, so every
    * triangle has exactly one (smallest → middle → largest) form and is
    * enumerated once; choosing DEGREE (id as tie-break) as the order is
    * what bounds the oriented out-degree — a node of degree d keeps
    * only its ≥-degree neighbors as out-edges, giving out-degree
    * O(√m) on any graph (Schank/Wagner; the standard MapReduce
    * triangle trick). Under id order a high-degree hub with a small id
    * keeps ALL its edges outgoing and anchors a quadratic
    * (a,b)⋈(b,c) fan-out; under degree order the hub is every edge's
    * HEAD and anchors none. */
  /** Endpoint degrees (v, deg) of a canonical (doc_a < doc_b) edge
    * set — ONE definition serving the degree orientation and q170's
    * clustering denominator. */
  private[graft] def endpointDegrees(edges: DataFrame): DataFrame =
    // explode keeps the edge derivation single-referenced (see
    // degreeDistribution) — one block scan when edges is materialized,
    // one subtree when it is not
    edges.select(explode(array(col("doc_a"), col("doc_b"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))

  private[graft] def orientByDegree(edges: DataFrame,
      deg: DataFrame): DataFrame = {
    // doc_a < doc_b in the canonical undirected form, so a degree tie
    // resolves to the id order
    val aFirst = col("deg_a") < col("deg_b") ||
      (col("deg_a") === col("deg_b") && col("doc_a") < col("doc_b"))
    edges
      .join(deg.select(col("v").as("doc_a"), col("deg").as("deg_a")), "doc_a")
      .join(deg.select(col("v").as("doc_b"), col("deg").as("deg_b")), "doc_b")
      .select(when(aFirst, col("doc_a")).otherwise(col("doc_b")).as("src"),
        when(aFirst, col("doc_b")).otherwise(col("doc_a")).as("dst"))
  }

  /** Per-node triangle counts over an undirected edge set: orient by
    * degree, join (a→b) with (b→c), semi-check (a→c) — three bounded
    * equi-joins, no symmetric-edge blowup, skew-proof fan-out (see
    * [[orientByDegree]]). */
  private[graft] def triangleCountsFrom(edges: DataFrame): DataFrame = {
    // the edge subtree (for q92: the whole LSH/inverted-index join) is
    // referenced 3x by orientByDegree and the oriented set 3x below —
    // materialize each ONCE (the q67 localCheckpoint pattern) instead
    // of relying on exchange reuse to dedupe up to 9 recomputations
    val e = oneShot(edges)
    triangleCountsFromCheckpointed(e, endpointDegrees(e))
  }

  /** Core triangle enumeration over an ALREADY-materialized edge set +
    * its degree table (q170 shares both — no re-checkpoint, no second
    * degree shuffle). */
  private def triangleCountsFromCheckpointed(e: DataFrame,
      deg: DataFrame): DataFrame = {
    val p = oneShot(orientByDegree(e, deg))
    val tri = p.alias("ab")
      .join(p.alias("bc"), col("ab.dst") === col("bc.src"))
      .select(col("ab.src").as("a"), col("ab.dst").as("b"),
        col("bc.dst").as("c"))
      .join(p.alias("ac"),
        col("a") === col("ac.src") && col("c") === col("ac.dst"),
        "left_semi")
    tri.select(explode(array(col("a"), col("b"), col("c"))).as("doc_id"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_triangles"))
  }

  /** Per-node triangle counts over the exact near-dup graph (q33's
    * edges) — the local clustering signal that separates a tight
    * duplicate clique from a loose similarity chain before choosing a
    * canonical doc. The triangle set is orientation-independent, so the
    * oracle (which enumerates id-ordered triples) is unchanged by the
    * degree ordering. */
  def triangleCounts(spark: SparkSession, dir: String): DataFrame =
    triangleCountsFrom(jaccardEdges(spark, dir).select(col("doc_a"), col("doc_b")))
      .orderBy(col("doc_id"))

  /** LOCAL CLUSTERING COEFFICIENT per node: triangles(v) /
    * C(deg(v), 2) — how clique-like each doc's near-dup neighborhood
    * is (1.0 = tight duplicate blob, →0 = loose similarity chain; the
    * per-node refinement of q92's counts and the quantitative form of
    * q137's health read). Reuses the degree-oriented triangle machinery
    * and the symmetrized degree count; nodes with deg < 2 define cc=0.
    * Integer counts, ONE division. */
  def clusteringCoefficient(spark: SparkSession, dir: String): DataFrame = {
    val e = oneShot(jaccardEdges(spark, dir).select(col("doc_a"), col("doc_b")))
    // one degree table serves the clustering denominator AND the
    // triangle orientation (and e is materialized exactly once)
    val degrees = oneShot(endpointDegrees(e))
    val deg = degrees.select(col("v").as("doc_id"), col("deg").as("degree"))
    deg.join(triangleCountsFromCheckpointed(e, degrees),
        Seq("doc_id"), "left")
      .withColumn("n_triangles", coalesce(col("n_triangles"), lit(0L)))
      .withColumn("cc",
        when(col("degree") >= 2,
          col("n_triangles").cast(DoubleType) * 2.0 /
            (col("degree") * (col("degree") - 1)).cast(DoubleType))
          .otherwise(lit(0.0)))
      .select(col("doc_id"), col("degree"), col("n_triangles"), col("cc"))
      .orderBy(col("doc_id"))
  }

  /** Duplicate-CLUSTER size distribution — the corpus-health report
    * derived from q67's connected components: how many near-dup blobs
    * of each size exist (a long tail of pairs is normal; one giant
    * cluster usually means boilerplate contamination). Standalone it
    * re-runs the component computation (bench shows q67's cost again);
    * a pipeline computes labels once and adds only the rollup. */
  def clusterSizeDistribution(spark: SparkSession, dir: String): DataFrame =
    dedupClusters(spark, dir)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .orderBy(col("cluster_size"))

  /** QUALITY-canonical dedup: within each exact-duplicate group, keep
    * the doc a curator would keep — highest token count, id as
    * tie-break — instead of q30's min-id rule. The composition every
    * real corpus build runs (dedup grouping × quality signal): group
    * on the SAME [[contentKey]] (the rule never forks), rank inside
    * each group by the quality metric. One content-key shuffle; group
    * sizes bound the window state. */
  def qualityDedup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("content_key"))
      .orderBy(col("n_tokens").desc, col("doc_id"))
    val wG = Window.partitionBy(col("content_key"))
    spread(load(spark, dir, "documents"))
      .select(col("doc_id"), contentKey(col("text")).as("content_key"),
        size(split(trim(col("text")), " +")).cast(LongType).as("n_tokens"))
      .withColumn("dup_group", min(col("doc_id")).over(wG))
      .withColumn("group_size", count(lit(1)).over(wG))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("dup_group"), col("doc_id").as("canonical_doc_id"),
        col("n_tokens"), col("group_size"))
      .orderBy(col("dup_group"))
  }

  /** TWO-HOP neighborhood sizes over the near-dup graph (q33's edge
    * set): per node, how many distinct docs sit within ≤ 2 hops — the
    * "how big is this near-dup blob really" signal that one-hop degree
    * understates (transitive duplicates reach each other through an
    * intermediate rewrite). One self-join of the symmetrized edge list
    * (the friend-of-friend shape): fan-out is Σ deg² — fine on the
    * near-dup graph's bounded degrees; a hubby graph caps hop-through
    * degree first (the q92 orientation lesson, same mitigation). */
  def twoHopNeighbors(spark: SparkSession, dir: String): DataFrame = {
    val e = oneShot(jaccardEdges(spark, dir).select(col("doc_a"), col("doc_b")))
    val sym = e.union(e.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst")
    val h2 = sym.alias("x").join(sym.alias("y"), col("x.dst") === col("y.src"))
      .select(col("x.src").as("src"), col("y.dst").as("dst"))
      .filter(col("src") =!= col("dst"))
    val one = sym.groupBy(col("src")).agg(count(lit(1)).as("n_1hop"))
    sym.union(h2).distinct()
      .groupBy(col("src")).agg(count(lit(1)).as("n_2hop"))
      .join(one, "src")
      .select(col("src").as("doc_id"), col("n_1hop"), col("n_2hop"))
      .orderBy(col("doc_id"))
  }

  /** Multi-source BFS: hop distance from every graph node to its
    * NEAREST seed (seeds = doc_id % 10 = 0), capped at 4 hops — the
    * "distance to labeled example" annotation a semi-supervised corpus
    * pass wants. Scale shape: classic superstep BFS — each level is one
    * frontier⋈edges shuffle join + an anti-join against the visited
    * set, so total work is O(levels × frontier-edges), never the
    * all-pairs transitive closure; the edge list is localCheckpointed
    * once and re-probed per level. The DuckDB oracle walks ALL paths
    * (recursive CTE) and takes MIN(d) — exponential in the oracle,
    * linear here, same answer: BFS's first visit IS the min distance. */
  def bfsSeedDistance(spark: SparkSession, dir: String): DataFrame = {
    val e = jaccardEdges(spark, dir).select(col("doc_a"), col("doc_b"))
    val sym = e.union(e.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst").localCheckpoint(eager = false)
    val seeds = sym.select(col("src").as("doc_id")).distinct()
      .filter(col("doc_id") % 10 === 0)
    var visited = seeds.withColumn("dist", lit(0))
    var frontier = visited.select(col("doc_id"))
    for (k <- 1 to 4) {
      val next = frontier.join(sym, frontier("doc_id") === sym("src"))
        .select(col("dst").as("doc_id")).distinct()
        .join(visited.select(col("doc_id")), Seq("doc_id"), "left_anti")
        .localCheckpoint(eager = false)
      visited = visited.unionByName(next.withColumn("dist", lit(k)))
      frontier = next
    }
    visited.orderBy(col("doc_id"))
  }

  /** WEIGHTED single-source-shortest-path to the nearest seed
    * (Bellman–Ford, 4 synchronous relaxation rounds): q144's BFS hop
    * count upgraded to an EDGE-WEIGHTED distance, with weight = the
    * shingle-set symmetric difference |A△B| = na + nb − 2c — an EXACT
    * INTEGER dissimilarity (a float weight like 1−J would die on
    * cross-engine rounding), so "distance to the nearest trusted
    * seed" prefers chains of tight near-dups over one loose edge.
    *
    * Scale shape: k relaxation rounds = shortest paths of ≤ k edges
    * (the Bellman–Ford invariant, matching the oracle's ≤-4-edge walk
    * enumeration); each round is ONE equi-join of the O(n) distance
    * table with the edge list + ONE partial-aggregable min-groupBy —
    * never a frontier explosion, and monotone-nonincreasing per node.
    * Plans stay bounded via the per-round lazy localCheckpoint (q67
    * pattern). Nonnegative weights make min-over-walks ≡
    * min-over-paths, so the bounded enumeration is sound. */
  def weightedSssp(spark: SparkSession, dir: String): DataFrame = {
    val inv = spread(load(spark, dir, "documents"))
      .select(col("doc_id"),
        shingleHashes(col("text"), mod = false).as("shs"))
      .select(col("doc_id"), size(col("shs")).cast(LongType).as("n"),
        explode(col("shs")).as("h"))
    val a = inv.alias("a")
    val b = inv.alias("b")
    val e = a.join(b, col("a.h") === col("b.h") &&
        col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("c"))
      .filter(col("c").cast(DoubleType) /
        (col("na") + col("nb") - col("c")) >= 0.5)
      .select(col("doc_a"), col("doc_b"),
        (col("na") + col("nb") - lit(2L) * col("c")).as("w"))
    val sym = e.select(col("doc_a").as("src"), col("doc_b").as("dst"),
        col("w"))
      .union(e.select(col("doc_b"), col("doc_a"), col("w")))
      .localCheckpoint(eager = false)
    var dist = sym.select(col("src").as("doc_id")).distinct()
      .filter(col("doc_id") % 10 === 0)
      .withColumn("dist", lit(0L))
    for (_ <- 1 to 4) {
      val relaxed = dist
        .join(sym, dist("doc_id") === sym("src"))
        .select(col("dst").as("doc_id"), (col("dist") + col("w")).as("dist"))
      dist = dist.unionByName(relaxed)
        .groupBy(col("doc_id")).agg(min(col("dist")).as("dist"))
        .localCheckpoint(eager = false)
    }
    dist.orderBy(col("doc_id"))
  }

  /** K-CORE decomposition (k = 2): the maximal subgraph of the q33
    * near-dup graph in which every surviving node keeps ≥ k surviving
    * neighbors — the standard dense-blob extractor (a 2-core separates
    * genuinely interlinked duplicate groups from incidental pendant
    * edges that exact-threshold pair mining always produces). Output:
    * each core node with its within-core degree.
    *
    * Scale shape: the classic iterative PEEL — each round is one
    * partial-aggregable degree count plus two semi-joins of the edge
    * list against the survivor set, chained off a lazy localCheckpoint
    * with ONE count action per round (the q67 convergence pattern).
    * Work per round is O(remaining edges); rounds needed equal the
    * peel depth, which on near-dup graphs (clique-ish blobs + short
    * tendrils) is small. A round budget with require-fail guards
    * adversarial long-chain graphs — never silent wrong output. The
    * oracle runs the IDENTICAL peel unrolled to the same budget of
    * fixed SQL stages (stages past the fixpoint are no-ops), so both
    * engines compute the same bounded fixpoint or both abort. */
  def kCore(spark: SparkSession, dir: String): DataFrame = {
    val e = jaccardEdges(spark, dir).select(col("doc_a"), col("doc_b"))
    kCorePeel(e.union(e.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst"), k = 2)
  }

  /** The peel itself, on any symmetrized (src, dst) edge list —
    * private[graft] so the spec can drive it on synthetic graphs. */
  private[graft] def kCorePeel(sym: DataFrame, k: Int): DataFrame = {
    var edges = sym.localCheckpoint(eager = false)
    var n = edges.count()
    var converged = false
    var r = 0
    while (!converged && r < KCoreRounds) {
      val keep = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select(col("src"))
      val next = edges
        .join(keep, Seq("src"), "left_semi")
        .join(keep.select(col("src").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
        .localCheckpoint(eager = false)
      val m = next.count()
      converged = m == n
      edges = next; n = m; r += 1
    }
    require(converged, s"k-core peel did not converge in $KCoreRounds rounds")
    edges.groupBy(col("src")).agg(count(lit(1)).as("core_deg"))
      .select(col("src").as("doc_id"), col("core_deg"))
      .orderBy(col("doc_id"))
  }

  /** Shared round budget for the k-core peel and its unrolled oracle. */
  private val KCoreRounds = 16

  /** PROBABILISTIC RECORD LINKAGE (Fellegi–Sunter shape, deterministic
    * integer weights): candidate pairs from cheap BLOCKING — same
    * (lang, 64-char length band) — scored by per-field agreement
    * weights (source +5, token count +10, leading-2-token prefix +15),
    * linked when score ≥ 15 (the strong field alone, or both weak
    * fields). The entity-resolution scorer for records that are not
    * textual near-dups but still the same entity; weights stay INTEGER
    * so the score is bit-portable (real FS log-likelihood weights are
    * a monotone relabeling of the same per-field agreement pattern —
    * the decision boundary is what the operator fixes).
    *
    * Scale: blocking replaces the Θ(n²) all-pairs compare with one
    * equi-join on the block key; per-field features are computed once
    * per record BEFORE the join (never per pair), so the join compares
    * fixed-width keys only. Skewed blocks (one giant language band)
    * are the q50 salting case and AQE's skew split handles them. */
  def recordLinkage(spark: SparkSession, dir: String): DataFrame = {
    val d = spread(load(spark, dir, "documents"))
      .select(col("doc_id"), col("lang"), col("source"),
        expr("n_chars div 64").as("blk"),
        size(tokens(col("text"))).as("ntok"),
        concat_ws(" ", slice(tokens(col("text")), 1, 2)).as("prefix2"))
    val scored = d.alias("a")
      .join(d.alias("b"),
        col("a.lang") === col("b.lang") && col("a.blk") === col("b.blk")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        (col("a.source") === col("b.source")).as("m_source"),
        (col("a.ntok") === col("b.ntok")).as("m_ntok"),
        (col("a.prefix2") === col("b.prefix2")).as("m_prefix"))
      .withColumn("score",
        (when(col("m_source"), 5).otherwise(0)
          + when(col("m_ntok"), 10).otherwise(0)
          + when(col("m_prefix"), 15).otherwise(0)).cast(LongType))
    scored.filter(col("score") >= 15)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** CORPUS-PREFIX NOVELTY score: per document, the fraction of its
    * distinct trigram shingles that NO earlier document (smaller
    * doc_id = ingestion order) contains — "how much new text does this
    * doc add", the marginal-value signal dedup thresholds miss (a doc
    * can be nobody's near-duplicate yet still 90% recombined boilerplate).
    * A shingle is novel for exactly the doc that minted it, so novelty
    * reduces to first_doc(h) == doc_id over the same inverted index
    * q33 builds: one shuffle to take min(doc_id) per shingle hash, one
    * hash-keyed join back, one per-doc rollup — no per-prefix scan, no
    * ordering dependence beyond the min. Integer counts, one double
    * division at the end. */
  def noveltyScore(spark: SparkSession, dir: String): DataFrame = {
    val sh = spread(load(spark, dir, "documents"))
      .select(col("doc_id"),
        explode(shingleHashes(col("text"), mod = false)).as("h"))
    val first = sh.groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
    sh.join(first, "h")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("n_novel"))
      .withColumn("novelty",
        col("n_novel").cast(DoubleType) / col("n_shingles"))
      .orderBy(col("doc_id"))
  }

  /** VOCABULARY GROWTH curve (Heaps'-law instrumentation): distinct
    * trigram-shingle vocabulary as a function of corpus prefix —
    * ingestion order (doc_id) cut into 10 range buckets, each bucket
    * credited with the shingles it MINTED (first_doc falls in it),
    * plus the running cumulative vocabulary. The "does more data still
    * buy new text" curve that decides whether the next 10 TB of a
    * crawl is worth ingesting. Shares q186's first-occurrence
    * reduction (min doc_id per shingle hash — one shuffle on the
    * hash); the only window runs over the O(10) bucket histogram, the
    * deliberate q90-style exception to the no-unpartitioned-window
    * rule. */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    val sh = spread(load(spark, dir, "documents"))
      .select(col("doc_id"),
        explode(shingleHashes(col("text"), mod = false)).as("h"))
    val first = sh.groupBy(col("h")).agg(min(col("doc_id")).as("first_doc"))
    val mx = load(spark, dir, "documents").agg(max(col("doc_id")).as("mx"))
    val w = Window.orderBy(col("bucket"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    first.crossJoin(broadcast(mx))
      .select(expr("first_doc * 10 div (mx + 1)").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n_new"))
      .withColumn("cum_vocab", sum(col("n_new")).over(w))
      .orderBy(col("bucket"))
  }

  /** RECURSIVE CTE surface (Spark 4, SPARK-24497): q144's multi-source
    * BFS restated as the SQL-standard `WITH RECURSIVE` walk — the
    * DECLARATIVE twin of the hand-tuned superstep loop, gated on the
    * IDENTICAL oracle string as q144 so the two can never fork (the
    * q104==q39 rule). The walk enumerates ALL paths up to 4 hops and
    * takes MIN(d): exponential on dense graphs, which is exactly why
    * q144's frontier/visited anti-join loop exists as the scale path —
    * this query covers the language surface and doubles as an
    * executable statement of the equivalence the q144 scaladoc claims
    * (BFS first-visit == all-paths MIN). */
  def bfsRecursiveCte(spark: SparkSession, dir: String): DataFrame = {
    val e = jaccardEdges(spark, dir).select(col("doc_a"), col("doc_b"))
    e.union(e.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst").localCheckpoint(eager = false)
      .createOrReplaceTempView("graft_rec_edges")
    spark.sql(
      """WITH RECURSIVE walk(node, d) AS (
        |  SELECT DISTINCT src AS node, 0 AS d FROM graft_rec_edges
        |  WHERE src % 10 = 0
        |  UNION ALL
        |  SELECT s.dst, w.d + 1 FROM walk w
        |  JOIN graft_rec_edges s ON s.src = w.node WHERE w.d < 4)
        |SELECT node AS doc_id, MIN(d) AS dist
        |FROM walk GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** PAGERANK over the q33 near-dup graph (3 damped iterations,
    * d = 0.85) — the "centrality inside a duplicate blob" signal: the
    * canonical-pick rules (q130 quality, q67 min-label) choose one
    * survivor; PageRank ranks HOW central each near-dup is, which is
    * what a crawl-frontier or citation-style corpus weighting wants.
    *
    * Determinism: the whole iteration runs in FIXED-POINT BIGINT
    * (pr scaled by 1e9) — contribution = pr DIV outdeg and the damping
    * step (85·Σ) DIV 100 are integer floor divisions both engines
    * define identically on non-negative operands, so three iterations
    * stay bit-exact with no float fold anywhere. Headroom: a node's
    * incoming sum is ≤ indeg·maxPr; at 1e9 scale that overflows int64
    * only past ~10^8 incoming mass-units — beyond that, widen to
    * DECIMAL(38,0) (same floor semantics), a one-line change.
    *
    * Scale shape: the textbook Pregel-on-DataFrames loop — per round
    * one edges⋈ranks shuffle join plus one partial-aggregable SUM,
    * chained off lazy localCheckpoints (plan growth cut per round, the
    * q67 pattern). Work per round is O(edges); the symmetrized edge
    * list guarantees outdeg ≥ 1, so there is no dangling-mass term.
    * The oracle unrolls the SAME three integer iterations into
    * MATERIALIZED CTE stages (the q178 lesson: stop DuckDB re-inlining
    * the chain). */
  def pageRank(spark: SparkSession, dir: String): DataFrame = {
    val e = jaccardEdges(spark, dir).select(col("doc_a"), col("doc_b"))
    pageRankIterate(e.union(e.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst"), rounds = 3)
  }

  /** The fixed-point iteration on any symmetrized (src, dst) edge
    * list — private[graft] so the spec can drive synthetic graphs. */
  private[graft] def pageRankIterate(symIn: DataFrame, rounds: Int)
      : DataFrame = {
    val sym = symIn.localCheckpoint(eager = false)
    val nodes = sym.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .select(col("src").as("doc_id"), col("outdeg"))
      .localCheckpoint(eager = false)
    var pr = nodes.withColumn("pr", lit(PR_SCALE))
    for (_ <- 1 to rounds) {
      val contrib = pr.join(sym, pr("doc_id") === sym("src"))
        .select(col("dst").as("doc_id"), expr("pr DIV outdeg").as("c"))
        .groupBy(col("doc_id")).agg(sum(col("c")).as("s"))
      pr = nodes.join(contrib, Seq("doc_id"), "left")
        .select(col("doc_id"), col("outdeg"),
          (lit(15L * PR_SCALE / 100) +
            expr("(85 * coalesce(s, CAST(0 AS BIGINT))) DIV 100")).as("pr"))
        .localCheckpoint(eager = false)
    }
    pr.select(col("doc_id"), col("pr").as("pr_scaled"))
      .orderBy(col("doc_id"))
  }

  /** Fixed-point scale for [[pageRank]] (1e9 mass units per unit rank). */
  private val PR_SCALE = 1000000000L

  /** CONTAINMENT near-dup pairs — the ASYMMETRIC companion to q33's
    * Jaccard: C(A→B) = |A∩B| / |A| flags a document mostly CONTAINED
    * in another (quote-wrapped articles, boilerplate-plus-payload)
    * that symmetric Jaccard misses entirely when sizes differ (a
    * 100-shingle doc fully inside a 10000-shingle doc has J ≈ 0.01
    * but containment 1.0 — exactly the duplication a training corpus
    * must catch). Emits one row per directional containment ≥ 0.9:
    * (contained, container, containment). Same inverted-index
    * co-occurrence reduction as q33 — the 8-byte-key shuffle
    * dominates, arrays never travel — plus one UNION of the two
    * directions; the ratio is ONE division of exact integers. */
  def containmentPairs(spark: SparkSession, dir: String): DataFrame = {
    val inv = spread(load(spark, dir, "documents"))
      .select(col("doc_id"),
        shingleHashes(col("text"), mod = false).as("shs"))
      .select(col("doc_id"), size(col("shs")).cast(LongType).as("n"),
        explode(col("shs")).as("h"))
    val a = inv.alias("a")
    val b = inv.alias("b")
    val common = a.join(b,
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("c"))
    val ab = common.select(col("doc_a").as("contained"),
      col("doc_b").as("container"),
      (col("c").cast(DoubleType) / col("na")).as("containment"))
    val ba = common.select(col("doc_b").as("contained"),
      col("doc_a").as("container"),
      (col("c").cast(DoubleType) / col("nb")).as("containment"))
    ab.unionByName(ba)
      .filter(col("containment") >= 0.9)
      .orderBy(col("contained"), col("container"))
  }

  /** GLOBAL TRANSITIVITY of the near-dup graph: 3·triangles / open
    * 2-paths — the one-number answer to "are my duplicate pairs
    * clique-ish blobs or sprawling chains" (q170 gives the per-node
    * view; chain-like graphs argue for q67's components, clique-like
    * for q203's communities). Both counts are exact integers off
    * machinery already gated: triangles from q92's oriented 3-way
    * join, 2-paths = Σ d·(d−1)/2 over the degree table; ONE final
    * division. */
  def transitivity(spark: SparkSession, dir: String): DataFrame = {
    // ONE edge derivation feeds both the 2-path count and the triangle
    // count (triangleCountsFrom re-checkpoints for its own 3-way join);
    // calling triangleCounts(spark, dir) here would pay the dominant
    // co-occurrence reduction a second time
    val e = oneShot(jaccardEdges(spark, dir).select(col("doc_a"), col("doc_b")))
    val sym = e.union(e.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst")
    val tri = triangleCountsFrom(e)
      .agg(expr("sum(n_triangles) DIV 3").as("n_triangles"))
    val paths = sym.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .agg(sum(expr("(d * (d - 1)) DIV 2")).as("n_two_paths"))
    tri.crossJoin(paths)
      .select(col("n_triangles"), col("n_two_paths"),
        ((lit(3L) * col("n_triangles")).cast(DoubleType) /
          col("n_two_paths").cast(DoubleType)).as("transitivity"))
  }

  /** DEGREE ASSORTATIVITY of the near-dup graph (Newman 2002): the
    * Pearson correlation of endpoint degrees over the symmetrized
    * edge list — positive means hubs link to hubs (one template
    * family collapsing into a blob), negative means hub-and-spoke
    * (one canonical doc with many independent copies); the structure
    * signal that picks between q67's flat components and q203's
    * communities as the right dedup grouping. Exactness: degrees are
    * integers, the five moment sums accumulate in DECIMAL(38) (never
    * a float fold), and r is the q114 fixed scalar sequence off
    * exact operands (oracle int128 through the VARCHAR cast). One
    * degree rollup + one slim join back to edges + a one-row
    * aggregate. */
  def degreeAssortativity(spark: SparkSession, dir: String): DataFrame = {
    val e = jaccardEdges(spark, dir).select(col("doc_a"), col("doc_b"))
    val sym = oneShot(e.union(e.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst"))
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .select(col("src").as("node"), col("d"))
    val xy = sym
      .join(deg.select(col("node").as("src"), col("d").as("x")), "src")
      .join(deg.select(col("node").as("dst"), col("d").as("y")), "dst")
      .select(col("x").cast(DecimalType(38, 0)).as("x"),
        col("y").cast(DecimalType(38, 0)).as("y"))
    val g = xy.agg(count(lit(1)).as("n"),
      sum(col("x")).as("sx"), sum(col("x") * col("x")).as("sxx"),
      sum(col("y")).as("sy"), sum(col("y") * col("y")).as("syy"),
      sum(col("x") * col("y")).as("sxy"))
    val nD = col("n").cast(DoubleType)
    def d(c: String) = col(c).cast(DoubleType)
    val cov = nD * d("sxy") - d("sx") * d("sy")
    val vx = nD * d("sxx") - d("sx") * d("sx")
    val vy = nD * d("syy") - d("sy") * d("sy")
    // a degree-REGULAR graph (every node the same degree — e.g. a
    // corpus whose only near-dups are isolated pairs) has zero degree
    // variance: r is undefined, and both engines must agree on NULL
    // (DuckDB's x/0 is NULL; Spark ANSI throws without the guard).
    // |cov| <= sqrt(vx*vy) by Cauchy-Schwarz, so no information is
    // lost: denom 0 forces cov 0.
    val denom = sqrt(vx * vy)
    g.select(col("n").as("n_edges"),
      when(denom === 0.0, lit(null).cast(DoubleType))
        .otherwise(cov / denom).as("assortativity"))
  }

  /** CROSS-SOURCE DUPLICATION MATRIX: the q33 near-dup pairs rolled up
    * by the unordered (source, source) pair of the two documents — the
    * "which feeds copy from each other" readout that decides whether a
    * source is additive or a mirror (within-source cells measure
    * internal redundancy; off-diagonal cells measure cross-feed
    * contamination). The pair set is the already-gated q33 operator;
    * the audit adds two SLIM doc-key joins (only (doc_id, source)
    * travels) and one partial-aggregable rollup to O(sources²) —
    * least/greatest canonicalizes the cell so the matrix is
    * triangular regardless of pair orientation. */
  def crossSourceDups(spark: SparkSession, dir: String): DataFrame = {
    val src = load(spark, dir, "documents")
      .select(col("doc_id"), col("source"))
    jaccardEdges(spark, dir).select(col("doc_a"), col("doc_b"))
      .join(src.select(col("doc_id").as("doc_a"),
        col("source").as("src_a")), "doc_a")
      .join(src.select(col("doc_id").as("doc_b"),
        col("source").as("src_b")), "doc_b")
      .select(least(col("src_a"), col("src_b")).as("source_x"),
        greatest(col("src_a"), col("src_b")).as("source_y"))
      .groupBy(col("source_x"), col("source_y"))
      .agg(count(lit(1)).as("n_pairs"))
      .orderBy(col("source_x"), col("source_y"))
  }

  /** DETECTOR AGREEMENT AUDIT: the q31 MinHash-LSH pair set evaluated
    * against the q33 exact-Jaccard truth — n_both / lsh-only /
    * exact-only plus precision and recall, in one row. This is the
    * measurement that justifies (or vetoes) running the cheap
    * probabilistic detector instead of the exact index at 100 TB: run
    * it on a sampled slice, read recall, then choose. Both pair sets
    * are the ALREADY-GATED operators reused verbatim (q104==q39 rule:
    * compose, don't re-derive); the audit itself is one full-outer
    * join of two slim (doc_a, doc_b) sets + a one-row conditional
    * aggregate. Precision/recall are each ONE division of exact
    * integer counts — bit-identical across engines. */
  def dedupAgreement(spark: SparkSession, dir: String): DataFrame = {
    val lsh = minhashLsh(spark, dir).select(col("doc_a"), col("doc_b"))
      .withColumn("in_lsh", lit(1L))
    val ex = jaccardEdges(spark, dir).select(col("doc_a"), col("doc_b"))
      .withColumn("in_exact", lit(1L))
    lsh.join(ex, Seq("doc_a", "doc_b"), "full_outer")
      .select(coalesce(col("in_lsh"), lit(0L)).as("il"),
        coalesce(col("in_exact"), lit(0L)).as("ie"))
      .agg(sum(col("il") * col("ie")).as("n_both"),
        sum(col("il") * (lit(1L) - col("ie"))).as("n_lsh_only"),
        sum((lit(1L) - col("il")) * col("ie")).as("n_exact_only"))
      .withColumn("precision", col("n_both").cast(DoubleType) /
        (col("n_both") + col("n_lsh_only")).cast(DoubleType))
      .withColumn("recall", col("n_both").cast(DoubleType) /
        (col("n_both") + col("n_exact_only")).cast(DoubleType))
  }

  /** HITS hubs & authorities (Kleinberg 1999) over the DIRECTED
    * near-dup edge list (doc_a → doc_b as mined, i.e. lower id points
    * at higher): 2 rounds of the mutual-reinforcement recurrence —
    * auth(v) = Σ hub(in-neighbors), hub(v) = Σ auth(out-neighbors) —
    * the second centrality family beside q201's PageRank (random-walk
    * mass vs bipartite endorsement; on citation-shaped dup graphs they
    * disagree usefully: a template source is a hub, its copies are
    * authorities). Determinism: all-integer fixed point — each round
    * renormalizes by the CURRENT MAX via x·SCALE DIV max (integer
    * floor division both engines define identically on non-negatives),
    * which also bounds every value by SCALE so the products can never
    * overflow int64. Scale shape: per half-round one edges⋈scores
    * shuffle + one partial-aggregable SUM + one O(1) broadcast max —
    * the q201 Pregel loop with a scalar broadcast added; the oracle
    * unrolls the SAME integer stages into MATERIALIZED CTEs. */
  def hitsScores(spark: SparkSession, dir: String): DataFrame =
    hitsIterate(jaccardEdges(spark, dir)
      .select(col("doc_a").as("src"), col("doc_b").as("dst")), rounds = 2)

  /** The integer HITS iteration on any directed (src, dst) edge list —
    * private[graft] so the spec can drive synthetic graphs. */
  private[graft] def hitsIterate(eIn: DataFrame, rounds: Int): DataFrame = {
    val e = eIn.localCheckpoint(eager = false)
    val nodes = e.select(col("src").as("doc_id"))
      .union(e.select(col("dst"))).distinct()
      .localCheckpoint(eager = false)
    var hub = nodes.withColumn("h", lit(HITS_SCALE))
    var auth = nodes.withColumn("a", lit(0L))
    for (_ <- 1 to rounds) {
      val aRaw = e.join(hub, e("src") === hub("doc_id"))
        .groupBy(col("dst")).agg(sum(col("h")).as("ar"))
      val aMax = aRaw.agg(max(col("ar")).as("ma"))
      auth = nodes.join(aRaw, nodes("doc_id") === aRaw("dst"), "left")
        .crossJoin(broadcast(aMax))
        .select(col("doc_id"), expr(
          s"(coalesce(ar, CAST(0 AS BIGINT)) * $HITS_SCALE) DIV ma").as("a"))
        .localCheckpoint(eager = false)
      val hRaw = e.join(auth, e("dst") === auth("doc_id"))
        .groupBy(col("src")).agg(sum(col("a")).as("hr"))
      val hMax = hRaw.agg(max(col("hr")).as("mh"))
      hub = nodes.join(hRaw, nodes("doc_id") === hRaw("src"), "left")
        .crossJoin(broadcast(hMax))
        .select(col("doc_id"), expr(
          s"(coalesce(hr, CAST(0 AS BIGINT)) * $HITS_SCALE) DIV mh").as("h"))
        .localCheckpoint(eager = false)
    }
    hub.join(auth, "doc_id")
      .select(col("doc_id"), col("h").as("hub_scaled"),
        col("a").as("auth_scaled"))
      .orderBy(col("doc_id"))
  }

  /** Fixed-point scale for [[hitsScores]] (1e6 per unit score: small
    * enough that value·SCALE stays far inside int64 after the per-round
    * max-normalization bounds value ≤ SCALE·maxdeg). */
  private val HITS_SCALE = 1000000L

  /** COMMUNITY DETECTION by synchronous label propagation (2 rounds,
    * Raghavan et al. 2007 made deterministic): every node starts
    * labeled with its own id; each round it adopts its neighbors' MOST
    * FREQUENT label, ties broken toward the SMALLEST label — the
    * argmax is `max(struct(count, -label))`, so the whole update is
    * one partial-aggregable aggregate, no window. Distinct from q67:
    * connected components merge everything reachable; label-frequency
    * propagation splits a component into densely-linked communities
    * (two cliques joined by one bridge edge keep separate labels).
    *
    * Scale shape: per round one edges⋈labels shuffle + one
    * (node,label) rollup — O(edges) work, the Pregel shape again; a
    * FIXED round budget keeps it deterministic (sync updates converge
    * or oscillate; a bounded-round snapshot is the reproducible
    * answer, and the oracle unrolls the SAME two rounds). */
  def labelCommunities(spark: SparkSession, dir: String): DataFrame = {
    val e = jaccardEdges(spark, dir).select(col("doc_a"), col("doc_b"))
    labelPropagate(e.union(e.select(col("doc_b"), col("doc_a")))
      .toDF("src", "dst"), rounds = 2)
  }

  /** The sync propagation on any symmetrized (src, dst) edge list —
    * private[graft] so the spec can drive synthetic graphs. */
  private[graft] def labelPropagate(symIn: DataFrame, rounds: Int)
      : DataFrame = {
    val sym = symIn.localCheckpoint(eager = false)
    var labels = sym.select(col("src").as("doc_id")).distinct()
      .withColumn("lbl", col("doc_id"))
    for (_ <- 1 to rounds) {
      labels = sym.join(labels, sym("src") === labels("doc_id"))
        .groupBy(col("dst"), col("lbl")).agg(count(lit(1)).as("c"))
        .groupBy(col("dst"))
        .agg(max(struct(col("c"), (-col("lbl")).as("nl"))).as("m"))
        .select(col("dst").as("doc_id"), (-col("m.nl")).as("lbl"))
        .localCheckpoint(eager = false)
    }
    labels.select(col("doc_id"), col("lbl").as("community"))
      .orderBy(col("doc_id"))
  }

  /** q285 — INCREMENTAL dedup probe: the production shape of
    * near-duplicate detection, where a NEW batch (the daily delta —
    * here doc_id % 10 == 0) is checked against the ALREADY-INGESTED
    * corpus (the rest), not against itself. q31's band keys become an
    * INDEX PROBE: delta band keys equi-join corpus band keys, so the
    * delta never touches non-colliding corpus docs; collided
    * candidates are verified with the EXACT shingle-set Jaccard
    * (q33's definition), and every delta doc comes back with its
    * verdict — match count, best match, best Jaccard, or a clean
    * (0, NULL, NULL) row via the left join.
    *
    * Scale shape: at 100 TB the corpus band table is a persisted,
    * bucketed-by-bkey asset (built once, like saveTextIndex); the
    * per-batch cost is O(delta) signature computation + a band-key
    * equi-join whose right side prunes to colliding keys + exact
    * verification on candidates only. The full-corpus self-join q31
    * runs never happens on the ingest path. Shingle arrays are
    * fetched (by doc-key join) only for candidate docs, so the wide
    * arrays never ride the band shuffle. */
  def incrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = spread(load(spark, dir, "documents"))
    val corpus = docs.filter(!isDelta(col("doc_id")))
    textProbeAgainst(docs.filter(isDelta(col("doc_id"))),
      textBandRows(corpus), shingleSets(corpus))
  }

  /** (doc_id, band, bkey) LSH band rows of an arbitrary (doc_id, text)
    * frame — the corpus-handle form of the probe's band side: the
    * inline probe computes it from text, the index-backed ingest
    * writer READS it from [[saveLshIndex]]'s parquet. One definition
    * with [[bandKeys]]/[[withSignature]], so the two can never fork. */
  private[graft] def textBandRows(docs: DataFrame): DataFrame =
    bandKeys(withSignature(docs))
      .select(col("doc_id"), col("band"), col("bkey"))

  /** (doc_id, hx, n) shingle-hash sets of an arbitrary (doc_id, text)
    * frame — the probe's exact-verify side, for the batch and for the
    * corpus alike. */
  private[graft] def shingleSets(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), shingleHashes(col("text"), mod = false).as("hx"))
      .withColumn("n", size(col("hx")).cast(LongType))

  /** Every verified match of a (doc_id, text) batch against a corpus's
    * (band rows, shingle sets): [[Banding.bandJoin]] candidates, once per
    * pair, kept by [[verifyJaccard]] as `(new_doc, match_doc, jaccard, …)`. */
  private[graft] def textMatches(batch: DataFrame, corpusBands: DataFrame,
      corpusSets: DataFrame): DataFrame = {
    val cand = Banding.bandJoin(textBandRows(batch), corpusBands)
      .select(col("d.doc_id").as("new_doc"), col("c.doc_id").as("match_doc"))
      .distinct()
    verifyJaccard(cand
      .join(shingleSets(batch).select(col("doc_id").as("new_doc"),
        col("hx").as("ha"), col("n").as("na")), "new_doc"), corpusSets)
  }

  /** THE text probe: a (doc_id, text) batch against a corpus handed in
    * as (band rows, shingle sets) — computed inline by q285, read from
    * [[saveLshIndex]]'s parquet by q331 and the index-backed ingest
    * writer. The batch side is always computed fresh (O(batch)). Every
    * batch doc gets a verdict over its [[textMatches]]: match count,
    * best match (highest Jaccard, doc-id tie-break), or a clean
    * (0, NULL, NULL). */
  private[graft] def textProbeAgainst(batch: DataFrame,
      corpusBands: DataFrame, corpusSets: DataFrame): DataFrame = {
    val ver = textMatches(batch, corpusBands, corpusSets)
    val wBest = Window.partitionBy(col("new_doc"))
      .orderBy(col("jaccard").desc, col("match_doc").desc)
    val best = ver
      .withColumn("rn", row_number().over(wBest))
      .withColumn("n_matches",
        count(lit(1)).over(Window.partitionBy(col("new_doc"))))
      .filter(col("rn") === 1)
      .select(col("new_doc"), col("n_matches"),
        col("match_doc").as("best_match"), col("jaccard").as("best_jaccard"))
    batch.select(col("doc_id").as("new_doc")).join(best, Seq("new_doc"), "left")
      .select(col("new_doc"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"),
        col("best_match"), col("best_jaccard"))
      .orderBy(col("new_doc"))
  }

  /** The exact text verify of the batch probe and the indexed stream:
    * candidates (`match_doc`, shingle set `ha` of size `na`) fetch the
    * corpus set of `match_doc` and are kept at exact Jaccard
    * `|a ∩ b| / (na + nb − |a ∩ b|)` >= 0.5, in a `jaccard` column. */
  private[graft] def verifyJaccard(cand: DataFrame,
      corpusSets: DataFrame): DataFrame =
    cand
      .join(corpusSets.select(col("doc_id").as("match_doc"), col("hx").as("hb"),
        col("n").as("nb")), "match_doc")
      .withColumn("c", size(array_intersect(col("ha"), col("hb")))
        .cast(LongType))
      .withColumn("jaccard",
        col("c").cast(DoubleType) / (col("na") + col("nb") - col("c")))
      .filter(col("jaccard") >= 0.5)

  /** Persist the corpus side of the q285 probe as an on-disk index:
    * the band table (partitioned by band, so a probe prunes to its
    * band's files) and the shingle-hash sets (fetched by doc-key join
    * only for verified candidates). At 100 TB this is the asset an
    * ingest pipeline builds ONCE and probes per batch — the
    * `saveTextIndex`/`saveIvfIndex` lifecycle carried to dedup. */
  def saveLshIndex(spark: SparkSession, dir: String, indexDir: String): Unit = {
    val corpus = spread(load(spark, dir, "documents"))
      .filter(!isDelta(col("doc_id")))
    // the two assets are independent shingle passes over the same
    // corpus — build them concurrently so each job's tail back-fills
    // the other (optimization r16, guide §2.6)
    graft.util.Concurrency.awaitSettled(Seq(
      () => textBandRows(corpus)
        .write.mode("overwrite").partitionBy("band")
        .parquet(s"$indexDir/bands"),
      () => shingleSets(corpus)
        .write.mode("overwrite").parquet(s"$indexDir/shingles")))
  }

  /** The persisted schema of [[textBandRows]], written partitioned by
    * band (`band` last, as a read gives it back). */
  private[graft] val TextBandSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("bkey", StringType),
    StructField("band", IntegerType)))

  /** The persisted schema of [[shingleSets]]. */
  private[graft] val ShingleSetSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("hx", ArrayType(LongType)),
    StructField("n", LongType)))

  /** [[saveLshIndex]]'s `(bands, shingles)`, read with the schemas it
    * writes — no schema-inference job. */
  private[graft] def lshIndex(spark: SparkSession, indexDir: String): (DataFrame, DataFrame) =
    (readWritten(spark, s"$indexDir/bands", TextBandSchema),
      readWritten(spark, s"$indexDir/shingles", ShingleSetSchema))

  /** q331 — INCREMENTAL DEDUP FROM THE PERSISTED INDEX: the q285
    * probe with its corpus side READ from [[saveLshIndex]]'s parquet
    * instead of recomputed — the actual production ingest shape
    * (signatures for the corpus are paid once, not per batch). The
    * registered query builds the index into a temp dir and probes it
    * in one call; verdicts must be byte-identical to q285 (same
    * oracle string, the never-fork pattern), which the gate enforces
    * every round. Band files are partition-pruned by the probe's
    * band column; shingle sets are joined only for candidates. */
  def incrementalDedupFromIndex(spark: SparkSession, dir: String,
      indexDir: String): DataFrame = {
    val (bands, sets) = lshIndex(spark, indexDir)
    textProbeAgainst(
      spread(load(spark, dir, "documents")).filter(isDelta(col("doc_id"))),
      bands, sets)
  }

  /** q331's registered form: build the index fresh in a temp dir,
    * probe from it. */
  def lshIndexProbe(spark: SparkSession, dir: String): DataFrame = {
    // per-CALL index path, deleted at JVM exit (graft.util.Scratch):
    // concurrent calls never race on overwrite, repeated runs never
    // accumulate tmp parquet
    val indexDir = graft.util.Scratch.indexDir("graft_lsh_index", dir)
    saveLshIndex(spark, dir, indexDir)
    incrementalDedupFromIndex(spark, dir, indexDir)
  }

  /** q302 — NEAR-DUP PAIR EVIDENCE: q33's exact pairs re-emitted as a
    * reviewable artifact — shared-shingle count, the Jaccard, and one
    * concrete EXHIBIT (the lexicographically smallest shared shingle)
    * per pair. Dedup decisions that delete training data need an
    * audit trail a human can spot-check without re-running the
    * pipeline; "these two docs share 17 trigrams, e.g. “the fast
    * key”" is that trail. Same inverted-index reduction as q33 (the
    * shuffle key stays the 8-byte hash; the shingle string rides as
    * the payload only to the MIN aggregate), so pair set and scores
    * can never diverge from the detector. */
  def pairEvidence(spark: SparkSession, dir: String): DataFrame = {
    val inv = spread(load(spark, dir, "documents"))
      .select(col("doc_id"), shingles(col("text")).as("shs"))
      .select(col("doc_id"), size(col("shs")).cast(LongType).as("n"),
        explode(col("shs")).as("sh"))
      .withColumn("h", phash(col("sh")))
    val a = inv.alias("a")
    val b = inv.alias("b")
    // same lossless τ=0.5 length filter as jaccardScoredPairs — doubly
    // valuable here because each candidate row carries the shingle
    // STRING payload to the MIN aggregate
    a.join(b, col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
        col("a.n") <= col("b.n") * 2 && col("b.n") <= col("a.n") * 2)
      .groupBy(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        col("a.n").as("na"), col("b.n").as("nb"))
      .agg(count(lit(1)).as("c"), min(col("a.sh")).as("evidence_shingle"))
      .withColumn("jaccard",
        col("c").cast(DoubleType) / (col("na") + col("nb") - col("c")))
      .filter(col("jaccard") >= 0.5)
      .select(col("doc_a"), col("doc_b"), col("c").as("n_shared"),
        col("jaccard"), col("evidence_shingle"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q311 — LSH BAND-CONFIGURATION sweep: empirical recall and
    * precision of every (bands × rows) split of the SAME K=16 MinHash
    * signature — {1×16, 2×8, 4×4, 8×2, 16×1} — against the exact
    * J ≥ 0.5 truth (q33). The S-curve theory says more bands → more
    * recall, fewer → more precision; this measures it ON YOUR corpus
    * in one query, which is how the 4×4 production setting (q31)
    * gets justified rather than assumed. Signatures are computed
    * ONCE; each config just re-slices them, so the sweep costs five
    * band-key self-joins over slim (config, band, key) rows — run on
    * a sample at 100 TB, the config generalizes.
    *
    * All counts exact; recall/precision ONE division each,
    * NULL-guarded for a config with zero candidates. */
  def lshConfigSweep(spark: SparkSession, dir: String): DataFrame = {
    val configs = Seq((1, 16), (2, 8), (4, 4), (8, 2), (16, 1))
    val sigs = withSignature(spread(load(spark, dir, "documents")))
    val bandStructs = array(configs.flatMap { case (b, r) =>
      (0 until b).map { bi =>
        struct(lit(s"${b}x$r").as("config"), lit(b.toLong).as("n_bands"),
          lit(bi).as("band"),
          concat_ws(",", (0 until r).map(j =>
            element_at(col("sig"), bi * r + j + 1).cast(StringType)): _*)
            .as("bkey"))
      }
    }: _*)
    val bands = Banding.banded(sigs, bandStructs)
    // referenced twice below (candidate count + hit probe) — the
    // banded self-join over all five configs is the dominant subtree;
    // materialize it ONCE like `exact` (optimization r16)
    val cand = oneShot(bands.alias("x").join(bands.alias("y"),
        col("x.config") === col("y.config") &&
        col("x.band") === col("y.band") &&
        col("x.bkey") === col("y.bkey") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.config").as("config"), col("x.n_bands").as("n_bands"),
        col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct())
    // referenced twice below (hit probe + n_true); materialize the
    // dominant co-occurrence reduction ONCE (q67 pattern) instead of
    // relying on exchange reuse across two different consumers
    val exact = oneShot(jaccardScoredPairs(spark, dir)
      .filter(col("jaccard") >= 0.5).select(col("doc_a"), col("doc_b")))
    val d = (x: org.apache.spark.sql.Column) => x.cast(DoubleType)
    cand.groupBy(col("config"), col("n_bands"))
      .agg(count(lit(1)).as("n_candidates"))
      .join(cand.join(exact, Seq("doc_a", "doc_b"))
        .groupBy(col("config")).agg(count(lit(1)).as("n_hits")),
        Seq("config"), "left")
      .crossJoin(broadcast(exact.agg(count(lit(1)).as("n_true"))))
      .select(col("config"), col("n_bands"),
        col("n_candidates"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("n_true").cast(LongType).as("n_true"),
        (d(coalesce(col("n_hits"), lit(0L))) / col("n_true"))
          .as("recall"),
        when(col("n_candidates") > 0,
          d(coalesce(col("n_hits"), lit(0L))) / col("n_candidates"))
          .as("precision"))
      .orderBy(col("n_bands"))
  }

  /** q323 — LSH BUCKET-SIZE HISTOGRAM (index health): per band, the
    * distribution of bucket sizes and the candidate-pair work each
    * size class contributes (n_buckets × C(size, 2)) — the readout
    * that catches a DEGENERATE band before it melts the join: one
    * low-entropy hash slot (constant-ish signature rows, boilerplate
    * floods) shows up as a giant bucket whose C(s,2) dwarfs the rest,
    * and THAT band's equi-join is the q31 stage that would OOM at
    * 100 TB. q311 tunes the (bands × rows) split for recall; this
    * audits the split's runtime cost on the actual corpus.
    *
    * Scale shape: one rollup to O(buckets), one to O(bands × distinct
    * sizes); the signature/band machinery is q31's verbatim. All
    * counts exact; pair work is exact integer n·s·(s−1)/2. */
  def lshBucketStats(spark: SparkSession, dir: String): DataFrame =
    bandKeys(withSignature(spread(load(spark, dir, "documents"))))
      .groupBy(col("band"), col("bkey"))
      .agg(count(lit(1)).as("sz"))
      .groupBy(col("band").cast(LongType).as("band"),
        col("sz").as("bucket_size"))
      .agg(count(lit(1)).as("n_buckets"))
      .withColumn("n_candidate_pairs",
        col("n_buckets") * expr("bucket_size * (bucket_size - 1) div 2"))
      .orderBy(col("band"), col("bucket_size"))

  /** q351 — WEIGHTED JACCARD rescoring: the q33 pair set re-scored
    * with MULTIPLICITIES — Σ min(tfₐ, tf_b) / Σ max(tfₐ, tf_b) over
    * trigram term frequencies, computed EXACTLY via the identity
    * Σmax = totₐ + tot_b − Σmin (the multiset twin of q33's
    * c/(na+nb−c)) — set Jaccard saturates on docs that repeat a
    * shared phrase many times (each distinct shingle counts once);
    * the weighted form distinguishes "quotes it once" from "IS
    * mostly that phrase", which is the boilerplate-vs-quote call a
    * reviewer actually makes. Emitted beside the set score so the
    * divergence IS the signal.
    *
    * Scale shape: candidates are the ALREADY-GATED q33 pairs (no new
    * pair generation); tf tables are one rollup off the q308 trigram
    * stream; the shared-mass join carries only (pair, 8-byte hash,
    * two counts). All integer; each score ONE division. */
  def weightedJaccard(spark: SparkSession, dir: String): DataFrame = {
    val tf = spread(load(spark, dir, "documents"))
      .select(col("doc_id"), explode(call_function("phash_array",
        call_function("word_ngrams", tokens(col("text")), lit(3)))).as("h"))
      .groupBy(col("doc_id"), col("h")).agg(count(lit(1)).as("c"))
      // lazy localCheckpoint, not persist(): materialized once on first
      // use, and the blocks are GC-freed with the frame — a persist()
      // here would sit in the cache registry for the whole gate run
      .transform(oneShot)
    val tot = tf.groupBy(col("doc_id")).agg(sum(col("c")).as("t"))
    val cand = jaccardEdges(spark, dir)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
    val smin = cand.select(col("doc_a"), col("doc_b"))
      .join(tf.select(col("doc_id").as("doc_a"), col("h"),
        col("c").as("ca")), "doc_a")
      .join(tf.select(col("doc_id").as("doc_b"), col("h"),
        col("c").as("cb")), Seq("doc_b", "h"))
      .groupBy(col("doc_a"), col("doc_b"))
      .agg(sum(least(col("ca"), col("cb"))).as("smin"))
    cand.join(smin, Seq("doc_a", "doc_b"), "left")
      .withColumn("smin", coalesce(col("smin"), lit(0L)))
      .join(tot.select(col("doc_id").as("doc_a"), col("t").as("ta")), "doc_a")
      .join(tot.select(col("doc_id").as("doc_b"), col("t").as("tb")), "doc_b")
      .select(col("doc_a"), col("doc_b"), col("jaccard"),
        (col("smin").cast(DoubleType) /
          (col("ta") + col("tb") - col("smin"))).as("weighted_jaccard"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** q345 — NEAR-DUP GRAPH DEGREE DISTRIBUTION: the histogram of
    * node degrees over q33's edge set — the one-glance graph-health
    * readout that separates healthy sparse duplication (degrees 1–2,
    * pairwise copies) from a boilerplate blob (a fat tail: hubs
    * connected to hundreds of near-copies), and the empirical input
    * to every sizing decision the graph operators make (q92's
    * degree-ordered orientation, q178's peel rounds, q50/q321
    * salting). Two partial-agg rollups: endpoints → per-node degree →
    * O(distinct degrees) histogram. All integer. */
  /** Minimum document length (chars) for the prefix-containment
    * detector — docs shorter than this are fragments, not truncation
    * candidates, and the cutoff is what makes the 32-char bucket key
    * a NECESSARY condition (both texts have at least that prefix). */
  private[graft] val PrefixMinLen = 32

  /** Target bucket rows per (prefix-key, salt) task for q274 — a hot
    * prefix bucket (corpus-wide license header) is split over
    * ceil(size / target) tasks; uniform buckets pay no replication. */
  private val PrefixSaltTarget = 2000L

  /** q274 — PREFIX-CONTAINMENT (TRUNCATION) DEDUP: pairs where one
    * document is a full prefix of the other — the truncation failure
    * mode (same article cut at different lengths by different
    * crawlers) that shingle detectors only catch when the shorter
    * copy is long enough to share most shingles, and exact dedup
    * never catches. Scope: docs ≥ [[PrefixMinLen]] chars (shorter
    * texts are fragments, not truncations).
    *
    * Scale shape: bucket on the hash of the FIRST 32 CHARS — for
    * in-scope docs, containment implies 32-prefix equality, so the
    * equi-join is lossless; the quadratic check runs only within a
    * bucket. A corpus-wide boilerplate prefix (license header) would
    * hot-spot one bucket, so the join is ADAPTIVELY SALTED with the
    * q321 discipline: a slim (pk, count) rollup keeps only buckets
    * above [[PrefixSaltTarget]] (O(hot keys), broadcastable at any
    * scale), the probe side salts `doc_id mod factor`, the build side
    * explodes over the factor — replication is paid ONLY where
    * measured density demands it, and the result is identical to the
    * unsalted join (each in-bucket pair meets exactly once, at the
    * probe row's salt). The three passes over documents are parquet
    * re-scans (column-pruned), NOT a text-block checkpoint — at
    * 100 TB re-reading two slim columns beats materializing text.
    * Bucket health is probe-visible: ScaleProbe emits the q274
    * bucket-size profile (`prefix_max_bucket` / `prefix_pair_
    * instances`) so a hot bucket shows up in the soak metrics before
    * it serializes a run. Exact-dup pairs are containment pairs by
    * definition and appear here too; subtract q30's groups when only
    * proper truncations are wanted. */
  def prefixContainment(spark: SparkSession, dir: String): DataFrame = {
    val docs = spread(load(spark, dir, "documents"))
      .select(col("doc_id"), col("text"))
      .filter(length(col("text")) >= PrefixMinLen)
      .withColumn("pk", xxhash64(substring(col("text"), 1, PrefixMinLen)))
    val plan = docs.groupBy(col("pk")).agg(count(lit(1)).as("n"))
      .filter(col("n") > PrefixSaltTarget)
      .select(col("pk").as("ppk"),
        expr(s"(n + ${PrefixSaltTarget - 1}) div $PrefixSaltTarget").as("f"))
    val a = docs.join(broadcast(plan), col("pk") === col("ppk"), "left")
      .withColumn("salt", pmod(col("doc_id"), coalesce(col("f"), lit(1L))))
      .select(col("pk"), col("salt"),
        col("doc_id").as("doc_a"), col("text").as("ta"))
    val b = docs.join(broadcast(plan), col("pk") === col("ppk"), "left")
      .withColumn("salt", explode(expr("sequence(0L, coalesce(f, 1L) - 1L)")))
      .select(col("pk"), col("salt"),
        col("doc_id").as("doc_b"), col("text").as("tb"))
    a.join(b, Seq("pk", "salt"))
      .filter(col("doc_a") < col("doc_b"))
      .filter(col("ta").startsWith(col("tb")) || col("tb").startsWith(col("ta")))
      .select(col("doc_a"), col("doc_b"),
        length(col("ta")).as("len_a"), length(col("tb")).as("len_b"))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  def degreeDistribution(spark: SparkSession, dir: String): DataFrame =
    // endpoints via explode, not a two-branch union: the reduction
    // appears ONCE in the plan, so no checkpoint (and no block
    // write/read tax) is needed to avoid recomputing it
    jaccardEdges(spark, dir)
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
      .groupBy(col("degree")).agg(count(lit(1)).as("n_nodes"))
      .orderBy(col("degree"))

  /** q347 — RETENTION-POLICY WHAT-IF: the surviving document count
    * and token mass under each canonical-selection rule the library
    * ships — min-id (q67's cheap deterministic pick), hub (q327's
    * most-connected member), max-tokens (the q130-style quality
    * proxy) — side by side, before anyone flips the retention rule on
    * a live corpus. Same cluster set under every policy (so kept-doc
    * counts agree BY CONSTRUCTION and the table isolates the token
    * consequence), non-clustered docs always survive. ONE
    * inverted-index pass: the pair set is materialized once and feeds the
    * component labels, the degree rollup and the member stats. All
    * integer; O(3) output. */
  def retentionWhatif(spark: SparkSession, dir: String): DataFrame = {
    val docs = spread(load(spark, dir, "documents"))
      .select(col("doc_id"), size(tokens(col("text"))).cast(LongType).as("ntok"))
    // lazy localCheckpoint (q67 pattern), not persist(): blocks free
    // with the frame instead of accumulating across the gate run
    val pairs = oneShot(
      jaccardEdges(spark, dir).select(col("doc_a"), col("doc_b")))
    val clusters = connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
    val j = docs.join(clusters, Seq("doc_id"), "left")
    val base = j.filter(col("cluster_id").isNull)
      .agg(count(lit(1)).as("n0"), sum(col("ntok")).as("t0"))
    val members = j.filter(col("cluster_id").isNotNull)
    def policyRow(name: String, chosen: DataFrame) = chosen
      .agg(count(lit(1)).as("nc"), sum(col("ntok")).as("tc"))
      .crossJoin(broadcast(base))
      .select(lit(name).as("policy"),
        (col("n0") + col("nc")).as("n_kept_docs"),
        (col("t0") + col("tc")).as("kept_tokens"))
    val minId = members.filter(col("doc_id") === col("cluster_id"))
    val deg = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
    val hub = members.join(deg, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(max(struct(col("degree"), (-col("doc_id")).as("nd"),
        col("ntok"))).as("m"))
      .select(col("m.ntok").as("ntok"))
    val qual = members
      .groupBy(col("cluster_id"))
      .agg(max(struct(col("ntok").as("nt"), (-col("doc_id")).as("nd"),
        col("ntok"))).as("m"))
      .select(col("m.ntok").as("ntok"))
    policyRow("1_min_id", minId)
      .unionByName(policyRow("2_hub", hub))
      .unionByName(policyRow("3_max_tokens", qual))
      .orderBy(col("policy"))
  }

  /** q335 — PLANTED-CANARY DETECTION RATE: seed the corpus with known
    * near-duplicates (every doc_id % 97 == 0 doc re-entered under a
    * shifted id with one appended token) and measure what fraction
    * the PRODUCTION detector (q31's MinHash+LSH path, verbatim
    * machinery) recovers — the end-to-end acceptance test a dedup
    * deployment runs continuously: sketches, banding, thresholds and
    * code paths are all exercised together, and a detection rate
    * below 1.0 pages someone before real duplicates leak. Planting is
    * in-query and deterministic (no fixture files), so the canary set
    * scales with the corpus.
    *
    * Scale shape: the augmented corpus is |docs| + |docs|/97 rows
    * through the same banded equi-join as q31 — the canary adds ~1%
    * load. One-row output, exact counts, rate ONE division. */
  def plantedCanaries(spark: SparkSession, dir: String): DataFrame = {
    val Shift = 1000000000L
    val docs = spread(load(spark, dir, "documents"))
      .select(col("doc_id"), col("text"))
    val planted = docs.filter(col("doc_id") % 97 === 0)
      .select((col("doc_id") + Shift).as("doc_id"),
        concat(col("text"), lit(" canaryx")).as("text"))
    val pairs = lshPairs(withSignature(docs.unionByName(planted)))
    val det = pairs
      .filter(col("doc_a") % 97 === 0 && col("doc_b") === col("doc_a") + Shift)
      .agg(count(lit(1)).as("n_detected"))
    planted.agg(count(lit(1)).as("n_planted"))
      .crossJoin(broadcast(det))
      .withColumn("detection_rate",
        col("n_detected").cast(DoubleType) / col("n_planted"))
  }

  /** q327 — CLUSTER HUB CANONICAL: for each q67 duplicate cluster,
    * the MOST-CONNECTED member (max near-dup degree, ties to the
    * smallest id) — the exemplar a curation pipeline keeps when it
    * wants the most REPRESENTATIVE copy rather than an arbitrary one:
    * min-id (q67) is deterministic but meaningless, quality-canonical
    * (q130) needs a quality model; the hub is the copy most similar
    * to the rest of its cluster, by the graph the detector already
    * built — zero new similarity computation. `hub_is_min_id` flags
    * where the cheap choice and the representative choice disagree,
    * the audit run before switching retention rules on a live corpus.
    *
    * Scale shape: degree is one rollup over the O(duplicates) edge
    * endpoints; the per-cluster argmax is a partial-aggregable
    * max(struct(degree, −doc_id)) — no window over members. All
    * integer. */
  def clusterHub(spark: SparkSession, dir: String): DataFrame = {
    // the slim O(duplicates) pair set feeds BOTH the component labels
    // and the degree rollup — lazily localCheckpoint it so the
    // inverted-index join (the expensive upstream) runs once, not
    // twice, and the blocks free with the frame (no cache-registry
    // residue across a 353-query run)
    val pairs = oneShot(
      jaccardEdges(spark, dir).select(col("doc_a"), col("doc_b")))
    val deg = pairs
      .select(explode(array(col("doc_a"), col("doc_b"))).as("doc_id"))
      .groupBy(col("doc_id")).agg(count(lit(1)).as("degree"))
    // components off the SAME materialized pair set (not
    // dedupClusters(spark, dir), which would re-run the whole
    // inverted-index join a second time inside one query)
    connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("label").as("cluster_id"))
      .join(deg, "doc_id")
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_members"),
        max(struct(col("degree"), (-col("doc_id")).as("nd"))).as("m"))
      .select(col("cluster_id"), col("n_members"),
        (-col("m.nd")).as("hub_doc"), col("m.degree").as("hub_degree"))
      .withColumn("hub_is_min_id", col("hub_doc") === col("cluster_id"))
      .orderBy(col("cluster_id"))
  }

  /** q318 — DEDUP LOSER/WINNER MATRIX ("who pays for dedup"): per
    * (loser source, winner source) cell, the documents and token mass
    * a source LOSES under q67's min-id canonicalization because the
    * surviving copy lives in the winner source — the attribution
    * readout behind a licensing/feed decision: q222 says which feeds
    * MIRROR each other, this says which feed's copies actually get
    * dropped and who keeps the canonical. Diagonal cells are internal
    * redundancy; an asymmetric off-diagonal cell means one feed is
    * systematically the copy of the other.
    *
    * Scale shape: the removed set is O(duplicates), and both joins
    * carry only (doc_id, source, ntok) — the canonical-side join key
    * is the cluster label itself (min-id == a doc_id), so no extra
    * canonical derivation pass; one partial-agg rollup to
    * O(sources²). All counts exact integers. */
  def dedupLoserMatrix(spark: SparkSession, dir: String): DataFrame = {
    val docs = spread(load(spark, dir, "documents"))
      .select(col("doc_id"), col("source"),
        size(tokens(col("text"))).cast(LongType).as("ntok"))
    val removed = dedupClusters(spark, dir)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"), col("cluster_id"))
    removed
      .join(docs, Seq("doc_id"))
      .join(docs.select(col("doc_id").as("cluster_id"),
        col("source").as("winner_source")), Seq("cluster_id"))
      .groupBy(col("source").as("loser_source"), col("winner_source"))
      .agg(count(lit(1)).as("n_docs_removed"),
        sum(col("ntok")).as("n_tokens_removed"))
      .orderBy(col("loser_source"), col("winner_source"))
  }

  /** q314 — DUP RATE BY QUALITY DECILE: for each decile of the
    * quality ranking (distinct-token count, q303's selection metric),
    * the share of docs that near-dup dedup would REMOVE (non-minimal
    * members of a q67 cluster) — the cross-signal audit answering "is
    * the quality filter already doing the dedup's job?". If dup rate
    * concentrates in the bottom deciles, a corpus cut at quality
    * already sheds most duplicates and the expensive near-dup pass
    * can run on the survivors only; a flat curve says the two filters
    * are independent and both must run. The reference has no notion
    * of either signal; this is the north-star corpus-curation readout.
    *
    * Scale shape: deciles ride [[graft.ops.Windows.ntileNoGlobalSort]]
    * (two-level rank — no global sorted window); the removed set is
    * O(duplicates) and broadcast into the left join; one O(10) rollup.
    * All counts exact, the rate ONE division. */
  def qualityDupAudit(spark: SparkSession, dir: String): DataFrame = {
    val d = spread(load(spark, dir, "documents"))
      .select(col("doc_id"),
        size(array_distinct(graft.text.TextAnalysis.tokens(col("text"))))
          .cast(LongType).as("quality"))
    val deciled = graft.ops.Windows.ntileNoGlobalSort(
      d, -col("quality"), col("doc_id"), 10, 8L, "decile")
    val removed = dedupClusters(spark, dir)
      .filter(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"), lit(1L).as("dup"))
    deciled.join(broadcast(removed), Seq("doc_id"), "left")
      .groupBy(col("decile").cast(LongType).as("decile"))
      .agg(count(lit(1)).as("n_docs"),
        sum(coalesce(col("dup"), lit(0L))).as("n_dup_members"))
      .withColumn("dup_rate",
        col("n_dup_members").cast(DoubleType) / col("n_docs"))
      .orderBy(col("decile"))
  }

  /** Tumbling-chunk width for the per-source template detector
    * (q355/q356). Tumbling (stride = width), not sliding: template
    * detection wants "this exact block recurs across documents", and a
    * non-overlapping grid keeps the index at n/T rows per doc instead
    * of n — the CCNet paragraph-dedup shape, with fixed word windows
    * standing in for paragraph boundaries this corpus doesn't have. */
  private val TemplateChunk = 8

  /** Shared q355/q356 fragment: per-source chunk document frequency.
    * One definition so the source-level report and the per-doc scrub
    * decisions can never disagree about what counts as a template.
    *
    * Emits one row per distinct (source, chunk, doc) incidence plus
    * the chunk's within-source doc frequency `df`. The chunk travels
    * through the shuffle as its 64-bit xxhash, not the string — at
    * 100 TB the grouping key is 8 bytes/row; the DuckDB oracle groups
    * by the chunk STRING, so every gate run doubles as a proof that
    * the hash narrowing lost nothing (a collision would skew `df`).
    * Distinct-per-doc first: a doc repeating its own chunk internally
    * counts once, like paragraph dedup. */
  private def sourceChunkDf(spark: SparkSession, dir: String): DataFrame = {
    val T = TemplateChunk
    spread(load(spark, dir, "documents"))
      .select(col("source"), col("doc_id"), tokens(col("text")).as("toks"))
      .withColumn("nch", expr(s"size(toks) div $T").cast(LongType))
      .filter(col("nch") >= 1) // sequence(1,0) would DESCEND, not empty
      .withColumn("i", explode(sequence(lit(1L), col("nch"))))
      .select(col("source"), col("doc_id"),
        xxhash64(array_join(slice(col("toks"),
          ((col("i") - 1) * T + 1).cast(IntegerType), lit(T)), " ")).as("h"))
      .distinct()
      // df as a window count, NOT a groupBy + self-join: the join form
      // references the explode+distinct subtree twice (the
      // double-computation class the sf1 soak flagged); the window
      // annotates every incidence row with its group count in one
      // extra (source, h) exchange of the already-distinct rows
      .withColumn("df", count(lit(1)).over(
        Window.partitionBy(col("source"), col("h"))))
  }

  /** Per-source boilerplate report (q355): how template-ridden is each
    * feed? A chunk is a TEMPLATE within its source when it appears in
    * >= 2 distinct documents of that source (nav bars, license
    * blocks, generator preambles — the within-feed recurring furniture
    * CCNet strips before training). Complements q272's global span
    * fraction (per-doc, corpus-wide, offset-free) with the per-FEED
    * view a curation team triages by: which sources ship templates,
    * and what fraction of their chunk mass is template.
    *
    * Scale shape: chunking is a per-row explode (no shuffle); the only
    * wide ops are the (source, hash8B) count and an O(sources)
    * rollup; n_docs joins in as a broadcast O(sources) aggregate. All
    * counts exact integers; the share is ONE division. */
  def sourceBoilerplate(spark: SparkSession, dir: String): DataFrame = {
    val perSource = sourceChunkDf(spark, dir)
      // one row per distinct chunk, keeping its incidence count
      .groupBy(col("source"), col("h")).agg(first(col("df")).as("df"))
      .groupBy(col("source"))
      .agg(sum(col("df")).as("n_chunk_occ"),
        count(lit(1)).as("n_distinct_chunks"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_template_chunks"),
        sum(when(col("df") >= 2, col("df")).otherwise(0L)).as("template_occ"))
    val nDocs = spread(load(spark, dir, "documents"))
      .groupBy(col("source"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    nDocs.join(broadcast(perSource), Seq("source"))
      .select(col("source"), col("n_docs"), col("n_chunk_occ"),
        col("n_distinct_chunks"), col("n_template_chunks"), col("template_occ"),
        (col("template_occ").cast(DoubleType) /
          col("n_chunk_occ").cast(DoubleType)).as("boiler_share"))
      .orderBy(col("source"))
  }

  /** Per-document template-scrub decision (q356): the actionable
    * counterpart of q355, the per-source analogue of q279's span scrub
    * plan. Each doc gets its template chunk count and share, and the
    * action a curation pipeline takes: `drop` when more than half the
    * doc's chunk grid is within-source template, `trim` when any
    * template chunk is present, else `keep`. Thresholds are the policy
    * knob; the mechanism (share of the SAME chunk-DF the q355 report
    * ranks sources by) is the contract.
    *
    * Scale shape: everything rides q355's chunk-DF fragment — one
    * slim-keyed shuffle, then a per-doc count. No new wide op. */
  def templateScrub(spark: SparkSession, dir: String): DataFrame =
    sourceChunkDf(spark, dir)
      .groupBy(col("source"), col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("df") >= 2, 1L).otherwise(0L)).as("n_template_chunks"))
      .withColumn("template_share",
        col("n_template_chunks").cast(DoubleType) /
          col("n_chunks").cast(DoubleType))
      .withColumn("action",
        when(col("template_share") > 0.5, lit("drop"))
          .when(col("n_template_chunks") >= 1, lit("trim"))
          .otherwise(lit("keep")))
      .select(col("doc_id"), col("source"), col("n_chunks"),
        col("n_template_chunks"), col("template_share"), col("action"))
      .orderBy(col("doc_id"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q355_source_boilerplate" -> sourceBoilerplate,
    "q356_template_scrub" -> templateScrub,
    "q318_dedup_loser_matrix" -> dedupLoserMatrix,
    "q323_lsh_bucket_stats" -> lshBucketStats,
    "q327_cluster_hub" -> clusterHub,
    "q335_planted_canaries" -> plantedCanaries,
    "q345_degree_distribution" -> degreeDistribution,
    "q351_weighted_jaccard" -> weightedJaccard,
    "q347_retention_whatif" -> retentionWhatif,
    "q314_quality_dup_audit" -> qualityDupAudit,
    "q311_lsh_config_sweep" -> lshConfigSweep,
    "q307_threshold_sweep" -> thresholdSweep,
    "q302_pair_evidence" -> pairEvidence,
    "q285_incremental_dedup" -> incrementalDedup,
    "q331_lsh_index_probe" -> lshIndexProbe,
    "q201_pagerank" -> pageRank,
    "q203_label_communities" -> labelCommunities,
    "q211_dedup_agreement" -> dedupAgreement,
    "q216_hits_scores" -> hitsScores,
    "q222_cross_source_dups" -> crossSourceDups,
    "q236_degree_assortativity" -> degreeAssortativity,
    "q237_containment_pairs" -> containmentPairs,
    "q238_transitivity" -> transitivity,
    "q196_bfs_recursive_cte" -> bfsRecursiveCte,
    "q194_vocab_growth" -> vocabGrowth,
    "q186_novelty_score" -> noveltyScore,
    "q92_triangle_counts" -> triangleCounts,
    "q124_two_hop_neighbors" -> twoHopNeighbors,
    "q144_bfs_seed_distance" -> bfsSeedDistance,
    "q170_clustering_coefficient" -> clusteringCoefficient,
    "q130_quality_dedup" -> qualityDedup,
    "q137_cluster_sizes" -> clusterSizeDistribution,
    "q30_exact_dedup" -> exactDedup,
    "q31_minhash_lsh" -> minhashLsh,
    "q32_simhash" -> simhash,
    "q33_ngram_jaccard" -> ngramJaccard,
    "q53_ppjoin_jaccard" -> ppjoinJaccard,
    "q67_dedup_clusters" -> dedupClusters,
    "q74_cluster_minhash" -> clusterMinhash,
    "q79_simhash_neardup" -> simhashNearDup,
    "q178_kcore" -> kCore,
    "q257_weighted_sssp" -> weightedSssp,
    "q183_record_linkage" -> recordLinkage,
    "q272_span_dedup" -> spanDedup,
    "q274_prefix_containment" -> prefixContainment,
    "q275_source_overlap" -> sourceOverlap,
    "q277_effective_yield" -> effectiveYield,
    "q279_span_scrub_plan" -> spanScrubPlan,
    "q365_kmv_source_cardinality" -> kmvSourceOverlap)

  /** Shared with q148's pure-SQL oracle: one definition of the DuckDB
    * trigram-shingle semantics, matching [[graft.functions.WordNGrams]]. */
  private[graft] val shinglesSql =
    """LIST_DISTINCT(LIST_TRANSFORM(GENERATE_SERIES(1, GREATEST(LEN(toks)-2, 1)),
      |      i -> CONCAT_WS(' ', toks[i], toks[i+1], toks[i+2])))""".stripMargin
  private val toksSql =
    "SELECT doc_id, text, STRING_SPLIT_REGEX(TRIM(text), ' +') AS toks FROM documents"
  private[graft] val permsSql = A.zip(B)
    .map { case (a, b) => s"{'a': ${a}, 'b': ${b}}" }.mkString("[", ", ", "]")

  /** Shared q355/q356 oracle CTEs: distinct (source, doc, chunk)
    * incidences over the tumbling [[TemplateChunk]]-token grid, plus
    * the within-source chunk doc frequency. Groups by the chunk STRING
    * — the proof that the Scala side's xxhash64 narrowing is lossless. */
  private val templateDfCte =
    s"""t AS (SELECT doc_id, source,
      |        STRING_SPLIT_REGEX(TRIM(text), ' +') AS toks FROM documents),
      |c AS (SELECT DISTINCT source, doc_id,
      |        ARRAY_TO_STRING(toks[(i-1)*$TemplateChunk+1 :
      |          (i-1)*$TemplateChunk+$TemplateChunk], ' ') AS ch
      |      FROM t, UNNEST(GENERATE_SERIES(1, LEN(toks) // $TemplateChunk))
      |        AS u(i)),
      |d AS (SELECT source, ch, COUNT(*) AS df FROM c GROUP BY 1, 2)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q355_source_boilerplate" ->
      s"""WITH $templateDfCte,
        |s AS (SELECT source,
        |        CAST(SUM(df) AS BIGINT) AS n_chunk_occ,
        |        CAST(COUNT(*) AS BIGINT) AS n_distinct_chunks,
        |        CAST(SUM(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_template_chunks,
        |        CAST(SUM(CASE WHEN df >= 2 THEN df ELSE 0 END) AS BIGINT)
        |          AS template_occ
        |      FROM d GROUP BY 1),
        |nd AS (SELECT source, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
        |       FROM documents GROUP BY 1)
        |SELECT nd.source, n_docs, n_chunk_occ, n_distinct_chunks,
        |  n_template_chunks, template_occ,
        |  template_occ * 1.0 / n_chunk_occ AS boiler_share
        |FROM nd JOIN s USING (source) ORDER BY source""".stripMargin,
    "q356_template_scrub" ->
      s"""WITH $templateDfCte,
        |p AS (SELECT c.doc_id, c.source,
        |        CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |        CAST(SUM(CASE WHEN d.df >= 2 THEN 1 ELSE 0 END) AS BIGINT)
        |          AS n_template_chunks
        |      FROM c JOIN d ON c.source = d.source AND c.ch = d.ch
        |      GROUP BY 1, 2)
        |SELECT doc_id, source, n_chunks, n_template_chunks,
        |  n_template_chunks * 1.0 / n_chunks AS template_share,
        |  CASE WHEN n_template_chunks * 1.0 / n_chunks > 0.5 THEN 'drop'
        |       WHEN n_template_chunks >= 1 THEN 'trim'
        |       ELSE 'keep' END AS action
        |FROM p ORDER BY doc_id""".stripMargin,
    // q311: q31's sig CTEs + one bands branch per config, exact truth
    // from the q33 CTEs
    "q311_lsh_config_sweep" -> {
      val configs = Seq((1, 16), (2, 8), (4, 4), (8, 2), (16, 1))
      val bandSelects = configs.map { case (b, r) =>
        s"""SELECT doc_id, '${b}x$r' AS config,
           |    CAST($b AS BIGINT) AS n_bands, bb.band AS band,
           |    ARRAY_TO_STRING(sig[bb.band*$r+1 : bb.band*$r+$r], ',')
           |      AS bkey
           |  FROM sig, (SELECT UNNEST(GENERATE_SERIES(0, ${b - 1}))
           |             AS band) bb""".stripMargin
      }.mkString("\n|UNION ALL ")
      s"""WITH $jaccardCommonCte,
        |hm AS (SELECT doc_id, LIST_TRANSFORM(sh, x -> ${phashModSql("x")}) AS hs FROM s),
        |sig AS (SELECT doc_id, LIST_TRANSFORM($permsSql,
        |          p -> LIST_MIN(LIST_TRANSFORM(hs, v -> (p.a * v + p.b) % ${P}))) AS sig
        |        FROM hm),
        |bands AS ($bandSelects),
        |cand AS (SELECT DISTINCT x.config, x.n_bands,
        |           x.doc_id AS doc_a, y.doc_id AS doc_b
        |         FROM bands x JOIN bands y
        |           ON x.config = y.config AND x.band = y.band
        |           AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
        |exactp AS (SELECT doc_a, doc_b FROM common
        |           WHERE CAST(c AS DOUBLE) / (na + nb - c) >= 0.5),
        |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_true FROM exactp),
        |pc AS (SELECT config, n_bands,
        |         CAST(COUNT(*) AS BIGINT) AS n_candidates
        |       FROM cand GROUP BY 1, 2),
        |hh AS (SELECT config, CAST(COUNT(*) AS BIGINT) AS n_hits
        |      FROM cand JOIN exactp USING (doc_a, doc_b) GROUP BY 1)
        |SELECT pc.config, pc.n_bands, pc.n_candidates,
        |  COALESCE(hh.n_hits, 0) AS n_hits, nt.n_true,
        |  CAST(COALESCE(hh.n_hits, 0) AS DOUBLE) / nt.n_true AS recall,
        |  CASE WHEN pc.n_candidates > 0 THEN
        |    CAST(COALESCE(hh.n_hits, 0) AS DOUBLE) / pc.n_candidates
        |  END AS "precision"
        |FROM pc LEFT JOIN hh ON hh.config = pc.config CROSS JOIN nt
        |ORDER BY pc.n_bands""".stripMargin
    },
    // q307: one conditional-aggregation pass over the q33 CTEs
    "q307_threshold_sweep" -> {
      val ts = Seq("0.5", "0.6", "0.7", "0.8", "0.9")
      val sums = ts.zipWithIndex.map { case (t, i) =>
        s"CAST(SUM(CASE WHEN j >= ${t}e0 THEN 1 ELSE 0 END) AS BIGINT) AS c$i"
      }.mkString(",\n|        ")
      val rows = ts.zipWithIndex.map { case (t, i) =>
        s"SELECT CAST($t AS DOUBLE) AS threshold, c$i AS n_pairs FROM sw"
      }.mkString("\n|UNION ALL ")
      s"""WITH $jaccardCommonCte,
        |jp AS (SELECT CAST(c AS DOUBLE) / (na + nb - c) AS j FROM common),
        |sw AS (SELECT $sums
        |       FROM jp)
        |$rows
        |ORDER BY threshold""".stripMargin
    },
    // q302: q33's reduction joined on the shingle itself (injective
    // with phash on this corpus — a collision would hash-mismatch)
    "q302_pair_evidence" ->
      s"""WITH t AS ($toksSql),
        |s AS (SELECT doc_id, $shinglesSql AS sh FROM t),
        |inv AS (SELECT doc_id, CAST(LEN(sh) AS BIGINT) AS n,
        |          UNNEST(sh) AS sh FROM s),
        |common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |             a.n AS na, b.n AS nb,
        |             CAST(COUNT(*) AS BIGINT) AS c, MIN(a.sh) AS ev
        |           FROM inv a JOIN inv b
        |             ON a.sh = b.sh AND a.doc_id < b.doc_id
        |           GROUP BY 1, 2, 3, 4)
        |SELECT doc_a, doc_b, c AS n_shared,
        |  CAST(c AS DOUBLE) / (na + nb - c) AS jaccard,
        |  ev AS evidence_shingle
        |FROM common
        |WHERE CAST(c AS DOUBLE) / (na + nb - c) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
    // q285: q31's signature/band CTEs with a delta/corpus split, then
    // the exact q33 shingle-set Jaccard on candidates only
    "q285_incremental_dedup" -> deltaVerdictOracle,
    // q331: the persisted-index probe must emit q285's verdicts
    // byte-identically — same oracle string, the never-fork pattern
    "q331_lsh_index_probe" -> deltaVerdictOracle,
    "q30_exact_dedup" ->
      """SELECT doc_id,
        | MIN(doc_id) OVER (PARTITION BY content_key) AS dup_group,
        | COUNT(*) OVER (PARTITION BY content_key) AS group_size,
        | doc_id = MIN(doc_id) OVER (PARTITION BY content_key) AS is_canonical
        |FROM (SELECT doc_id,
        |        md5(LOWER(TRIM(REGEXP_REPLACE(text, '\s+', ' ', 'g')))) AS content_key
        |      FROM documents)
        |ORDER BY doc_id""".stripMargin,
    "q31_minhash_lsh" -> lshOracle,
    // q323: q31's band CTEs verbatim + two rollups
    "q323_lsh_bucket_stats" ->
      s"""WITH $lshBandsCte,
        |b AS (SELECT band, bkey, CAST(COUNT(*) AS BIGINT) AS sz
        |      FROM bands GROUP BY 1, 2)
        |SELECT band, sz AS bucket_size,
        |  COUNT(*) AS n_buckets,
        |  CAST(COUNT(*) * (sz * (sz - 1) // 2) AS BIGINT)
        |    AS n_candidate_pairs
        |FROM b
        |GROUP BY band, sz
        |ORDER BY band, sz""".stripMargin,
    "q32_simhash" ->
      s"""SELECT doc_id,
        | CAST(LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(0, 31), b ->
        |   CASE WHEN LIST_SUM(LIST_TRANSFORM(hs, h ->
        |          CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END)) > 0
        |        THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS simhash
        |FROM (SELECT doc_id, LIST_TRANSFORM(toks, x -> ${phashSql("x")}) AS hs
        |      FROM ($toksSql))
        |ORDER BY doc_id""".stripMargin,
    // q53 must produce the identical pair set to q33 — same oracle;
    // the Spark plans differ (full vs prefix-filtered inverted index).
    "q53_ppjoin_jaccard" -> jaccardOracle,
    "q33_ngram_jaccard" -> jaccardOracle,
    "q92_triangle_counts" -> triangleOracle,
    "q257_weighted_sssp" -> ssspOracle,
    "q178_kcore" -> kCoreOracle,
    "q194_vocab_growth" ->
      s"""WITH t AS ($toksSql),
        |s AS (SELECT doc_id, $shinglesSql AS sh FROM t),
        |e AS (SELECT doc_id,
        |        UNNEST(LIST_TRANSFORM(sh, x -> ${phashSql("x")})) AS h
        |      FROM s),
        |f AS (SELECT h, MIN(doc_id) AS first_doc FROM e GROUP BY 1),
        |mx AS (SELECT MAX(doc_id) AS mx FROM documents),
        |b AS (SELECT (first_doc * 10) // (mx.mx + 1) AS bucket FROM f, mx),
        |g AS (SELECT bucket, COUNT(*) AS n_new FROM b GROUP BY 1)
        |SELECT bucket, n_new,
        |  CAST(SUM(n_new) OVER (ORDER BY bucket
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS cum_vocab
        |FROM g ORDER BY bucket""".stripMargin,
    "q186_novelty_score" ->
      s"""WITH t AS ($toksSql),
        |s AS (SELECT doc_id, $shinglesSql AS sh FROM t),
        |e AS (SELECT doc_id,
        |        UNNEST(LIST_TRANSFORM(sh, x -> ${phashSql("x")})) AS h
        |      FROM s),
        |f AS (SELECT h, MIN(doc_id) AS first_doc FROM e GROUP BY 1)
        |SELECT e.doc_id, COUNT(*) AS n_shingles,
        |  CAST(SUM(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_novel,
        |  CAST(CAST(SUM(CASE WHEN f.first_doc = e.doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS DOUBLE) / COUNT(*) AS novelty
        |FROM e JOIN f USING (h)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q183_record_linkage" ->
      """WITH t AS (SELECT doc_id, lang, source, n_chars // 64 AS blk,
        |    LEN(STRING_SPLIT_REGEX(TRIM(text), ' +')) AS ntok,
        |    ARRAY_TO_STRING(STRING_SPLIT_REGEX(TRIM(text), ' +')[1:2], ' ')
        |      AS prefix2
        |  FROM documents),
        |s AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |    a.source = b.source AS m_source,
        |    a.ntok = b.ntok AS m_ntok,
        |    a.prefix2 = b.prefix2 AS m_prefix,
        |    CAST(CASE WHEN a.source = b.source THEN 5 ELSE 0 END
        |      + CASE WHEN a.ntok = b.ntok THEN 10 ELSE 0 END
        |      + CASE WHEN a.prefix2 = b.prefix2 THEN 15 ELSE 0 END
        |      AS BIGINT) AS score
        |  FROM t a JOIN t b
        |    ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id)
        |SELECT doc_a, doc_b, m_source, m_ntok, m_prefix, score
        |FROM s WHERE score >= 15
        |ORDER BY doc_a, doc_b""".stripMargin,
    // q272: same L=40 content-anchored windows (anchor = 8-char-prefix
    // hash ≡ 0 mod 16), same portable hash; a window is duplicated
    // when its hash occurs in >= 2 distinct docs
    // q274: the oracle is the NAIVE all-pairs truth (a.doc_id < b.doc_id,
    // one text a full prefix of the other, both >= 32 chars) — the
    // engine's 32-prefix bucket join must be lossless against it
    "q274_prefix_containment" ->
      """WITH d AS (SELECT doc_id, text FROM documents
        |  WHERE LENGTH(text) >= 32)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  LENGTH(a.text) AS len_a, LENGTH(b.text) AS len_b
        |FROM d a JOIN d b ON a.doc_id < b.doc_id
        |WHERE starts_with(a.text, b.text) OR starts_with(b.text, a.text)
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q272_span_dedup" ->
      s"""WITH d AS (SELECT doc_id, text FROM documents
        |  WHERE LENGTH(text) >= 40),
        |e AS (SELECT doc_id,
        |    UNNEST(LIST_TRANSFORM(
        |      LIST_FILTER(GENERATE_SERIES(1, LENGTH(text) - 39),
        |        i -> (ASCII(SUBSTRING(text, CAST(i AS INTEGER), 1)) * 31
        |          + ASCII(SUBSTRING(text, CAST(i AS INTEGER) + 1, 1)))
        |          % 16 = 0),
        |      i -> ${phashSql("SUBSTRING(text, CAST(i AS INTEGER), 40)")})) AS h
        |  FROM d),
        |nw AS (SELECT doc_id, COUNT(*) AS n_windows FROM e GROUP BY 1),
        |dup AS (SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS nd
        |    FROM e GROUP BY 1) WHERE nd >= 2),
        |nd AS (SELECT doc_id, COUNT(*) AS n_dup_windows
        |  FROM e JOIN dup USING (h) GROUP BY 1)
        |SELECT nw.doc_id, nw.n_windows, nd.n_dup_windows,
        |  CAST(nd.n_dup_windows AS DOUBLE) / CAST(nw.n_windows AS DOUBLE)
        |    AS dup_frac
        |FROM nw JOIN nd USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // q277: same q67 cluster labels (shared recursive CTE); the
    // canonical charge makes the sums all-integer
    "q277_effective_yield" ->
      s"""WITH RECURSIVE $clusterLabCte,
        |tok AS (SELECT doc_id, source,
        |    LEN(STRING_SPLIT_REGEX(TRIM(text), ' +')) AS ntok
        |  FROM documents),
        |j AS (SELECT tok.source, tok.ntok,
        |    CASE WHEN lab.doc_id IS NULL OR lab.cluster_id = tok.doc_id
        |      THEN 1 ELSE 0 END AS can
        |  FROM tok LEFT JOIN lab ON lab.doc_id = tok.doc_id)
        |SELECT source, COUNT(*) AS n_docs,
        |  CAST(SUM(ntok) AS BIGINT) AS raw_tokens,
        |  CAST(SUM(CASE WHEN can = 1 THEN ntok ELSE 0 END) AS BIGINT)
        |    AS effective_tokens,
        |  CAST(CAST(SUM(CASE WHEN can = 1 THEN ntok ELSE 0 END) AS BIGINT)
        |      AS DOUBLE)
        |    / CAST(CAST(SUM(ntok) AS BIGINT) AS DOUBLE) AS yield
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    // q279: same anchors/hashes as q272, positionally unnested; the
    // interval merge is the standard gaps-and-islands window
    "q279_span_scrub_plan" ->
      s"""WITH d AS (SELECT doc_id, text, LENGTH(text) AS len
        |  FROM documents WHERE LENGTH(text) >= 40),
        |p AS (SELECT doc_id, len, text,
        |    LIST_FILTER(GENERATE_SERIES(1, LENGTH(text) - 39),
        |      i -> (ASCII(SUBSTRING(text, CAST(i AS INTEGER), 1)) * 31
        |        + ASCII(SUBSTRING(text, CAST(i AS INTEGER) + 1, 1)))
        |        % 16 = 0) AS ps
        |  FROM d),
        |e AS (SELECT doc_id, len, UNNEST(ps) AS pos,
        |    UNNEST(LIST_TRANSFORM(ps,
        |      i -> ${phashSql("SUBSTRING(text, CAST(i AS INTEGER), 40)")})) AS h
        |  FROM p),
        |dup AS (SELECT h FROM (SELECT h, COUNT(DISTINCT doc_id) AS nd
        |    FROM e GROUP BY 1) WHERE nd >= 2),
        |f AS (SELECT doc_id, len, pos FROM e JOIN dup USING (h)),
        |g AS (SELECT doc_id, len, pos,
        |    MAX(pos + 39) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
        |  FROM f),
        |i2 AS (SELECT doc_id, len, pos,
        |    SUM(CASE WHEN prev_end IS NULL OR pos > prev_end
        |      THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS UNBOUNDED PRECEDING) AS isl
        |  FROM g),
        |j AS (SELECT doc_id, len, isl, MIN(pos) AS s,
        |    MAX(pos) + 39 AS e2, COUNT(*) AS nw
        |  FROM i2 GROUP BY 1, 2, 3)
        |SELECT doc_id,
        |  CAST(SUM(nw) AS BIGINT) AS n_flagged,
        |  COUNT(*) AS n_islands,
        |  CAST(SUM(e2 - s + 1) AS BIGINT) AS removed_chars,
        |  CAST(len - SUM(e2 - s + 1) AS BIGINT) AS kept_chars
        |FROM j GROUP BY doc_id, len ORDER BY doc_id""".stripMargin,
    // q275: per-source element-wise-min signature (the merge of its
    // docs' signatures) + exact source-level shingle Jaccard audit
    "q275_source_overlap" ->
      s"""WITH t AS (SELECT doc_id, source,
        |    STRING_SPLIT_REGEX(TRIM(text), ' +') AS toks FROM documents),
        |s AS (SELECT doc_id, source, $shinglesSql AS sh FROM t),
        |h AS (SELECT doc_id, source,
        |    LIST_TRANSFORM(sh, x -> ${phashModSql("x")}) AS hs FROM s),
        |sig AS (SELECT doc_id, source, LIST_TRANSFORM($permsSql,
        |    p -> LIST_MIN(LIST_TRANSFORM(hs, v -> (p.a * v + p.b) % ${P})))
        |    AS sig FROM h),
        |m AS (SELECT source,
        |    ${(1 to K).map(i => s"MIN(sig.sig[$i]) AS s$i").mkString(", ")}
        |  FROM sig GROUP BY 1),
        |eh AS (SELECT DISTINCT source,
        |    UNNEST(LIST_TRANSFORM(sh, x -> ${phashSql("x")})) AS hx FROM s),
        |cn AS (SELECT source, COUNT(*) AS n FROM eh GROUP BY 1),
        |it AS (SELECT x.source AS source_a, y.source AS source_b,
        |    COUNT(*) AS n_inter
        |  FROM eh x JOIN eh y ON x.hx = y.hx AND x.source < y.source
        |  GROUP BY 1, 2)
        |SELECT a.source AS source_a, b.source AS source_b,
        |  CAST(COALESCE(it.n_inter, 0) AS BIGINT) AS n_inter,
        |  CAST(COALESCE(it.n_inter, 0) AS DOUBLE)
        |    / CAST(ca.n + cb.n - COALESCE(it.n_inter, 0) AS DOUBLE)
        |    AS exact_jaccard,
        |  CAST(${(1 to K).map(i =>
             s"CASE WHEN a.s$i = b.s$i THEN 1 ELSE 0 END").mkString(" + ")}
        |    AS DOUBLE) / ${K}.0 AS est_jaccard
        |FROM m a JOIN m b ON a.source < b.source
        |LEFT JOIN it ON it.source_a = a.source AND it.source_b = b.source
        |JOIN cn ca ON ca.source = a.source
        |JOIN cn cb ON cb.source = b.source
        |ORDER BY source_a, source_b""".stripMargin,
    // q365: the KMV sketch is a deterministic function of the hashed
    // input sets, so the oracle REBUILDS it (sorted bottom-64 of each
    // source's distinct 56-bit shingle hashes) and evaluates the same
    // estimator arithmetic in the same operation order.
    "q365_kmv_source_cardinality" ->
      s"""WITH t AS (SELECT doc_id, source,
        |    STRING_SPLIT_REGEX(TRIM(text), ' +') AS toks FROM documents),
        |s AS (SELECT doc_id, source, $shinglesSql AS sh FROM t),
        |eh AS (SELECT DISTINCT source,
        |    UNNEST(LIST_TRANSFORM(sh, x -> ${phashSql("x")})) AS hx FROM s),
        |sk AS (SELECT source, LIST_SORT(LIST(hx))[1:64] AS ks,
        |         COUNT(*) AS n FROM eh GROUP BY 1),
        |it AS (SELECT x.source AS source_a, y.source AS source_b,
        |    COUNT(*) AS n_inter
        |  FROM eh x JOIN eh y ON x.hx = y.hx AND x.source < y.source
        |  GROUP BY 1, 2),
        |p AS (SELECT a.source AS source_a, b.source AS source_b,
        |        a.ks AS ka, b.ks AS kb, a.n AS na, b.n AS nb,
        |        LIST_SORT(LIST_DISTINCT(a.ks || b.ks))[1:64] AS us
        |      FROM sk a JOIN sk b ON a.source < b.source),
        |r AS (SELECT *,
        |        CASE WHEN LEN(us) < 64 THEN CAST(LEN(us) AS DOUBLE)
        |             ELSE 4539628424389459968.0
        |                  / CAST(us[LEN(us)] AS DOUBLE) END AS est_union,
        |        LEN(LIST_FILTER(us, v -> LIST_CONTAINS(ka, v)
        |              AND LIST_CONTAINS(kb, v))) AS rho
        |      FROM p)
        |SELECT r.source_a, r.source_b,
        |  CAST(na + nb - COALESCE(it.n_inter, 0) AS BIGINT) AS n_union,
        |  est_union,
        |  CAST(COALESCE(it.n_inter, 0) AS BIGINT) AS n_inter,
        |  CAST(rho AS DOUBLE) * est_union / CAST(LEN(us) AS DOUBLE)
        |    AS est_inter
        |FROM r LEFT JOIN it
        |  ON it.source_a = r.source_a AND it.source_b = r.source_b
        |ORDER BY r.source_a, r.source_b""".stripMargin,
    "q124_two_hop_neighbors" -> twoHopOracle,
    "q201_pagerank" -> pageRankOracle,
    "q203_label_communities" -> labelCommunitiesOracle,
    "q211_dedup_agreement" -> dedupAgreementOracle,
    "q216_hits_scores" -> hitsOracle,
    "q237_containment_pairs" ->
      s"""WITH $jaccardCommonCte,
        |dir AS (SELECT doc_a AS contained, doc_b AS container,
        |          CAST(c AS DOUBLE) / na AS containment FROM common
        |        UNION ALL
        |        SELECT doc_b, doc_a, CAST(c AS DOUBLE) / nb FROM common)
        |SELECT contained, container, containment
        |FROM dir WHERE containment >= 0.9
        |ORDER BY contained, container""".stripMargin,
    "q238_transitivity" ->
      s"""WITH $jaccardCommonCte,
        |pairs AS MATERIALIZED (SELECT doc_a, doc_b FROM common
        |          WHERE CAST(c AS DOUBLE) / (na + nb - c) >= 0.5),
        |sym AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |        UNION ALL SELECT doc_b, doc_a FROM pairs),
        |tr AS (SELECT COUNT(*) AS t FROM pairs p1
        |       JOIN pairs p2 ON p2.doc_a = p1.doc_a
        |         AND p2.doc_b > p1.doc_b
        |       JOIN pairs p3 ON p3.doc_a = p1.doc_b
        |         AND p3.doc_b = p2.doc_b),
        |deg AS (SELECT src, COUNT(*) AS d FROM sym GROUP BY 1),
        |tp AS (SELECT CAST(SUM((d * (d - 1)) // 2) AS BIGINT)
        |         AS n_two_paths FROM deg)
        |SELECT CAST(t AS BIGINT) AS n_triangles, n_two_paths,
        |  CAST(3 * t AS DOUBLE) / CAST(n_two_paths AS DOUBLE)
        |    AS transitivity
        |FROM tr, tp""".stripMargin,
    "q236_degree_assortativity" ->
      s"""WITH $jaccardCommonCte,
        |pairs AS (SELECT doc_a, doc_b FROM common
        |          WHERE CAST(c AS DOUBLE) / (na + nb - c) >= 0.5),
        |sym AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |        UNION ALL SELECT doc_b, doc_a FROM pairs),
        |deg AS (SELECT src AS node, COUNT(*) AS d FROM sym GROUP BY 1),
        |xy AS (SELECT dx.d AS x, dy.d AS y
        |       FROM sym e JOIN deg dx ON dx.node = e.src
        |       JOIN deg dy ON dy.node = e.dst),
        |g AS (SELECT COUNT(*) AS n,
        |    SUM(CAST(x AS HUGEINT)) AS sx,
        |    SUM(CAST(x AS HUGEINT) * x) AS sxx,
        |    SUM(CAST(y AS HUGEINT)) AS sy,
        |    SUM(CAST(y AS HUGEINT) * y) AS syy,
        |    SUM(CAST(x AS HUGEINT) * y) AS sxy
        |  FROM xy)
        |SELECT n AS n_edges,
        |  (CAST(n AS DOUBLE) * CAST(CAST(sxy AS VARCHAR) AS DOUBLE)
        |     - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
        |       * CAST(CAST(sy AS VARCHAR) AS DOUBLE))
        |   / SQRT((CAST(n AS DOUBLE) * CAST(CAST(sxx AS VARCHAR) AS DOUBLE)
        |       - CAST(CAST(sx AS VARCHAR) AS DOUBLE)
        |         * CAST(CAST(sx AS VARCHAR) AS DOUBLE))
        |     * (CAST(n AS DOUBLE) * CAST(CAST(syy AS VARCHAR) AS DOUBLE)
        |       - CAST(CAST(sy AS VARCHAR) AS DOUBLE)
        |         * CAST(CAST(sy AS VARCHAR) AS DOUBLE))) AS assortativity
        |FROM g""".stripMargin,
    "q222_cross_source_dups" ->
      s"""WITH $jaccardCommonCte,
        |pairs AS (SELECT doc_a, doc_b FROM common
        |          WHERE CAST(c AS DOUBLE) / (na + nb - c) >= 0.5)
        |SELECT LEAST(da.source, db.source) AS source_x,
        |  GREATEST(da.source, db.source) AS source_y,
        |  COUNT(*) AS n_pairs
        |FROM pairs p
        |JOIN documents da ON da.doc_id = p.doc_a
        |JOIN documents db ON db.doc_id = p.doc_b
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    "q144_bfs_seed_distance" -> bfsOracle,
    // the SAME oracle string as q144: superstep and recursive forms
    // must agree exactly
    "q196_bfs_recursive_cte" -> bfsOracle,
    "q170_clustering_coefficient" -> clusteringOracle,
    "q137_cluster_sizes" -> clusterSizesOracle,
    "q130_quality_dedup" ->
      """WITH k AS (SELECT doc_id,
        |    md5(LOWER(TRIM(REGEXP_REPLACE(text, '\s+', ' ', 'g')))) AS ck,
        |    CAST(LEN(STRING_SPLIT_REGEX(TRIM(text), ' +')) AS BIGINT)
        |      AS n_tokens
        |  FROM documents),
        |g AS (SELECT *,
        |    MIN(doc_id) OVER (PARTITION BY ck) AS dup_group,
        |    COUNT(*) OVER (PARTITION BY ck) AS group_size,
        |    ROW_NUMBER() OVER (PARTITION BY ck
        |      ORDER BY n_tokens DESC, doc_id) AS rn
        |  FROM k)
        |SELECT dup_group, doc_id AS canonical_doc_id, n_tokens, group_size
        |FROM g WHERE rn = 1
        |ORDER BY dup_group""".stripMargin,
    "q67_dedup_clusters" -> clustersOracle,
    // q335: the q31 chain re-run over the canary-augmented corpus
    "q335_planted_canaries" -> canariesOracle,
    // q347: same fixpoint; each policy is one window-argmax
    "q347_retention_whatif" ->
      s"""WITH RECURSIVE $clusterLabCte,
        |nt AS (SELECT doc_id,
        |    CAST(LEN(STRING_SPLIT_REGEX(TRIM(text), ' +')) AS BIGINT)
        |      AS ntok
        |  FROM documents),
        |b AS (SELECT CAST(COUNT(*) AS BIGINT) AS n0,
        |        CAST(SUM(ntok) AS BIGINT) AS t0
        |      FROM nt WHERE doc_id NOT IN (SELECT doc_id FROM lab)),
        |m AS (SELECT lab.doc_id, lab.cluster_id, nt.ntok
        |      FROM lab JOIN nt USING (doc_id)),
        |p1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS nc,
        |         CAST(SUM(ntok) AS BIGINT) AS tc
        |       FROM m WHERE doc_id = cluster_id),
        |deg AS (SELECT src AS doc_id, COUNT(*) AS degree
        |        FROM edges GROUP BY 1),
        |h AS (SELECT m.cluster_id, m.ntok,
        |        ROW_NUMBER() OVER (PARTITION BY m.cluster_id
        |          ORDER BY deg.degree DESC, m.doc_id) AS rn
        |      FROM m JOIN deg USING (doc_id)),
        |p2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS nc,
        |         CAST(SUM(ntok) AS BIGINT) AS tc FROM h WHERE rn = 1),
        |q AS (SELECT cluster_id, ntok,
        |        ROW_NUMBER() OVER (PARTITION BY cluster_id
        |          ORDER BY ntok DESC, doc_id) AS rn FROM m),
        |p3 AS (SELECT CAST(COUNT(*) AS BIGINT) AS nc,
        |         CAST(SUM(ntok) AS BIGINT) AS tc FROM q WHERE rn = 1)
        |SELECT '1_min_id' AS policy, b.n0 + p1.nc AS n_kept_docs,
        |  b.t0 + p1.tc AS kept_tokens FROM b, p1
        |UNION ALL SELECT '2_hub', b.n0 + p2.nc, b.t0 + p2.tc FROM b, p2
        |UNION ALL SELECT '3_max_tokens', b.n0 + p3.nc, b.t0 + p3.tc
        |FROM b, p3
        |ORDER BY policy""".stripMargin,
    // q351: q33's pair CTEs + the tf-multiset rescoring
    "q351_weighted_jaccard" ->
      s"""WITH $jaccardCommonCte,
        |jp AS (SELECT doc_a, doc_b,
        |         CAST(c AS DOUBLE) / (na + nb - c) AS jaccard
        |       FROM common
        |       WHERE CAST(c AS DOUBLE) / (na + nb - c) >= 0.5),
        |tg AS (SELECT doc_id,
        |        UNNEST(LIST_TRANSFORM(
        |          LIST_TRANSFORM(GENERATE_SERIES(1, GREATEST(LEN(toks)-2, 1)),
        |            i -> CONCAT_WS(' ', toks[i], toks[i+1], toks[i+2])),
        |          x -> ${phashSql("x")})) AS h
        |      FROM t WHERE LEN(toks) >= 3),
        |tf AS (SELECT doc_id, h, CAST(COUNT(*) AS BIGINT) AS c
        |       FROM tg GROUP BY 1, 2),
        |tt AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS t
        |       FROM tf GROUP BY 1),
        |sm AS (SELECT jp.doc_a, jp.doc_b,
        |         CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS smin
        |       FROM jp JOIN tf a ON a.doc_id = jp.doc_a
        |       JOIN tf b ON b.doc_id = jp.doc_b AND b.h = a.h
        |       GROUP BY 1, 2)
        |SELECT jp.doc_a, jp.doc_b, jp.jaccard,
        |  CAST(COALESCE(sm.smin, 0) AS DOUBLE)
        |    / (ta.t + tb.t - COALESCE(sm.smin, 0)) AS weighted_jaccard
        |FROM jp
        |LEFT JOIN sm ON sm.doc_a = jp.doc_a AND sm.doc_b = jp.doc_b
        |JOIN tt ta ON ta.doc_id = jp.doc_a
        |JOIN tt tb ON tb.doc_id = jp.doc_b
        |ORDER BY jp.doc_a, jp.doc_b""".stripMargin,
    // q345: same pair set, two rollups
    "q345_degree_distribution" ->
      s"""WITH $jaccardCommonCte,
        |pairs AS (SELECT doc_a, doc_b FROM common
        |          WHERE CAST(c AS DOUBLE) / (na + nb - c) >= 0.5),
        |ep AS (SELECT doc_a AS doc_id FROM pairs
        |       UNION ALL SELECT doc_b FROM pairs),
        |deg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS degree
        |        FROM ep GROUP BY 1)
        |SELECT degree, COUNT(*) AS n_nodes
        |FROM deg
        |GROUP BY degree
        |ORDER BY degree""".stripMargin,
    // q327: same fixpoint + the symmetric edge degree; argmax via
    // the (degree DESC, doc_id) window mirror of the struct max
    "q327_cluster_hub" ->
      s"""WITH RECURSIVE $clusterLabCte,
        |deg AS (SELECT src AS doc_id, CAST(COUNT(*) AS BIGINT) AS degree
        |        FROM edges GROUP BY 1),
        |j AS (SELECT lab.doc_id, lab.cluster_id, deg.degree
        |      FROM lab JOIN deg ON lab.doc_id = deg.doc_id),
        |r AS (SELECT *,
        |        ROW_NUMBER() OVER (PARTITION BY cluster_id
        |          ORDER BY degree DESC, doc_id) AS rn,
        |        COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
        |      FROM j)
        |SELECT cluster_id, n_members, doc_id AS hub_doc,
        |  degree AS hub_degree, doc_id = cluster_id AS hub_is_min_id
        |FROM r WHERE rn = 1
        |ORDER BY cluster_id""".stripMargin,
    // q318: same cluster fixpoint; winner looked up by the label
    "q318_dedup_loser_matrix" ->
      s"""WITH RECURSIVE $clusterLabCte,
        |rem AS (SELECT doc_id, cluster_id FROM lab
        |        WHERE doc_id <> cluster_id)
        |SELECT dl.source AS loser_source, dw.source AS winner_source,
        |  COUNT(*) AS n_docs_removed,
        |  CAST(SUM(LEN(STRING_SPLIT_REGEX(TRIM(dl.text), ' +')))
        |    AS BIGINT) AS n_tokens_removed
        |FROM rem r
        |JOIN documents dl ON dl.doc_id = r.doc_id
        |JOIN documents dw ON dw.doc_id = r.cluster_id
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    // q314: same cluster fixpoint; NTILE(10) == ntileNoGlobalSort
    "q314_quality_dup_audit" ->
      s"""WITH RECURSIVE $clusterLabCte,
        |q AS (SELECT doc_id,
        |        CAST(LEN(LIST_DISTINCT(STRING_SPLIT_REGEX(TRIM(text), ' +')))
        |          AS BIGINT) AS quality
        |      FROM documents),
        |dd AS (SELECT doc_id,
        |         CAST(NTILE(10) OVER (ORDER BY quality DESC, doc_id)
        |           AS BIGINT) AS decile
        |       FROM q),
        |rem AS (SELECT doc_id FROM lab WHERE doc_id <> cluster_id)
        |SELECT decile, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_dup_members,
        |  CAST(SUM(CASE WHEN r.doc_id IS NOT NULL THEN 1 ELSE 0 END)
        |    AS DOUBLE) / COUNT(*) AS dup_rate
        |FROM dd LEFT JOIN rem r ON dd.doc_id = r.doc_id
        |GROUP BY decile
        |ORDER BY decile""".stripMargin,
    "q74_cluster_minhash" -> clusterMinhashOracle,
    // exact answer: the oracle is the naive all-pairs formulation; only
    // the Spark plan blocks by fingerprint bands (losslessly)
    "q79_simhash_neardup" ->
      s"""WITH t AS ($toksSql),
        |s AS (SELECT doc_id,
        |        CAST(LIST_SUM(LIST_TRANSFORM(GENERATE_SERIES(0, 31), b ->
        |          CASE WHEN LIST_SUM(LIST_TRANSFORM(
        |                 LIST_TRANSFORM(toks, x -> ${phashSql("x")}), h ->
        |                 CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END)) > 0
        |               THEN (CAST(1 AS BIGINT) << b) ELSE 0 END)) AS BIGINT) AS sh
        |      FROM t)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(BIT_COUNT(XOR(a.sh, b.sh)) AS BIGINT) AS hamming
        |FROM s a JOIN s b ON a.doc_id < b.doc_id
        |WHERE BIT_COUNT(XOR(a.sh, b.sh)) <= 3
        |ORDER BY doc_a, doc_b""".stripMargin)

  /** Shared CTE prefix producing `common(doc_a, doc_b, na, nb, c)` —
    * the exact-Jaccard pair computation both the pair oracles and the
    * cluster oracle build on. */
  private[graft] lazy val jaccardCommonCte: String =
      s"""t AS ($toksSql),
        |s AS (SELECT doc_id, $shinglesSql AS sh FROM t),
        |inv AS (SELECT doc_id, CAST(LEN(sh) AS BIGINT) AS n,
        |          UNNEST(LIST_TRANSFORM(sh, x -> ${phashSql("x")})) AS h
        |        FROM s),
        |common AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |             a.n AS na, b.n AS nb, COUNT(*) AS c
        |           FROM inv a JOIN inv b ON a.h = b.h AND a.doc_id < b.doc_id
        |           GROUP BY 1, 2, 3, 4)""".stripMargin

  private lazy val jaccardOracle: String =
      s"""WITH $jaccardCommonCte
        |SELECT doc_a, doc_b,
        |  CAST(c AS DOUBLE) / (na + nb - c) AS jaccard
        |FROM common
        |WHERE CAST(c AS DOUBLE) / (na + nb - c) >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin

  /** q124: friend-of-friend reach over the same threshold pair set. */
  private lazy val twoHopOracle: String =
      s"""WITH $jaccardCommonCte,
        |pairs AS (SELECT doc_a, doc_b FROM common
        |          WHERE CAST(c AS DOUBLE) / (na + nb - c) >= 0.5),
        |sym AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |        UNION ALL SELECT doc_b, doc_a FROM pairs),
        |h2 AS (SELECT x.src, y.dst FROM sym x JOIN sym y ON x.dst = y.src
        |       WHERE x.src <> y.dst),
        |reach AS (SELECT DISTINCT src, dst FROM
        |          (SELECT * FROM sym UNION ALL SELECT * FROM h2)),
        |one AS (SELECT src, COUNT(*) AS n_1hop FROM sym GROUP BY 1)
        |SELECT r.src AS doc_id, o.n_1hop, COUNT(*) AS n_2hop
        |FROM reach r JOIN one o ON o.src = r.src
        |GROUP BY 1, 2
        |ORDER BY 1""".stripMargin

  /** q201: the identical three fixed-point integer iterations, unrolled
    * into MATERIALIZED stages (p0→c1→p1→c2→p2→c3→p3). */
  private lazy val pageRankOracle: String = {
    val scale = 1000000000L
    val base = 15L * scale / 100
    def step(i: Int): String =
      s"""c$i AS MATERIALIZED (SELECT s.dst AS doc_id,
        |       CAST(SUM(p.pr // p.outdeg) AS BIGINT) AS sm
        |     FROM p${i - 1} p JOIN sym s ON s.src = p.doc_id GROUP BY 1),
        |p$i AS MATERIALIZED (SELECT d.doc_id, d.outdeg,
        |       $base + (85 * COALESCE(c.sm, 0)) // 100 AS pr
        |     FROM p${i - 1} d LEFT JOIN c$i c USING (doc_id))""".stripMargin
    s"""WITH $jaccardCommonCte,
      |pairs AS (SELECT doc_a, doc_b FROM common
      |          WHERE CAST(c AS DOUBLE) / (na + nb - c) >= 0.5),
      |sym AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
      |        UNION ALL SELECT doc_b, doc_a FROM pairs),
      |p0 AS MATERIALIZED (SELECT src AS doc_id, COUNT(*) AS outdeg,
      |        CAST($scale AS BIGINT) AS pr FROM sym GROUP BY 1),
      |${step(1)},
      |${step(2)},
      |${step(3)}
      |SELECT doc_id, CAST(pr AS BIGINT) AS pr_scaled
      |FROM p3 ORDER BY doc_id""".stripMargin
  }

  /** q211: LSH pair set (q31's oracle logic) full-outer-joined against
    * the exact-Jaccard truth (q33's); CTEs renamed to coexist. */
  private lazy val dedupAgreementOracle: String =
    s"""WITH lt AS ($toksSql),
      |ls AS (SELECT doc_id, $shinglesSql AS sh FROM lt),
      |lh AS (SELECT doc_id, LIST_TRANSFORM(sh, x -> ${phashModSql("x")}) AS hs FROM ls),
      |lsig AS (SELECT doc_id, LIST_TRANSFORM($permsSql,
      |          p -> LIST_MIN(LIST_TRANSFORM(hs, v -> (p.a * v + p.b) % ${P}))) AS sig
      |        FROM lh),
      |lbands AS (SELECT doc_id, sig, b.band,
      |            ARRAY_TO_STRING(sig[b.band*${R}+1 : b.band*${R}+${R}], ',') AS bkey
      |          FROM lsig, (SELECT UNNEST([0,1,2,3]) AS band) b),
      |lsh AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
      |        FROM lbands x JOIN lbands y
      |          ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id
      |        WHERE CAST(LEN(LIST_FILTER(GENERATE_SERIES(1, ${K}),
      |            i -> x.sig[i] = y.sig[i])) AS DOUBLE) / ${K}.0 >= 0.5),
      |einv AS (SELECT doc_id, CAST(LEN(sh) AS BIGINT) AS n,
      |          UNNEST(LIST_TRANSFORM(sh, x -> ${phashSql("x")})) AS h
      |        FROM ls),
      |ex AS (SELECT doc_a, doc_b FROM (
      |        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |          a.n AS na, b.n AS nb, COUNT(*) AS c
      |        FROM einv a JOIN einv b ON a.h = b.h AND a.doc_id < b.doc_id
      |        GROUP BY 1, 2, 3, 4)
      |      WHERE CAST(c AS DOUBLE) / (na + nb - c) >= 0.5),
      |f AS (SELECT COALESCE(l.il, 0) AS il, COALESCE(e.ie, 0) AS ie
      |      FROM (SELECT doc_a, doc_b, 1 AS il FROM lsh) l
      |      FULL OUTER JOIN (SELECT doc_a, doc_b, 1 AS ie FROM ex) e
      |        USING (doc_a, doc_b)),
      |agg AS (SELECT CAST(SUM(il * ie) AS BIGINT) AS n_both,
      |          CAST(SUM(il * (1 - ie)) AS BIGINT) AS n_lsh_only,
      |          CAST(SUM((1 - il) * ie) AS BIGINT) AS n_exact_only
      |        FROM f)
      |SELECT n_both, n_lsh_only, n_exact_only,
      |  CAST(n_both AS DOUBLE) / CAST(n_both + n_lsh_only AS DOUBLE)
      |    AS precision,
      |  CAST(n_both AS DOUBLE) / CAST(n_both + n_exact_only AS DOUBLE)
      |    AS recall
      |FROM agg""".stripMargin

  /** q216: the identical two integer HITS rounds (auth then hub, each
    * max-normalized), unrolled into MATERIALIZED stages. */
  private lazy val hitsOracle: String = {
    def round(i: Int): String =
      s"""ar$i AS MATERIALIZED (SELECT e.dst AS doc_id,
        |      CAST(SUM(h.h) AS BIGINT) AS ar
        |    FROM e JOIN hub${i - 1} h ON h.doc_id = e.src GROUP BY 1),
        |am$i AS MATERIALIZED (SELECT MAX(ar) AS ma FROM ar$i),
        |auth$i AS MATERIALIZED (SELECT n.doc_id,
        |      (COALESCE(a.ar, 0) * ${HITS_SCALE}) // m.ma AS a
        |    FROM nodes n LEFT JOIN ar$i a USING (doc_id), am$i m),
        |hr$i AS MATERIALIZED (SELECT e.src AS doc_id,
        |      CAST(SUM(a.a) AS BIGINT) AS hr
        |    FROM e JOIN auth$i a ON a.doc_id = e.dst GROUP BY 1),
        |hm$i AS MATERIALIZED (SELECT MAX(hr) AS mh FROM hr$i),
        |hub$i AS MATERIALIZED (SELECT n.doc_id,
        |      (COALESCE(h.hr, 0) * ${HITS_SCALE}) // m.mh AS h
        |    FROM nodes n LEFT JOIN hr$i h USING (doc_id), hm$i m)""".stripMargin
    s"""WITH $jaccardCommonCte,
      |pairs AS (SELECT doc_a, doc_b FROM common
      |          WHERE CAST(c AS DOUBLE) / (na + nb - c) >= 0.5),
      |e AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs),
      |nodes AS MATERIALIZED (SELECT DISTINCT doc_id FROM
      |        (SELECT src AS doc_id FROM e
      |         UNION ALL SELECT dst FROM e)),
      |hub0 AS MATERIALIZED (SELECT doc_id,
      |        CAST(${HITS_SCALE} AS BIGINT) AS h FROM nodes),
      |${round(1)},
      |${round(2)}
      |SELECT h.doc_id, h.h AS hub_scaled, a.a AS auth_scaled
      |FROM hub2 h JOIN auth2 a USING (doc_id)
      |ORDER BY h.doc_id""".stripMargin
  }

  /** q203: the identical two sync label-frequency rounds, unrolled;
    * the most-frequent-tie-min argmax spelled as ROW_NUMBER. */
  private lazy val labelCommunitiesOracle: String = {
    def round(i: Int): String =
      s"""n$i AS MATERIALIZED (SELECT e.dst AS doc_id, l.lbl, COUNT(*) AS c
        |     FROM sym e JOIN l${i - 1} l ON l.doc_id = e.src GROUP BY 1, 2),
        |l$i AS MATERIALIZED (SELECT doc_id, lbl FROM (
        |     SELECT doc_id, lbl, ROW_NUMBER() OVER (PARTITION BY doc_id
        |       ORDER BY c DESC, lbl) AS rn FROM n$i) WHERE rn = 1)""".stripMargin
    s"""WITH $jaccardCommonCte,
      |pairs AS (SELECT doc_a, doc_b FROM common
      |          WHERE CAST(c AS DOUBLE) / (na + nb - c) >= 0.5),
      |sym AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
      |        UNION ALL SELECT doc_b, doc_a FROM pairs),
      |l0 AS MATERIALIZED (SELECT DISTINCT src AS doc_id, src AS lbl
      |        FROM sym),
      |${round(1)},
      |${round(2)}
      |SELECT doc_id, lbl AS community FROM l2 ORDER BY doc_id""".stripMargin
  }

  /** q144: all-paths walk + MIN(d) over the same threshold pair set —
    * equals BFS first-visit distance. */
  private lazy val bfsOracle: String =
      s"""WITH RECURSIVE $jaccardCommonCte,
        |pairs AS (SELECT doc_a, doc_b FROM common
        |          WHERE CAST(c AS DOUBLE) / (na + nb - c) >= 0.5),
        |sym AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |        UNION ALL SELECT doc_b, doc_a FROM pairs),
        |seeds AS (SELECT DISTINCT src AS node FROM sym WHERE src % 10 = 0),
        |walk(node, d) AS (SELECT node, 0 FROM seeds
        |                  UNION ALL
        |                  SELECT s.dst, w.d + 1 FROM walk w
        |                  JOIN sym s ON s.src = w.node WHERE w.d < 4)
        |SELECT node AS doc_id, MIN(d) AS dist
        |FROM walk GROUP BY 1 ORDER BY 1""".stripMargin

  /** q170: q92's triangle triples + symmetrized degrees → per-node cc. */
  private lazy val clusteringOracle: String =
      s"""WITH $jaccardCommonCte,
        |pairs AS (SELECT doc_a, doc_b FROM common
        |          WHERE CAST(c AS DOUBLE) / (na + nb - c) >= 0.5),
        |sym AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |        UNION ALL SELECT doc_b, doc_a FROM pairs),
        |deg AS (SELECT src AS doc_id, CAST(COUNT(*) AS BIGINT) AS degree
        |        FROM sym GROUP BY 1),
        |tri AS (SELECT ab.doc_a AS a, ab.doc_b AS b, bc.doc_b AS c
        |        FROM pairs ab
        |        JOIN pairs bc ON ab.doc_b = bc.doc_a
        |        JOIN pairs ac ON ac.doc_a = ab.doc_a AND ac.doc_b = bc.doc_b),
        |tc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_triangles
        |       FROM (SELECT a AS doc_id FROM tri
        |             UNION ALL SELECT b FROM tri
        |             UNION ALL SELECT c FROM tri)
        |       GROUP BY 1)
        |SELECT d.doc_id, d.degree,
        |  COALESCE(tc.n_triangles, 0) AS n_triangles,
        |  CASE WHEN d.degree >= 2
        |    THEN CAST(COALESCE(tc.n_triangles, 0) AS DOUBLE) * 2.0
        |      / CAST(d.degree * (d.degree - 1) AS DOUBLE)
        |    ELSE 0.0 END AS cc
        |FROM deg d LEFT JOIN tc USING (doc_id)
        |ORDER BY d.doc_id""".stripMargin

  /** q137: size histogram over the same recursive component labels. */
  private lazy val clusterSizesOracle: String =
      s"""WITH RECURSIVE $clusterLabCte,
        |cs AS (SELECT cluster_id, COUNT(*) AS cluster_size
        |       FROM lab GROUP BY 1)
        |SELECT cluster_size, COUNT(*) AS n_clusters
        |FROM cs
        |GROUP BY 1
        |ORDER BY cluster_size""".stripMargin

  /** q178: the same 2-core peel as [[kCore]], unrolled to the shared
    * [[KCoreRounds]] budget of fixed CTE stages — each stage keeps
    * edges whose BOTH endpoints still have degree >= 2; stages past
    * the fixpoint pass everything through unchanged. */
  private lazy val kCoreOracle: String = {
    // AS MATERIALIZED: each stage references its predecessor several
    // times; inlining would expand the chain exponentially
    val stages = (1 to KCoreRounds).map { i =>
      s"""k$i AS MATERIALIZED (SELECT src FROM e${i - 1} GROUP BY src
         |        HAVING COUNT(*) >= 2),
         |e$i AS MATERIALIZED (SELECT src, dst FROM e${i - 1}
         |        WHERE src IN (SELECT src FROM k$i)
         |          AND dst IN (SELECT src FROM k$i))""".stripMargin
    }.mkString(",\n")
    s"""WITH $jaccardCommonCte,
       |pairs AS (SELECT doc_a, doc_b FROM common
       |          WHERE CAST(c AS DOUBLE) / (na + nb - c) >= 0.5),
       |e0 AS MATERIALIZED (SELECT doc_a AS src, doc_b AS dst FROM pairs
       |       UNION ALL SELECT doc_b, doc_a FROM pairs),
       |$stages
       |SELECT src AS doc_id, COUNT(*) AS core_deg
       |FROM e$KCoreRounds GROUP BY 1 ORDER BY 1""".stripMargin
  }

  /** q257: every ≤-4-edge walk from the seed set with its accumulated
    * integer weight, then MIN per node — equivalent to the 4
    * Bellman–Ford rounds because k rounds relax exactly the ≤-k-edge
    * walks and nonnegative weights make walks ≡ paths under MIN. */
  private lazy val ssspOracle: String =
      s"""WITH RECURSIVE $jaccardCommonCte,
        |pairs AS (SELECT doc_a, doc_b, na + nb - 2 * c AS w FROM common
        |          WHERE CAST(c AS DOUBLE) / (na + nb - c) >= 0.5),
        |sym AS (SELECT doc_a AS src, doc_b AS dst, w FROM pairs
        |        UNION ALL SELECT doc_b, doc_a, w FROM pairs),
        |seeds AS (SELECT DISTINCT src AS node FROM sym WHERE src % 10 = 0),
        |walk(node, d, tw) AS (
        |  SELECT node, 0, CAST(0 AS BIGINT) FROM seeds
        |  UNION
        |  SELECT s.dst, w.d + 1, w.tw + s.w FROM walk w
        |  JOIN sym s ON s.src = w.node WHERE w.d < 4)
        |SELECT node AS doc_id, MIN(tw) AS dist
        |FROM walk GROUP BY 1 ORDER BY 1""".stripMargin

  /** q92: oriented 3-way self-join over the same threshold pair set. */
  private lazy val triangleOracle: String =
      s"""WITH $jaccardCommonCte,
        |pairs AS (SELECT doc_a, doc_b FROM common
        |          WHERE CAST(c AS DOUBLE) / (na + nb - c) >= 0.5),
        |tri AS (SELECT ab.doc_a AS a, ab.doc_b AS b, bc.doc_b AS c
        |        FROM pairs ab
        |        JOIN pairs bc ON ab.doc_b = bc.doc_a
        |        JOIN pairs ac ON ac.doc_a = ab.doc_a AND ac.doc_b = bc.doc_b)
        |SELECT doc_id, COUNT(*) AS n_triangles
        |FROM (SELECT a AS doc_id FROM tri
        |      UNION ALL SELECT b FROM tri
        |      UNION ALL SELECT c FROM tri)
        |GROUP BY 1
        |ORDER BY 1""".stripMargin

  /** Shared CTE chain ending in `lab(doc_id, cluster_id)` — cluster
    * labels via recursive transitive closure + min over the reachable
    * set, SQL's declarative twin of the Spark-side label propagation /
    * star contraction (identical fixpoint by construction). */
  // private[graft]: q313's build-waterfall oracle composes the SAME
  // cluster labeling so pipeline metrics can never fork from q67
  private[graft] lazy val clusterLabCte: String =
      s"""$jaccardCommonCte,
        |pairs AS (SELECT doc_a, doc_b FROM common
        |          WHERE CAST(c AS DOUBLE) / (na + nb - c) >= 0.5),
        |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
        |          UNION SELECT doc_b, doc_a FROM pairs),
        |reach(src, dst) AS (SELECT src, dst FROM edges
        |  UNION SELECT r.src, e.dst FROM reach r
        |        JOIN edges e ON r.dst = e.src AND e.dst <> r.src),
        |lab AS (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
        |        FROM reach GROUP BY src)""".stripMargin

  /** q31's oracle, shared VERBATIM with the streaming twin q319 — the
    * batch and incremental forms must produce the identical pair set
    * (the q144/q196 same-string pattern). */
  /** The q285 delta-vs-corpus probe chain (t→s→hm/hx→sig→bands→cand→
    * ver→m) — shared verbatim by q285's oracle and q329's ingest
    * waterfall so the two can never fork. `m` holds every verified
    * J ≥ 0.5 (new_doc, match_doc) with per-new_doc rank and count. */
  private[graft] lazy val deltaProbeCte: String =
      s"""t AS ($toksSql),
        |s AS (SELECT doc_id, $shinglesSql AS sh FROM t),
        |hm AS (SELECT doc_id, LIST_TRANSFORM(sh, x -> ${phashModSql("x")}) AS hs FROM s),
        |hx AS (SELECT doc_id, CAST(LEN(sh) AS BIGINT) AS n,
        |         LIST_TRANSFORM(sh, x -> ${phashSql("x")}) AS hx FROM s),
        |sig AS (SELECT doc_id, LIST_TRANSFORM($permsSql,
        |          p -> LIST_MIN(LIST_TRANSFORM(hs, v -> (p.a * v + p.b) % ${P}))) AS sig
        |        FROM hm),
        |bands AS (SELECT doc_id, b.band,
        |            ARRAY_TO_STRING(sig[b.band*${R}+1 : b.band*${R}+${R}], ',') AS bkey
        |          FROM sig, (SELECT UNNEST([0,1,2,3]) AS band) b),
        |cand AS (SELECT DISTINCT d.doc_id AS new_doc, c.doc_id AS match_doc
        |         FROM bands d JOIN bands c
        |           ON d.band = c.band AND d.bkey = c.bkey
        |         WHERE d.doc_id % 10 = 0 AND c.doc_id % 10 <> 0),
        |ver AS (SELECT new_doc, match_doc,
        |          CAST(LEN(LIST_INTERSECT(a.hx, b.hx)) AS DOUBLE)
        |            / (a.n + b.n - LEN(LIST_INTERSECT(a.hx, b.hx))) AS jaccard
        |        FROM cand JOIN hx a ON a.doc_id = cand.new_doc
        |          JOIN hx b ON b.doc_id = cand.match_doc),
        |m AS (SELECT new_doc, match_doc, jaccard,
        |        ROW_NUMBER() OVER (PARTITION BY new_doc
        |          ORDER BY jaccard DESC, match_doc DESC) AS rn,
        |        COUNT(*) OVER (PARTITION BY new_doc) AS n_matches
        |      FROM ver WHERE jaccard >= 0.5)""".stripMargin

  /** q335's canary oracle — shared VERBATIM with the streaming twin
    * q338: batch and incremental canary checks must agree exactly. */
  private[graft] lazy val canariesOracle: String =
      s"""WITH aug AS (SELECT doc_id, text FROM documents
        |       UNION ALL
        |       SELECT doc_id + 1000000000, text || ' canaryx'
        |       FROM documents WHERE doc_id % 97 = 0),
        |t2 AS (SELECT doc_id, text,
        |         STRING_SPLIT_REGEX(TRIM(text), ' +') AS toks FROM aug),
        |s2 AS (SELECT doc_id, $shinglesSql AS sh FROM t2),
        |h2 AS (SELECT doc_id, LIST_TRANSFORM(sh, x -> ${phashModSql("x")}) AS hs FROM s2),
        |sig2 AS (SELECT doc_id, LIST_TRANSFORM($permsSql,
        |          p -> LIST_MIN(LIST_TRANSFORM(hs, v -> (p.a * v + p.b) % ${P}))) AS sig
        |        FROM h2),
        |bands2 AS (SELECT doc_id, sig, b.band,
        |            ARRAY_TO_STRING(sig[b.band*${R}+1 : b.band*${R}+${R}], ',') AS bkey
        |          FROM sig2, (SELECT UNNEST([0,1,2,3]) AS band) b),
        |pairs2 AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |            x.sig AS sa, y.sig AS sb
        |          FROM bands2 x JOIN bands2 y
        |            ON x.band = y.band AND x.bkey = y.bkey
        |             AND x.doc_id < y.doc_id),
        |est AS (SELECT doc_a, doc_b FROM pairs2
        |        WHERE CAST(LEN(LIST_FILTER(GENERATE_SERIES(1, ${K}),
        |            i -> sa[i] = sb[i])) AS DOUBLE) / ${K}.0 >= 0.5),
        |det AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_detected FROM est
        |        WHERE doc_a % 97 = 0 AND doc_b = doc_a + 1000000000),
        |pl AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_planted
        |       FROM documents WHERE doc_id % 97 = 0)
        |SELECT pl.n_planted, det.n_detected,
        |  CAST(det.n_detected AS DOUBLE) / pl.n_planted AS detection_rate
        |FROM pl, det""".stripMargin

  /** q285's full verdict oracle — shared VERBATIM with q331 (the
    * persisted-index probe must reproduce the inline probe exactly). */
  private[graft] lazy val deltaVerdictOracle: String =
      s"""WITH $deltaProbeCte
        |SELECT d.doc_id AS new_doc,
        |  COALESCE(m.n_matches, 0) AS n_matches,
        |  m.match_doc AS best_match, m.jaccard AS best_jaccard
        |FROM (SELECT doc_id FROM documents WHERE doc_id % 10 = 0) d
        |LEFT JOIN (SELECT * FROM m WHERE rn = 1) m ON m.new_doc = d.doc_id
        |ORDER BY new_doc""".stripMargin

  /** The t→s→h→sig→bands CTE chain of the MinHash band split — shared
    * by [[lshOracle]] and the q323 bucket-stats oracle. */
  private lazy val lshBandsCte: String =
      s"""t AS ($toksSql),
        |s AS (SELECT doc_id, $shinglesSql AS sh FROM t),
        |h AS (SELECT doc_id, LIST_TRANSFORM(sh, x -> ${phashModSql("x")}) AS hs FROM s),
        |sig AS (SELECT doc_id, LIST_TRANSFORM($permsSql,
        |          p -> LIST_MIN(LIST_TRANSFORM(hs, v -> (p.a * v + p.b) % ${P}))) AS sig
        |        FROM h),
        |bands AS (SELECT doc_id, sig, b.band,
        |            ARRAY_TO_STRING(sig[b.band*${R}+1 : b.band*${R}+${R}], ',') AS bkey
        |          FROM sig, (SELECT UNNEST([0,1,2,3]) AS band) b)""".stripMargin

  private[graft] lazy val lshOracle: String =
      s"""WITH $lshBandsCte,
        |pairs AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |            x.sig AS sa, y.sig AS sb
        |          FROM bands x JOIN bands y
        |            ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
        |SELECT doc_a, doc_b,
        |  CAST(LEN(LIST_FILTER(GENERATE_SERIES(1, ${K}), i -> sa[i] = sb[i])) AS DOUBLE) / ${K}.0 AS est_jaccard
        |FROM pairs
        |WHERE CAST(LEN(LIST_FILTER(GENERATE_SERIES(1, ${K}), i -> sa[i] = sb[i])) AS DOUBLE) / ${K}.0 >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin

  /** q371: q31's pair rule RESTRICTED to the watermark window — a pair
    * emits iff its docs' event-hours (doc_id mod 4) are at most 2
    * apart (watermark 90 min ⟹ an arrival in batch k pairs only with
    * residents from batches ≥ k − 2); gap-3 pairs, present in the
    * corpus (2 of 28 q31 pairs at sf0.001), MUST be suppressed by
    * eviction, so a NoTimeout detector fails this gate with q31's
    * full pair set. */
  private[graft] lazy val lshTtlOracle: String =
      s"""WITH $lshBandsCte,
        |pairs AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
        |            x.sig AS sa, y.sig AS sb
        |          FROM bands x JOIN bands y
        |            ON x.band = y.band AND x.bkey = y.bkey AND x.doc_id < y.doc_id)
        |SELECT doc_a, doc_b,
        |  CAST(LEN(LIST_FILTER(GENERATE_SERIES(1, ${K}), i -> sa[i] = sb[i])) AS DOUBLE) / ${K}.0 AS est_jaccard
        |FROM pairs
        |WHERE CAST(LEN(LIST_FILTER(GENERATE_SERIES(1, ${K}), i -> sa[i] = sb[i])) AS DOUBLE) / ${K}.0 >= 0.5
        |  AND ABS(CAST(doc_a % 4 AS INT) - CAST(doc_b % 4 AS INT)) <= 2
        |ORDER BY doc_a, doc_b""".stripMargin

  private lazy val clustersOracle: String =
      s"""WITH RECURSIVE $clusterLabCte
        |SELECT doc_id, cluster_id,
        |  COUNT(*) OVER (PARTITION BY cluster_id) AS n_members
        |FROM lab
        |ORDER BY doc_id""".stripMargin

  /** q74: the per-cluster element-wise-min signature — each MIN(sig[i])
    * mirrors one slot of the mergeable sketch aggregate. */
  private lazy val clusterMinhashOracle: String =
      s"""WITH RECURSIVE $clusterLabCte,
        |h AS (SELECT doc_id, LIST_TRANSFORM(sh, x -> ${phashModSql("x")}) AS hs FROM s),
        |sig AS (SELECT doc_id, LIST_TRANSFORM($permsSql,
        |          p -> LIST_MIN(LIST_TRANSFORM(hs, v -> (p.a * v + p.b) % ${P}))) AS sig
        |        FROM h)
        |SELECT lab.cluster_id, COUNT(*) AS n_members,
        |  ARRAY_TO_STRING([${(1 to K).map(i => s"CAST(MIN(sig.sig[$i]) AS VARCHAR)").mkString(", ")}], ',') AS cluster_sig
        |FROM lab JOIN sig ON lab.doc_id = sig.doc_id
        |GROUP BY lab.cluster_id
        |ORDER BY cluster_id""".stripMargin
}
