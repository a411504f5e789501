package graft.sim

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.Tables._

/** Similarity search over the embeddings table (north-star extension,
  * BASELINE.json): exact cosine near-duplicate pairs, brute-force
  * top-k nearest neighbors, and an IVF-bucketed approximate variant —
  * the three standard regimes of embedding search in training-data
  * pipelines.
  *
  * Determinism contract: cosines are doubles produced by a strict
  * left-to-right fold over the element products — Spark side via the
  * codegen'd [[graft.functions.VecDotFloat]] (`s += a[i]*b[i]` in
  * order), DuckDB side via `list_reduce` over the same product list.
  * Identical IEEE op sequence → bit-identical doubles, no decimal
  * detour needed (decimal rounding modes differ between engines:
  * Spark HALF_UP vs DuckDB, which broke an earlier draft).
  *
  * Scale design (100 TB):
  *  - the pair/candidate scoring loop is whole-stage-codegen'd native
  *    code, not an interpreted higher-order function — at billions of
  *    candidate pairs that is the difference that matters.
  *  - brute-force kNN broadcasts the tiny query side and ranks with a
  *    per-query window: one narrow scan of the corpus, no shuffle of
  *    the embedding column.
  *  - the exact all-pairs join is TILED (no nested-loop/cartesian
  *    operator): see [[embeddingNearDup]].
  *  - IVF: a FIXED-size centroid set (config constant, never derived
  *    from corpus size) keeps assignment O(n·k) and the broadcast side
  *    bounded: see [[annIvf]].
  */
object Similarity {

  /** Codegen'd sequential-fold dot product (see GraftExtensions). */
  private[graft] def dot(a: Column, b: Column): Column =
    call_function("vec_dot", a, b)

  /** Deterministic cosine from dot + squared norms (all double). */
  private[graft] def cosine(d: Column, n2a: Column, n2b: Column): Column =
    d / sqrt(n2a * n2b)

  /** Embeddings with precomputed squared norms. */
  private[graft] def vecs(spark: SparkSession, dir: String): DataFrame =
    spread(load(spark, dir, "embeddings"))
      .select(col("vec_id"), col("embedding"))
      .withColumn("n2", dot(col("embedding"), col("embedding")))

  /** Tile grid side for the exact all-pairs join: rows are hashed into
    * TILE_B id blocks and each unordered block pair (p <= q) is one
    * join key, so the quadratic work spreads over B(B+1)/2 ≈ 36 equal
    * tasks with per-task memory bounded by one tile (2·n/B rows). At
    * larger n, raise B ~ n/target_tile_rows — task COUNT grows, task
    * SIZE doesn't. */
  private val TileB = 8

  /** Near-duplicate pairs: cosine >= 0.4 over all id-ordered pairs —
    * EXACT, via a tiled self-join (the 1-Bucket-Theta shape, Okcan &
    * Riedewald, SIGMOD'11 "Processing Theta-Joins using MapReduce"):
    * each row goes to the tiles whose block-pair key it belongs to,
    * the tile key is a plain equi-join key, and the per-tile cross
    * product runs inside a shuffle join task with the codegen'd
    * `vec_dot` filter. No BroadcastNestedLoopJoin, no driver-adjacent
    * cartesian: replication is ×(B+1) per side, per-task memory is one
    * tile, and the B(B+1)/2 tasks scale out across executors.
    *
    * Why not LSH/IVF blocking here: measured on this corpus, 58 of the
    * 59 qualifying pairs lie in cosine [0.4, 0.5) with the minimum at
    * 0.4005 and a non-pair at 0.3999 — the threshold slices a
    * continuum, where metric blocking has no selectivity and any
    * probabilistic scheme drops borderline pairs. An exact low-τ
    * all-pairs answer is inherently Θ(n²) compute; the scalable form
    * is this evenly-tiled one. For high-τ near-dup semantics, the
    * pruned paths are q31/q53 (text) and q36 (embeddings). */
  def embeddingNearDup(spark: SparkSession, dir: String): DataFrame = {
    val v = vecs(spark, dir).withColumn("blk", pmod(col("vec_id"), lit(TileB)))
    // row with block p joins tiles (p, q >= p) on the left...
    val lhs = v.withColumn("tq", explode(sequence(col("blk"), lit(TileB - 1))))
      .select(col("blk").as("tp"), col("tq"), col("vec_id").as("ida"),
        col("embedding").as("ea"), col("n2").as("na"))
    // ...and tiles (p <= q, q) on the right; an unordered pair lands in
    // exactly one tile (its ordered block pair), diagonal tiles dedupe
    // by id order below.
    val rhs = v.withColumn("tp", explode(sequence(lit(0), col("blk"))))
      .select(col("tp"), col("blk").as("tq"), col("vec_id").as("idb"),
        col("embedding").as("eb"), col("n2").as("nb"))
    lhs.join(rhs, Seq("tp", "tq"))
      .filter(col("tp") =!= col("tq") || col("ida") < col("idb"))
      .withColumn("cosine", cosine(dot(col("ea"), col("eb")),
        col("na"), col("nb")))
      .filter(col("cosine") >= 0.4)
      .select(least(col("ida"), col("idb")).as("vec_a"),
        greatest(col("ida"), col("idb")).as("vec_b"), col("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** Brute-force exact top-10 cosine neighbors for query vectors
    * (vec_id < 5): the correctness baseline every ANN variant is
    * measured against. */
  def knnBruteForce(spark: SparkSession, dir: String): DataFrame = {
    val v = vecs(spark, dir)
    val q = queryVecs(v)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    broadcast(q).join(v, col("vec_id") =!= col("query_id"))
      .withColumn("cosine", cosine(dot(col("qe"), col("embedding")),
        col("qn"), col("n2")))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cosine"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 10)
      .orderBy(col("query_id"), col("rank"))
  }

  /** IVF parameters — CONFIG CONSTANTS, never functions of corpus
    * size: the centroid count is fixed (production sets k ≈ 4096 and
    * trains with a few Lloyd rounds; deterministic hash-order sampling
    * here keeps the oracle exact), so cluster assignment is O(n·k),
    * the broadcast centroid table is O(k) regardless of n, and probe
    * cost per query is ~nprobe/k of the corpus. */
  private val IvfK = 32
  private[graft] val IvfNProbe = 8

  /** Fixed-k coarse quantizer: the IvfK vectors FIRST in deterministic
    * hash order of vec_id. TakeOrderedAndProject: fixed-k sample by
    * portable hash order — the q68 bucket trick made size-exact, O(k)
    * result, no full sort. */
  private def hashCentroids(v: DataFrame, k: Int = IvfK): DataFrame =
    v.orderBy(phash(col("vec_id").cast(StringType)), col("vec_id"))
      .limit(k)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"),
        col("n2").as("cn"))

  /** Cluster assignment: argmax cosine over the k centroids — O(n·k),
    * broadcast side is k rows whatever the corpus size. */
  private def assignToCentroids(v: DataFrame, cent: DataFrame): DataFrame = {
    val wAssign = Window.partitionBy(col("vec_id"))
      .orderBy(col("csim").desc, col("cid").desc)
    v.join(broadcast(cent), lit(true))
      .withColumn("csim", cosine(dot(col("embedding"), col("ce")),
        col("n2"), col("cn")))
      .withColumn("arn", row_number().over(wAssign))
      .filter(col("arn") === 1)
      .select(col("vec_id"), col("embedding"), col("n2"), col("cid"))
  }

  /** Coarse probe shared by q36's IVF search and q138's IVF-PQ: each
    * query's IvfNProbe best buckets by centroid cosine (one rule —
    * the two must never fork). */
  private[graft] def probeBuckets(q: DataFrame, cent: DataFrame,
      nprobe: Int = IvfNProbe): DataFrame = {
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("psim").desc, col("cid").desc)
    q.join(broadcast(cent), lit(true))
      .withColumn("psim", cosine(dot(col("qe"), col("ce")),
        col("qn"), col("cn")))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nprobe)
      .select(col("query_id"), col("qe"), col("qn"), col("cid"))
  }

  /** Probe path over a (centroid table, bucket assignment) index: each
    * query ranks the centroids, searches its IvfNProbe best buckets
    * only, and keeps its top-10. */
  private def probeIvf(q: DataFrame, cent: DataFrame,
      assign: DataFrame, nprobe: Int = IvfNProbe): DataFrame = {
    val probes = probeBuckets(q, cent, nprobe)
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    broadcast(probes).join(assign, "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cosine", cosine(dot(col("qe"), col("embedding")),
        col("qn"), col("n2")))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cosine"))
      .withColumn("rank", row_number().over(wRank).cast(LongType))
      .filter(col("rank") <= 10)
      .orderBy(col("query_id"), col("rank"))
  }

  private def queryVecs(v: DataFrame): DataFrame =
    v.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("n2").as("qn"))

  /** q317 — SEMANTIC DECONTAMINATION: the embedding-space twin of
    * q70's verbatim n-gram decontamination — for every corpus vector,
    * its maximum cosine to the held-out benchmark slice (vec_id % 20
    * = 0, the q69/q70 bench rule carried to the vector store), which
    * bench item achieves it, and the contamination verdict at the
    * q34 near-dup threshold (0.4). Catches the leaks n-gram overlap
    * misses: paraphrased or translated eval items share no 5-gram
    * but sit next to their source in embedding space — the check
    * modern corpus builds run beside the lexical one.
    *
    * Scale shape: the bench side is a FIXED eval suite — small by
    * construction — so it broadcasts and the corpus NEVER shuffles
    * (q35's regime: one scan, per-row codegen'd `vec_dot` against
    * the broadcast array). The per-vector argmax is a partial-
    * aggregable max(struct(cosine, −bench_id)) — no window, ties to
    * the smallest bench id deterministically. If the bench side ever
    * outgrows broadcast, the q138 IVF probe slots in unchanged.
    * Output is O(corpus) verdict rows, the shape a quarantine join
    * consumes. */
  def semanticDecontam(spark: SparkSession, dir: String): DataFrame = {
    val v = vecs(spark, dir)
    val bench = v.filter(col("vec_id") % 20 === 0)
      .select(col("vec_id").as("bench_id"), col("embedding").as("be"),
        col("n2").as("bn"))
    v.filter(col("vec_id") % 20 =!= 0)
      .join(broadcast(bench), col("vec_id") =!= col("bench_id"))
      .withColumn("cosine",
        cosine(dot(col("embedding"), col("be")), col("n2"), col("bn")))
      .groupBy(col("vec_id"))
      .agg(
        max(struct(col("cosine").as("c"), (-col("bench_id")).as("nb")))
          .as("m"),
        sum(when(col("cosine") >= 0.4, 1L).otherwise(0L))
          .as("n_bench_hits"))
      .select(col("vec_id"), (-col("m.nb")).as("best_bench"),
        col("m.c").as("max_cosine"), col("n_bench_hits"),
        (col("m.c") >= 0.4).as("contaminated"))
      .orderBy(col("vec_id"))
  }

  /** IVF approximate top-10, index built inline: quantize, assign every
    * vector to its nearest centroid once, probe the best buckets. */
  def annIvf(spark: SparkSession, dir: String): DataFrame = {
    val v = vecs(spark, dir)
    val cent = hashCentroids(v)
    probeIvf(queryVecs(v), cent, assignToCentroids(v, cent))
  }

  /** IVF-bucket-BLOCKED embedding near-dup pairs — the approximate
    * scale path next to q34's exact tiled join: candidates are only
    * same-bucket pairs, so the quadratic work drops from n² to
    * Σ|bucket|² ≈ n²/k (and each bucket's pairs co-locate in one
    * equi-join task — no tiling machinery needed). The price is
    * recall: a pair straddling two buckets is never scored. q34 keeps
    * the exact contract; this is the form that runs first at 100 TB,
    * with the exact pass reserved for the flagged remainder. Every
    * emitted pair is exact-scored (precision 1 by construction —
    * spec-pinned as a subset of q34). */
  def semanticNearDupIvf(spark: SparkSession, dir: String): DataFrame = {
    val v = vecs(spark, dir)
    val asg = assignToCentroids(v, hashCentroids(v))
    asg.alias("a")
      .join(asg.alias("b"),
        col("a.cid") === col("b.cid") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cosine", cosine(dot(col("a.embedding"), col("b.embedding")),
        col("a.n2"), col("b.n2")))
      .filter(col("cosine") >= 0.4)
      .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
        col("cosine"))
      .orderBy(col("vec_a"), col("vec_b"))
  }

  /** q332 — SEMANTIC DEDUP THRESHOLD SWEEP (q307's tuning curve for
    * the embedding side): the pair count the q99 bucket-blocked
    * detector would emit at each candidate cosine threshold, in ONE
    * conditional-aggregation pass over the SAME scored pairs — the
    * curve read before committing the SemDeDup ε (too low merges
    * topically-related docs, too high keeps paraphrases; the elbow is
    * in this table). The τ = 0.4 row equals q99's pair count by
    * construction. O(thresholds) output; the scan cost is q99's
    * bucket-blocked join, never all-pairs. */
  def semanticThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    val ts = Seq(0.4, 0.5, 0.6, 0.7, 0.8, 0.9)
    val aggCols = ts.zipWithIndex.map { case (t, i) =>
      sum(when(col("cosine") >= t, lit(1L)).otherwise(lit(0L))).as(s"c$i")
    }
    val agg = semanticNearDupIvf(spark, dir)
      .agg(aggCols.head, aggCols.tail: _*)
    val stacked = ts.zipWithIndex.map { case (t, i) =>
      s"struct(CAST($t AS DOUBLE) AS threshold, CAST(c$i AS BIGINT) AS n_pairs)"
    }.mkString("array(", ", ", ")")
    agg.select(explode(expr(stacked)).as("s"))
      .select(col("s.threshold").as("threshold"),
        col("s.n_pairs").as("n_pairs"))
      .orderBy(col("threshold"))
  }

  /** Materialize the IVF index — build once, probe many: the centroid
    * table and the bucket assignment land as parquet under `indexDir`
    * (`centroids/`, `assign/`). At scale the assignment write is the
    * one O(n) pass; every subsequent query batch skips both the
    * quantizer and the assignment entirely, which is the economics
    * that make IVF an INDEX rather than a per-query plan.
    *
    * `trained = true` builds the quantizer with [[trainIvfCentroids]]
    * (spherical k-means from the same hash-sample init) instead of the
    * raw hash sample — the production default when recall matters:
    * Lloyd rounds are a one-time index-build cost and every probe
    * thereafter searches tighter lists. Recall(trained) ≥
    * recall(hash-sample) is pinned in OperatorSpec; q36's oracle keeps
    * the untrained quantizer so the exact-match gate stays
    * engine-portable (float-mean op order differs across engines). */
  def saveIvfIndex(spark: SparkSession, dir: String, indexDir: String,
      trained: Boolean = false, trainIters: Int = 3): Unit = {
    val v = vecs(spark, dir)
    val quantizer =
      if (trained)
        trainIvfCentroids(spark, dir, IvfK, trainIters)
          .select(col("cid"), col("centroid").as("ce"), col("norm2").as("cn"))
      else hashCentroids(v)
    saveIvfQuantizerAndAssign(spark, v, quantizer, indexDir)
  }

  /** [[saveIvfIndex]] over a caller-supplied vector frame with the
    * default hash-sample quantizer — the spelling q389's base-corpus
    * index build uses (centroids and assignment from the NON-delta
    * slice only: the production invariant that a delta stream probes
    * an index built before it arrived, same rule as q295's
    * maintenance). `k` is THE scale knob for every IVF consumer:
    * probe candidates grow as n_query · n_corpus / k, so a fixed k
    * turns the bucket join super-linear as the corpus grows — k must
    * scale with n (measured in SCALE.md §29) and the
    * quantizer retrains only here, at index build. One body with
    * [[saveIvfIndex]] — the two must never fork. */
  private[graft] def saveIvfIndexOn(spark: SparkSession, v: DataFrame,
      indexDir: String, k: Int = IvfK): Unit =
    saveIvfQuantizerAndAssign(spark, v, hashCentroids(v, k), indexDir)

  private def saveIvfQuantizerAndAssign(spark: SparkSession, v: DataFrame,
      quantizer: DataFrame, indexDir: String): Unit = {
    // assign from the WRITTEN centroids: skips a second quantizer-sample
    // corpus scan, and the saved assignment is provably derived from
    // the saved centroid table rather than a recomputation
    val cent = snapshot(spark, quantizer, s"$indexDir/centroids")
    assignToCentroids(v, cent)
      .write.mode("overwrite").parquet(s"$indexDir/assign")
  }

  /** STATELESS per-row coarse probe: the top-`nprobe` centroid ids for
    * one query vector, computed entirely inside Catalyst higher-order
    * functions over a collected O(k) centroid array — no window, no
    * groupBy, so the expression is legal in an append-mode STREAMING
    * plan (a `row_number` spelling like [[probeBuckets]]'s is not).
    * Rank rule is identical to [[probeBuckets]] (cosine DESC, cid
    * DESC) — the two must never fork; OperatorSpec pins the streaming
    * probe's bucket choice equal to the batch probe's on the same
    * index. O(k log k) per row with k = [[IvfK]]; the centroid array
    * broadcasts as ONE static row whatever the corpus size. */
  private[graft] def probeCidsExpr(centArr: Column, qe: Column,
      qn: Column, nprobe: Int = IvfNProbe): Column = {
    val scored = transform(centArr, c =>
      struct(
        cosine(dot(qe, c.getField("ce")), qn, c.getField("cn")).as("psim"),
        c.getField("cid").as("cid")))
    val ranked = array_sort(scored, (l, r) =>
      when(l.getField("psim") > r.getField("psim"), -1)
        .when(l.getField("psim") < r.getField("psim"), 1)
        .when(l.getField("cid") > r.getField("cid"), -1)
        .when(l.getField("cid") < r.getField("cid"), 1)
        .otherwise(0))
    transform(slice(ranked, 1, nprobe), c => c.getField("cid"))
  }

  /** Probe a previously-saved IVF index: byte-identical results to
    * [[annIvf]] (same centroid rule, same assignment, same probe path)
    * without rebuilding either — spec-pinned in OperatorSpec. */
  def annIvfFromIndex(spark: SparkSession, dir: String,
      indexDir: String): DataFrame = {
    val (cent, assign) = ivfIndex(spark, indexDir)
    probeIvf(queryVecs(vecs(spark, dir)), cent, assign)
  }

  /** [[saveIvfIndex]]'s `(centroids, assign)` — `(cid, ce, cn)` and
    * `(vec_id, embedding, n2, cid)` — read with the schemas it writes,
    * no schema-inference job. */
  private[graft] def ivfIndex(spark: SparkSession,
      indexDir: String): (DataFrame, DataFrame) = {
    val ce = StructField("ce", ArrayType(FloatType))
    (readWritten(spark, s"$indexDir/centroids", StructType(Seq(
        StructField("cid", LongType), ce, StructField("cn", DoubleType)))),
      readWritten(spark, s"$indexDir/assign", StructType(Seq(
        StructField("vec_id", LongType), ce.copy(name = "embedding"),
        StructField("n2", DoubleType), StructField("cid", LongType)))))
  }

  /** INT8 scalar quantization of the embedding column — the 4×
    * memory/bandwidth cut that keeps a 100 TB embedding store
    * searchable: per-vector symmetric scale (127 / max|x|), codes in
    * [-127, 127], and the exact reconstruction-error bound alongside
    * so downstream search can reason about the quality loss. All
    * arithmetic is element-wise double IEEE ops inside native
    * higher-order functions (transform/zip_with/array_max evaluate as
    * Catalyst expressions — no UDF boundary, no shuffle; a narrow
    * one-pass projection), and `floor(x + 0.5)` replaces `round`
    * (round-half modes differ across engines; floor/add are
    * bit-identical everywhere).
    *
    * The emitted `codes` string is the canonical comma-joined form so
    * the oracle compare stays scalar (same convention as q74's
    * signature). */
  def quantizeInt8(spark: SparkSession, dir: String): DataFrame = {
    // all-zero guard: 1e-30 floor keeps the division finite
    val maxAbs =
      greatest(array_max(transform(col("e"), x => abs(x))), lit(1e-30))
    spread(load(spark, dir, "embeddings"))
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("e"))
      .withColumn("scale", lit(127.0) / maxAbs)
      .withColumn("codes",
        transform(col("e"), x => floor(x * col("scale") + lit(0.5)).cast(LongType)))
      .withColumn("max_err",
        array_max(zip_with(col("e"), col("codes"),
          (x, c) => abs(x - c.cast(DoubleType) / col("scale")))))
      .select(col("vec_id"), col("scale"),
        concat_ws(",", col("codes").cast(ArrayType(StringType))).as("codes"),
        col("max_err"))
      .orderBy(col("vec_id"))
  }

  /** PQ geometry — config constants like [[IvfK]]: 64-dim embeddings
    * split into M=8 subspaces of 8 dims, K=16 codewords per subspace
    * (production uses K=256 = one byte per code; 16 keeps the fixture
    * codebook deterministic and small). Codes per vector: M small ints
    * ≈ 8 bytes instead of 256 — a 32× compression, the form a 100 TB
    * store keeps RESIDENT while raw vectors stay on disk. */
  private val PqM = 8
  private val PqDsub = 8
  private val PqK = 16

  /** Embeddings as exact-double arrays — the element type every PQ
    * distance below folds over (shared by q105's encode and q106's
    * ADC search so the two can never disagree on the input view). */
  private def pqVecs(spark: SparkSession, dir: String): DataFrame =
    spread(load(spark, dir, "embeddings"))
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast(DoubleType)).as("e"))

  /** Deterministic PQ codebook: the PqK vectors first in portable hash
    * order (same fixed-k sample rule as [[hashCentroids]]). */
  private def pqCodebook(v: DataFrame): DataFrame =
    v.orderBy(phash(col("vec_id").cast(StringType)), col("vec_id"))
      .limit(PqK)
      .select(col("vec_id").as("code_id"), col("e").as("cw"))

  /** Subspace-m squared L2 between vector expressions `a` and `b`:
    * a strict in-order fold of (x-c)*(x-c) over the PqDsub dims (no
    * pow — pow(x,2) is not correctly-rounded-guaranteed across
    * engines; multiply is). */
  private def pqSubDist(a: Column, b: Column, m: Column): Column =
    aggregate(sequence(lit(1), lit(PqDsub)), lit(0.0),
      (acc, i) => {
        val d = try_element_at(a, (m * PqDsub + i).cast(IntegerType)) -
          try_element_at(b, (m * PqDsub + i).cast(IntegerType))
        acc + d * d
      })

  /** Per-(vector, subspace) nearest-codeword assignment — (vec_id, m,
    * code_id, dist) with deterministic (dist, code_id) tie-break. ONE
    * definition serves q105's encode and q106's search (they must
    * never fork): an O(n·M·K) pass against the broadcast codebook. */
  private def pqAssign(v: DataFrame, cw: DataFrame): DataFrame = {
    val wMin = Window.partitionBy(col("vec_id"), col("m"))
      .orderBy(col("dist"), col("code_id"))
    v.select(col("vec_id"), col("e"),
        explode(sequence(lit(0), lit(PqM - 1))).as("m"))
      .join(broadcast(cw), lit(true))
      .withColumn("dist", pqSubDist(col("e"), col("cw"), col("m")))
      .withColumn("rn", row_number().over(wMin))
      .filter(col("rn") === 1)
  }

  /** Product-quantization encoding of the embedding store: per
    * subspace, each vector takes the id of its nearest codeword
    * (L2, deterministic tie-break), emitting the M-code word plus the
    * exact reconstruction error so downstream ADC search ([[pqAdcSearch]])
    * can reason about quality. The codebook is the deterministic
    * hash-order sample (same rule as [[hashCentroids]]); production
    * trains it with k-means per subspace — training changes the
    * codebook, not this encode shape.
    *
    * Scale: one O(n·M·K) pass against a BROADCAST codebook (K·M
    * subvectors — corpus-size-independent), and the per-vector rollup
    * re-sorts by subspace before a left-to-right error sum so
    * partial-agg arrival order can't perturb the double. */
  def pqEncode(spark: SparkSession, dir: String): DataFrame = {
    val v = pqVecs(spark, dir)
    pqAssign(v, pqCodebook(v)).groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("m"), col("code_id"),
        col("dist")))).as("a"))
      .select(col("vec_id"),
        concat_ws(",",
          transform(col("a"), s => s.getField("code_id").cast(StringType)))
          .as("codes"),
        aggregate(col("a"), lit(0.0),
          (acc, s) => acc + s.getField("dist")).as("recon_err"))
      .orderBy(col("vec_id"))
  }

  /** q324 — PQ CODEBOOK UTILIZATION (quantizer health): per subspace,
    * how many of the K codewords are actually USED, the hottest/
    * coldest assignment counts, and the hot codeword's share — the
    * retrain tripwire for a product quantizer: a dead codeword wastes
    * a code point (the subspace is effectively K−1), a hot one means
    * many vectors share a reconstruction and ADC distances collapse
    * — both degrade recall silently until THIS table says why. Audits
    * the same assignment q105 encodes and q106/q138 search (verbatim
    * [[pqAssign]], so audit and index can never fork).
    *
    * Scale shape: the assignment pass is q105's O(n·M·K) against the
    * broadcast codebook; the audit adds one rollup to O(M·K) cells
    * (unused codewords kept by the left join against the codebook
    * grid) and one to O(M) rows. Counts exact; the share is ONE
    * double division. */
  def pqCodebookStats(spark: SparkSession, dir: String): DataFrame = {
    val v = pqVecs(spark, dir)
    val cb = pqCodebook(v)
    val counts = pqAssign(v, cb)
      .groupBy(col("m"), col("code_id")).agg(count(lit(1)).as("c"))
    val grid = cb.select(col("code_id"),
      explode(sequence(lit(0), lit(PqM - 1))).as("m"))
    grid.join(counts, Seq("m", "code_id"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
      .groupBy(col("m").cast(LongType).as("m"))
      .agg(sum(when(col("c") > 0L, 1L).otherwise(0L)).as("n_codes_used"),
        max(col("c")).as("max_assigned"),
        min(col("c")).as("min_assigned"),
        sum(col("c")).as("n_vectors"))
      .withColumn("max_share",
        col("max_assigned").cast(DoubleType) / col("n_vectors"))
      .orderBy(col("m"))
  }

  /** PQ ASYMMETRIC-distance (ADC) top-10 search over the encoded
    * store — the query side of q105 (Jégou/Douze/Schmid, TPAMI'11
    * "Product Quantization for Nearest Neighbor Search"): each query
    * precomputes one M×K distance TABLE against the broadcast
    * codebook (O(M·K·Dsub) — corpus-size-independent), and every
    * corpus vector is then scored by M table LOOKUPS over its stored
    * codes, never touching raw floats. That is the economics of PQ at
    * 100 TB: the 8-byte code word is the only per-row data the scan
    * reads (32× less I/O), and scoring is O(M) adds per row instead
    * of O(D) multiplies.
    *
    * Plan shape: the corpus side is the grouped code table (same
    * [[pqAssign]] as the q105 encode — one definition, never forks);
    * the query side collapses to ONE broadcast row per query carrying
    * the dense M×K matrix; scoring is a broadcast nested-product over
    * 5 query rows (bounded: queries × corpus, same shape as q35's
    * brute force but over codes, not vectors). The ADC sum folds
    * subspaces in ascending-m order from 0.0 so the double is
    * order-independent of partial-agg arrival.
    *
    * Approximate by design (distances to reconstructions, not
    * originals) — but deterministic, so the oracle runs the identical
    * computation; recall vs q35's exact answer is pinned in
    * OperatorSpec. */
  /** Dense 1..K codeword index in deterministic hash order, aligning
    * ADC matrix columns with stored code arrays (K-row window). */
  private def pqCodebookIndexed(cw: DataFrame): DataFrame = {
    val wCw = Window.orderBy(phash(col("code_id").cast(StringType)),
      col("code_id"))
    cw.withColumn("cidx", row_number().over(wCw))
  }

  /** Corpus codes as one dense array per vector, ordered by subspace —
    * shared by q106's full-corpus ADC and q138's IVF-restricted ADC. */
  private def pqCodesDense(vd: DataFrame, cwIdx: DataFrame): DataFrame =
    pqAssign(vd, cwIdx.select(col("code_id"), col("cw")))
      .join(broadcast(cwIdx.select(col("code_id"), col("cidx"))), "code_id")
      .groupBy(col("vec_id"))
      .agg(array_sort(collect_list(struct(col("m"), col("cidx")))).as("a"))
      .select(col("vec_id"),
        transform(col("a"), s => s.getField("cidx")).as("codes"))

  /** Per-query ADC distance table: subspace-m distance to every
    * codeword, reshaped into a dense M×K matrix (one row per query). */
  private def pqQueryMatrix(vd: DataFrame, cwIdx: DataFrame): DataFrame =
    vd.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("e").as("qe"))
      .join(broadcast(cwIdx), lit(true))
      .withColumn("m", explode(sequence(lit(0), lit(PqM - 1))))
      .withColumn("d", pqSubDist(col("qe"), col("cw"), col("m")))
      .groupBy(col("query_id"), col("m"))
      .agg(array_sort(collect_list(struct(col("cidx"), col("d")))).as("row"))
      .groupBy(col("query_id"))
      .agg(array_sort(collect_list(struct(col("m"),
        transform(col("row"), s => s.getField("d")).as("ds")))).as("rows"))
      .select(col("query_id"),
        transform(col("rows"), s => s.getField("ds")).as("mat"))

  /** ADC score: M table lookups per (query, vector), folded in
    * ascending-m order — no vector arithmetic in the scan. Expects
    * `mat` (the query matrix) and `codes` (the vector's dense code
    * array) in scope. */
  private def adcScore: Column =
    aggregate(sequence(lit(0), lit(PqM - 1)), lit(0.0),
      (acc, m) => acc + element_at(
        element_at(col("mat"), (m + 1).cast(IntegerType)),
        element_at(col("codes"), (m + 1).cast(IntegerType))))

  /** Rank candidates per query by ADC ascending, keep the top 10. */
  private def adcTop10(cands: DataFrame): DataFrame = {
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("adc_dist"), col("neighbor_id"))
    cands.withColumn("adc_dist", adcScore)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("adc_dist"))
      .withColumn("rank", row_number().over(wRank).cast(LongType))
      .filter(col("rank") <= 10)
      .orderBy(col("query_id"), col("rank"))
  }

  def pqAdcSearch(spark: SparkSession, dir: String): DataFrame = {
    val vd = pqVecs(spark, dir)
    val cwIdx = pqCodebookIndexed(pqCodebook(vd))
    val codes = pqCodesDense(vd, cwIdx)
    val qmat = pqQueryMatrix(vd, cwIdx)
    adcTop10(broadcast(qmat)
      .join(codes, col("vec_id") =!= col("query_id")))
  }

  /** Composed IVF-PQ search — the production ANN architecture
    * (Jégou et al. TPAMI'11; the FAISS IVFPQ index): the IVF coarse
    * quantizer restricts each query to its IvfNProbe best buckets
    * (q36's probe), and candidates inside those buckets are scored by
    * PQ ASYMMETRIC distance over their stored codes (q106's table
    * lookups) — so the scan cost per query is (nprobe/k)·n rows × M
    * byte-code lookups, never a full-corpus float pass. Both stages
    * reuse the exact q36/q105/q106 machinery (one definition each;
    * the stages must never fork).
    *
    * Metric note: the coarse probe ranks buckets by cosine (the q36
    * quantizer), the fine stage by L2-to-reconstruction (the PQ
    * metric); production trains both on one metric — the composition
    * shape is what this pins, and it is deterministic end to end, so
    * the oracle runs the identical computation. */
  def ivfPqSearch(spark: SparkSession, dir: String): DataFrame = {
    val v = vecs(spark, dir)
    val cent = hashCentroids(v)
    val asg = assignToCentroids(v, cent)
      .select(col("vec_id"), col("cid"))
    // coarse stage: each query's nprobe best buckets — the SAME
    // probeBuckets rule q36 runs
    val probes = probeBuckets(queryVecs(v), cent)
      .select(col("query_id"), col("cid"))
    // fine stage: ADC codes + per-query distance matrices — the SAME
    // helpers q106 runs
    val vd = pqVecs(spark, dir)
    val cwIdx = pqCodebookIndexed(pqCodebook(vd))
    val codes = pqCodesDense(vd, cwIdx)
    val qmat = pqQueryMatrix(vd, cwIdx)
    // candidates = probed buckets' members only — the IVF restriction
    adcTop10(broadcast(probes.join(qmat, "query_id"))
      .join(asg, "cid")
      .filter(col("vec_id") =!= col("query_id"))
      .join(codes, "vec_id"))
  }

  /** Spherical k-means training for the IVF coarse quantizer — the
    * quality upgrade over [[annIvf]]'s hash-order sample when recall
    * matters: initialize with the same deterministic fixed-k hash
    * sample, then run `iters` Lloyd rounds (assign each vector to its
    * max-cosine centroid, recenter each cluster on its member mean —
    * the spherical k-means update, which monotonically improves the
    * average-cosine objective).
    *
    * Deterministic end to end: hash-order init, tie-broken argmax
    * assignment, and exact-decimal mean accumulation would be overkill
    * — the objective monotonicity (pinned in OperatorSpec) is the
    * contract, not bit-equality, which is why this is a training
    * OPERATOR rather than an oracle query (RNG-free but float-mean
    * ordering differs across engines).
    *
    * Scale per round: one broadcast of k centroids (k is a config
    * constant), one O(n·k) codegen'd assignment pass, one
    * posexplode+groupBy partial-agg recenter that shuffles (cid, dim)
    * partial sums — never raw vectors. Empty clusters keep their
    * previous centroid (the standard guard). */
  def trainIvfCentroids(spark: SparkSession, dir: String,
      k: Int = IvfK, iters: Int = 3): DataFrame = {
    val v = vecs(spark, dir)
    // the SAME deterministic init as annIvf's quantizer — shared code,
    // not a copy that could fork
    var cent = hashCentroids(v, k).localCheckpoint()
    for (_ <- 1 to iters) {
      val wAssign = Window.partitionBy(col("vec_id"))
        .orderBy(col("csim").desc, col("cid").desc)
      val assign = v.join(broadcast(cent), lit(true))
        .withColumn("csim", cosine(dot(col("embedding"), col("ce")),
          col("n2"), col("cn")))
        .withColumn("arn", row_number().over(wAssign))
        .filter(col("arn") === 1)
        .select(col("cid"), col("embedding"), col("n2"))
      // spherical k-means recenters on the mean of NORMALIZED members
      // (mean direction): a raw mean would weight members by norm and
      // can worsen the unweighted average-cosine objective
      val means = assign
        .select(col("cid"), col("n2"), posexplode(col("embedding")).as(Seq("pos", "x")))
        .groupBy(col("cid"), col("pos"))
        .agg(avg(col("x") / sqrt(col("n2"))).as("m"))
        .groupBy(col("cid"))
        .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
        .select(col("cid"),
          transform(col("pm"), e => e.getField("m").cast(FloatType)).as("ce"))
        .withColumn("cn", dot(col("ce"), col("ce")))
      // empty clusters (no assignment) keep their previous centroid
      cent = cent.select(col("cid"), col("ce").as("prev_ce"), col("cn").as("prev_cn"))
        .join(means, Seq("cid"), "left")
        .select(col("cid"),
          coalesce(col("ce"), col("prev_ce")).as("ce"),
          coalesce(col("cn"), col("prev_cn")).as("cn"))
        .localCheckpoint()
    }
    cent.select(col("cid"), col("ce").as("centroid"), col("cn").as("norm2"))
      .orderBy(col("cid"))
  }

  /** Mean max-cosine of every vector to its nearest centroid — the
    * (higher-is-better) spherical k-means objective, for recall/quality
    * tracking of a trained quantizer. */
  def quantizerObjective(spark: SparkSession, dir: String,
      centroids: DataFrame): Double = {
    val v = vecs(spark, dir)
    val c = centroids.select(col("cid"), col("centroid").as("ce"),
      col("norm2").as("cn"))
    v.join(broadcast(c), lit(true))
      .withColumn("csim", cosine(dot(col("embedding"), col("ce")),
        col("n2"), col("cn")))
      .groupBy(col("vec_id")).agg(max(col("csim")).as("best"))
      .agg(avg(col("best"))).head().getDouble(0)
  }

  /** Per-vector PROFILE via higher-order array functions — norm, argmax
    * dim, positive-dim count, mean — the embedding-health pass a corpus
    * audit runs before indexing. Everything is a codegen'd projection
    * over the array column (aggregate/filter/array_max — zero UDFs,
    * zero shuffles, zero explodes): at 100 TB this scans and never
    * repartitions. Doubles come from strict left-folds with the same
    * IEEE op order as the DuckDB list_reduce oracle; argmax ties break
    * to the first occurrence in both engines. */
  def vectorProfile(spark: SparkSession, dir: String): DataFrame = {
    val sumSq = aggregate(col("embedding"), lit(0.0),
      (acc, x) => acc + x.cast(DoubleType) * x.cast(DoubleType))
    val sumD = aggregate(col("embedding"), lit(0.0),
      (acc, x) => acc + x.cast(DoubleType))
    load(spark, dir, "embeddings")
      .select(col("vec_id"),
        sqrt(sumSq).as("l2_norm"),
        array_position(col("embedding"), array_max(col("embedding")))
          .as("argmax_dim"),
        size(filter(col("embedding"), x => x > lit(0f))).cast(LongType)
          .as("n_pos"),
        (sumD / size(col("embedding")).cast(DoubleType)).as("mean_dim"))
      .orderBy(col("vec_id"))
  }

  /** PER-CLASS CENTROIDS with INTEGER accumulation: each label's mean
    * embedding, accumulated as 2^20-quantized BIGINTs — multiply by a
    * power of two (EXACT in binary floating point), round once with
    * the cross-engine floor(x+0.5), then sum integers, which is
    * associative-exact, so the cross-row float-summation-order hazard
    * (Spark's partial aggs vs any other fold order) cannot exist.
    * centroid = qsum/n/2^20 in one fixed double op sequence. The
    * prototype/nearest-class-mean primitive (and the recenter step a
    * distributed k-means round performs); a float sum here would be
    * partition-layout-dependent — this one is bit-stable on ANY
    * cluster layout, which is what makes it oracle-checkable at all.
    * One narrow posexplode + one partial-aggregable (label, dim)
    * rollup; output is O(classes × dims), corpus-size-independent. */
  def classCentroids(spark: SparkSession, dir: String): DataFrame = {
    val S = 1 << 20
    spread(load(spark, dir, "embeddings"))
      .select(col("label").cast(LongType).as("label"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("label"), col("dim").cast(LongType).as("dim"),
        floor(col("v").cast(DoubleType) * S + 0.5).cast(LongType).as("q"))
      .groupBy(col("label"), col("dim"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("qsum"))
      .select(col("label"), col("dim"),
        (col("qsum").cast(DoubleType) / col("n") / S).as("centroid"))
      .orderBy(col("label"), col("dim"))
  }

  /** HARD-NEGATIVE MINING (contrastive-training data prep): for each
    * anchor vector, the top-5 most-similar vectors with a DIFFERENT
    * label — the near-miss negatives a contrastive or reranker batch
    * builder wants (random negatives are trivially easy; the hard ones
    * sit just across the decision boundary). Same regime as q35:
    * anchors broadcast, the corpus never shuffles, per-anchor ranking
    * is a window over the anchor key, and the cosine is the codegen'd
    * strict-fold dot. The cross-label filter rides the broadcast join
    * predicate, so pruning happens before any scoring. At production
    * anchor counts this fans out through the IVF probe (q138's
    * machinery) instead of scoring the full corpus per anchor — the
    * top-k-with-predicate shape is identical. */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val v = spread(load(spark, dir, "embeddings"))
      .select(col("vec_id"), col("label"), col("embedding"))
      .withColumn("n2", dot(col("embedding"), col("embedding")))
    val q = v.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("embedding").as("qe"), col("n2").as("qn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neg_id"))
    broadcast(q).join(v, col("label") =!= col("qlabel"))
      .withColumn("cosine", cosine(dot(col("qe"), col("embedding")),
        col("qn"), col("n2")))
      .select(col("query_id"), col("qlabel"), col("vec_id").as("neg_id"),
        col("label").as("neg_label"), col("cosine"))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** RECIPROCAL-RANK FUSION (Cormack et al. 2009 — the hybrid-search
    * combiner): each query's candidates are ranked under TWO metrics
    * (cosine and L2, both derived from ONE shared dot-product pass)
    * and fused by RRF(60): score = 1/(60+r_cos) + 1/(60+r_l2), top-5
    * kept. This is the exact shape of production lexical+vector
    * fusion — rank lists in, fused list out, no score calibration
    * needed — demonstrated here on two metrics over one space so the
    * oracle stays exact. Determinism: ranks are integers; each RRF
    * term is one division of integer-derived doubles and the sum is
    * one fixed-order add (cos term first), mirrored literally in the
    * oracle with E-notation literals (DuckDB parses bare `1.0` as
    * DECIMAL — the q154 lesson). Scale: the scoring pass is q35's
    * broadcast regime; the three windows all share the query-id
    * partitioning — one shuffle. */
  def rankFusion(spark: SparkSession, dir: String): DataFrame = {
    val v = vecs(spark, dir)
    val q = queryVecs(v)
    val scored = broadcast(q).join(v, col("vec_id") =!= col("query_id"))
      .withColumn("d", dot(col("qe"), col("embedding")))
      .withColumn("cosine", cosine(col("d"), col("qn"), col("n2")))
      .withColumn("l2sq", col("qn") + col("n2") - lit(2.0) * col("d"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("cosine"), col("l2sq"))
    val wc = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val wl = Window.partitionBy(col("query_id"))
      .orderBy(col("l2sq"), col("neighbor_id"))
    val ranked = scored
      .withColumn("rc", row_number().over(wc))
      .withColumn("rl", row_number().over(wl))
      .withColumn("rrf", lit(1.0) / (lit(60.0) + col("rc")) +
        lit(1.0) / (lit(60.0) + col("rl")))
    val wf = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("neighbor_id"))
    ranked.withColumn("rank", row_number().over(wf).cast(LongType))
      .filter(col("rank") <= 5)
      .select(col("query_id"), col("neighbor_id"),
        col("rc").cast(LongType).as("rank_cos"),
        col("rl").cast(LongType).as("rank_l2"), col("rrf"), col("rank"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** CLASS-CENTROID AFFINITY matrix: the cosine between every pair of
    * per-label mean embeddings — the label-confusability readout (two
    * classes whose centroids sit at cos≈1 will bleed into each other;
    * the signal that drives relabeling or class merging). Built
    * ENTIRELY from exact integers until one final division: per-class
    * per-dim quantized sums (the q185 2^20 fixed-point rule) are the
    * centroid up to a positive per-class scalar — which cosine
    * CANCELS — so the pairwise dot is an exact DECIMAL(38) sum of
    * BIGINT products (never a float fold across dims), and the oracle
    * routes its int128 sums through the VARCHAR cast (the q114
    * correctly-rounded path). Scale: one (label, dim) partial-agg
    * rollup of the corpus, then all pair arithmetic is O(L²·dims) on
    * the TINY sums table — the corpus is read once. */
  def centroidAffinity(spark: SparkSession, dir: String): DataFrame = {
    val S = 1 << 20
    val sums = spread(load(spark, dir, "embeddings"))
      .select(col("label").cast(LongType).as("label"),
        posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("label"), col("dim"),
        floor(col("v").cast(DoubleType) * S + 0.5).cast(LongType).as("q"))
      .groupBy(col("label"), col("dim"))
      .agg(sum(col("q")).cast(DecimalType(38, 0)).as("qs"))
    val a = sums.select(col("label").as("la"), col("dim"),
      col("qs").as("qa"))
    val b = sums.select(col("label").as("lb"), col("dim"),
      col("qs").as("qb"))
    val dots = a.join(b, Seq("dim")).filter(col("la") <= col("lb"))
      .groupBy(col("la"), col("lb"))
      .agg(sum(col("qa") * col("qb")).as("dp"))
    val norms = dots.filter(col("la") === col("lb"))
      .select(col("la").as("l"), col("dp").as("nn"))
    dots.filter(col("la") < col("lb"))
      .join(norms.select(col("l").as("la"), col("nn").as("na")), "la")
      .join(norms.select(col("l").as("lb"), col("nn").as("nb")), "lb")
      .select(col("la"), col("lb"),
        (col("dp").cast(DoubleType) /
          sqrt(col("na").cast(DoubleType) * col("nb").cast(DoubleType)))
          .as("cosine"))
      .orderBy(col("la"), col("lb"))
  }

  /** PER-DIMENSION SCALER FIT (StandardScaler.fit as a query): mean
    * and std of every embedding dimension across the corpus — the
    * statistics a whitening/standardization stage broadcasts back
    * over the data. Exactness: per-dim Σq and Σq² accumulate the
    * 2^20-quantized values as integers (Σq² widened to DECIMAL(38) —
    * at corpus scale the square sum leaves int64), the variance
    * numerator n·Σq² − (Σq)² is computed exactly in DECIMAL(38), and
    * mean/std are fixed scalar sequences off those exact operands (the
    * oracle routes its int128 through the VARCHAR correctly-rounded
    * cast). One posexplode + one (dim) partial-agg rollup — corpus
    * read once, output O(dims). */
  def dimStats(spark: SparkSession, dir: String): DataFrame = {
    val S = 1 << 20
    spread(load(spark, dir, "embeddings"))
      .select(posexplode(col("embedding")).as(Seq("dim", "v")))
      .select(col("dim").cast(LongType).as("dim"),
        floor(col("v").cast(DoubleType) * S + 0.5).cast(LongType).as("q"))
      .groupBy(col("dim"))
      .agg(count(lit(1)).as("n"),
        sum(col("q")).cast(DecimalType(38, 0)).as("sq"),
        sum(col("q").cast(DecimalType(38, 0)) * col("q")).as("sq2"))
      .select(col("dim"), col("n"),
        (col("sq").cast(DoubleType) / col("n") / S).as("mean"),
        (sqrt((col("n").cast(DecimalType(38, 0)) * col("sq2") -
          col("sq") * col("sq")).cast(DoubleType)) /
          (col("n") * lit(S.toLong)).cast(DoubleType)).as("std"))
      .orderBy(col("dim"))
  }

  /** kNN LABEL PURITY (confident-learning-style noise probe): for each
    * anchor, how many of its top-10 cosine neighbors share its label —
    * anchors whose neighborhoods vote against them are the mislabeled-
    * example candidates a label-audit queue wants first. Rides the q35
    * broadcast regime end to end; purity is ONE division by the
    * constant k. */
  def knnLabelPurity(spark: SparkSession, dir: String): DataFrame = {
    val v = spread(load(spark, dir, "embeddings"))
      .select(col("vec_id"), col("label"), col("embedding"))
      .withColumn("n2", dot(col("embedding"), col("embedding")))
    val q = v.filter(col("vec_id") < 20)
      .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
        col("embedding").as("qe"), col("n2").as("qn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    broadcast(q).join(v, col("vec_id") =!= col("query_id"))
      .withColumn("cosine", cosine(dot(col("qe"), col("embedding")),
        col("qn"), col("n2")))
      .select(col("query_id"), col("qlabel"),
        col("vec_id").as("neighbor_id"), col("label").as("nlabel"),
        col("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .groupBy(col("query_id"), col("qlabel"))
      .agg(sum(when(col("nlabel") === col("qlabel"), 1L).otherwise(0L))
        .as("n_same"))
      .withColumn("purity", col("n_same").cast(DoubleType) / lit(10.0))
      .orderBy(col("query_id"))
  }

  /** ANN QUALITY READOUT (recall@10 as a query): per anchor, how many
    * of the IVF result's top-10 (q36) appear in the exact brute-force
    * top-10 (q35) — the recall dashboard an ANN rollout watches,
    * computed IN-ENGINE from the two already-gated operators (compose,
    * don't re-derive). Both sides are deterministic, so the oracle
    * runs the identical two pipelines and intersects; the overlap
    * count is an exact integer, recall ONE division by k. A dropped
    * centroid or probe regression shows up here as a recall dip
    * before any user sees it. */
  def annRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = knnBruteForce(spark, dir)
      .select(col("query_id"), col("neighbor_id"))
    val ivf = annIvf(spark, dir)
      .select(col("query_id"), col("neighbor_id"))
    ivf.join(exact, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_hits"))
      .join(exact.groupBy(col("query_id"))
        .agg(count(lit(1)).as("k")), Seq("query_id"), "right")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast(DoubleType) /
          col("k").cast(DoubleType)).as("recall_at_10"))
      .orderBy(col("query_id"))
  }

  /** q328 — ANN INDEX SCOREBOARD: recall@10 of every ANN family the
    * library ships — IVF (q36), full-corpus PQ-ADC (q106), composed
    * IVF-PQ (q138) and Matryoshka 8-dim truncation (q260) — against
    * the ONE exact q35 ranking, as a four-row dashboard. The index
    * A/B an ANN rollout actually reads: each method trades a
    * different resource (probe fraction, code bytes, dims) and this
    * table prices them side by side on the SAME queries and corpus.
    * Every ranking is the gated operator COMPOSED VERBATIM (q234's
    * compose-don't-re-derive rule), so the scoreboard can never
    * disagree with the per-method audits.
    *
    * Scale shape: each method's plan is its own query's (all
    * broadcast-query regimes, corpus never shuffles); the scoreboard
    * adds four left-semi joins against the slim exact top-10 and a
    * 4-row union. Counts exact; recall ONE division. */
  def annScoreboard(spark: SparkSession, dir: String): DataFrame = {
    val exact = knnBruteForce(spark, dir)
      .select(col("query_id"), col("neighbor_id"))
    def hitRow(df: DataFrame, method: String) = df
      .select(col("query_id"), col("neighbor_id"))
      .join(exact, Seq("query_id", "neighbor_id"), "left_semi")
      .agg(count(lit(1)).as("n_hits"))
      .select(lit(method).as("method"), col("n_hits"))
    val mat = matryoshkaRecall(spark, dir)
      .agg(sum(col("n_hits")).as("n_hits"))
      .select(lit("matryoshka").as("method"), col("n_hits"))
    val kTot = exact.agg(count(lit(1)).as("k_total"))
    hitRow(annIvf(spark, dir), "ivf")
      .unionByName(hitRow(pqAdcSearch(spark, dir), "pq_adc"))
      .unionByName(hitRow(ivfPqSearch(spark, dir), "ivfpq"))
      .unionByName(mat)
      .crossJoin(broadcast(kTot))
      .withColumn("recall_at_10",
        col("n_hits").cast(DoubleType) / col("k_total").cast(DoubleType))
      .orderBy(col("method"))
  }

  /** q336 — MATRYOSHKA DIMS SWEEP: recall@10 at every truncation rung
    * {8, 16, 32, 64 = full} of the embedding — the last knob the
    * sweep family had not priced (q307 lexical τ, q311 bands, q312
    * nprobe, q332 semantic ε, THIS dims): the serving question is
    * "how many dims can the index drop", and the answer is a curve,
    * not q260's single point. The 64-dim rung IS the exact ranking
    * (recall 1.0 by construction — the in-table sanity anchor).
    * Each rung is q260's plan over `slice(embedding, 1, d)` (corpus
    * never shuffles, q35's broadcast-query regime); hits join the ONE
    * exact top-10. Exact counts; recall ONE division. */
  def matryoshkaSweep(spark: SparkSession, dir: String): DataFrame = {
    val full = knnBruteForce(spark, dir)
      .select(col("query_id"), col("neighbor_id"))
    val kTot = full.agg(count(lit(1)).as("k_total"))
    def rung(d: Int): DataFrame = {
      val vd = spread(load(spark, dir, "embeddings"))
        .select(col("vec_id"), slice(col("embedding"), 1, d).as("embedding"))
        .withColumn("n2", dot(col("embedding"), col("embedding")))
      val qd = queryVecs(vd)
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id"))
      broadcast(qd).join(vd, col("vec_id") =!= col("query_id"))
        .withColumn("cosine", cosine(dot(col("qe"), col("embedding")),
          col("qn"), col("n2")))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          col("cosine"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 10)
        .join(full, Seq("query_id", "neighbor_id"), "left_semi")
        .agg(count(lit(1)).as("n_hits"))
        .select(lit(d.toLong).as("dims"), col("n_hits"))
    }
    Seq(8, 16, 32, 64).map(rung).reduce(_.unionByName(_))
      .crossJoin(broadcast(kTot))
      .withColumn("recall_at_10",
        col("n_hits").cast(DoubleType) / col("k_total").cast(DoubleType))
      .orderBy(col("dims"))
  }

  /** MATRYOSHKA-TRUNCATION recall audit: search with only the FIRST 8
    * of 64 dimensions (the MRL deployment trick — embeddings trained
    * so prefixes are usable sub-embeddings; at serving time a
    * truncated index is 8× smaller and the dot product 8× cheaper),
    * then measure recall@10 of the truncated ranking against the
    * full-dimension exact top-10 (q35). The quantitative answer to
    * "how many dims can this index afford to drop" — the same
    * compose-don't-re-derive shape as q234, with the truncated side
    * just q35's plan over `slice(embedding, 1, 8)` (corpus still
    * never shuffles; queries broadcast). Overlap is an exact integer;
    * recall is ONE division. Synthetic embeddings are not
    * MRL-trained, so the audit honestly reads LOW recall — which is
    * the point of measuring before truncating in production. */
  def matryoshkaRecall(spark: SparkSession, dir: String): DataFrame = {
    val full = knnBruteForce(spark, dir)
      .select(col("query_id"), col("neighbor_id"))
    val v8 = spread(load(spark, dir, "embeddings"))
      .select(col("vec_id"), slice(col("embedding"), 1, 8).as("embedding"))
      .withColumn("n2", dot(col("embedding"), col("embedding")))
    val q8 = queryVecs(v8)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val trunc = broadcast(q8).join(v8, col("vec_id") =!= col("query_id"))
      .withColumn("cosine", cosine(dot(col("qe"), col("embedding")),
        col("qn"), col("n2")))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        col("cosine"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("neighbor_id"))
    trunc.join(full, Seq("query_id", "neighbor_id"), "left_semi")
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("n_hits"))
      .join(full.groupBy(col("query_id"))
        .agg(count(lit(1)).as("k")), Seq("query_id"), "right")
      .select(col("query_id"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        (coalesce(col("n_hits"), lit(0L)).cast(DoubleType) /
          col("k").cast(DoubleType)).as("recall_at_10"))
      .orderBy(col("query_id"))
  }

  /** GRID-BLOCKED ε-NEIGHBOR join — the building block of every
    * distributed density method (DBSCAN core-point counting, spatial
    * point clustering): points bucketed into ε-wide grid cells, each
    * probe copy visiting its 3×3 cell neighborhood, candidates
    * verified by the exact L∞ predicate. LOSSLESS by construction
    * (|Δx| < ε forces the neighbor's cell index within ±1 — floor
    * monotonicity), and the gate PROVES it: the oracle is the naive
    * all-pairs theta-join, so a blocking bug that loses one boundary
    * neighbor hash-mismatches. ε = 2⁻⁵ makes x/ε and the cell floor
    * EXACT in binary floating point — no cross-engine rounding seam
    * on cell boundaries.
    *
    * Scale shape: the all-pairs Θ(n²) compare becomes one 9×-probe
    * equi-join on cell ids — work O(n · density per 3×3 block), the
    * standard way an ε-join survives a billion points; the home side
    * stays single-celled so every true neighbor is found exactly
    * once (no post-dedup). Core flag at minPts = 10. */
  def gridNeighbors(spark: SparkSession, dir: String): DataFrame = {
    val eps = 0.03125
    val offs = Seq(-1L, 0L, 1L)
    val home = spread(load(spark, dir, "embeddings"))
      .select(col("vec_id"),
        element_at(col("embedding"), 1).cast(DoubleType).as("x"),
        element_at(col("embedding"), 2).cast(DoubleType).as("y"))
      .withColumn("cx", floor(col("x") / eps).cast(LongType))
      .withColumn("cy", floor(col("y") / eps).cast(LongType))
    val probe = home
      .withColumn("dxy", explode(array(offs.flatMap(dx => offs.map(dy =>
        struct(lit(dx).as("dx"), lit(dy).as("dy")))): _*)))
      .select(col("vec_id").as("q_id"), col("x").as("qx"),
        col("y").as("qy"),
        (col("cx") + col("dxy.dx")).as("cx"),
        (col("cy") + col("dxy.dy")).as("cy"))
    probe.join(home, Seq("cx", "cy"))
      .filter(col("vec_id") =!= col("q_id") &&
        abs(col("qx") - col("x")) < eps && abs(col("qy") - col("y")) < eps)
      .groupBy(col("q_id").as("vec_id"))
      .agg(count(lit(1)).as("n_neighbors"))
      .withColumn("is_core", col("n_neighbors") >= 10)
      .orderBy(col("vec_id"))
  }

  /** The labels the corpus carries — fixed so the Fisher scalar
    * expression below can be expanded label-by-label in a FIXED
    * textual order (see determinism note on [[fisherSeparation]]). */
  private val FisherLabels = 0 until 10

  /** PER-DIMENSION FISHER CLASS SEPARATION — the feature-quality audit
    * of an embedding space: for every dimension, the one-way-ANOVA
    * ratio SSB/SSW (between-class / within-class sum of squares) over
    * the label classes. High-Fisher dimensions carry the class signal
    * (keep them under Matryoshka truncation, q260); near-zero ones are
    * noise a projection can drop — the readout that decides WHICH
    * dims survive dimensionality reduction, not just how many.
    *
    * Determinism: float row-aggregation is summation-order-dependent,
    * so embeddings are first quantized to integers with a fixed global
    * rule (floor(x*1000 + 0.5) — NOT q101's per-vector scale, which
    * would make codes row-dependent); all per-(dim,label) sufficient
    * statistics are exact integer sums (partial-aggregable, one
    * shuffle on dim after a posexplode); the Fisher ratio is then ONE
    * scalar expression per dim whose label terms are expanded in
    * fixed left-to-right order — both engines evaluate the identical
    * IEEE sequence on identical integers. Squared sums stay < 2^53,
    * so every double is exact until the final divisions. */
  def fisherSeparation(spark: SparkSession, dir: String): DataFrame = {
    val e = spread(load(spark, dir, "embeddings"))
      .select(col("label").cast(LongType).as("label"),
        posexplode(transform(col("embedding"),
          x => floor(x.cast(DoubleType) * 1000 + lit(0.5)).cast(LongType)))
          .as(Seq("dim", "q")))
    val aggs = FisherLabels.flatMap { l =>
      Seq(sum(when(col("label") === l, 1L).otherwise(0L)).as(s"n_$l"),
        sum(when(col("label") === l, col("q")).otherwise(0L)).as(s"s_$l"))
    } ++ Seq(sum(col("q")).as("s1"), sum(col("q") * col("q")).as("s2"),
      count(lit(1)).as("n"))
    val g = e.groupBy(col("dim")).agg(aggs.head, aggs.tail: _*)
    def d(c: String) = col(c).cast(DoubleType)
    val terms = FisherLabels.map { l =>
      when(col(s"n_$l") === 0L, lit(0.0))
        .otherwise(d(s"s_$l") * d(s"s_$l") / d(s"n_$l"))
    }
    val sumTerms = terms.reduceLeft(_ + _)
    val ssb = sumTerms - d("s1") * d("s1") / d("n")
    val ssw = d("s2") - sumTerms
    g.select(col("dim").cast(LongType).as("dim"),
        when(ssw > 0, ssb / ssw).otherwise(lit(null).cast(DoubleType))
          .as("fisher"))
      .orderBy(col("dim"))
  }

  /** q284 — SEMANTIC DEDUP (SemDeDup, Abbas et al. 2023): duplicate
    * CLUSTERS in embedding space. q99's IVF-bucket-blocked cosine
    * pairs (the affordable candidate generator — Σ|bucket|² ≈ n²/k
    * work, never all-pairs) become edges of the semantic near-dup
    * graph; connected components (the q67 min-label propagation, one
    * action per round off lazy localCheckpoints) label each cluster;
    * the min-vec_id member is the kept CANONICAL, everything else is
    * the semantic-duplicate mass a dedup pass drops. The embedding
    * twin of q67's lexical clusters: paraphrases and re-encodings
    * that share no shingles land here.
    *
    * Scale shape: edge generation is q99's equi-join on bucket ids;
    * propagation cost is O(rounds · edges) with bounded rounds; the
    * keep flag is a projection of the label — no extra shuffle.
    * Only vectors with >= 1 near-dup edge appear (q67's contract);
    * at production scale the absent rows ARE the corpus majority, so
    * the output stays O(duplicates), not O(n). */
  def semanticDedup(spark: SparkSession, dir: String): DataFrame = {
    val pairs = semanticNearDupIvf(spark, dir)
      .select(col("vec_a"), col("vec_b"))
    graft.dedup.Dedup.connectedComponents(pairs)
      .select(col("id").as("vec_id"), col("label").as("cluster_id"),
        col("n_members"),
        (col("id") === col("label")).as("keep"))
      .orderBy(col("vec_id"))
  }

  /** q295 — IVF INDEX MAINTENANCE for a delta batch: the vector-side
    * twin of q285's incremental ingest. New vectors (vec_id % 10 == 0)
    * are assigned to the EXISTING quantizer — centroids built from the
    * base corpus only, the production invariant: a delta never retrains
    * the quantizer mid-flight — and the per-bucket report (base size,
    * delta growth, total) carries the REBALANCE flag an index operator
    * acts on: a bucket holding more than 2× the mean (n_total·k >
    * 2·N, exact integer cross-multiplication) is the probe-latency
    * hot spot that schedules a split/retrain. Empty buckets survive
    * via the left joins — a centroid nothing maps to anymore is the
    * other maintenance signal.
    *
    * Scale shape: two O(n·k) assignment passes (broadcast centroids),
    * two O(k) count rollups, output O(k). The delta pass touches only
    * the batch. */
  def ivfMaintenance(spark: SparkSession, dir: String): DataFrame = {
    val v = vecs(spark, dir)
    val base = v.filter(!isDelta(col("vec_id")))
    val delta = v.filter(isDelta(col("vec_id")))
    val cent = hashCentroids(base)
    val nb = assignToCentroids(base, cent)
      .groupBy(col("cid")).agg(count(lit(1)).as("n_base"))
    val nd = assignToCentroids(delta, cent)
      .groupBy(col("cid")).agg(count(lit(1)).as("n_delta"))
    cent.select(col("cid"))
      .join(nb, Seq("cid"), "left")
      .join(nd, Seq("cid"), "left")
      .crossJoin(broadcast(v.agg(count(lit(1)).as("nn"))))
      .select(col("cid"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_delta"), lit(0L)).as("n_delta"), col("nn"))
      .withColumn("n_total", col("n_base") + col("n_delta"))
      .withColumn("needs_split",
        col("n_total") * IvfK > lit(2L) * col("nn"))
      .drop("nn")
      .orderBy(col("cid"))
  }

  /** q312 — IVF NPROBE sweep: recall@10 of the q36 index at nprobe ∈
    * {1, 2, 4, 8} against the exact q35 top-10 — the latency/recall
    * tuning curve every ANN rollout reads before fixing its probe
    * budget (probe cost scales ~nprobe/k of the corpus, so this table
    * IS the price list). q234 audits the one production setting; this
    * sweeps the knob. Index built ONCE (same quantizer + assignment
    * for every setting — only the probe cutoff moves, exactly how a
    * deployed index is tuned); overlaps are exact integers, recall
    * ONE division. */
  def nprobeSweep(spark: SparkSession, dir: String): DataFrame = {
    val v = vecs(spark, dir)
    val cent = hashCentroids(v)
    val asg = assignToCentroids(v, cent)
    val q = queryVecs(v)
    val exact = knnBruteForce(spark, dir)
      .select(col("query_id"), col("neighbor_id"))
    val d = (x: Column) => x.cast(DoubleType)
    Seq(1, 2, 4, 8).map { np =>
      probeIvf(q, cent, asg, np)
        .select(col("query_id"), col("neighbor_id"))
        .join(exact, Seq("query_id", "neighbor_id"))
        .agg(count(lit(1)).as("sum_overlap"))
        .select(lit(np.toLong).as("nprobe"),
          col("sum_overlap").cast(LongType).as("sum_overlap"))
    }.reduce(_ unionAll _)
      .crossJoin(broadcast(
        exact.agg(count(lit(1)).as("n_exact"))))
      .select(col("nprobe"), col("sum_overlap"),
        col("n_exact").cast(LongType).as("n_exact"),
        (d(col("sum_overlap")) / d(col("n_exact"))).as("recall"))
      .orderBy(col("nprobe"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q312_nprobe_sweep" -> nprobeSweep,
    "q295_ivf_maintenance" -> ivfMaintenance,
    "q284_semantic_dedup" -> semanticDedup,
    "q281_fisher_separation" -> fisherSeparation,
    "q234_ann_recall" -> annRecall,
    "q260_matryoshka_recall" -> matryoshkaRecall,
    "q263_grid_neighbors" -> gridNeighbors,
    "q218_dim_stats" -> dimStats,
    "q219_knn_label_purity" -> knnLabelPurity,
    "q212_rank_fusion" -> rankFusion,
    "q213_centroid_affinity" -> centroidAffinity,
    "q206_hard_negatives" -> hardNegatives,
    "q185_class_centroids" -> classCentroids,
    "q145_vector_profile" -> vectorProfile,
    "q34_embedding_neardup" -> embeddingNearDup,
    "q317_semantic_decontam" -> semanticDecontam,
    "q35_knn_bruteforce" -> knnBruteForce,
    "q36_ann_ivf" -> annIvf,
    "q99_semantic_neardup_ivf" -> semanticNearDupIvf,
    "q332_semantic_threshold_sweep" -> semanticThresholdSweep,
    "q336_matryoshka_sweep" -> matryoshkaSweep,
    "q101_quantize_int8" -> quantizeInt8,
    "q105_pq_encode" -> pqEncode,
    "q324_pq_codebook_stats" -> pqCodebookStats,
    "q106_pq_adc_search" -> pqAdcSearch,
    "q328_ann_scoreboard" -> annScoreboard,
    "q138_ivfpq_search" -> ivfPqSearch)

  /** SQL fragment: strict left-fold dot product of two vector
    * expressions — the same op order as VecDotFloat's codegen loop. */
  private def dotSql(a: String, b: String): String =
    s"""LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE),
       |   LIST_TRANSFORM(GENERATE_SERIES(1, LEN($a)), i ->
       |     CAST($a[i] AS DOUBLE) * CAST($b[i] AS DOUBLE))), (x, y) -> x + y)""".stripMargin

  private val vSql =
    s"""SELECT vec_id, embedding, ${dotSql("embedding", "embedding")} AS n2
       |FROM embeddings""".stripMargin

  private def cosSql(d: String, n2a: String, n2b: String): String =
    s"$d / SQRT($n2a * $n2b)"

  /** Shared CTE prefix: the deterministic IVF quantizer + bucket
    * assignment (one definition serves q36's probe and q99's blocked
    * pair join — the two must never fork). */
  private lazy val ivfAsgCtes =
    s"""WITH v AS ($vSql),
       |cent AS (SELECT vec_id AS cid, embedding AS ce, n2 AS cn FROM v
       |         ORDER BY ${phashSql("CAST(vec_id AS VARCHAR)")}, vec_id LIMIT ${IvfK}),
       |asg0 AS (SELECT v.vec_id, v.embedding, v.n2, cent.cid,
       |           ROW_NUMBER() OVER (PARTITION BY v.vec_id ORDER BY
       |             ${cosSql(dotSql("v.embedding", "ce"), "v.n2", "cn")} DESC, cid DESC) AS arn
       |         FROM v, cent),
       |asg AS (SELECT vec_id, embedding, n2, cid FROM asg0 WHERE arn = 1)""".stripMargin

  /** q389's oracle — the index-seeded streaming semantic detector in
    * closed form: the BASE slice (vec_id % 10 != 0) builds the
    * quantizer + assignment (the persisted index), each DELTA vector
    * probes its [[IvfNProbe]] best buckets for corpus partners at
    * cosine >= 0.4 (q99's threshold), and within-stream pairs are
    * delta vectors sharing a TOP-1 coarse bucket (the streaming
    * detector's ttlPairs key). The two legs are disjoint by
    * construction — corpus hits have exactly one base endpoint,
    * stream pairs two delta endpoints — so the UNION ALL + DISTINCT
    * mirrors the Spark side's cross-leg unionByName + distinct.
    * Defined HERE, next to [[ivfAsgCtes]], so the quantizer/probe SQL
    * can never fork from the batch oracles'. */
  private[graft] lazy val streamSemanticOracle: String =
    s"""WITH v AS ($vSql),
       |base AS (SELECT * FROM v WHERE vec_id % 10 <> 0),
       |delta AS (SELECT * FROM v WHERE vec_id % 10 = 0),
       |cent AS (SELECT vec_id AS cid, embedding AS ce, n2 AS cn FROM base
       |         ORDER BY ${phashSql("CAST(vec_id AS VARCHAR)")}, vec_id LIMIT ${IvfK}),
       |asg0 AS (SELECT base.vec_id, base.embedding, base.n2, cent.cid,
       |           ROW_NUMBER() OVER (PARTITION BY base.vec_id ORDER BY
       |             ${cosSql(dotSql("base.embedding", "ce"), "base.n2", "cn")} DESC, cid DESC) AS arn
       |         FROM base, cent),
       |asg AS (SELECT vec_id, embedding, n2, cid FROM asg0 WHERE arn = 1),
       |pr0 AS (SELECT delta.vec_id, delta.embedding AS qe, delta.n2 AS qn, cent.cid,
       |          ROW_NUMBER() OVER (PARTITION BY delta.vec_id ORDER BY
       |            ${cosSql(dotSql("delta.embedding", "ce"), "delta.n2", "cn")} DESC, cid DESC) AS prn
       |        FROM delta, cent),
       |ch AS (SELECT LEAST(p.vec_id, a.vec_id) AS vec_a,
       |              GREATEST(p.vec_id, a.vec_id) AS vec_b,
       |              ${cosSql(dotSql("p.qe", "a.embedding"), "p.qn", "a.n2")} AS cosine
       |       FROM pr0 p JOIN asg a ON p.prn <= ${IvfNProbe} AND p.cid = a.cid),
       |b1 AS (SELECT vec_id, qe, qn, cid FROM pr0 WHERE prn = 1),
       |sp AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       |              ${cosSql(dotSql("a.qe", "b.qe"), "a.qn", "b.qn")} AS cosine
       |       FROM b1 a JOIN b1 b ON a.cid = b.cid AND a.vec_id < b.vec_id)
       |SELECT DISTINCT vec_a, vec_b, cosine FROM (
       |  SELECT * FROM ch WHERE cosine >= 0.4
       |  UNION ALL SELECT * FROM sp WHERE cosine >= 0.4)
       |ORDER BY vec_a, vec_b""".stripMargin

  /** Shared CTE body for the PQ family (no leading WITH, so it can
    * compose after [[ivfAsgCtes]] — the doubles view is `vd` to avoid
    * colliding with the IVF `v`): doubles view, deterministic
    * codebook, per-(vector, subspace) distances, and the rn=1 nearest-
    * codeword assignment — one definition serves q105's encode,
    * q106's ADC search, and q138's composed IVF-PQ (they must never
    * fork). */
  private lazy val pqCtesBody =
    s"""vd AS (SELECT vec_id,
      |    LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
      |  FROM embeddings),
      |cw AS (SELECT vec_id AS code_id, e AS cw FROM vd
      |       ORDER BY ${phashSql("CAST(vec_id AS VARCHAR)")}, vec_id LIMIT ${PqK}),
      |sub AS (SELECT vec_id, e, m FROM vd
      |        CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, ${PqM - 1})) AS m)),
      |d AS (SELECT s.vec_id, s.m, c.code_id,
      |        LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE),
      |          LIST_TRANSFORM(GENERATE_SERIES(1, ${PqDsub}), i ->
      |            (s.e[s.m*${PqDsub}+i] - c.cw[s.m*${PqDsub}+i]) *
      |            (s.e[s.m*${PqDsub}+i] - c.cw[s.m*${PqDsub}+i]))),
      |          (x, y) -> x + y) AS dist
      |      FROM sub s, cw c),
      |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id, m
      |        ORDER BY dist, code_id) AS rn FROM d)""".stripMargin

  private lazy val pqCtes = s"WITH $pqCtesBody"

  val oracles: Map[String, String] = Map(
    // q281: integer sufficient statistics; the Fisher scalar expands
    // its label terms in the SAME left-to-right order as the Spark
    // reduceLeft, so the double sequences are identical
    "q281_fisher_separation" -> {
      val labelAggs = FisherLabels.map { l =>
        s"""SUM(CASE WHEN label = $l THEN 1 ELSE 0 END) AS n_$l,
           |    SUM(CASE WHEN label = $l THEN q ELSE 0 END) AS s_$l""".stripMargin
      }.mkString(",\n    ")
      val terms = FisherLabels.map { l =>
        s"""CASE WHEN n_$l = 0 THEN 0.0
           |    ELSE CAST(s_$l AS DOUBLE) * CAST(s_$l AS DOUBLE)
           |      / CAST(n_$l AS DOUBLE) END""".stripMargin
      }.mkString("(", "\n    + ", ")")
      s"""WITH e AS (SELECT label,
        |    UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(embedding)),
        |      i -> {'dim': CAST(i - 1 AS BIGINT),
        |            'q': CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1000
        |                  + 0.5) AS BIGINT)})) AS u
        |  FROM embeddings),
        |f AS (SELECT u.dim AS dim, u.q AS q, label FROM e),
        |g AS (SELECT dim,
        |    $labelAggs,
        |    SUM(q) AS s1, SUM(q * q) AS s2, COUNT(*) AS n
        |  FROM f GROUP BY 1)
        |SELECT CAST(dim AS BIGINT) AS dim,
        |  CASE WHEN CAST(s2 AS DOUBLE) - $terms > 0
        |    THEN ($terms
        |      - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))
        |      / (CAST(s2 AS DOUBLE) - $terms)
        |    ELSE NULL END AS fisher
        |FROM g ORDER BY dim""".stripMargin
    },
    // ×2^20 is exact in binary FP; one floor(x+0.5) rounding; integer
    // sums; then the identical double division sequence in both engines
    "q185_class_centroids" ->
      """WITH q AS (SELECT label,
        |    UNNEST(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(embedding)),
        |      i -> {'dim': CAST(i - 1 AS BIGINT),
        |            'q': CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1048576
        |                  + 0.5) AS BIGINT)})) AS u
        |  FROM embeddings)
        |SELECT CAST(label AS BIGINT) AS label, u.dim AS dim,
        |  CAST(CAST(SUM(u.q) AS BIGINT) AS DOUBLE) / COUNT(*) / 1048576
        |    AS centroid
        |FROM q GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q145_vector_profile" ->
      """SELECT vec_id,
        |  SQRT(LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE),
        |    LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))),
        |    (a, b) -> a + b)) AS l2_norm,
        |  CAST(LIST_POSITION(embedding, LIST_MAX(embedding)) AS BIGINT)
        |    AS argmax_dim,
        |  CAST(LEN(LIST_FILTER(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
        |  LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE),
        |    LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE))),
        |    (a, b) -> a + b) / CAST(LEN(embedding) AS DOUBLE) AS mean_dim
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    // the IVF CTEs (v/cent/asg) and the PQ CTEs (vd/cw/sub/d/r) compose
    // side by side — each stage is the SAME text q36 and q105/q106 run
    "q138_ivfpq_search" ->
      s"""$ivfAsgCtes,
        |$pqCtesBody,
        |codes AS (SELECT vec_id, m, code_id FROM r WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, embedding AS qe, n2 AS qn
        |      FROM v WHERE vec_id < 5),
        |probes AS (SELECT query_id, cid FROM (
        |    SELECT q.query_id, cent.cid,
        |      ROW_NUMBER() OVER (PARTITION BY q.query_id ORDER BY
        |        ${cosSql(dotSql("q.qe", "ce"), "q.qn", "cn")} DESC, cid DESC)
        |        AS prn
        |    FROM q, cent) WHERE prn <= ${IvfNProbe}),
        |qd AS (SELECT vec_id AS query_id, e AS qe FROM vd WHERE vec_id < 5),
        |qm AS (SELECT query_id, qe, m FROM qd
        |       CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, ${PqM - 1})) AS m)),
        |dtab AS (SELECT query_id, qm.m, c.code_id,
        |        LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE),
        |          LIST_TRANSFORM(GENERATE_SERIES(1, ${PqDsub}), i ->
        |            (qm.qe[qm.m*${PqDsub}+i] - c.cw[qm.m*${PqDsub}+i]) *
        |            (qm.qe[qm.m*${PqDsub}+i] - c.cw[qm.m*${PqDsub}+i]))),
        |          (x, y) -> x + y) AS d
        |      FROM qm, cw c),
        |cand AS (SELECT p.query_id, a.vec_id FROM probes p
        |         JOIN asg a ON a.cid = p.cid
        |         WHERE a.vec_id <> p.query_id),
        |adc AS (SELECT cn.query_id, cn.vec_id AS neighbor_id,
        |          LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE),
        |            LIST(t.d ORDER BY t.m)), (x, y) -> x + y) AS adc_dist
        |        FROM cand cn
        |        JOIN codes co ON co.vec_id = cn.vec_id
        |        JOIN dtab t ON t.query_id = cn.query_id
        |          AND t.m = co.m AND t.code_id = co.code_id
        |        GROUP BY cn.query_id, cn.vec_id),
        |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |         ORDER BY adc_dist, neighbor_id) AS rank FROM adc)
        |SELECT query_id, neighbor_id, adc_dist, rank FROM rk
        |WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,
    // q328: all four method pipelines (q36/q106/q138/q260 CTE chains
    // verbatim) + the q35 exact chain, rolled to one row per method
    "q328_ann_scoreboard" ->
      s"""$ivfAsgCtes,
        |$pqCtesBody,
        |codes AS (SELECT vec_id, m, code_id FROM r WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, embedding AS qe, n2 AS qn
        |      FROM v WHERE vec_id < 5),
        |ec AS (SELECT query_id, v.vec_id AS neighbor_id,
        |        ${cosSql(dotSql("qe", "v.embedding"), "qn", "v.n2")} AS cosine
        |      FROM q JOIN v ON v.vec_id != query_id),
        |er AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY cosine DESC, neighbor_id) AS rank FROM ec),
        |ex AS (SELECT query_id, neighbor_id FROM er WHERE rank <= 10),
        |pr0 AS (SELECT query_id, qe, qn, cent.cid,
        |          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
        |            ${cosSql(dotSql("qe", "ce"), "qn", "cn")} DESC, cid DESC) AS prn
        |        FROM q, cent),
        |pr AS (SELECT query_id, qe, qn, cid FROM pr0 WHERE prn <= ${IvfNProbe}),
        |ic AS (SELECT query_id, asg.vec_id AS neighbor_id,
        |        ${cosSql(dotSql("qe", "asg.embedding"), "qn", "asg.n2")} AS cosine
        |      FROM pr JOIN asg ON pr.cid = asg.cid AND asg.vec_id != pr.query_id),
        |ir AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY cosine DESC, neighbor_id) AS rank FROM ic),
        |ivfm AS (SELECT query_id, neighbor_id FROM ir WHERE rank <= 10),
        |qd AS (SELECT vec_id AS query_id, e AS qe2 FROM vd WHERE vec_id < 5),
        |qm AS (SELECT query_id, qe2, m FROM qd
        |       CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, ${PqM - 1})) AS m)),
        |dtab AS (SELECT query_id, qm.m, c.code_id,
        |        LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE),
        |          LIST_TRANSFORM(GENERATE_SERIES(1, ${PqDsub}), i ->
        |            (qm.qe2[qm.m*${PqDsub}+i] - c.cw[qm.m*${PqDsub}+i]) *
        |            (qm.qe2[qm.m*${PqDsub}+i] - c.cw[qm.m*${PqDsub}+i]))),
        |          (x, y) -> x + y) AS d
        |      FROM qm, cw c),
        |padc AS (SELECT t.query_id, c.vec_id AS neighbor_id,
        |          LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE),
        |            LIST(t.d ORDER BY t.m)), (x, y) -> x + y) AS adc_dist
        |        FROM codes c JOIN dtab t ON t.m = c.m AND t.code_id = c.code_id
        |        WHERE c.vec_id <> t.query_id
        |        GROUP BY t.query_id, c.vec_id),
        |prk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |         ORDER BY adc_dist, neighbor_id) AS rank FROM padc),
        |p10 AS (SELECT query_id, neighbor_id FROM prk WHERE rank <= 10),
        |icand AS (SELECT p.query_id, a.vec_id FROM pr p
        |          JOIN asg a ON a.cid = p.cid
        |          WHERE a.vec_id <> p.query_id),
        |iadc AS (SELECT cn.query_id, cn.vec_id AS neighbor_id,
        |          LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE),
        |            LIST(t.d ORDER BY t.m)), (x, y) -> x + y) AS adc_dist
        |        FROM icand cn
        |        JOIN codes co ON co.vec_id = cn.vec_id
        |        JOIN dtab t ON t.query_id = cn.query_id
        |          AND t.m = co.m AND t.code_id = co.code_id
        |        GROUP BY cn.query_id, cn.vec_id),
        |irk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |         ORDER BY adc_dist, neighbor_id) AS rank FROM iadc),
        |i10 AS (SELECT query_id, neighbor_id FROM irk WHERE rank <= 10),
        |v8 AS (SELECT vec_id, emb, ${dotSql("emb", "emb")} AS n2
        |       FROM (SELECT vec_id, embedding[1:8] AS emb FROM embeddings)),
        |q8 AS (SELECT vec_id AS query_id, emb AS qe8, n2 AS qn8
        |       FROM v8 WHERE vec_id < 5),
        |c8 AS (SELECT query_id, v8.vec_id AS neighbor_id,
        |        ${cosSql(dotSql("qe8", "v8.emb"), "qn8", "v8.n2")} AS cosine
        |      FROM q8 JOIN v8 ON v8.vec_id != query_id),
        |r8 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY cosine DESC, neighbor_id) AS rank FROM c8),
        |m10 AS (SELECT query_id, neighbor_id FROM r8 WHERE rank <= 10),
        |u AS (SELECT 'ivf' AS method, COUNT(*) AS nh
        |        FROM ivfm JOIN ex USING (query_id, neighbor_id)
        |      UNION ALL SELECT 'pq_adc', COUNT(*)
        |        FROM p10 JOIN ex USING (query_id, neighbor_id)
        |      UNION ALL SELECT 'ivfpq', COUNT(*)
        |        FROM i10 JOIN ex USING (query_id, neighbor_id)
        |      UNION ALL SELECT 'matryoshka', COUNT(*)
        |        FROM m10 JOIN ex USING (query_id, neighbor_id)),
        |kt AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_total FROM ex)
        |SELECT method, CAST(nh AS BIGINT) AS n_hits, k_total,
        |  CAST(nh AS DOUBLE) / CAST(k_total AS DOUBLE) AS recall_at_10
        |FROM u, kt
        |ORDER BY method""".stripMargin,
    "q106_pq_adc_search" ->
      s"""$pqCtes,
        |codes AS (SELECT vec_id, m, code_id FROM r WHERE rn = 1),
        |q AS (SELECT vec_id AS query_id, e AS qe FROM vd WHERE vec_id < 5),
        |qm AS (SELECT query_id, qe, m FROM q
        |       CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, ${PqM - 1})) AS m)),
        |dtab AS (SELECT query_id, qm.m, c.code_id,
        |        LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE),
        |          LIST_TRANSFORM(GENERATE_SERIES(1, ${PqDsub}), i ->
        |            (qm.qe[qm.m*${PqDsub}+i] - c.cw[qm.m*${PqDsub}+i]) *
        |            (qm.qe[qm.m*${PqDsub}+i] - c.cw[qm.m*${PqDsub}+i]))),
        |          (x, y) -> x + y) AS d
        |      FROM qm, cw c),
        |adc AS (SELECT t.query_id, c.vec_id AS neighbor_id,
        |          LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE),
        |            LIST(t.d ORDER BY t.m)), (x, y) -> x + y) AS adc_dist
        |        FROM codes c JOIN dtab t ON t.m = c.m AND t.code_id = c.code_id
        |        WHERE c.vec_id <> t.query_id
        |        GROUP BY t.query_id, c.vec_id),
        |rk AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |         ORDER BY adc_dist, neighbor_id) AS rank FROM adc)
        |SELECT query_id, neighbor_id, adc_dist, rank FROM rk
        |WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,
    // q324: q105's assignment CTEs verbatim + the utilization rollups
    "q324_pq_codebook_stats" ->
      s"""$pqCtes,
        |a AS (SELECT m, code_id FROM r WHERE rn = 1),
        |g AS (SELECT mm.m, c.code_id FROM cw c
        |      CROSS JOIN (SELECT UNNEST(GENERATE_SERIES(0, ${PqM - 1}))
        |                  AS m) mm),
        |cnt AS (SELECT g.m, g.code_id,
        |          CAST(COUNT(a.code_id) AS BIGINT) AS c
        |        FROM g LEFT JOIN a
        |          ON a.m = g.m AND a.code_id = g.code_id
        |        GROUP BY 1, 2)
        |SELECT m,
        |  CAST(SUM(CASE WHEN c > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_codes_used,
        |  MAX(c) AS max_assigned, MIN(c) AS min_assigned,
        |  CAST(SUM(c) AS BIGINT) AS n_vectors,
        |  CAST(MAX(c) AS DOUBLE) / CAST(SUM(c) AS BIGINT) AS max_share
        |FROM cnt
        |GROUP BY m
        |ORDER BY m""".stripMargin,
    "q105_pq_encode" ->
      s"""$pqCtes
        |SELECT vec_id,
        |  ARRAY_TO_STRING(LIST(code_id ORDER BY m), ',') AS codes,
        |  LIST_REDUCE(LIST_PREPEND(CAST(0 AS DOUBLE), LIST(dist ORDER BY m)),
        |    (x, y) -> x + y) AS recon_err
        |FROM r WHERE rn = 1
        |GROUP BY vec_id
        |ORDER BY vec_id""".stripMargin,
    "q101_quantize_int8" ->
      """WITH e0 AS (SELECT vec_id,
        |    LIST_TRANSFORM(embedding, x -> CAST(x AS DOUBLE)) AS e
        |  FROM embeddings),
        |s AS (SELECT vec_id, e,
        |    127.0 / GREATEST(LIST_MAX(LIST_TRANSFORM(e, x -> ABS(x))), 1e-30) AS scale
        |  FROM e0),
        |c AS (SELECT vec_id, e, scale,
        |    LIST_TRANSFORM(e, x -> CAST(FLOOR(x * scale + 0.5) AS BIGINT)) AS codes
        |  FROM s)
        |SELECT vec_id, scale,
        |  ARRAY_TO_STRING(codes, ',') AS codes,
        |  LIST_MAX(LIST_TRANSFORM(GENERATE_SERIES(1, LEN(e)), i ->
        |    ABS(e[i] - CAST(codes[i] AS DOUBLE) / scale))) AS max_err
        |FROM c
        |ORDER BY vec_id""".stripMargin,
    // q336: one truncated q260-style chain per rung + the exact chain
    "q336_matryoshka_sweep" -> {
      val dims = Seq(8, 16, 32, 64)
      val rungs = dims.map { d =>
        s"""v$d AS (SELECT vec_id, emb, ${dotSql("emb", "emb")} AS n2
           |       FROM (SELECT vec_id, embedding[1:$d] AS emb FROM embeddings)),
           |q$d AS (SELECT vec_id AS query_id, emb AS qe, n2 AS qn
           |        FROM v$d WHERE vec_id < 5),
           |c$d AS (SELECT query_id, v$d.vec_id AS neighbor_id,
           |        ${cosSql(dotSql("qe", s"v$d.emb"), "qn", s"v$d.n2")} AS cosine
           |      FROM q$d JOIN v$d ON v$d.vec_id != query_id),
           |r$d AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
           |        ORDER BY cosine DESC, neighbor_id) AS rank FROM c$d),
           |t$d AS (SELECT query_id, neighbor_id FROM r$d WHERE rank <= 10)""".stripMargin
      }.mkString(",\n")
      val unions = dims.map { d =>
        s"""SELECT CAST($d AS BIGINT) AS dims,
           |  (SELECT CAST(COUNT(*) AS BIGINT)
           |   FROM t$d JOIN ex USING (query_id, neighbor_id)) AS n_hits""".stripMargin
      }.mkString("\nUNION ALL ")
      s"""WITH v AS ($vSql),
        |q AS (SELECT vec_id AS query_id, embedding AS qe, n2 AS qn
        |      FROM v WHERE vec_id < 5),
        |ec AS (SELECT query_id, v.vec_id AS neighbor_id,
        |        ${cosSql(dotSql("qe", "v.embedding"), "qn", "v.n2")} AS cosine
        |      FROM q JOIN v ON v.vec_id != query_id),
        |er AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY cosine DESC, neighbor_id) AS rank FROM ec),
        |ex AS (SELECT query_id, neighbor_id FROM er WHERE rank <= 10),
        |$rungs,
        |kt AS (SELECT CAST(COUNT(*) AS BIGINT) AS k_total FROM ex),
        |u AS ($unions)
        |SELECT dims, n_hits, kt.k_total,
        |  CAST(n_hits AS DOUBLE) / CAST(kt.k_total AS DOUBLE) AS recall_at_10
        |FROM u, kt
        |ORDER BY dims""".stripMargin
    },
    // q332: q99's bucket-blocked pair CTEs + one conditional agg
    "q332_semantic_threshold_sweep" -> {
      val ts = Seq("0.4", "0.5", "0.6", "0.7", "0.8", "0.9")
      val sums = ts.zipWithIndex.map { case (t, i) =>
        s"CAST(SUM(CASE WHEN cosine >= ${t}e0 THEN 1 ELSE 0 END) AS BIGINT) AS c$i"
      }.mkString(",\n|        ")
      val rows = ts.zipWithIndex.map { case (t, i) =>
        s"SELECT CAST($t AS DOUBLE) AS threshold, c$i AS n_pairs FROM sw"
      }.mkString("\n|UNION ALL ")
      s"""$ivfAsgCtes,
        |p AS (SELECT ${cosSql(dotSql("a.embedding", "b.embedding"), "a.n2", "b.n2")} AS cosine
        |      FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id),
        |sw AS (SELECT $sums
        |       FROM (SELECT cosine FROM p WHERE cosine >= 0.4))
        |$rows
        |ORDER BY threshold""".stripMargin
    },
    "q99_semantic_neardup_ivf" ->
      s"""$ivfAsgCtes,
        |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |        ${cosSql(dotSql("a.embedding", "b.embedding"), "a.n2", "b.n2")} AS cosine
        |      FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id)
        |SELECT vec_a, vec_b, cosine FROM p
        |WHERE cosine >= 0.4
        |ORDER BY vec_a, vec_b""".stripMargin,
    // q312: q234's probe/exact CTEs with one ivf branch per nprobe
    "q312_nprobe_sweep" -> {
      val nps = Seq(1, 2, 4, 8)
      val branches = nps.map { np =>
        s"""iv$np AS (SELECT query_id, neighbor_id FROM (
           |  SELECT ic.query_id, ic.neighbor_id,
           |    ROW_NUMBER() OVER (PARTITION BY ic.query_id
           |      ORDER BY ic.cosine DESC, ic.neighbor_id) AS rank
           |  FROM (SELECT pr0.query_id, asg.vec_id AS neighbor_id,
           |          ${cosSql(dotSql("pr0.qe", "asg.embedding"), "pr0.qn", "asg.n2")} AS cosine
           |        FROM pr0 JOIN asg ON pr0.prn <= $np
           |          AND pr0.cid = asg.cid
           |          AND asg.vec_id != pr0.query_id) ic) WHERE rank <= 10),
           |s$np AS (SELECT CAST($np AS BIGINT) AS nprobe,
           |        CAST(COUNT(*) AS BIGINT) AS sum_overlap
           |      FROM iv$np JOIN ex USING (query_id, neighbor_id))""".stripMargin
      }.mkString(",\n|")
      val union = nps.map(np => s"SELECT * FROM s$np")
        .mkString("\n|UNION ALL ")
      s"""$ivfAsgCtes,
        |q AS (SELECT vec_id AS query_id, embedding AS qe, n2 AS qn
        |      FROM v WHERE vec_id < 5),
        |pr0 AS (SELECT query_id, qe, qn, cent.cid,
        |          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
        |            ${cosSql(dotSql("qe", "ce"), "qn", "cn")} DESC, cid DESC) AS prn
        |        FROM q, cent),
        |ec AS (SELECT query_id, v.vec_id AS neighbor_id,
        |        ${cosSql(dotSql("qe", "v.embedding"), "qn", "v.n2")} AS cosine
        |      FROM q JOIN v ON v.vec_id != query_id),
        |er AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY cosine DESC, neighbor_id) AS rank FROM ec),
        |ex AS (SELECT query_id, neighbor_id FROM er WHERE rank <= 10),
        |net AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_exact FROM ex),
        |$branches
        |SELECT u.nprobe, u.sum_overlap, net.n_exact,
        |  CAST(u.sum_overlap AS DOUBLE) / CAST(net.n_exact AS DOUBLE)
        |    AS recall
        |FROM ($union) u CROSS JOIN net
        |ORDER BY u.nprobe""".stripMargin
    },
    // q295: base-only quantizer (the frozen-index invariant), both
    // assignment passes mirror asg0's tie rule (csim DESC, cid DESC)
    "q295_ivf_maintenance" ->
      s"""WITH v AS ($vSql),
        |vb AS (SELECT * FROM v WHERE vec_id % 10 <> 0),
        |vd AS (SELECT * FROM v WHERE vec_id % 10 = 0),
        |cent AS (SELECT vec_id AS cid, embedding AS ce, n2 AS cn FROM vb
        |         ORDER BY ${phashSql("CAST(vec_id AS VARCHAR)")}, vec_id
        |         LIMIT ${IvfK}),
        |ab0 AS (SELECT vb.vec_id, cent.cid,
        |          ROW_NUMBER() OVER (PARTITION BY vb.vec_id ORDER BY
        |            ${cosSql(dotSql("vb.embedding", "ce"), "vb.n2", "cn")} DESC,
        |            cid DESC) AS arn
        |        FROM vb, cent),
        |nb AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_base
        |       FROM ab0 WHERE arn = 1 GROUP BY 1),
        |ad0 AS (SELECT vd.vec_id, cent.cid,
        |          ROW_NUMBER() OVER (PARTITION BY vd.vec_id ORDER BY
        |            ${cosSql(dotSql("vd.embedding", "ce"), "vd.n2", "cn")} DESC,
        |            cid DESC) AS arn
        |        FROM vd, cent),
        |nd AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_delta
        |       FROM ad0 WHERE arn = 1 GROUP BY 1),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM v)
        |SELECT cent.cid, COALESCE(nb.n_base, 0) AS n_base,
        |  COALESCE(nd.n_delta, 0) AS n_delta,
        |  COALESCE(nb.n_base, 0) + COALESCE(nd.n_delta, 0) AS n_total,
        |  (COALESCE(nb.n_base, 0) + COALESCE(nd.n_delta, 0)) * ${IvfK}
        |    > 2 * nn.n AS needs_split
        |FROM cent LEFT JOIN nb ON nb.cid = cent.cid
        |     LEFT JOIN nd ON nd.cid = cent.cid
        |     CROSS JOIN nn
        |ORDER BY cent.cid""".stripMargin,
    // q284: q99's pair CTE verbatim as the edge set, then the q67
    // transitive-reachability labeling (LEAST(src, MIN(reachable)))
    "q284_semantic_dedup" ->
      s"""WITH RECURSIVE ${ivfAsgCtes.stripPrefix("WITH ")},
        |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b
        |      FROM asg a JOIN asg b ON a.cid = b.cid AND a.vec_id < b.vec_id
        |      WHERE ${cosSql(dotSql("a.embedding", "b.embedding"), "a.n2", "b.n2")} >= 0.4),
        |edges AS (SELECT vec_a AS src, vec_b AS dst FROM p
        |          UNION SELECT vec_b, vec_a FROM p),
        |reach(src, dst) AS (SELECT src, dst FROM edges
        |  UNION SELECT r.src, e.dst FROM reach r
        |        JOIN edges e ON r.dst = e.src AND e.dst <> r.src),
        |lab AS (SELECT src AS vec_id, LEAST(src, MIN(dst)) AS cluster_id
        |        FROM reach GROUP BY src)
        |SELECT vec_id, cluster_id,
        |  COUNT(*) OVER (PARTITION BY cluster_id) AS n_members,
        |  vec_id = cluster_id AS keep
        |FROM lab
        |ORDER BY vec_id""".stripMargin,
    // exact answer — the oracle stays the naive all-pairs formulation;
    // only the Spark-side physical plan is tiled
    // q317: same strict-fold dot; argmax tie resolved to MIN bench_id
    // via the float-equality join back to the max (identical doubles
    // in both engines, the q34/q35 determinism argument)
    "q317_semantic_decontam" ->
      s"""WITH v AS ($vSql),
        |b AS (SELECT vec_id AS bench_id, embedding AS be, n2 AS bn
        |      FROM v WHERE vec_id % 20 = 0),
        |c AS (SELECT * FROM v WHERE vec_id % 20 <> 0),
        |p AS (SELECT c.vec_id, b.bench_id,
        |        ${cosSql(dotSql("c.embedding", "b.be"), "c.n2", "b.bn")}
        |          AS cosine
        |      FROM c, b),
        |a AS (SELECT vec_id, MAX(cosine) AS max_cosine,
        |        CAST(SUM(CASE WHEN cosine >= 0.4 THEN 1 ELSE 0 END)
        |          AS BIGINT) AS n_bench_hits
        |      FROM p GROUP BY 1),
        |best AS (SELECT p.vec_id, MIN(p.bench_id) AS best_bench
        |         FROM p JOIN a ON p.vec_id = a.vec_id
        |           AND p.cosine = a.max_cosine
        |         GROUP BY 1)
        |SELECT a.vec_id, best.best_bench, a.max_cosine, a.n_bench_hits,
        |  a.max_cosine >= 0.4 AS contaminated
        |FROM a JOIN best ON a.vec_id = best.vec_id
        |ORDER BY a.vec_id""".stripMargin,
    "q34_embedding_neardup" ->
      s"""WITH v AS ($vSql),
        |p AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |        ${cosSql(dotSql("a.embedding", "b.embedding"), "a.n2", "b.n2")} AS cosine
        |      FROM v a JOIN v b ON a.vec_id < b.vec_id)
        |SELECT vec_a, vec_b, cosine FROM p
        |WHERE cosine >= 0.4
        |ORDER BY vec_a, vec_b""".stripMargin,
    // deliberately the NAIVE all-pairs theta-join: matching it proves
    // the Spark-side grid blocking lossless, boundary cases included
    "q263_grid_neighbors" ->
      """WITH p AS (SELECT vec_id, CAST(embedding[1] AS DOUBLE) AS x,
        |    CAST(embedding[2] AS DOUBLE) AS y FROM embeddings)
        |SELECT a.vec_id, COUNT(*) AS n_neighbors,
        |  COUNT(*) >= 10 AS is_core
        |FROM p a JOIN p b ON a.vec_id != b.vec_id
        |  AND ABS(a.x - b.x) < 0.03125 AND ABS(a.y - b.y) < 0.03125
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q260_matryoshka_recall" ->
      s"""WITH v AS ($vSql),
        |q AS (SELECT vec_id AS query_id, embedding AS qe, n2 AS qn FROM v WHERE vec_id < 5),
        |c AS (SELECT query_id, v.vec_id AS neighbor_id,
        |        ${cosSql(dotSql("qe", "v.embedding"), "qn", "v.n2")} AS cosine
        |      FROM q JOIN v ON v.vec_id != query_id),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY cosine DESC, neighbor_id) AS rank FROM c),
        |full10 AS (SELECT query_id, neighbor_id FROM r WHERE rank <= 10),
        |v8 AS (SELECT vec_id, emb, ${dotSql("emb", "emb")} AS n2
        |       FROM (SELECT vec_id, embedding[1:8] AS emb FROM embeddings)),
        |q8 AS (SELECT vec_id AS query_id, emb AS qe, n2 AS qn FROM v8 WHERE vec_id < 5),
        |c8 AS (SELECT query_id, v8.vec_id AS neighbor_id,
        |        ${cosSql(dotSql("qe", "v8.emb"), "qn", "v8.n2")} AS cosine
        |      FROM q8 JOIN v8 ON v8.vec_id != query_id),
        |r8 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY cosine DESC, neighbor_id) AS rank FROM c8),
        |t10 AS (SELECT query_id, neighbor_id FROM r8 WHERE rank <= 10),
        |h AS (SELECT t.query_id, COUNT(*) AS n_hits FROM t10 t
        |      JOIN full10 f ON t.query_id = f.query_id
        |        AND t.neighbor_id = f.neighbor_id GROUP BY 1),
        |k AS (SELECT query_id, COUNT(*) AS k FROM full10 GROUP BY 1)
        |SELECT k.query_id, CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
        |  CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / CAST(k.k AS DOUBLE)
        |    AS recall_at_10
        |FROM k LEFT JOIN h ON k.query_id = h.query_id
        |ORDER BY 1""".stripMargin,
    "q234_ann_recall" ->
      s"""$ivfAsgCtes,
        |q AS (SELECT vec_id AS query_id, embedding AS qe, n2 AS qn FROM v WHERE vec_id < 5),
        |pr0 AS (SELECT query_id, qe, qn, cent.cid,
        |          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
        |            ${cosSql(dotSql("qe", "ce"), "qn", "cn")} DESC, cid DESC) AS prn
        |        FROM q, cent),
        |pr AS (SELECT query_id, qe, qn, cid FROM pr0 WHERE prn <= ${IvfNProbe}),
        |ic AS (SELECT query_id, asg.vec_id AS neighbor_id,
        |        ${cosSql(dotSql("qe", "asg.embedding"), "qn", "asg.n2")} AS cosine
        |      FROM pr JOIN asg ON pr.cid = asg.cid AND asg.vec_id != pr.query_id),
        |ir AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY cosine DESC, neighbor_id) AS rank FROM ic),
        |ivf AS (SELECT query_id, neighbor_id FROM ir WHERE rank <= 10),
        |ec AS (SELECT query_id, v.vec_id AS neighbor_id,
        |        ${cosSql(dotSql("qe", "v.embedding"), "qn", "v.n2")} AS cosine
        |      FROM q JOIN v ON v.vec_id != query_id),
        |er AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY cosine DESC, neighbor_id) AS rank FROM ec),
        |ex AS (SELECT query_id, neighbor_id FROM er WHERE rank <= 10),
        |hits AS (SELECT i.query_id, COUNT(*) AS n_hits
        |         FROM ivf i JOIN ex e USING (query_id, neighbor_id)
        |         GROUP BY 1),
        |kk AS (SELECT query_id, COUNT(*) AS k FROM ex GROUP BY 1)
        |SELECT kk.query_id,
        |  CAST(COALESCE(h.n_hits, 0) AS BIGINT) AS n_hits,
        |  CAST(COALESCE(h.n_hits, 0) AS DOUBLE) / CAST(kk.k AS DOUBLE)
        |    AS recall_at_10
        |FROM kk LEFT JOIN hits h USING (query_id)
        |ORDER BY kk.query_id""".stripMargin,
    "q218_dim_stats" ->
      """WITH e AS (SELECT embedding,
        |    UNNEST(GENERATE_SERIES(1, LEN(embedding))) AS i
        |  FROM embeddings),
        |x AS (SELECT CAST(i - 1 AS BIGINT) AS dim,
        |    CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1048576 + 0.5)
        |      AS BIGINT) AS q
        |  FROM e),
        |s AS (SELECT dim, COUNT(*) AS n,
        |    SUM(q) AS sq, SUM(CAST(q AS HUGEINT) * q) AS sq2
        |  FROM x GROUP BY 1)
        |SELECT dim, n,
        |  CAST(CAST(sq AS VARCHAR) AS DOUBLE) / n / 1048576 AS mean,
        |  SQRT(CAST(CAST(n * sq2 - CAST(sq AS HUGEINT) * sq AS VARCHAR)
        |    AS DOUBLE)) / CAST(n * 1048576 AS DOUBLE) AS std
        |FROM s ORDER BY dim""".stripMargin,
    "q219_knn_label_purity" ->
      s"""WITH v AS (SELECT vec_id, label, embedding,
        |    ${dotSql("embedding", "embedding")} AS n2 FROM embeddings),
        |q AS (SELECT vec_id AS query_id, label AS qlabel, embedding AS qe,
        |    n2 AS qn FROM v WHERE vec_id < 20),
        |c AS (SELECT query_id, qlabel, v.vec_id AS neighbor_id,
        |    v.label AS nlabel,
        |    ${cosSql(dotSql("qe", "v.embedding"), "qn", "v.n2")} AS cosine
        |  FROM q JOIN v ON v.vec_id != query_id),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, neighbor_id) AS rank FROM c)
        |SELECT query_id, qlabel,
        |  CAST(SUM(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_same,
        |  CAST(SUM(CASE WHEN nlabel = qlabel THEN 1 ELSE 0 END) AS DOUBLE)
        |    / 10.0e0 AS purity
        |FROM r WHERE rank <= 10
        |GROUP BY 1, 2
        |ORDER BY query_id""".stripMargin,
    "q212_rank_fusion" ->
      s"""WITH v AS ($vSql),
        |q AS (SELECT vec_id AS query_id, embedding AS qe, n2 AS qn
        |  FROM v WHERE vec_id < 5),
        |c AS (SELECT query_id, v.vec_id AS neighbor_id,
        |    ${cosSql(dotSql("qe", "v.embedding"), "qn", "v.n2")} AS cosine,
        |    qn + v.n2 - 2.0e0 * ${dotSql("qe", "v.embedding")} AS l2sq
        |  FROM q JOIN v ON v.vec_id != query_id),
        |r AS (SELECT query_id, neighbor_id,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY cosine DESC, neighbor_id) AS rc,
        |    ROW_NUMBER() OVER (PARTITION BY query_id
        |      ORDER BY l2sq, neighbor_id) AS rl
        |  FROM c),
        |f AS (SELECT query_id, neighbor_id, rc, rl,
        |    1.0e0 / (60.0e0 + rc) + 1.0e0 / (60.0e0 + rl) AS rrf FROM r),
        |g AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY rrf DESC, neighbor_id) AS rank FROM f)
        |SELECT query_id, neighbor_id, CAST(rc AS BIGINT) AS rank_cos,
        |  CAST(rl AS BIGINT) AS rank_l2, rrf, CAST(rank AS BIGINT) AS rank
        |FROM g WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "q213_centroid_affinity" ->
      """WITH s AS (SELECT CAST(label AS BIGINT) AS label, embedding
        |  FROM embeddings),
        |e AS (SELECT label, embedding,
        |    UNNEST(GENERATE_SERIES(1, LEN(embedding))) AS i FROM s),
        |x AS (SELECT label, i - 1 AS dim,
        |    CAST(FLOOR(CAST(embedding[i] AS DOUBLE) * 1048576 + 0.5)
        |      AS BIGINT) AS q
        |  FROM e),
        |sums AS (SELECT label, dim, CAST(SUM(q) AS BIGINT) AS qs
        |  FROM x GROUP BY 1, 2),
        |dots AS (SELECT a.label AS la, b.label AS lb,
        |    SUM(CAST(a.qs AS HUGEINT) * b.qs) AS dp
        |  FROM sums a JOIN sums b
        |    ON a.dim = b.dim AND a.label <= b.label
        |  GROUP BY 1, 2)
        |SELECT d.la, d.lb,
        |  CAST(CAST(d.dp AS VARCHAR) AS DOUBLE) /
        |    SQRT(CAST(CAST(na.dp AS VARCHAR) AS DOUBLE) *
        |         CAST(CAST(nb.dp AS VARCHAR) AS DOUBLE)) AS cosine
        |FROM dots d
        |JOIN dots na ON na.la = d.la AND na.lb = d.la
        |JOIN dots nb ON nb.la = d.lb AND nb.lb = d.lb
        |WHERE d.la < d.lb
        |ORDER BY d.la, d.lb""".stripMargin,
    "q206_hard_negatives" ->
      s"""WITH v AS (SELECT vec_id, label, embedding,
        |    ${dotSql("embedding", "embedding")} AS n2 FROM embeddings),
        |q AS (SELECT vec_id AS query_id, label AS qlabel, embedding AS qe,
        |    n2 AS qn FROM v WHERE vec_id < 8),
        |c AS (SELECT query_id, qlabel, v.vec_id AS neg_id,
        |    v.label AS neg_label,
        |    ${cosSql(dotSql("qe", "v.embedding"), "qn", "v.n2")} AS cosine
        |  FROM q JOIN v ON v.label != qlabel),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |    ORDER BY cosine DESC, neg_id) AS rank FROM c)
        |SELECT query_id, qlabel, neg_id, neg_label, cosine, rank FROM r
        |WHERE rank <= 5
        |ORDER BY query_id, rank""".stripMargin,
    "q35_knn_bruteforce" ->
      s"""WITH v AS ($vSql),
        |q AS (SELECT vec_id AS query_id, embedding AS qe, n2 AS qn FROM v WHERE vec_id < 5),
        |c AS (SELECT query_id, v.vec_id AS neighbor_id,
        |        ${cosSql(dotSql("qe", "v.embedding"), "qn", "v.n2")} AS cosine
        |      FROM q JOIN v ON v.vec_id != query_id),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY cosine DESC, neighbor_id) AS rank FROM c)
        |SELECT query_id, neighbor_id, cosine, rank FROM r
        |WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin,
    "q36_ann_ivf" ->
      s"""$ivfAsgCtes,
        |q AS (SELECT vec_id AS query_id, embedding AS qe, n2 AS qn FROM v WHERE vec_id < 5),
        |pr0 AS (SELECT query_id, qe, qn, cent.cid,
        |          ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY
        |            ${cosSql(dotSql("qe", "ce"), "qn", "cn")} DESC, cid DESC) AS prn
        |        FROM q, cent),
        |pr AS (SELECT query_id, qe, qn, cid FROM pr0 WHERE prn <= ${IvfNProbe}),
        |c AS (SELECT query_id, asg.vec_id AS neighbor_id,
        |        ${cosSql(dotSql("qe", "asg.embedding"), "qn", "asg.n2")} AS cosine
        |      FROM pr JOIN asg ON pr.cid = asg.cid AND asg.vec_id != pr.query_id),
        |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id
        |        ORDER BY cosine DESC, neighbor_id) AS rank FROM c)
        |SELECT query_id, neighbor_id, cosine, rank FROM r
        |WHERE rank <= 10
        |ORDER BY query_id, rank""".stripMargin)
}
