package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, count, lit}
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions: the properties that make these
  * operators survive a 100 TB scale-up are not visible in row counts,
  * so pin them here — filter pushdown to the parquet scan, column
  * pruning, broadcast of small dimensions, heap-based top-k instead of
  * global sort, and shuffle-free bucketed joins. */
class PlanSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.test()
  private val sf = "/root/testdata/sf0.001"

  private def run(name: String): DataFrame = SparkEntry.queries(name)(spark, sf)

  private def formatted(df: DataFrame): String = {
    df.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
  }

  test("q02 filter is pushed down to the parquet scan") {
    val plan = formatted(run("q02_revenue_filter"))
    assert(plan.contains("PushedFilters:"), plan)
    assert(plan.contains("IsNotNull(l_discount)") ||
      plan.contains("GreaterThanOrEqual(l_discount"), plan)
  }

  test("q08 top-k plans TakeOrderedAndProject (no global sort) and prunes columns") {
    val df = run("q08_global_topk")
    val plan = formatted(df)
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // only the 3 projected columns reach the scan
    assert(plan.contains("ReadSchema") &&
      !plan.contains("o_comment"), plan)
  }

  test("q05 broadcasts the small dimension tables") {
    val plan = formatted(run("q05_multiway_join"))
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q09 argmax aggregates partially (no window shuffle-sort)") {
    val plan = formatted(run("q09_argmax_per_day"))
    assert(plan.contains("HashAggregate") || plan.contains("SortAggregate"), plan)
    assert(!plan.contains("Window"), plan)
  }

  private def countShuffles(p: SparkPlan): Int = {
    val self = p match { case _: ShuffleExchangeLike => 1; case _ => 0 }
    self + p.children.map(countShuffles).sum
  }

  /** The physical plan after shuffle insertion (AQE's initial plan). */
  private def preparedPlan(df: DataFrame): SparkPlan =
    df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }

  test("q49 bucketed join needs no join-side shuffle") {
    val df = run("q49_bucketed_join")
    // the only exchanges allowed are for the post-join aggregation and
    // the final orderBy — the join itself reads co-bucketed files
    val plan = df.queryExecution.sparkPlan
    val n = countShuffles(plan)
    assert(n <= 2, s"expected <=2 shuffles (agg + sort), got $n:\n$plan")
    // compare: the same join unbucketed shuffles both sides too
    val c = Tables.load(spark, sf, "customer")
    val o = Tables.load(spark, sf, "orders")
    val plain = c.join(o, c("c_custkey") === o("o_custkey"))
      .groupBy(org.apache.spark.sql.functions.col("c_mktsegment")).count()
    val plainShuffles = countShuffles(plain.queryExecution.sparkPlan)
    assert(n < plainShuffles || plainShuffles <= 2, // broadcast at sf0.001 can hide it
      s"bucketed=$n plain=$plainShuffles")
  }

  test("native text expressions stay inside whole-stage codegen on the scan") {
    val df = run("q32_simhash")
    df.collect() // finalize the AQE plan through this df's own execution
    val plan = df.queryExecution.executedPlan.toString
    // simhash32/phash_array appear inside a codegen'd (*) project
    assert(plan.linesIterator.exists(l =>
      l.contains("simhash32") && l.contains("*(")), plan)
  }

  test("q64 scan prunes to one partition of the date-partitioned store") {
    val plan = formatted(run("q64_partition_pruning"))
    assert(plan.contains("PartitionFilters: [isnotnull(day"), plan)
    // the day filter must be a partition filter, not a data filter
    assert(!plan.contains("PushedFilters: [IsNotNull(day)"), plan)
  }

  test("dynamic partition pruning: a filtered dim prunes fact partitions at runtime") {
    import org.apache.spark.sql.functions._
    run("q64_partition_pruning").collect() // materializes the partitioned store
    val fact = spark.read.parquet(graft.util.Scratch.tmpPath("graft_events_by_day", sf))
    val twoDays = fact.select(col("day")).distinct().orderBy(col("day"))
      .limit(2).collect().map(_.getDate(0))
    import spark.implicits._
    // the dim must be a FILE source: a local relation constant-folds
    // its filter away and leaves DPP nothing to hook
    TempDirs.withTempDir("graft_dpp_dim") { root =>
      val dimPath = s"$root/dim"
      Seq((twoDays(0), "keep"), (twoDays(1), "drop")).toDF("d", "flag")
        .write.mode("overwrite").parquet(dimPath)
      val dim = spark.read.parquet(dimPath)
      val joined = fact.join(dim.filter(col("flag") === "keep"),
        fact("day") === dim("d"))
        .groupBy(col("event_type")).count()
      val plan = formatted(joined)
      // the fact scan's PartitionFilters must carry a runtime
      // (dynamicpruning) predicate fed by the dim filter — at 10k
      // partitions this is the difference between 1 and all partitions
      assert(plan.contains("dynamicpruning"), plan)
    }
  }

  test("q35 knn broadcasts the query side (no shuffle of the corpus)") {
    val plan = formatted(run("q35_knn_bruteforce"))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
  }

  test("q206 hard negatives broadcast the anchors (corpus never shuffles)") {
    val plan = formatted(run("q206_hard_negatives"))
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
  }

  test("q204 attribution joins on the user key — range is residual, no cartesian") {
    val plan = formatted(run("q204_linear_attribution"))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q226 keyset pages plan as heap top-k (TakeOrderedAndProject), never a global sort") {
    val plan = formatted(run("q226_keyset_pagination"))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q210 trigram top-3 prunes per-context before the window shuffle (WindowGroupLimit)") {
    val plan = formatted(run("q210_trigram_lm"))
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("q34 exact pair join is tiled — no nested-loop or cartesian operator") {
    val plan = formatted(run("q34_embedding_neardup"))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q36 centroid sample is a heap top-k (fixed k, no full sort)") {
    val plan = formatted(run("q36_ann_ivf"))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q76 scd2 windows share one entity-key shuffle (lag + lead, one sort)") {
    val df = run("q76_scd2_history")
    val n = countShuffles(df.queryExecution.sparkPlan)
    // exchange 1: hash partition by o_custkey feeding BOTH window
    // passes; exchange 2: the final presentation orderBy. A plan that
    // re-shuffled between lag and lead would show 3.
    assert(n <= 2, s"expected <=2 shuffles, got $n:\n${df.queryExecution.sparkPlan}")
  }

  test("MinHashMerge aggregates partially (map-side combine before the shuffle)") {
    import org.apache.spark.sql.functions._
    // the udaf directly over a grouped frame — q74 itself spends its
    // plan on the cluster loop, so pin the aggregate shape in isolation
    val sigs = Tables.spread(Tables.load(spark, sf, "documents"))
      .select(col("doc_id"), call_function("minhash_sig",
        call_function("phash_mod_array",
          call_function("word_shingles", split(trim(col("text")), " +"),
            lit(3)))).as("sig"))
    val agged = sigs
      .groupBy((col("doc_id") % 7).as("g"))
      .agg(udaf(graft.functions.MinHashMerge,
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]())(
        col("sig")).as("msig"))
    val plan = formatted(agged)
    // ObjectHashAggregate appears twice: partial (before the exchange)
    // and final (after) — the mergeable-sketch contract in the plan
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2, plan)
    assert(plan.contains("partial_minhashmerge"), plan)
  }

  test("KmvMerge aggregates partially and q365's sketch path has no distinct shuffle") {
    import org.apache.spark.sql.functions._
    // the sketch rollup in isolation: map-side partial ObjectHashAggregate
    // must reduce each partition to <= K longs BEFORE the exchange —
    // the claim that lets q365 avoid a corpus-wide distinct at 100 TB
    val hashes = Tables.spread(Tables.load(spark, sf, "documents"))
      .select(col("source"), explode(call_function("phash_array",
        call_function("word_shingles", split(trim(col("text")), " +"),
          lit(3)))).as("h"))
    val sk = hashes.groupBy(col("source"))
      .agg(udaf(graft.functions.KmvMerge,
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Long]())(
        col("h")).as("ks"))
    val plan = formatted(sk)
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2, plan)
    assert(plan.contains("partial_kmvmerge"), plan)
    // no HashAggregate-based distinct anywhere in the sketch path
    assert(!plan.contains("distinct"), plan)
  }

  test("BottomKSample aggregates partially: q370's quantile path has no per-group sort shuffle") {
    import org.apache.spark.sql.functions._
    // map-side partial ObjectHashAggregate must reduce each partition
    // to <= K (hash, value) pairs per source BEFORE the exchange —
    // the claim that lets q370 answer per-group percentiles without
    // the corpus-wide per-group sort an exact pass needs
    val plan = formatted(ops.Validate.quantileSketch(spark, sf))
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2, plan)
    assert(plan.contains("partial_bottomksample"), plan)
    assert(!plan.toLowerCase.contains("window"), plan) // no rank/sort fallback
  }

  test("WeightedBottomKSample aggregates partially: q374's rollup shuffles <= 64 triples/group") {
    // same contract as q370: the map-side partial ObjectHashAggregate
    // must run BEFORE the exchange. The median walk's window is legal
    // here — it runs over <= 64 sample rows per group, not the corpus —
    // so the pin is on the partial aggregate, plus exactly ONE
    // lineitem scan (count, total weight and sample share the rollup)
    val plan = formatted(ops.Validate.weightedQuantileSketch(spark, sf))
    assert("ObjectHashAggregate".r.findAllIn(plan).size >= 2, plan)
    assert(plan.contains("partial_weightedbottomksample"), plan)
    assert("""\(\d+\) Scan parquet""".r.findAllIn(plan).size === 1, plan)
  }

  test("q65 grouping sets expand into ONE aggregate pass, not N scans") {
    val plan = formatted(run("q65_grouping_sets"))
    assert(plan.contains("Expand"), plan)
    // one scan of lineitem feeds all three grouping levels (the node
    // detail header "(n) Scan parquet" appears once per scan node)
    assert("""\(\d+\) Scan parquet""".r.findAllIn(plan).size === 1, plan)
  }

  test("q70 decontamination broadcasts the benchmark index") {
    val plan = formatted(run("q70_decontaminate"))
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q85 builds the Count-Min sketch with map-side partial aggregation") {
    val plan = formatted(run("q85_heavy_hitters"))
    // the fixed-size sketch partials combine before the single-partition
    // merge — the property that keeps the build pass scan-shaped
    assert(plan.contains("partial_countminagg"), plan)
    // the exact count after the prune still aggregates partially —
    // "partial_count(1)" exactly: bare "partial_count" would match the
    // "partial_countminagg" substring asserted above and pin nothing
    assert(plan.contains("partial_count(1)"), plan)
  }

  test("q81 bloom prune feeds a broadcast exact verify, never a shuffle of the corpus") {
    val plan = formatted(run("q81_bloom_decontaminate"))
    assert(plan.contains("partial_bloomagg"), plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q82 tf-idf top-3 prunes per-group before the window shuffle (WindowGroupLimit)") {
    val plan = formatted(run("q82_tfidf_topk"))
    // rank<=3 pushes a partial group-limit below the exchange: only ~3
    // rows per doc shuffle to the window, not the full (doc, tok) frame
    assert(plan.contains("WindowGroupLimit"), plan)
    assert(plan.contains("Partial"), plan)
  }

  test("q89 sliding distinct is explode-remap, never a range self-join") {
    val plan = formatted(run("q89_sliding_distinct"))
    // the <=7-day fan-out is a Generate(explode), and no non-equi join
    // machinery (nested loop) appears anywhere in the plan
    assert(plan.contains("Generate"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
  }

  test("q90 percentile rank scans the corpus twice and joins the broadcast CDF") {
    val plan = formatted(run("q90_percentile_rank"))
    // histogram pass + final join pass — NOT a third scan for the count
    assert("""\(\d+\) Scan parquet""".r.findAllIn(plan).size === 2, plan)
    // the CDF comes back as a broadcast join, not a corpus-wide window
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q93 global rank is two-level: bkt-partitioned window + broadcast offsets") {
    val plan = formatted(run("q93_shuffle_order"))
    // the corpus row_number window MUST be partitioned by the bucket —
    // an unpartitioned spec here is the single-partition global sort
    // this query exists to avoid
    assert("""row_number\(\) windowspecdefinition\(bkt#\d+L, sk#"""
      .r.findFirstIn(plan).isDefined, plan)
    // the cumulative offsets arrive as a broadcast join, not a shuffle
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q83 z-order audit is one shuffle over a codegen'd interleave") {
    val df = run("q83_zorder_layout")
    val plan = formatted(df)
    // the 20-term Morton interleave stays builtin arithmetic (no UDF
    // boundary): shift/mask terms visible in the aggregate's grouping
    assert(plan.contains("shiftright"), plan)
    val shuffles = countShuffles(preparedPlan(df))
    // one hash shuffle for the bucket aggregate + one range for ORDER BY
    assert(shuffles <= 2, s"$shuffles shuffles\n$plan")
  }

  test("q98 checksums aggregate partially: each table shuffles ONE row, not raw rows") {
    val df = run("q98_table_checksums")
    val plan = formatted(df)
    // map-side combine: PARTIAL bit_xor before each exchange (the
    // substring "bit_xor" alone would also match the final-mode
    // aggregate and never fail)
    assert(plan.contains("partial_bit_xor"), plan)
    val shuffles = countShuffles(preparedPlan(df))
    // per table: ONE single-row aggregate exchange, plus the spread()
    // round-robin that exists only because fixture tables are
    // single-file parquet (a real multi-split table scans parallel and
    // drops that exchange) — and nothing for the union
    assert(shuffles <= 10, s"$shuffles shuffles\n$plan")
  }

  test("q101 quantization is one narrow pass: no shuffle, no UDF boundary") {
    val df = run("q101_quantize_int8")
    val plan = formatted(df)
    assert(!plan.contains("BatchEvalPython") && !plan.contains("ScalaUDF"), plan)
    val shuffles = countShuffles(preparedPlan(df))
    // spread()'s repartition + the final ORDER BY range exchange only;
    // the quantization itself never exchanges data
    assert(shuffles <= 2, s"$shuffles shuffles\n$plan")
  }

  test("q107 edit-distance candidates meet in an equi-join, never a theta join") {
    val plan = formatted(run("q107_edit_distance_join"))
    // the whole point of deletion-neighborhood blocking: the Theta(n^2)
    // nested-loop q60 runs is replaced by a hash/merge equi-join on the
    // variant key
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("SortMergeJoin") || plan.contains("ShuffledHashJoin")
      || plan.contains("BroadcastHashJoin"), plan)
  }

  test("q110 bloom prune filters the fact below the dim equi-join") {
    val plan = formatted(run("q110_bloom_pruned_join"))
    // the prune is a Filter over the one-row broadcast bitset join —
    // no shuffle of unpruned fact rows, and the exact join stays equi
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("shiftrightunsigned"), plan) // the probe bits
    val joinIdx = plan.indexOf("BroadcastHashJoin")
    val probeIdx = plan.indexOf("shiftrightunsigned")
    assert(joinIdx >= 0 && probeIdx > joinIdx,
      s"bloom probe not below the equi-join\n$plan")
  }

  test("q109/q111/q114 moment statistics aggregate partially (map-side combine)") {
    for (q <- Seq("q109_trend_regression", "q111_anomaly_days",
        "q114_group_correlation")) {
      val plan = formatted(run(q))
      // sufficient statistics are monoids: a partial sum/count must
      // appear below the group exchange
      assert(plan.contains("partial_sum") || plan.contains("partial_count"),
        s"$q lacks partial aggregation\n$plan")
    }
  }

  test("q113 pair enumeration plans no nested-loop or cartesian operator") {
    val plan = formatted(run("q113_frequent_pairs"))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q115 OHLC bars are one partial-aggregable pass (no window operator)") {
    val plan = formatted(run("q115_ohlc_bars"))
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("partial_min") || plan.contains("partial_max"), plan)
  }

  test("q123/q131 broadcast the one-row total instead of a global window") {
    for (q <- Seq("q123_revenue_share", "q131_skew_profile")) {
      val plan = formatted(run(q))
      // the anti-pattern would be SUM() OVER () — a single-partition
      // Window; the shape here must be a broadcast join of an aggregate
      assert(!plan.contains("Window"), s"$q uses a window\n$plan")
      assert(plan.contains("BroadcastNestedLoopJoin") ||
        plan.contains("BroadcastHashJoin"), s"$q total not broadcast\n$plan")
    }
  }

  test("q127 integrity audit plans anti joins, never except/distinct blowups") {
    val plan = formatted(run("q127_referential_integrity"))
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q139 median selection never range-partitions (no global sort)") {
    val plan = formatted(run("q139_median_selection"))
    // the whole point of two-level selection: the only sorts are the
    // bucket-local window sorts — a global ORDER BY would show a
    // rangepartitioning exchange
    assert(!plan.contains("rangepartitioning"), plan)
    assert(plan.contains("partial_count") || plan.contains("partial_sum"), plan)
  }

  test("q147 RFM quartiles never global-sort the customer set") {
    val plan = formatted(run("q147_rfm_segments"))
    // the naive NTILE() OVER (ORDER BY metric) would rangepartition on a
    // raw metric column; only the ≤64-row segment presentation sort may
    for (bad <- Seq("rangepartitioning(_v", "rangepartitioning(last_dt",
        "rangepartitioning(freq", "rangepartitioning(cents",
        "rangepartitioning(money"))
      assert(!plan.contains(bad), plan)
    assert(plan.contains("rangepartitioning(r_score"), plan)
  }

  test("q145 vector profile stays scan-side (no explode, presentation sort only)") {
    val df = run("q145_vector_profile")
    val n = countShuffles(df.queryExecution.sparkPlan)
    assert(n <= 1, s"$n shuffles\n${df.queryExecution.sparkPlan}")
    assert(!formatted(df).contains("Generate"), formatted(df))
  }

  test("q141 transition matrix broadcasts the per-source totals") {
    val plan = formatted(run("q141_transition_matrix"))
    assert(plan.contains("BroadcastHashJoin"), plan)
    // one user-key shuffle for the lead window + the pair/total aggs;
    // the totals join must NOT be a shuffle join
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q149 weighted median never range-partitions (no global sort)") {
    val plan = formatted(run("q149_weighted_median"))
    assert(!plan.contains("rangepartitioning"), plan)
    assert(plan.contains("partial_sum"), plan)
  }

  test("q144 BFS frontier joins are never nested-loop") {
    val plan = formatted(run("q144_bfs_seed_distance"))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q150 chi-square margins come back as broadcast joins") {
    val plan = formatted(run("q150_chi_square"))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("round-7 mining/graph/lateral queries never plan a cartesian product") {
    // (broadcast one-row totals legitimately plan BroadcastNestedLoop —
    // only a true CartesianProduct is the scale defect)
    for (q <- Seq("q151_association_rules", "q158_temporal_cooccurrence",
        "q163_day_overlap", "q165_ltv_triangle", "q172_lateral_topn",
        "q156_funnel_latency", "q170_clustering_coefficient",
        "q246_link_prediction", "q248_autocorrelation")) {
      val plan = formatted(run(q))
      assert(!plan.contains("CartesianProduct"), s"$q\n$plan")
    }
  }

  test("q169 re-aggregates the leaf and broadcasts dimensions/totals") {
    val plan = formatted(run("q169_hierarchy_share"))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q116/q125/q132 reuse one partitioning across window and rollup") {
    // lead/forward-min/rolling-moment windows must not add an exchange
    // beyond their key shuffle + the presentation orderBy
    for ((q, maxShuffles) <- Seq("q116_twap" -> 3, "q125_clean_conversions" -> 3,
        "q132_rolling_correlation" -> 3)) {
      val df = run(q)
      val n = countShuffles(df.queryExecution.sparkPlan)
      assert(n <= maxShuffles, s"$q: $n shuffles\n${df.queryExecution.sparkPlan}")
    }
  }

  test("AQE splits a skewed partition on the unsalted join (q50's recommended twin)") {
    import org.apache.spark.sql.functions.{col, when}
    // q50 demonstrates MANUAL salting; the engine's recommended path for
    // skew is AQE's runtime skew-join split. Pin that it actually fires:
    // a hot-key sort-merge join re-plans with skew=true partitions.
    val keys = Seq("spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val saved = keys.map(k => k -> scala.util.Try(spark.conf.get(k)).toOption)
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      // local-scale thresholds: the default 256 MB gate is sized for a
      // cluster; the MECHANISM under test is scale-independent
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "4KB")
      // hot key 0 carries 50k of 60k left rows; right side is uniform
      val left = spark.range(60000).select(
        when(col("id") < 50000, 0L).otherwise(col("id")).as("k"),
        col("id").as("v"))
      val right = spark.range(60000).select(col("id").as("k"),
        (col("id") * 2).as("w"))
      val joined = left.join(right, "k")
      // materialize through THIS DataFrame's QueryExecution (a write
      // would spawn a fresh one and leave this plan un-adapted)
      assert(joined.queryExecution.toRdd.count() === 60000L)
      val plan = preparedPlan(joined).toString
      assert(plan.contains("skew=true"),
        s"AQE did not split the skewed partition:\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("q177 feature hashing combines map-side before the (doc,dim) shuffle") {
    val plan = formatted(run("q177_feature_hashing"))
    // the signed counts are a sum monoid: partials must fold before
    // the exchange or the full exploded token stream shuffles
    assert(plan.contains("partial_sum"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("q180 forget cascade broadcasts every hop (facts never shuffle)") {
    val plan = formatted(run("q180_forget_cascade"))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q272 span dedup joins on the window-hash key (no nested loop, semi join)") {
    val plan = formatted(run("q272_span_dedup"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("LeftSemi"), plan)
    // window hashing is the native one-pass expression, not a HOF chain
    assert(plan.contains("span_window_hashes"), plan)
    assert(!plan.contains("ArrayFilter"), plan)
  }

  test("q355 boilerplate shuffles the 8-byte chunk hash, never the chunk string") {
    val plan = formatted(run("q355_source_boilerplate"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    // the chunk string is hashed BEFORE any exchange: xxhash64 appears
    // in the plan, and no post-shuffle projection re-materializes a
    // chunk text column (array_join feeds the hash only)
    assert(plan.contains("xxhash64"), plan)
    // n_docs is an O(sources) aggregate joined in by broadcast
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q273 curriculum ranks without a single-partition corpus window") {
    val plan = formatted(run("q273_curriculum_stages"))
    // the per-doc row_number window must be partitioned by the bucket
    assert("""row_number\(\) windowspecdefinition\(_bkt#\d+L"""
      .r.findFirstIn(plan).isDefined, plan)
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q276 heldout coverage probes the train vocabulary with a semi join") {
    val plan = formatted(run("q276_heldout_coverage"))
    assert(plan.contains("LeftSemi"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q277 effective yield never re-expands pairs (equi joins only)") {
    val plan = formatted(run("q277_effective_yield"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q183 record linkage joins on the block key (no nested loop)") {
    val plan = formatted(run("q183_record_linkage"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("runtime bloom-filter join injection prunes the fact side of a selective join") {
    // Spark's AQE-era runtime filtering (spark.sql.optimizer.runtime.
    // bloomFilter.*): a selective dim filter should inject a
    // bloom-filter subquery probing the fact side before its shuffle —
    // the engine-native cousin of q110's explicit Bloom prune.
    val s = spark
    val prev = s.conf.getOption(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
    val prevEnabled = s.conf.getOption(
      "spark.sql.optimizer.runtime.bloomFilter.enabled")
    val prevBroadcast = s.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    // at sf0.001 both sides are far below the production thresholds
    // (app-side scan >= 10GB); zero them so the rewrite fires at test
    // scale the way it would on a TB-scale fact table
    s.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "10GB")
    s.conf.set(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val li = Tables.load(s, sf, "lineitem")
      val ord = Tables.load(s, sf, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
      val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      val plan = j.queryExecution.optimizedPlan.toString
      assert(plan.contains("bloom_filter") || plan.contains("BloomFilter"),
        plan.take(4000))
    } finally {
      // restore every conf we touched to its pre-test value (not a
      // hardcoded default) so later suites see an untouched session
      def restore(key: String, saved: Option[String]): Unit = saved match {
        case Some(v) => s.conf.set(key, v)
        case None    => s.conf.unset(key)
      }
      restore("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      s.conf.unset(
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      restore("spark.sql.optimizer.runtime.bloomFilter.enabled", prevEnabled)
      restore("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", prev)
    }
  }

  test("CACHE TABLE serves the second read from the in-memory columnar store") {
    val s = spark
    Tables.load(s, sf, "nation").createOrReplaceTempView("graft_nation_c")
    s.sql("CACHE TABLE graft_nation_c")
    try {
      val plan = formatted(s.table("graft_nation_c")
        .groupBy(col("n_regionkey")).agg(count(lit(1))))
      assert(plan.contains("InMemoryTableScan") ||
        plan.contains("InMemoryRelation"), plan)
    } finally s.sql("UNCACHE TABLE graft_nation_c")
  }

  test("q265 shuffle_hash hint is honored (not silently ignored)") {
    val plan = formatted(run("q265_join_hints"))
    assert(plan.contains("ShuffledHashJoin"), plan)
  }

  test("q263 grid neighbors joins on the cell key (no nested loop)") {
    val plan = formatted(run("q263_grid_neighbors"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q184 replica diff pre-aggregates each side to 256 bucket rows") {
    val plan = formatted(run("q184_replica_bucket_diff"))
    assert(plan.contains("partial_bit_xor"), plan)
    assert(plan.contains("partial_count"), plan)
  }

  test("q185 class centroids aggregate partially (integer monoid)") {
    val plan = formatted(run("q185_class_centroids"))
    assert(plan.contains("partial_sum"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("q176 decay score pushes a group-limit below the rank shuffle") {
    // rn <= 8 must become a WindowGroupLimit: only ~8 rows per customer
    // survive to the window sort, not the full order history
    val plan = formatted(run("q176_decay_recency_score"))
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("q186 novelty joins the inverted index on the hash key (no nested loop)") {
    val plan = formatted(run("q186_novelty_score"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("partial_min"), plan)
  }

  test("q282/q283 repetition signals aggregate partially and never shuffle text") {
    Seq("q282_repeated_bigram_mass", "q283_simpson_diversity").foreach { q =>
      val plan = formatted(run(q))
      assert(plan.contains("partial_count") || plan.contains("partial_sum"),
        s"$q\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q\n$plan")
    }
  }

  test("q285 incremental dedup probes the band index on equi keys (no nested loop)") {
    val plan = formatted(run("q285_incremental_dedup"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q290 copurchase pairs ride the basket equi-join; top-20 is a bounded sort") {
    val plan = formatted(run("q290_copurchase_pairs"))
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q293 abc classification's only unpartitioned window runs over bucket rows") {
    // the per-row cumulative sum must ride the bucket-partitioned
    // window; the O(buckets) offset window is the single exception
    val plan = formatted(run("q293_abc_classification"))
    assert(plan.contains("partial_sum"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q292 quantile normalize maps through equi-joins only") {
    val plan = formatted(run("q292_quantile_normalize"))
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q287/q289 histogram-CDF audits pre-aggregate before their windows") {
    Seq("q287_iqr_outliers", "q289_wasserstein_drift").foreach { q =>
      val plan = formatted(run(q))
      assert(plan.contains("partial_count"), s"$q\n$plan")
    }
  }

  test("q295/q298 broadcast their O(k)/O(types) model sides to the eval joins") {
    Seq("q295_ivf_maintenance", "q298_markov_eval").foreach { q =>
      val plan = formatted(run(q))
      assert(plan.contains("BroadcastHashJoin") ||
        plan.contains("BroadcastExchange"), s"$q\n$plan")
      assert(!plan.contains("CartesianProduct"), s"$q\n$plan")
    }
  }

  test("q300/q301 are single-pass projections + one partial-agg rollup") {
    Seq("q300_local_hour_profile", "q301_lang_margin").foreach { q =>
      val plan = formatted(run(q))
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"), s"$q\n$plan")
    }
  }

  test("q302 pair evidence joins the inverted index on the hash key (no nested loop)") {
    val plan = formatted(run("q302_pair_evidence"))
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("partial_count") || plan.contains("partial_min"), plan)
  }

  test("q314/q318 dup audits keep every join keyed (no nested loop)") {
    Seq("q314_quality_dup_audit", "q318_dedup_loser_matrix").foreach { q =>
      val plan = formatted(run(q))
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"), s"$q\n$plan")
    }
  }

  test("q315 gate kappa is one scan + one partial-aggregable rollup to a single row") {
    val df = run("q315_gate_kappa")
    val plan = formatted(df)
    assert(!plan.contains("Join"), plan)
    assert(plan.contains("partial_sum") || plan.contains("HashAggregate"), plan)
    assert(countShuffles(df.queryExecution.executedPlan) <= 2, plan)
  }

  test("q317 semantic decontam broadcasts the bench slice; corpus side never shuffles pre-agg") {
    val plan = formatted(run("q317_semantic_decontam"))
    // brute-force regime: bench is the broadcast side (q35's shape)
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
    assert(plan.contains("partial_max") || plan.contains("partial_sum"), plan)
  }

  test("q377 priority sample plans a heap top-k over the corpus, never a global sort") {
    val plan = formatted(run("q377_priority_sample"))
    assert(plan.contains("TakeOrderedAndProject"), plan)
    // the corpus-wide Sort would be the 100 TB killer; the only sorts
    // allowed are over the k+1 surviving rows (the rank/tau window and
    // the final ORDER BY rank)
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("q378 stratified sample prunes per-stratum before the shuffle (WindowGroupLimit)") {
    val plan = formatted(run("q378_stratified_priority_sample"))
    // the per-stratum `row_number <= k+1` is scale-safe only because
    // WindowGroupLimit turns it into a per-partition heap BEFORE the
    // source shuffle; without the rewrite each stratum is one task
    // sorting the whole stratum — the q210/q82/q172 pin, applied here
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("q379/q381 media probes are keyed band joins; q376 audit stays join-free") {
    // delta-vs-corpus must ride the (band, bkey) equi-join — a plan
    // that degrades to a nested loop pays |delta| x |corpus| decodes'
    // worth of pairs at 100 TB
    for (q <- Seq("q379_image_incremental_dedup",
        "q381_audio_incremental_dedup",
        // q383's clip-pair candidates must ride the (frame_idx, band,
        // bkey) equi-join — all-pairs over clips is the 100 TB killer
        "q383_clip_near_dup",
        // q387's bounded-offset variant keeps the frame key IN the
        // equi-join (the probe side fans to 5 offset keys) — the
        // trim tolerance must never degrade to all-pairs
        "q387_clip_near_dup_trimmed")) {
      val plan = formatted(run(q))
      assert(!plan.contains("CartesianProduct") &&
        !plan.contains("BroadcastNestedLoopJoin"), s"$q: $plan")
    }
    val p376 = formatted(run("q376_banding_audit256"))
    assert(!p376.contains("Join"), p376)
  }

  test("q375 quad-band join is keyed; q376 audit is join-free partial aggregation") {
    val p375 = formatted(run("q375_image_neardup_quad256"))
    assert(!p375.contains("CartesianProduct") &&
      !p375.contains("BroadcastNestedLoopJoin"), p375)
    // the audit never forms a pair: two aggregations, zero joins
    val p376 = formatted(run("q376_banding_audit256"))
    assert(!p376.contains("Join"), p376)
    assert(p376.contains("partial_count") || p376.contains("Partial"), p376)
  }

  test("q329/q333/q334/q341/q342 keep every join keyed (no nested loop/cartesian on data)") {
    Seq("q329_delta_ingest_report", "q333_interleave_order",
      "q334_interleaved_packing", "q341_weekly_drift").foreach { q =>
      val plan = formatted(run(q))
      assert(!plan.contains("CartesianProduct"), s"$q\n$plan")
      assert(!plan.contains("BroadcastNestedLoopJoin") ||
        q == "q341_weekly_drift", // q341's grid crosses the TINY value
                                  // histogram with O(weeks) rows only
        s"$q\n$plan")
    }
  }

  test("q341's only unpartitioned window runs over the value histogram, not raw rows") {
    val plan = formatted(run("q341_weekly_drift"))
    // the global CDF window sorts O(distinct cents) histogram rows;
    // every other window partitions by week
    assert(plan.contains("Window"), plan)
    // raw-event aggregations are partial (map-side combine)
    assert(plan.contains("partial_count") || plan.contains("HashAggregate"), plan)
  }

  test("q340 jdbc scan is 4-way partitioned and pushes the filter into the database") {
    val df = run("q340_jdbc_partitioned_scan")
    val plan = formatted(df)
    assert(plan.contains("JDBCRelation"), plan)
    assert(plan.contains("numPartitions=4"), plan)
    // the predicate reaches the JDBC source, not the executors
    assert(plan.contains("PushedFilters") &&
      plan.toLowerCase.contains("greaterthan(o_orderkey,100)"), plan)
  }

  test("q320 reshard plan is join-free: constant-struct successor arithmetic + one rollup") {
    val df = run("q320_reshard_plan")
    val plan = formatted(df)
    assert(!plan.contains("Join") && !plan.contains("CartesianProduct"), plan)
    assert(plan.contains("Union"), plan)
  }

  test("index-backed ingest probes: corpus side is a parquet scan of the index — zero corpus shingle/decode work") {
    // the scale contract of ingestBatchIndexed (VERDICT r15 #1): the
    // probe plans may touch the BATCH source and the INDEX files, and
    // nothing else — a corpus-side recompute would (a) scan the corpus
    // parquet and (b) add a second render chain (SerializeFromObject)
    // to the image plan. Both are pinned absent here.
    TempDirs.withTempDir("graft_pp") { root =>
      val corp = s"$root/corpus"
      val ix = s"$root/index"
      graft.Tables.load(spark, sf, "documents").limit(40)
        .write.mode("overwrite").parquet(corp)
      graft.ops.Pipeline.saveIngestIndexes(spark, corp, ix)
      val batch = graft.Tables.load(spark, sf, "documents")
        .filter(col("doc_id") > 100).limit(5)
        .select(col("doc_id"), col("text"))
      val tp = graft.dedup.Dedup.textProbeAgainst(batch,
        spark.read.parquet(s"$ix/text_bands"),
        spark.read.parquet(s"$ix/text_shingles"))
      val tPlan = formatted(tp)
      assert(tPlan.contains(s"$ix/text_bands") &&
        tPlan.contains(s"$ix/text_shingles"),
        "text probe must read the persisted index")
      assert(!tPlan.contains(corp),
        "text probe must never scan the corpus parquet")
      assert(!tPlan.contains("CartesianProduct") &&
        !tPlan.contains("BroadcastNestedLoopJoin"), tPlan)
      val ip = graft.multimodal.Multimodal.bandProbeVerdict(
        graft.multimodal.Multimodal.imageBandsOf(batch.select(col("doc_id"))),
        spark.read.parquet(s"$ix/image_bands"),
        batch.select(col("doc_id").as("new_doc")), Seq("ahash"), 3)
      val iPlan = formatted(ip)
      assert(iPlan.contains(s"$ix/image_bands"), iPlan.take(2000))
      assert(!iPlan.contains(corp),
        "image probe must never scan the corpus parquet")
      // the batch side's render chain is present; a corpus-side decode
      // is impossible without scanning the corpus path (pinned absent
      // above) — every index row enters as parquet columns
      assert(iPlan.contains("SerializeFromObject"), iPlan)
      assert(!iPlan.contains("CartesianProduct") &&
        !iPlan.contains("BroadcastNestedLoopJoin"), iPlan)
      // stage-1/3 key probes (VERDICT r15 #1): the keys sidecar must
      // NEVER shuffle — the probe is a broadcast LEFT-SEMI from the
      // index side (index scan streams through the join; only the tiny
      // hit set shuffles in the post-semi defensive distinct). A plain
      // left join would plan a sort-merge join: an Exchange UNDER the
      // join with the whole corpus sidecar in its subtree.
      for (key <- Seq("doc_id", "ck")) {
        val probe = if (key == "doc_id") batch.select(col("doc_id"))
          else batch.select(
            graft.dedup.Dedup.contentKey(col("text")).as("ck"))
        val hits = graft.ops.Pipeline.indexHits(
          spark.read.parquet(s"$ix/keys"), probe, key, "hit")
        val plan = hits.queryExecution.sparkPlan
        val semis = plan.collect {
          case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
            if j.joinType == org.apache.spark.sql.catalyst.plans.LeftSemi => j
        }
        assert(semis.nonEmpty, s"$key probe must plan a broadcast " +
          s"left-semi join:\n$plan")
        val streamed = semis.head.left
        assert(streamed.collect {
          case s: org.apache.spark.sql.execution.FileSourceScanExec
            if s.relation.location.rootPaths.exists(_.toString.contains(ix))
            => s
        }.nonEmpty, s"the semi join's streamed side must be the index " +
          s"scan:\n$plan")
        assert(countShuffles(streamed) === 0,
          s"no Exchange may sit between the keys-index scan and its " +
            s"semi join ($key):\n$plan")
        assert(countShuffles(plan) <= 1, // the post-semi tiny distinct
          s"the $key probe may shuffle only the tiny hit set:\n$plan")
      }
    }
  }

  test("gas parse is one narrow pass: no join, no broadcast, no exchange") {
    import spark.implicits._
    val pages = Seq((1L, graft.ingest.GasPrices.fixtureHtml), (2L, null: String))
      .toDF("page_id", "html")
    val plan = preparedPlan(
      graft.ingest.GasPrices.parse(pages, java.time.LocalDate.of(2023, 4, 1)))
    assert(plan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j
    }.isEmpty, plan.toString)
    assert(plan.collect {
      case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeLike => b
    }.isEmpty, plan.toString)
    assert(countShuffles(plan) === 0, plan.toString)
  }

  test("gas writeCanonical's input shuffles once, hash-partitioned on date") {
    import spark.implicits._
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    val gp = graft.ingest.GasPrices
    val day = java.time.LocalDate.of(2023, 4, 1)
    val pages = Seq((1L, gp.fixtureHtml)).toDF("page_id", "html")
    // two days, so `date` is a column (one parsed day folds it to a
    // literal and the shuffle to SinglePartition — still one shuffle)
    val twoDays = gp.parse(pages, day).union(gp.parse(pages, day.plusDays(1)))
    val plan = preparedPlan(gp.keepLast(twoDays))
    val shuffles = plan.collect { case s: ShuffleExchangeLike => s }
    assert(shuffles.size === 1, plan.toString)
    shuffles.head.outputPartitioning match {
      case h: HashPartitioning =>
        assert(h.expressions.flatMap(_.references.map(_.name)) === Seq("date"),
          plan.toString)
      case other => fail(s"expected hashpartitioning(date), got $other\n$plan")
    }
    val oneDay = preparedPlan(gp.keepLast(gp.parse(pages, day)))
    assert(countShuffles(oneDay) === 1, oneDay.toString)
  }

  test("gas topOfDay over the date-partitioned store plans no exchange") {
    import spark.implicits._
    val gp = graft.ingest.GasPrices
    val day = java.time.LocalDate.of(2023, 4, 1)
    TempDirs.withTempDir("graft-plan-gas") { root =>
      val dir = root.toString
      gp.writeCanonical(gp.parse(Seq((1L, gp.fixtureHtml)).toDF("page_id", "html"), day), dir)
      val plan = preparedPlan(gp.topOfDay(spark.read.parquet(dir), day))
      assert(countShuffles(plan) === 0, plan.toString)
    }
  }
}
