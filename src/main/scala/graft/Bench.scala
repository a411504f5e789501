package graft
import org.apache.spark.sql.SparkSession
import graft.util.Json

/** Benchmark entry point (driver-run per round → BENCH_r{N}.json).
  *
  * Each query is fully materialized through the `noop` sink — unlike
  * `count()`, which would let Catalyst prune every projected column and
  * time only a metadata row-count. One warmup pass (JIT + codegen cache +
  * page cache) precedes the measured passes, standard JVM benchmarking
  * practice; reported numbers are the warm steady-state a long-running
  * cluster job sees.
  *
  * MEASUREMENT PROTOCOL (since r11): each query is measured TWICE and
  * the per-query MINIMUM is reported. The host's run-to-run noise is
  * one-sided — a GC pause, a competing process, a page-cache miss only
  * ever ADD time — so min-of-2 estimates the steady state far tighter
  * than a single draw (measured single-pass full-bench variance was
  * ±10–15%, as large as a typical round's true delta; SCALE.md §2).
  * The two passes run as SEPARATE FULL SWEEPS (pass 1 over all
  * queries, then pass 2), not back-to-back per query: host noise is
  * WINDOW-correlated (a slow few minutes inflates everything running
  * in them — measured: two same-code runs differed uniformly ×1.16,
  * median per-query ratio, zero outliers), and back-to-back passes
  * share the window so the min keeps the inflation. Sweep-interleaved
  * passes put each query's two draws ~half a run apart, so the min
  * drops any one bad window. Every query is idempotent under re-run
  * by contract (overwrite modes, pid-keyed scratch dirs), so the
  * extra pass is safe. */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.forMain("ERROR")

    // Left(error) on failure — a failed query must NOT contribute to the
    // total (the old -1.0 sentinel *lowered* it, flattering the bench)
    // and its cause must be visible in the emitted JSON.
    def run(name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Either[String, Double] = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        Right((System.nanoTime() - t0) / 1e9)
      } catch { case e: Throwable =>
        Left(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(200)}")
      }
    }

    // Optional comma-separated filter for local iteration, e.g.
    // SPARK_GRAFT_QUERIES=q01_pricing_summary,q33_ngram_jaccard
    val filter = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => filter.forall(_.contains(n)))
    // Between queries every result is fully materialized, so stale
    // persisted blocks are safe to drop (rationale: GraftSession.dropStaleBlocks)
    def dropStaleBlocks(): Unit = GraftSession.dropStaleBlocks(spark)
    // One stderr line per sweep with its fixed costs: the Spark jobs
    // it started, the processes the JVM forked (a local filesystem that
    // forks per file shows here) and the generated classes Spark
    // compiled (a warm sweep that still compiles is missing the codegen
    // cache; GraftSession's scale notes cover both).
    def sweep[T](label: String)(body: => T): T = {
      import graft.util.Probes
      val compiles = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      val before = compiles.getCount
      val ((r, jobs), forks) = Probes.forks(Probes.allJobs(spark)(body))
      val byCommand = forks.groupBy(c => new java.io.File(c.trim.split("\\s+").head).getName)
        .toSeq.sortBy(-_._2.size).map { case (c, n) => s"$c ${n.size}" }.mkString(", ")
      System.err.println(s"bench sweep $label: ${compiles.getCount - before} generated classes " +
        s"compiled, $jobs Spark jobs, ${forks.size} processes forked ($byCommand)")
      r
    }
    sweep("warm-up")(names.foreach { n => run(n, SparkEntry.queries(n)); dropStaleBlocks() })
    // Collect garbage left by the previous query before each measured
    // run: otherwise the pair-heavy joins (q33/q34) fill the old gen
    // and their major-GC pauses land in whichever query runs next
    // (observed: q01 1.3s alone vs 11s when measured after them).
    def measured(n: String): Either[String, Double] = {
      System.gc()
      val r = run(n, SparkEntry.queries(n))
      dropStaleBlocks()
      r
    }
    // two full sweeps, min per query (see protocol note above); an
    // error in EITHER pass is reported — an intermittent failure must
    // surface, not be hidden by a lucky second draw
    // WINDOW ANCHORS (SCALE.md §25): ten stable mid-range queries with
    // COMMITTED sf0.1 reference minima. The run measures them THREE
    // times — before pass 1, between the passes, and after pass 2 — so
    // each measured sweep is bracketed by two anchor readings;
    // window_factor = median over anchors of min(readings)/reference.
    // Host windows drift ±7–15% between rounds (three rounds
    // adjudicated by hand-run isolated minima — r12–r14); the factor
    // makes a run's round-over-round comparison interpretable without
    // fresh isolated runs: divide the totals by window_factor before
    // reading a delta as real. Only computed at the sf0.1 gate scale
    // where the references apply.
    //
    // RE-PIN POLICY (VERDICT r15 #3 / SCALE.md §25): the references
    // are refreshed EVERY round from that round's folded definitive
    // record (elementwise min over all committed draws), so a genuine
    // anchor-query speedup becomes the new reference instead of
    // permanently reading as a fast window; an anchor whose
    // implementation a round's source change touches is excluded from
    // that round's factor until re-pinned. Current pins: the r16
    // folded record (BENCH_sf01_r16_final.json, min over its queries
    // and anchors fields; folded window_factor vs the r15 pins was
    // 0.975, and no anchor's implementation was touched in r16, so
    // all ten re-pin).
    val anchorRef: Map[String, Double] = Map(
      "q01_pricing_summary" -> 1.231, "q05_multiway_join" -> 1.208,
      "q09_argmax_per_day" -> 0.489, "q16_window_topn" -> 0.545,
      "q26_token_stats" -> 0.470, "q31_minhash_lsh" -> 0.642,
      "q54_window_range_frame" -> 0.787, "q82_tfidf_topk" -> 1.477,
      "q116_twap" -> 0.764, "q357_image_neardup_pairs" -> 0.972)
    val anchorScale = sfDir.endsWith("sf0.1") && filter.isEmpty
    // an anchor name that no longer resolves must surface LOUDLY in
    // the record (ADVICE r15): silently dropping the anchors field
    // would lose window calibration with no trace
    val anchorMissing = anchorRef.keys
      .filterNot(SparkEntry.queries.contains).toSeq.sorted
    val anchorsOn = anchorScale && anchorMissing.isEmpty
    // a failed anchor measurement is simply DROPPED (no NaN may ever
    // reach the JSON line — the whole record would be unparseable);
    // the remaining anchors still yield a factor
    def anchorSweep(): Map[String, Double] =
      if (!anchorsOn) Map.empty
      else anchorRef.keys.toSeq.sorted
        .flatMap(n => measured(n).toOption.map(n -> _)).toMap
    val anchorStart = anchorSweep()
    val pass1 = sweep("pass 1")(names.map(n => n -> measured(n)).toMap)
    val anchorMid = anchorSweep()
    val pass2 = sweep("pass 2")(names.map(n => n -> measured(n)).toMap)
    val anchorEnd = anchorSweep()
    val results = names.map { n =>
      val r = (pass1(n), pass2(n)) match {
        case (Right(t1), Right(t2)) => Right(math.min(t1, t2))
        case (Left(e), _) => Left(e)
        case (_, Left(e)) => Left(e)
      }
      n -> r
    }
    // Per-query seconds rounded to 1 ms: the log pipeline that lands
    // this line in BENCH_r{N}.json keeps only the LAST 2000 chars of
    // stdout, so every byte of precision costs per-query entries in
    // the surviving window (r6 lost q01–q38 to exactly this).
    // Locale.ROOT: a non-English default JVM locale would format the
    // decimal separator as a comma and corrupt the JSON line.
    def r3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", v)
    val qs = results.map {
      case (k, Right(v)) => s"${Json.str(k)}:${r3(v)}"
      case (k, Left(_)) => s"${Json.str(k)}:-1.0" // sentinel, excluded from total
    }.mkString("{", ",", "}")
    val failed = results.collect { case (k, Left(e)) => s"${Json.str(k)}:${Json.str(e)}" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, Right(v)) => v }.sum
    val nFail = results.count(_._2.isLeft)
    val anchorMins = anchorRef.keys.toSeq.sorted.flatMap { n =>
      val vs = Seq(anchorStart, anchorMid, anchorEnd).flatMap(_.get(n))
      if (vs.isEmpty) None else Some(n -> vs.min)
    }
    val windowFactor: Option[Double] = {
      val ratios = anchorMins.map { case (n, v) => v / anchorRef(n) }.sorted
      if (!anchorsOn || ratios.isEmpty) None
      else if (ratios.size % 2 == 1) Some(ratios(ratios.size / 2))
      else Some((ratios(ratios.size / 2 - 1) + ratios(ratios.size / 2)) / 2)
    }
    val wfJson = windowFactor.fold("")(wf => s""""window_factor":${r3(wf)},""")
    val anchorJson =
      if (anchorScale && anchorMissing.nonEmpty)
        s""""anchors":null,"anchors_error":${Json.str(
          s"unresolved anchor queries: ${anchorMissing.mkString(",")} — " +
            "re-pin Bench.anchorRef")},"""
      else if (windowFactor.isEmpty) ""
      else {
        val am = anchorMins.map { case (n, v) => s"${Json.str(n)}:${r3(v)}" }
          .mkString("{", ",", "}")
        s""""anchors":$am,$wfJson"""
      }
    // Key order is deliberate: the headline summary (metric/value/sf)
    // goes LAST so a tail-truncated capture always retains the total
    // even when the per-query map overflows the window. JSON key order
    // is semantically irrelevant, so intact captures parse identically.
    val json =
      s"""{"queries":$qs,"n_failed":$nFail,"failed":$failed,$anchorJson"metric":"total","value":${r3(total)},"unit":"sec","sf":"$sfDir"}"""
    // Compact summary line FIRST (VERDICT r16 #6): the full per-query
    // line is ~8 KB and a log pipeline that clips it leaves no
    // parseable JSON at all (BENCH_r15 lost its whole round-over-round
    // table to exactly this). This one-liner is small enough to
    // survive any reasonable capture window and carries the headline
    // numbers. Additions-only: the metric name is "total_compact" so
    // any consumer looking for the canonical "total" record cannot
    // mistake it for the full line, which still prints below,
    // byte-compatible with every prior round.
    println(
      s"""{"metric":"total_compact","value":${r3(total)},"unit":"sec","n":${names.size},"n_failed":$nFail,$wfJson"sf":"$sfDir"}""")
    println(json)
    // Also land the JSON in a file: log-pipeline truncation must never
    // cost the per-query numbers (r6 lost q01–q38 to a truncated tail).
    // Redundancy only — an unwritable path must not fail a bench run
    // whose primary output (the stdout line) already succeeded.
    try {
      val outFile = java.nio.file.Paths.get(
        sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "target/bench.json"))
      val parent = outFile.toAbsolutePath.getParent
      if (parent != null) java.nio.file.Files.createDirectories(parent)
      java.nio.file.Files.write(outFile,
        (json + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"bench artifact write failed (stdout JSON is primary): $e")
    }
    spark.stop()
  }
}
