package graft.streaming

import java.nio.file.Files

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.{Column, DataFrame, Encoder, Encoders, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.Tables._

/** Structured Streaming coverage (SURVEY.md §2.10 — the reference
  * *intends* streaming via its unused kafka-python dependency,
  * /root/reference/requirements.txt:18, but never implements it; its
  * only incremental processing is the @daily batch rerun with no
  * late-data semantics).
  *
  * The hourly aggregation here is the streaming twin of the batch
  * query q25 (graft.ops.Scalars.hourlyEvents): same watermark-eligible
  * event-time tumbling window, run with Trigger.AvailableNow so a
  * batch oracle can check it exactly. On a cluster the same plan runs
  * unbounded from a Kafka source — the point of Structured Streaming
  * is precisely that this code does not change.
  *
  * Scale notes: windowed aggregation state is partitioned by (window,
  * event_type) group keys; the 1-hour watermark bounds state size for
  * append-mode/unbounded runs. File-source micro-batches inherit the
  * parquet scan's partitioning.
  */
object Streams {

  /** THE events stream source (one definition for every query here):
    * the corpus stores each table as a single parquet file and Spark's
    * file stream source monitors a directory, so the stream reads the
    * containing dir with a glob pinned to the events file — the shape
    * a production job uses to tail a landing directory. `withTs = true`
    * additionally surfaces `ts` (whatever its physical parquet type —
    * see Tables.tsToNtz) as a true TIMESTAMP (session TZ pinned UTC),
    * the form watermarks require. */
  private[graft] def eventsStream(spark: SparkSession, dir: String,
      withTs: Boolean = false): DataFrame = {
    val src = spark.readStream.schema(load(spark, dir, "events").schema)
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)
    if (withTs) {
      // Schema-adaptive, mirroring Tables.tsToNtz: the corpus has
      // shipped ts as both int64 TIMESTAMP(NANOS) and native
      // TIMESTAMP(MICROS). Watermarks want a true TIMESTAMP; with the
      // session TZ pinned UTC the ntz->tz cast is instant-preserving.
      val tsCol = src.schema("ts").dataType match {
        case org.apache.spark.sql.types.LongType =>
          expr("timestamp_micros(ts div 1000)")
        case _ => col("ts").cast(org.apache.spark.sql.types.TimestampType)
      }
      src.withColumn("ts", tsCol)
    } else src
  }

  /** Event-time tumbling 1-hour aggregation executed as a stream
    * (AvailableNow), materialized through the memory sink.
    *
    * Spark's file stream source requires a *directory* to monitor; the
    * corpus stores each table as a single parquet file, so the stream
    * reads the containing directory with a glob restricted to the
    * events file — the same shape a production job uses to tail a
    * landing directory. */
  def streamHourly(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(spark, dir, withTs = true)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
    runToMemory(agg, "graft_stream_hourly")
      .select(col("window.start").cast("timestamp_ntz").as("hour_start"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy(col("hour_start"), col("event_type"))
  }

  /** STREAM-STREAM UNION (multiplexed ingestion): two independent
    * feeds of the same event schema — here the user-id parity halves
    * of the stream, the "mobile feed + web feed" shape — unioned into
    * ONE streaming plan before the watermark and hourly aggregation.
    * Structured Streaming plans this as two file-stream scans feeding
    * one stateful operator (exactly q73's two-scan shape), so the
    * union costs no extra state: one watermark governs both sides and
    * late-data eviction sees the merged stream. The oracle is the
    * batch hourly rollup over ALL events — the parity split is a
    * partition of the input, so the union must reproduce q40's answer
    * exactly; a lost or duplicated feed row breaks the hash gate. */
  def streamUnion(spark: SparkSession, dir: String): DataFrame = {
    val a = eventsStream(spark, dir, withTs = true)
      .filter(col("user_id") % 2 === 0)
    val b = eventsStream(spark, dir, withTs = true)
      .filter(col("user_id") % 2 === 1)
    val agg = a.union(b)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
    runToMemory(agg, "graft_stream_union")
      .select(col("window.start").cast("timestamp_ntz").as("hour_start"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy(col("hour_start"), col("event_type"))
  }

  /** CHAINED STREAMING AGGREGATION — Spark's multiple-stateful-
    * operator pipeline (SPARK-40925): hourly event counts
    * re-aggregated into a daily profile INSIDE one streaming query,
    * window-on-window via `window_time()`, both stateful stages
    * governed by ONE watermark. Append mode is mandatory for chained
    * state (complete would never release either level); only
    * watermark-CLOSED days emit, which is exactly the production
    * semantics of a multi-stage streaming rollup. The final
    * watermark of the bounded run is max event time − 1h — a value
    * the DATA determines, no wall clock — so the oracle is the batch
    * daily-over-hourly rollup restricted to days that end at or
    * before that watermark (the in-flight last day stays open, and
    * the gate pins that it is EXCLUDED: emitting it would be the
    * at-most-once bug, double-emitting a closed day the at-least-once
    * bug). State: one row per open hour + one per open day — never
    * raw events. */
  def streamChained(spark: SparkSession, dir: String): DataFrame = {
    val hourly = eventsStream(spark, dir, withTs = true)
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n_events"))
    val daily = hourly
      .groupBy(window(window_time(col("window")), "1 day"))
      .agg(sum(col("n_events")).as("n_events"),
        count(lit(1)).as("n_hours"),
        max(col("n_events")).as("busiest_hour_events"))
    runToMemory(daily, "graft_stream_chained", "append")
      .select(col("window.start").cast("timestamp_ntz").as("day_start"),
        col("n_events"), col("n_hours"), col("busiest_hour_events"))
      .orderBy(col("day_start"))
  }

  /** The StreamingQueryProgress of each bounded run's last execution,
    * keyed by run name (= query name): micro-batch count, state rows
    * and per-batch trigger time, so an audit can separate plan cost
    * (state growth, extra batches) from fixed Spark machinery
    * (checkpoint WAL, sink commit log, no-data watermark batch). */
  private val progressByRun =
    new java.util.concurrent.ConcurrentHashMap[String, Array[StreamingQueryProgress]]()

  /** The recorded progress of run `name`; empty if it has not run in
    * this JVM. */
  private[graft] def progress(name: String): Array[StreamingQueryProgress] =
    progressByRun.getOrDefault(name, Array.empty)

  /** THE bounded streaming run: every AvailableNow query in the engine
    * starts, waits and stops here. `sink` configures the writer
    * (format and output mode, or a foreachBatch body); the run is named
    * `name` (a memory sink's result view), checkpoints to the caller's
    * `ckpt` — never deleted here, because callers such as
    * [[streamFanOut]] replay against it — runs to completion, records
    * its [[progress]], and is stopped in `finally`, so a failed batch
    * leaves no active query behind and the error names the run.
    *
    * Stateful runs start under [[graft.GraftSession.withStreamParallelism]]
    * (one state store per shuffle partition, committed every batch).
    * Stateless foreachBatch runs keep the session's full parallelism:
    * their per-batch work is batch jobs (q188's MERGE joins measured
    * 1.9× slower throttled). */
  private[graft] def runBounded(df: DataFrame, name: String, ckpt: String,
      stateful: Boolean)(sink: DataStreamWriter[Row] => DataStreamWriter[Row]): Unit = {
    val spark = df.sparkSession
    spark.catalog.dropTempView(name): Unit
    val w = sink(df.writeStream).queryName(name)
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
    val start = () => w.start()
    val q =
      if (stateful) graft.GraftSession.withStreamParallelism(spark)(start())
      else start()
    try q.awaitTermination()
    finally { progressByRun.put(name, q.recentProgress); q.stop() }
  }

  /** A bounded stateful run through the memory sink — complete mode for
    * the aggregations; append for chained or arbitrary state, where
    * complete is unsupported and only watermark-closed output emits —
    * on a fresh temp checkpoint deleted after the run, so Bench reruns
    * never resume. Returns the result view. */
  private[graft] def runToMemory(df: DataFrame, name: String,
      mode: String = "complete"): DataFrame = {
    val ckpt = Files.createTempDirectory("graft-stream-ckpt").toFile
    try runBounded(df, name, ckpt.toString, stateful = true)(
      _.format("memory").outputMode(mode))
    finally FileUtils.deleteQuietly(ckpt): Unit
    df.sparkSession.table(name)
  }

  /** [[graft.util.Scratch.tmpPath]], wiped first so a rerun prices the
    * full computation and never resumes an old checkpoint. */
  private def freshTmp(prefix: String, dir: String): String = {
    val p = graft.util.Scratch.tmpPath(prefix, dir)
    FileUtils.deleteQuietly(new java.io.File(p)): Unit
    p
  }

  /** A bounded stateful run into a CHECKPOINTED PARQUET FILE SINK in
    * append mode under the run's fresh tmp root (`out` + `ckpt`):
    * executor → files, so an O(events) stream never resides on the
    * driver. Returns the committed files for a batch rollup. */
  private def runToFiles(df: DataFrame, name: String, dir: String): DataFrame = {
    val base = freshTmp(name, dir)
    runBounded(df, name, s"$base/ckpt", stateful = true)(
      _.format("parquet").option("path", s"$base/out").outputMode("append"))
    readWritten(df.sparkSession, s"$base/out", df.schema)
  }

  /** Streaming exactly-once dedup + aggregation: dropDuplicates keyed
    * on event_id holds seen-key state across micro-batches (the
    * streaming form of the MinIO last-write-wins upsert, SURVEY §2.2
    * K3), then a complete-mode count per type. The key state here is
    * UNBOUNDED (exact dedup over all history); the watermark-bounded
    * production form is [[streamDedupBounded]] (q97). */
  def streamDedup(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      // key on (event_id, event_type): keyed on event_id alone the
      // survivor's type would be arrival-order-dependent whenever an
      // id repeated under two types, diverging from the DISTINCT
      // (event_id, event_type) oracle
      .dropDuplicates("event_id", "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    runToMemory(agg, "graft_stream_dedup").orderBy(col("event_type"))
  }

  /** The streaming dedup: the event stream, watermarked, deduplicated
    * by (event_id, event_type) with WATERMARK-BOUNDED state. Exposed
    * separately so the spec can pin the state-bounded operator in the
    * plan. */
  private[graft] def dedupBoundedStream(spark: SparkSession, dir: String): DataFrame = {
    eventsStream(spark, dir, withTs = true)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id", "event_type")
      .select(col("event_id"), col("event_type"))
  }

  /** STATE-BOUNDED streaming dedup — the form an unbounded 100 TB/day
    * stream actually runs. [[streamDedup]]'s plain dropDuplicates keeps
    * every seen key forever; dropDuplicatesWithinWatermark evicts a
    * key's state once the watermark passes its event time + delay, so
    * state holds ~1 hour of keys instead of the stream's full history.
    * The tradeoff is the guarantee: duplicates farther apart than the
    * watermark gap may BOTH survive — the events fixture has no
    * cross-watermark duplicate (all data lands in one AvailableNow
    * micro-batch, and the watermark only advances between batches), so
    * the answer here equals q43's exact DISTINCT oracle.
    *
    * The deduped stream lands in a checkpointed parquet FILE sink in
    * append mode (executor → files; dedup emits each first-seen row
    * immediately, and the O(events) pre-aggregation stream must never
    * reside on the driver), then the per-type rollup runs as a batch
    * query over the committed files — the same two-stage shape as
    * [[streamJoin]]. */
  def streamDedupBounded(spark: SparkSession, dir: String): DataFrame =
    runToFiles(dedupBoundedStream(spark, dir), "graft_stream_dedup_wm", dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("event_type"))

  /** SLIDING event-time windows (2-hour width, 1-hour slide) as a
    * stream — each event contributes to two overlapping windows, the
    * standard trending-metrics shape. Spark expands the window
    * assignment map-side (no self-join). NOTE on state: this entry
    * point runs COMPLETE mode through the memory sink so the finite
    * oracle can check every window — complete mode evicts nothing, the
    * watermark is inert. The unbounded production form is the same
    * plan in append/update mode, where the 2h watermark drops each
    * window's state once it closes (the q97/q43 distinction, again).
    * Oracle: the batch equivalence that each event lands in windows
    * starting at trunc(ts)-1h and trunc(ts). */
  def streamSliding(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(spark, dir, withTs = true)
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "2 hours", "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
    runToMemory(agg, "graft_stream_sliding")
      .select(col("window.start").cast("timestamp_ntz").as("win_start"),
        col("event_type"), col("n_events"), col("sum_value"))
      .orderBy(col("win_start"), col("event_type"))
  }

  /** Streaming top-k: complete-mode ranking of the heaviest keys —
    * the live leaderboard over an unbounded stream. State is the
    * per-key aggregate (bounded by key cardinality); the sort+limit
    * runs on the tiny aggregated result each trigger, never on raw
    * events. Deterministic tie-break by user_id keeps it
    * oracle-exact. */
  def streamTopK(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(spark, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .orderBy(col("n_events").desc, col("user_id"))
      .limit(10)
    runToMemory(agg, "graft_stream_topk")
      .orderBy(col("n_events").desc, col("user_id"))
  }

  /** NATIVE streaming session windows — the merge-based form of q39
    * run as a stream: session_window holds one mergeable open-session
    * aggregate per (user, session) — never raw events, the
    * bounded-state contrast to q42's flatMapGroupsWithState buffer.
    * COMPLETE mode: Spark 4 supports session aggregation in append
    * (emit on watermark close) and complete (emit all merged state
    * each trigger; update is rejected — sessions could merge later).
    * On the fixture's single AvailableNow micro-batch, append would
    * emit only watermark-closed sessions (losing each user's tail),
    * while complete emits every merged session and equals the q39
    * batch oracle bit-for-bit. */
  def streamSessions(spark: SparkSession, dir: String): DataFrame = {
    val agg = eventsStream(spark, dir, withTs = true)
      .withWatermark("ts", "1 hour")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
    runToMemory(agg, "graft_stream_sessions")
      .select(col("user_id"),
        col("session_window.start").cast("timestamp_ntz").as("session_start"),
        col("session_window.end").cast("timestamp_ntz").as("session_end"),
        col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Stream–static enrichment join: the unbounded event stream joins
    * the (bounded, slowly-changing) nation dimension — the remaining
    * §2.10 join regime after stream–stream q73. The static side needs
    * NO watermark and holds no join state: Spark re-plans it per
    * micro-batch as an ordinary broadcast hash join, which is exactly
    * how a 100 TB/day stream enriches against dimension tables without
    * any state store growth. Aggregated per nation in complete mode
    * (bounded: one row per dimension key); == the batch twin oracle. */
  def streamStaticJoin(spark: SparkSession, dir: String): DataFrame = {
    val dim = load(spark, dir, "nation")
      .select(col("n_nationkey"), col("n_name"))
    val agg = eventsStream(spark, dir)
      // sign-of-dividend % matches the oracle's % for ALL inputs;
      // pmod would silently diverge on negative ids
      .withColumn("nkey", col("user_id") % lit(25L))
      .join(broadcast(dim), col("nkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
    runToMemory(agg, "graft_stream_static").orderBy(col("n_name"))
  }

  /** Sessionization through the custom-state API
    * (KeyValueGroupedDataset.flatMapGroupsWithState): per-user sessions
    * with a 30-minute gap, the state machine a production stream runs
    * unbounded with event-time timeouts. Batch execution invokes the
    * same function once per group — identical results, same code, which
    * is the point of the unified API. Semantics (gap >= 30 min starts a
    * new session; session_end = last_ts + 30 min) match the native
    * session_window query q39 and its oracle exactly; sums are
    * exact-decimal then one cast to double (graft.Tables contract).
    *
    * Memory bound: flatMapGroupsWithState provides no secondary sort,
    * so `it.toVector.sortBy` below buffers ONE KEY'S events in executor
    * memory — the per-hot-key ceiling of this API. That is the standard
    * shape for custom state machines; when the per-key history can be
    * unbounded (a bot user at 100 TB), the bounded-state path is the
    * native merge-based session_window aggregation (q39), which holds
    * only open-session aggregates, not raw events.
    *
    * NoTimeout is STATELESS-BY-CONSTRUCTION here, not an unbounded-
    * state liability: `sessionize` never calls `state.update`, so no
    * state row is ever written and there is nothing for a timeout to
    * evict (the registry's one remaining NoTimeout, kept deliberately).
    * The visible consequence: each micro-batch sessionizes only its
    * own events, so a session whose events SPAN micro-batches is
    * emitted as two sessions — fine for the gate (batch execution ==
    * one group invocation == q39's oracle) and for replay-style
    * backfills, wrong for a live continuous stream. The production
    * forms are q104 (mergeable session windows, bounded state) and
    * the q198/q271 transformWithState machinery (event-time timers)
    * when the custom state machine itself must survive batches. */
  case class Ev(user_id: Long, event_id: Long,
    ts: java.time.LocalDateTime, value: Double)
  case class Sess(user_id: Long, session_start: java.time.LocalDateTime,
    session_end: java.time.LocalDateTime, n_events: Long, sum_value: Double)

  def customStateSessions(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import java.time.LocalDateTime
    import java.time.temporal.ChronoUnit

    val ev = events(spark, dir)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .as[Ev]

    def sessionize(user: Long, it: Iterator[Ev],
        state: GroupState[Int]): Iterator[Sess] = {
      val epoch = LocalDateTime.of(1970, 1, 1, 0, 0)
      val evs = it.toVector.sortBy(e =>
        (ChronoUnit.MICROS.between(epoch, e.ts), e.event_id))
      val out = Vector.newBuilder[Sess]
      var start: LocalDateTime = null
      var last: LocalDateTime = null
      var n = 0L
      var sum = java.math.BigDecimal.ZERO
      def close(): Unit = if (n > 0) {
        out += Sess(user, start, last.plus(30, ChronoUnit.MINUTES), n,
          sum.doubleValue)
      }
      evs.foreach { e =>
        // gap >= 30 min (exact, micros precision — ts is micros-truncated)
        if (last == null ||
            ChronoUnit.MICROS.between(last, e.ts) >= 30L * 60 * 1000000) {
          close(); start = e.ts; n = 0; sum = java.math.BigDecimal.ZERO
        }
        last = e.ts; n += 1
        // mirrors Spark's double->decimal(18,2) cast (shortest-repr
        // BigDecimal, HALF_UP) — the d2() exactness contract
        sum = sum.add(java.math.BigDecimal.valueOf(e.value)
          .setScale(2, java.math.RoundingMode.HALF_UP))
      }
      close()
      out.result().iterator
    }

    ev.groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        sessionize)
      .toDF()
      .select(col("user_id"),
        col("session_start").cast("timestamp_ntz").as("session_start"),
        col("session_end").cast("timestamp_ntz").as("session_end"),
        col("n_events"), col("sum_value"))
      .orderBy(col("user_id"), col("session_start"))
  }

  /** Streaming LATEST-STATE materialized view — q135's golden record
    * kept continuously current over the event stream: every per-field
    * latest-wins max(struct) argmax is a mergeable aggregate, so the
    * state store holds ONE consolidated row per user (never raw
    * events) and each micro-batch merges in place. Complete mode here
    * for the finite oracle (== the q135 batch twin's shape); the
    * unbounded serving form is update mode emitting only changed
    * users per batch. */
  def streamGoldenRecord(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Temporal.latestBy
    val agg = eventsStream(spark, dir, withTs = true)
      .groupBy(col("user_id"))
      .agg(
        latestBy("click", col("value"), "last_click_value"),
        latestBy("purchase", col("value"), "last_purchase_value"),
        // the stream source's ts is TZ-aware (watermark form); the
        // batch twin emits ntz — align on output like streamHourly
        max(when(col("event_type") === "signup", col("ts")))
          .cast("timestamp_ntz").as("last_signup_ts"),
        count(lit(1)).as("n_events"))
    runToMemory(agg, "graft_stream_golden").orderBy(col("user_id"))
  }

  /** Stream-stream LEFT OUTER join with event-time bounds — the
    * capability inner joins can't cover: clicks that NEVER convert
    * must still emit (with a null purchase side) so downstream sees
    * the full denominator. Semantics on an unbounded stream: a match
    * emits immediately; an unmatched click emits null-extended ONLY
    * once the GLOBAL watermark (min over both streams of max event
    * time minus the 1h delay) passes the end of its 4h match window —
    * before that, a match could still arrive. Unmatched clicks inside
    * the final watermark horizon are therefore (correctly) never
    * emitted on a finite run, and the batch oracle encodes exactly
    * that rule: matches unconditionally, unmatched only where
    * click_ts + 4h < min(max(click_ts), max(buy_ts)) - 1h.
    *
    * Same exactly-once checkpointed parquet file sink + two-stage
    * rollup as [[streamJoin]] (append-mode joins can't chain an agg);
    * the no-data final micro-batch AvailableNow schedules is what
    * advances the watermark and flushes the expired outer rows. State
    * stays bounded by the same watermark the emission rule uses. */
  def streamOuterJoin(spark: SparkSession, dir: String): DataFrame = {
    def src = eventsStream(spark, dir, withTs = true)
    val clicks = src.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"),
        col("user_id").as("click_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("buy_user"), col("ts").as("buy_ts"),
        col("value"))
      .withWatermark("buy_ts", "1 hour")
    val joined = clicks.join(purchases,
      expr("""click_user = buy_user AND
              buy_ts >= click_ts AND
              buy_ts <= click_ts + interval 4 hours"""),
      "left_outer")
    runToFiles(joined, "graft_stream_ojoin", dir)
      .groupBy(col("click_user").as("user_id"))
      .agg(count(lit(1)).as("n_emitted"),
        count(col("value")).as("n_matched"),
        dsum(col("value")).as("sum_value"))
      .orderBy(col("user_id"))
  }

  /** Stream-stream inner join with event-time bounds: click→purchase
    * attribution within 4 hours, per user. Both sides carry watermarks
    * and the join condition carries the time bound — exactly what lets
    * Spark expire join state on an unbounded run (state for a click is
    * droppable once the watermark passes click_ts + 4h). Run with
    * AvailableNow the finite input lands in one micro-batch, so the
    * append-mode join emits every match and the batch oracle checks it
    * exactly.
    *
    * The matches land in a CHECKPOINTED PARQUET FILE SINK (SURVEY
    * §2.2's exactly-once streaming sink): the checkpoint WAL plus the
    * sink's _spark_metadata commit log give exactly-once file output
    * across restarts, and — unlike a memory sink — the O(data)
    * pre-aggregation match stream never resides on the driver; it goes
    * executor → files. The per-user rollup then runs as a batch query
    * over the committed files (chaining an aggregation after a
    * stream-stream join in one query is unsupported in append mode —
    * the documented two-stage pattern). Production keeps the
    * checkpoint dir for restart; this entry point wipes it per call so
    * reruns are self-contained. */
  def streamJoin(spark: SparkSession, dir: String): DataFrame = {
    def src = eventsStream(spark, dir, withTs = true)
    val clicks = src.filter(col("event_type") === "click")
      .select(col("user_id").as("click_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val purchases = src.filter(col("event_type") === "purchase")
      .select(col("user_id").as("buy_user"), col("ts").as("buy_ts"),
        col("value"))
      .withWatermark("buy_ts", "1 hour")
    val joined = clicks.join(purchases,
      expr("""click_user = buy_user AND
              buy_ts >= click_ts AND
              buy_ts <= click_ts + interval 4 hours"""))
    runToFiles(joined, "graft_stream_join", dir)
      .groupBy(col("click_user").as("user_id"))
      .agg(count(lit(1)).as("n_attributed"), dsum(col("value")).as("sum_value"))
      .orderBy(col("user_id"))
  }

  /** Streaming multi-sink fan-out via foreachBatch — the STREAMING
    * twin of the batch `GasPrices.fanOut` (SURVEY §2.12 O4): one
    * source micro-batch is cached once and written to both the parquet
    * canonical store and the JSON serving dir, instead of running two
    * independent streaming queries that each re-read the source (the
    * reference's four copy-pasted DAGs, continuously).
    *
    * Exactly-once across restarts: foreachBatch itself is
    * at-least-once, so each sink write lands in a subdirectory keyed
    * by `batchId` with overwrite mode — a replayed batch REPLACES its
    * own previous output instead of appending a duplicate (the
    * idempotent-by-batchId pattern from the Structured Streaming
    * guide). The checkpoint WAL pins the batchId↔offset-range mapping,
    * making the replay deterministic. Returns the number of batches
    * committed. */
  def streamFanOut(spark: SparkSession, dir: String,
      parquetPath: String, jsonPath: String, ckpt: String): Long = {
    val src = eventsStream(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    var batches = 0L
    runBounded(src, "graft_stream_fanout", ckpt, stateful = false)(
      _.foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.persist()
        try {
          batch.write.mode("overwrite").parquet(s"$parquetPath/batch_id=$batchId")
          batch.write.mode("overwrite").json(s"$jsonPath/batch_id=$batchId")
          batches += 1
        } finally { batch.unpersist(); () }
      })
    batches
  }

  /** STREAMING CDC MERGE: a change stream applied into a keyed
    * snapshot, one set-based MERGE per micro-batch — the "merge into
    * the warehouse from a stream" pattern that turns q80's batch MERGE
    * into a continuously-maintained table. Each micro-batch is
    * pre-aggregated to per-key deltas (sum of exact-decimal values +
    * row count), then ONE full-outer join folds it into the previous
    * snapshot version; the result lands in a `v=<batchId>` directory
    * with overwrite mode, so an at-least-once replay of a batch
    * REWRITES its own version deterministically instead of
    * double-applying (idempotent-by-batchId, the q73/fan-out rule).
    * Because per-key addition is associative and the deltas are
    * DECIMAL-exact, the final snapshot equals the one-shot batch
    * aggregate bit-for-bit — which is exactly what the oracle states.
    * The source is pre-split into 4 files streamed with
    * maxFilesPerTrigger=1, so the merge genuinely iterates (4
    * versions), not a degenerate single batch.
    *
    * Scale shape: snapshot and delta both shuffle only on the merge
    * key; the snapshot rewrite is the full-snapshot-per-batch form —
    * on a real lake the same foreachBatch body targets a format with
    * in-place row-level merge, but the MERGE JOIN ITSELF (the
    * expensive part) is identical. */
  def streamMerge(spark: SparkSession, dir: String): DataFrame = {
    val base = freshTmp("graft_stream_merge", dir)
    val stateDir = s"$base/state"
    val dec = org.apache.spark.sql.types.DecimalType(28, 2)
    val stream = splitStream(
      events(spark, dir).select(col("event_id"), col("user_id"), col("value")), base)
    var version = -1L
    // every version holds (user_id, balance, n_events) in these types
    val snapshotSchema = StructType(Seq(stream.schema("user_id"),
      StructField("balance", dec), StructField("n_events", LongType)))
    def snapshot() = readWritten(spark, s"$stateDir/v=$version", snapshotSchema)
    runBounded(stream, "graft_stream_merge", s"$base/ckpt", stateful = false)(
      _.foreachBatch { (batch: DataFrame, batchId: Long) =>
        val delta = batch
          .groupBy(col("user_id"))
          .agg(sum(d2(col("value"))).cast(dec).as("delta"),
            count(lit(1)).as("dn"))
        val merged =
          if (version < 0)
            delta.select(col("user_id"), col("delta").as("balance"),
              col("dn").as("n_events"))
          else snapshot()
            .join(delta, Seq("user_id"), "full_outer")
            .select(col("user_id"),
              (coalesce(col("balance"), lit(0).cast(dec))
                + coalesce(col("delta"), lit(0).cast(dec))).cast(dec)
                .as("balance"),
              (coalesce(col("n_events"), lit(0L))
                + coalesce(col("dn"), lit(0L))).as("n_events"))
        merged.write.mode("overwrite").parquet(s"$stateDir/v=$batchId")
        version = batchId
      })
    require(version >= 3, s"expected >=4 micro-batches, last id $version")
    snapshot()
      .select(col("user_id"), col("balance").cast("double").as("balance"),
        col("n_events"))
      .orderBy(col("user_id"))
  }

  /** Input/output rows of the [[RunningTotalsProc]] transformWithState
    * processor — money carried as exact integer CENTS (the d2 contract
    * in state-safe form: long addition is associative-exact, and the
    * final cents/100.0 double division equals DuckDB's
    * DECIMAL(18,2)->DOUBLE cast bit-for-bit). */
  case class TwsIn(user_id: Long, cents: Long)
  case class TwsOut(user_id: Long, cents: Long, n_events: Long)

  /** Spark 4 `transformWithState` processor (SPARK-46815 — the typed
    * arbitrary-state API succeeding flatMapGroupsWithState, q42):
    * per-user running totals in a ValueState, consolidated totals
    * emitted each micro-batch. State is ONE (cents, n) pair per user —
    * never raw events — and lives in the RocksDB state store the API
    * requires. */
  class RunningTotalsProc extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TwsIn, TwsOut] {
    import org.apache.spark.sql.streaming.{OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var st: ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long)]("totals",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[TwsIn],
        timerValues: TimerValues): Iterator[TwsOut] = {
      val (pc, pn) = if (st.exists()) st.get() else (0L, 0L)
      var c = pc; var n = pn
      rows.foreach { r => c += r.cents; n += 1 }
      st.update((c, n))
      Iterator(TwsOut(key, c, n))
    }
  }

  /** Input/output rows of [[DistinctTypesProc]]. */
  case class TwsTypeIn(user_id: Long, event_type: String)
  case class TwsTypeOut(user_id: Long, n_distinct_types: Long)

  /** `transformWithState` with MAP STATE (the set-semantics state
    * primitive beside [[RunningTotalsProc]]'s ValueState): per-user
    * SET of event types seen, as MapState keys — insertion is
    * idempotent, so replays and cross-batch arrival order cannot
    * change the set, and state is O(type vocabulary) per user, never
    * a growing list. Emits the current distinct count per batch;
    * the count is monotone, so the final value is the per-user max. */
  class DistinctTypesProc extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TwsTypeIn, TwsTypeOut] {
    import org.apache.spark.sql.streaming.{MapState, OutputMode, TTLConfig, TimeMode, TimerValues}
    @transient private var seen: MapState[String, Boolean] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getMapState[String, Boolean]("seen",
        org.apache.spark.sql.Encoders.STRING,
        org.apache.spark.sql.Encoders.scalaBoolean,
        TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[TwsTypeIn],
        timerValues: TimerValues): Iterator[TwsTypeOut] = {
      rows.foreach(r => seen.updateValue(r.event_type, true))
      Iterator(TwsTypeOut(key, seen.keys().size.toLong))
    }
  }

  case class TwsListIn(user_id: Long, cents: Long)
  case class TwsListOut(user_id: Long, n: Long, min_cents: Long,
    max_cents: Long)

  /** `transformWithState` with LIST STATE — the third state primitive
    * beside [[RunningTotalsProc]]'s ValueState (q198) and
    * [[DistinctTypesProc]]'s MapState (q199), completing the triad:
    * a per-user append-only event log in ListState, each batch
    * re-scanning its key's log to emit (count, min, max) — all three
    * monotone under append, so the per-user consolidation of the
    * append-mode emissions (max n, min min, max max) is batch-split-
    * independent. */
  class EventLogProc extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TwsListIn, TwsListOut] {
    import org.apache.spark.sql.streaming.{ListState, OutputMode, TTLConfig, TimeMode, TimerValues}
    @transient private var log: ListState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      log = getHandle.getListState[Long]("log",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[TwsListIn],
        timerValues: TimerValues): Iterator[TwsListOut] = {
      rows.foreach(r => log.appendValue(r.cents))
      var n = 0L; var mn = Long.MaxValue; var mx = Long.MinValue
      log.get().foreach { c =>
        n += 1; if (c < mn) mn = c; if (c > mx) mx = c
      }
      Iterator(TwsListOut(key, n, mn, mx))
    }
  }

  /** Run the transformWithState query `plan` to the append-mode memory
    * sink as run `name`, under the RocksDB state store provider — the
    * TWS API requirement — with CHANGELOG CHECKPOINTING on, restoring
    * both conf keys after. One definition for the four TWS gates
    * (q198/q199/q228/q271); returns the sink's result view.
    *
    * Changelog checkpointing (optimization r17, guide §5): the default
    * RocksDB commit uploads a FULL snapshot zip of every store
    * instance per micro-batch — for these bounded gates that is pure
    * per-batch floor (state is a few KB, the zip machinery is the
    * cost, ×stores ×batches). With changelogs the per-batch commit
    * writes only the batch's delta; snapshot maintenance happens in
    * the background. Fault-tolerance contract unchanged (the WAL stays
    * on the real filesystem; replay = snapshot + changelogs). The flag
    * is tied to the checkpoint's lifetime — every gate/bench run
    * starts from a fresh checkpoint, so re-runs stay comparable. */
  private def runTws(spark: SparkSession, name: String)(
      plan: => DataFrame): DataFrame = {
    val keys = Seq(
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" ->
        "true")
    val prev = keys.map { case (k, _) => k -> spark.conf.getOption(k) }
    keys.foreach { case (k, v) => spark.conf.set(k, v) }
    try runToMemory(plan, name, "append") finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** STREAMING PER-USER SPEND EXTREMES via transformWithState
    * ListState ([[EventLogProc]]): same 4-file split source, RocksDB
    * provider, append-mode memory sink, per-user consolidation of the
    * monotone emissions. Oracle = plain batch COUNT/MIN/MAX of exact
    * cents per user. */
  def streamEventLog(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val src = splitStream(events(spark, dir).select(col("user_id"),
      (d2(col("value")) * 100).cast("long").as("cents")),
      freshTmp("graft_tws_log", dir))
    runTws(spark, "graft_tws_log") {
      src.as[TwsListIn].groupByKey(_.user_id)
        .transformWithState(new EventLogProc, TimeMode.None(), OutputMode.Append())
        .toDF()
    }.groupBy(col("user_id"))
      .agg(max(col("n")).as("n_events"),
        min(col("min_cents")).as("min_cents"),
        max(col("max_cents")).as("max_cents"))
      .orderBy(col("user_id"))
  }

  /** STREAMING DISTINCT-TYPE COUNT via transformWithState MapState —
    * the streaming form of q187's final per-user value, and the
    * MapState twin of q198: same 4-file split source, same RocksDB
    * provider handling, append-mode memory sink, per-user max of the
    * monotone emitted counts. Oracle = the plain batch
    * COUNT(DISTINCT). */
  def streamDistinctTypes(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val src = splitStream(events(spark, dir).select(col("user_id"), col("event_type")),
      freshTmp("graft_tws_types", dir))
    runTws(spark, "graft_tws_types") {
      src.as[TwsTypeIn].groupByKey(_.user_id)
        .transformWithState(new DistinctTypesProc, TimeMode.None(), OutputMode.Append())
        .toDF()
    }.groupBy(col("user_id"))
      .agg(max(col("n_distinct_types")).as("n_distinct_types"))
      .orderBy(col("user_id"))
  }

  case class TwsTimerIn(user_id: Long, ts: java.sql.Timestamp, us: Long)
  case class TwsTimerOut(user_id: Long, n_events: Long, last_ms: Long)

  /** `transformWithState` with EVENT-TIME TIMERS — the fourth and
    * final primitive of the Spark 4 typed-state API after the
    * ValueState/MapState/ListState triad (q198/q199/q228): state that
    * acts when the WATERMARK passes a registered instant, not when
    * data arrives. Per user: accumulate (count, last event time),
    * re-register a single timer at last + 30 min (delete-then-
    * register keeps exactly one live timer per key); when the
    * watermark overtakes a user's quiet point, [[handleExpiredTimer]]
    * emits the user's summary and clears state — the
    * inactivity-triggered flush every session-izing sink runs on. */
  class QuietUserProc extends org.apache.spark.sql.streaming.StatefulProcessor[Long, TwsTimerIn, TwsTimerOut] {
    import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode, TTLConfig, TimeMode, TimerValues, ValueState}
    @transient private var st: ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long)]("quiet",
        org.apache.spark.sql.Encoders.tuple(
          org.apache.spark.sql.Encoders.scalaLong,
          org.apache.spark.sql.Encoders.scalaLong),
        TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[TwsTimerIn],
        timerValues: TimerValues): Iterator[TwsTimerOut] = {
      val (pn, pl) = if (st.exists()) st.get() else (0L, 0L)
      var n = pn; var lastUs = pl
      rows.foreach { r => n += 1; if (r.us > lastUs) lastUs = r.us }
      st.update((n, lastUs))
      getHandle.listTimers().foreach(getHandle.deleteTimer)
      // timers live in WATERMARK time = floor-to-millisecond event time
      getHandle.registerTimer(lastUs / 1000L + 30L * 60 * 1000)
      Iterator.empty
    }
    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[TwsTimerOut] = {
      val out = if (st.exists()) {
        val (n, lastUs) = st.get()
        Iterator(TwsTimerOut(key, n, lastUs / 1000L))
      } else Iterator.empty
      st.clear()
      out
    }
  }

  /** q271's staged input: one row per event with its TIMESTAMP and
    * epoch micros, written once and streamed back by [[streamTimerFlush]]. */
  private[graft] def timerFlushInput(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).select(col("user_id"), col("ts").cast("timestamp").as("ts"),
      expr("unix_micros(cast(ts as timestamp))").as("us"))

  /** INACTIVITY-TRIGGERED FLUSH via event-time timers
    * ([[QuietUserProc]]): one data micro-batch registers each user's
    * quiet-point timer; the final watermark (max event time − 1 h,
    * floor-to-ms — a value the DATA determines) fires exactly the
    * users whose last event + 30 min it overtook. The oracle models
    * the emission rule in closed form: users with
    * last_ms + 30 min ≤ max_ms − 1 h emit their full summary, the
    * still-active tail stays open (same append-mode discipline as
    * q262 — emitting an open user would be the bug). */
  def streamTimerFlush(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val src = s"${freshTmp("graft_tws_timer", dir)}/src"
    val staged = timerFlushInput(spark, dir)
    staged.write.mode("overwrite").parquet(src)
    runTws(spark, "graft_tws_timer") {
      spark.readStream.schema(readBack(staged.schema)).parquet(src)
        .withWatermark("ts", "1 hour")
        .as[TwsTimerIn]
        .groupByKey(_.user_id)
        .transformWithState(new QuietUserProc, TimeMode.EventTime(),
          OutputMode.Append())
        .toDF()
    }.orderBy(col("user_id"))
  }

  /** STREAMING SOURCE SKETCH — q275's per-source MinHash signature
    * rollup run INCREMENTALLY: the corpus arrives as 4 micro-batches
    * (maxFilesPerTrigger=1 over a 4-file split) and the per-source
    * element-wise-min signature aggregate
    * ([[graft.dedup.Dedup.minhashMergeAgg]]) merges across them —
    * element-wise min is commutative/associative/idempotent, so batch
    * order cannot change the final signature and state is BOUNDED at
    * K longs per source, never a shingle set. This is the monitoring
    * form of the source-overlap machinery: a landing-directory stream
    * keeps every feed's content sketch current without recomputing
    * the corpus. == the per-source signature the batch q275 oracle
    * machinery computes (one oracle rule, two execution modes). */
  def streamSourceSketch(spark: SparkSession, dir: String): DataFrame = {
    val agg = splitStream(load(spark, dir, "documents")
        .select(col("doc_id"), col("source"), col("text")),
        freshTmp("graft_src_sketch", dir))
      .select(col("source"),
        call_function("minhash_sig",
          graft.dedup.Dedup.shingleHashes(col("text"), mod = true)).as("sig"))
      .groupBy(col("source"))
      .agg(graft.dedup.Dedup.minhashMergeAgg(col("sig")).as("ssig"),
        count(lit(1)).as("n_docs"))
      .select(col("source"), col("n_docs"),
        concat_ws(",", col("ssig").cast("array<string>")).as("source_sig"))
    runToMemory(agg, "graft_stream_src_sketch").orderBy(col("source"))
  }

  // ---------------------------------------------------------------
  // TTL-BOUNDED STREAMING NEAR-DUP DETECTION (q319–q389)
  // ---------------------------------------------------------------

  /** Event-time origin of the staged dedup streams. Any fixed instant
    * works — the oracles only ever use batch DIFFERENCES. */
  private val DedupT0 = "timestamp'2026-01-01 00:00:00'"

  /** Exact-replay horizon (q319/q338/q366): wider than the replay's
    * 3-hour event span, so nothing evicts during the gate and the pair
    * set equals the batch detector's — while a continuous deployment
    * of the SAME code is still state-bounded at one horizon of
    * colliding payloads per bucket. */
  private[graft] val ReplayHorizon = "300 minutes"

  /** TTL-gate horizon (q369/q371): 90 minutes ⟹ an arrival in batch k
    * pairs only with residents from batches ≥ k − 2 (ts_j ≥ ts_{k-1} −
    * 90 min ⟺ j ≥ k − 2), so gap-3 pairs MUST be suppressed. */
  private[graft] val TtlHorizon = "90 minutes"

  /** Canary doc_id offset of q338. It is ≡ 1 mod 4, so the replay's
    * batch = doc_id mod 4 puts every canary ONE BATCH AFTER its source
    * doc: an offset ≡ 0 mod 4 (q335's 10^9) would co-batch each canary
    * with its original, and detection would never exercise the
    * cross-batch state path. */
  private val CanaryShift = 1000000001L

  /** Stream the parquet files under `src`, written from a frame of
    * `schema`, back one file per micro-batch, oldest mtime first. The
    * writer's schema in its read-back form stands in for inferring it
    * from the files, which would cost a job per stream. */
  private def fileStream(spark: SparkSession, src: String, schema: StructType): DataFrame =
    spark.readStream.schema(readBack(schema))
      .option("maxFilesPerTrigger", "1").parquet(src)

  /** Stage `df` as a 4-file parquet split under `base/src` and stream it
    * back with maxFilesPerTrigger=1, so a stateful run genuinely
    * carries state across four micro-batches instead of one degenerate
    * batch (q188/q198/q199/q228/q278). */
  private[graft] def splitStream(df: DataFrame, base: String): DataFrame = {
    df.repartition(4).write.mode("overwrite").parquet(s"$base/src")
    fileStream(df.sparkSession, s"$base/src", df.schema)
  }

  /** Stage `df` (carrying an int `batch` column in 0 until 4) as ONE
    * parquet file per batch under a wiped `base/src`, mtimes forced
    * ascending, and stream it back: the file source
    * (maxFilesPerTrigger=1) processes oldest-first, so
    * micro-batch k carries exactly the rows stamped batch k and the
    * TTL gates' watermark sequence is deterministic (wm during batch k
    * = batch k−1's event time − horizon). The source expression is
    * rendered ONCE to `base/all` and the batch files are cut from that
    * parquet — 4 filtered writes off a generator would re-run the
    * whole render/encode pipeline per batch file. setLastModified's
    * boolean IS checked (ADVICE r12): on a filesystem where the stamp
    * fails, batch order would silently fall back to move-time mtimes
    * and the deterministic watermark sequence the TTL oracles depend
    * on would be gone — fail fast instead of emitting a wrong row set. */
  private def stageOrderedBatches(spark: SparkSession, df: DataFrame,
      base: String): DataFrame = {
    FileUtils.deleteQuietly(new java.io.File(base)): Unit
    df.write.mode("overwrite").parquet(s"$base/all")
    val staged = readWritten(spark, s"$base/all", df.schema)
    new java.io.File(s"$base/src").mkdirs(): Unit
    val mtime0 = new java.io.File(base).lastModified()
    // the batch cuts are independent single-file jobs off the same
    // staged parquet — run them concurrently so each cut's single
    // coalesce(1) task back-fills the others' scheduling gaps
    // (optimization r16, guide §2.6); the deterministic ascending
    // mtime stamps still happen per batch file after ITS move, so the
    // oldest-first processing order the TTL oracles depend on is
    // unchanged.
    graft.util.Concurrency.awaitSettled((0 until 4).map { k => () => {
      val stage = s"$base/stage$k"
      staged.filter(col("batch") === k)
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = new java.io.File(stage).listFiles()
        .find(_.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file staged for batch $k"))
      val dst = new java.io.File(s"$base/src/batch$k.parquet")
      java.nio.file.Files.move(part.toPath, dst.toPath)
      require(dst.setLastModified(mtime0 + k * 60000L),
        s"cannot stamp mtime for batch $k")
    }})
    fileStream(spark, s"$base/src", df.schema)
  }

  /** The staged replay every streaming near-dup detector reads: `rows`
    * cut by [[stageOrderedBatches]] into batch = `id` mod 4, `decode`d
    * per micro-batch, stamped with event time T0 + batch·1h, and put
    * under the `horizon` watermark. The stamp comes after the decode
    * (the kernel contract stays payload-only) and re-derives the batch
    * from the id: a watermark declared before a projection that drops
    * its column would not reach the stateful operator. */
  private def stagedReplay(spark: SparkSession, rows: DataFrame, id: String,
      base: String, horizon: String,
      decode: DataFrame => DataFrame = identity): DataFrame = {
    val batch = s"pmod($id, 4)"
    decode(stageOrderedBatches(spark,
        rows.withColumn("batch", expr(batch).cast("int")), base))
      .withColumn("ts", expr(s"$DedupT0 + $batch * INTERVAL '1' HOUR"))
      .withWatermark("ts", horizon)
  }

  /** The state bucket of a band row: its band and band key. */
  private def bandBucket: Column = concat_ws("|", col("band"), col("bkey"))

  /** THE one stateful pairing core behind every streaming near-dup
    * detector in the engine (text LSH q319/q371, canaries q338,
    * perceptual image q366/q369, the index-seeded q384–q386 and
    * semantic q389). Each of `rows` lands in the bucket its `bucket`
    * column names ([[bandBucket]] for the banded detectors) with its
    * `id`, `payload` and watermarked event time `ts`; per-bucket state
    * (flatMapGroupsWithState) holds (id, payload, ts) residents, and
    * the core both
    *
    *   - EVICTS by watermark: residents whose event time has fallen
    *     behind `state.getCurrentWatermarkMs` are dropped before any
    *     comparison — an arrival pairs only with residents inside the
    *     watermark window, and
    *   - EXPIRES state physically: EventTimeTimeout set to the
    *     bucket's max resident event time, so a bucket whose residents
    *     are all past the watermark is REMOVED (state.remove) at the
    *     next trigger instead of lingering filtered-but-resident.
    *
    * State bound on a continuous stream: one watermark-window of
    * colliding payloads per bucket, independent of stream length, with
    * the watermark horizon as the only per-query knob. Within-batch
    * arrivals accumulate in a buffer (one state-array concat per batch
    * — per-arrival append would be quadratic in allocations on a hot
    * bucket, which is exactly a duplicate cluster) and compare in
    * doc_id order, so batching cannot change the result. Cross-band
    * duplicate emissions collapse in the callers' final distinct. */
  private def ttlPairs[P, O](rows: DataFrame, bucket: Column, id: String,
      payload: Column, compare: (Long, P, Long, P) => Option[O])(
      implicit rowEnc: Encoder[(String, Long, P, java.sql.Timestamp)],
      stateEnc: Encoder[Array[(Long, P, Long)]],
      outEnc: Encoder[O]): org.apache.spark.sql.Dataset[O] = {
    import org.apache.spark.sql.streaming.{GroupStateTimeout, OutputMode}
    rows.select(bucket.as("bucket"), col(id), payload, col("ts"))
      .as[(String, Long, P, java.sql.Timestamp)]
      .groupByKey(_._1)(Encoders.STRING)
      .flatMapGroupsWithState[Array[(Long, P, Long)], O](OutputMode.Append(),
        GroupStateTimeout.EventTimeTimeout) { (_, rows, state) =>
        if (state.hasTimedOut) {
          // watermark passed the bucket's newest resident: every
          // resident is evicted — drop the bucket entirely
          state.remove()
          Iterator.empty
        } else {
          val wm = state.getCurrentWatermarkMs()
          val alive = state.getOption.getOrElse(Array.empty[(Long, P, Long)])
            .filter(_._3 >= wm)
          val out = Vector.newBuilder[O]
          val fresh = scala.collection.mutable.ArrayBuffer.empty[(Long, P, Long)]
          rows.map(r => (r._2, r._3, r._4.getTime)).toVector.sortBy(_._1).foreach {
            case (id, p, ts) =>
              alive.foreach { case (pid, pp, _) =>
                compare(id, p, pid, pp).foreach(out += _) }
              fresh.foreach { case (pid, pp, _) =>
                compare(id, p, pid, pp).foreach(out += _) }
              fresh += ((id, p, ts))
          }
          val next = alive ++ fresh
          state.update(next)
          // expire when the watermark passes the NEWEST resident — at
          // that point the eviction filter would empty the bucket
          if (next.nonEmpty) state.setTimeoutTimestamp(next.map(_._3).max)
          out.result().iterator
        }
      }
  }

  /** The in-stream MinHash verdict (q31's verify rule): the
    * signature-overlap estimate, emitted as an ordered pair at ≥ 0.5. */
  private def minhashEstimate(id: Long, sg: Array[Long], pid: Long,
      psg: Array[Long]): Option[(Long, Long, Double)] = {
    val K = graft.dedup.Dedup.K
    var eq = 0; var i = 0
    while (i < K) { if (sg(i) == psg(i)) eq += 1; i += 1 }
    val est = eq.toDouble / K
    if (est >= 0.5) Some((math.min(pid, id), math.max(pid, id), est)) else None
  }

  /** The Hamming detector's pigeonhole split and radius: a 64-bit hash
    * in 4 bands of 16 bits is lossless to Hamming distance 3
    * (q357/q362's radius, [[graft.functions.Banding]]). */
  private val HashBands = 4
  private val HashBandBits = 16
  private val HashRadius = 3

  /** The in-stream perceptual verdict: Hamming distance ≤
    * [[HashRadius]] between two 64-bit hashes, as an ordered pair. */
  private def hammingVerdict(id: Long, h: Long, pid: Long,
      ph: Long): Option[(Long, Long, Int)] = {
    val d = java.lang.Long.bitCount(h ^ ph)
    if (d <= HashRadius) Some((math.min(pid, id), math.max(pid, id), d))
    else None
  }

  /** Corpus-probe hits `(new_doc, match_doc, …)` as a detector's ordered
    * `(doc_a, doc_b, score)` pairs. */
  private def orderedPairs(hits: DataFrame, score: Column): DataFrame =
    hits.select(least(col("new_doc"), col("match_doc")).as("doc_a"),
      greatest(col("new_doc"), col("match_doc")).as("doc_b"), score)

  /** THE text-LSH streaming detector behind q319/q338/q371 and q385,
    * returned UN-STARTED so the spec can drive it and read the
    * state-operator expiry metrics. The (doc_id, text) `docs` replay in
    * [[stagedReplay]]'s batches; per micro-batch, each doc's MinHash
    * signature is banded with the SAME split as the batch detector
    * ([[graft.dedup.Dedup.bandKeys]] — the two can never fork) and
    * paired by [[ttlPairs]] under the caller's watermark horizon at the
    * identical signature-overlap estimate (≥ 0.5).
    *
    * INDEX-SEEDED when `indexDir` is given (q385): `docs` is then only
    * the delta slice, and its band rows also probe
    * [[graft.dedup.Dedup.saveLshIndex]]'s parquet STREAM-STATIC
    * ([[graft.functions.Banding.bandJoin]], then q285's exact
    * [[graft.dedup.Dedup.verifyJaccard]]) — stateless, so the corpus is
    * never re-shingled into state and a restart loses nothing. The band
    * rows carry each doc's shingle set: a stream-static join cannot
    * fetch it afterwards. `est_jaccard` is the signature estimate for
    * within-stream pairs and the exact Jaccard for corpus hits. */
  private[graft] def lshPairsTtlStream(spark: SparkSession, docs: DataFrame,
      base: String, horizon: String,
      indexDir: Option[String] = None): DataFrame = {
    import spark.implicits._
    import graft.dedup.Dedup
    val src = stagedReplay(spark, docs.select(col("doc_id"), col("text")),
      "doc_id", base, horizon)
    // O(batch) per micro-batch: the MinHash signature and, for the
    // index leg, the exact-verify shingle set
    val banded = Dedup.bandKeys(src.select(col("doc_id"), col("ts"),
      call_function("minhash_sig", Dedup.shingleHashes(col("text"), mod = true))
        .as("sig"),
      Dedup.shingleHashes(col("text"), mod = false).as("ha"))
      .withColumn("na", size(col("ha")).cast("long")))
    val streamPairs = ttlPairs[Array[Long], (Long, Long, Double)](banded,
        bandBucket, "doc_id", col("sig"), minhashEstimate)
      .toDF("doc_a", "doc_b", "est_jaccard")
    indexDir.fold(streamPairs) { ix =>
      val (bands, sets) = Dedup.lshIndex(spark, ix)
      val cand = graft.functions.Banding.bandJoin(banded, bands)
        .select(col("d.doc_id").as("new_doc"), col("c.doc_id").as("match_doc"),
          col("d.ha"), col("d.na"))
      streamPairs.unionByName(orderedPairs(Dedup.verifyJaccard(cand, sets),
        col("jaccard").as("est_jaccard")))
    }
  }

  /** A perceptual-hash column: how doc ids render to payload rows, how
    * a streamed payload frame decodes (executor-side, the batch kernels
    * verbatim — stateless typed mapPartitions, legal on a streaming
    * Dataset) to `doc_id` + the 64-bit hash column `hashCol`, which is
    * also that column's name in the persisted band index. */
  private[graft] case class HashKernel(render: DataFrame => DataFrame,
      decode: DataFrame => DataFrame, hashCol: String)

  private[graft] val ImageKernel = HashKernel(
    ids => graft.multimodal.Multimodal.generatedMediaOf(ids).toDF(),
    src => graft.multimodal.Multimodal.aHash(src
      .select(col("doc_id"), col("payload"), col("format"), col("width"),
        col("height"))
      .as(Encoders.product[graft.multimodal.Multimodal.MediaRecord])).toDF(),
    "ahash")

  private[graft] val AudioKernel = HashKernel(
    ids => graft.multimodal.Audio.generatedAudioOf(ids).toDF(),
    src => graft.multimodal.Audio.fpOf(src
      .select(col("doc_id"), col("payload"), col("format"))
      .as(Encoders.product[graft.multimodal.Audio.AudioRecord])).toDF(),
    "fp")

  /** THE Hamming-banded streaming detector behind the image (q366/q369,
    * q384) and audio (q386) gates — the media twin of
    * [[lshPairsTtlStream]]. The `ids` docs are rendered ONCE to
    * [[stagedReplay]]'s staging table, decoded + hashed per micro-batch
    * by `kernel`, fanned into the [[HashBands]]×[[HashBandBits]]
    * pigeonhole bands, and paired by [[ttlPairs]] at Hamming ≤
    * [[HashRadius]]. Payload bytes never enter state — only (doc_id,
    * hash, ts), 24 bytes per resident.
    *
    * INDEX-SEEDED when `indexDir` is given (the streaming twin of the
    * q380 persisted-index probe, VERDICT r15 #6): a (re)started stream
    * begins with EMPTY band-bucket state, so near-dups of
    * already-ingested corpus docs would go undetected unless the whole
    * corpus were replayed into state on every restart. Instead the
    * corpus side is the persisted band index
    * ([[graft.multimodal.Multimodal.saveImageIndex]],
    * [[graft.multimodal.Audio.saveAudioIndex]]) probed STREAM-STATIC per
    * micro-batch by the batch probes' candidate rule
    * ([[graft.functions.Banding.hammingProbe]]) — stateless, so a
    * restart loses nothing and the corpus is never re-rendered — while
    * within-stream duplicates keep flowing through the state core;
    * `ids` is then only the delta slice. Cross-band duplicate emissions
    * collapse in the caller's final distinct (the ttlPairs convention). */
  private[graft] def hammingPairsTtlStream(spark: SparkSession,
      ids: DataFrame, kernel: HashKernel, base: String, horizon: String,
      indexDir: Option[String] = None): DataFrame = {
    import spark.implicits._
    import graft.functions.Banding
    val h = kernel.hashCol
    val fanned = Banding.banded(
      stagedReplay(spark, kernel.render(ids), "doc_id", base, horizon,
        kernel.decode).select(col("doc_id"), col(h), col("ts")),
      Banding.multiBands(Seq(col(h)), HashBands, HashBandBits))
    val streamPairs = ttlPairs[Long, (Long, Long, Int)](fanned, bandBucket,
        "doc_id", col(h), hammingVerdict)
      .toDF("doc_a", "doc_b", "dist")
    indexDir.fold(streamPairs) { ix =>
      streamPairs.unionByName(orderedPairs(Banding.hammingProbe(fanned,
        Banding.readHashBands(spark, s"$ix/bands", Seq(h)), Seq(h), HashRadius),
        col("dist")))
    }
  }

  /** The delta slice every index-seeded detector streams
    * ([[graft.Tables.isDelta]]). */
  private[graft] def deltaDocs(spark: SparkSession, dir: String): DataFrame =
    load(spark, dir, "documents").filter(isDelta(col("doc_id")))

  /** Run one streaming near-dup detector — staged (by
    * [[stageOrderedBatches]], which wipes it first) under the tmp root
    * of run `name`, which it receives — through the append-mode memory
    * sink, and collapse its cross-band duplicate emissions; the pairs
    * come ordered by their two ids. The staging root is deleted after
    * the run: the pairs live in the memory sink. */
  private def detectPairs(spark: SparkSession, dir: String, name: String)(
      detector: String => DataFrame): DataFrame = {
    val base = graft.util.Scratch.tmpPath(name, dir)
    try {
      val pairs = runToMemory(detector(base), name, "append").distinct()
      pairs.orderBy(pairs.columns.take(2).map(col).toSeq: _*)
    } finally FileUtils.deleteQuietly(new java.io.File(base)): Unit
  }

  /** q338 — STREAMING CANARY CHECK: q335's planted-duplicate
    * acceptance test run through the STREAMING detector (the
    * [[ttlPairs]] band-bucket state machinery) — the health probe for
    * the ingest path itself: canaries ride the same micro-batches as
    * real documents (one batch after their source doc, so detection
    * exercises the cross-batch state path), and a detection rate below
    * 1.0 means the stateful detector — not just the batch algorithm —
    * is dropping duplicates. The oracle is q335's string VERBATIM:
    * batch and streaming canary checks must agree exactly, because
    * under [[ReplayHorizon]] the streaming pair set equals q31's. */
  def streamCanaries(spark: SparkSession, dir: String): DataFrame = {
    val docs = load(spark, dir, "documents").select(col("doc_id"), col("text"))
    val planted = docs.unionByName(docs.filter(col("doc_id") % 97 === 0)
      .select((col("doc_id") + CanaryShift).as("doc_id"),
        concat(col("text"), lit(" canaryx")).as("text")))
    val det = detectPairs(spark, dir, "graft_stream_canary")(
        lshPairsTtlStream(spark, planted, _, ReplayHorizon))
      .filter(col("doc_a") % 97 === 0 &&
        col("doc_b") === col("doc_a") + CanaryShift)
      .agg(count(lit(1)).as("n_detected"))
    load(spark, dir, "documents")
      .filter(col("doc_id") % 97 === 0)
      .agg(count(lit(1)).as("n_planted"))
      .crossJoin(broadcast(det))
      .withColumn("detection_rate",
        col("n_detected").cast(org.apache.spark.sql.types.DoubleType) /
          col("n_planted"))
  }

  /** q319 — STREAMING LSH NEAR-DUP DETECTION: the incremental twin of
    * q31 — documents arrive in micro-batches and each is compared ONLY
    * against its band-bucket's residents ([[ttlPairs]]) — the
    * production ingest-dedup shape: "is this incoming doc a near-copy
    * of anything already ingested?", answered per batch without
    * rescanning the corpus. Runs under [[ReplayHorizon]], so nothing
    * evicts during the finite replay and the final pair set must equal
    * batch q31's EXACTLY — the oracle is q31's string verbatim, so the
    * two forms can never fork. The same code deployed on a continuous
    * stream is state-bounded at one horizon per bucket; the
    * watermark-tight twin whose gate PROVES eviction is q371. */
  def streamLshDedup(spark: SparkSession, dir: String): DataFrame =
    detectPairs(spark, dir, "graft_stream_lsh_dedup")(
      lshPairsTtlStream(spark, load(spark, dir, "documents"), _, ReplayHorizon))

  /** q371 — TTL-BOUNDED STREAMING LSH DEDUP: q319 under the tight
    * [[TtlHorizon]] on the shared [[ttlPairs]] core. The gate proves both
    * directions against q31's pair rule RESTRICTED to the watermark
    * window: in-window pairs (batch gap ≤ 2, batch = doc_id mod 4)
    * must all emit with their exact signature-overlap estimates, and
    * out-of-window pairs (gap 3 — present in the corpus) must NOT — a
    * NoTimeout implementation fails this gate with q31's full set.
    * State bound: residents per band bucket ≤ one watermark window of
    * colliding signatures, independent of stream length. */
  def streamLshDedupTtl(spark: SparkSession, dir: String): DataFrame =
    detectPairs(spark, dir, "graft_stream_lsh_ttl")(
      lshPairsTtlStream(spark, load(spark, dir, "documents"), _, TtlHorizon))

  /** q366 — STREAMING PERCEPTUAL IMAGE DEDUP: q319's ingest-dedup
    * shape applied to MEDIA via [[hammingPairsTtlStream]]. Runs under
    * [[ReplayHorizon]] — the gate is the can-never-fork contract: the
    * emitted pair set must equal batch q357's EXACTLY (oracle = q357's
    * string verbatim), so batching, state carry-over, and the banding
    * fan-out are all pinned against the batch path. The watermark-tight
    * twin whose gate PROVES eviction is q369. */
  def streamImageDedup(spark: SparkSession, dir: String): DataFrame =
    detectPairs(spark, dir, "graft_stream_img_dedup")(hammingPairsTtlStream(
      spark, load(spark, dir, "documents"), ImageKernel, _, ReplayHorizon))

  /** q384 — INDEX-SEEDED STREAMING IMAGE DEDUP: the q380 persisted
    * index composed into the streaming detector
    * ([[hammingPairsTtlStream]], image kernel). Only the DELTA slice
    * ([[graft.Tables.isDelta]]) streams; near-dups of
    * already-ingested corpus docs flag through the STATELESS
    * stream-static band join against `saveImageIndex`'s parquet — the
    * corpus is never rendered into the stream or carried in state, so
    * a restart loses nothing (OperatorSpec pins cold-restart set
    * equality). Closed-form oracle: a delta doc is always its scene
    * group's BASE (a multiple of 10 is a multiple of 5), so it pairs
    * with each of its group's four corpus members at exactly q357's
    * planted base↔variant distance 1; within-stream planted pairs
    * cannot exist (one multiple of 10 per group), and cross-group
    * accidents are excluded by the same ≤ 3 radius argument as
    * q357's oracle. */
  def streamImageDedupIndexed(spark: SparkSession, dir: String): DataFrame = {
    val ix = graft.util.Scratch.indexDir("graft_img_ixs_index", dir)
    graft.multimodal.Multimodal.saveImageIndex(spark, dir, ix)
    detectPairs(spark, dir, "graft_stream_img_ixs")(hammingPairsTtlStream(
      spark, deltaDocs(spark, dir), ImageKernel, _, ReplayHorizon, Some(ix)))
  }

  /** q385 — INDEX-SEEDED STREAMING TEXT DEDUP: q384's restart-proof
    * pattern on the LSH column ([[lshPairsTtlStream]] with the index). The
    * corpus side is `saveLshIndex`'s parquet — never replayed into
    * state, so a restarted stream re-pays nothing (OperatorSpec pins
    * cold-restart set equality). Oracle: corpus hits are q285's
    * exact-verified delta-vs-corpus matches (the deltaProbeCte `ver`
    * chain, J ≥ 0.5); within-stream hits are q31's pair rule
    * restricted to both-delta endpoints — the two sets are disjoint
    * by construction and their union is exact. */
  def streamLshDedupIndexed(spark: SparkSession, dir: String): DataFrame = {
    val ix = graft.util.Scratch.indexDir("graft_lsh_ixs_index", dir)
    graft.dedup.Dedup.saveLshIndex(spark, dir, ix)
    detectPairs(spark, dir, "graft_stream_lsh_ixs")(lshPairsTtlStream(
      spark, deltaDocs(spark, dir), _, ReplayHorizon, Some(ix)))
      .withColumnRenamed("est_jaccard", "score")
  }

  /** q386 — INDEX-SEEDED STREAMING AUDIO DEDUP: the pattern completed
    * across all three ingest columns (text q385, image q384, audio
    * here) — [[hammingPairsTtlStream]], audio kernel, against
    * `saveAudioIndex`'s parquet. Closed-form oracle: a delta doc pairs
    * with each of its clip group's corpus members (group = doc div 4)
    * at q362's planted distance — 1 when either side is the group
    * base (variant 0), 2 between re-encodes; within-stream planted
    * pairs cannot exist (two multiples of 10 never share 4 consecutive
    * ids), and cross-group fingerprints never pass Hamming ≤ 3 (q362's
    * soundness argument). */
  def streamAudioDedupIndexed(spark: SparkSession, dir: String): DataFrame = {
    val ix = graft.util.Scratch.indexDir("graft_aud_ixs_index", dir)
    graft.multimodal.Audio.saveAudioIndex(spark, dir, ix)
    detectPairs(spark, dir, "graft_stream_aud_ixs")(hammingPairsTtlStream(
      spark, deltaDocs(spark, dir), AudioKernel, _, ReplayHorizon, Some(ix)))
  }

  /** The index-seeded streaming SEMANTIC detector behind q389 —
    * the q384/q385/q386 restart-proof pattern carried to the FOURTH
    * ingest column (embeddings): the corpus side is
    * [[graft.sim.Similarity.saveIvfIndexOn]]'s persisted parquet
    * (centroids + bucket assignment, built from the NON-delta slice —
    * the q295 production invariant that a delta never retrains or
    * re-indexes the corpus mid-flight), probed stream-static per
    * micro-batch; no corpus vector ever enters stream state, so a
    * cold restart reproduces the identical pair set.
    *
    * Per arriving vector, stateless and codegen-friendly:
    *  - the O(k) centroid table is collapsed to ONE static row
    *    (array of structs) and cross-joined in (a broadcast of one
    *    row, whatever the corpus size);
    *  - [[graft.sim.Similarity.probeCidsExpr]] ranks the centroids
    *    inside higher-order functions (append-mode-legal — the batch
    *    probe's `row_number` spelling is not) with the identical
    *    cosine-DESC/cid-DESC rule;
    *  - corpus candidates come from the persisted `assign` parquet
    *    via a stream-static equi-join on the probed bucket ids —
    *    at 100 TB a narrow per-batch index scan, the same economics
    *    as the text/image/audio detectors — and exact-verify at
    *    cosine >= 0.4 (q99's threshold, codegen'd `vec_dot`);
    *  - within-stream pairs go through [[ttlPairs]] keyed on the
    *    TOP-1 coarse bucket (the same blocking rule q99 uses for
    *    batch pairs), exact cosine in the comparator with the same
    *    left-fold double op order as `vec_dot`.
    *
    * The delta slice ([[graft.Tables.isDelta]] on vec_id) and the
    * [[stagedReplay]] batches mirror q385. */
  private[graft] def semanticPairsStreamIndexed(spark: SparkSession,
      dir: String, base: String, horizon: String,
      indexDir: String): DataFrame = {
    import spark.implicits._
    import graft.sim.Similarity
    val src = stagedReplay(spark,
      Similarity.vecs(spark, dir).filter(isDelta(col("vec_id"))), "vec_id",
      base, horizon)
    // one-row static frame: the whole O(k) quantizer as an array,
    // sorted by cid for a deterministic (if semantically irrelevant)
    // layout
    val (cent, assign) = Similarity.ivfIndex(spark, indexDir)
    val centArr = cent.agg(array_sort(collect_list(
      struct(col("cid"), col("ce"), col("cn")))).as("cents"))
    val probed = src.crossJoin(broadcast(centArr))
      .withColumn("cids", Similarity.probeCidsExpr(
        col("cents"), col("embedding"), col("n2")))
      .withColumn("b1", col("cids").getItem(0))
      .drop("cents")
    val ixAssign = assign.select(col("vec_id").as("m_id"),
      col("embedding").as("me"), col("n2").as("mn"), col("cid"))
    val corpusHits = probed
      .select(col("vec_id"), col("embedding"), col("n2"),
        explode(col("cids")).as("cid"))
      .join(ixAssign, Seq("cid"))
      .withColumn("cosine", Similarity.cosine(
        Similarity.dot(col("embedding"), col("me")), col("n2"), col("mn")))
      .filter(col("cosine") >= 0.4)
      .select(least(col("vec_id"), col("m_id")).as("vec_a"),
        greatest(col("vec_id"), col("m_id")).as("vec_b"), col("cosine"))
    val streamPairs = ttlPairs[(Array[Float], Double), (Long, Long, Double)](
      probed, concat(lit("c"), col("b1")), "vec_id",
      struct(col("embedding").as("_1"), col("n2").as("_2")), (id, p, pid, pp) => {
        // identical double op sequence to VecDotFloat's codegen loop
        // (left-fold sum of widened products) and to the oracle's
        // LIST_REDUCE — the three must never fork
        val (e1, n1) = p; val (e2, n2) = pp
        var s = 0.0; var i = 0
        while (i < e1.length) { s += e1(i).toDouble * e2(i).toDouble; i += 1 }
        val cos = s / math.sqrt(n1 * n2)
        if (cos >= 0.4) Some((math.min(pid, id), math.max(pid, id), cos))
        else None
      }).toDF("vec_a", "vec_b", "cosine")
    streamPairs.unionByName(corpusHits)
  }

  /** q389 — INDEX-SEEDED STREAMING SEMANTIC DEDUP (gate form): builds
    * the base-corpus IVF index per call for oracle determinism
    * (production builds once — the stream only ever reads it), runs
    * the [[semanticPairsStreamIndexed]] detector over the staged
    * delta replay, and collapses cross-leg duplicates exactly like
    * q384/q385/q386. */
  def streamSemanticDedupIndexed(spark: SparkSession, dir: String): DataFrame = {
    import graft.sim.Similarity
    val ix = graft.util.Scratch.indexDir("graft_sem_ixs_index", dir)
    Similarity.saveIvfIndexOn(spark,
      Similarity.vecs(spark, dir).filter(!isDelta(col("vec_id"))), ix)
    detectPairs(spark, dir, "graft_stream_sem_ixs")(
      semanticPairsStreamIndexed(spark, dir, _, ReplayHorizon, ix))
  }

  /** q369 — TTL-BOUNDED STREAMING PERCEPTUAL DEDUP: q366 under the
    * tight [[TtlHorizon]]. The gate proves both directions against a
    * closed-form oracle: in-window scene pairs (batch gap ≤ 2) must
    * all emit with q357's planted distances, and out-of-window pairs
    * (gap 3 — present in EVERY 5-doc scene group, since 5 consecutive
    * ids cover all 4 batch classes) must NOT — a NoTimeout
    * implementation fails the gate with 1000 rows instead of 850 at
    * sf0.001. State bound: residents per bucket ≤ one watermark window
    * of colliding hashes (~3 batches here), 24 bytes each, independent
    * of stream length. */
  def streamImageDedupTtl(spark: SparkSession, dir: String): DataFrame =
    detectPairs(spark, dir, "graft_stream_img_ttl")(hammingPairsTtlStream(
      spark, load(spark, dir, "documents"), ImageKernel, _, TtlHorizon))

  /** STREAMING RUNNING TOTALS via `transformWithState` — the third
    * implementation of the per-user balance/count semantics, gated on
    * the SAME oracle string as q188's foreachBatch MERGE (and the
    * plain batch aggregate it states): typed processor + ValueState
    * instead of join-based merge, state bounded at one pair per user.
    * The source is the q188-style 4-file split with
    * maxFilesPerTrigger=1, so state genuinely carries across four
    * micro-batches; each batch emits its keys' consolidated totals
    * into the append-mode memory sink, and because (cents, n) are
    * monotone the final totals are the per-user max of the emitted
    * rows. RocksDB state store is enabled for this query (the TWS
    * requirement) and the previous provider restored after. */
  def streamRunningTotals(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    val src = splitStream(events(spark, dir).select(col("user_id"),
      (d2(col("value")) * 100).cast("long").as("cents")),
      freshTmp("graft_tws", dir))
    runTws(spark, "graft_tws_totals") {
      src.as[TwsIn].groupByKey(_.user_id)
        .transformWithState(new RunningTotalsProc, TimeMode.None(), OutputMode.Append())
        .toDF()
    }.groupBy(col("user_id"))
      .agg(max(col("cents")).as("cents"), max(col("n_events")).as("n_events"))
      .select(col("user_id"), (col("cents") / 100.0).as("balance"),
        col("n_events"))
      .orderBy(col("user_id"))
  }

  /** The exact source contract [[kafkaSource]] configures — exposed so
    * the spec can assert the surface offline, where `.load()` itself
    * cannot run for want of the connector jar. */
  private[graft] val KafkaFormat = "kafka"
  private[graft] def kafkaOptions(servers: String, topic: String): Map[String, String] =
    Map("kafka.bootstrap.servers" -> servers, "subscribe" -> topic)
  private[graft] val kafkaProjection: Seq[String] = Seq(
    "CAST(key AS STRING) AS key",
    "CAST(value AS STRING) AS value",
    "topic", "partition", "offset", "timestamp")

  /** Kafka streaming source (SURVEY §2.1's intended stream source —
    * the reference ships kafka-python in requirements but never wires
    * it): the exact `readStream.format("kafka")` plan a cluster runs,
    * projecting the standard columns with the payload cast to STRING.
    * Without the spark-sql-kafka connector jar on the classpath the
    * plan cannot be BUILT (DataSource lookup fails at load()); the spec
    * exercises this constructor and converts that classpath gap into a
    * canceled — not silently skipped — test. With the connector the
    * same call yields an unbounded source that every query in this
    * module runs on unchanged (the file-stream AvailableNow twins
    * q40/q43/q73 exist precisely so the logic is oracle-checkable
    * offline). */
  def kafkaSource(spark: SparkSession, servers: String, topic: String): DataFrame =
    spark.readStream.format(KafkaFormat)
      .options(kafkaOptions(servers, topic))
      .load()
      .selectExpr(kafkaProjection: _*)

  /** STREAMING exact DAU via the q153 bitmap monoid: the stream
    * aggregates (day, word-index) → bit_or of 64-bit words — bit_or is
    * commutative/associative/idempotent, so micro-batch order cannot
    * change the final words and state is BOUNDED at one int64 per
    * occupied word (≈ active-id-range/64 per day), never a seen-set of
    * raw user ids. The popcount rollup runs batch-side on the sink
    * (streaming allows one aggregation per query). == q153's
    * COUNT(DISTINCT) oracle STRING, so the streaming and batch forms
    * can never fork. */
  def streamBitmapDau(spark: SparkSession, dir: String): DataFrame = {
    // the SAME word derivation + rollup as batch q153 (shared helpers,
    // the q140/q135 latestBy convention) — only the source differs
    val agg = graft.ops.Validate.dayUserBitmap(
      eventsStream(spark, dir, withTs = true))
    graft.ops.Validate.bitmapRollup(
      runToMemory(agg, "graft_stream_bitmap"))
  }

  /** q297 — STREAMING EXACT QUANTILES via histogram state: the stream
    * maintains only the (event_type, cents) value HISTOGRAM as its
    * aggregation state — bounded by the VALUE DOMAIN (~types × 20k
    * cells), never by the row count — and the exact discrete quartiles
    * (q287's ceil(k·n/4) rule, same machinery) finalize from that
    * state. The design statement: when the domain is bounded you need
    * NO approximate sketch (t-digest/GK) to get percentiles from an
    * unbounded stream — the histogram is a commutative monoid, so the
    * streamed state equals the batch rollup bit-for-bit and the gate
    * proves it. Complete-mode memory sink materializes the final
    * state under AvailableNow; an unbounded deployment emits the same
    * state in update mode to an upsert sink. */
  def streamQuartiles(spark: SparkSession, dir: String): DataFrame = {
    val hist = eventsStream(spark, dir)
      .select(col("event_type"),
        (d2(col("value")) * 100).cast("long").as("cents"))
      .groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("c"))
    val h = runToMemory(hist, "graft_stream_quartiles")
    val wCdf = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("cents"))
      .rowsBetween(Long.MinValue, 0)
    val wTot = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type"))
      .rowsBetween(Long.MinValue, Long.MaxValue)
    h.withColumn("cum", sum(col("c")).over(wCdf))
      .withColumn("n_grp", sum(col("c")).over(wTot))
      .groupBy(col("event_type"))
      .agg(max(col("n_grp")).cast("long").as("n"),
        min(when(col("cum") >= expr("(n_grp + 3) div 4"), col("cents")))
          .as("q1_cents"),
        min(when(col("cum") >= expr("(3 * n_grp + 3) div 4"), col("cents")))
          .as("q3_cents"))
      .orderBy(col("event_type"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q297_stream_quartiles" -> streamQuartiles,
    "q188_stream_merge" -> streamMerge,
    "q198_stream_tws_totals" -> streamRunningTotals,
    "q199_stream_tws_distinct" -> streamDistinctTypes,
    "q228_stream_tws_log" -> streamEventLog,
    "q164_stream_bitmap_dau" -> streamBitmapDau,
    "q40_stream_hourly" -> streamHourly,
    "q249_stream_union" -> streamUnion,
    "q262_stream_chained" -> streamChained,
    "q271_stream_tws_timers" -> streamTimerFlush,
    "q278_stream_source_sketch" -> streamSourceSketch,
    "q319_stream_lsh_dedup" -> streamLshDedup,
    "q338_stream_canaries" -> streamCanaries,
    "q366_stream_image_dedup" -> streamImageDedup,
    "q369_stream_dedup_ttl" -> streamImageDedupTtl,
    "q384_stream_image_dedup_indexed" -> streamImageDedupIndexed,
    "q385_stream_lsh_dedup_indexed" -> streamLshDedupIndexed,
    "q386_stream_audio_dedup_indexed" -> streamAudioDedupIndexed,
    "q389_stream_semantic_dedup_indexed" -> streamSemanticDedupIndexed,
    "q371_stream_lsh_dedup_ttl" -> streamLshDedupTtl,
    "q42_custom_state_sessions" -> customStateSessions,
    "q43_stream_dedup" -> streamDedup,
    "q73_stream_join" -> streamJoin,
    "q119_stream_outer_join" -> streamOuterJoin,
    "q140_stream_golden_record" -> streamGoldenRecord,
    "q97_stream_dedup_bounded" -> streamDedupBounded,
    "q102_stream_sliding" -> streamSliding,
    "q103_stream_topk" -> streamTopK,
    "q104_stream_sessions" -> streamSessions,
    "q88_stream_static_join" -> streamStaticJoin)

  /** Shared by q188 (foreachBatch merge) and q198 (transformWithState):
    * associative per-key addition must equal the one-shot aggregate. */
  private val runningTotalsOracle =
    """SELECT user_id,
      |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS balance,
      |  COUNT(*) AS n_events
      |FROM events GROUP BY 1 ORDER BY 1""".stripMargin

  private val hourlyOracle =
    """SELECT DATE_TRUNC('hour', ts) AS hour_start, event_type,
      | COUNT(*) AS n_events,
      | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
      |FROM events
      |GROUP BY 1, 2
      |ORDER BY 1, 2""".stripMargin

  private val dedupOracle =
    """SELECT event_type, COUNT(*) AS n_events
      |FROM (SELECT DISTINCT event_id, event_type FROM events)
      |GROUP BY event_type
      |ORDER BY event_type""".stripMargin

  /** q40 is identical to q25's oracle, and q42/q104 to q39's: the
    * streaming / custom-state runs must agree with the batch semantics
    * bit-for-bit (q104 reuses q39's oracle STRING so they can never
    * fork). */
  val oracles: Map[String, String] = Map(
    // q297: the streamed histogram state must finalize to the exact
    // batch quartiles — q287's ceil(k·n/4) rule, quartile columns only
    "q297_stream_quartiles" ->
      """WITH e AS (SELECT event_type,
        |    CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS cents
        |  FROM events),
        |h AS (SELECT event_type, cents, COUNT(*) AS c
        |      FROM e GROUP BY 1, 2),
        |cdf AS (SELECT event_type, cents, c,
        |          SUM(c) OVER (PARTITION BY event_type ORDER BY cents) AS cum,
        |          SUM(c) OVER (PARTITION BY event_type) AS n_grp
        |        FROM h)
        |SELECT event_type, CAST(MAX(n_grp) AS BIGINT) AS n,
        |  MIN(CASE WHEN cum >= (n_grp + 3) // 4 THEN cents END) AS q1_cents,
        |  MIN(CASE WHEN cum >= (3 * n_grp + 3) // 4 THEN cents END)
        |    AS q3_cents
        |FROM cdf GROUP BY 1
        |ORDER BY event_type""".stripMargin,
    // q278: the 4-batch incremental sketch merge must equal the
    // one-shot per-source signature (element-wise min is order-free) —
    // same CTE machinery as the q74/q275 batch oracles
    // q338: q335's oracle VERBATIM — batch and streaming canary
    // checks must agree exactly
    "q338_stream_canaries" -> graft.dedup.Dedup.canariesOracle,
    // q319: q31's oracle VERBATIM — the streaming detector must emit
    // exactly the batch pair set
    "q319_stream_lsh_dedup" -> graft.dedup.Dedup.lshOracle,
    // q371: q31's pair rule RESTRICTED to the watermark window — the
    // gap-3 pairs q319 emits MUST be suppressed by eviction here
    "q371_stream_lsh_dedup_ttl" -> graft.dedup.Dedup.lshTtlOracle,
    // q366: oracle = batch q357's string verbatim (stream==batch gate)
    "q366_stream_image_dedup" ->
      graft.multimodal.Multimodal.oracles("q357_image_neardup_pairs"),
    // q384: only delta docs stream, and a delta doc is always its
    // scene group's BASE, so the pair set is exactly (delta, corpus
    // group member) at planted distance 1
    "q384_stream_image_dedup_indexed" ->
      """WITH p AS (
        |  SELECT d.doc_id AS doc_a, m.doc_id AS doc_b
        |  FROM documents d JOIN documents m
        |    ON m.doc_id // 5 = d.doc_id // 5 AND m.doc_id <> d.doc_id
        |  WHERE d.doc_id % 10 = 0)
        |SELECT doc_a, doc_b, CAST(1 AS INT) AS dist
        |FROM p ORDER BY doc_a, doc_b""".stripMargin,
    // q385: corpus hits are q285's exact-verified delta-vs-corpus
    // matches (deltaProbeCte's `ver` chain, J >= 0.5); within-stream
    // hits are q31's signature-estimate pair rule restricted to
    // both-delta endpoints — disjoint sets, exact union
    "q385_stream_lsh_dedup_indexed" ->
      s"""WITH ${graft.dedup.Dedup.deltaProbeCte},
        |cp AS (SELECT LEAST(new_doc, match_doc) AS doc_a,
        |         GREATEST(new_doc, match_doc) AS doc_b, jaccard AS score
        |       FROM ver WHERE jaccard >= 0.5),
        |sp0 AS (SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
        |        FROM bands x JOIN bands y
        |          ON x.band = y.band AND x.bkey = y.bkey
        |           AND x.doc_id < y.doc_id
        |        WHERE x.doc_id % 10 = 0 AND y.doc_id % 10 = 0),
        |sp AS (SELECT doc_a, doc_b,
        |         CAST(LEN(LIST_FILTER(
        |             GENERATE_SERIES(1, ${graft.dedup.Dedup.K}),
        |             i -> a.sig[i] = b.sig[i])) AS DOUBLE)
        |           / ${graft.dedup.Dedup.K}.0 AS score
        |       FROM sp0 JOIN sig a ON a.doc_id = sp0.doc_a
        |         JOIN sig b ON b.doc_id = sp0.doc_b)
        |SELECT doc_a, doc_b, score FROM cp
        |UNION
        |SELECT doc_a, doc_b, score FROM sp WHERE score >= 0.5
        |ORDER BY doc_a, doc_b""".stripMargin,
    // q386: a delta doc pairs with its clip group's corpus members at
    // q362's planted distances (1 via the base, 2 re-encode↔re-encode);
    // within-stream pairs cannot exist (two multiples of 10 never
    // share 4 consecutive ids)
    // q389: quantizer/probe CTEs live next to the batch IVF oracles in
    // Similarity (one definition — they can never fork)
    "q389_stream_semantic_dedup_indexed" ->
      graft.sim.Similarity.streamSemanticOracle,
    "q386_stream_audio_dedup_indexed" ->
      """SELECT LEAST(d.doc_id, c.doc_id) AS doc_a,
        |  GREATEST(d.doc_id, c.doc_id) AS doc_b,
        |  CAST(CASE WHEN d.doc_id % 4 = 0 OR c.doc_id % 4 = 0
        |       THEN 1 ELSE 2 END AS INT) AS dist
        |FROM documents d JOIN documents c
        |  ON d.doc_id // 4 = c.doc_id // 4 AND c.doc_id <> d.doc_id
        | AND c.doc_id % 10 <> 0
        |WHERE d.doc_id % 10 = 0
        |ORDER BY doc_a, doc_b""".stripMargin,
    // q369: q357's pair rule RESTRICTED to the watermark window — a
    // scene pair emits iff its docs' event-hours (doc_id mod 4) are at
    // most 2 apart; gap-3 pairs (present in every scene quintet) must
    // be suppressed by eviction, so a NoTimeout detector fails this
    "q369_stream_dedup_ttl" ->
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        | CAST(CASE WHEN a.doc_id % 5 = 0 OR b.doc_id % 5 = 0
        |           THEN 1 ELSE 2 END AS INT) AS dist
        |FROM documents a JOIN documents b
        |  ON a.doc_id // 5 = b.doc_id // 5 AND a.doc_id < b.doc_id
        | AND abs((a.doc_id % 4) - (b.doc_id % 4)) <= 2
        |ORDER BY doc_a, doc_b""".stripMargin,
    "q278_stream_source_sketch" ->
      s"""WITH t AS (SELECT doc_id, source,
        |    STRING_SPLIT_REGEX(TRIM(text), ' +') AS toks FROM documents),
        |s AS (SELECT doc_id, source,
        |    ${graft.dedup.Dedup.shinglesSql} AS sh FROM t),
        |h AS (SELECT doc_id, source,
        |    LIST_TRANSFORM(sh, x -> ${phashModSql("x")}) AS hs FROM s),
        |sig AS (SELECT doc_id, source,
        |    LIST_TRANSFORM(${graft.dedup.Dedup.permsSql},
        |      p -> LIST_MIN(LIST_TRANSFORM(hs, v -> (p.a * v + p.b) % ${P})))
        |    AS sig FROM h)
        |SELECT source, COUNT(*) AS n_docs,
        |  ARRAY_TO_STRING([${(1 to graft.dedup.Dedup.K).map(i =>
             s"CAST(MIN(sig.sig[$i]) AS VARCHAR)").mkString(", ")}], ',')
        |    AS source_sig
        |FROM sig GROUP BY source ORDER BY source""".stripMargin,
    // associative per-key decimal addition: 4 incremental merges must
    // equal the one-shot batch aggregate exactly
    "q188_stream_merge" -> runningTotalsOracle,
    // the typed-state form must agree with the merge form and the
    // batch aggregate: same oracle STRING
    "q198_stream_tws_totals" -> runningTotalsOracle,
    "q199_stream_tws_distinct" ->
      """SELECT user_id,
        |  CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_distinct_types
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    "q228_stream_tws_log" ->
      """SELECT user_id, COUNT(*) AS n_events,
        |  CAST(MIN(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS min_cents,
        |  CAST(MAX(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
        |    AS BIGINT) AS max_cents
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,
    // q164 == q153's batch twin: same oracle STRING
    "q164_stream_bitmap_dau" ->
      graft.ops.Validate.oracles("q153_bitmap_distinct"),
    "q104_stream_sessions" ->
      graft.ops.Temporal.oracles("q39_session_window"),
    // q140 == q135's batch twin: same oracle STRING, so the streaming
    // materialized view and the batch consolidation can never fork
    "q140_stream_golden_record" ->
      graft.ops.Temporal.oracles("q135_golden_record"),
    "q88_stream_static_join" ->
      """SELECT n_name, COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events JOIN nation ON user_id % 25 = n_nationkey
        |GROUP BY n_name
        |ORDER BY n_name""".stripMargin,
    "q40_stream_hourly" -> hourlyOracle,
    // the parity split is a partition of the input: the unioned
    // two-feed stream must reproduce the batch hourly rollup exactly
    // (same oracle STRING so the forms can never fork)
    "q249_stream_union" -> hourlyOracle,
    // timer emission rule in closed form: users whose quiet point the
    // final watermark overtook (both sides in floor-to-ms event time)
    "q271_stream_tws_timers" ->
      """WITH m AS (SELECT MAX(epoch_us(ts)) // 1000 AS mx FROM events),
        |u AS (SELECT user_id, COUNT(*) AS n_events,
        |    MAX(epoch_us(ts)) // 1000 AS last_ms
        |  FROM events GROUP BY 1)
        |SELECT u.user_id, u.n_events, CAST(u.last_ms AS BIGINT) AS last_ms
        |FROM u, m
        |WHERE u.last_ms + 1800000 <= m.mx - 3600000
        |ORDER BY 1""".stripMargin,
    // append-mode emission rule modeled exactly: only days closed by
    // the final watermark (max ts − 1h, a data-determined value)
    "q262_stream_chained" ->
      """WITH h AS (SELECT DATE_TRUNC('hour', ts) AS h, COUNT(*) AS n
        |  FROM events GROUP BY 1),
        |wm AS (SELECT MAX(ts) - INTERVAL 1 HOUR AS wm FROM events)
        |SELECT DATE_TRUNC('day', h.h) AS day_start,
        |  CAST(SUM(h.n) AS BIGINT) AS n_events,
        |  COUNT(*) AS n_hours,
        |  CAST(MAX(h.n) AS BIGINT) AS busiest_hour_events
        |FROM h, wm
        |WHERE DATE_TRUNC('day', h.h) + INTERVAL 1 DAY <= wm.wm
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q42_custom_state_sessions" ->
      """SELECT user_id, MIN(ts) AS session_start,
        | MAX(ts) + INTERVAL 30 MINUTE AS session_end,
        | COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM (
        |  SELECT user_id, ts, value,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM (
        |    SELECT user_id, event_id, ts, value,
        |      CASE WHEN LAG(ts) OVER w IS NULL
        |                OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
        |           THEN 1 ELSE 0 END AS brk
        |    FROM events
        |    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)))
        |GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,
    "q43_stream_dedup" -> dedupOracle,
    // within one AvailableNow micro-batch the watermark never advances,
    // so the bounded-state dedup is exact == the SAME DISTINCT oracle
    // (one shared string: the q43==q97 contract is also spec-asserted)
    "q97_stream_dedup_bounded" -> dedupOracle,
    "q102_stream_sliding" ->
      """SELECT win_start, event_type, COUNT(*) AS n_events,
        | CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM (
        |  SELECT DATE_TRUNC('hour', ts) - INTERVAL 1 HOUR AS win_start,
        |         event_type, value FROM events
        |  UNION ALL
        |  SELECT DATE_TRUNC('hour', ts) AS win_start,
        |         event_type, value FROM events)
        |GROUP BY 1, 2
        |ORDER BY 1, 2""".stripMargin,
    "q103_stream_topk" ->
      """SELECT user_id, COUNT(*) AS n_events
        |FROM events
        |GROUP BY user_id
        |ORDER BY n_events DESC, user_id
        |LIMIT 10""".stripMargin,
    // matches emit unconditionally; unmatched clicks emit only past the
    // global-watermark horizon (see streamOuterJoin scaladoc) — the
    // oracle encodes the same rule in batch
    "q119_stream_outer_join" ->
      """WITH c AS (SELECT event_id AS click_id, user_id AS click_user,
        |             ts AS click_ts
        |           FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id AS buy_user, ts AS buy_ts, value
        |      FROM events WHERE event_type = 'purchase'),
        |wm AS (SELECT LEAST((SELECT MAX(click_ts) FROM c),
        |                    (SELECT MAX(buy_ts) FROM p))
        |         - INTERVAL 1 HOUR AS w),
        |m AS (SELECT c.click_id, c.click_user, p.value
        |      FROM c JOIN p ON c.click_user = p.buy_user
        |        AND p.buy_ts >= c.click_ts
        |        AND p.buy_ts <= c.click_ts + INTERVAL 4 HOUR),
        |u AS (SELECT c.click_id, c.click_user, CAST(NULL AS DOUBLE) AS value
        |      FROM c, wm
        |      WHERE c.click_id NOT IN (SELECT click_id FROM m)
        |        AND c.click_ts + INTERVAL 4 HOUR < wm.w),
        |allr AS (SELECT * FROM m UNION ALL SELECT * FROM u)
        |SELECT click_user AS user_id, COUNT(*) AS n_emitted,
        |  COUNT(value) AS n_matched,
        |  CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM allr
        |GROUP BY 1
        |ORDER BY 1""".stripMargin,
    "q73_stream_join" ->
      """SELECT a.user_id AS user_id, COUNT(*) AS n_attributed,
        | CAST(SUM(CAST(b.value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events a JOIN events b
        |  ON a.user_id = b.user_id
        | AND a.event_type = 'click' AND b.event_type = 'purchase'
        | AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 4 HOUR
        |GROUP BY 1
        |ORDER BY 1""".stripMargin)
}
