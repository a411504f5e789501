package graft

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Corpus-drift canary + adaptive-loader pins.
  *
  * Round 8 lesson: the driver regenerated the corpus and `events.ts`
  * silently changed physical type from int64 TIMESTAMP(NANOS) to
  * TIMESTAMP(MICROS, isAdjustedToUTC=false), breaking 76 queries with
  * an analysis error far from the cause. These specs make the next
  * regeneration degrade LOUDLY: the canary names the adaptive loader
  * (Tables.tsToNtz / Streams.eventsStream) in its failure message, and
  * the loader itself is pinned against BOTH encodings on synthetic
  * fixtures so neither branch can rot.
  */
class SchemaSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.test()
  private val sf = "/root/testdata/sf0.001"

  test("corpus canary: events.ts physical type is one the adaptive loader handles") {
    val raw = spark.read.parquet(s"$sf/events.parquet")
    val dt = raw.schema("ts").dataType
    assert(
      dt == LongType || dt == TimestampNTZType || dt == TimestampType,
      s"events.ts arrived as $dt — the corpus was regenerated with an " +
        "encoding Tables.tsToNtz (Tables.scala) and Streams.eventsStream " +
        "(streaming/Streams.scala) do not handle; extend the adaptive loader")
    // the adapted view is always timestamp_ntz, whatever the file held
    assert(Tables.events(spark, sf).schema("ts").dataType == TimestampNTZType)
  }

  test("corpus canary: every table matches the engine's expected column types") {
    // name -> (column, expected). Narrow but load-bearing: the columns
    // operators branch on or do arithmetic with.
    val expected = Seq(
      ("lineitem", "l_orderkey", LongType), ("lineitem", "l_quantity", DoubleType),
      ("lineitem", "l_shipdate", TimestampNTZType),
      ("orders", "o_orderkey", LongType), ("orders", "o_orderdate", TimestampNTZType),
      ("customer", "c_custkey", LongType), ("supplier", "s_suppkey", LongType),
      ("part", "p_partkey", LongType), ("nation", "n_nationkey", IntegerType),
      ("region", "r_regionkey", IntegerType),
      ("events", "event_id", LongType), ("events", "user_id", LongType),
      ("events", "event_type", StringType), ("events", "value", DoubleType),
      ("documents", "doc_id", LongType), ("documents", "text", StringType),
      ("embeddings", "vec_id", LongType),
      ("embeddings", "embedding", ArrayType(FloatType, containsNull = true)))
    // containsNull is writer-dependent noise; element type is the signal
    def norm(dt: DataType): DataType = dt match {
      case ArrayType(e, _) => ArrayType(norm(e), containsNull = true)
      case o => o
    }
    val drift = expected.flatMap { case (t, c, want) =>
      val got = Tables.load(spark, sf, t).schema(c).dataType
      if (norm(got) == norm(want)) None
      else Some(s"$t.$c: expected $want, corpus has $got")
    }
    assert(drift.isEmpty,
      s"corpus drift detected (regenerated testdata?):\n  ${drift.mkString("\n  ")}")
  }

  test("adaptive events loader: int64-nanos and timestamp-micros fixtures load identically") {
    import spark.implicits._
    val base = new java.io.File(
      s"${sys.props("java.io.tmpdir")}/graft_schema_fixture")
    FileUtils.deleteQuietly(base)
    val nanosDir = s"${base.getAbsolutePath}/nanos"
    val microsDir = s"${base.getAbsolutePath}/micros"
    try {
      // same three instants in both encodings
      val instants = Seq(
        (1L, "2024-01-01T00:00:00", 10L, "click", 1.0, "{}"),
        (2L, "2024-01-01T06:30:15", 11L, "purchase", 2.5, "{}"),
        (3L, "2024-02-29T23:59:59", 12L, "error", 0.0, "{}"))
      val micros = instants.map { case (id, s, u, t, v, p) =>
        (id, java.time.LocalDateTime.parse(s), u, t, v, p)
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      assert(micros.schema("ts").dataType == TimestampNTZType)
      micros.write.mode("overwrite").parquet(s"$microsDir/events.parquet")
      val nanos = instants.map { case (id, s, u, t, v, p) =>
        val ldt = java.time.LocalDateTime.parse(s)
        val ns = ldt.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000000L
        (id, ns, u, t, v, p)
      }.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
      nanos.write.mode("overwrite").parquet(s"$nanosDir/events.parquet")

      val a = Tables.events(spark, microsDir)
      val b = Tables.events(spark, nanosDir)
      assert(a.schema("ts").dataType == TimestampNTZType)
      assert(b.schema("ts").dataType == TimestampNTZType)
      val ga = a.select("event_id", "ts").collect().map(_.toString).sorted
      val gb = b.select("event_id", "ts").collect().map(_.toString).sorted
      assert(ga.sameElements(gb), s"${ga.toSeq} vs ${gb.toSeq}")
    } finally FileUtils.deleteQuietly(base)
  }

  test("q271 boundary: a timer registered exactly AT the final watermark fires (<= rule)") {
    import spark.implicits._
    // Pins Spark's TimerStateImpl expiry comparison against the
    // oracle's closed form `last_ms + 30min <= max_ms - 1h`. Fixture:
    //   mx (user 4) = t0+10h  =>  final watermark = t0+9h
    //   user 1 last t0+1h     => timer t0+1h30  < wm   -> fires
    //   user 2 last t0+8h30   => timer t0+9h   == wm   -> THE boundary
    //   user 3 last t0+8h45   => timer t0+9h15  > wm   -> stays open
    //   user 4 last t0+10h    => timer t0+10h30 > wm   -> stays open
    val base = new java.io.File(
      s"${sys.props("java.io.tmpdir")}/graft_timer_boundary")
    FileUtils.deleteQuietly(base)
    val dir = base.getAbsolutePath
    try {
      val t0 = java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0)
      val rows = Seq(
        (1L, t0, 1L, "click", 1.0, "{}"),
        (2L, t0.plusHours(1), 1L, "click", 1.0, "{}"),
        (3L, t0.plusMinutes(8 * 60 + 30), 2L, "click", 1.0, "{}"),
        (4L, t0.plusMinutes(8 * 60 + 45), 3L, "click", 1.0, "{}"),
        (5L, t0.plusHours(10), 4L, "click", 1.0, "{}"))
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.mode("overwrite").parquet(s"$dir/events.parquet")
      val out = streaming.Streams.streamTimerFlush(spark, dir)
        .select("user_id", "n_events").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(out === Map(1L -> 2L, 2L -> 1L),
        s"timer-at-watermark emission drifted (got $out): if Spark's " +
          "expiry rule changed to strict <, flip the q271 oracle " +
          "(Streams.scala) to match")
    } finally FileUtils.deleteQuietly(base)
  }
}
