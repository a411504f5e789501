package graft

import java.nio.file.{Files, StandardCopyOption}

import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import org.scalatest.funsuite.AnyFunSuite

import graft.TempDirs.withTempDir

import graft.util.Probes

/** [[Tables.read]]: a single-file table read with its footer's schema,
  * read on the driver, is the frame `spark.read.parquet` infers, with no
  * Spark job; the staged streams take the schema parquet would infer
  * from what they just wrote ([[Tables.readBack]]); and so do the reads
  * of directories the engine wrote ([[Tables.readWritten]]). */
class TablesSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.test()
  private val Sf = "/root/testdata/sf0.001"

  /** The footer-schema read and Spark's inferring read of `path` agree on
    * the schema, the optimized plan of a filtered projection and the rows. */
  private def assertParity(path: String): Unit = {
    val ours = Tables.read(spark, path)
    val spark0 = spark.read.parquet(path)
    assert(ours.schema === spark0.schema, path)
    def q(df: DataFrame): DataFrame = df.select(df.columns.take(2).map(col): _*)
      .filter(col(df.columns.head).isNotNull)
    assert(q(ours).queryExecution.optimizedPlan.sameResult(q(spark0).queryExecution.optimizedPlan),
      path)
    assert(ours.exceptAll(spark0).isEmpty && spark0.exceptAll(ours).isEmpty, path)
  }

  /** `df` written by Spark as one file (its footer carries Spark's row
    * metadata) at `dir/name.parquet`. */
  private def sparkFile(df: DataFrame, dir: java.nio.file.Path, name: String): String = {
    val staged = dir.resolve(s"$name.staged").toString
    df.coalesce(1).write.mode("overwrite").parquet(staged)
    val part = new java.io.File(staged).listFiles().find(_.getName.endsWith(".parquet")).get
    val dst = dir.resolve(s"$name.parquet")
    Files.move(part.toPath, dst, StandardCopyOption.REPLACE_EXISTING)
    dst.toString
  }

  /** A parquet file written by parquet-hadoop's example writer (no Spark
    * row metadata): `n` rows of longs `i * k` per column `k`. */
  private def exampleFile(path: String, schema: String, n: Int): Unit = {
    val t = MessageTypeParser.parseMessageType(schema)
    val w = ExampleParquetWriter.builder(new Path(path)).withType(t)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE).build()
    val groups = new SimpleGroupFactory(t)
    try (0 until n).foreach { i =>
      val g = groups.newGroup()
      (0 until t.getFieldCount).foreach(k => g.add(k, i.toLong * (k + 1)))
      w.write(g)
    } finally w.close()
  }

  test("every corpus table reads as spark.read.parquet infers it") {
    Tables.names.foreach(t => assertParity(s"$Sf/$t.parquet"))
  }

  test("a Spark-written single file reads by its row-metadata schema") {
    withTempDir("graft-tables-spark") { dir =>
      Tables.names.foreach { t =>
        assertParity(sparkFile(spark.read.parquet(s"$Sf/$t.parquet"), dir, t))
      }
    }
  }

  test("int64 TIMESTAMP(NANOS) reads as a long under nanosAsLong") {
    withTempDir("graft-tables-nanos") { tmp =>
      val path = tmp.resolve("ts.parquet").toString
      exampleFile(path,
        "message m { required int64 ts (TIMESTAMP(NANOS,false)); required int64 v; }", 10)
      assertParity(path)
      assert(Tables.read(spark, path).schema("ts").dataType === LongType)
    }
  }

  test("a table load and q40's stream source run no Spark job") {
    Tables.names.foreach { t =>
      assert(Probes.jobs(spark)(Tables.load(spark, Sf, t))._2 === 0, t)
    }
    assert(Probes.jobs(spark)(Tables.events(spark, Sf))._2 === 0)
    assert(Probes.jobs(spark)(graft.streaming.Streams.eventsStream(spark, Sf, withTs = true))._2 === 0)
  }

  test("the job counter sees the jobs a stream runs on its own thread") {
    // the 0-job pins above mean nothing if the counter misses jobs: a
    // stream's micro-batches run on its execution thread, under a job
    // group of its own, and building streamHourly's frame runs only those
    assert(Probes.jobs(spark)(graft.streaming.Streams.streamHourly(spark, Sf))._2 > 0)
  }

  test("a table rewritten with an extra column between two loads shows it") {
    withTempDir("graft-tables-rewrite") { dir =>
      val path = dir.resolve("t.parquet").toString
      exampleFile(path, "message m { required int64 a; required int64 b; }", 5)
      assert(Tables.read(spark, path).columns.toSeq === Seq("a", "b"))
      exampleFile(path, "message m { required int64 a; required int64 b; required int64 c; }", 5)
      val again = Tables.read(spark, path)
      assert(again.columns.toSeq === Seq("a", "b", "c"))
      assert(again.agg(sum("c")).head().getLong(0) === 30L)
    }
  }

  test("a directory keeps Spark's inference") {
    withTempDir("graft-tables-dir") { tmp =>
      val dir = tmp.resolve("t").toString
      spark.range(10).withColumn("x", col("id") * 2).write.parquet(dir)
      assertParity(dir)
    }
  }

  test("staged streams take the schema parquet infers from their files") {
    withTempDir("graft-tables-staged") { tmp =>
      val base = tmp.toString
      val frames = Seq(
        Tables.events(spark, Sf).select(col("event_id"), col("user_id"), col("value")),
        Tables.events(spark, Sf).select(col("user_id"), col("event_type"), col("ts")),
        Tables.load(spark, Sf, "documents").select(col("doc_id"), col("source"), col("text")))
      frames.zipWithIndex.foreach { case (df, i) =>
        val stream = graft.streaming.Streams.splitStream(df, s"$base/split$i")
        assert(stream.schema === spark.read.parquet(s"$base/split$i/src").schema)
      }
      val timer = graft.streaming.Streams.timerFlushInput(spark, Sf)
      timer.write.parquet(s"$base/timer")
      assert(Tables.readBack(timer.schema) === spark.read.parquet(s"$base/timer").schema)
    }
  }

  /** `read` of `path`, a directory the engine wrote, runs no job and gives
    * the schema and rows of Spark's inferring read, which runs one. */
  private def assertNoJobRead(path: String)(read: => DataFrame): Unit = {
    val (ours, jobs) = Probes.jobs(spark)(read)
    assert(jobs === 0, path)
    val (inferred, inferJobs) = Probes.jobs(spark)(spark.read.parquet(path))
    assert(inferJobs > 0, path)
    assert(ours.schema === inferred.schema, path)
    assert(ours.exceptAll(inferred).isEmpty && inferred.exceptAll(ours).isEmpty, path)
  }

  test("a file sink's output and a v=<n> snapshot read back with their writer's schema and no job") {
    withTempDir("graft-tables-written") { tmp =>
      val base = tmp.toString
      // a bounded stream into a parquet file sink, as Streams.runToFiles runs it
      val stream = graft.streaming.Streams.splitStream(Tables.events(spark, Sf)
        .select(col("event_id"), col("user_id"), col("value")), s"$base/sink")
      graft.streaming.Streams.runBounded(stream, "graft_tables_sink", s"$base/sink/ckpt",
        stateful = false)(_.format("parquet").option("path", s"$base/sink/out")
        .outputMode("append"))
      assertNoJobRead(s"$base/sink/out")(
        Tables.readWritten(spark, s"$base/sink/out", stream.schema))
      // a state snapshot directory named like a partition, as q188 writes it
      val snap = Tables.events(spark, Sf).groupBy(col("user_id"))
        .agg(sum(col("value")).cast("decimal(28,2)").as("balance"),
          count(lit(1)).as("n_events"))
      snap.write.parquet(s"$base/state/v=3")
      assertNoJobRead(s"$base/state/v=3")(
        Tables.readWritten(spark, s"$base/state/v=3", snap.schema))
    }
  }

  test("persisted band and shingle indexes read back with their writer's schema and no job") {
    withTempDir("graft-tables-index") { root =>
      val ix = root.toString
      graft.multimodal.Multimodal.saveImageIndex(spark, Sf, s"$ix/img")
      assertNoJobRead(s"$ix/img/bands")(
        graft.functions.Banding.readHashBands(spark, s"$ix/img/bands", Seq("ahash")))
      graft.multimodal.Audio.saveAudioIndex(spark, Sf, s"$ix/aud")
      assertNoJobRead(s"$ix/aud/bands")(
        graft.functions.Banding.readHashBands(spark, s"$ix/aud/bands", Seq("fp")))
      graft.dedup.Dedup.saveLshIndex(spark, Sf, s"$ix/lsh")
      assertNoJobRead(s"$ix/lsh/bands")(graft.dedup.Dedup.lshIndex(spark, s"$ix/lsh")._1)
      assertNoJobRead(s"$ix/lsh/shingles")(graft.dedup.Dedup.lshIndex(spark, s"$ix/lsh")._2)
      for ((kind, trained) <- Seq("hash" -> false, "trained" -> true)) {
        graft.sim.Similarity.saveIvfIndex(spark, Sf, s"$ix/ivf_$kind", trained)
        val (cent, assign) = graft.sim.Similarity.ivfIndex(spark, s"$ix/ivf_$kind")
        assertNoJobRead(s"$ix/ivf_$kind/centroids")(cent)
        assertNoJobRead(s"$ix/ivf_$kind/assign")(assign)
      }
    }
  }

  test("snapshot materializes a frame once and reads it back with its schema and no job") {
    withTempDir("graft-tables-snapshot") { tmp =>
      // nested, decimal and binary columns, built through a shuffle
      val df = Tables.events(spark, Sf).groupBy(col("user_id"))
        .agg(sum(col("value")).cast("decimal(28,2)").as("balance"),
          sort_array(collect_list(col("event_id"))).as("ids"),
          struct(count(lit(1)).as("n"), max(col("ts")).as("last")).as("s"))
        .withColumn("key", md5(col("user_id").cast("string")).cast("binary"))
      val (_, writeJobs) = Probes.jobs(spark)(df.write.parquet(s"$tmp/plain"))
      val (snap, snapJobs) = Probes.jobs(spark)(
        Tables.snapshot(spark, df, s"$tmp/snap"))
      assert(snapJobs === writeJobs, "the read-back must add no job")
      val inferred = spark.read.parquet(s"$tmp/snap")
      assert(snap.schema === inferred.schema)
      assert(snap.exceptAll(inferred).isEmpty && inferred.exceptAll(snap).isEmpty)
      assert(snap.count() === df.count())
    }
  }
}
