package graft

import org.apache.spark.sql.functions._

/** Reproducible probe for the incremental-ingest amortization claim
  * (VERDICT r15 #1): builds a corpus artifact from the given data dir,
  * persists the ingest indexes once, then ingests the SAME novel batch
  * through the inline writer (corpus handles recomputed per batch) and
  * the index-backed writer (handles read from parquet), timing each
  * and asserting audit equality. Prints one JSON line:
  *
  *   {"corpus_docs":N,"batch_docs":K,"build_s":...,"index_s":...,
  *    "inline_s":...,"indexed_s":...,"speedup":...}
  *
  * Regen recipe (SCALE.md §26):
  *   sbt "runMain graft.ProbeIngest /root/repo/testdata-local/heaps1 100"
  */
object ProbeIngest {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val batchK = args.lift(1).map(_.toInt).getOrElse(100)
    val spark = GraftSession.forMain("ERROR")
    val root = graft.util.Scratch.indexDir("graft_probe_ingest", dir)
    val (dirA, dirB, ix) = (s"$root/a", s"$root/b", s"$root/ix")
    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime()
      val r = f
      (r, (System.nanoTime() - t0) / 1e9)
    }
    val (_, buildS) = timed {
      ops.Pipeline.prepareCorpus(spark, dir, dirA).collect()
    }
    org.apache.commons.io.FileUtils.copyDirectory(
      new java.io.File(dirA), new java.io.File(dirB))
    val (_, indexS) = timed {
      ops.Pipeline.saveIngestIndexes(spark, dirB, ix)
    }
    val art = spark.read.parquet(dirA)
    val n = art.count()
    val maxId = art.agg(max(col("doc_id"))).head().getLong(0)
    val base = ((maxId / 20) + 2) * 20
    // K novel docs, ids spaced 20 apart (fresh scene AND clip groups —
    // the batch is internally media-clean), unique 12-token texts
    val tpl = art.drop("split").limit(1).collect()(0)
    import spark.implicits._
    val cols = art.drop("split").columns
    val batch = spark.createDataFrame(
      spark.sparkContext.parallelize((0 until batchK).map { i =>
        org.apache.spark.sql.Row.fromSeq(cols.map {
          case "doc_id" => base + 20L * i
          case "text" => (0 until 12).map(j => s"pi${i}w$j").mkString(" ")
          case c => tpl.getAs[Any](c)
        }.toIndexedSeq)
      }),
      spark.read.parquet(dirA).drop("split").schema)
    val (a1, inlineS) = timed {
      ops.Pipeline.ingestBatch(spark, dirA, batch).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    val (a2, indexedS) = timed {
      ops.Pipeline.ingestBatchIndexed(spark, dirB, batch, ix).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
    }
    require(a1 == a2, s"audits diverged: $a1 vs $a2")
    require(a1("7_audio_new_accepted") == batchK.toLong,
      s"every novel doc must be accepted: $a1")
    def r3(v: Double) = String.format(java.util.Locale.ROOT, "%.3f", v)
    println(s"""{"dir":"$dir","corpus_docs":$n,"batch_docs":$batchK,""" +
      s""""build_s":${r3(buildS)},"index_s":${r3(indexS)},""" +
      s""""inline_s":${r3(inlineS)},"indexed_s":${r3(indexedS)},""" +
      s""""speedup":${r3(inlineS / indexedS)}}""")
    spark.stop()
  }
}
