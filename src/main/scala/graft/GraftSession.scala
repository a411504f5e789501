package graft

import org.apache.spark.sql.SparkSession

import graft.util.{InProcessLocalFileSystem, InProcessLocalFs}

/** One place for the engine's session tuning so Verify, Bench, and the
  * test suites all run the same configuration.
  *
  * Scale notes (designed for a real cluster, exercised on local[N]):
  *  - AQE on: runtime coalescing of shuffle partitions + skew-join
  *    splitting are what keep the same plans healthy at 100 TB.
  *  - shuffle.partitions is sized to the local core count here; on a
  *    cluster it should be ~2-3x total cores (AQE coalesces down).
  *  - session TZ pinned to UTC: the reference has a latent local-vs-UTC
  *    day-boundary bug (/root/reference/api/mongo/main.py:68 vs
  *    dags/get_prices_load_mongodb.py:41); we fix it by pinning.
  *  - nanosAsLong: corpus generations that store events.ts as
  *    TIMESTAMP(NANOS) (which Spark's parquet reader rejects) arrive
  *    as raw int64 nanos and are converted explicitly; generations
  *    that store TIMESTAMP(MICROS) are unaffected by this flag and
  *    pass through natively (see Tables.tsToNtz — schema-adaptive).
  *  - parallelPartitionDiscovery.threshold is Int.MaxValue: every master
  *    here is local[N], where Spark's parallel listing "job" (started
  *    past 32 paths) runs its tasks on the driver's own cores and only
  *    adds scheduling and a Hadoop-conf broadcast — on the 36-day gas
  *    store it was one of a serve's 4 jobs. On a cluster over an object
  *    store restore the default (32), so listing fans out to executors.
  *  - artifact.isolation.enabled is false: Spark caches each compiled
  *    generated class under (context classloader, source), and with
  *    isolation on every streaming query's cloned session brings a fresh
  *    artifact classloader, so each stream run recompiled byte-identical
  *    classes (q40: 14 per run) and left the stale copies in the cache.
  *    This engine runs classic sessions and never adds artifacts. On a
  *    Spark Connect server, where sessions add jars, restore the default
  *    (true).
  *  - fs.file.impl and fs.AbstractFileSystem.file.impl name the
  *    in-process local filesystem (graft/util/LocalFs.scala): without
  *    the native Hadoop library the stock one forks a `chmod` per file
  *    or directory it creates and a `readlink` per link-status probe,
  *    several per atomic checkpoint rename — ~155 forks of a few ms
  *    each per bench pass, nearly all from q40's offset, commit and
  *    state-store files. Checksums, `.crc` files and `FileContext`
  *    renames stay Hadoop's own. The settings cover the `file` scheme
  *    only: hdfs or s3a paths keep their own filesystems, and a host
  *    with the native library loses nothing by them.
  *  - the status store keeps at most 100 jobs and stages, 1000 tasks
  *    and 50 SQL executions (ui.retained*): the UI is off and nothing
  *    here reads the store, which at Spark's defaults (1000 jobs and
  *    stages, 100,000 tasks, 1000 executions) grows with every query
  *    until those far larger caps. A long-lived serving driver must
  *    not grow with the requests it serves; drop the caps if an A/B
  *    shows them slowing a serve.
  *  - codegen.cache.maxEntries is [[CodegenCacheEntries]]: the default
  *    (100) is smaller than the five bench queries' ~127 classes, and LRU
  *    over a cyclic scan evicts each class before its next use. A cold
  *    and a warm sf0.01 registry pass compile ~6,050 distinct classes;
  *    caching them all raised heap after GC by ~210 MB and metaspace by
  *    ~45 MB over the default cap: ~35 KB of heap (the cache key holds
  *    the generated source) and ~7 KB of metaspace per class, so a full
  *    cache costs ~290 MB of heap. This is Spark's plan-compile cache,
  *    not a result cache: every query still executes in full. The cache
  *    is sized once per JVM, from the session active at the first
  *    compile; size it to the distinct plans a long-lived driver serves.
  */
object GraftSession {
  /** Generated classes Spark's codegen cache holds (scale note above). */
  val CodegenCacheEntries: Int = 8192

  def builder(master: String, shufflePartitions: String): SparkSession.Builder =
    SparkSession.builder()
      .master(master)
      .appName("graft")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // scan-split size matched to local executor threads: the default
      // 128 MiB hands a whole >=sf1 table to ONE task (these corpora
      // ship few, large row groups); 16 MiB keeps scans wide while AQE
      // coalesces the small-file end. On a real cluster size this to
      // executor memory / core count as usual.
      .config("spark.sql.files.maxPartitionBytes", "16m")
      .config("spark.sql.sources.parallelPartitionDiscovery.threshold",
        Int.MaxValue.toString)
      .config("spark.sql.artifact.isolation.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
      .config("spark.hadoop.fs.file.impl", classOf[InProcessLocalFileSystem].getName)
      .config("spark.hadoop.fs.AbstractFileSystem.file.impl", classOf[InProcessLocalFs].getName)
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")

  /** The session every command-line main runs in: `local[N]` with N
    * shuffle partitions, N from `SPARK_GRAFT_CPUS` (default 4), and
    * Spark's log at `logLevel`. */
  def forMain(logLevel: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val s = builder(s"local[$cpus]", cpus).getOrCreate()
    s.sparkContext.setLogLevel(logLevel)
    s
  }

  /** Session for ScalaTest suites (shared across suites via getOrCreate). */
  def test(): SparkSession = {
    val s = builder("local[8]", "8").getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Run `body` (a streaming-query `.start()` call) with
    * spark.sql.shuffle.partitions lowered to the STREAMING state
    * parallelism, restoring the caller's value before returning.
    *
    * Why a separate knob (optimization r16, guide §2.2/§6): a stateful
    * streaming operator materializes ONE state store instance per
    * shuffle partition, and every micro-batch commits a delta file per
    * instance (plus task setup/teardown per partition per batch) — the
    * per-batch floor scales with the partition count, not the data.
    * The bounded gate streams hold small keyed state (hours, users,
    * band keys), so batch-sized parallelism (the session's core count)
    * buys nothing downstream of the watermark while multiplying the
    * per-batch commit bill: the value is min(session value, 8), so it
    * only ever lowers. State size, not corpus size, is what should set
    * it in production; it must be fixed for the life of a checkpoint,
    * and every gate/bench run starts from a fresh checkpoint, so
    * re-runs stay comparable.
    *
    * Restoring immediately after `.start()` is safe: StreamExecution
    * clones the session synchronously at construction, so the running
    * query keeps the lowered value for every batch while the caller's
    * session never sees it. Results are partition-count-invariant
    * (InvarianceSpec pins this; the oracle gates re-verify per run).
    */
  def withStreamParallelism[T](spark: SparkSession)(body: => T): T =
    // Serialized (ADVICE r16): the set/restore mutates the session-global
    // conf, and is only safe because StreamExecution clones the session
    // synchronously inside .start(). Without the lock, two concurrent
    // wrapped starts could capture the LOWERED value as `prev` and
    // permanently throttle later batch shuffles. Stream starts are
    // currently sequential per session; the lock makes the contract hold
    // for any future concurrent caller too.
    streamParallelismLock.synchronized {
      val key = "spark.sql.shuffle.partitions"
      val prev = spark.conf.get(key)
      val n = math.min(scala.util.Try(prev.toInt).getOrElse(8), 8)
      spark.conf.set(key, n.toString)
      try body finally spark.conf.set(key, prev)
    }

  private[this] val streamParallelismLock = new Object

  /** Drop every persisted RDD still registered with the block manager.
    * The iterative operators (connected components, streaming twins)
    * localCheckpoint per round and those blocks live until the context
    * dies; a long query SUITE accumulates passes of stale blocks that
    * squeeze the storage pool and tax late queries with eviction + GC
    * (observed: q74 16.8s in a full Bench run vs 4.9s isolated). Safe
    * whenever no live plan depends on a truncated lineage — i.e.
    * BETWEEN fully-materialized queries, which is where Verify and
    * Bench call it. */
  def dropStaleBlocks(spark: SparkSession): Unit = {
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
    // same safe point, same contract: scratch dirs written by the
    // previous query (per-call index builds, frame-hash snapshots)
    // are fully consumed once its result materialized — purge them so
    // a long run's tmp usage stays bounded at one query's worth
    graft.util.Scratch.purge()
  }
}
