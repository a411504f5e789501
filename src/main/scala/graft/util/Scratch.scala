package graft.util

import org.apache.commons.io.FileUtils

/** Per-call scratch directories for the registered index-probe forms
  * (q331/q380/q382), and the streaming runs' per-run tmp roots
  * ([[track]]), fixing two lifecycle defects of the earlier
  * per-process naming (ADVICE r14): (1) two concurrent calls in one
  * process on the same data dir raced — one's `mode(overwrite)` index
  * write against the other's live probe of the same path — a monotone
  * per-process counter now makes every call's dir unique; (2) repeated
  * runs accumulated parquet under java.io.tmpdir forever — every dir
  * is registered with ONE JVM shutdown hook that deletes them all at
  * exit, or at the next [[purge]] between queries. Deletion cannot
  * happen earlier: the frames returned by the callers are LAZY reads
  * of the dir, and a caller (Verify, Bench's second sweep, a spec
  * re-collect) may materialize them at any later point until then. */
object Scratch {

  private val counter = new java.util.concurrent.atomic.AtomicLong(0L)
  private val created = new java.util.concurrent.ConcurrentLinkedQueue[java.io.File]()

  private lazy val hookInstalled: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      val it = created.iterator()
      while (it.hasNext) FileUtils.deleteQuietly(it.next())
    }, "graft-scratch-cleanup"))
  }

  /** Delete every scratch dir created so far and forget them — the
    * bound on within-process accumulation (a long Bench/Verify run
    * invokes each index-building query several times, and each call's
    * dir would otherwise sit in tmp until exit). Safe ONLY at driver
    * points where no live frame can still reference a scratch path;
    * [[graft.GraftSession.dropStaleBlocks]] calls it between
    * fully-materialized queries, which is exactly that contract. */
  def purge(): Unit = {
    var f = created.poll()
    while (f != null) { FileUtils.deleteQuietly(f); f = created.poll() }
  }

  /** A fresh, unique scratch dir keyed to (prefix, data dir): unique
    * per CALL within the process, deleted at JVM exit (or at the next
    * [[purge]], whichever comes first). */
  def indexDir(prefix: String, dataDir: String): String = {
    val safe = dataDir.replaceAll("[^A-Za-z0-9]", "_")
    track(new java.io.File(sys.props("java.io.tmpdir"),
      s"$prefix${safe}_${ProcessHandle.current().pid()}_${counter.incrementAndGet()}")
      .getAbsolutePath)
  }

  /** Register a dir named by its caller (the streaming runs' per-run
    * tmp roots) under the same contract: deleted at the next [[purge]]
    * or at JVM exit. Registering one path twice is harmless. Returns
    * `path`. */
  def track(path: String): String = {
    hookInstalled
    created.add(new java.io.File(path)): Unit
    path
  }
}
