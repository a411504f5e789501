package graft.util

import org.apache.commons.io.FileUtils

/** Per-call scratch directories for the registered index-probe forms
  * (q331/q380/q382), and the per-run tmp roots of the streaming runs and
  * the file-format round-trips ([[tmpPath]]), fixing two lifecycle
  * defects of the earlier per-process naming (ADVICE r14): (1) two
  * concurrent calls in one process on the same data dir raced — one's
  * `mode(overwrite)` index write against the other's live probe of the
  * same path — a monotone per-process counter now makes every call's
  * dir unique; (2) repeated runs accumulated parquet under
  * java.io.tmpdir forever — every dir is registered with ONE JVM
  * shutdown hook that deletes them all at exit, or at the next
  * [[purge]] between queries. Deletion cannot
  * happen earlier: the frames returned by the callers are LAZY reads
  * of the dir, and a caller (Verify, Bench's second sweep, a spec
  * re-collect) may materialize them at any later point until then. */
object Scratch {

  private val counter = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Each tracked dir with the action that must run before it can be
    * deleted (an embedded database's shutdown). */
  private val created =
    new java.util.concurrent.ConcurrentLinkedQueue[(java.io.File, () => Unit)]()

  private def delete(entry: (java.io.File, () => Unit)): Unit = {
    scala.util.Try(entry._2()): Unit
    FileUtils.deleteQuietly(entry._1): Unit
  }

  private lazy val hookInstalled: Unit = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      val it = created.iterator()
      while (it.hasNext) delete(it.next())
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
    var e = created.poll()
    while (e != null) { delete(e); e = created.poll() }
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

  /** THE tmp-path rule for every per-run staging, sink, checkpoint and
    * round-trip root: deterministic per (prefix, data dir, JVM), so a
    * rerun overwrites its own root. The dir's hash keeps paths whose
    * sanitized forms collide apart (`/x/sf0.1` vs `/x/sf0_1`); the pid
    * keeps a concurrent Verify/test pair on one data dir from racing on
    * each other's files. The root is [[track]]ed with `release`, so it
    * is deleted between queries and at JVM exit; a lazy frame over it
    * stays readable until then. */
  def tmpPath(prefix: String, dir: String, release: () => Unit = () => ()): String =
    track(s"${sys.props("java.io.tmpdir")}/$prefix" +
      s"${dir.replaceAll("[^A-Za-z0-9]", "_")}_${Integer.toHexString(dir.hashCode)}" +
      s"_${ProcessHandle.current().pid()}", release)

  /** Register a dir named by its caller under the same contract:
    * `release` runs, then the dir is deleted, at the next [[purge]] or
    * at JVM exit. Registering one path twice is harmless. Returns
    * `path`. */
  def track(path: String, release: () => Unit = () => ()): String = {
    hookInstalled
    created.add((new java.io.File(path), release)): Unit
    path
  }
}
