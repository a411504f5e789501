package graftbench

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit, TimeoutException}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** An operation that outlived its deadline. */
final class DeadlineExceeded(val label: String, seconds: Double)
  extends RuntimeException(s"$label: no result within $seconds s")

/** What a workload sees of the harness: timed operations under a
  * deadline, phase spans inside them, and the samples they leave. */
final class Ctx(val spark: SparkSession, val workload: String,
    val tracer: Option[Tracer], deadlineS: Double, val outDir: java.nio.file.Path) {
  private val sc = spark.sparkContext
  private val pool = Executors.newCachedThreadPool { r =>
    val t = new Thread(r, "bench-op"); t.setDaemon(true); t
  }
  private var opSeq = 0
  /** Latency samples of the measured phase, in ms, per operation kind. */
  val samples = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
  /** Samples of the measured phase per operation kind and name. */
  val samplesByOp = mutable.LinkedHashMap.empty[(String, String), mutable.ArrayBuffer[Double]]
  /** The same samples per operation name, for the run's log. */
  val byName = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var measuring = false
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  var setupFailed = false
  /** Set when an operation hit its deadline: the run stops there. */
  var hung: Option[String] = None

  /** Run `body` on a worker thread under `seconds` of deadline. A body
    * stuck in a wait that never returns (a stream's awaitTermination, a
    * settle-all with an infinite timeout) becomes a [[DeadlineExceeded]];
    * the job group's jobs are cancelled and the stuck thread abandoned. */
  def underDeadline[T](label: String, seconds: Double)(body: => T): T = {
    val group = s"bench-$opSeq"
    val fut = pool.submit(new Callable[T] {
      def call(): T = {
        sc.setJobGroup(group, label, interruptOnCancel = true)
        try body finally sc.clearJobGroup()
      }
    })
    try fut.get((seconds * 1e9).toLong, TimeUnit.NANOSECONDS)
    catch {
      case _: TimeoutException =>
        sc.cancelJobGroup(group)
        fut.cancel(true)
        throw new DeadlineExceeded(label, seconds)
      case e: ExecutionException => throw e.getCause
    }
  }

  /** One timed operation of kind `kind` (a serve, an ingest, a query),
    * owned by engine module `owner`. Counted as attempted and, when it
    * throws or misses its deadline, as failed; returns None then. */
  def op[T](kind: String, name: String, owner: String)(body: => T): Option[T] = {
    opSeq += 1
    val label = s"$workload/$name"
    if (measuring) attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = tracer match {
        case Some(t) => t.op(opSeq, kind, owner, name)(underDeadline(label, deadlineS)(body))
        case None => underDeadline(label, deadlineS)(body)
      }
      val ms = (System.nanoTime() - t0) / 1e6
      if (measuring) {
        samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
        samplesByOp.getOrElseUpdate((kind, name), mutable.ArrayBuffer.empty) += ms
      }
      byName.getOrElseUpdate(if (measuring) name else s"$name(warm-up)",
        mutable.ArrayBuffer.empty) += ms
      Some(r)
    } catch {
      case e: DeadlineExceeded =>
        if (measuring) failed += 1
        failures += e.getMessage; hung = Some(label); None
      case scala.util.control.NonFatal(e) =>
        // a failure in set-up or warm-up is not an attempted operation;
        // it leaves the run without a checked result and so incorrect
        if (measuring) failed += 1 else setupFailed = true
        failures += s"$label: ${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
        None
    }
  }

  /** A named phase inside an operation; a span when tracing, else free. */
  def phase[T](name: String)(body: => T): T = tracer match {
    case Some(t) => t.span(name)(body)
    case None => body
  }
}

/** A workload: inputs and warm-up in `setup`, then rounds of a fixed
  * amount of work until the run's time is up. */
trait Workload {
  def setup(): Unit
  def round(i: Int): Unit
  /** Problems found in the outputs so far; empty means correct. */
  def problems: Seq[String]
  /** Feed each checker one corrupted result; return the checkers that
    * accepted it (empty means every checker rejects corruption). */
  def selfTest(): Seq[String]
  /** Parquet files in the workload's store at the end of the run. */
  def storeFiles(): Int = 0
}

/** Entry point of one benchmark run, in a fresh JVM:
  * `graftbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --out DIR --cores C [--data DIR]`.
  * Prints `BENCH_RESULT {...}` as its last stdout line; `perfbench/run.py`
  * turns it into the benchmark's result line. `--train` runs both
  * workloads' set-up and prints nothing (the class list for the
  * start-up archive). */
object Main {
  /** Deadline of one timed call. Warm calls take up to about 2 s and
    * cold ones up to about 16 s on a 4-core host; a run must end within
    * 180 s. */
  val DeadlineS = 60.0

  def main(args: Array[String]): Unit = {
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val opts = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") =>
      k.stripPrefix("--") -> v }.toMap
    val train = args.contains("--train")
    val workload = opts.getOrElse("workload", "")
    val seed = opts.getOrElse("seed", "1").toLong
    val seconds = opts.getOrElse("seconds", "10").toDouble
    val trace = opts.getOrElse("trace", "0") == "1"
    val cores = opts.getOrElse("cores", "4")
    val out = java.nio.file.Paths.get(opts.getOrElse("out", "bench_out")).toAbsolutePath
    val dataDir = opts.getOrElse("data", "")
    if (!train && !Set("gas_serving", "registry_mix").contains(workload)) {
      System.err.println(s"unknown workload '$workload'")
      sys.exit(2)
    }

    val calibStartMs = Calibration.run()
    val spark = graft.GraftSession.builder(s"local[$cores]", cores)
      .config("spark.sql.warehouse.dir", out.resolve("warehouse").toString)
      .config("spark.local.dir", out.resolve("spark-local").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    if (train) {
      for (w <- Seq("gas_serving", "registry_mix")) {
        val ctx = new Ctx(spark, w, None, DeadlineS, out.resolve(w))
        val wl = make(w, ctx, seed, dataDir)
        wl.setup()
      }
      spark.stop()
      return
    }

    val tracer = if (trace) Some(new Tracer(spark)) else None
    val ctx = new Ctx(spark, workload, tracer, DeadlineS, out)
    val wl = make(workload, ctx, seed, dataDir)
    val deadlineOk = deadlineSelfTest(ctx)
    wl.setup()
    if (ctx.hung.isDefined) {
      println("BENCH_RESULT " + Json.obj(Seq("hung" -> Json.str(ctx.hung.get),
        "failures" -> ctx.failures.map(Json.str).mkString("[", ",", "]"))))
      System.out.flush()
      Runtime.getRuntime.halt(3)
    }
    val setupS = (System.currentTimeMillis() - jvmStart) / 1e3

    // measured phase: whole rounds until the time is up
    tracer.foreach(_.reset())
    val gc0 = Gc.now()
    ctx.measuring = true
    val roundsMs = mutable.ArrayBuffer.empty[Double]
    val roundsCpuMs = mutable.ArrayBuffer.empty[Double]
    val compiles0 = JvmCounters.codegenCompiles()
    val phase0 = System.nanoTime()
    var i = 0
    while ((i == 0 || System.nanoTime() - phase0 < seconds * 1e9) && ctx.hung.isEmpty) {
      val t0 = System.nanoTime()
      val c0 = JvmCounters.processCpuNs()
      tracer match {
        case Some(t) => t.span("round")(wl.round(i))
        case None => wl.round(i)
      }
      roundsMs += (System.nanoTime() - t0) / 1e6
      roundsCpuMs += (JvmCounters.processCpuNs() - c0) / 1e6
      i += 1
    }
    ctx.measuring = false
    val gc1 = Gc.now()
    val compiles = JvmCounters.codegenCompiles() - compiles0
    // a full collection lets the context cleaner release the blocks of
    // dead broadcasts and RDDs; the second one then frees what it dropped
    for (_ <- 0 until 3) { System.gc(); Thread.sleep(300) }
    val heapMb = java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    val calibEndMs = Calibration.run()

    val problems = wl.problems ++
      (if (ctx.setupFailed) Seq("an operation failed in set-up or warm-up") else Nil)
    val selfTestMisses = wl.selfTest() ++ (if (deadlineOk) Nil else Seq("deadline"))
    val rounds = roundsMs.size
    val m = mutable.ArrayBuffer.empty[(String, String)]
    m += "setup_s" -> Json.num(setupS)
    m += "run_s" -> Json.num(Stats.median(roundsMs.toSeq) / 1e3)
    val primary = if (workload == "gas_serving") "serve" else "query"
    // the median latency of each operation of the primary kind, and their
    // geometric mean when there are several (the registry's queries)
    m += "op_p50_ms" -> Json.num(Stats.geoMean(ctx.samplesByOp.toSeq.collect {
      case ((kind, _), xs) if kind == primary => Stats.median(xs.toSeq) }))
    m += "heap_after_gc_mb" -> Json.num(heapMb)
    val layers = tracer.map { t =>
      t.close()
      val l = Layers.of(t, ctx, rounds, roundsMs.sum, cores.toInt, gc1.minus(gc0), primary) :+
        ("GasPrices.store_files" -> wl.storeFiles().toDouble) :+
        ("codegen.compiles" -> compiles.toDouble / rounds.max(1)) :+
        ("jvm.process_cpu_s" -> roundsCpuMs.sum / 1e3 / rounds.max(1))
      t.write(out.resolve("spans.jsonl"))
      l
    }.getOrElse(Nil)

    val result = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "attempted" -> ctx.attempted.toString,
      "failed" -> ctx.failed.toString,
      "failures" -> ctx.failures.map(Json.str).mkString("[", ",", "]"),
      "hung" -> ctx.hung.map(Json.str).getOrElse("null"),
      "problems" -> problems.take(20).map(Json.str).mkString("[", ",", "]"),
      "selftest_misses" -> selfTestMisses.map(Json.str).mkString("[", ",", "]"),
      "rounds" -> rounds.toString,
      "rounds_ms" -> roundsMs.map(Json.num).mkString("[", ",", "]"),
      "rounds_cpu_ms" -> roundsCpuMs.map(Json.num).mkString("[", ",", "]"),
      "codegen_compiles" -> compiles.toString,
      "op_ms" -> Json.obj(ctx.byName.toSeq.map { case (k, v) =>
        k -> v.map(x => Json.num(math.rint(x))).mkString("[", ",", "]") }),
      "calibration_ms" -> s"[${Json.num(calibStartMs)},${Json.num(calibEndMs)}]",
      "e2e" -> Json.obj(m.toSeq),
      "layers" -> Json.obj(layers.map { case (k, v) => k -> Json.num(v) })))
    println("BENCH_RESULT " + result)
    System.out.flush()
    if (ctx.hung.isDefined) {
      // a stuck call may hold non-daemon Spark threads forever
      Runtime.getRuntime.halt(0)
    }
    spark.stop()
  }

  private def make(w: String, ctx: Ctx, seed: Long, dataDir: String): Workload = w match {
    case "gas_serving" => new GasServing(ctx, seed)
    case "registry_mix" => new RegistryMix(ctx, dataDir)
  }

  /** The deadline must turn an unbounded wait into a failed operation:
    * a settle-all over a job that never finishes, given 0.3 s. */
  private def deadlineSelfTest(ctx: Ctx): Boolean = {
    val latch = new java.util.concurrent.CountDownLatch(1)
    val caught = try {
      ctx.underDeadline("selftest/hang", 0.3) {
        graft.util.Concurrency.awaitSettled(Seq(() => latch.await()))
      }
      false
    } catch { case _: DeadlineExceeded => true }
    latch.countDown()
    caught
  }
}

/** A fixed pure-JVM loop, timed at the start and the end of each run and
  * logged beside the metrics: it moves with the host, not the program,
  * so it tells host drift apart from a change in the engine. */
object Calibration {
  @volatile private var sink = 0L
  def run(): Double = {
    val t0 = System.nanoTime()
    var x = 88172645463325252L
    var acc = 0L
    var i = 0
    while (i < 50000000) {
      x ^= x << 13; x ^= x >>> 7; x ^= x << 17
      acc += x & 0xff
      i += 1
    }
    sink = acc
    (System.nanoTime() - t0) / 1e6
  }
}

/** Counters of the whole JVM that the per-layer metrics and the run's
  * log read around the measured phase. */
object JvmCounters {
  /** Generated classes Spark compiled so far; a class found in Spark's
    * code cache is not compiled again and not counted. */
  def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def processCpuNs(): Long =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime
}

final case class Gc(ms: Long, count: Long) {
  def minus(o: Gc): Gc = Gc(ms - o.ms, count - o.count)
}

object Gc {
  def now(): Gc = {
    import scala.jdk.CollectionConverters._
    val beans = java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
    Gc(beans.map(_.getCollectionTime.max(0L)).sum, beans.map(_.getCollectionCount.max(0L)).sum)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return Double.NaN
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def geoMean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.size)
}

/** The per-layer metrics of a traced run, over its measured phase. */
object Layers {
  /** Modules a job is charged to, by the call site's engine frame: the
    * ones the two workloads reach. */
  val Modules = Seq("GasPrices", "Relational", "Windows", "TextAnalysis", "Dedup", "Streams")

  def of(t: Tracer, ctx: Ctx, rounds: Int, wallMs: Double, cores: Int, gc: Gc,
      primary: String): Seq[(String, Double)] = {
    val all = t.byKind.values.toSeq
    def total(f: Counters => Double): Double = all.map(f).sum
    val ops = ctx.attempted.max(1L).toDouble
    val r = rounds.max(1).toDouble
    val mb = 1024.0 * 1024.0
    val primOps = ctx.samples.get(primary).map(_.size).getOrElse(0).max(1).toDouble
    def spanMs(name: String): Double =
      t.spansNamed(name).map(s => (s.endNs - s.startNs) / 1e6).sum
    def perKindJobs(kind: String): Double =
      t.byKind.get(kind).map(_.jobs.toDouble).getOrElse(0.0) /
        ctx.samples.get(kind).map(_.size).getOrElse(0).max(1)
    val taskRunS = total(_.taskRunMs) / 1e3
    Seq(
      "spark.jobs_per_op" -> total(_.jobs) / ops,
      "spark.stages_per_op" -> total(_.stages) / ops,
      "spark.tasks_per_op" -> total(_.tasks) / ops,
      "spark.task_run_s" -> taskRunS / r,
      "spark.task_cpu_s" -> total(_.taskCpuNs) / 1e9 / r,
      "spark.core_util" -> taskRunS * 1e3 / (wallMs * cores).max(1.0),
      "spark.shuffle_read_mb" -> total(_.shuffleReadB) / mb / r,
      "spark.shuffle_write_mb" -> total(_.shuffleWriteB) / mb / r,
      "spark.output_mb" -> total(_.outputB) / mb / r,
      "catalyst.analysis_ms" -> total(_.analysisMs) / ops,
      "catalyst.optimization_ms" -> total(_.optimizationMs) / ops,
      "catalyst.planning_ms" -> total(_.planningMs) / ops,
      "op.construct_ms" -> spanMs("construct") / primOps,
      "op.action_ms" -> spanMs("action") / primOps,
      "round.upkeep_ms" -> spanMs("upkeep") / r,
      "jvm.gc_ms" -> gc.ms / r,
      "jvm.gc_count" -> gc.count / r,
      "GasPrices.jobs_per_ingest" -> perKindJobs("ingest"),
      "GasPrices.jobs_per_serve" -> perKindJobs("serve"),
      "Streams.batches" -> total(_.streamBatches) / r,
      "Streams.state_rows_peak" -> all.map(_.stateRowsPeak.toDouble).maxOption.getOrElse(0.0),
    ) ++ Modules.map(mod => s"jobs.$mod" -> total(_.moduleJobs(mod).toDouble) / r)
  }
}
