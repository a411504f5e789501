package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span: a timed call the harness made into the engine. */
final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
    parent: Int, op: Int)

/** Counts charged to one kind of operation (`serve`, `ingest`, `query`,
  * or `other` for calls outside any timed operation). */
final class Counters {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var taskRunMs = 0L; var taskCpuNs = 0L
  var shuffleReadB = 0L; var shuffleWriteB = 0L
  var outputB = 0L
  var analysisMs = 0L; var optimizationMs = 0L; var planningMs = 0L
  var streamBatches = 0L; var stateRowsPeak = 0L
  val moduleJobs = mutable.Map.empty[String, Long].withDefaultValue(0L)
}

/** The traced run's recorder. Everything it sees comes from the
  * benchmark's own side of the engine's public functions: spans the
  * harness opens around each call, the job group it sets per operation,
  * and the three listeners it registers. Spans stay in memory and are
  * written out once, when the run ends. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var nextId = 0
  private var openSpans: List[Int] = Nil
  private var currentOp = -1
  /** The kind the listeners charge events to; set before an operation
    * starts and reset after the bus was drained behind it. */
  @volatile private var kind = "other"
  /** The module that owns the running operation: jobs whose call site
    * holds no engine frame (the harness's own terminal action) are
    * charged to it. */
  @volatile private var owner = "harness"
  val byKind = mutable.Map.empty[String, Counters]

  private def counters: Counters = byKind.synchronized {
    byKind.getOrElseUpdate(kind, new Counters)
  }

  private val stageKind = mutable.Map.empty[Int, String]

  /** Engine module of a job: the class of the first `graft.` frame in
    * the long call site of the job's result stage, e.g.
    * `graft.dedup.Dedup$.connectedComponents(Dedup.scala:412)` → Dedup. */
  private def moduleOf(e: SparkListenerJobStart): String = {
    val details = if (e.stageInfos.isEmpty) "" else
      Option(e.stageInfos.maxBy(_.stageId).details).getOrElse("")
    details.split("\n").iterator.map(_.trim)
      .find(_.startsWith("graft."))
      .map { f =>
        val qual = f.takeWhile(_ != '(')
        qual.split('.').dropRight(1).lastOption.getOrElse(qual).takeWhile(_ != '$')
      }.getOrElse(owner)
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val c = counters
      c.synchronized {
        c.jobs += 1
        c.moduleJobs(moduleOf(e)) += 1
      }
      stageKind.synchronized { e.stageIds.foreach(stageKind(_) = kind) }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val info = e.stageInfo
      val k = stageKind.synchronized(stageKind.remove(info.stageId)).getOrElse(kind)
      val c = byKind.synchronized(byKind.getOrElseUpdate(k, new Counters))
      val m = info.taskMetrics
      c.synchronized {
        c.stages += 1
        c.tasks += info.numTasks
        if (m != null) {
          c.taskRunMs += m.executorRunTime
          c.taskCpuNs += m.executorCpuTime
          c.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
          c.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
          c.outputB += m.outputMetrics.bytesWritten
        }
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
        durationNs: Long): Unit = {
      val p = qe.tracker.phases
      def ms(phase: String): Long = p.get(phase).map(_.durationMs).getOrElse(0L)
      val c = counters
      c.synchronized {
        c.analysisMs += ms("analysis")
        c.optimizationMs += ms("optimization")
        c.planningMs += ms("planning")
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution,
        exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val rows = e.progress.stateOperators.map(_.numRowsTotal).sum
      val c = counters
      c.synchronized {
        c.streamBatches += 1
        c.stateRowsPeak = math.max(c.stateRowsPeak, rows)
      }
    }
  }

  sc.addSparkListener(sparkListener)
  spark.listenerManager.register(queryListener)
  spark.streams.addListener(streamListener)

  /** Forget everything recorded so far (the set-up and warm-up), so the
    * metrics cover the measured phase alone. */
  def reset(): Unit = {
    org.apache.spark.BenchBus.drain(sc)
    byKind.synchronized(byKind.clear())
    spans.clear()
  }

  def span[T](name: String)(body: => T): T = {
    val id = nextId; nextId += 1
    val parent = openSpans.headOption.getOrElse(-1)
    openSpans = id :: openSpans
    val t0 = System.nanoTime()
    try body finally {
      spans += Span(id, name, t0, System.nanoTime(), parent, currentOp)
      openSpans = openSpans.tail
    }
  }

  /** An operation: its events are charged to `opKind` and `opOwner`, and
    * the bus is drained behind it before the next one starts. */
  def op[T](opId: Int, opKind: String, opOwner: String, name: String)(body: => T): T = {
    currentOp = opId; kind = opKind; owner = opOwner
    try span(name)(body) finally {
      org.apache.spark.BenchBus.drain(sc)
      kind = "other"; owner = "harness"; currentOp = -1
    }
  }

  def spansNamed(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def write(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      s"""{"id":${s.id},"name":${Json.str(s.name)},"start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":${s.parent},"op":${s.op}}"""
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, lines.mkString("", "\n", "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
  }

  def close(): Unit = {
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    spark.streams.removeListener(streamListener)
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
