package graft.util

import java.util.Properties
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** Counts of what a stretch of driver work costs beyond its query work:
  * the Spark jobs it starts and the processes the JVM forks. Bench
  * prints both per sweep; the suites pin them. */
object Probes {

  private val CounterKey = "graft.probes.jobs"

  /** `body`'s result and the Spark jobs started from this thread while
    * it ran, streams included: the jobs are told apart by a local
    * property of this call, which Spark hands to the threads a thread
    * starts, and a streaming query's execution thread keeps it under the
    * job group it sets for itself. */
  def jobs[T](spark: SparkSession)(body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val id = java.util.UUID.randomUUID().toString
    countJobs(sc, p => p.getProperty(CounterKey) == id) {
      val prev = sc.getLocalProperty(CounterKey)
      sc.setLocalProperty(CounterKey, id)
      try body finally sc.setLocalProperty(CounterKey, prev)
    }
  }

  /** `body`'s result and every Spark job the context started while it
    * ran, from any thread (a sweep of queries that submit from pools). */
  def allJobs[T](spark: SparkSession)(body: => T): (T, Int) =
    countJobs(spark.sparkContext, _ => true)(body)

  /** A fence job in a group of its own runs after `body`; the listener
    * bus delivers events in order, so once the fence's start is seen,
    * every job `body` started has been counted. */
  private def countJobs[T](sc: SparkContext, mine: Properties => Boolean)(
      body: => T): (T, Int) = {
    val fence = s"graft-fence-${java.util.UUID.randomUUID()}"
    val jobs = new AtomicInteger(0)
    val fenced = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = Option(e.properties).getOrElse(new Properties)
        if (p.getProperty("spark.jobGroup.id") == fence) fenced.countDown()
        else if (mine(p)) jobs.incrementAndGet(): Unit
      }
    }
    sc.addSparkListener(listener)
    try {
      val r = body
      sc.setJobGroup(fence, "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      require(fenced.await(60, TimeUnit.SECONDS), "the fence job's start was never delivered")
      (r, jobs.get)
    } finally sc.removeSparkListener(listener)
  }

  /** `body`'s result and the command line of every process the JVM
    * forked while it ran, from a JFR recording that enables only
    * `jdk.ProcessStart`. */
  def forks[T](body: => T): (T, Seq[String]) = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart").withoutStackTrace()
    rec.start()
    try {
      val r = body
      rec.stop()
      val dump = java.nio.file.Files.createTempFile("graft-forks", ".jfr")
      try {
        rec.dump(dump)
        (r, jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.toSeq
          .map(_.getString("command")))
      } finally java.nio.file.Files.deleteIfExists(dump): Unit
    } finally rec.close()
  }
}
