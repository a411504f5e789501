package graft

import org.scalatest.funsuite.AnyFunSuite

/** Session-tuning specs for the optimization-round machinery:
  * [[GraftSession.withStreamParallelism]] scopes the streaming state
  * parallelism to the wrapped `.start()` call — the caller's session
  * must never observe the lowered value (a leak would silently
  * throttle every later BATCH shuffle in the JVM), and the wrapped
  * body must observe exactly the documented value so the state-store
  * count per stateful operator is what OPTIMIZATION_r16.md claims. */
class SessionSpec extends AnyFunSuite {

  private lazy val spark = GraftSession.test()
  private val Key = "spark.sql.shuffle.partitions"

  /** Generated classes Spark compiles while `body` runs (a class found
    * in the codegen cache is not compiled and not counted). Suites run
    * one at a time in the forked test JVM, so the JVM-wide counter sees
    * only this body's compiles. */
  private def compiles(body: => Unit): Long = {
    val c = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    val before = c.getCount
    body
    c.getCount - before
  }

  test("a rerun of a stream query compiles no generated class") {
    // each streaming query clones the session; with artifact isolation
    // on, the clone's fresh classloader keys a cache miss for every
    // class the previous run compiled from the same source
    val dir = "/root/testdata/sf0.001"
    def run(): Unit = graft.streaming.Streams.streamHourly(spark, dir).collect(): Unit
    run()
    assert(compiles(run()) === 0L)
  }

  test("the builder's codegen cache cap reaches CodeGenerator") {
    // 150 distinct plans overflow Spark's default cap (100): a cyclic
    // second round would then miss on every class it compiled first
    val ks = 1 to 150
    assert(ks.size < GraftSession.CodegenCacheEntries)
    def round(): Unit = ks.foreach(k => spark.range(4).selectExpr(s"id * $k").collect())
    round()
    assert(compiles(round()) === 0L)
  }

  test("withStreamParallelism lowers inside the body and restores after") {
    val prev = spark.conf.get(Key)
    val expected = math.min(prev.toInt, 8).toString
    val seen = GraftSession.withStreamParallelism(spark) {
      spark.conf.get(Key)
    }
    assert(seen === expected)
    assert(spark.conf.get(Key) === prev)
  }

  test("withStreamParallelism restores the caller's value on failure") {
    val prev = spark.conf.get(Key)
    intercept[RuntimeException] {
      GraftSession.withStreamParallelism(spark) {
        sys.error("start() failed")
      }
    }
    assert(spark.conf.get(Key) === prev)
  }

  test("withStreamParallelism never raises parallelism above the session's") {
    // a session already below the streaming default must keep its own
    // (smaller) value — the knob only ever LOWERS state parallelism
    val prev = spark.conf.get(Key)
    spark.conf.set(Key, "2")
    try {
      val seen = GraftSession.withStreamParallelism(spark) {
        spark.conf.get(Key)
      }
      assert(seen === "2")
      assert(spark.conf.get(Key) === "2")
    } finally spark.conf.set(Key, prev)
  }
}
