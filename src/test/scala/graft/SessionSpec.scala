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
