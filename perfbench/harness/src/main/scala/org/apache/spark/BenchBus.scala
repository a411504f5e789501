package org.apache.spark

/** The listener bus drain the traced run needs: listener events arrive
  * asynchronously, so the tracer drains the bus after each operation to
  * charge every job, stage and query event to the operation that caused
  * it. The bus is package-private to Spark, hence this file's package. */
object BenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
