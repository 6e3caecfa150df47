package org.apache.spark

/** Waits until Spark's listener bus has delivered every queued event, so
  * the benchmark's listeners have seen all jobs and query progress before
  * their counters are read. The wait is Spark-internal, hence this
  * package. */
object BenchBus {
  def drain(sc: SparkContext, timeoutMs: Long = 10000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
