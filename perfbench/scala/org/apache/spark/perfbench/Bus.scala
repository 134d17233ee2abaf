package org.apache.spark.perfbench

/** Bounded wait for Spark's listener bus to deliver every queued event
  * (`SparkContext.listenerBus` is `private[spark]`), so listener
  * counters are complete before they are read. */
object Bus {
  /** True when the bus emptied within `timeoutMs`. */
  def drain(sc: org.apache.spark.SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
