package org.apache.spark.etlbench

import org.apache.spark.SparkContext

/** Waits for the listener bus to deliver every posted event. Unlike
  * `graft`'s ListenerDrain it reports a timeout instead of swallowing it:
  * returns false when events may still be in flight, so the caller can
  * count the metrics that followed as inexact.
  */
object Drain {
  def apply(sc: SparkContext, timeoutMs: Long = 10000L): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
