package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** Access to the listener bus's queue drain, which Spark keeps
  * package-private. */
object ListenerBus {
  /** Wait up to `timeoutMs` until every event posted so far has reached
    * the listeners; false if the queue did not empty in time. */
  def drain(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }
}
