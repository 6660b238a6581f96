package org.apache.spark.perfbench

import org.apache.spark.{SparkContext, SparkEnv}

/** The two engine internals the benchmark reads that Spark keeps
  * package-private: the listener bus (to drain it before reading
  * listener-fed counters) and the block manager (to count the RDD blocks
  * still held after an operation released its caches).
  */
object SparkInternals {

  /** Blocks until every event posted so far has reached every listener,
    * or `timeoutMs` passes. Returns false on timeout.
    */
  def drainListenerBus(sc: SparkContext, timeoutMs: Long): Boolean =
    try { sc.listenerBus.waitUntilEmpty(timeoutMs); true }
    catch { case _: java.util.concurrent.TimeoutException => false }

  /** RDD blocks (memory or disk) held by this JVM's block manager. In
    * local mode the driver's block manager is the only one.
    */
  def rddBlockCount(): Int =
    SparkEnv.get.blockManager.getMatchingBlockIds(_.isRDD).size
}
