package org.apache.spark.sql.graftbridge

/** Bridge into Spark's `private[spark]` listener bus. */
object ListenerBus {

  /** Block until the listener bus has delivered every queued event —
    * lets a measuring tool ([[graft.tools.ScaleRehearsal]]) read
    * listener-accumulated metrics (stage executor peaks, spill
    * totals) that land asynchronously after an action returns. The
    * bus is `private[spark]`, hence this one-line bridge.
    */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty(30000)
}
