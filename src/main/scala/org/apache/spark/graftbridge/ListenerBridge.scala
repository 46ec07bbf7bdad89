package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** `SparkContext.listenerBus` is `private[spark]`; metrics probes that
  * read SparkListener-accumulated counters (the z-order write probe's
  * records/bytes cells, scale/sf10_zorder_write_r14.json; Profile's
  * job counts) need a DETERMINISTIC drain of the async bus —
  * a fixed sleep races under host load: stage-completed events from
  * cell k can land after the sleep and be wiped by (or attributed to)
  * cell k+1 (the r12 advice finding). Same shim pattern as
  * sql.graftbridge.ColumnBridge; nothing else reaches into core
  * internals.
  */
object ListenerBridge {
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
