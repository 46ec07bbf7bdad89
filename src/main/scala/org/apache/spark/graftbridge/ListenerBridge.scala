package org.apache.spark.graftbridge

import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.storage.BroadcastBlockId
import org.apache.spark.util.ListenerBus

/** `SparkContext.listenerBus` is `private[spark]`; metrics probes that
  * read SparkListener-accumulated counters (the z-order write probe's
  * records/bytes cells, scale/sf10_zorder_write_r14.json; Profile's
  * job counts) need a DETERMINISTIC drain of the async bus —
  * a fixed sleep races under host load: stage-completed events from
  * cell k can land after the sleep and be wiped by (or attributed to)
  * cell k+1 (the r12 advice finding). Same shim pattern as
  * sql.graftbridge.ColumnBridge; nothing else reaches into core
  * internals. [[broadcastIds]] reads the context's block manager, the
  * one place a broadcast is visible.
  */
object ListenerBridge {
  def waitUntilEmpty(sc: SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** The listeners on `sc`'s bus, over all its queues. */
  def listeners(sc: SparkContext): Seq[AnyRef] = sc.listenerBus.listeners.asScala.toSeq

  /** Take the listener bus that delivers to `listener` off `sc`'s bus.
    * Spark puts a session's stream listener bus on the context's bus
    * when the session starts its first stream, and never takes it off.
    * Not for a listener thread: the context's bus locks itself while it
    * stops, and stopping joins every listener thread. */
  def removeBusOf(sc: SparkContext, listener: AnyRef): Unit =
    sc.listenerBus.listeners.asScala
      .filter {
        case b: ListenerBus[_, _] => b.listeners.contains(listener)
        case _ => false
      }
      .foreach(sc.listenerBus.removeListener)

  /** Ids of the broadcasts whose blocks `sc`'s block manager holds. */
  def broadcastIds(sc: SparkContext): Set[Long] =
    sc.env.blockManager.getMatchingBlockIds(_.isBroadcast)
      .collect { case BroadcastBlockId(id, _) => id }.toSet
}
