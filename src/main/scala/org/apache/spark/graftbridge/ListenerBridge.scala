package org.apache.spark.graftbridge

import scala.reflect.ClassTag

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.SparkListener

/** Access to `SparkContext.listenerBus` (private[spark]): lets a probe
  * drain the asynchronous listener queue so per-measurement metric
  * captures (task spill counters, peak memory) are complete before the
  * measurement window closes, and find the listeners already on the bus.
  * Same thin-accessor pattern as
  * `org.apache.spark.sql.graftbridge.ColumnBridge`.
  */
object ListenerBridge {
  /** Block until every queued listener event has been delivered (or the
    * timeout elapses — TimeoutException propagates, a probe must not
    * silently read half-delivered counters). */
  def flush(sc: SparkContext, timeoutMs: Long = 30000L): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)

  /** The listeners of class `T` registered on the context's bus. */
  def listeners[T <: SparkListener : ClassTag](sc: SparkContext): Seq[T] =
    sc.listenerBus.findListenersByClass[T]()
}
