package org.apache.spark.graft

/** `SparkContext.listenerBus` / `LiveListenerBus.waitUntilEmpty` are
  * `private[spark]`; this package-located shim exposes the one flush
  * barrier the bench evidence needs (the same pattern as
  * [[TaskContextBridge]]) and the post that puts the engine's own
  * events on the bus. StreamingQueryListener events are delivered
  * ASYNCHRONOUSLY — without a drain, a pass's last micro-batch
  * progress event can land after the pass's wall-clock read and be
  * attributed to the NEXT pass (or lost to a `clear()`), which is
  * exactly the per-pass evidence the steady artifact exists to carry.
  * Best-effort: a timeout never fails the measurement, it just leaves
  * that event where it falls. */
object ListenerBusBridge {
  def flush(sc: org.apache.spark.SparkContext, timeoutMs: Long = 10000L): Unit =
    try sc.listenerBus.waitUntilEmpty(timeoutMs)
    catch { case _: java.util.concurrent.TimeoutException => () }

  def post(sc: org.apache.spark.SparkContext,
      event: org.apache.spark.scheduler.SparkListenerEvent): Unit =
    sc.listenerBus.post(event)
}
