package org.apache.spark

/** Deterministic drain of the async listener bus.
  *
  * `SparkContext.listenerBus` and `LiveListenerBus.waitUntilEmpty` are
  * `private[spark]`; measurement mains (ShuffleAuditMain's per-query
  * shuffle deltas, SpillProbeMain's spill totals) need to block until every
  * queued task-end event has been delivered before reading listener state
  * — a fixed sleep is a race that silently undercounts totals under load. Same package-scoped
  * bridge pattern as [[org.apache.spark.sql.graftbridge.ColumnBridge]].
  */
object GraftListenerBridge {
  /** Blocks until the bus is empty; throws TimeoutException after
    * `timeoutMillis` (a shortfall should be LOUD, not a skewed series). */
  def waitListenerBusEmpty(sc: SparkContext, timeoutMillis: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMillis)
}
