package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Bench-support bridge into `private[spark]` surface: the listener
  * bus delivers stage metrics asynchronously, so a bench that reads a
  * listener-accumulated shuffle-bytes counter right after an action
  * races the delivery thread. `waitUntilEmpty` drains the bus
  * deterministically — the alternative (sleep-and-poll) is the flaky
  * pattern this bridge exists to avoid. Used only by
  * [[graft.OpsScaleBench]]'s shuffle-volume rows and [[graft.Dev]]'s
  * phase counts; no query-path code depends on it.
  */
object ListenerFlush {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
