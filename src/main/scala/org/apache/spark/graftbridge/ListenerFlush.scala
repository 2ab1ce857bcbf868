package org.apache.spark.graftbridge

import org.apache.spark.SparkContext

/** Trace-support bridge into `private[spark]` surface: the listener
  * bus delivers task and stage metrics asynchronously, so a trace
  * read right after an action races the delivery thread.
  * `waitUntilEmpty` drains the bus deterministically — the
  * alternative (sleep-and-poll) is the flaky pattern this bridge
  * exists to avoid. Used only by [[graft.QueryTrace]]; no query-path
  * code depends on it.
  */
object ListenerFlush {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

/** The local property under which a job carries its thread's job
  * tags, joined by `Sep`. [[graft.QueryTrace]] attributes jobs by it.
  */
object JobTags {
  val Key: String = SparkContext.SPARK_JOB_TAGS
  val Sep: String = SparkContext.SPARK_JOB_TAGS_SEP
}
