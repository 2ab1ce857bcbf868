package org.apache.spark.perfbench

import org.apache.spark.SparkContext

/** The two engine internals the benchmark's listener needs, reached
  * from inside the `org.apache.spark` package where they are visible.
  */
object Internals {

  /** Local-property key under which a job carries its job tags. */
  val JobTagsKey: String = SparkContext.SPARK_JOB_TAGS
  val JobTagsSep: String = SparkContext.SPARK_JOB_TAGS_SEP

  /** Block until every posted listener event has been delivered, so a
    * read of listener totals right after an action sees that action.
    */
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
