package org.apache.spark

/** Spark internals the trace needs: the listener bus (to wait until every
  * event of a traced call has been delivered before reading the
  * listener's tallies) and the local-property keys of a job group. */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  val JobGroupKeys: Seq[String] = Seq(SparkContext.SPARK_JOB_GROUP_ID,
    SparkContext.SPARK_JOB_DESCRIPTION, SparkContext.SPARK_JOB_INTERRUPT_ON_CANCEL)
}
