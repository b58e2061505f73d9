package org.apache.spark

/** The one Spark-internal call the specs need: wait until every listener
  * event posted so far has been delivered, so a job count read right
  * after an operation includes all of that operation's jobs.
  */
object SpecAccess {
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
