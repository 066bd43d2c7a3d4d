package org.apache.spark

/** Waits until every listener event posted so far has been delivered, so a
  * report built right after the last operation sees all of its jobs, tasks
  * and stream progress. The listener bus is package-private to Spark.
  */
object PerfbenchBus {
  def drain(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
