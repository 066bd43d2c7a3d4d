package graft

import org.apache.spark.sql.SparkSession

/** Spark job labels shared by every operator: a label names the operator,
  * its layer and its step (`graft:merge:affected v3`, `dedup:components:round`,
  * `crawl:collect:fold`), so a job profile or the UI can attribute each job
  * a call schedules.
  */
object Jobs {

  /** Label the Spark jobs `body` submits. Thread-local; restores the
    * caller's description.
    */
  private[graft] def labeled[T](spark: SparkSession, desc: String)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(desc)
    try body finally sc.setJobDescription(prev)
  }
}
