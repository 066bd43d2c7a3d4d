package graft

import org.apache.spark.sql.SparkSession

/** SparkSession factory for the graft engine.
  *
  * Local-mode defaults are tuned for the test harness (`local[32]`, 32
  * shuffle partitions) but every setting is the one we would also want on a
  * 1000-executor cluster: AQE on (runtime re-planning, skew-join splitting,
  * partition coalescing), UTC session time zone (oracle parity), and
  * broadcast threshold left at Spark's default so small dimension tables
  * (region/nation/customer at low SF) broadcast automatically. Parquet
  * timestamps are written as INT64 microseconds, the format's standard
  * type, whose footers carry the exact bounds a GraftTable commit reads
  * its zone rows from (INT96, Spark's default, carries none).
  */
object Session {

  /** Build a local session with `cores` threads. On a real cluster the same
    * config block applies minus `master`.
    */
  def local(cores: Int = 32, appName: String = "graft"): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

}
