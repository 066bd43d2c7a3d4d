package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites: one JVM-wide SparkSession (getOrCreate
  * reuses it across suites), local[4], AQE on — matching Session.local.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.local(4, "graft-test")

  val sfDir = "/root/testdata/sf0.001"

  /** Does the local directory `dir` hold a committed JSON metadata record
    * (`meta.json` plus its `_SUCCESS` marker)?
    */
  def hasJsonMeta(dir: String): Boolean =
    new java.io.File(dir, "meta.json").isFile &&
      new java.io.File(dir, "_SUCCESS").isFile

  /** Overwrite `path` with `text` through the Hadoop FileSystem, so the
    * local filesystem's checksum sidecar stays in step with the bytes.
    */
  def writeText(path: String, text: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }
}
