package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.json4s.JValue
import org.json4s.jackson.JsonMethods

/** Driver-written JSON metadata for the persistent-index family — the
  * [[GraftTable]] meta discipline generalized. Each record (geometry,
  * drift baselines, model weights' shape) is a handful of driver-sized
  * scalars, so it is written as `meta.json` through the FileSystem (plus
  * the `_SUCCESS` marker the family's committed-iff-marker checks gate
  * on): zero Spark jobs at build/save and at open.
  *
  * Layout: the JSON lands INSIDE the record's directory
  * (`<dir>/meta.json` + `<dir>/_SUCCESS`), so every "meta exists ⇒
  * committed" directory check gates on the marker. The record is
  * required: a reader that finds no `meta.json` fails naming the path
  * instead of guessing a default.
  */
private[operators] object MetaIo {

  private def fs(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Write `bytes` to `p`, replacing it — the one small-file codec of
    * the engine's directly written records: JSON meta, commit markers,
    * [[GraftTable]]'s publisher tokens and bloom sidecars.
    */
  def writeBytes(f: FileSystem, p: Path, bytes: Array[Byte]): Unit = {
    val out = f.create(p, true)
    try out.write(bytes) finally out.close()
  }

  /** The whole content of `p`, or None when it does not exist. */
  def readBytes(f: FileSystem, p: Path): Option[Array[Byte]] = {
    val in =
      try f.open(p) catch { case _: java.io.FileNotFoundException => return None }
    try {
      val bytes = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { bytes.write(buf, 0, n); n = in.read(buf) }
      Some(bytes.toByteArray)
    } finally in.close()
  }

  def writeFile(f: FileSystem, p: Path, s: String): Unit =
    writeBytes(f, p, s.getBytes("UTF-8"))

  def readFile(f: FileSystem, p: Path): Option[String] =
    readBytes(f, p).map(new String(_, "UTF-8"))

  /** Replace `dir` with a committed JSON record (meta.json + _SUCCESS) —
    * the same overwrite semantics the parquet writer had.
    */
  def write(spark: SparkSession, dir: String, j: JValue): Unit = {
    val f = fs(spark, dir)
    val d = new Path(dir)
    if (f.exists(d)) f.delete(d, true)
    writeFile(f, new Path(d, "meta.json"), JsonMethods.compact(JsonMethods.render(j)))
    writeFile(f, new Path(d, "_SUCCESS"), "")
  }

  /** The committed JSON record under `dir`; fails naming the path when
    * the record is absent.
    */
  def read(spark: SparkSession, dir: String): JValue =
    JsonMethods.parse(readFile(fs(spark, dir), new Path(dir, "meta.json"))
      .getOrElse(sys.error(s"no metadata record at $dir/meta.json")))

  /** JSON-safe double: NaN has no JSON literal (a codebook's drift
    * baseline can legitimately be NaN before it is measured) — encode it
    * as null and decode null back to NaN.
    */
  def jsonDouble(v: Double): JValue =
    if (v.isNaN) org.json4s.JNull else org.json4s.JDouble(v)

  def doubleOf(j: JValue): Double = j match {
    case org.json4s.JNull | org.json4s.JNothing => Double.NaN
    case org.json4s.JDouble(d) => d
    case org.json4s.JInt(i) => i.toDouble
    case org.json4s.JDecimal(d) => d.toDouble
    case org.json4s.JLong(l) => l.toDouble
    case other => sys.error(s"not a double: $other")
  }
}
