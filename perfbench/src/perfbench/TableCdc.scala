package perfbench

import graft.operators.{GraftTable, ZoneMap}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable

/** A keyed GraftTable clustered on its key, fed by CDC micro-batches
  * drained through `GraftTable.mergeStream` one file per trigger, with
  * zone-pruned point and narrow-range `scan` reads interleaved at a fixed
  * ratio. Writes and reads of one table in one loop: a change that speeds
  * commits at the cost of scans, or the reverse, shows here. Never lists
  * a directory tree and never runs MinHash.
  *
  * Batch rows have unique keys (the merge contract). Most keys come from a
  * hot range at the top of the key space, the rest from a window that
  * moves per batch; a fixed share of rows are tombstones.
  */
final class TableCdc(spark: SparkSession, dir: Path, seed: Long, rec: Recorder)
    extends Workload {
  import TableCdc._

  private val tablePath = dir.resolve("table").toString
  private val srcDir = dir.resolve("cdc")
  private val stageDir = dir.resolve("cdc_staging")
  private val ckpt = dir.resolve("checkpoint").toString
  /** The latest-wins fold of everything sent so far: key -> value. */
  private val fold = mutable.LongMap.empty[Long]
  private var table: GraftTable = _
  private var batches = 0
  private var mtimeBase = 0L
  private val openedRatios = mutable.ArrayBuffer.empty[Double]
  private val tableFiles = mutable.ArrayBuffer.empty[Double]

  def properties: collection.Map[String, Any] = Json.obj(
    "keys" -> Keys, "table_files_at_create" -> CreateFiles,
    "rows_per_batch" -> BatchRows, "batches_per_drain" -> BatchesPerDrain,
    "scans_per_drain" -> ScansPerDrain,
    "read_write_ratio" -> ScansPerDrain.toDouble / BatchesPerDrain,
    "hot_key_share" -> HotShare, "hot_keys" -> HotKeys,
    "window_keys" -> WindowKeys, "delete_share" -> DeleteShare,
    "range_scan_width" -> RangeWidth, "versions_reached" -> (1 + batches))

  /** The row's text column, the same on both sides of the stream. */
  private def payload(k: Long, v: Long): String = f"$k%08d:$v:" + Filler

  /** Spark's xxhash64(k, v), so the fold hashes exactly as the table does. */
  private def rowHash(k: Long, v: Long): Long =
    XXH64.hashLong(v, XXH64.hashLong(k, 42L)) & 0xffffffffL

  /** Initial value of key k: Spark's xxhash64(k, seed), low 20 bits. */
  private def initial(k: Long): Long = XXH64.hashLong(seed, XXH64.hashLong(k, 42L)) & 0xfffffL

  def setup(): Unit = {
    (0L until Keys).foreach(k => fold(k) = initial(k))
    val df = spark.range(Keys).toDF("k")
      .withColumn("v", xxhash64(col("k"), lit(seed)).bitwiseAND(0xfffffL))
      .withColumn("s", concat_ws(":", lpad(col("k").cast("string"), 8, "0"),
        col("v").cast("string"), lit(Filler)))
      .repartitionByRange(CreateFiles, col("k")).sortWithinPartitions("k")
    table = GraftTable.create(df, tablePath, Seq("k"))
    Files.createDirectories(srcDir)
    Files.createDirectories(stageDir)
    mtimeBase = System.currentTimeMillis() / 1000 * 1000
  }

  /** Batch `j`: unique keys, hot-range skew, a share of tombstones. */
  private def writeBatch(j: Int): Seq[(Long, Option[Long])] = {
    val rnd = Workload.rng(seed, 1000L + j)
    val hot = mutable.LinkedHashSet.empty[Long]
    while (hot.size < (BatchRows * HotShare).toInt) hot += Keys - 1 - rnd.nextInt(HotKeys)
    val w0 = rnd.nextInt((Keys - HotKeys - WindowKeys).toInt).toLong
    val keys = hot.clone()
    while (keys.size < BatchRows) keys += w0 + rnd.nextInt(WindowKeys)
    val rows = rnd.shuffle(keys.toVector).zipWithIndex.map { case (k, n) =>
      if (n < BatchRows * DeleteShare) (k, None) else (k, Some(rnd.nextInt(1000000).toLong))
    }
    val text = rows.map {
      case (k, None)    => s"""{"k":$k,"v":0,"s":"","op":"${GraftTable.DeleteOp}"}"""
      case (k, Some(v)) => s"""{"k":$k,"v":$v,"s":"${payload(k, v)}","op":"upsert"}"""
    }.mkString("", "\n", "\n")
    // staged then moved in whole; modification times order the triggers
    val staged = stageDir.resolve(f"batch-$j%06d.json")
    Files.write(staged, text.getBytes(UTF_8))
    staged.toFile.setLastModified(mtimeBase + j * 1000L)
    Files.move(staged, srcDir.resolve(staged.getFileName), StandardCopyOption.ATOMIC_MOVE)
    rows
  }

  /** Send one drain's batches; returns them for the fold. */
  private def send(): Seq[Seq[(Long, Option[Long])]] = {
    val sent = (0 until BatchesPerDrain).map(b => writeBatch(batches + b))
    batches += BatchesPerDrain
    sent
  }

  private def drain(): Unit = {
    val stream = spark.readStream.schema(CdcSchema)
      .option("maxFilesPerTrigger", 1).json(srcDir.toString)
    rec.timed("GraftTable.mergeStream") {
      GraftTable.mergeStream(stream, tablePath, "k", ckpt, opCol = "op")
    }.foreach { case (_, ms) =>
      rec.throughput(BatchesPerDrain * BatchRows, ms)
    }
  }

  /** The table after a drain must equal the latest-wins fold with
    * tombstones, by row count and an order-independent row hash.
    */
  private def checkTable(sent: Seq[Seq[(Long, Option[Long])]]): Unit = {
    sent.foreach(_.foreach {
      case (k, None)    => fold.remove(k)
      case (k, Some(v)) => fold(k) = v
    })
    val got = table.read()
      .agg(count(lit(1)),
        coalesce(sum(xxhash64(col("k"), col("v")).bitwiseAND(0xffffffffL)), lit(0L)))
      .head()
    val want = (fold.size.toLong, fold.iterator.map { case (k, v) => rowHash(k, v) }.sum)
    rec.check(
      if ((got.getLong(0), got.getLong(1)) != want)
        Some(s"after batch ${batches - 1}: table (count, hash) " +
          s"(${got.getLong(0)}, ${got.getLong(1)}) != fold $want")
      else if (table.lastAppliedBatch() != batches - 1)
        Some(s"ledger at ${table.lastAppliedBatch()}, expected ${batches - 1}")
      else None)
  }

  private def scan(i: Int, s: Int, tracer: Option[Tracer]): Unit = {
    // a fixed cycle of point/range x hot/anywhere; the seed picks the keys
    val rnd = Workload.rng(seed, 1000000L + i * 1000L + s)
    val at =
      if (s / 2 % 2 == 0) Keys - 1 - rnd.nextInt(HotKeys)
      else rnd.nextInt((Keys - RangeWidth).toInt).toLong
    val (preds, want) =
      if (s % 2 == 0) (Seq(ZoneMap.Point("k", at)), fold.get(at).map(at -> _).toSet)
      else {
        val hi = math.min(at + RangeWidth - 1, Keys - 1)
        (Seq(ZoneMap.Range("k", at, hi)),
          (at to hi).flatMap(k => fold.get(k).map(k -> _)).toSet)
      }
    def run() = rec.timed("GraftTable.scan") {
      table.scan(preds).select("k", "v").collect().map(r => r.getLong(0) -> r.getLong(1))
    }
    val res = tracer match {
      case None => run()
      case Some(t) =>
        val r = t.span(spark.sparkContext, "scan", i)(run())
        openedRatios += table.scanFileCount(preds).toDouble / table.files().size
        r
    }
    res.foreach { case (rows, ms) =>
      rec.sample("op_ms", ms)
      rec.check(
        if (rows.length != want.size || rows.toSet != want)
          Some(s"scan $preds returned ${rows.length} rows, expected ${want.size}")
        else None)
    }
  }

  def iterate(i: Int, tracer: Option[Tracer]): Unit = {
    val sent = send()
    tracer match {
      case None => drain()
      case Some(t) =>
        t.span(spark.sparkContext, "drain", i)(drain())
        tableFiles += table.files().size
    }
    checkTable(sent)
    (0 until ScansPerDrain).foreach(s => scan(i, s, tracer))
  }

  def named(probe: StreamProbe, fromMs: Long, toMs: Long)
      : Seq[(String, Double, String, Int)] = {
    val commits = probe.between(fromMs, toMs).map(_.triggerMs.toDouble)
    val scans = rec.get("op_ms")
    Seq(("commit_p50_ms", Stats.median(commits), "ms", commits.size)) ++
      Stats.p90(commits).map(p => ("commit_p90_ms", p, "ms", commits.size)) ++
      Seq(("scan_p50_ms", Stats.median(scans), "ms", scans.size)) ++
      Stats.p90(scans).map(p => ("scan_p90_ms", p, "ms", scans.size)) ++
      Seq(("rows_merged_per_s", rec.itemsPerS, "1/s", rec.rates.size),
        ("versions_reached", table.version.toDouble, "count", 1))
  }

  def layerExtras(tracer: Tracer): Map[String, Double] = Map(
    "table_files" -> Stats.mean(tableFiles.toSeq),
    "files_opened_ratio" -> Stats.mean(openedRatios.toSeq))

  def close(): Unit = ()
}

object TableCdc {
  val Keys = 400000L
  val CreateFiles = 16
  val BatchRows = 5000
  val BatchesPerDrain = 1
  val ScansPerDrain = 4
  val HotShare = 0.8
  val HotKeys = 16000
  val WindowKeys = 20000
  val DeleteShare = 0.1
  val RangeWidth = 64L
  val Filler: String = "x" * 36
  val CdcSchema: StructType = StructType(Seq(
    StructField("k", LongType), StructField("v", LongType),
    StructField("s", StringType), StructField("op", StringType)))
}
