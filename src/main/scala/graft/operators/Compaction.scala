package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Small-file compaction — the maintenance operator every
  * continuously-ingested table needs at scale. A streaming sink or
  * frequent-append pipeline lands one file (or more) per micro-batch;
  * after a week a 100 TB table is millions of KB-sized files, and scan
  * cost is dominated by per-file open/footer/task overhead instead of
  * bytes. Compaction rewrites a directory's content into ~target-sized
  * files — optionally re-sorted, because compaction is ALSO the moment
  * to restore clustering ([[Layout]] Z-order or a linear sort) that
  * interleaved appends destroyed, which is what keeps [[ZoneMap]]
  * pruning selective as a table ages.
  *
  * The rewrite goes to a NEW directory, deliberately. Plain parquet
  * directories have no atomic in-place swap: an overwrite's
  * delete-then-commit window would leave readers (and a crash) with
  * nothing — exactly the durability hole the versioned-remap work in
  * [[CompIndex]] closes for index state, and at the table level the
  * public answer is a table format's manifest pointer (Delta/Iceberg
  * snapshot isolation). Within this engine's plain-directory model the
  * contract is: compact to a fresh generation directory, point readers
  * at it, retire the old one — [[compactTo]] is the rewrite leg, and
  * the [[ZoneMap]] refresh is part of the same move (a fresh
  * [[ZoneMap.build]] on the new directory, or append+retract when
  * generations share an index).
  *
  * Row preservation is the correctness contract: compaction is a pure
  * relayout, so any query over the compacted directory equals the same
  * query over the original — the declared query's oracle.
  */
object Compaction {

  /** One file's worth of rows. 128 MB of parquet at typical widths is a
    * few million rows; the default keeps local fixtures honest while the
    * parameter carries the real sizing at scale.
    */
  val DefaultTargetRows = 4 * 1000 * 1000L

  /** (path, length) per data file — lengths ride along from the one
    * listing pass, so byte-driven sizing never re-asks the namenode
    * per file (on the millions-of-small-files scenario this operator
    * targets, a per-file getFileStatus would double the metadata
    * pressure the module exists to relieve).
    */
  private def parquetFiles(spark: SparkSession, dir: String): Seq[(Path, Long)] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Nil
    val it = fs.listFiles(p, true)
    val out = Seq.newBuilder[(Path, Long)]
    while (it.hasNext) {
      val f = it.next()
      val n = f.getPath.getName
      if (f.isFile && n.endsWith(".parquet") && !n.startsWith("_") &&
        !n.startsWith("."))
        out += ((f.getPath, f.getLen))
    }
    out.result()
  }

  /** (file count, total rows) for a directory — the observability pair
    * that decides WHEN to compact.
    */
  def stats(spark: SparkSession, dir: String): (Long, Long) =
    (parquetFiles(spark, dir).size.toLong,
      spark.read.parquet(dir).count())

  /** Does `dir` need compaction: more files than `ceil(rows / target) ·
    * slack`? The slack factor keeps the trigger from firing on a table
    * that is only mildly fragmented — rewriting 100 TB to shave 20% of
    * file count is a bad trade; 10× over budget is not.
    */
  def needsCompaction(spark: SparkSession, dir: String,
      targetRows: Long = DefaultTargetRows, slack: Double = 4.0): Boolean = {
    val (files, rows) = stats(spark, dir)
    val ideal = math.max(1L, (rows + targetRows - 1) / targetRows)
    files > ideal * slack
  }

  /** Rewrite `dir`'s rows into ~`ceil(rows / targetRows)` files at
    * `outDir`, clustered by `sortCols` when given (range-partition +
    * sort-within — one shuffle, same cost a plain repartition pays,
    * but the output is [[ZoneMap]]-prunable on the sort columns) or
    * coalesced without a shuffle when not.
    *
    * @return (files before, files after, rows)
    */
  def compactTo(spark: SparkSession, dir: String, outDir: String,
      targetRows: Long = DefaultTargetRows,
      sortCols: Seq[String] = Nil): (Long, Long, Long) = {
    require(targetRows > 0, s"targetRows must be positive: $targetRows")
    val before = parquetFiles(spark, dir).size.toLong
    val df = spark.read.parquet(dir)
    val rows = df.count()
    val n = math.max(1L, (rows + targetRows - 1) / targetRows).toInt
    val out =
      if (sortCols.nonEmpty)
        df.repartitionByRange(n, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      else df.coalesce(n)
    out.write.parquet(outDir)
    (before, parquetFiles(spark, outDir).size.toLong, rows)
  }

  /** Byte-driven twin of [[compactTo]]: the output file count comes from
    * the input files' LENGTHS — pure listing metadata, no pre-scan —
    * which is how a 100 TB compactor sizes its rewrite ([[compactTo]]'s
    * row count costs a counting job; cheap next to the rewrite shuffle,
    * but not free). Compression ratios carry over because the rewrite
    * re-encodes the same data.
    *
    * @return (files before, files after)
    */
  def compactToBytes(spark: SparkSession, dir: String, outDir: String,
      targetBytes: Long = 128L * 1024 * 1024,
      sortCols: Seq[String] = Nil): (Long, Long) = {
    require(targetBytes > 0, s"targetBytes must be positive: $targetBytes")
    val files = parquetFiles(spark, dir)
    val totalBytes = files.map(_._2).sum
    val n = math.max(1L, (totalBytes + targetBytes - 1) / targetBytes).toInt
    val df = spark.read.parquet(dir)
    val out =
      if (sortCols.nonEmpty)
        df.repartitionByRange(n, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      else df.coalesce(n)
    out.write.parquet(outDir)
    (files.size.toLong, parquetFiles(spark, outDir).size.toLong)
  }
}
