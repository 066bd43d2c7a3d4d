package graft.sources

import graft.operators.ZoneMap
import graft.plans.DmlExpr
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex,
  HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType

/** The one way graft table data is read: a Spark `FileIndex` over files
  * a manifest already lists with their byte sizes, scanned as a
  * `HadoopFsRelation` by Spark's own file-source strategy (the
  * `TahoeFileIndex` shape). Listing touches no file system: each status
  * is built from the manifest's `file`, resolved and qualified the way
  * `spark.read.parquet` qualifies a path (so `input_file_name()` is
  * unchanged), and its `bytes`, which the reader also uses to find the
  * parquet footer.
  *
  * Pruning has one entry point. `listFiles` receives the data filters
  * Catalyst pushed to the scan, translates them once
  * ([[graft.plans.DmlExpr.toCnf]]) and keeps the files the pinned
  * version's zone manifest and bloom sidecars cannot rule out
  * (`GraftTable.pruneFilesCnf`). Spark re-applies every filter above
  * the scan, so pruning never changes a result. Each pruned listing
  * records (files kept, files listed) under the table root for
  * [[GraftTableRelation.lastScan]].
  *
  * Two indexes over the same files are equal: data files are immutable
  * and uniquely named, so a cached read of them answers for either.
  *
  * @param root  the table root (or, unpruned, the generation directory)
  * @param files (resolved path, bytes) of every file the index may list
  * @param prune the resolved files a spec keeps, None when it cannot
  *              prune; no pruner lists `files` unpruned (a generation
  *              not yet committed)
  */
final class GraftFileIndex private (spark: SparkSession, root: String,
    private val files: Seq[(String, Long)],
    prune: Option[ZoneMap.Cnf => Option[Set[String]]]) extends FileIndex {

  private val statuses: Seq[FileStatus] = {
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    files.map { case (f, bytes) =>
      new FileStatus(bytes, false, 0, 0L, 0L, fs.makeQualified(new Path(f)))
    }
  }

  override val rootPaths: Seq[Path] = Seq(new Path(root))

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept = prune match {
      case None => statuses
      case Some(p) =>
        val k = p(DmlExpr.toCnf(dataFilters)) match {
          case None => statuses
          case Some(keep) =>
            files.zip(statuses).collect { case ((f, _), st) if keep(f) => st }
        }
        GraftTableRelation.record(root, k.size, statuses.size)
        k
    }
    Seq(PartitionDirectory(InternalRow.empty, kept.toArray))
  }

  override def inputFiles: Array[String] = statuses.map(_.getPath.toString).toArray

  /** Manifest versions are immutable: there is nothing to refresh. */
  override def refresh(): Unit = ()

  override def sizeInBytes: Long = files.iterator.map(_._2).sum

  override def partitionSchema: StructType = new StructType()

  override def equals(o: Any): Boolean = o match {
    case g: GraftFileIndex => g.files == files
    case _ => false
  }

  override def hashCode(): Int = files.hashCode()
}

object GraftFileIndex {

  /** `files` read as parquet under `schema`, through a [[GraftFileIndex]]. */
  private[graft] def relation(spark: SparkSession, root: String,
      files: Seq[(String, Long)],
      prune: Option[ZoneMap.Cnf => Option[Set[String]]],
      schema: StructType): HadoopFsRelation = {
    val index = new GraftFileIndex(spark, root, files, prune)
    HadoopFsRelation(index, index.partitionSchema, schema, bucketSpec = None,
      new ParquetFileFormat, Map.empty)(spark)
  }
}
