package graft.sources

import graft.operators.GraftTable
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SaveMode, SQLContext}
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.sources.{BaseRelation,
  CreatableRelationProvider, DataSourceRegister, RelationProvider,
  StreamSinkProvider}
import org.apache.spark.sql.streaming.OutputMode

/** The SQL batch read path for [[graft.operators.GraftTable]]:
  * `spark.read.format("graft-table").option("path", root).load()` — a
  * plain DataFrame whose FILTERS drive the table's zone + bloom manifest
  * pruning through Catalyst's own pushdown, with no hand-held
  * `scan(preds)` call. `df.filter($"k" <= 100)` plans a scan that opens
  * only the files whose zone ranges (and blooms, for equality) might
  * hold a matching row — the capability that matters at 100 TB, where
  * "read the manifest, open 3 of 40,000 files" versus "list and read
  * everything" IS the query's cost.
  *
  * Architecture: `load()` returns the version's `HadoopFsRelation` over
  * a [[GraftFileIndex]], the same relation every table read uses. Spark's
  * file-source strategy hands the index the pushed data filters, which
  * prune the manifest, and pushes them into the parquet reader as well;
  * every filter is re-applied above the scan, so pruning is a
  * performance hint and exactness never depends on it. Projection
  * reaches the parquet read as its read schema, and the relation's size
  * is the manifest's byte total, so a small graft dimension
  * auto-broadcasts.
  *
  * SNAPSHOT semantics: the relation pins the table version current at
  * `load()`; concurrent commits never shift a running query's input
  * (the time-travel guarantee, free because versions are immutable).
  *
  * WRITES route through the same transactional machinery, never a blind
  * directory dump: `df.write.format("graft-table")` with
  * `SaveMode.Append` appends transactionally (and CREATES the table on
  * first write — option `zoneCols`, comma-separated, names the indexed
  * columns; `bloomCols` optionally adds blooms), `ErrorIfExists`
  * creates-or-refuses, `Ignore` creates-or-no-ops, and `Overwrite` is
  * an atomic REPLACE commit (one version whose manifest holds only the
  * new rows — readers switch snapshots at the rename, and the change
  * feed derives the full delete+insert from the manifest diff). The
  * ledger is honored by construction: an SQL append is a manual
  * unledgered mutation, so stream-bootstrapped tables refuse it loudly,
  * exactly like the API call.
  */
final class GraftTableSource
  extends RelationProvider with CreatableRelationProvider
  with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft-table"

  /** `df.writeStream.format("graft-table")` — the STREAMING write half
    * of the source/sink symmetry ([[graft.streaming.TableChangesSource]]
    * is the read half): every micro-batch lands as one ledgered
    * transactional commit keyed on the micro-batch id, so the table is
    * file-level EXACTLY-ONCE under at-least-once redelivery (a restart
    * re-offers batch N, the ledger high-water mark no-ops it) — the
    * [[graft.operators.GraftTable.ingestStream]] guarantee, now
    * reachable without leaving the DataStreamWriter API. The first
    * micro-batch CREATES the table (options: `zoneCols` required,
    * `bloomCols`/`keepVersions`/`changeFeed`/`keepHours` as on the batch
    * write path) with its batch id seeded into the create commit, and
    * flips the stream-ledger flag — from then on the checkpoint lineage
    * owns the ledger and manual unledgered mutations refuse, exactly
    * like the API bootstrap. With option `mergeKey`, batches MERGE
    * (latest-wins upsert, optional `opCol` tombstones) instead of
    * appending — a CDC-apply sink.
    */
  override def createSink(ctx: SQLContext, parameters: Map[String, String],
      partitionColumns: Seq[String], outputMode: OutputMode): Sink = {
    require(outputMode == OutputMode.Append(),
      s"graft-table sink supports Append output mode only, got $outputMode" +
        " — aggregate with watermarks + append, or merge via 'mergeKey'")
    require(partitionColumns.isEmpty,
      "graft-table lays out files by its zone manifest, not directory " +
        "partitioning — drop partitionBy and pass zoneCols instead")
    new GraftTableSink(pathOf(parameters), parameters)
  }

  override def createRelation(ctx: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val path = pathOf(parameters)
    val tbl = GraftTable.open(ctx.sparkSession, path)
    val v = parameters.collectFirst {
      case (k, s) if k.equalsIgnoreCase("versionAsOf") => s.trim.toLong
    }.getOrElse(tbl.version)
    // validate HERE, not deep inside a later scan: a pruned or
    // never-committed version must fail with the retention message, not
    // a raw missing-path error mid-query (and never half-work)
    require(tbl.versions().contains(v),
      s"versionAsOf $v is not committed/retained under ${tbl.path} " +
        s"(retained: ${tbl.versions().mkString(", ")}) — increase " +
        "keepVersions to widen the time-travel window")
    tbl.relation(v)
  }

  override def createRelation(ctx: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val spark = ctx.sparkSession
    val path = pathOf(parameters)
    val exists = GraftTable.exists(spark, path)
    def cols(key: String): Seq[String] = parameters.collectFirst {
      case (k, s) if k.equalsIgnoreCase(key) =>
        s.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    }.getOrElse(Nil)
    def create(): Unit = {
      val zs = cols("zoneCols")
      require(zs.nonEmpty || cols("bloomCols").nonEmpty,
        "creating a graft table through the write path needs option " +
          "'zoneCols' (comma-separated) and/or 'bloomCols'")
      val keep = parameters.collectFirst {
        case (k, s) if k.equalsIgnoreCase("keepVersions") => s.trim.toInt
      }.getOrElse(1)
      val feed = parameters.collectFirst {
        case (k, s) if k.equalsIgnoreCase("changeFeed") => s.trim.toBoolean
      }.getOrElse(true)
      val hours = parameters.collectFirst {
        case (k, s) if k.equalsIgnoreCase("keepHours") => s.trim.toDouble
      }.getOrElse(-1.0)
      GraftTable.create(data, path, zoneCols = zs,
        bloomCols = cols("bloomCols"), keepVersions = keep,
        changeFeed = feed, keepHours = hours)
      ()
    }
    mode match {
      case SaveMode.Append =>
        if (exists) GraftTable.open(spark, path).append(data) else create()
      case SaveMode.Overwrite =>
        if (exists) GraftTable.open(spark, path).replace(data) else create()
      case SaveMode.ErrorIfExists =>
        require(!exists, s"graft table $path already exists " +
          "(SaveMode.ErrorIfExists)")
        create()
      case SaveMode.Ignore =>
        if (!exists) create()
    }
    createRelation(ctx, parameters)
  }

  private def pathOf(parameters: Map[String, String]): String =
    parameters.collectFirst {
      case (k, v) if k.equalsIgnoreCase("path") => v
    }.getOrElse(sys.error(
      "graft-table requires option 'path' — the GraftTable root"))
}

/** The micro-batch half of [[GraftTableSource.createSink]]: one
  * ledgered commit per batch id. The engine hands `addBatch` a frame
  * over the micro-batch's incremental execution; it is re-planted as a
  * plain batch frame first ([[org.apache.spark.sql.graft.StreamBridge
  * .asBatchFrame]], the foreachBatch discipline) because the publish
  * protocol runs several actions over it.
  */
final class GraftTableSink(path: String, parameters: Map[String, String])
  extends Sink with Logging {

  private def opt(key: String): Option[String] = parameters.collectFirst {
    case (k, s) if k.equalsIgnoreCase(key) => s.trim
  }

  private def cols(key: String): Seq[String] =
    opt(key).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .getOrElse(Nil)

  // ONE handle across the sink's micro-batches (re-resolves the current
  // version per call) so its per-version caches serve the whole drain
  private var handle: GraftTable = null

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    val batch = org.apache.spark.sql.graft.StreamBridge.asBatchFrame(data)
    val mergeKey = opt("mergeKey")
    handle = GraftTable.streamBatch(handle, batch, path, batchId, mergeKey,
        opt("opCol").orNull) { seed =>
      val zs = if (mergeKey.isDefined) mergeKey.toSeq else cols("zoneCols")
      require(zs.nonEmpty,
        "the graft-table sink's first micro-batch CREATES the table — " +
          "pass option 'zoneCols' (comma-separated) or 'mergeKey'")
      GraftTable.create(seed, path, zoneCols = zs,
        bloomCols = cols("bloomCols"),
        keepVersions = opt("keepVersions").map(_.toInt).getOrElse(1),
        changeFeed = opt("changeFeed").forall(_.toBoolean),
        keepHours = opt("keepHours").map(_.toDouble).getOrElse(-1.0),
        firstBatchId = batchId)
    }
  }

  override def toString: String = s"GraftTableSink[$path]"
}

/** Scan observability for graft tables: each pinned
  * [[GraftFileIndex]] listing records what it kept.
  */
object GraftTableRelation {
  private val scans =
    scala.collection.concurrent.TrieMap.empty[String, (Int, Int)]

  private[sources] def record(path: String, opened: Int, total: Int): Unit =
    scans.put(path, (opened, total))

  /** Last scan's (files opened, files total) FOR `path` — observability
    * for specs and in-body pruning requires, keyed per table so two
    * concurrent graft-table queries (a cotenant bench run, parallel
    * suites) can never clobber each other's stats. Set per action; read
    * it immediately after the action whose scan you are asserting.
    */
  def lastScan(path: String): Option[(Int, Int)] = scans.get(path)

  /** Forget `path`'s stats — the reset half of a reset-then-assert. */
  def clearScan(path: String): Unit = { scans.remove(path); () }
}
