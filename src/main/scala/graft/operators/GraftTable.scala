package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType, StructField, StructType}
import graft.Jobs.labeled
import graft.sources.GraftFileIndex

/** The unified table: data files + zone statistics + layout committed as
  * ONE atomic version — the composition of [[Compaction]], [[Layout]]
  * and [[ZoneMap]] under a single manifest pointer, so a 100 TB table
  * owner never hand-choreographs "rewrite the files, then heal the
  * index" again (the one maintenance dance the standalone operators
  * still required, and the core idea of the public table formats:
  * Delta/Iceberg snapshot isolation, here in the repo's own
  * versioned-meta discipline, exactly [[MaterializedAgg]]'s publish).
  *
  * On-disk layout:
  * {{{
  *   base/data/g{v}_{token}/part-*.parquet
  *                                   immutable data files, written once
  *                                   by one version-v publish ATTEMPT
  *                                   (the token makes racing attempts
  *                                   collision-free), shared by every
  *                                   later manifest referencing them
  *   base/data/g{v}_{token}/_blooms/{c}/part-*.parquet.bloom
  *                                   one sidecar per data file and bloom
  *                                   column: the file's serialized bloom
  *                                   bits (empty: no non-null value),
  *                                   written with the file's manifest
  *                                   row and immutable like the file.
  *                                   Listings skip it (`_` prefix,
  *                                   `.bloom` suffix); vacuum deletes it
  *                                   with its data file
  *   base/v{v}/manifest/             one parquet file, one zone row per
  *                                   referenced file: (file, cnt,
  *                                   (min_c, max_c, nulls_c)…, bytes),
  *                                   its schema a function of meta —
  *                                   the manifest IS the zone map, and
  *                                   the driver writes it whole. File
  *                                   paths are TABLE-ROOT-RELATIVE, so
  *                                   a committed table can be moved,
  *                                   renamed or DR-copied wholesale
  *                                   (absolute rows — a shallow clone's
  *                                   source files — resolve as-is)
  *   base/v{v}/meta/                 1 row: geometry (zone/bloom columns,
  *                                   bloom sizing, column types), layout
  *                                   columns, schema, applied batch
  *                                   high-water mark, stream-ledger flag
  *   base/v{v}/_publisher            the committing attempt's token
  * }}}
  *
  * Why the manifest matters at scale: a plain-directory scan pays a
  * recursive listing (hundreds of thousands of RPCs at 100 TB) before
  * planning anything, and [[ZoneMap.scan]] still pays it for the
  * staleness union. A committed manifest is AUTHORITATIVE — the file
  * list and its zone statistics travel together, so a selective scan
  * plans from one metadata read and never lists the data directory at
  * all. There is no staleness state: a version either committed (files
  * AND zones, atomically) or it didn't happen.
  *
  * Atomicity, crash windows and WRITER RACES (GraftTableSpec kills the
  * writer and races two handles to prove this):
  *  - every mutation writes NEW data files under a publish-unique
  *    `data/g{v}_{token}` first, then manifest + meta + the token into a
  *    hidden staging dir, and COMMITS with one atomic directory rename
  *    to `v{v}` — the version becomes visible whole or not at all. A
  *    crash anywhere before the rename leaves the previous version fully
  *    intact; the orphaned generation/staging dirs are unreferenced
  *    garbage [[GraftTable.vacuum]] collects.
  *  - commit conflicts are DETECTED, not silently lost: a publish first
  *    refuses if its target version is already committed (the stale-
  *    handle race), and after the rename re-reads `v{v}/_publisher` —
  *    a loser whose rename raced a winner sees the winner's token,
  *    removes its own debris and throws
  *    `java.util.ConcurrentModificationException`. Exactly one commit
  *    survives; no torn state (racing attempts never share a data or
  *    staging directory, so the loser cannot clobber the winner's
  *    files).
  *  - every mutation but `create` commits through ONE path
  *    ([[GraftTable!.commit]]) with ONE rebase rule
  *    ([[GraftTable.rebases]]): a loser re-plans against the new head
  *    iff the winner removed none of the files it replaces and did not
  *    reach its explicit batch id (a winner that pruned the loser's base
  *    counts as an overlap unless the loser replaces nothing), at most
  *    10 attempts; otherwise the conflict surfaces. A replace, whose rows
  *    need not come from the head, never rebases.
  *  - data files are immutable and superseded versions are pruned only
  *    AFTER the new commit (best-effort, marker-first), so a reader that
  *    resolved a committed version never has files deleted under it by
  *    the commit itself ([[GraftTable.vacuum]] is the explicit,
  *    caller-scheduled deletion window, as in the public formats).
  *  - appends are LEDGERED: meta carries the high-water batch id and
  *    [[GraftTable.append]] no-ops at or below it — at-least-once
  *    redelivery (a foreachBatch retry re-using its original id) cannot
  *    land rows twice, the [[MaterializedAgg]] exactly-once argument
  *    with files instead of sums. A table whose ledger is OWNED by a
  *    streaming checkpoint ([[ingestStream]]/[[mergeStream]] bootstrap)
  *    refuses the unledgered convenience mutations: stamping `hwm + 1`
  *    under a live checkpoint could advance the mark past the stream's
  *    next micro-batch id, which would then no-op as "redelivery" — a
  *    silent batch drop, the exact failure the ledger exists to prevent.
  *
  * Single-writer per table remains the OPERATING contract (the index-
  * family rule); the conflict detection above is the backstop that turns
  * a violated contract into a loud error instead of a lost commit.
  * Readers are safe concurrently with a writer because they resolve the
  * highest COMMITTED version.
  */
object GraftTable {

  /** Op-column value that marks a change row as a row-level DELETE in
    * [[GraftTable.merge]]/[[mergeStream]] — the [[Ingest.applyChanges]]
    * convention (any other value upserts).
    */
  val DeleteOp = "delete"

  /** One DML commit's report: file set algebra plus the EXACT number of
    * rows the condition matched (deleted, or updated — pre/post pairs
    * count once), the `num_affected_rows` SQL clients expect.
    */
  final case class DmlResult(filesRewritten: Long, filesCarried: Long,
    rowsAffected: Long)

  /** Declarative multi-wing MERGE — the full SQL `MERGE INTO` clause
    * algebra ([[GraftTable!.mergeSpec]]): per-wing conditions evaluate
    * ROW-LEVEL over the SAME full-outer join of the affected files (`t`,
    * the stored row) with the batch (`s`) that [[GraftTable!.mergeCond]]
    * already builds, so a three-wing CDC apply (`WHEN MATCHED AND c THEN
    * DELETE / WHEN MATCHED THEN UPDATE / WHEN NOT MATCHED AND c THEN
    * INSERT`) is ONE commit with NO extra head-snapshot reads — the
    * matched/unmatched split, the clause routing and the insert filter
    * all ride the join the merge pays for anyway.
    *
    *  - `update`: the matched-UPDATE wing's condition over `t`/`s`
    *    (`lit(true)` = unconditional); `None` = no update wing. A
    *    condition-passing update writes `updateExprs` (arbitrary `t`/`s`
    *    expressions — `col("t.value") + col("s.delta")` accumulates) and
    *    `updateCols` (batch-valued columns), preserving every other
    *    stored column; with BOTH empty, every non-key batch column
    *    updates from the batch ([[mergeCond]]'s default).
    *  - `delete`: the matched-DELETE wing's condition over `t`/`s`;
    *    `None` = no delete wing. `deleteFirst` encodes SQL's
    *    first-match-wins clause order: delete-first routes a row passing
    *    both conditions to DELETE; update-first to UPDATE.
    *  - `insert`: the NOT MATCHED wing's condition over `s` only
    *    (`lit(true)` = unconditional); `None` = NO insert wing — an
    *    update/delete-only merge where unmatched batch rows do nothing
    *    (no pre-restriction join needed).
    *  - a matched row no wing claims carries the stored image UNCHANGED
    *    and feeds nothing to the change feed.
    *  - `carryCols`: batch columns visible to the `t`/`s` expressions but
    *    NEVER stored (dropped from inserts and from schema evolution) —
    *    how a CDC op/delta column rides the batch without widening the
    *    table.
    *  - `opCol`: [[DeleteOp]] rows tombstone unconditionally
    *    ([[merge]]'s convention) — how the not-matched-by-source wing's
    *    tombstones union into the same commit.
    */
  final case class MergeSpec(update: Option[Column],
    updateCols: Seq[String] = Nil,
    updateExprs: Seq[(String, Column)] = Nil,
    delete: Option[Column] = None, deleteFirst: Boolean = true,
    insert: Option[Column] = None, carryCols: Seq[String] = Nil,
    opCol: String = null)

  /** Create version 1 from `df`: data files under `data/g1_*`, zone
    * manifest over them, meta last. `nFiles` bounds the initial file
    * count (0 = keep `df`'s partitioning). A live table already at
    * `path` is SUPERSEDED (readers resolve the highest committed
    * version, so publishing below it would be invisible).
    */
  def create(df: DataFrame, path: String, zoneCols: Seq[String],
      bloomCols: Seq[String] = Nil, nFiles: Int = 0,
      bloomItems: Long = 1000000L, bloomFpp: Double = 0.03,
      firstBatchId: Long = -1L, keepVersions: Int = 1,
      changeFeed: Boolean = true, keepHours: Double = -1.0): GraftTable = {
    require(zoneCols.nonEmpty || bloomCols.nonEmpty,
      "a graft table needs at least one zone or bloom column")
    require(keepVersions >= 1, s"keepVersions must be >= 1: $keepVersions")
    val spark = df.sparkSession
    val types = (zoneCols ++ bloomCols).distinct
      .map(c => c -> df.schema(c).dataType.sql).toMap
    // the stored schema is nullable throughout, as evolveSchema stores a
    // new column: a later write may leave any column null (an upsert
    // whose batch lacks it), and a NOT NULL field would read that back
    // as 0.
    // firstBatchId seeds the ledger ATOMICALLY with the first data when a
    // stream bootstraps the table ([[ingestStream]]): stamping it after
    // the create commit would open a crash window in which batch 0's rows
    // are committed but unledgered, and its redelivery would double-land.
    // It also flips the stream-ledger flag: from then on the checkpoint
    // lineage OWNS the ledger and manual unledgered mutations refuse.
    val meta = Meta(zoneCols, bloomCols, bloomItems, bloomFpp, types,
      layoutCols = Nil, appliedHwm = firstBatchId,
      schemaDdl = StructType(df.schema.fields.map(_.copy(nullable = true))).toDDL,
      keepVersions = keepVersions,
      streamed = firstBatchId >= 0L, changeFeed = changeFeed,
      keepHours = keepHours)
    val v = currentVersion(spark, path).getOrElse(0L) + 1
    val sized = if (nFiles > 0) df.repartition(nFiles) else df
    publishGeneration(spark, path, Some(sized), v, meta, carried = Nil,
      op = "create")
    new GraftTable(spark, path)
  }

  /** Continuous ingest with the bootstrap folded in: the first
    * micro-batch CREATES the table (geometry from the arguments, ledger
    * seeded with its batch id in the same commit), every later batch is
    * a ledgered [[GraftTable.append]] — so a redelivery of ANY batch,
    * including the first, no-ops against the high-water mark and the
    * table is file-level exactly-once end to end.
    */
  def ingestStream(rows: DataFrame, path: String, zoneCols: Seq[String],
      checkpointDir: String, bloomCols: Seq[String] = Nil, nFiles: Int = 0,
      bloomItems: Long = 1000000L, bloomFpp: Double = 0.03): Unit = {
    var handle: GraftTable = null
    IndexStream.runIndexed(rows, checkpointDir) { (batch, id) =>
      handle = streamBatch(handle, batch, path, id, None, null) { seed =>
        create(seed, path, zoneCols, bloomCols, nFiles, bloomItems,
          bloomFpp, firstBatchId = id)
      }
    }
  }

  /** Continuous CDC apply: one ledgered [[GraftTable.merge]] per
    * micro-batch — latest-wins on `keyCol` within and across batches,
    * file-pruned rewrites, exactly-once under redelivery (the first
    * batch bootstraps the table with its id seeded into the create
    * commit, like [[ingestStream]]). With `opCol` set, rows whose op is
    * [[DeleteOp]] are row-level TOMBSTONES: their keys are deleted from
    * the affected files and NOT re-inserted — a real change stream's
    * deletes apply as deletes, never silently as upserts. Every version
    * along the way is a consistent snapshot.
    */
  def mergeStream(rows: DataFrame, path: String, keyCol: String,
      checkpointDir: String, nFiles: Int = 0,
      keepVersions: Int = 1, opCol: String = null): Unit = {
    var handle: GraftTable = null
    IndexStream.runIndexed(rows, checkpointDir) { (batch, id) =>
      handle = streamBatch(handle, batch, path, id, Some(keyCol), opCol) {
        seed => create(seed, path, Seq(keyCol), nFiles = nFiles,
          firstBatchId = id, keepVersions = keepVersions)
      }
    }
  }

  /** One micro-batch of a table-owning stream ([[ingestStream]],
    * [[mergeStream]], the graft-table sink). The first batch CREATES the
    * table through `create`, seeded with the batch id; with `opCol` the
    * seed keeps only the upsert rows (null-safe: a NULL op upserts), and
    * a merge seed passes the batch-key contract. Every later batch is a
    * ledgered merge on `mergeKey`, or append, under the batch id. Returns
    * the ONE handle reused across micro-batches, so its per-version
    * caches serve the whole drain.
    */
  private[graft] def streamBatch(handle: GraftTable, batch: DataFrame,
      path: String, id: Long, mergeKey: Option[String], opCol: String)(
      create: DataFrame => GraftTable): GraftTable = {
    val spark = batch.sparkSession
    if (handle == null && currentVersion(spark, path).isEmpty) {
      val seed =
        if (opCol == null) batch
        else batch.filter(!(col(opCol) <=> lit(DeleteOp))).drop(opCol)
      // duplicate or null keys in batch 0 would otherwise land silently
      // and make the table's upsert state wrong from birth
      mergeKey.foreach(requireMergeContract(seed, _))
      create(seed)
    } else {
      val h = if (handle == null) new GraftTable(spark, path) else handle
      mergeKey match {
        case Some(k) => h.merge(batch, k, id, opCol)
        case None => h.append(batch, id)
      }
      h
    }
  }

  /** Reopen a committed table; all geometry comes from meta (the family
    * meta-wins rule — `open` never guesses what `create` was told).
    */
  def open(spark: SparkSession, path: String): GraftTable = {
    require(currentVersion(spark, path).nonEmpty,
      s"no committed graft-table version under $path")
    new GraftTable(spark, path)
  }

  // ------------------------------------------------------------ internals --

  /** ONE aggregate, three contract answers — row count, non-null key
    * count, distinct key count — instead of three separate Spark jobs,
    * for a stream's seed batch and a merge into a table with no non-null
    * key range; every other merge computes the same aggregate inside its
    * file probe. GraftTableSpec pins the single-job shape with a listener.
    */
  private[graft] def requireMergeContract(batch: DataFrame,
      keyCol: String): Unit = requireMergeContract(batch, Seq(keyCol))

  /** Composite form: the key is the TUPLE — every component non-null,
    * tuples unique within the batch (same single-aggregate shape).
    */
  private[graft] def requireMergeContract(batch: DataFrame,
      keyCols: Seq[String]): Unit = {
    val agg = contractAgg(keyCols)
    val stats = labeled(batch.sparkSession, "graft:merge:contract") {
      withoutAqe(batch.sparkSession) {
        batch.agg(agg.head, agg.tail: _*).head()
      }
    }
    checkContract(keyCols, stats.getLong(0), stats.getLong(1),
      stats.getLong(2))
  }

  /** The contract's three aggregate columns — row count `_n`, non-null
    * key count `_nk`, distinct key count `_nd` — which a merge's file
    * probe also computes in its own collect.
    */
  private def contractAgg(keyCols: Seq[String]): Seq[Column] = {
    val ks = keyCols.map(col)
    val allSet = ks.map(_.isNotNull).reduce(_ && _)
    Seq(count(lit(1)).as("_n"), count(when(allSet, lit(1))).as("_nk"),
      countDistinct(ks.head, ks.tail: _*).as("_nd"))
  }

  /** Throws unless `(n, nk, nd)` ([[contractAgg]]) meet the contract. */
  private def checkContract(keyCols: Seq[String], n: Long, nk: Long,
      nd: Long): Unit = {
    require(n == nk,
      s"merge keys (${keyCols.mkString(", ")}) must be non-null: " +
        s"${n - nk} null-component keys in the batch")
    require(nk == nd,
      s"merge batch keys (${keyCols.mkString(", ")}) must be unique " +
        s"within the batch ($nk rows, $nd distinct) — latest-wins is " +
        "order-dependent otherwise")
  }


  private[operators] final case class Meta(zoneCols: Seq[String],
      bloomCols: Seq[String], bloomItems: Long, bloomFpp: Double,
      types: Map[String, String], layoutCols: Seq[String],
      appliedHwm: Long, schemaDdl: String, keepVersions: Int,
      streamed: Boolean, bloomScheme: String = ZoneMap.BloomScheme,
      changeFeed: Boolean = true, keepHours: Double = -1.0) {
    def zoneMeta: ZoneMap.Meta =
      ZoneMap.Meta(zoneCols, bloomCols, bloomItems, bloomFpp, types,
        bloomScheme)
    def schema: StructType = StructType.fromDDL(schemaDdl)
  }

  /** Additive schema evolution (the public formats' mergeSchema
    * semantics): a batch column with an existing name must match the
    * stored type EXACTLY (parquet cannot re-type already-written files —
    * loud, never a silent coercion); brand-new columns append as
    * nullable, and every earlier file reads them back as null; indexed
    * (zone/bloom) columns must be present in the batch, because the new
    * generation's zone row derives from it. A batch may DROP a non-
    * indexed column — its generation's files read it back as null.
    */
  private[operators] def evolveSchema(m: Meta,
      batch: StructType): StructType = {
    val old = m.schema
    val stored = old.fields.map(f => f.name -> f.dataType).toMap
    batch.fields.foreach { f =>
      stored.get(f.name).foreach { dt =>
        require(dt == f.dataType, s"column ${f.name}: batch type " +
          s"${f.dataType.sql} conflicts with stored ${dt.sql} — " +
          "parquet files cannot re-type")
      }
    }
    (m.zoneCols ++ m.bloomCols).foreach { c =>
      require(batch.fieldNames.contains(c), s"batch must carry indexed " +
        s"column $c — the new generation's zone row derives from it")
    }
    val fresh = batch.fields.filterNot(f => stored.contains(f.name))
      .map(_.copy(nullable = true))
    StructType(old.fields ++ fresh)
  }

  private def fs(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Run commit-protocol actions without AQE: adaptive execution stages
    * every exchange as a scheduled job of its own, which is pure overhead
    * for the commit protocol's queries, whose shuffles are already sized
    * by `spark.sql.shuffle.partitions` (or, for a merge's rewrite, by the
    * number of files it replaces). Wrapped: the batch contract aggregate,
    * the manifest snapshot collect, the zone pass, and a merge's whole
    * commit — its file probe, its generation write (join, window and
    * placement shuffle in one job) and its change-slice write. Every
    * other mutation's generation write keeps AQE. The flip is a session
    * conf, so a statement running concurrently on the same session sees
    * it too. Restores the caller's setting.
    */
  private[operators] def withoutAqe[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.adaptive.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try body finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  /** The most distinct batch-key hashes a merge probes bloom sidecars
    * with; a batch with more keeps every range candidate.
    */
  private val BloomProbeCap = 1000000

  /** The rewrite partition of a row of a merge whose replaced files have
    * the zone minimums `mins` (one or more) on a key of type `dt`: the
    * number of minimums, other than the smallest, at or below `key` — so a row
    * lands in the partition of the last replaced file whose range starts
    * at or below it, rows below every range in partition 0 and above
    * every range in the last. A null key goes to 0. The minimums are
    * sorted under Catalyst's own ordering of `dt` (NaN greatest, ±0.0
    * equal, UTF-8 byte order), the one `>=` compares under, and the
    * column is a balanced CASE tree over them: O(log n) comparisons per
    * row, for every orderable type.
    */
  private[operators] def placement(key: Column, dt: DataType,
      mins: Seq[Any]): Column = {
    val bounds = mins.map(CatalystTypeConverters.createToCatalystConverter(dt))
      .sorted(PhysicalDataType.ordering(dt)).toIndexedSeq
    // the answer lies in [lo, hi]; bounds(0) never counts
    def tree(lo: Int, hi: Int): Column =
      if (lo == hi) lit(lo)
      else {
        val mid = (lo + hi + 1) / 2
        when(key >= ColumnBridge.column(Literal(bounds(mid), dt)),
          tree(mid, hi)).otherwise(tree(lo, mid - 1))
      }
    tree(0, bounds.size - 1)
  }

  private val VerRe = "v(\\d+)".r

  private def isCommitted(f: FileSystem, base: String, v: Long): Boolean =
    f.exists(new Path(s"$base/v$v/meta/_SUCCESS")) &&
      f.exists(new Path(s"$base/v$v/manifest/_SUCCESS"))

  /** Committed versions ascending — a version counts only once BOTH its
    * manifest and its meta `_SUCCESS` exist (the publish rename is
    * atomic, so both appear together; the check guards a manually-
    * truncated directory).
    */
  private def committedVersions(spark: SparkSession, base: String): Seq[Long] = {
    val f = fs(spark, base)
    val dir = new Path(base)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.filter(_.isDirectory)
      .flatMap(st => st.getPath.getName match {
        case VerRe(n) if isCommitted(f, base, n.toLong) => Some(n.toLong)
        case _ => None
      }).sorted
  }

  private[operators] def currentVersion(
      spark: SparkSession, base: String): Option[Long] =
    committedVersions(spark, base).lastOption

  /** Meta is ONE driver-sized record per version, written as a JSON blob
    * directly through the FileSystem (plus the `_SUCCESS` marker
    * [[isCommitted]] gates on): zero Spark jobs per commit, whose
    * latency is the hot axis of every DML/stream lifecycle. The meta dir
    * and its marker are atomic under the publish rename. The record is
    * required: [[readMeta]] fails naming the path when a committed
    * version has no `meta.json`.
    */
  private def writeMeta(spark: SparkSession, dir: String, m: Meta): Unit = {
    val f = fs(spark, dir)
    MetaIo.writeFile(f, new Path(dir, "meta.json"), metaJson(m))
    MetaIo.writeFile(f, new Path(dir, "_SUCCESS"), "")
  }

  private def metaJson(m: Meta): String = {
    import org.json4s.JsonDSL._
    import org.json4s.jackson.JsonMethods
    val (tc, td) = m.types.toSeq.sorted.unzip
    JsonMethods.compact(JsonMethods.render(
      ("zone_cols" -> m.zoneCols) ~ ("bloom_cols" -> m.bloomCols) ~
        ("bloom_items" -> m.bloomItems) ~ ("bloom_fpp" -> m.bloomFpp) ~
        ("type_cols" -> tc) ~ ("type_ddls" -> td) ~
        ("layout_cols" -> m.layoutCols) ~ ("applied_hwm" -> m.appliedHwm) ~
        ("schema_ddl" -> m.schemaDdl) ~ ("keep_versions" -> m.keepVersions) ~
        ("streamed" -> m.streamed) ~ ("bloom_scheme" -> m.bloomScheme) ~
        ("change_feed" -> m.changeFeed) ~ ("keep_hours" -> m.keepHours)))
  }

  private def parseMetaJson(s: String, base: String): Meta = {
    import org.json4s.DefaultFormats
    import org.json4s.jackson.JsonMethods
    implicit val fmts: DefaultFormats.type = DefaultFormats
    val j = JsonMethods.parse(s)
    val m = Meta(
      (j \ "zone_cols").extract[Seq[String]],
      (j \ "bloom_cols").extract[Seq[String]],
      (j \ "bloom_items").extract[Long],
      (j \ "bloom_fpp").extract[Double],
      (j \ "type_cols").extract[Seq[String]]
        .zip((j \ "type_ddls").extract[Seq[String]]).toMap,
      (j \ "layout_cols").extract[Seq[String]],
      (j \ "applied_hwm").extract[Long],
      (j \ "schema_ddl").extract[String],
      (j \ "keep_versions").extract[Int],
      (j \ "streamed").extract[Boolean],
      (j \ "bloom_scheme").extract[String],
      (j \ "change_feed").extract[Boolean],
      (j \ "keep_hours").extract[Double])
    requireBloomScheme(m, base)
    m
  }

  private def requireBloomScheme(m: Meta, base: String): Unit =
    require(m.bloomCols.isEmpty || m.bloomScheme == ZoneMap.BloomScheme,
      s"graft table $base has manifest blooms under hash scheme " +
        s"'${m.bloomScheme}' but this engine probes " +
        s"'${ZoneMap.BloomScheme}' — tables committed before the UTC cast " +
        "pin hashed session-local timestamp strings and can silently " +
        "false-negative on probe; rewrite the table (compact) instead of " +
        "probing it")

  private[operators] def readMeta(spark: SparkSession, base: String,
      v: Long): Meta = {
    val p = new Path(s"$base/v$v/meta/meta.json")
    parseMetaJson(MetaIo.readFile(fs(spark, base), p)
      .getOrElse(sys.error(s"graft table $base has no metadata record at $p")),
      base)
  }

  /** A table data file: a visible `.parquet` file — never a sidecar,
    * marker or hidden staging file.
    */
  private def isDataFile(p: Path): Boolean = {
    val n = p.getName
    n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
  }

  /** The bloom sidecar of data file `file` for column `c`:
    * `<generation>/_blooms/<c>/<file name>.bloom`, next to the file it
    * describes, so a shallow clone's absolute references reach their
    * source's sidecars too.
    */
  private[operators] def bloomSidecar(file: String, c: String): Path = {
    val p = new Path(file)
    new Path(p.getParent, s"_blooms/$c/${p.getName}.bloom")
  }

  /** Data file `file`'s serialized bloom of column `c` (null: the file
    * holds no non-null value of it) — one small read, uncached. A
    * missing sidecar fails naming its path.
    */
  private def readBloom(f: FileSystem, file: String, c: String): Array[Byte] = {
    val p = bloomSidecar(file, c)
    val bits = MetaIo.readBytes(f, p).getOrElse(sys.error(
      s"bloom sidecar $p is missing: data file $file has no bloom bits for $c"))
    if (bits.isEmpty) null else bits
  }

  /** The new generation's data files as (path, on-disk bytes) — the
    * byte sizes ride into the manifest so size estimation
    * ([[GraftTable!.approxStats]]) reads REAL file bytes instead of
    * guessing rows × schema width.
    */
  private def listGeneration(spark: SparkSession,
      gen: String): Seq[(String, Long)] = {
    val p = new Path(gen)
    val f = fs(spark, gen)
    if (!f.exists(p)) return Nil
    val it = f.listFiles(p, true)
    val out = Seq.newBuilder[(String, Long)]
    while (it.hasNext) {
      val st = it.next()
      if (st.isFile && isDataFile(st.getPath))
        out += ((st.getPath.toUri.getPath, st.getLen))
    }
    out.result()
  }

  /** Manifest rows of the generation `gen` just wrote, over its `files`
    * (path, bytes), from ONE collected [[ZoneMap.zoneRows]] pass — the
    * reference [[FooterStats]] answers for without a job. Each bloom
    * column's bits go to the file's sidecar ([[bloomSidecar]]) from the
    * task that aggregated them, so they never reach the driver.
    */
  private def zonePass(spark: SparkSession, gen: String,
      files: Seq[(String, Long)], schema: StructType, meta: Meta,
      label: String): Seq[Row] =
    if (files.isEmpty) Nil
    else {
      val data = spark.baseRelationToDataFrame(
        GraftFileIndex.relation(spark, gen, files, None, schema))
      val zones = 2 + 3 * meta.zoneCols.size
      val blooms = meta.bloomCols
      val conf = new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf())
      val rows = labeled(spark, label) {
        withoutAqe(spark) {
          ZoneMap.zoneRows(data, meta.zoneCols, blooms, meta.bloomItems,
            meta.bloomFpp).rdd.mapPartitions(_.map { r =>
            // input_file_name() is a URI: decode it to the listed path
            val file = new java.net.URI(r.getString(0)).getPath
            blooms.indices.foreach { i =>
              val p = bloomSidecar(file, blooms(i))
              val bits = r.getAs[Array[Byte]](zones + i)
              MetaIo.writeBytes(p.getFileSystem(conf.value), p,
                if (bits == null) Array.emptyByteArray else bits)
            }
            Row.fromSeq(file +: r.toSeq.slice(1, zones))
          }).collect()
        }
      }
      val bytes = files.toMap
      rows.toSeq.map(r => Row.fromSeq(r.toSeq :+ bytes(r.getString(0))))
    }

  /** Is `e` the SHAPE of a lost commit race rather than a conflict
    * exception proper? Under contention with a short retention window
    * (`keepVersions = 1`), a racing winner's post-commit prune can
    * delete the loser's resolved version dir MID-ATTEMPT — the loser
    * then fails with a missing-path error from a metadata read instead
    * of reaching its own publish's conflict check. Callers treat these
    * as rebasable ONLY when the head provably advanced past their base
    * version (otherwise a genuine I/O failure must surface).
    */
  private[operators] def raceArtifact(e: Throwable): Boolean = e match {
    case null => false
    case _: java.io.FileNotFoundException => true
    case _: org.apache.spark.sql.AnalysisException => true
    case se: org.apache.spark.SparkException => raceArtifact(se.getCause)
    case _ => false
  }

  private def conflict(base: String, v: Long): Nothing =
    throw new java.util.ConcurrentModificationException(
      s"graft table $base: version $v was committed by another writer — " +
        "this handle raced a concurrent mutation (single-writer contract " +
        "violated); re-open the table and retry against the new head")

  /** Process-wide manifest caches, keyed by (table root, version,
    * publisher token): a committed version's manifest is immutable and
    * the token is unique per commit ATTEMPT, so the key is stable across
    * handles AND across a table being dropped and re-created at the same
    * path (the new incarnation's commits carry fresh tokens — a stale
    * entry can never be served). Handle-scoped caches (the r17 shape)
    * missed exactly the hot case: the SQL door opens a fresh handle per
    * statement, so every statement re-collected the same file list and
    * re-aggregated the same stats as small Spark jobs. Bounded: metadata
    * strings/longs only, cleared wholesale past the cap.
    */
  private val statsCacheG = scala.collection.concurrent.TrieMap
    .empty[(String, Long, String), (Long, Long)]
  /** A committed version's manifest (schema + rows), held once
    * process-wide: the metadata every per-statement ask needs — file
    * list, size/row stats, per-column zone ranges, pruning, merge
    * range-candidacy — served from one snapshot per version instead of
    * one Spark job per ask. Every commit seeds its own version's entry
    * with the rows it wrote; a cold version costs one collect. The rows
    * are O(|files|) strings and scalars: bloom bits live in sidecars.
    */
  private val snapCacheG = scala.collection.concurrent.TrieMap
    .empty[(String, Long, String), (StructType, Array[Row])]
  private def boundCache(
      m: scala.collection.concurrent.TrieMap[(String, Long, String), _]): Unit =
    if (m.size > 4096) m.clear()

  /** Is there a committed graft table at `path`? */
  def exists(spark: SparkSession, path: String): Boolean =
    currentVersion(spark, path).isDefined

  /** Zero-copy SHALLOW CLONE (the Delta `CLONE` shape): a NEW table at
    * `destPath` whose v1 manifest references the SOURCE's data files by
    * absolute path — no data moves, zone ranges copy verbatim and the
    * blooms are the source files' own sidecars (the clone prunes exactly
    * like the source from birth), and the commit itself is
    * metadata-sized regardless of table size: cloning
    * 100 TB costs one manifest write. Copy-on-write from there: every
    * clone mutation writes its own generations under the clone root; a
    * merge/DML rewrite replaces absolute source references with
    * clone-local files for the affected stripe only, and the two tables
    * diverge file-by-file. The clone's ledger resets (hwm −1, stream
    * flag off — a clone is a new mutation lineage, like Delta's
    * transaction-id reset) and `keepVersions` is the clone's own.
    *
    * The one shared-fate caveat, same as the public formats': `vacuum`
    * on the SOURCE deletes files only the source's retained versions
    * reference — a clone holding absolute references into a vacuumed
    * source breaks. Clone from sources whose data files are stable, or
    * snapshot-copy instead. The CLONE's own vacuum is safe: it sweeps
    * only `destPath/data`, never out-of-root references.
    *
    * @param versionAsOf clone the source AS OF a retained version
    *                    (default: current head)
    */
  def shallowClone(spark: SparkSession, srcPath: String, destPath: String,
      versionAsOf: Long = -1L, keepVersions: Int = 1): GraftTable = {
    val src = open(spark, srcPath)
    val v = if (versionAsOf >= 0L) versionAsOf else src.version
    require(src.versions().contains(v),
      s"clone source version $v is not committed/retained under $srcPath " +
        s"(retained: ${src.versions().mkString(", ")})")
    require(currentVersion(spark, destPath).isEmpty,
      s"clone destination $destPath is already a graft table")
    require(fs(spark, srcPath).makeQualified(new Path(srcPath)).toUri.getPath
      != fs(spark, destPath).makeQualified(new Path(destPath)).toUri.getPath,
      "clone destination == source")
    val m = readMeta(spark, srcPath, v)
    // fully qualify BEFORE rewriting manifest refs: a relative srcPath
    // would emit refs without a leading '/', which the clone's resolve()
    // re-roots under the CLONE — breaking every read. makeQualified pins
    // the absolute form (authority-free, like every path key in this
    // engine — ZoneMap.canonical's convention).
    val srcRoot = fs(spark, srcPath)
      .makeQualified(new Path(srcPath)).toUri.getPath
    val (schema, rows) = src.manifestSnap(v)
    val fIx = schema.fieldIndex("file")
    val manifest = rows.toSeq.map { r =>
      val f = r.getString(fIx)
      Row.fromSeq(r.toSeq.updated(fIx, if (f.startsWith("/")) f else s"$srcRoot/$f"))
    }
    // a metadata-only publish whose carried rows are the whole manifest
    publishGeneration(spark, destPath, None, 1L,
      m.copy(appliedHwm = -1L, streamed = false, keepVersions = keepVersions),
      manifest, op = "clone")
    // register the clone against its SOURCE so a source vacuum/drop/
    // rename is LOUD instead of silently breaking the clone's absolute
    // references ([[GraftTable!.vacuum]]'s clone-safety check, shared by
    // the catalog's DROP/RENAME guards). Best-effort: a read-only source
    // filesystem degrades to the documented caveat.
    try registerClone(spark, srcPath, destPath)
    catch { case _: Throwable => () }
    new GraftTable(spark, destPath)
  }

  /** Register `destPath` as a live shallow clone of `srcPath` — the
    * record [[GraftTable!.vacuum]] and the catalog's DROP/RENAME guards
    * consult before an operation that would break the clone's absolute
    * manifest references. Written by [[shallowClone]]; re-written when a
    * registered clone itself moves (catalog RENAME).
    */
  private[graft] def registerClone(spark: SparkSession, srcPath: String,
      destPath: String): Unit = {
    val token = java.util.UUID.randomUUID().toString
    MetaIo.writeFile(fs(spark, srcPath), new Path(s"$srcPath/_clones/$token"),
      fs(spark, destPath).makeQualified(new Path(destPath)).toUri.getPath)
  }

  /** A commit's row-level change slice: the exact rows, provably empty
    * (a relayout or a metadata-only commit changes no rows), or left to
    * [[GraftTable.readChanges]]'s manifest diff.
    */
  private[operators] sealed trait Changes
  private[operators] object Changes {
    final case class Rows(df: DataFrame) extends Changes
    case object Empty extends Changes
    case object Diff extends Changes
  }

  /** What a mutation decides against one head: commit nothing and
    * return `result`, or publish `rows` (None = a metadata-only commit)
    * in place of the head's `replaced` files under `meta`. `replaced =
    * None` replaces every file unread, whatever the head holds: such a
    * commit's rows were not planned from the head, so it never rebases.
    */
  private[operators] sealed trait Plan[+R]
  private[operators] final case class Skip[R](result: R) extends Plan[R]
  private[operators] final case class Publish[R](rows: Option[DataFrame],
      replaced: Option[Set[String]], meta: Meta, changes: Changes, result: R)
      extends Plan[R]

  /** How a mutation consumes a batch id: `batchId = None` is the manual
    * form (high-water + 1 on every attempt), and a redelivered id
    * returns `redelivered` without planning.
    */
  private[operators] final case class Ledger[R](batchId: Option[Long],
      redelivered: R)

  /** The one rebase rule: a commit that lost its race re-plans against
    * the new head iff the winner removed none of the files it replaces
    * and did not reach its explicit batch id. `removed` is None when the
    * winner's retention pruned the base version, so the removed set is
    * unknown: an overlap, unless the commit replaces nothing.
    */
  private[operators] def rebases(replaced: Set[String],
      removed: Option[Set[String]], batchId: Option[Long],
      headHwm: Long): Boolean =
    !batchId.exists(_ <= headHwm) &&
      removed.fold(replaced.isEmpty)(r => !replaced.exists(r))

  /** The whole publish cycle for a mutation that lands `rows` as the
    * version-`v` generation. Collision-free until one atomic commit:
    * data files (and a bloom table's sidecars) land under a
    * publish-unique `data/g{v}_{token}`, the manifest (new files' zone
    * rows, paths RELATIVIZED to the table root, after the `carried` rows
    * of the previous manifest), the meta and the publisher token are
    * staged under a hidden dir, and ONE directory rename makes `v{v}`
    * visible whole. `rows = None` is a metadata-only commit: no
    * generation is written and the carried rows are the whole manifest.
    * The token read back after the rename certifies whose attempt won; a
    * loser cleans its debris and throws `ConcurrentModificationException`
    * — exactly one commit per version survives, and the winner's files
    * were never touched by the loser (no shared directories before the
    * commit point). A crash anywhere before the rename leaves the previous
    * version current and only vacuum-fodder behind; an existing
    * UNCOMMITTED `v{v}` dir can only be such a remnant (a live racer
    * stages elsewhere) and is cleared.
    */
  private[operators] def publishGeneration(spark: SparkSession, base: String,
      rows: Option[DataFrame], v: Long, meta: Meta, carried: Seq[Row],
      changes: Changes = Changes.Diff, op: String = "write"): Unit = {
    val f = fs(spark, base)
    val verDir = new Path(s"$base/v$v")
    if (isCommitted(f, base, v)) conflict(base, v)
    val token = java.util.UUID.randomUUID().toString
    if (f.exists(verDir)) {
      // an occupant that is not a committed version can only be debris —
      // but NEVER delete it in place: between an isCommitted check and a
      // delete, a racing writer may have atomically renamed its committed
      // staging dir into v{v}, and deleting that would silently lose an
      // ACKNOWLEDGED commit (the TOCTOU the conflict backstop exists to
      // prevent). Rename the occupant ASIDE atomically instead, inspect
      // it at leisure, and restore it if it turns out to be a commit we
      // raced — a genuinely torn remnant stays aside as hidden
      // vacuum-fodder. (Two-writer safe; a three-way race on one version
      // is outside the backstop's guarantee, like the public formats'.)
      val aside = new Path(s"$base/.v${v}_aside_$token")
      val moved = try f.rename(verDir, aside) catch { case _: Throwable => false }
      if (!moved) conflict(base, v) // undisplaceable occupant = a racer
      if (f.exists(new Path(aside, "meta/_SUCCESS")) &&
        f.exists(new Path(aside, "manifest/_SUCCESS"))) {
        try f.rename(aside, verDir) catch { case _: Throwable => () }
        conflict(base, v)
      }
    }
    val gen = s"$base/data/g${v}_$token"
    val files = rows.fold(Seq.empty[(String, Long)]) { r =>
      labeled(spark, s"graft:publish:generation v$v ($op)") {
        r.write.mode(SaveMode.Overwrite).parquet(gen)
      }
      listGeneration(spark, gen)
    }
    val schema = rows.fold(meta.schema)(_.schema)
    val rootNorm = new Path(base).toUri.getPath
    // root-relative storage: the committed table survives a directory
    // move/rename/DR-copy; absolute rows (legacy, or files genuinely
    // outside the root) pass through and resolve as-is on read
    def relativize(p: String): String =
      if (p.startsWith(rootNorm + "/")) p.drop(rootNorm.length + 1) else p
    // the new files' rows: from the FOOTERS the generation write just
    // produced ([[FooterStats]], the Delta/Iceberg stats-at-write idea),
    // with zero Spark jobs, wherever they prove every zone column exact;
    // otherwise, and on a bloom table (its bits need the values), from
    // one zone pass over the generation that writes the sidecars too
    val fresh = (if (meta.bloomCols.nonEmpty) None
      else FooterStats.zoneRowsFromFooters(
        spark.sparkContext.hadoopConfiguration, files, meta.zoneCols, schema))
      .getOrElse(zonePass(spark, gen, files, schema, meta,
        s"graft:publish:zones v$v ($op)"))
      .map(r => Row.fromSeq(relativize(r.getString(0)) +: r.toSeq.tail))
    // the whole manifest is on the driver: written without a Spark job,
    // and it is the new version's snapshot
    val manifestSchema = FooterStats.manifestSchema(meta.zoneCols, meta.schema)
    val manifest = carried ++ fresh
    val staging = s"$base/.v${v}_stage_$token"
    ManifestIo.write(spark, s"$staging/manifest", manifestSchema, manifest)
    writeMeta(spark, s"$staging/meta", meta)
    require(f.exists(new Path(s"$staging/meta/_SUCCESS")),
      s"meta commit left no _SUCCESS under $staging/meta — " +
        "versioned publication depends on the marker")
    // the ROW-LEVEL change slice, persisted inside the same atomic commit
    // (Delta CDF's _change_data discipline): when the mutation knows its
    // exact row-level effect — merge computes it anyway, compaction's is
    // empty by definition — the slice commits alongside the data and
    // [[GraftTable.readChanges]] serves it instead of the whole-file diff.
    // A table created with `changeFeed = false` (no feed consumers) skips
    // the persistence — and its cost: the slice DataFrame is lazy, so
    // dropping it here means the extra write job never runs — and
    // [[GraftTable.readChanges]] falls back to the file-granularity
    // manifest diff, which stays exact (just coarser).
    // `Changes.Empty` is the PROVABLY-EMPTY slice (relayouts, policy/DDL
    // commits: row-preserving by construction): a zero-byte marker file
    // replaces the empty-parquet Spark job — same feed semantics
    // ([[GraftTable.readChanges]]/[[GraftTable!.commitChanges]] serve an
    // empty slice for the version), one job less per commit.
    if (meta.changeFeed) changes match {
      case Changes.Empty =>
        MetaIo.writeFile(f, new Path(s"$staging/_changes_none"), "")
      case Changes.Rows(c) => labeled(spark, s"graft:publish:changes v$v") {
        c.write.mode(SaveMode.Overwrite).parquet(s"$staging/_changes")
      }
      case Changes.Diff => ()
    }
    // the operation marker feeds [[GraftTable.history]]; written inside
    // the staged commit so it is atomic with everything else
    MetaIo.writeFile(f, new Path(s"$staging/_op"), op)
    MetaIo.writeFile(f, new Path(s"$staging/_publisher"), token)
    // the commit point: one atomic rename publishes the version whole
    val renamed =
      try f.rename(new Path(staging), verDir)
      catch { case _: Throwable => false }
    val won = renamed &&
      MetaIo.readFile(f, new Path(verDir, "_publisher")).contains(token)
    if (!won) {
      // lost the race: remove own debris (including the rename-into-dir
      // fallback some local filesystems perform), leave the winner alone
      try f.delete(new Path(staging), true) catch { case _: Throwable => () }
      try f.delete(new Path(verDir, s".v${v}_stage_$token"), true)
      catch { case _: Throwable => () }
      try f.delete(new Path(gen), true) catch { case _: Throwable => () }
      conflict(base, v)
    }
    // the manifest just written IS the new version's snapshot: seed the
    // process-wide cache so no consumer pays the snap collect job for
    // this version (the rows equal a collect of the file, by construction)
    boundCache(snapCacheG)
    snapCacheG.put((rootNorm, v, token), (manifestSchema, manifest.toArray))
    // retention: keep the newest `keepVersions` committed versions (the
    // time-travel window); with `keepHours >= 0` a version ALSO survives
    // while its commit is younger than that many hours (the RETAIN n
    // HOURS twin operators actually configure — count-based alone prunes
    // a burst of commits instantly). Everything past BOTH windows is
    // pruned marker-first, best-effort — and only AFTER the new commit,
    // so a reader that resolved a retained version never loses it to the
    // commit itself.
    val cutoff =
      if (meta.keepHours < 0) Long.MaxValue
      else System.currentTimeMillis() - (meta.keepHours * 3600000L).toLong
    committedVersions(spark, base).sorted.dropRight(meta.keepVersions)
      .foreach { old =>
        try {
          val young = meta.keepHours >= 0 &&
            f.getFileStatus(new Path(s"$base/v$old")).getModificationTime >=
              cutoff
          if (!young) {
            f.delete(new Path(s"$base/v$old/meta/_SUCCESS"), false)
            f.delete(new Path(s"$base/v$old"), true)
          }
        } catch { case _: Throwable => () } // prune is best-effort cleanup
      }
  }
}

/** A graft table at rest. Every method resolves the CURRENT committed
  * version at call time, so a handle stays valid across its own
  * mutations and across another handle's (single writer still required
  * for mutations — a violated race is detected, not lost: see
  * [[GraftTable$]] atomicity notes).
  */
final class GraftTable private[operators] (spark: SparkSession,
    val path: String) {
  import GraftTable._

  def version: Long = currentVersion(spark, path).getOrElse(
    sys.error(s"no committed version under $path — concurrent prune?"))

  /** Committed versions ascending — the retained time-travel window
    * (bounded by the table's `keepVersions`; older versions were pruned
    * at commit time).
    */
  def versions(): Seq[Long] = committedVersions(spark, path)

  private val rootNorm = new Path(path).toUri.getPath

  /** Manifest rows store table-root-relative paths ([[publishGeneration]]);
    * absolute rows (legacy tables, out-of-root files) pass through.
    */
  private def resolve(file: String): String =
    if (file.startsWith("/")) file else s"$rootNorm/$file"

  /** Time travel: the table AS OF a retained version — its own manifest
    * and schema, immutable data files shared with every other version
    * that references them. Fails loudly on a version outside the
    * retention window rather than guessing.
    */
  def readVersion(v: Long): DataFrame = {
    require(versions().contains(v),
      s"version $v is not committed/retained under $path " +
        s"(retained: ${versions().mkString(", ")})")
    frame(v)
  }

  /** Version `v`'s data — optionally only the `stripe` of its stored
    * files, under a `schema` other than the version's own — through the
    * version-pinned [[graft.sources.GraftFileIndex]]: every table data
    * read plans through it, and the filters Catalyst pushes to the scan
    * prune the version's manifest there.
    */
  private[graft] def relation(v: Long, stripe: Option[Set[String]] = None,
      schema: Option[StructType] = None)
      : org.apache.spark.sql.execution.datasources.HadoopFsRelation = {
    // the meta is read now: a frame planned after a later commit pruned
    // version v still prunes (and reads) v's own files
    val m = readMeta(spark, path, v)
    val (s, rows) = manifestSnap(v)
    val (fIx, bIx) = (s.fieldIndex("file"), s.fieldIndex("bytes"))
    val files = rows.toSeq.map(r => (r.getString(fIx), r.getLong(bIx)))
      .filter(f => stripe.forall(_(f._1)))
      .map { case (f, bytes) => (resolve(f), bytes) }
    GraftFileIndex.relation(spark, path, files,
      Some(cnf => pruneFilesCnf(v, m, cnf)), schema.getOrElse(m.schema))
  }

  private def frame(v: Long, stripe: Option[Set[String]] = None,
      schema: Option[StructType] = None): DataFrame =
    spark.baseRelationToDataFrame(relation(v, stripe, schema))

  private def metaNow: Meta = readMeta(spark, path, version)

  /** This handle's (version → publisher token) memo — one tiny FS read
    * per version instead of one per cache lookup. Handle-scoped like the
    * single-writer contract that makes it safe.
    */
  private val tokenCache =
    scala.collection.concurrent.TrieMap.empty[Long, String]

  private def commitToken(v: Long): String =
    tokenCache.getOrElseUpdate(v,
      MetaIo.readFile(fs(spark, path), new Path(s"$path/v$v/_publisher"))
        .getOrElse(""))

  /** A committed version's manifest is IMMUTABLE — its rows are held
    * once PROCESS-WIDE ([[GraftTable.snapCacheG]]), seeded by the commit
    * that wrote them or collected once under the schema meta implies,
    * and every metadata ask (file list, stats, column ranges, pruning,
    * merge candidacy) folds over the snapshot driver-side instead of
    * running its own Spark job.
    */
  private def manifestSnap(v: Long): (StructType, Array[Row]) = {
    val key = (rootNorm, v, commitToken(v))
    GraftTable.snapCacheG.get(key).getOrElse {
      GraftTable.boundCache(GraftTable.snapCacheG)
      GraftTable.snapCacheG.getOrElseUpdate(key, {
        val m = readMeta(spark, path, v)
        val schema = FooterStats.manifestSchema(m.zoneCols, m.schema)
        labeled(spark, s"graft:manifest:snap v$v") {
          GraftTable.withoutAqe(spark) {
            (schema, spark.read.schema(schema)
              .parquet(s"$path/v$v/manifest").collect())
          }
        }
      })
    }
  }

  /** The version's file list, off the manifest snapshot. */
  private def storedFiles(v: Long): Seq[String] = {
    val (schema, rows) = manifestSnap(v)
    val ix = schema.fieldIndex("file")
    rows.toSeq.map(_.getString(ix))
  }

  /** One commit attempt against head `v`; [[commit]] releases the
    * frames the plan [[persist]]s when the attempt ends.
    */
  private final class Attempt(val v: Long, val meta: Meta) {
    private val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def persist(df: DataFrame): DataFrame = {
      held += df
      df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    def release(): Unit = held.foreach(_.unpersist(false))
  }

  /** The one commit path of every mutation but [[GraftTable.create]]:
    * resolve the head, apply the ledger, run `plan` against the head and
    * publish what it decides, carrying forward every manifest row of the
    * files it does not replace.
    *
    * OPTIMISTIC REBASE (the Delta/Iceberg retry discipline): a publish
    * that loses its race — or an attempt whose base version a winner's
    * retention pruned mid-flight — re-plans against the new head under
    * the one rule of [[GraftTable.rebases]]: iff the winner removed none
    * of the files this attempt replaces and did not reach its explicit
    * batch id, at most 10 attempts. Every re-attempt plans from the new
    * head, so the commit is serializable after the winner; a true
    * overlap, or a publish that replaces every file unread
    * (`replaced = None`), still throws `ConcurrentModificationException`.
    */
  private def commit[R](op: String, ledger: Option[Ledger[R]] = None)(
      plan: Attempt => Plan[R]): R = {
    var attempt = 0
    while (true) {
      val v = version
      var replaced = Option(Set.empty[String])
      try {
        val m = readMeta(spark, path, v)
        val id = ledger.map(_.batchId.getOrElse {
          requireManualLedgerAllowed(m, op)
          m.appliedHwm + 1
        })
        if (id.exists(_ <= m.appliedHwm)) {
          DedupIndex.log.warn(s"graft table $path: $op batch ${id.get} at " +
            s"or below the applied high-water mark ${m.appliedHwm} — " +
            "redelivery (or a non-monotone id) skipped")
          return ledger.get.redelivered
        }
        val a = new Attempt(v, m)
        try plan(a) match {
          case Skip(r) => return r
          case Publish(rows, rep, nm, changes, r) =>
            replaced = rep
            publishGeneration(spark, path, rows, v + 1,
              id.fold(nm)(i => nm.copy(appliedHwm = i)),
              rep.fold(Seq.empty[Row])(carry(v, _)), changes, op)
            return r
        } finally a.release()
      } catch {
        case e: Throwable
            if e.isInstanceOf[java.util.ConcurrentModificationException] ||
              (GraftTable.raceArtifact(e) && version > v) =>
          attempt += 1
          val head = version
          if (attempt >= 10 || !replaced.exists { rep =>
              val removed = scala.util.Try(
                storedFiles(v).toSet -- storedFiles(head)).toOption
              GraftTable.rebases(rep, removed, ledger.flatMap(_.batchId),
                readMeta(spark, path, head).appliedHwm)
            }) throw e
          DedupIndex.log.info(s"graft table $path: $op lost the v${v + 1} " +
            s"race — rebasing onto v$head (attempt $attempt)")
      }
    }
    sys.error("unreachable")
  }

  /** Version `v`'s manifest rows minus the `replaced` files, off its
    * snapshot. A racing winner's prune of v surfaces as a raceArtifact
    * [[commit]] rebases.
    */
  private def carry(v: Long, replaced: Set[String]): Seq[Row] = {
    val (s, rows) = manifestSnap(v)
    val fIx = s.fieldIndex("file")
    rows.toSeq.filterNot(r => replaced(r.getString(fIx)))
  }

  /** The files the current version references (resolved to full paths) —
    * the authoritative scan list; no directory listing happens anywhere
    * on the read path.
    */
  def files(): Seq[String] = storedFiles(version).map(resolve)

  /** Highest batch id folded in (−1 on a fresh table). */
  def lastAppliedBatch(): Long = metaNow.appliedHwm

  /** Full read of the current version. */
  def read(): DataFrame = readVersion(version)

  /** One pruning pass for version `v` under a CNF spec, through the one
    * [[ZoneMap.Pruner]] on the driver over the manifest snapshot: zero
    * Spark jobs, and one sidecar read per bloom column a Point probes,
    * for each file the zone checks keep.
    */
  private def pruneVersion(v: Long, m: Meta, cnf: ZoneMap.Cnf)
      : (Seq[String], Set[String]) = {
    val (schema, rows) = manifestSnap(v)
    pruner(schema, m, cnf).survivors(rows)
  }

  /** The [[ZoneMap.Pruner]] over manifest rows of `schema`, reading each
    * file's blooms from its sidecars.
    */
  private def pruner(schema: StructType, m: Meta,
      cnf: ZoneMap.Cnf): ZoneMap.Pruner = {
    val (f, fIx) = (fs(spark, path), schema.fieldIndex("file"))
    ZoneMap.pruner(schema, m.zoneMeta, cnf,
      Some((r, c) => readBloom(f, resolve(r.getString(fIx)), c)))
  }

  /** Zone-and-bloom-pruned scan under `preds`: the current version
    * filtered by `ZoneMap.predicate(preds)`. Catalyst hands those
    * predicates to the version's file index, which prunes the manifest
    * ([[pruneFilesCnf]] — on the driver with zero Spark jobs;
    * conservative by construction), and the exact predicate re-applies
    * on read — the result is row-identical to
    * `read().filter(ZoneMap.predicate(preds))`, pruning only changes how
    * many files open.
    */
  def scan(preds: Seq[ZoneMap.Pred]): DataFrame = {
    require(preds.nonEmpty, "GraftTable.scan needs at least one predicate")
    val v = version
    val m = readMeta(spark, path, v)
    // compiled only for its loud checks: every pred names an indexed
    // column and a value that column can hold
    pruner(manifestSnap(v)._1, m, Seq(Seq(preds)))
    frame(v).filter(ZoneMap.predicate(preds))
  }

  /** How many files a scan under `preds` would open — the observability
    * hook specs and callers use to assert pruning power without reading
    * any data.
    */
  def scanFileCount(preds: Seq[ZoneMap.Pred]): Long =
    pruneVersion(version, metaNow, Seq(Seq(preds)))._1.size.toLong

  /** The files a pruned scan of VERSION `v` must open (resolved), or
    * None when nothing in the spec can prune — the planning primitive
    * every read's [[graft.sources.GraftFileIndex]] lists through. The
    * spec is a [[ZoneMap.Cnf]] (AND across pushed filters, OR-groups
    * inside), so AND trees, OR trees and IN lists all prune: each
    * OR-group keeps the union of its disjuncts' survivors, groups
    * compose by intersection. Predicates on columns the table does not
    * index are DROPPED here, not refused — Catalyst pushes every
    * comparison filter it sees, and an unindexable check simply cannot
    * prune; per-conjunct drops and whole-group drops both WIDEN the
    * read, and the engine's re-applied residual keeps the result exact
    * ([[scan]], the hand-held API, still refuses loudly — a caller
    * naming a pred explicitly should learn it does nothing).
    */
  private def pruneFilesCnf(v: Long, m: Meta, cnf: ZoneMap.Cnf)
      : Option[Set[String]] = {
    val usable = usableCnf(m, cnf)
    if (usable.isEmpty) None
    else Some(pruneVersion(v, m, usable)._1.map(resolve).toSet)
  }

  /** Drop what the version's index cannot check from a pruning spec —
    * per-conjunct pred drops and whole-group drops, each a widening.
    */
  private def usableCnf(m: Meta, cnf: ZoneMap.Cnf): ZoneMap.Cnf = {
    val zoned = m.zoneCols.toSet
    val bloomed = m.bloomCols.toSet
    def ok(p: ZoneMap.Pred): Boolean = p match {
      case ZoneMap.Range(c, _, _) => zoned(c)
      case ZoneMap.Point(c, _) => zoned(c) || bloomed(c)
      case ZoneMap.Nulls(c, _) => zoned(c)
    }
    cnf.map(dnf => dnf.map(_.filter(ok)))
      .filter(dnf => dnf.nonEmpty && dnf.forall(_.nonEmpty))
  }

  /** Schema of version `v` — for snapshot-pinned readers. */
  private[graft] def schemaAt(v: Long): StructType =
    readMeta(spark, path, v).schema

  /** Estimated (rows, bytes) of version `v` — one metadata read over
    * the manifest. Bytes are the REAL on-disk file sizes the manifest
    * records at publish ([[GraftTable.publishGeneration]]), scaled by
    * `spark.sql.sources.fileCompressionFactor` (the engine's own knob
    * for "parquet decompresses N×"), exactly how Spark's file sources
    * size themselves — never rows × schema width, which UNDER-estimates
    * string-heavy tables (StringType.defaultSize is 20 bytes) and a
    * too-small size broadcasts what should shuffle (driver OOM, the
    * unsafe direction). Every manifest writer records `bytes` for every
    * row.
    *
    * This feeds the CBO `CatalogTable` of catalog reads; a read's plan
    * size is the same byte total, summed by its
    * [[graft.sources.GraftFileIndex]].
    *
    * A committed version's manifest is IMMUTABLE, so the answer is
    * folded once PROCESS-WIDE (see [[GraftTable.statsCacheG]]): the
    * planner asks for table statistics several times per statement (size
    * estimate, row estimate, CBO), and the SQL door opens a fresh handle
    * per statement, so a handle-scoped memo would re-pay it per
    * statement. Two longs per version, never persisted.
    */
  private[graft] def approxStats(v: Long): (Long, Long) = {
    val key = (rootNorm, v, commitToken(v))
    GraftTable.statsCacheG.get(key).getOrElse {
      GraftTable.boundCache(GraftTable.statsCacheG)
      GraftTable.statsCacheG.getOrElseUpdate(key, approxStatsUncached(v))
    }
  }

  /** Driver fold over the manifest snapshot: `sum(cnt), sum(bytes)`,
    * zero Spark jobs.
    */
  private def approxStatsUncached(v: Long): (Long, Long) = {
    val (schema, rowsArr) = manifestSnap(v)
    val cntIx = schema.fieldIndex("cnt")
    val bytesIx = schema.fieldIndex("bytes")
    var rows = 0L
    var raw = 0L
    rowsArr.foreach { r =>
      rows += (if (r.isNullAt(cntIx)) 0L else r.getLong(cntIx))
      raw += r.getLong(bytesIx)
    }
    val factor = scala.util.Try(spark.conf
      .get("spark.sql.sources.fileCompressionFactor", "1.0").toDouble)
      .getOrElse(1.0)
    val b = BigInt((raw * math.max(1.0, factor)).toLong)
    (rows, if (b > Long.MaxValue) Long.MaxValue else b.toLong)
  }

  /** Per-ZONE-COLUMN plan statistics of version `v` — ONE metadata fold
    * over the manifest: global min/max from the per-file zone ranges,
    * null count from the per-file null counts. Zero write-path cost —
    * everything falls out of statistics the manifest already carries
    * (every manifest row records min, max and nulls for every zone
    * column); NDV derivation (bounded by the integral value-range
    * width) happens in the consumer. Feeds the CBO-facing
    * `CatalogTable` [[graft.plans.GraftV2ScanStats]] synthesizes when
    * `spark.sql.cbo.enabled` is on — per-column
    * min/max/null/NDV is what lets join reordering over three or more
    * graft tables estimate instead of guess.
    *
    * @return (column, min, max, nullCount)
    */
  private[graft] def columnStats(v: Long): Seq[(String, Any, Any, Long)] = {
    val m = readMeta(spark, path, v)
    val (schema, rowsArr) = manifestSnap(v)
    // driver fold over the snapshot — min-of-mins / max-of-maxes /
    // sum-of-null-counts, null-skipping like the Spark aggregates it
    // replaces (zone values are Comparable: numerics, strings,
    // timestamps — the types [[ZoneMap]] indexes)
    def cmp(a: Any, b: Any): Int =
      a.asInstanceOf[Comparable[Any]].compareTo(b)
    m.zoneCols.map { c =>
      val mnIx = schema.fieldIndex(s"min_$c")
      val mxIx = schema.fieldIndex(s"max_$c")
      val nlIx = schema.fieldIndex(s"nulls_$c")
      var mn: Any = null
      var mx: Any = null
      var nl = 0L
      rowsArr.foreach { r =>
        if (!r.isNullAt(mnIx)) {
          val v0 = r.get(mnIx)
          if (mn == null || cmp(v0, mn) < 0) mn = v0
        }
        if (!r.isNullAt(mxIx)) {
          val v0 = r.get(mxIx)
          if (mx == null || cmp(v0, mx) > 0) mx = v0
        }
        if (!r.isNullAt(nlIx)) nl += r.getLong(nlIx)
      }
      (c, mn, mx, nl)
    }
  }

  /** Fold a batch in under `batchId`: new data files + the union
    * manifest + the advanced ledger commit as one version. Ids at or
    * below the high-water mark no-op (at-least-once redelivery re-uses
    * its ORIGINAL id — the [[MaterializedAgg.MatAgg.update]] contract;
    * ids must be monotone per table, which micro-batch ids per
    * checkpoint lineage are).
    *
    * @return true if folded, false if skipped as already applied
    */
  def append(batch: DataFrame, batchId: Long): Boolean =
    appendImpl(batch, Some(batchId))

  /** Append body: an append replaces no file, so under the one rebase
    * rule ([[commit]]) losing a race to ANY winner — another append, a
    * merge, a compaction, even one whose retention pruned the base — is
    * a false conflict, and it re-attempts against the new head. Two
    * concurrent appenders therefore BOTH commit, at contiguous versions,
    * with the exact union of their rows. The one true conflict left: an
    * explicit-id append whose id the winner's ledger already reached
    * (same checkpoint lineage racing itself) — silently skipping it as
    * "redelivery" would drop rows, so it throws. `batchId = None` (the
    * manual form) re-ledgers at high-water + 1 on every attempt.
    */
  private def appendImpl(batch: DataFrame, batchId: Option[Long]): Boolean =
    commit("append", Some(Ledger(batchId, false))) { a =>
      val evolved = GraftTable.evolveSchema(a.meta, batch.schema)
      Publish(Some(batch), Some(Set.empty),
        a.meta.copy(schemaDdl = evolved.toDDL), Changes.Diff, true)
    }

  /** A streaming checkpoint that bootstrapped this table OWNS its
    * ledger: a manual `hwm + 1` stamp could advance the high-water mark
    * past the stream's next micro-batch id, which would then no-op as
    * "redelivery" — a silent batch drop. Refuse loudly instead.
    */
  private def requireManualLedgerAllowed(m: Meta, what: String): Unit =
    require(!m.streamed,
      s"graft table $path is stream-ledgered (bootstrapped by " +
        s"ingestStream/mergeStream): an unledgered $what would stamp " +
        s"hwm + 1 = ${m.appliedHwm + 1} and could overtake the live " +
        "checkpoint's next micro-batch id, silently no-op'ing that batch " +
        "as redelivery — route the mutation through the owning stream, " +
        "or use the (…, batchId) overload only with ids from that " +
        "checkpoint's lineage")

  /** Unledgered convenience append for manual (non-stream) callers:
    * ledger id = high-water + 1. REFUSED on a stream-ledgered table —
    * see [[requireManualLedgerAllowed]]; composing manual mutations with
    * a live checkpoint lineage is exactly the silent-batch-drop foot-gun.
    */
  def append(batch: DataFrame): Unit = { appendImpl(batch, None); () }

  /** Continuous ingest: one ledgered [[append]] per micro-batch through
    * the shared [[IndexStream]] harness — the micro-batch id IS the
    * ledger id, so foreachBatch redelivery lands at or below the
    * high-water mark and no-ops: file-level exactly-once, unlike the
    * at-least-once raw-directory sink [[ZoneMap.ingestStream]] documents.
    */
  def ingestStream(rows: DataFrame, checkpointDir: String): Unit =
    IndexStream.runIndexed(rows, checkpointDir)(
      (batch, id) => { append(batch, id); () })

  /** MERGE (latest-wins upsert + row-level DELETE) at FILE granularity:
    * delete every stored row whose `keyCol` appears in `batch`, insert
    * the batch's NON-tombstone rows, and commit the result as one
    * version — rewriting ONLY the files whose zone [min, max] on
    * `keyCol` can contain a batch key. Every other file's manifest row
    * carries forward untouched, so merge cost scales with the AFFECTED
    * files, not the corpus — on a key-clustered 100 TB table a change
    * batch touches its key range's files and nothing else (the
    * pruned-rewrite idea behind the public formats' MERGE INTO).
    *
    * With `opCol` non-null, rows whose op equals [[GraftTable.DeleteOp]]
    * are TOMBSTONES (the [[Ingest.applyChanges]] convention): their keys
    * delete without re-insert, so a CDC stream's deletes apply as
    * deletes. `opCol` is consumed here and never stored. Tombstone rows
    * must still carry the indexed columns (the batch schema is one
    * schema; change streams ship key + image anyway).
    *
    * The upsert is the [[mergeSpec]] "update every matched row to the
    * whole batch row (stored columns the batch lacks go null), insert
    * the rest, delete on op", run through the same one-join body, plus
    * one rule: stored rows repeating a batch key collapse to the one
    * batch row. Each copy still feeds an `update_preimage` (or a
    * `delete`) to the change slice; the key feeds one `update_postimage`.
    *
    * Selection is conservative-by-construction: a file is skipped only
    * when its zone range provably excludes every batch key (all-null
    * zone rows exclude all non-null keys), decided by one job that
    * matches the batch keys against the manifest's ranges executor-side
    * — batch keys never visit the driver; on a bloom-keyed table the same
    * job brings their distinct hashes, and the driver probes the range
    * candidates' bloom sidecars with them.
    *
    * Contract: `keyCol` must be zone-indexed; batch keys must be
    * non-null and unique within the batch (ONE aggregate answers both —
    * this runs per micro-batch on [[mergeStream]]'s hot path; a
    * duplicated key would make "latest wins" order-dependent inside one
    * commit, and a same-batch delete+upsert of one key is ambiguous).
    * Ledgered like [[append]]: a redelivered merge no-ops.
    *
    * @return (files rewritten, files carried forward untouched)
    */
  def merge(batch: DataFrame, keyCol: String, batchId: Long,
      opCol: String): (Long, Long) =
    mergeImpl(batch, Seq(keyCol), Some(batchId), opCol, None)

  /** COMPOSITE-key [[merge]] (CDC business keys are often multi-column):
    * the key is the column TUPLE — deletes/upserts match on every
    * component — while file pruning rides the LEADING key's zone range
    * (and bloom), so make it the table's clustering axis. The leading
    * key must be zone-indexed; the batch-key contract (non-null, unique)
    * applies to the tuple.
    */
  def merge(batch: DataFrame, keyCols: Seq[String], batchId: Long,
      opCol: String): (Long, Long) =
    mergeImpl(batch, keyCols, Some(batchId), opCol, None)

  /** Manual-ledger composite-key [[merge]] with an op column. */
  def merge(batch: DataFrame, keyCols: Seq[String],
      opCol: String): (Long, Long) =
    mergeImpl(batch, keyCols, None, opCol, None)

  /** Conditional / partial-column MERGE (the public formats' WHEN MATCHED
    * AND … THEN UPDATE SET …): like [[merge]] but a MATCHED pair updates
    * only when `matchedCond` holds — written against the aliases `t`
    * (the stored row) and `s` (the batch row), e.g.
    * `col("s.ts") > col("t.ts")` — and the update writes ONLY
    * `updateCols` from the batch, preserving every other stored column
    * (`Nil` = every batch column updates; columns the batch doesn't
    * carry are ALWAYS preserved — SQL UPDATE SET semantics, unlike
    * [[merge]]'s whole-row replacement). A matched pair failing the
    * condition carries the stored row UNCHANGED (and feeds nothing to
    * the change feed); an unmatched batch row INSERTS unconditionally
    * (missing table columns null); with `opCol`, [[DeleteOp]] rows
    * tombstone unconditionally. Duplicate stored keys each update
    * independently (SQL UPDATE semantics; [[merge]]'s upsert instead
    * collapses them — the two operations differ by design).
    *
    * File pruning, the persisted row-level change slice, the ledger, the
    * batch-key contract and the optimistic rebase are all [[merge]]'s.
    */
  def mergeCond(batch: DataFrame, keyCol: String, matchedCond: Column,
      updateCols: Seq[String], opCol: String, batchId: Long): (Long, Long) =
    mergeImpl(batch, Seq(keyCol), Some(batchId), opCol,
      Some(GraftTable.MergeSpec(update = Some(matchedCond),
        updateCols = updateCols, insert = Some(lit(true)))))

  /** Manual-ledger [[mergeCond]] (id = high-water + 1, refused on a
    * stream-ledgered table).
    */
  def mergeCond(batch: DataFrame, keyCol: String, matchedCond: Column,
      updateCols: Seq[String] = Nil, opCol: String = null): (Long, Long) =
    mergeImpl(batch, Seq(keyCol), None, opCol,
      Some(GraftTable.MergeSpec(update = Some(matchedCond),
        updateCols = updateCols, insert = Some(lit(true)))))

  /** COMPOSITE-key manual-ledger [[mergeCond]] — match on the column
    * tuple, prune on the leading key (see the composite [[merge]]).
    */
  def mergeCond(batch: DataFrame, keyCols: Seq[String], matchedCond: Column,
      updateCols: Seq[String], opCol: String): (Long, Long) =
    mergeImpl(batch, keyCols, None, opCol,
      Some(GraftTable.MergeSpec(update = Some(matchedCond),
        updateCols = updateCols, insert = Some(lit(true)))))

  /** Multi-wing MERGE per `spec` ([[GraftTable.MergeSpec]]'s clause
    * algebra: conditional matched DELETE + matched UPDATE with
    * target-referencing SET expressions + conditional NOT MATCHED
    * INSERT, first-match-wins), composite keys matching on the tuple and
    * pruning on the leading key. Manual ledger (id = high-water + 1,
    * refused on a stream-ledgered table); file pruning, the change
    * slice, the batch-key contract and the optimistic rebase are all
    * [[merge]]'s. `spec.opCol` rows equal to [[GraftTable.DeleteOp]]
    * tombstone unconditionally.
    */
  def mergeSpec(batch: DataFrame, keyCols: Seq[String],
      spec: GraftTable.MergeSpec): (Long, Long) =
    mergeImpl(batch, keyCols, None, spec.opCol, Some(spec))

  private val ChangeType = "_change_type"

  /** Align `df` to the slice schema (`schema` + `_change_type`): missing
    * columns null, extras dropped — the one shape every change-slice leg
    * unions into.
    */
  private def alignSlice(df: DataFrame, schema: StructType): DataFrame = {
    val have = df.columns.toSet
    df.select((schema.fields.map(f =>
      if (have(f.name)) col(f.name)
      else lit(null).cast(f.dataType).as(f.name)) :+ col(ChangeType)): _*)
  }

  /** The shared engine behind [[merge]], [[mergeCond]] and [[mergeSpec]].
    *
    * `batchId = None` is the manual-ledger form: the id is recomputed as
    * high-water + 1 on EVERY attempt, so an optimistic rebase after a
    * lost race re-ledgers against the new head instead of colliding.
    *
    * A merge replaces its affected files, so under the one rebase rule
    * ([[commit]]) it re-attempts after a lost race iff the winner removed
    * none of them (and, for an explicit-id merge, did not reach its id);
    * a winner whose retention pruned the base version counts as an
    * overlap. A true overlap (two merges on the same key stripe, a
    * concurrent compaction) still throws
    * `ConcurrentModificationException` — rebase never papers over a
    * genuine conflict, it only removes the false ones. The re-attempt
    * recomputes EVERYTHING (affected set, carried manifest, schema
    * evolution) from the new head, so winner-added files that contain
    * batch keys are rewritten correctly.
    */
  private def mergeImpl(batch: DataFrame, keyCols: Seq[String],
      batchId: Option[Long], opCol: String,
      spec: Option[GraftTable.MergeSpec]): (Long, Long) = {
    require(keyCols.nonEmpty, "merge needs at least one key column")
    require(keyCols.distinct.size == keyCols.size,
      s"duplicate merge key columns: ${keyCols.mkString(", ")}")
    if (opCol != null)
      require(batch.columns.contains(opCol),
        s"merge op column $opCol is not in the batch: ${batch.columns.mkString(", ")}")
    val carryCols = spec.map(_.carryCols).getOrElse(Nil)
    require(carryCols.forall(batch.columns.contains),
      s"carryCols must exist in the batch: " +
        s"${carryCols.filterNot(batch.columns.contains).mkString(", ")}")
    require(spec.forall(_.updateCols.forall(batch.columns.contains)),
      s"updateCols must exist in the batch: " +
        s"${spec.map(_.updateCols.filterNot(batch.columns.contains))
          .getOrElse(Nil).mkString(", ")}")
    // the PRUNING axis: file candidacy rides the leading key's zone
    // range (and bloom) — trailing key components only join, composite
    // pruning would multiply manifest columns for little extra power
    val keyCol = keyCols.head
    // cache the batch ONCE (the Delta merge-source discipline): the
    // probe (which carries the contract aggregate) and the merge join's
    // two evaluations (rewrite, change slice) all re-evaluate the batch
    // plan otherwise — for a CDC batch built from scans+unions that is 3
    // full re-executions per commit. LAZY persist, not an eager
    // checkpoint: no extra job — the probe (the first consumer) populates
    // the cache in the pass it pays anyway; O(batch) rows in spillable
    // storage, released explicitly after the commit.
    val batch0 = batch.persist(
      org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    // null-safe: a NULL op is "any other value", i.e. an upsert — a bare
    // =!= would evaluate to null and silently drop the row while its key
    // still tombstoned through the delete set
    val isDel =
      if (opCol == null) lit(false) else col(opCol) <=> lit(DeleteOp)
    val keys = batch0.select(keyCols.map(col): _*)
    // the merge's own actions — the probe, the generation write and the
    // change-slice write — run without AQE: each is then one job, where
    // adaptive execution stages every exchange of the join, the window
    // and the placement shuffle as a job of its own
    withoutAqe(spark) {
    commit("merge", Some(Ledger(batchId, (0L, 0L)))) { a =>
      val (v, m) = (a.v, a.meta)
      require(m.zoneCols.contains(keyCol),
        s"the leading merge key $keyCol must be zone-indexed " +
          s"(zones: ${m.zoneCols.mkString(", ")})")
      // a file is affected iff SOME batch key — upsert or tombstone —
      // falls inside its zone range. The candidacy probe keeps batch
      // keys executor-side; the manifest side rides into the plan as a
      // LITERAL range array off the per-version snapshot when it fits
      // (one narrow job, no broadcast-exchange build job), and falls
      // back to a broadcast join of the snapshot beyond the literal cap
      // (a 100 TB manifest belongs in an exchange, not an expression
      // tree). Files whose zone range is all-null exclude every non-null
      // batch key — the join semantics — so they drop up front.
      val (snapSchema, snapRows) = manifestSnap(v)
      val ranges: Seq[(String, Any, Any)] = {
        val fIx = snapSchema.fieldIndex("file")
        val mnIx = snapSchema.fieldIndex(s"min_$keyCol")
        val mxIx = snapSchema.fieldIndex(s"max_$keyCol")
        snapRows.toSeq.collect {
          case r if !r.isNullAt(mnIx) && !r.isNullAt(mxIx) =>
            (r.getString(fIx), r.get(mnIx), r.get(mxIx))
        }
      }
      val litRanges: Option[Column] =
        if (ranges.isEmpty || ranges.size > 4096) None
        else scala.util.Try(array(ranges.map { case (f, mn, mx) =>
          struct(lit(f).as("f"), lit(mn).as("mn"), lit(mx).as("mx"))
        }: _*)).toOption
      def rangeCand = litRanges match {
        case Some(arr) =>
          keys.select(explode(filter(arr, r =>
              col(keyCol) >= r.getField("mn") &&
                col(keyCol) <= r.getField("mx"))).as("_r"))
            .select(col("_r.f").as("file")).distinct()
        case None =>
          import scala.jdk.CollectionConverters._
          keys.join(
              broadcast(spark.createDataFrame(ranges.map { case (f, mn, mx) =>
                Row(f, mn, mx) }.asJava, StructType(Seq(
                  snapSchema("file"), snapSchema(s"min_$keyCol").copy(name = "_mn"),
                  snapSchema(s"max_$keyCol").copy(name = "_mx"))))),
              col(keyCol) >= col("_mn") && col(keyCol) <= col("_mx"))
            .select("file").distinct()
      }
      // …tightened by the per-file bloom sidecars when the key column
      // carries them: on a hash-scattered layout every file spans the
      // full key range (min/max prunes nothing) but contains only its
      // own keys, so the bloom shrinks the rewrite set to the files that
      // might actually hold a batch key. No false negatives ⇒ exact.
      //
      // ONE collect answers the probe AND the batch-key contract: the
      // candidate file rows plus one row of the contract aggregate — on
      // a bloom key that row also brings the batch's distinct key
      // hashes, and the driver probes each candidate's sidecar with
      // them. The hashes are capped so they stay metadata-sized on the
      // driver: past the cap the range candidates stand unprobed. The
      // contract runs before any write, inside the attempt, so a
      // redelivered batch id is skipped by the ledger before it.
      val bloomed = m.bloomCols.contains(keyCol)
      val affected = labeled(spark, s"graft:merge:affected v$v") {
        if (ranges.isEmpty) { // no file, or no non-null range
          requireMergeContract(batch0, keyCols)
          Set.empty[String]
        } else {
          val agg = contractAgg(keyCols) ++ (if (!bloomed) Nil
            else Seq(slice(collect_set(ZoneMap.bloomHash(col(keyCol),
              m.schema(keyCol).dataType)), 1, BloomProbeCap + 1).as("_khs")))
          val batchRow = keys.agg(agg.head, agg.tail: _*)
          val got = rangeCand.unionByName(batchRow, allowMissingColumns = true)
            .collect()
          val (cands, stats) = got.partition(!_.isNullAt(0))
          val s = stats.head
          checkContract(keyCols, s.getAs[Long]("_n"), s.getAs[Long]("_nk"),
            s.getAs[Long]("_nd"))
          val files = cands.iterator.map(_.getString(0))
          val khs = if (bloomed) s.getSeq[Long](s.fieldIndex("_khs")) else Nil
          if (!bloomed || khs.size > BloomProbeCap) files.toSet
          else {
            val f = fs(spark, path)
            files.filter(file => ZoneMap.bloomProbe(
              readBloom(f, resolve(file), keyCol), khs).contains(true)).toSet
          }
        }
      }
      // the carried COUNT is set arithmetic over the cached file list —
      // affected ⊆ stored by construction — not a Spark job
      val carriedCount = storedFiles(v).size.toLong - affected.size
      val evolved = GraftTable.evolveSchema(m,
        StructType(batch.schema.filterNot(f =>
          f.name == opCol || carryCols.contains(f.name))))
      val stored =
        if (affected.isEmpty) None
        else Some(frame(v, Some(affected), Some(evolved)))
      // [[merge]]'s upsert: a matched row takes the whole batch row
      // (stored columns the batch lacks go null), the rest insert
      val own = batch.columns.toSeq.filterNot(_ == opCol)
      val sp = spec.getOrElse(GraftTable.MergeSpec(update = Some(lit(true)),
        updateCols = own.diff(keyCols),
        updateExprs = evolved.fieldNames.toSeq.diff(own).map(_ -> lit(null)),
        insert = Some(lit(true)), opCol = opCol))
      // feed ON: the rewrite AND the change slice read the merge join —
      // cache it once (lazily: the rewrite's own pass populates it, no
      // extra job), spillable storage proportional to the rewrite the
      // commit pays anyway, released after the attempt. Feed OFF: the
      // slice never executes, so the single lazy evaluation stays the
      // cheapest plan.
      val keep: DataFrame => DataFrame =
        if (m.changeFeed) a.persist else identity
      val (joinedRows, sliceRows) = condMerge(batch0, keyCols, isDel, opCol,
        sp, collapse = spec.isEmpty, stored, evolved, keep)
      // the join hash-partitions its output on the keys: written as is,
      // every new file would span the stripe's whole key range, and each
      // later merge touching the stripe would rewrite all of it. Placing
      // each row by the replaced files' own zone minimums instead writes
      // one key-clustered file per replaced file, from bounds the
      // snapshot already holds: no sampling job.
      val rewrittenRows =
        if (affected.isEmpty) joinedRows
        else {
          val mins = ranges.collect { case (f, mn, _) if affected(f) => mn }
          joinedRows.repartitionById(affected.size,
            placement(col(keyCol), m.schema(keyCol).dataType, mins))
        }
      Publish(Some(rewrittenRows), Some(affected),
        m.copy(schemaDdl = evolved.toDDL), Changes.Rows(sliceRows),
        (affected.size.toLong, carriedCount))
    }
    }
    } finally batch0.unpersist(false)
  }

  /** The one merge body ([[merge]], [[mergeCond]], [[mergeSpec]]): one
    * full-outer join of the affected files (`t`) with the batch (`s`).
    * Every wing condition ([[GraftTable.MergeSpec]]) evaluates row-level
    * on that join — no extra table reads, first-match-wins between the
    * matched DELETE and UPDATE wings per `deleteFirst`. `collapse` is
    * [[merge]]'s upsert rule: stored rows that repeat a batch key leave
    * for the one batch row instead of each updating. `keep` wraps the
    * join both outputs read. Returns (rewritten rows, row-level change
    * slice).
    */
  private def condMerge(batch: DataFrame, keyCols: Seq[String],
      isDel: Column, opCol: String, spec: GraftTable.MergeSpec,
      collapse: Boolean, stored: Option[DataFrame], evolved: StructType,
      keep: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    val keyCol = keyCols.head
    val s0 = batch.withColumn("_del", isDel)
    val sBatch = (if (opCol == null) s0 else s0.drop(opCol)).alias("s")
    // columns the batch can STORE: carry-only columns are visible to the
    // t/s expressions below but never insert and never evolve the schema
    val batchCols = batch.columns
      .filterNot(c => c == opCol || spec.carryCols.contains(c)).toSet
    val exprFor = spec.updateExprs.toMap
    val updateSet =
      if (spec.updateCols.nonEmpty || exprFor.nonEmpty)
        (spec.updateCols ++ exprFor.keys).toSet
      else batchCols -- keyCols
    def sCol(c: String) =
      if (batchCols(c)) col(s"s.$c")
      else lit(null).cast(evolved(c).dataType)
    // a condition-passing update writes the wing's own t/s expression for
    // exprFor columns (cast to the stored type, SQL UPDATE semantics) and
    // the batch value for the rest of updateSet
    def updVal(c: String) =
      exprFor.get(c).map(_.cast(evolved(c).dataType)).getOrElse(sCol(c))
    val insOk = spec.insert.map(c => coalesce(c, lit(false)))
      .getOrElse(lit(false))
    val uc = spec.update.map(c => coalesce(c, lit(false)))
      .getOrElse(lit(false))
    val dc = spec.delete.map(c => coalesce(c, lit(false)))
      .getOrElse(lit(false))
    stored match {
      case None =>
        val ins = sBatch.filter(!col("_del") && insOk)
        val img = ins.select(evolved.fieldNames.map(c => sCol(c).as(c)): _*)
        (img, alignSlice(img.withColumn(ChangeType, lit("insert")), evolved))
      case Some(st) =>
        // the upsert numbers each key's stored copies: the window's exchange
        // and sort on the keys are the ones the sort-merge join needs anyway
        val keyed = keyCols.map(col)
        val t =
          if (collapse) st.withColumn("_copy",
            row_number().over(Window.partitionBy(keyed: _*).orderBy(keyed: _*)))
          else st
        val joined = keep(t.alias("t").join(sBatch,
          keyCols.map(k => col(s"t.$k") === col(s"s.$k")).reduce(_ && _),
          "full_outer"))
        // batch key components are non-null (requireMergeContract) and a
        // match equates them, so the leading component's null-ness
        // identifies the wing; a stored null key rides the `t`-only wing
        val matched = col(s"t.$keyCol").isNotNull && col(s"s.$keyCol").isNotNull
        val sOnly = col(s"t.$keyCol").isNull && col(s"s.$keyCol").isNotNull
        // first-match-wins between the matched wings: the clause written
        // first claims a row passing both conditions; opCol tombstones
        // ride the delete wing unconditionally (the merge() convention)
        val doDelete = matched && (col("_del") ||
          (!col("_del") && (if (spec.deleteFirst) dc else !uc && dc)))
        val doUpdate = matched && !col("_del") &&
          (if (spec.deleteFirst) !dc && uc else uc)
        val doInsert = sOnly && !col("_del") && insOk
        // an updated copy past a key's first leaves, feeding its pre-image
        val dropCopy =
          if (collapse) doUpdate && col("t._copy") > 1 else lit(false)
        // per-column final image: insert rows take the batch value,
        // condition-passing updates take the wing's value for updateSet
        // columns, everything else (including matched rows no wing
        // claims) preserves the stored value
        val rewritten = joined
          .filter(!doDelete && !(sOnly && !doInsert) && !dropCopy)
          .select(evolved.fieldNames.map { c =>
            val out =
              if (keyCols.contains(c)) coalesce(col(s"t.$c"), col(s"s.$c"))
              else when(doInsert, sCol(c))
                .when(doUpdate && lit(updateSet(c)), updVal(c))
                .otherwise(col(s"t.$c"))
            out.as(c)
          }: _*)
        def sliceStruct(tpe: String, img: String => Column): Column =
          struct((evolved.fieldNames.map(c => img(c).as(c)) :+
            lit(tpe).as(ChangeType)): _*)
        val tImg = (c: String) => col(s"t.$c")
        val postImg = (c: String) =>
          if (keyCols.contains(c)) col(s"t.$c")
          else if (updateSet(c)) updVal(c) else col(s"t.$c")
        // the WHOLE slice in one pass over ONE evaluation of the join
        // instead of a 4-leg union re-executing it per change type: each
        // joined row contributes its 0-2 slice rows (an update emits its
        // pre+post pair) — same rows, one evaluation, one write job
        val slice = joined.select(explode(array_compact(array(
            when(doDelete, sliceStruct("delete", tImg)),
            when(doUpdate, sliceStruct("update_preimage", tImg)),
            when(doUpdate && !dropCopy,
              sliceStruct("update_postimage", postImg)),
            when(doInsert, sliceStruct("insert", sCol))))).as("_r"))
          .select((evolved.fieldNames.map(c => col(s"_r.$c")) :+
            col(s"_r.$ChangeType")): _*)
        (rewritten, slice)
    }
  }

  /** Upsert-only [[merge]] (no op column). */
  def merge(batch: DataFrame, keyCol: String, batchId: Long): (Long, Long) =
    merge(batch, keyCol, batchId, null)

  /** [[merge]] with ledger id = high-water + 1, for manual callers —
    * refused on a stream-ledgered table ([[requireManualLedgerAllowed]]);
    * the id is re-resolved on every rebase attempt, so two concurrent
    * manual mergers of DISJOINT stripes both commit.
    */
  def merge(batch: DataFrame, keyCol: String): (Long, Long) =
    mergeImpl(batch, Seq(keyCol), None, null, None)

  /** Manual [[merge]] with an op column ([[GraftTable.DeleteOp]] rows
    * tombstone); ledger id = high-water + 1, refused on a
    * stream-ledgered table.
    */
  def merge(batch: DataFrame, keyCol: String, opCol: String): (Long, Long) =
    mergeImpl(batch, Seq(keyCol), None, opCol, None)

  /** Predicate DELETE (the `DELETE FROM t WHERE …` shape): remove every
    * row satisfying `ZoneMap.predicate(preds) && extra`, rewriting ONLY
    * the files zone/bloom pruning says might hold one — `preds` drives
    * the (conservative, exact) file pruning, `extra` is an arbitrary
    * residual over the table's columns applied inside the surviving
    * files. A DML that matches no file is a NO-OP: no version commits
    * (nothing changed, the feed carries nothing). The deleted rows
    * persist as the commit's row-level change slice (`delete`), so the
    * change feed serves O(deleted), never file churn. Not ledgered —
    * the batch-id high-water mark is untouched, so predicate DML
    * composes with a live `mergeStream` the way compaction does.
    * Commit races rebase like [[merge]]: retry against the new head iff
    * the winner's rewrite set is disjoint from this DML's.
    *
    * NULL semantics are SQL DELETE's: a row where the predicate is NULL
    * is NOT deleted.
    *
    * @return (files rewritten, files carried untouched)
    */
  def delete(preds: Seq[ZoneMap.Pred], extra: Column = lit(true))
      : (Long, Long) = {
    require(preds.nonEmpty,
      "predicate DML needs at least one pruning predicate — use " +
        "Range(col) with one-sided bounds for a broad condition")
    val r = dmlImpl(preds.map(p => Seq(Seq(p))),
      ZoneMap.predicate(preds) && extra, None, filterUsable = false)
    (r.filesRewritten, r.filesCarried)
  }

  /** Predicate UPDATE (the `UPDATE t SET … WHERE …` shape): for every
    * row satisfying `ZoneMap.predicate(preds) && extra`, replace each
    * `set` column with its expression (evaluated against the row's
    * CURRENT values, all columns addressable; cast to the column's
    * stored type — DML never changes the schema); all other rows and
    * columns ride through unchanged. File pruning, the no-match no-op,
    * ledger neutrality, and race rebase are [[delete]]'s; the commit's
    * change slice is the exact `update_preimage`/`update_postimage`
    * pair set. Updating a zone or bloom column is safe — the rewritten
    * generation re-indexes.
    *
    * @return (files rewritten, files carried untouched)
    */
  def update(preds: Seq[ZoneMap.Pred], set: Map[String, Column],
      extra: Column = lit(true)): (Long, Long) = {
    require(preds.nonEmpty,
      "predicate DML needs at least one pruning predicate — use " +
        "Range(col) with one-sided bounds for a broad condition")
    require(set.nonEmpty, "update needs at least one SET column")
    val r = dmlImpl(preds.map(p => Seq(Seq(p))),
      ZoneMap.predicate(preds) && extra, Some(set), filterUsable = false)
    (r.filesRewritten, r.filesCarried)
  }


  /** The SQL front door's DML body ([[graft.plans]] routes `DELETE
    * FROM`/`UPDATE` here): `cnf` is best-effort pruning ONLY — OR/IN
    * trees prune per-disjunct and union ([[pruneFilesCnf]]'s algebra),
    * preds on non-indexed columns are dropped, an empty survivor set
    * means a full-manifest rewrite candidacy — and `extra` carries the
    * EXACT SQL condition, so correctness never depends on what pruned
    * (the [[graft.sources.GraftFileIndex]] discipline). The hand-held
    * [[delete]]/[[update]] keep their loud non-empty/indexed contract.
    */
  private[graft] def dmlWhereCnf(cnf: ZoneMap.Cnf, extra: Column,
      set: Option[Map[String, Column]]): DmlResult =
    dmlImpl(cnf, extra, set, filterUsable = true)

  /** @param cnf pruning spec ONLY (file candidacy, conservative)
    * @param extra the EXACT row condition — correctness never depends
    *              on what pruned
    * @param filterUsable drop non-indexed preds from `cnf` (the SQL
    *                     door's forgiving contract) instead of letting
    *                     the zone check refuse loudly (the hand-held
    *                     [[delete]]/[[update]] contract)
    */
  private def dmlImpl(cnf: ZoneMap.Cnf, extra: Column,
      set: Option[Map[String, Column]], filterUsable: Boolean): DmlResult =
    commit(if (set.isDefined) "update" else "delete") { a =>
      val (v, m) = (a.v, a.meta)
      set.foreach { s =>
        val bad = s.keySet -- m.schema.fieldNames.toSet
        require(bad.isEmpty,
          s"SET columns not in the table schema: ${bad.mkString(", ")}")
      }
      val usable = if (filterUsable) usableCnf(m, cnf) else cnf
      val affected =
        if (usable.isEmpty) storedFiles(v).toSet
        else pruneVersion(v, m, usable)._1.toSet
      val carriedCount = storedFiles(v).size.toLong - affected.size
      val cond = coalesce(extra, lit(false))
      // the stripe feeds the row gate, the rewrite AND (feed on) the
      // change slice — 2-3 evaluations; a LAZY persist lets the gate's
      // count populate the cache in the pass it pays anyway (no extra
      // job) and the later consumers read it back
      lazy val stored = a.persist(frame(v, Some(affected)))
      // ROW-level no-op gate, not just file-level: zone pruning is
      // conservative (a strict bound widens, a bloom false-positives),
      // so "some file survived pruning" does not mean "some row
      // matches" — and committing an identical rewrite of a 100 GB
      // stripe because k < 0 could not rule out the min_k = 0 file is
      // exactly the pointless I/O the manifest exists to avoid. The gate
      // is one COUNT of the matching rows (over the materialized
      // stripe, so it costs a cache pass, not a re-scan), which doubles
      // as the exact rows-affected report — one job without AQE, which
      // would stage the count's aggregate as three; the slice stays
      // LAZY — feed ON, the `_changes` write inside the commit evaluates
      // it once from the same materialized stripe, feed OFF it never runs.
      val matchedRows =
        if (affected.isEmpty) 0L
        else labeled(spark, s"graft:dml:gate v$v")(
          GraftTable.withoutAqe(spark)(stored.filter(cond).count()))
      if (matchedRows == 0L)
        Skip(DmlResult(0L, storedFiles(v).size.toLong, 0L))
      else {
        val (rewritten, slice) = set match {
          case None =>
            (stored.filter(!cond),
              alignSlice(stored.filter(cond)
                .withColumn(ChangeType, lit("delete")), m.schema))
          case Some(sets) =>
            def image(of: DataFrame, updated: Column) =
              of.select(m.schema.fieldNames.map { c =>
                (sets.get(c) match {
                  case Some(e) => when(updated, e.cast(m.schema(c).dataType))
                    .otherwise(col(c))
                  case None => col(c)
                }).as(c)
              }: _*)
            val pre = stored.filter(cond)
            (image(stored, cond),
              alignSlice(pre.withColumn(ChangeType, lit("update_preimage")),
                  m.schema)
                .unionByName(alignSlice(image(pre, lit(true))
                  .withColumn(ChangeType, lit("update_postimage")), m.schema)))
        }
        Publish(Some(rewritten), Some(affected), m, Changes.Rows(slice),
          DmlResult(affected.size.toLong, carriedCount, matchedRows))
      }
    }

  /** Change the table's lifecycle POLICIES — retention (`keepVersions`,
    * `keepHours`), change-feed persistence (`changeFeed`) — as ONE
    * metadata-only commit: the new version carries the whole manifest
    * forward (zero data files move) and only meta differs, so the
    * switch is atomic and time-travel-consistent like every other
    * mutation (the ALTER TABLE SET TBLPROPERTIES shape). Allowed on
    * stream-ledgered tables — the ledger is untouched. The new
    * retention applies from THIS commit's prune onward.
    */
  def setPolicies(keepVersions: Option[Int] = None,
      keepHours: Option[Double] = None,
      changeFeed: Option[Boolean] = None): Unit = {
    require(keepVersions.forall(_ >= 1),
      s"keepVersions must be >= 1: $keepVersions")
    commit("setpolicy") { a =>
      val m = a.meta
      val nm = m.copy(
        keepVersions = keepVersions.getOrElse(m.keepVersions),
        keepHours = keepHours.getOrElse(m.keepHours),
        changeFeed = changeFeed.getOrElse(m.changeFeed))
      if (nm == m) Skip(())
      else Publish(None, Some(Set.empty), nm, Changes.Empty, ())
    }
  }

  /** `ALTER TABLE … ADD COLUMN` — ADDITIVE schema evolution declared by
    * DDL instead of a write: ONE metadata-only commit widens the stored
    * schema by `cols` (forced nullable — rows written before the
    * evolution read NULL, exactly the contract when a wider append
    * evolves the schema), the whole manifest carries forward, zero data
    * files move. Re-declaring an existing column with the SAME type is
    * a no-op (idempotent migrations); a differing type refuses —
    * parquet files cannot re-type. Allowed on stream-ledgered tables —
    * the ledger is untouched.
    */
  def addColumns(cols: StructType): Unit = {
    require(cols.nonEmpty, "ADD COLUMN needs at least one column")
    commit("addcolumns") { a =>
      val m = a.meta
      val stored = m.schema.fields.map(f => f.name -> f.dataType).toMap
      cols.foreach { f =>
        stored.get(f.name).foreach { dt =>
          require(dt == f.dataType, s"column ${f.name} already exists " +
            s"with type ${dt.sql} — parquet files cannot re-type " +
            s"(ADD COLUMN declared ${f.dataType.sql})")
        }
      }
      val fresh = cols.fields.filterNot(f => stored.contains(f.name))
        .map(_.copy(nullable = true))
      if (fresh.isEmpty) Skip(())
      else Publish(None, Some(Set.empty),
        m.copy(schemaDdl = StructType(m.schema.fields ++ fresh).toDDL),
        Changes.Empty, ())
    }
  }

  /** The table's current lifecycle policies:
    * (keepVersions, keepHours, changeFeed).
    */
  def policies(): (Int, Double, Boolean) = {
    val m = metaNow
    (m.keepVersions, m.keepHours, m.changeFeed)
  }

  /** The manifest's index geometry: (zone columns, bloom columns). */
  def indexedCols(): (Seq[String], Seq[String]) = {
    val m = metaNow
    (m.zoneCols, m.bloomCols)
  }

  /** Row-level CHANGE FEED between two committed versions — Delta CDF
    * semantics, served at ROW granularity whenever the commit persisted
    * its change slice and at FILE granularity otherwise:
    *
    *  - a commit that wrote `v{w}/_changes` ([[merge]]/[[mergeCond]]
    *    persist the exact insert / delete / update_preimage /
    *    update_postimage slice they compute anyway; [[compact]]/
    *    [[zorder]] persist an EMPTY slice — a pure relayout changes no
    *    rows and feeds NOTHING) serves that slice verbatim, stamped
    *    `_commit_version = w`. A k-key merge therefore feeds O(k) rows,
    *    never the whole rewritten file.
    *  - a commit without a persisted slice (appends — their new files
    *    ARE the insert slice, so persisting one would double-write the
    *    data; `create`; legacy versions) derives it from the manifest
    *    diff: rows of files that LEFT the manifest emit as `'delete'`,
    *    rows of files that JOINED it as `'insert'`. An untouched row of
    *    a legacy-rewritten file appears as a same-version delete+insert
    *    pair of EQUAL images — consumers fold per key with
    *    latest-version-wins, counting `update_postimage` with `insert`
    *    and `update_preimage` with `delete`, and classify equal-image
    *    churn as no-op (the [[Ingest.diff]] statuses fall out: a key
    *    whose FIRST feed touch is a delete existed at the base).
    *
    * `fromVersion = 0` means "before the first commit" and is valid only
    * while version 1 is still retained; any gap (a consumed-from version
    * already pruned) fails loudly — widen `keepVersions` to the feed lag
    * you need, never guess across a gap. Columns: the `toVersion`
    * schema (additive evolution keeps every historical column), plus
    * `_change_type`, `_commit_version`.
    */
  def readChanges(fromVersion: Long, toVersion: Long): DataFrame = {
    val vs = versions()
    require(toVersion > fromVersion,
      s"readChanges needs toVersion > fromVersion: $fromVersion..$toVersion")
    require(vs.contains(toVersion),
      s"version $toVersion is not committed/retained under $path")
    require(if (fromVersion == 0L) vs.head == 1L else vs.contains(fromVersion),
      s"change feed gap: version $fromVersion is no longer retained under " +
        s"$path (retained: ${vs.mkString(", ")}) — increase keepVersions " +
        "to cover the consumer's lag")
    val m = readMeta(spark, path, toVersion)
    val f = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val sliceSchema =
      StructType(m.schema.fields :+ StructField(ChangeType, StringType))
    val fileSets = scala.collection.mutable.Map[Long, Set[String]](
      0L -> Set.empty[String])
    def fileSet(w: Long): Set[String] =
      fileSets.getOrElseUpdate(w, storedFiles(w).toSet)
    val parts = ((fromVersion + 1) to toVersion).flatMap { w =>
      if (f.exists(new Path(s"$path/v$w/_changes_none")))
        Seq.empty // provably-empty slice (relayout/policy): feeds NOTHING
      else if (f.exists(new Path(s"$path/v$w/_changes/_SUCCESS")))
        Seq(spark.read.schema(sliceSchema).parquet(s"$path/v$w/_changes")
          .withColumn("_commit_version", lit(w)))
      else {
        val prev = fileSet(w - 1)
        val cur = fileSet(w)
        // each side read through the version that lists it (version 0,
        // before the first commit, lists nothing)
        def part(of: Long, fl: Set[String], tpe: String): Option[DataFrame] =
          if (fl.isEmpty) None
          else Some(frame(of, Some(fl), Some(m.schema))
            .withColumn(ChangeType, lit(tpe))
            .withColumn("_commit_version", lit(w)))
        part(w - 1, prev -- cur, "delete") ++ part(w, cur -- prev, "insert")
      }
    }
    if (parts.isEmpty)
      readVersion(toVersion).limit(0)
        .withColumn(ChangeType, lit(""))
        .withColumn("_commit_version", lit(0L))
    else parts.reduce(_.unionByName(_))
  }

  /** [[readChanges]] up to the current head. */
  def readChanges(fromVersion: Long): DataFrame =
    readChanges(fromVersion, version)

  /** The row-level change slice commit `v` PERSISTED, or None when it
    * didn't (change feed off, appends, legacy commits) — unlike
    * [[readChanges]] this never widens to the file-granularity diff and
    * never needs `v - 1` retained, so the SQL DML commands can report
    * `num_affected_rows` off the commit they just made even under
    * `keepVersions = 1`.
    */
  def commitChanges(v: Long): Option[DataFrame] = {
    val f = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (f.exists(new Path(s"$path/v$v/_changes_none")))
      Some(emptySlice(schemaAt(v))) // marker = a persisted EMPTY slice
    else if (!f.exists(new Path(s"$path/v$v/_changes/_SUCCESS"))) None
    else Some(spark.read.schema(
      StructType(schemaAt(v).fields :+ StructField(ChangeType, StringType)))
      .parquet(s"$path/v$v/_changes"))
  }

  /** The streaming-source shape over the change feed: resolve every
    * version committed since the durable cursor under `cursorDir`,
    * invoke `f` once per commit with THAT commit's [[readChanges]] slice
    * and its version, and advance the cursor after each callback returns
    * — at-least-once per commit (a consumer crash between callback and
    * cursor write redelivers that commit, never skips one), the
    * foreachBatch discipline with versions as batch ids. A fresh cursor
    * starts after `startAfter` (0 = consume from the very first commit).
    * Single consumer per cursorDir; feed-gap rules are [[readChanges]]'s.
    *
    * `maxVersions` bounds ONE call's work (the `maxFilesPerTrigger` /
    * Delta `maxVersionsPerTrigger` analogue): a burst of commits drains
    * in bounded steps across repeated calls instead of one unbounded
    * pass; cursor semantics are unchanged, so the folded result is
    * identical at any limit.
    *
    * The cursor write is CRASH-SAFE: content lands in a temp file that
    * is renamed over the old cursor, and an unparseable cursor (a crash
    * mid-replace at worst leaves a missing file, a pre-fix truncated one
    * an empty file) falls back to `startAfter` with a loud warning —
    * redelivery, never a wedged consumer.
    *
    * @return number of commits drained this call
    */
  def drainChanges(cursorDir: String, startAfter: Long = 0L,
      maxVersions: Int = Int.MaxValue)(
      f: (DataFrame, Long) => Unit): Long = {
    require(maxVersions > 0, s"maxVersions must be positive: $maxVersions")
    val fy = new Path(cursorDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cp = new Path(s"$cursorDir/cursor")
    val raw = MetaIo.readFile(fy, cp)
    val cur = raw.flatMap(s => scala.util.Try(s.trim.toLong).toOption)
      .getOrElse {
        if (raw.isDefined) DedupIndex.log.warn(
          s"change-feed cursor $cp is unreadable (crash mid-write?) — " +
            s"falling back to startAfter=$startAfter; at-least-once " +
            "delivery means the consumer re-sees commits, never skips them")
        startAfter
      }
    val pending = versions().filter(_ > cur).take(maxVersions)
    pending.foreach { w =>
      f(readChanges(w - 1, w), w)
      val tmp = new Path(s"$cursorDir/.cursor_tmp")
      MetaIo.writeFile(fy, tmp, w.toString)
      if (fy.exists(cp)) fy.delete(cp, false)
      require(fy.rename(tmp, cp), s"cursor replace failed: $tmp -> $cp")
    }
    pending.size.toLong
  }

  /** Rewrite the table into ~`ceil(rows / targetRows)` files, optionally
    * re-sorted (range-partition + sort-within, restoring [[ZoneMap]]
    * pruning power interleaved appends destroyed — [[Compaction]]'s
    * trade) — and commit files + zones + ledger as ONE version: the
    * choreography [[Compaction]] + a fresh [[ZoneMap.build]] required
    * two calls and a staleness window for. Row-preserving by construction.
    *
    * @return (files before, files after)
    */
  def compact(targetRows: Long,
      sortCols: Seq[String] = Nil): (Long, Long) = {
    val (before, _) = relayout(None, targetRows, sortCols)
    (before, files().size.toLong)
  }

  /** REPLACE the table's rows atomically (`SaveMode.Overwrite` through
    * the SQL write path, or INSERT OVERWRITE by API): ONE commit whose
    * manifest holds only the new generation — readers switch snapshots
    * at the rename, never see a mix, and time travel keeps the replaced
    * version within retention. The change feed derives the full
    * delete-old + insert-new from the manifest diff (a replace IS that
    * change). Ledger untouched — like a relayout, a replace does not
    * consume batch ids; schema evolves additively like [[append]]. The
    * rows may be a read of this table pinned to an older version, so a
    * replace never rebases: any commit that lands while it writes makes
    * it throw `ConcurrentModificationException`.
    */
  def replace(df: DataFrame, nFiles: Int = 0): Unit = {
    val sized = if (nFiles > 0) df.repartition(nFiles) else df
    commit("overwrite") { a =>
      val evolved = GraftTable.evolveSchema(a.meta, df.schema)
      Publish(Some(sized), None, a.meta.copy(schemaDdl = evolved.toDDL),
        Changes.Diff, ())
    }
  }

  /** INCREMENTAL compaction (the `OPTIMIZE … WHERE …` shape): re-layout
    * ONLY the files whose zone stats intersect `preds` into
    * ~`ceil(stripe rows / targetRows)` files (optionally re-sorted),
    * carrying every other manifest row untouched. Row-preserving by
    * construction, commits an EMPTY change slice (a relayout feeds
    * nothing), ledger untouched. At 100 TB this is how compaction debt
    * is actually paid — stripe by stripe behind the ingest frontier,
    * never by rewriting the table ([[compact]]'s whole-table pass).
    * A stripe that prunes to nothing is a NO-OP: no version commits.
    *
    * @return (files rewritten, files carried untouched)
    */
  def compactWhere(preds: Seq[ZoneMap.Pred], targetRows: Long,
      sortCols: Seq[String] = Nil): (Long, Long) = {
    require(preds.nonEmpty, "compactWhere needs at least one predicate — " +
      "use compact() for the whole-table pass")
    relayout(Some(preds), targetRows, sortCols)
  }

  /** [[compact]] (`preds = None`: every file, and the sort columns
    * become the recorded layout) and [[compactWhere]] (the files whose
    * zone stats intersect `preds`; an empty stripe commits nothing):
    * one relayout of the stripe into ~`ceil(stripe rows / targetRows)`
    * files.
    *
    * @return (files rewritten, files carried untouched)
    */
  private def relayout(preds: Option[Seq[ZoneMap.Pred]], targetRows: Long,
      sortCols: Seq[String]): (Long, Long) = {
    require(targetRows > 0, s"targetRows must be positive: $targetRows")
    commit("compact") { a =>
      val (v, m) = (a.v, a.meta)
      val all = storedFiles(v).size.toLong
      val stripe = preds.map(p => pruneVersion(v, m, Seq(Seq(p)))._1.toSet)
      if (stripe.exists(_.isEmpty)) Skip((0L, all))
      else {
        val affected = stripe.getOrElse(storedFiles(v).toSet)
        // the manifest already records the EXACT per-file row count
        // (`cnt`): sizing the relayout folds it over the snapshot instead
        // of running a count() of the stripe
        val (s, snap) = manifestSnap(v)
        val (fIx, cIx) = (s.fieldIndex("file"), s.fieldIndex("cnt"))
        val rows = snap.iterator.filter(r => affected(r.getString(fIx)))
          .map(r => if (r.isNullAt(cIx)) 0L else r.getLong(cIx)).sum
        val n = math.max(1L, (rows + targetRows - 1) / targetRows).toInt
        val df = frame(v, stripe)
        val out =
          if (sortCols.nonEmpty)
            df.repartitionByRange(n, sortCols.map(col): _*)
              .sortWithinPartitions(sortCols.map(col): _*)
          else df.coalesce(n)
        // a pure relayout changes NO rows: an EMPTY change slice, so the
        // feed serves nothing for this commit instead of churning the
        // stripe through file-diff delete+insert pairs
        Publish(Some(out), Some(affected),
          if (preds.isEmpty) m.copy(layoutCols = sortCols) else m,
          Changes.Empty, (affected.size.toLong, all - affected.size))
      }
    }
  }

  /** The commit log over the RETAINED versions — (version, operation,
    * files), metadata-only (one marker read + one manifest count per
    * version; versions older than the retention window were pruned with
    * their markers). Every publish writes the `_op` marker; a version
    * without one fails naming the path.
    */
  def history(): DataFrame = {
    val f = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    import spark.implicits._
    versions().map { v =>
      val p = new Path(s"$path/v$v/_op")
      val op = MetaIo.readFile(f, p).getOrElse(
        sys.error(s"graft table $path has no operation marker at $p"))
      (v, op, storedFiles(v).size)
    }.toDF("version", "operation", "files")
  }

  /** Zero-row change slice under `schema` — what a row-preserving
    * relayout ([[compact]]/[[zorder]]) commits to the change feed.
    */
  private def emptySlice(schema: StructType): DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(schema.fields :+ StructField(ChangeType, StringType)))

  /** Relayout along the Z-curve of `cols` ([[Layout.zkey]] — every
    * interleaved column gets narrow per-file ranges, so the manifest
    * prunes on ANY of them) into ~`nFiles` files, committed atomically
    * like [[compact]]. Row-preserving; the layout columns are recorded
    * in meta so later opens can see how the table is clustered.
    */
  def zorder(cols: Seq[String], nFiles: Int, bits: Int = 16): Unit = {
    require(nFiles > 0, s"nFiles must be positive: $nFiles")
    commit("zorder") { a =>
      val (v, m) = (a.v, a.meta)
      val df = frame(v)
      // global (min, max) per curve column from the MANIFEST when every
      // column is zone-indexed and numeric (min-of-mins/max-of-maxes is the
      // global bound; cast monotone) — one metadata fold replaces the full
      // column-stats scan of the table. Non-indexed or non-numeric columns
      // keep the data-scan path.
      val numeric: Set[String] =
        Set("BIGINT", "INT", "SMALLINT", "TINYINT", "DOUBLE", "FLOAT")
      val manifestStats: Option[Map[String, (Double, Double)]] =
        if (cols.forall(c => m.zoneCols.contains(c) &&
            numeric(m.types.getOrElse(c, "").toUpperCase))) {
          val st = columnStats(v)
          def d(x: Any): Double = x match {
            case null => Double.NaN
            case n: Number => n.doubleValue()
            case _ => Double.NaN
          }
          val got = st.collect { case (c, mn, mx, _) if cols.contains(c) =>
            c -> (if (mn == null) (0.0, 0.0) else (d(mn), d(mx)))
          }.toMap
          if (cols.forall(c => got.get(c).exists(p =>
            !p._1.isNaN && !p._2.isNaN))) Some(got) else None
        } else None
      val key = Layout.zkey(cols,
        manifestStats.getOrElse(Layout.colStats(df, cols)), bits)
      val out = df.withColumn("__zkey", key)
        .repartitionByRange(nFiles, col("__zkey"))
        .sortWithinPartitions("__zkey")
        .drop("__zkey")
      Publish(Some(out), Some(storedFiles(v).toSet),
        m.copy(layoutCols = cols), Changes.Empty, ())
    }
  }

  /** Delete data files no committed manifest references (orphans from
    * crashed publishes, generations superseded by compaction/relayout),
    * empty generation dirs, and stale publish-staging dirs. Safe for
    * readers OF THE CURRENT VERSION; a reader still holding a
    * long-superseded version loses its files — the explicit deletion
    * window every public table format documents (Delta VACUUM).
    * Single-writer: never run concurrently with a mutation (an in-flight
    * publish's staging dir would be swept).
    *
    * CLONE SAFETY: a [[GraftTable.shallowClone]] registers itself under
    * the SOURCE's `_clones/`, and a source vacuum REFUSES while live
    * registrations exist — a clone holds absolute references into this
    * root, and sweeping a generation its manifest still pins would break
    * it SILENTLY (the shared-fate failure the public formats only
    * document). Pass `force = true` after confirming every registered
    * clone is gone or divergent, or [[unregisterClone]] the ones you
    * deleted.
    *
    * @return number of data files deleted
    */
  def vacuum(force: Boolean = false): Long = {
    val clones = registeredClones()
    require(clones.isEmpty || force,
      s"graft table $path has ${clones.size} registered shallow clone(s) " +
        s"holding absolute references into this root: " +
        s"${clones.mkString(", ")} — vacuuming the source can silently " +
        "break them. Delete/unregister the clones (unregisterClone) or " +
        "pass force = true after checking vacuumDryRun()")
    val (debris, orphanFiles, deadGens) = sweepPlan()
    val f = fs(spark, path)
    debris.foreach(p => try { f.delete(p, true); () }
      catch { case _: Throwable => () })
    deadGens.foreach { case (p, _) => try { f.delete(p, true); () }
      catch { case _: Throwable => () } }
    orphanFiles.foreach(p => try { f.delete(p, false); () }
      catch { case _: Throwable => () })
    orphanFiles.count(GraftTable.isDataFile).toLong +
      deadGens.map(_._2.toLong).sum
  }

  /** What a [[vacuum]] WOULD delete, without deleting anything — the
    * blast-radius report (`VACUUM … DRY RUN`): orphan data files,
    * superseded whole generations, and crash debris dirs, as absolute
    * paths. Run this before forcing a vacuum on a cloned source.
    */
  def vacuumDryRun(): Seq[String] = {
    val (debris, orphanFiles, deadGens) = sweepPlan()
    (debris ++ deadGens.map(_._1) ++ orphanFiles).map(_.toUri.getPath)
  }

  /** The sweep set, computed once and shared by [[vacuum]] and
    * [[vacuumDryRun]]: (crash-debris dirs, orphan data files in live
    * generations with their bloom sidecars, (dead generation dir, its
    * data-file count) pairs —
    * whole generations with zero referenced files). Orphan files inside
    * a dead generation are NOT double-listed — the generation dir
    * subsumes them; the count keeps [[vacuum]]'s files-deleted return
    * exact.
    */
  private def sweepPlan(): (Seq[Path], Seq[Path], Seq[(Path, Int)]) = {
    // every RETAINED version's manifest pins its files — time travel
    // must survive a vacuum (only unreferenced-by-anyone files go)
    val referenced = versions().flatMap(storedFiles(_).map(resolve)).toSet
    val f = fs(spark, path)
    // crashed publishes leave hidden staging/aside dirs next to the v
    // dirs, and (rarely) an UNCOMMITTED v{N} remnant — publish never
    // deletes an occupant in place (the lost-commit TOCTOU), it renames
    // it aside; a remnant that somehow stayed is cleared here, in the
    // single-writer maintenance window, where no racing commit exists
    // to lose
    val baseDir = new Path(path)
    val debris =
      if (!f.exists(baseDir)) Nil
      else f.listStatus(baseDir).toSeq.filter { st =>
        st.isDirectory && (st.getPath.getName.startsWith(".v") ||
          (st.getPath.getName match {
            case GraftTable.VerRe(n) =>
              !GraftTable.isCommitted(f, path, n.toLong)
            case _ => false
          }))
      }.map(_.getPath)
    val dataDir = new Path(s"$path/data")
    if (!f.exists(dataDir)) return (debris, Nil, Nil)
    val orphanFiles = Seq.newBuilder[Path]
    val deadGens = Seq.newBuilder[(Path, Int)]
    f.listStatus(dataDir).filter(_.isDirectory).foreach { gen =>
      val it = f.listFiles(gen.getPath, true)
      val orphans = Seq.newBuilder[Path]
      var nOrphans = 0
      var live = false
      while (it.hasNext) {
        val st = it.next()
        val p = st.getPath
        if (st.isFile && GraftTable.isDataFile(p)) {
          if (referenced(p.toUri.getPath)) live = true
          else { orphans += p; nOrphans += 1 }
        } else if (st.isFile && p.getName.endsWith(".bloom") &&
            p.getParent.getParent.getName == "_blooms") {
          // <generation>/_blooms/<c>/<data file>.bloom goes with its file
          val data = new Path(p.getParent.getParent.getParent,
            p.getName.stripSuffix(".bloom"))
          if (!referenced(data.toUri.getPath)) orphans += p
        }
      }
      if (!live) deadGens += ((gen.getPath, nOrphans)) // superseded whole
      else orphanFiles ++= orphans.result()
    }
    (debris, orphanFiles.result(), deadGens.result())
  }

  /** Shallow clones registered against THIS table as a source — the
    * destinations [[vacuum]] protects. A registration outliving its
    * clone (the clone dir was deleted wholesale) is fine to
    * [[unregisterClone]].
    */
  def registeredClones(): Seq[String] = {
    val f = fs(spark, path)
    val dir = new Path(s"$path/_clones")
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).toSeq.filter(_.isFile)
      .flatMap(st => MetaIo.readFile(f, st.getPath)).sorted
  }

  /** Roots of OTHER graft tables whose data files this table's retained
    * manifests reference by absolute path — non-empty iff this table is
    * a shallow clone that has not fully diverged from its source(s).
    * Metadata-scale (distinct manifest refs of the retained versions);
    * the catalog's RENAME/DROP use it to keep the sources' `_clones`
    * registrations pointing at the clone's current location.
    */
  def cloneSources(): Seq[String] =
    versions().flatMap(storedFiles).distinct
      .filter(_.startsWith("/"))
      .flatMap { r =>
        val i = r.indexOf("/data/g")
        if (i <= 0) None else Some(r.substring(0, i))
      }
      .distinct.filterNot(_ == rootNorm).sorted

  /** Drop `destPath`'s clone registration from this source — after the
    * clone was deleted, or deliberately accepted as divergent-enough.
    */
  def unregisterClone(destPath: String): Unit = {
    val f = fs(spark, path)
    val dir = new Path(s"$path/_clones")
    if (!f.exists(dir)) return
    val target = fs(spark, destPath)
      .makeQualified(new Path(destPath)).toUri.getPath
    f.listStatus(dir).filter(_.isFile).foreach { st =>
      if (MetaIo.readFile(f, st.getPath).contains(target))
        try { f.delete(st.getPath, false); () }
        catch { case _: Throwable => () }
    }
  }
}
