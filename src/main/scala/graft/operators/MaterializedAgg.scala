package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally maintained aggregate table — the reference's monoid
  * contract (`crawler.go:31-32`: partial fold + associative combine)
  * applied to TABLE maintenance instead of a one-shot query. A dashboard
  * aggregate over an append-only 100 TB corpus must never re-scan the
  * corpus to refresh: each arriving batch folds in as ONE batch-sized
  * partial aggregate merged with the stored state (count/sum/min/max are
  * monoids; avg derives as sum/count at read), so per-update cost is
  * batch-partial + a state-sized merge — independent of corpus history.
  *
  * Exactly-once folding over at-least-once delivery: unlike the
  * append-family indexes (where a key anti-join makes redelivery benign),
  * re-folding a batch into a SUM double-counts — there is no key to
  * guard on. The ledger is the guard: every committed version carries the
  * HIGH-WATER batch id in its meta, and [[MatAgg.update]] no-ops on any
  * id at or below it. Batch ids must be MONOTONE per table — exactly
  * what foreachBatch micro-batch ids are per checkpoint lineage, and
  * what redelivery preserves (a re-sent batch re-uses its original id,
  * never a later one) — which is what makes the guard O(1): a full
  * applied-id set would grow and rewrite linearly with stream lifetime,
  * the wrong shape for a table whose whole point is
  * history-independent update cost. State publishes as `v{n}/state` +
  * `v{n}/meta` version directories, meta written LAST and gated on its
  * `_SUCCESS` marker (the [[ComponentsIndex]] remap-v{n} discipline): a
  * crash mid-update leaves an uncommitted partial the redelivered batch
  * overwrites, never a state/ledger mismatch — the two commit atomically
  * because the ledger lives inside the version it describes.
  *
  * Determinism contract: counts, and sums over integral columns, are
  * exact — incremental == one-shot groupBy bit-for-bit at any batch
  * split (the declared oracle relies on this). Sums over doubles fold in
  * arrival order and carry the usual float-association caveat; min/max
  * are order-free for all types.
  */
object MaterializedAgg {

  /** Aggregate `df` by `groupCols` and publish version 1 at `path`:
    * per-group row count `n`, and per value column `c` its non-null
    * count `c_{c}`, sum `s_{c}`, min `mn_{c}`, max `mx_{c}`.
    */
  def build(df: DataFrame, groupCols: Seq[String], valCols: Seq[String],
      path: String): MatAgg = {
    require(groupCols.nonEmpty, "materialized aggregate needs group columns")
    val reserved = groupCols.toSet + "n"
    require(valCols.forall(c => !reserved.contains(c)),
      s"value columns $valCols collide with group columns or 'n'")
    val spark = df.sparkSession
    // a re-build at a path holding an older lifecycle must SUPERSEDE it:
    // readers resolve the highest committed version, so publishing at v1
    // under a live v3 would leave the fresh build invisible and updates
    // folding into the obsolete state
    val next = currentVersion(spark, path).getOrElse(0L) + 1
    publish(spark, path, partial(df, groupCols, valCols), next,
      groupCols, valCols, -1L)
    new MatAgg(spark, path, groupCols, valCols)
  }

  /** Reopen a maintained aggregate. Geometry (group/value columns) comes
    * from the stored meta — the family's meta-wins rule; `open` never
    * guesses what `build` was told.
    */
  def open(spark: SparkSession, path: String): MatAgg = {
    val v = currentVersion(spark, path).getOrElse(
      sys.error(s"no committed materialized-aggregate version under $path"))
    val (gc, vc, _) = readMeta(spark, path, v)
    new MatAgg(spark, path, gc, vc)
  }

  /** (group cols, value cols, applied high-water mark) of version `v`. */
  private[operators] def readMeta(spark: SparkSession, path: String,
      v: Long): (Seq[String], Seq[String], Long) = {
    import org.json4s.DefaultFormats
    implicit val fmts: DefaultFormats.type = DefaultFormats
    val j = MetaIo.read(spark, s"$path/v$v/meta")
    ((j \ "group_cols").extract[Seq[String]],
      (j \ "val_cols").extract[Seq[String]],
      (j \ "applied_hwm").extract[Long])
  }

  /** One map-side-combined hash aggregate over a frame — the monoid's
    * partial fold. Shared by build, update and the merge (merging two
    * partials re-applies the same shapes: sum of n, sum of s, min of mn,
    * max of mx), so the fold and the combine cannot drift.
    */
  private[graft] def partial(df: DataFrame, groupCols: Seq[String],
      valCols: Seq[String]): DataFrame = {
    val aggs = count(lit(1)).as("n") +: valCols.flatMap(c => Seq(
      count(col(c)).as(s"c_$c"), sum(col(c)).as(s"s_$c"),
      min(col(c)).as(s"mn_$c"), max(col(c)).as(s"mx_$c")))
    df.groupBy(groupCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  private[operators] def merge(state: DataFrame, p: DataFrame,
      groupCols: Seq[String], valCols: Seq[String]): DataFrame = {
    val aggs = sum(col("n")).as("n") +: valCols.flatMap(c => Seq(
      sum(col(s"c_$c")).as(s"c_$c"), sum(col(s"s_$c")).as(s"s_$c"),
      min(col(s"mn_$c")).as(s"mn_$c"), max(col(s"mx_$c")).as(s"mx_$c")))
    state.unionByName(p).groupBy(groupCols.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
  }

  private def fs(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val VerRe = "v(\\d+)".r

  /** Committed versions ascending — a version counts only once its
    * meta's `_SUCCESS` exists (meta is written last).
    */
  private def committedVersions(spark: SparkSession, base: String): Seq[Long] = {
    val f = fs(spark, base)
    val dir = new Path(base)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq.filter(_.isDirectory)
      .flatMap(st => st.getPath.getName match {
        case VerRe(n) if f.exists(new Path(st.getPath, "meta/_SUCCESS")) =>
          Some(n.toLong)
        case _ => None
      }).sorted
  }

  private[operators] def currentVersion(
      spark: SparkSession, base: String): Option[Long] =
    committedVersions(spark, base).lastOption

  /** Publish `state` as version `ver`: state first, meta (geometry +
    * high-water ledger) LAST so the `_SUCCESS`-gated meta commits the
    * version and its ledger atomically; then prune superseded versions,
    * marker-first, best-effort.
    */
  private def publish(spark: SparkSession, base: String, state: DataFrame,
      ver: Long, groupCols: Seq[String], valCols: Seq[String],
      appliedHwm: Long): Unit = {
    import org.json4s.JsonDSL._
    // Overwrite clears any uncommitted partial a previous crash left here
    state.write.mode(SaveMode.Overwrite).parquet(s"$base/v$ver/state")
    // driver-written JSON (zero Spark jobs; this runs per micro-batch on
    // updateStream's hot path) — MetaIo writes the _SUCCESS marker the
    // committed-version checks gate on
    MetaIo.write(spark, s"$base/v$ver/meta",
      ("group_cols" -> groupCols) ~ ("val_cols" -> valCols) ~
        ("applied_hwm" -> appliedHwm))
    val f = fs(spark, base)
    require(f.exists(new Path(s"$base/v$ver/meta/_SUCCESS")),
      s"meta commit left no _SUCCESS under $base/v$ver/meta — " +
        "versioned publication depends on the marker")
    committedVersions(spark, base).filter(_ < ver).foreach { v =>
      try {
        f.delete(new Path(s"$base/v$v/meta/_SUCCESS"), false)
        f.delete(new Path(s"$base/v$v"), true)
      } catch { case _: Throwable => () } // prune is best-effort cleanup
    }
  }

  /** A maintained aggregate at rest. Thread-compat: updates are
    * single-writer (one maintenance stream per table, the index-family
    * contract); reads are safe concurrently with updates because readers
    * resolve the highest COMMITTED version.
    */
  final class MatAgg private[MaterializedAgg] (spark: SparkSession,
      path: String, val groupCols: Seq[String], val valCols: Seq[String]) {

    private def cur: Long = currentVersion(spark, path).getOrElse(
      sys.error(s"no committed version under $path — concurrent prune?"))

    private def meta(v: Long): (Seq[String], Seq[String], Long) =
      MaterializedAgg.readMeta(spark, path, v)

    /** Highest batch id folded in (−1 before any update) — the
      * exactly-once ledger's high-water mark.
      */
    def lastAppliedBatch(): Long = meta(cur)._3

    /** Fold one batch in under `batchId`; any id at or below the
      * high-water mark no-ops (WARNed) — at-least-once redelivery cannot
      * double-count, because a redelivered batch re-uses its ORIGINAL id.
      * Ids must be monotone per table — a stream checkpoint's micro-batch
      * ids are; manual callers own the same contract (resuming a table
      * under a FRESH checkpoint restarts ids at 0 and would all be
      * skipped — one checkpoint lineage per table, like every index
      * stream here).
      *
      * @return true if folded, false if skipped as already applied
      */
    def update(batch: DataFrame, batchId: Long): Boolean = {
      val v = cur
      val (_, _, hwm) = meta(v)
      if (batchId <= hwm) {
        DedupIndex.log.warn(s"materialized aggregate $path: batch $batchId " +
          s"at or below the applied high-water mark $hwm — redelivery (or " +
          "a non-monotone id, which violates the update contract) skipped")
        false
      } else {
        val merged = merge(spark.read.parquet(s"$path/v$v/state"),
          partial(batch, groupCols, valCols), groupCols, valCols)
        publish(spark, path, merged, v + 1, groupCols, valCols, batchId)
        true
      }
    }

    /** Continuous maintenance: fold a STREAM of rows in, one ledgered
      * update per micro-batch through the shared [[IndexStream]] harness
      * — the micro-batch id IS the ledger id, so foreachBatch redelivery
      * lands at or below the high-water mark and no-ops.
      */
    def updateStream(rows: DataFrame, checkpointDir: String): Unit =
      IndexStream.runIndexed(rows, checkpointDir)(
        (batch, id) => { update(batch, id); () })

    /** The served aggregate: stored state plus derived per-column
      * averages `avg_{c}` = `s_{c}` / `c_{c}` (null when no non-null
      * values) — derived at read, never stored, because avg is not a
      * monoid.
      */
    def read(): DataFrame = {
      val st = spark.read.parquet(s"$path/v$cur/state")
      valCols.foldLeft(st)((d, c) => d.withColumn(s"avg_$c",
        when(col(s"c_$c") > 0,
          col(s"s_$c").cast("double") / col(s"c_$c"))))
    }
  }
}
