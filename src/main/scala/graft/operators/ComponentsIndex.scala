package graft.operators

import graft.sources.Sinks
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained connected components — the missing third leg
  * of continuous-ingest dedup. [[MinHashIndex]]/[[SrpEmbedIndex]] stream
  * out near-duplicate PAIRS; [[Dedup.components]] turns pairs into
  * survivor components but recomputes from the FULL pair set every run.
  * This index maintains the component assignment as pairs arrive, with
  * per-update cost bounded by the BATCH, never the corpus:
  *
  *  - `assignments` — (doc_id, comp0) APPEND-ONLY bucketed parquet: one
  *    row per ever-seen pair member, written once when first seen and
  *    never rewritten.
  *  - `remap-v{n}` — (comp0, root) tiny parquet, VERSIONED: the
  *    fully-collapsed record of every component merge since the last
  *    [[CompIndex.compact]]. Bounded by merged-component count
  *    (duplicate-pair-shaped, a vanishing fraction of docs), loaded
  *    driver-side per update like the k-means centroids — model-sized
  *    state, not data-sized. Every update PUBLISHES a new version and
  *    only then prunes the old one (`_SUCCESS`-gated, see
  *    [[CompIndex.writeRemap]]): this is the one piece of state the
  *    index rewrites per batch, so it must never be overwritten in
  *    place — a crash can at worst leave the previous version live,
  *    never lose the merge history.
  *  - the RESOLVED label of a doc is `remap.getOrElse(comp0, comp0)` —
  *    applied as one broadcast join on reads ([[CompIndex.assignments]]).
  *
  * Update math: old components are equivalence classes, so a batch of new
  * pairs can only MERGE classes — resolve each endpoint to its current
  * root (one bucketed join against assignments + the driver remap),
  * union-find over the batch-bounded root graph, fold the merges into
  * remap, and append rows for first-seen docs. The result equals
  * [[Dedup.components]] over the union of every pair ever ingested
  * (min-id labels: min over merged classes' mins IS the merged class's
  * min). INCREMENTAL deletion is out of scope by construction: removing
  * a doc can SPLIT a component, which needs the surviving pair set —
  * [[CompIndex.rebuildFrom]] closes that workflow as one call over the
  * retained pairs.
  */
final class CompIndex private[operators] (
    spark: SparkSession,
    val assignTable: String,
    val path: String,
    val buckets: Int) {

  private def loadRemap(): Map[Long, Long] =
    CompIndex.currentRemapDir(spark, path) match {
      case Some(p) => spark.read.parquet(p)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      case None => Map.empty
    }

  /** Resolved (doc_id, comp) for every pair member ever ingested —
    * comp = min id reachable through all pairs so far.
    */
  def assignments(): DataFrame = {
    spark.catalog.refreshTable(assignTable)
    val remap = loadRemap()
    if (remap.isEmpty)
      spark.table(assignTable).select(col("doc_id"), col("comp0").as("comp"))
    else {
      import spark.implicits._
      val rm = broadcast(remap.toSeq.toDF("comp0", "__root"))
      spark.table(assignTable)
        .join(rm, Seq("comp0"), "left")
        .select(col("doc_id"), coalesce(col("__root"), col("comp0")).as("comp"))
    }
  }

  /** Fold a batch of new pairs in. Endpoint resolution is one bucketed
    * join; everything after is batch-bounded driver work: the batch's
    * edges are collected into a [[Dedup.UnionFind]]. A batch above
    * [[Dedup.OneTaskEdges]] is refused rather than risk a driver OOM — a
    * corpus-sized pair set belongs in [[ComponentsIndex.build]], whose
    * [[Dedup.components]] contracts it on the executors first.
    */
  def update(newPairs: DataFrame): Unit = {
    spark.catalog.refreshTable(assignTable)
    val remap0 = loadRemap()
    val pe = newPairs
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"))
      .distinct()
      .localCheckpoint(true)
    val nPairs = pe.count()
    require(nPairs <= Dedup.OneTaskEdges,
      s"update() is for micro-batches ($nPairs edges > ${Dedup.OneTaskEdges}): " +
        "corpus-sized pair sets go through ComponentsIndex.build")
    val ids = pe.select(explode(array(col("i"), col("j"))).as("doc_id")).distinct()
    // one bucketed join answers both "current comp0" (null → the doc is
    // its own class) and "already stored" per endpoint
    val endpoint = ids
      .join(spark.table(assignTable), Seq("doc_id"), "left")
      .select(col("doc_id"), col("comp0"))
      .collect().map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val cur: Map[Long, Long] = endpoint.map { case (d, c) => d -> c.getOrElse(d) }
    def resolve0(c: Long): Long = remap0.getOrElse(c, c)
    // union-find over the batch's ROOT graph (batch-bounded)
    val uf = new Dedup.UnionFind
    pe.collect().foreach { r =>
      uf.union(resolve0(cur(r.getLong(0))), resolve0(cur(r.getLong(1))))
    }
    // compose: every historical comp0 whose current root merged points at
    // the new root; plus the merge edges themselves; fully collapsed
    val merged: Map[Long, Long] = uf.labels.filter { case (k, v) => k != v }.toMap
    val remap1 = (remap0.map { case (c0, r0) => c0 -> merged.getOrElse(r0, r0) } ++
      merged).filter { case (k, v) => k != v }
    import spark.implicits._
    // first-seen docs enter with their RESOLVED root as comp0, so they
    // need no remap entry of their own
    val toAppend = endpoint.collect { case (d, None) =>
      val r0 = resolve0(cur(d)); (d, merged.getOrElse(r0, r0))
    }.toSeq.sortBy(_._1)
    // remap BEFORE append: if the update dies between the two writes, an
    // at-least-once re-delivery finds the merges already recorded (the
    // recompute derives no new ones — compose is idempotent) and the
    // first-seen docs still absent, so it re-appends exactly them; the
    // reverse order would re-append docs that already have rows
    CompIndex.writeRemap(spark, path, remap1)
    if (toAppend.nonEmpty)
      toAppend.toDF("doc_id", "comp0")
        .repartition(buckets, col("doc_id"))
        .write.mode(SaveMode.Append)
        .bucketBy(buckets, "doc_id")
        .saveAsTable(assignTable)
    // every consumer (count, endpoint join, edge collect) is done — a
    // long-lived updateStream must not accumulate checkpoint blocks
    pe.unpersist()
    ()
  }

  /** Continuous assignment maintenance: drive a STREAM of (i, j) pairs —
    * e.g. the `pairsDir` a [[MinHashIndex.probeStream]] appends to, read
    * back as a file stream — through [[update]] per micro-batch. After
    * any prefix of batches, [[assignments]] equals the batch
    * [[Dedup.components]] closure over the pairs delivered so far
    * (update order cannot matter: merges commute). Re-delivered batches
    * are absorbed by the update's idempotent write order.
    */
  def updateStream(pairs: DataFrame, checkpointDir: String): Unit =
    IndexStream.run(pairs, checkpointDir)(update(_))

  /** Number of docs carrying an assignment (pair members ever seen). */
  def assignedDocs(): Long = {
    spark.catalog.refreshTable(assignTable)
    spark.table(assignTable).count()
  }

  /** Close the retraction workflow this index cannot do incrementally:
    * deleting a doc can SPLIT a component, and splits need the SURVIVING
    * pair set (class doc, line 30). One call re-runs the batch
    * [[Dedup.components]] closure over `pairs` — e.g. the probeStream
    * `pairsDir` anti-joined against the retracted ids — into a fresh
    * index at `toPath`, re-pointing the same catalog table, so
    * delete-then-rebuild is a supported cycle here exactly as
    * [[MinHashIndex.delete]]/[[SrpEmbedIndex.delete]] support it on the
    * pair-generation side. The old directory is the caller's to drop.
    */
  def rebuildFrom(pairs: DataFrame, toPath: String): CompIndex = {
    require(toPath != path, s"rebuild target must differ from current path: $path")
    ComponentsIndex.buildAt(spark, pairs, toPath, assignTable, buckets)
  }

  /** Fold the remap into the assignments: rewrite resolved labels as the
    * new comp0 baseline into `toPath` (one file per bucket — doubles as
    * small-file maintenance for the appended rows) and reset remap to
    * empty. Reads parquet files, not the table being redefined.
    * `newBuckets` > 0 RE-BUCKETS during the fold — the same deliberate
    * geometry evolution as [[MinHashIndex.compact]].
    */
  def compact(toPath: String, newBuckets: Int = 0): CompIndex = {
    require(toPath != path, s"compact target must differ from current path: $path")
    require(newBuckets >= 0,
      s"newBuckets must be positive, or 0 to keep the current count: $newBuckets")
    val b = if (newBuckets > 0) newBuckets else buckets
    val remap = loadRemap()
    import spark.implicits._
    val base = spark.read.parquet(s"$path/assignments")
    val resolved =
      if (remap.isEmpty) base
      else base.join(broadcast(remap.toSeq.toDF("comp0", "__root")), Seq("comp0"), "left")
        .select(col("doc_id"), coalesce(col("__root"), col("comp0")).as("comp0"))
    Sinks.bucketed(
      resolved.select(col("doc_id"), col("comp0"))
        .repartition(b, col("doc_id")),
      assignTable, s"$toPath/assignments", b, Seq("doc_id"))
    CompIndex.writeBucketsMeta(spark, toPath, b)
    CompIndex.writeRemap(spark, toPath, Map.empty)
    new CompIndex(spark, assignTable, toPath, b)
  }
}

object ComponentsIndex {

  /** Build from an initial pair set: [[Dedup.components]] labels become
    * the assignments baseline; remap starts empty.
    */
  def build(
      pairs: DataFrame, path: String, name: String,
      buckets: Int = 32): CompIndex =
    buildAt(pairs.sparkSession, pairs, path, s"${name}_comp", buckets)

  private[operators] def buildAt(
      spark: SparkSession, pairs: DataFrame, path: String,
      table: String, buckets: Int): CompIndex = {
    Sinks.bucketed(
      Dedup.components(pairs)
        .select(col("doc_id"), col("comp").as("comp0"))
        .repartition(buckets, col("doc_id")),
      table, s"$path/assignments", buckets, Seq("doc_id"))
    CompIndex.writeBucketsMeta(spark, path, buckets)
    CompIndex.writeRemap(spark, path, Map.empty)
    new CompIndex(spark, table, path, buckets)
  }

  /** Re-open an existing index (one tiny meta read, no corpus work). The
    * bucket count loads from the required meta (a guessed count would
    * make update's append throw and compact silently re-bucket).
    */
  def open(spark: SparkSession, name: String, path: String): CompIndex =
    new CompIndex(spark, s"${name}_comp", path,
      CompIndex.readBucketsMeta(spark, path))
}

private object CompIndex {
  import org.apache.hadoop.fs.{FileSystem, Path}

  /** Storage geometry beside the data, so open() never guesses the bucket
    * count (the DedupIndex rule).
    */
  private[operators] def writeBucketsMeta(
      spark: SparkSession, path: String, buckets: Int): Unit = {
    import org.json4s.JsonDSL._
    MetaIo.write(spark, s"$path/meta", "buckets" -> buckets)
  }

  /** The required bucket count — a missing, corrupt or transiently
    * unreadable meta FAILS the open instead of letting the next compact
    * cement a guessed geometry.
    */
  private[operators] def readBucketsMeta(
      spark: SparkSession, path: String): Int = {
    import org.json4s.DefaultFormats
    implicit val fmts: DefaultFormats.type = DefaultFormats
    (MetaIo.read(spark, s"$path/meta") \ "buckets").extract[Int]
  }

  private def fs(spark: SparkSession, p: String): FileSystem =
    new Path(p).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private val VerRe = "remap-v(\\d+)".r

  /** Committed remap versions under the index directory, ascending. A
    * version counts only once its `_SUCCESS` marker exists — the
    * committer writes the marker LAST, so a write torn by a crash is
    * invisible here by construction. This is what makes remap updates
    * crash-safe: the PREVIOUS version is never touched until the next one
    * is fully committed (the old single-dir SaveMode.Overwrite deleted
    * the live remap before writing its replacement — a crash inside that
    * window lost the entire historical merge record while `assignments`
    * kept its stale comp0 values).
    */
  private def committedVersions(spark: SparkSession, base: String): Seq[Long] = {
    val f = fs(spark, base)
    val dir = new Path(base)
    if (!f.exists(dir)) Seq.empty
    else f.listStatus(dir).toSeq
      .filter(_.isDirectory)
      .flatMap(st => st.getPath.getName match {
        case VerRe(n) if f.exists(new Path(st.getPath, "_SUCCESS")) => Some(n.toLong)
        case _ => None
      })
      .sorted
  }

  /** The LIVE remap directory: highest committed version, or None for
    * "no remap yet" (empty map).
    */
  private[operators] def currentRemapDir(
      spark: SparkSession, base: String): Option[String] =
    committedVersions(spark, base).lastOption.map(v => s"$base/remap-v$v")

  /** Publish a new remap state: write version current+1 (Overwrite clears
    * any uncommitted partial a previous crash left at that number), then
    * prune superseded versions — `_SUCCESS` FIRST, so a crash mid-prune
    * can never leave a half-deleted directory looking live. Readers
    * resolve through [[currentRemapDir]] and therefore always see either
    * the old state or the new one, never a partial.
    */
  private[operators] def writeRemap(
      spark: SparkSession, base: String, remap: Map[Long, Long]): Unit = {
    import spark.implicits._
    val old = committedVersions(spark, base)
    val next = if (old.isEmpty) 1L else old.last + 1
    remap.toSeq.sortBy(_._1).toDF("comp0", "root")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite).parquet(s"$base/remap-v$next")
    val f = fs(spark, base)
    // the whole scheme keys off the commit marker — fail LOUDLY if a
    // non-default committer config suppressed it, because the version
    // just written would otherwise be silently invisible
    require(f.exists(new Path(s"$base/remap-v$next/_SUCCESS")),
      s"parquet commit left no _SUCCESS under $base/remap-v$next " +
        "(mapreduce.fileoutputcommitter.marksuccessfuljobs disabled?) — " +
        "versioned remap publication depends on the marker")
    old.map(v => s"$base/remap-v$v").foreach { p =>
      try {
        val d = new Path(p)
        if (f.exists(d)) {
          f.delete(new Path(d, "_SUCCESS"), false)
          f.delete(d, true)
        }
      } catch { case _: Throwable => () } // prune is best-effort cleanup
    }
  }
}
