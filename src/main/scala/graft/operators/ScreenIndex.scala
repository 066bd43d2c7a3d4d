package graft.operators

import graft.sources.Sinks
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent contamination screen — [[Dedup.crossJaccardPairs]] with the
  * benchmark side AT REST. Decontamination runs the same R-S question
  * against every arriving corpus batch ("does this batch overlap any
  * benchmark item at Jaccard ≥ t?"), and re-deriving the benchmark's
  * shingle sets, document frequencies, and PPJoin prefixes per batch is
  * corpus-state work a continuous pipeline should pay ONCE. This index
  * materializes all three as bucketed parquet:
  *
  *  - `sets`   (doc_id, hs)        bucketed on doc_id — exact verification;
  *  - `prefix` (doc_id, h, rk, n)  bucketed on h — the candidate fetch;
  *  - `dford`  (h, df)             bucketed on h — the FROZEN canonical order.
  *
  * The cross-side prefix theorem needs both sides ranked by ONE total
  * order. At build it is (df over the benchmark, ties by hash); the
  * order is then FROZEN: probes rank their shingles by looking up the
  * stored df (unseen shingles get df = 0 — they sort first, and cannot
  * produce candidates anyway since no stored posting carries them), and
  * [[append]] indexes new benchmark docs under the same frozen order
  * rather than re-ranking the world. Correctness never depends on WHICH
  * total order is in force — only that it is shared — so a drifted order
  * costs pruning quality, not pairs; [[needsRebuild]] trips when the
  * benchmark has grown past a tolerance and [[rebuild]] re-derives the
  * order from the STORED sets (no original text needed) into a fresh
  * path, the [[EmbedIndex]] rebuild contract.
  *
  * The screen threshold is BUILD geometry (prefix lengths depend on it)
  * and lives in meta — `open` takes no geometry arguments, the family
  * rule, so an open cannot probe under prefixes cut for a different
  * threshold.
  *
  * Probe cost: batch-shaped tokenize + one bucketed-side join per stage —
  * never benchmark-rescan-shaped; candidates are prefix×prefix on a
  * shared shingle with the exact-arithmetic positional filter, then
  * exact-verified, so output equals [[Dedup.crossJaccardPairs]] on the
  * same inputs (spec-pinned).
  */
class ScreenIndex private[operators] (
    spark: SparkSession,
    val setsTable: String,
    val prefixTable: String,
    val dfordTable: String,
    val path: String,
    val buckets: Int,
    val shingleN: Int,
    private[operators] val tNum: Long,
    private[operators] val tDen: Long) {

  import ScreenIndex.writeMeta

  def threshold: Double = tNum.toDouble / tDen

  def indexedDocs(): Long = {
    spark.catalog.refreshTable(setsTable)
    spark.table(setsTable).count()
  }

  private def refreshAll(): Unit =
    Seq(setsTable, prefixTable, dfordTable)
      .foreach(spark.catalog.refreshTable)

  /** Shingle-hash the batch once (the [[Dedup.hashedSets]] kernel). */
  private def keyed(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
      graft.plans.ShingleHashes.shingleHashes(col(textCol), shingleN).as("hs"))

  /** PPJoin prefixes of a (doc_id, hs) frame under the FROZEN order:
    * stored df joined in, absent shingles ranked df = 0.
    */
  private def prefixesOf(sess: SparkSession, sets: DataFrame): DataFrame = {
    val sh = Dedup.explodedHashes(sets)
    val ranked = sh.join(sess.table(dfordTable), Seq("h"), "left")
      .select(col("doc_id"), col("h"), coalesce(col("df"), lit(0L)).as("df"))
    Dedup.ppjoinPrefixes(
      ranked.select(col("doc_id"), col("h")),
      ranked.select(col("h"), col("df")).distinct(),
      tNum, tDen)
  }

  /** Screen a batch against the benchmark: every (batch doc, benchmark
    * doc) pair with exact shingle-Jaccard ≥ the built threshold —
    * `(i = batch doc, j = benchmark doc, jac)`. Strictly cross-side:
    * the batch is never self-joined and the benchmark never re-joined.
    */
  def probe(batch: DataFrame, idCol: String, textCol: String): DataFrame =
    probeTracked(batch, idCol, textCol)._1

  /** [[probe]] plus a cleanup thunk for the one localCheckpointed
    * intermediate (the batch's shingle sets, shared by the prefix and
    * verify stages) — the [[DedupIndex.probeTracked]] contract: one-shot
    * callers can let the driver's ContextCleaner reclaim it, a per-batch
    * loop MUST call the thunk or park a block per micro-batch.
    */
  private[operators] def probeTracked(
      batch: DataFrame, idCol: String, textCol: String): (DataFrame, () => Unit) = {
    // resolve through the session doing the probing (foreachBatch runs
    // in a cloned session whose relation cache is invalidated only by
    // its own writes — the DedupIndex.probeTracked rule)
    val sess = batch.sparkSession
    Seq(setsTable, prefixTable, dfordTable).foreach(sess.catalog.refreshTable)
    val bSets = keyed(batch, idCol, textCol).localCheckpoint(true)
    // candidates: batch prefix × stored prefix on a shared shingle.
    // distinct() also sheds duplicate stored prefix rows a torn append
    // redelivery can leave (sets is the guard table, written last)
    val candidates = prefixesOf(sess, bSets).as("a")
      .join(sess.table(prefixTable).as("b"),
        col("a.h") === col("b.h") && Dedup.ppjoinPositional(tNum, tDen))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
    val result = candidates
      .join(bSets.as("si"), col("i") === col("si.doc_id"))
      .join(sess.table(setsTable).as("sj"), col("j") === col("sj.doc_id"))
      .select(col("i"), col("j"),
        graft.plans.SortedJaccard(col("si.hs"), col("sj.hs")).as("jac"))
      .filter(col("jac") >= lit(tNum.toDouble / tDen))
      .select(col("i"), col("j"), round(col("jac"), 3).as("jac"))
    (result, () => { bSets.unpersist(); () })
  }

  /** Continuous screening: one [[probe]] per micro-batch, cumulative
    * pairs appended to `pairsDir` (at-least-once may re-append — callers
    * dedupe on read, the [[IndexStream]] rule). The index is static
    * during a probe stream, so cumulative pairs are arrival-form blind:
    * the union over any batch chopping equals the one-shot batch screen.
    */
  def probeStream(batch: DataFrame, idCol: String, textCol: String,
      pairsDir: String, checkpointDir: String): Unit =
    IndexStream.run(batch, checkpointDir) { b =>
      val (pairs, cleanup) = probeTracked(b, idCol, textCol)
      try pairs.write.mode(SaveMode.Append).parquet(pairsDir)
      finally cleanup()
    }

  /** Fold new benchmark docs in under the FROZEN order — guarded on the
    * sets table (written LAST, so a torn append leaves orphan prefix
    * rows that redelivery re-writes and [[probe]]'s distinct sheds).
    * Growth under a frozen order degrades pruning, never pairs —
    * [[needsRebuild]] is the trip wire.
    *
    * @return documents actually appended; a full redelivery returns 0
    */
  def append(docs: DataFrame, idCol: String, textCol: String): Long = {
    val sess = docs.sparkSession
    Seq(setsTable, prefixTable, dfordTable).foreach(sess.catalog.refreshTable)
    GuardedAppend(sess, keyed(docs, idCol, textCol),
      "doc_id", setsTable, "document") { kept =>
      prefixesOf(sess, kept).write.mode(SaveMode.Append)
        .bucketBy(buckets, "h").saveAsTable(prefixTable)
      kept.write.mode(SaveMode.Append)
        .bucketBy(buckets, "doc_id").saveAsTable(setsTable)
    }
  }

  /** Has the benchmark outgrown its frozen order? True once the corpus
    * exceeds the built size by more than `tolerance` (growth dilutes the
    * stored df ranks — prefixes stop carrying the rarest shingles and
    * candidate volume creeps; correctness is unaffected by construction).
    */
  def needsRebuild(tolerance: Double = 0.5): Boolean = {
    require(tolerance >= 0, s"tolerance must be non-negative: $tolerance")
    val built = ScreenIndex.readBuiltDocs(spark, path)
    indexedDocs() > built * (1 + tolerance)
  }

  /** Re-derive the canonical order from the CURRENT stored sets (hashes
    * suffice — no original text needed) and rewrite everything into
    * `toPath`; `built_docs` resets to the current count so the
    * [[needsRebuild]] trip re-arms.
    */
  def rebuild(toPath: String): ScreenIndex = {
    refreshAll()
    val sets = spark.table(setsTable).distinct().localCheckpoint(true)
    try {
      val sh = Dedup.explodedHashes(sets)
      val dford = sh.groupBy("h").agg(count(lit(1)).as("df"))
        .localCheckpoint(true)
      try {
        Sinks.bucketed(dford.repartition(buckets, col("h")),
          dfordTable, s"$toPath/dford", buckets, Seq("h"))
        Sinks.bucketed(
          Dedup.ppjoinPrefixes(sh, dford, tNum, tDen)
            .repartition(buckets, col("h")),
          prefixTable, s"$toPath/prefix", buckets, Seq("h"))
        Sinks.bucketed(sets.repartition(buckets, col("doc_id")),
          setsTable, s"$toPath/sets", buckets, Seq("doc_id"))
      } finally dford.unpersist()
      writeMeta(spark, toPath, buckets, shingleN, tNum, tDen, sets.count())
    } finally sets.unpersist()
    new ScreenIndex(spark, setsTable, prefixTable, dfordTable,
      toPath, buckets, shingleN, tNum, tDen)
  }

  /** Retire benchmark docs: rewrite sets and prefixes without them into
    * `toPath`. The frozen order (and `built_docs`) stays — retired mass
    * in the df ranks is conservative, and [[rebuild]] resets both.
    */
  def delete(docIds: DataFrame, idCol: String, toPath: String): ScreenIndex = {
    val ids = docIds.select(col(idCol).cast("long").as("doc_id"))
    rewrite(toPath, _.join(ids, Seq("doc_id"), "left_anti"))
  }

  /** Small-file maintenance; `newBuckets` > 0 re-buckets during the
    * rewrite (recorded in meta, so later `open`s see it).
    */
  def compact(toPath: String, newBuckets: Int = 0): ScreenIndex =
    rewrite(toPath, identity, newBuckets)

  private def rewrite(toPath: String, f: DataFrame => DataFrame,
      newBuckets: Int = 0): ScreenIndex = {
    require(toPath != path, s"rewrite target must differ from current path: $path")
    require(newBuckets >= 0,
      s"newBuckets must be positive, or 0 to keep the current count: $newBuckets")
    val b = if (newBuckets > 0) newBuckets else buckets
    val builtDocs = ScreenIndex.readBuiltDocs(spark, path)
    // read the parquet paths, not the tables: the rewrite re-registers
    // each table at toPath, and Spark refuses an overwrite of a table
    // the plan is also reading (the PhraseIndex.rewrite rule)
    Sinks.bucketed(f(spark.read.parquet(s"$path/prefix")).distinct()
        .repartition(b, col("h")),
      prefixTable, s"$toPath/prefix", b, Seq("h"))
    Sinks.bucketed(spark.read.parquet(s"$path/dford").distinct()
        .repartition(b, col("h")),
      dfordTable, s"$toPath/dford", b, Seq("h"))
    Sinks.bucketed(f(spark.read.parquet(s"$path/sets")).distinct()
        .repartition(b, col("doc_id")),
      setsTable, s"$toPath/sets", b, Seq("doc_id"))
    writeMeta(spark, toPath, b, shingleN, tNum, tDen, builtDocs)
    new ScreenIndex(spark, setsTable, prefixTable, dfordTable,
      toPath, b, shingleN, tNum, tDen)
  }
}

object ScreenIndex {

  private def tables(name: String): (String, String, String) =
    (s"${name}_sets", s"${name}_prefix", s"${name}_dford")

  private[operators] def writeMeta(spark: SparkSession, path: String,
      buckets: Int, shingleN: Int, tNum: Long, tDen: Long,
      builtDocs: Long): Unit = {
    import org.json4s.JsonDSL._
    MetaIo.write(spark, s"$path/meta",
      ("buckets" -> buckets) ~ ("shingle_n" -> shingleN) ~
        ("t_num" -> tNum) ~ ("t_den" -> tDen) ~
        ("built_docs" -> builtDocs))
  }

  private def readBuiltDocs(spark: SparkSession, path: String): Long = {
    import org.json4s.DefaultFormats
    implicit val fmts: DefaultFormats.type = DefaultFormats
    (MetaIo.read(spark, s"$path/meta") \ "built_docs").extract[Long]
  }

  /** Materialize the benchmark's screen state at `path`: one tokenize
    * pass over the benchmark, then every future batch screens against
    * parquet. `threshold` is geometry (prefix lengths) — it freezes
    * here, in meta.
    */
  def build(bench: DataFrame, idCol: String, textCol: String,
      path: String, name: String, shingleN: Int = 3,
      threshold: Double = 0.8, buckets: Int = 8): ScreenIndex = {
    val spark = bench.sparkSession
    val (tNum, tDen) = Dedup.thresholdFraction(threshold)
    val (setsT, prefT, dfT) = tables(name)
    val idx = new ScreenIndex(spark, setsT, prefT, dfT, path, buckets,
      shingleN, tNum, tDen)
    val sets = idx.keyed(bench, idCol, textCol).localCheckpoint(true)
    try {
      val sh = Dedup.explodedHashes(sets)
      val dford = sh.groupBy("h").agg(count(lit(1)).as("df"))
        .localCheckpoint(true)
      try {
        Sinks.bucketed(dford.repartition(buckets, col("h")),
          dfT, s"$path/dford", buckets, Seq("h"))
        Sinks.bucketed(
          Dedup.ppjoinPrefixes(sh, dford, tNum, tDen)
            .repartition(buckets, col("h")),
          prefT, s"$path/prefix", buckets, Seq("h"))
        Sinks.bucketed(sets.repartition(buckets, col("doc_id")),
          setsT, s"$path/sets", buckets, Seq("doc_id"))
      } finally dford.unpersist()
      writeMeta(spark, path, buckets, shingleN, tNum, tDen, sets.count())
    } finally sets.unpersist()
    idx
  }

  /** Re-open — no data work; the geometry loads from the required
    * `meta` record (the [[DedupIndex.open]] rule: probing under another
    * threshold or shingle width would silently use prefixes cut for
    * another screen).
    */
  def open(spark: SparkSession, name: String, path: String): ScreenIndex = {
    val (setsT, prefT, dfT) = tables(name)
    import org.json4s.DefaultFormats
    implicit val fmts: DefaultFormats.type = DefaultFormats
    val j = MetaIo.read(spark, s"$path/meta")
    new ScreenIndex(spark, setsT, prefT, dfT, path,
      (j \ "buckets").extract[Int], (j \ "shingle_n").extract[Int],
      (j \ "t_num").extract[Long], (j \ "t_den").extract[Long])
  }
}
