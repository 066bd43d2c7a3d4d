package graft.operators

import graft.sources.Sinks
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent MinHash band-bucket index for continuously-ingesting dedup.
  *
  * [[Dedup.incrementalMinHashPairs]] re-shingles and re-buckets the WHOLE
  * corpus every batch, so per-batch cost grows with corpus size even
  * though the join itself never does. The production shape pays the
  * signature cost once: [[DedupIndex.build]] materializes the corpus's
  * band buckets `(doc_id, band, bh)` and hashed shingle sets
  * `(doc_id, hs)` as BUCKETED parquet tables (the write pre-pays the
  * exchange — [[graft.sources.Sinks.bucketed]]); [[MinHashIndex.probe]]
  * computes signatures for the incoming batch only (narrow kernel
  * projections) and joins it against the stored index, where the corpus
  * side is a bucketed scan with NO exchange and NO kernel re-evaluation;
  * [[MinHashIndex.append]] folds the batch's precomputed buckets + sets
  * into the tables for the next round.
  *
  * Per-batch cost is therefore O(|batch| signatures + matching bucket
  * groups + candidate verification) — the corpus contributes a columnar
  * scan, never recomputation, and at 100 TB the scan itself prunes to
  * the `(band, bh)` groups the batch actually hashes into once the join
  * goes through a runtime bloom/DPP filter or a storage index.
  *
  * Semantics match [[Dedup.incrementalMinHashPairs]] exactly (same LSH
  * geometry, same exact-Jaccard verification, ids must be disjoint):
  * every emitted pair touches ≥ 1 incoming document, including
  * incoming×incoming pairs.
  */
final class MinHashIndex private[operators] (
    spark: SparkSession,
    val bucketsTable: String,
    val setsTable: String,
    val path: String,
    val shingleN: Int,
    val numHashes: Int,
    val bands: Int,
    val buckets: Int) extends Serializable {

  /** Candidate + verified pairs between `incoming` and the indexed corpus
    * (plus incoming×incoming), without touching corpus text: the corpus
    * participates only as bucketed scans of the two index tables.
    *
    * Two candidate joins instead of one union-then-join: unioning the
    * bucketed corpus scan with the batch frame would erase the scan's
    * hash-partitioning and force BOTH sides through an exchange, so the
    * corpus⋈batch join keeps the bucketed side exchange-free and the
    * (small) batch self-join runs separately.
    *
    * @return (i, j, jac) with i < j, exact Jaccard ≥ threshold
    */
  def probe(
      incoming: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8): DataFrame =
    probeTracked(incoming, idCol, textCol, threshold)._1

  /** [[probe]] plus a cleanup thunk that unpersists the two
    * localCheckpointed intermediates once the result has been fully
    * consumed. A one-shot probe can ignore it (the driver's
    * ContextCleaner reclaims the blocks when the frames are GC'd), but a
    * long-lived loop like [[probeStream]] MUST call it per batch —
    * otherwise every micro-batch parks candidate-sized checkpoint blocks
    * in executor storage until a GC happens to run on the driver.
    * Calling the thunk invalidates the returned frame.
    */
  private[operators] def probeTracked(
      incoming: DataFrame, idCol: String, textCol: String,
      threshold: Double = 0.8): (DataFrame, () => Unit) = {
    // Resolve the index tables through the SESSION DOING THE PROBING and
    // drop its cached file listing first: appends may have come from a
    // different session (Structured Streaming runs foreachBatch bodies in
    // a cloned session), and a session's relation cache only invalidates
    // on its own writes — without the refresh, a long-lived reader keeps
    // probing the file snapshot of its first resolution.
    val sess = incoming.sparkSession
    sess.catalog.refreshTable(bucketsTable)
    sess.catalog.refreshTable(setsTable)
    val inSets = Dedup.hashedSets(
      incoming.select(col(idCol).cast("long").as(idCol), col(textCol)),
      idCol, textCol, shingleN)
    val inBuckets = Dedup.bandBuckets(inSets, numHashes, bands)
    val corpusBuckets = sess.table(bucketsTable)
    val crossCand = corpusBuckets.as("a")
      .join(inBuckets.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("i"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("j"))
    val selfCand = inBuckets.as("a")
      .join(inBuckets.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
    // candidates are consumed twice (id extraction + verification) and
    // the pruned-sets subtree twice more (both verify joins) — without a
    // materialization barrier each consumer re-executes its subtree, and
    // the corpus-sized sets scan runs twice per probe. Both frames are
    // candidate-bounded (micro-batch sized), so an eager localCheckpoint
    // is cheap and halves the corpus scan work.
    val candidates = crossCand.unionByName(selfCand).distinct()
      .localCheckpoint(true)
    // verification needs sets only for docs appearing in candidates: a
    // semi-join prunes the corpus scan (bucketed on doc_id) before the
    // union with the batch's in-memory sets
    val candIds = candidates
      .select(explode(array(col("i"), col("j"))).as("doc_id")).distinct()
    val neededCorpus = sess.table(setsTable).join(candIds, Seq("doc_id"), "left_semi")
    val verifySets = neededCorpus.unionByName(inSets).localCheckpoint(true)
    val pairs = Dedup.verifyHashed(verifySets, candidates, threshold)
    (pairs, () => { candidates.unpersist(); verifySets.unpersist(); () })
  }

  /** Fold a batch into the index: compute its buckets + sets (one
    * signature pass, localCheckpointed so both table writes share it) and
    * append them to the two tables with the SAME bucket spec — parquet
    * datasource tables accept bucketed appends, each append adding one
    * file per populated bucket id. Run [[compact]]-style maintenance
    * (e.g. [[graft.operators.Compaction.compactToBytes]] + rebuild) when the
    * accumulated file count starts to dominate scan setup.
    *
    * IDEMPOTENT under at-least-once redelivery: already-indexed doc_ids
    * are dropped by a batch-bounded left-anti join against the sets
    * table, so a [[probeStream]] batch re-delivered after a crash does
    * not duplicate index rows. The guard is on the table written LAST
    * (sets), making a torn append self-healing: a crash between the two
    * writes leaves bucket rows with no sets row — transiently
    * verify-dropped candidates, never wrong pairs — and the redelivered
    * batch still passes the guard and rewrites both (duplicate bucket
    * rows are absorbed by the candidate `distinct()`, shed by
    * [[compact]]). Guarding on the first-written table instead would
    * freeze that torn state permanently.
    *
    * The guard's drops are COUNTED, not silent: ids are re-sent either by
    * a redelivered batch (benign) or by a caller violating the
    * disjoint-ids contract with a CHANGED payload — and the second case
    * would otherwise leave stale index rows with no signal anywhere.
    * @return rows actually appended; a full redelivery returns 0
    */
  def append(incoming: DataFrame, idCol: String, textCol: String): Long = {
    spark.catalog.refreshTable(setsTable)
    GuardedAppend(spark,
      Dedup.hashedSets(
        incoming.select(col(idCol).cast("long").as(idCol), col(textCol)),
        idCol, textCol, shingleN),
      "doc_id", setsTable, "payload") { inSets =>
      // buckets BEFORE sets: a torn append leaves orphan bucket rows the
      // next redelivery's guard (keyed on the sets table) re-appends —
      // self-healing, where the reverse order would permanently lose pairs
      Dedup.bandBuckets(inSets, numHashes, bands)
        .write.mode(SaveMode.Append)
        .bucketBy(buckets, "band", "bh")
        .saveAsTable(bucketsTable)
      inSets.write.mode(SaveMode.Append)
        .bucketBy(buckets, "doc_id")
        .saveAsTable(setsTable)
    }
  }

  /** Indexed corpus size (bucketed scan + count, no signature work). */
  def indexedDocs(): Long = {
    spark.catalog.refreshTable(setsTable)
    spark.table(setsTable).count()
  }

  /** Continuous-ingest dedup: drive a STREAM of documents through the
    * index — each micro-batch is probed for near-duplicate pairs (against
    * everything indexed so far AND within itself), the pairs land in
    * `pairsDir` as appended parquet, and the batch is folded into the
    * index for the batches after it.
    *
    * The cumulative output is batch-boundary INVARIANT: a pair (i, j) is
    * emitted exactly once, by whichever batch completes it (cross-batch
    * through the stored index, same-batch through the probe's self-join),
    * so over any partitioning of the corpus into micro-batches the pairs
    * written equal the full-corpus pair closure at `threshold`. That is
    * what makes the streaming form testable against the batch oracle —
    * and restart-safe to reason about: foreachBatch is at-least-once, so
    * a batch re-delivered after a crash re-appends the same pairs
    * (dedupe on read, or make `pairsDir` keyed by batch id); the index
    * itself does NOT duplicate — [[append]] is idempotent by its
    * left-anti guard.
    *
    * Each batch is locally materialized once ([[DataFrame.localCheckpoint]])
    * so probe and append share one evaluation of the batch's signature
    * kernels — micro-batches are small by construction; the corpus never
    * re-materializes anywhere.
    */
  def probeStream(
      incoming: DataFrame, idCol: String, textCol: String,
      pairsDir: String, checkpointDir: String,
      threshold: Double = 0.8): Unit =
    IndexStream.run(incoming, checkpointDir) { batch =>
      IndexStream.probeAppend(batch, pairsDir,
        probeTracked(_, idCol, textCol, threshold),
        append(_, idCol, textCol))
    }

  /** Remove documents from the index: anti-join both tables against the
    * given ids and rewrite into `toPath` with the same bucket spec —
    * bucketed parquet has no in-place delete, so removal is structurally
    * a filtered [[compact]] (and doubles as one: the rewrite also merges
    * the append-accumulated small files). Without this, retracted or
    * re-filtered documents sit in the band buckets forever, generating
    * candidate pairs against every future batch. TTL expiry is this
    * same call with `docIds` = the ids past their retention horizon —
    * the index itself stays timestamp-free.
    *
    * Deleted ids never appear in subsequent probe output: candidates are
    * generated from the buckets table and verified against the sets
    * table, and the ids are gone from both. Returns a handle rooted at
    * `toPath`; the old directory is the caller's to drop once unused.
    */
  def delete(docIds: DataFrame, idCol: String, toPath: String): MinHashIndex = {
    val ids = docIds.select(col(idCol).cast("long").as("doc_id"))
    rewrite(toPath, _.join(ids, Seq("doc_id"), "left_anti"))
  }

  /** Small-file maintenance: every [[append]] adds one file per populated
    * (task, bucket) pair, so a long-lived index accumulates files whose
    * open/footer cost eventually dominates probe scans. Rewrite both
    * tables into `toPath` — one file set, probes unchanged. Reads the
    * parquet FILES (not the catalog table) so the rewrite never depends
    * on the table it is about to redefine; the old directory is left for
    * the caller to delete once nothing queries it.
    *
    * `newBuckets` > 0 RE-BUCKETS during the compaction — the deliberate
    * geometry evolution a corpus that has grown orders of magnitude past
    * its build-time bucket count eventually needs (more buckets = more
    * parallel probe tasks and smaller per-bucket scans). The new count is
    * recorded in meta, so later `open`s see it without being told.
    *
    * Returns a handle rooted at the new path. Without re-bucketing the
    * PREVIOUS handle keeps working too (the catalog tables now point at
    * `toPath`); after a re-bucket, prior handles carry a stale frozen
    * count and their `append` fails on the bucket-spec mismatch —
    * re-open (or use the returned handle) after evolving geometry.
    */
  def compact(toPath: String, newBuckets: Int = 0): MinHashIndex =
    rewrite(toPath, identity, newBuckets)

  private def rewrite(
      toPath: String, f: DataFrame => DataFrame,
      newBuckets: Int = 0): MinHashIndex = {
    require(toPath != path, s"rewrite target must differ from current path: $path")
    require(newBuckets >= 0,
      s"newBuckets must be positive, or 0 to keep the current count: $newBuckets")
    val b = if (newBuckets > 0) newBuckets else buckets
    // repartition on the bucket columns with numPartitions == buckets:
    // Spark's bucket id is the same hash pmod numBuckets, so each write
    // task owns exactly its bucket's rows → ONE file per bucket (without
    // this, every read partition writes its own per-bucket files and the
    // rewrite shrinks nothing)
    // distinct() on the buckets table: a torn append re-delivered under
    // at-least-once can leave duplicate (doc_id, band, bh) rows —
    // harmless for probes (candidate distinct()) but pure waste; the
    // maintenance rewrite is where they are shed, as the append doc
    // promises
    Sinks.bucketed(
      f(spark.read.parquet(s"$path/buckets")).distinct()
        .repartition(b, col("band"), col("bh")),
      bucketsTable, s"$toPath/buckets", b, Seq("band", "bh"))
    Sinks.bucketed(
      f(spark.read.parquet(s"$path/sets"))
        .repartition(b, col("doc_id")),
      setsTable, s"$toPath/sets", b, Seq("doc_id"))
    // geometry travels with the data: a later open() on toPath must not
    // have to guess it
    DedupIndex.writeMeta(spark, toPath, shingleN, numHashes, bands, b)
    new MinHashIndex(spark, bucketsTable, setsTable, toPath,
      shingleN, numHashes, bands, b)
  }
}

object DedupIndex {

  private[operators] val log =
    org.slf4j.LoggerFactory.getLogger("graft.operators.DedupIndex")

  /** Build the persistent index for `docs` at `path`, registering the two
    * bucketed tables as `<name>_buckets` / `<name>_sets`. One full
    * signature pass over the corpus — the LAST one it ever needs.
    *
    * `buckets` sizes the pre-paid exchange: at 100 TB pick it like a
    * shuffle partition count for the bucket tables' data volume (the
    * band-bucket table is ~`bands` longs/doc, the sets table
    * ~|shingles| longs/doc).
    */
  def build(
      docs: DataFrame, idCol: String, textCol: String,
      path: String, name: String,
      shingleN: Int = 3, numHashes: Int = 128, bands: Int = 32,
      buckets: Int = 32): MinHashIndex = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val spark = docs.sparkSession
    val sets = Dedup.hashedSets(
      docs.select(col(idCol).cast("long").as(idCol), col(textCol)),
      idCol, textCol, shingleN)
    Sinks.bucketed(Dedup.bandBuckets(sets, numHashes, bands),
      s"${name}_buckets", s"$path/buckets", buckets, Seq("band", "bh"))
    Sinks.bucketed(sets, s"${name}_sets", s"$path/sets",
      buckets, Seq("doc_id"))
    writeMeta(spark, path, shingleN, numHashes, bands, buckets)
    new MinHashIndex(spark, s"${name}_buckets", s"${name}_sets", path,
      shingleN, numHashes, bands, buckets)
  }

  /** Re-open an existing index (e.g. a new session over yesterday's
    * tables) — no data work, just the handle.
    *
    * Opening never guesses geometry: (shingleN, numHashes, bands,
    * buckets) load from the required `meta` record — probing with a
    * geometry other than the stored buckets' would silently emit garbage
    * pairs (the failure [[EmbedIndex.open]] was designed against).
    */
  def open(spark: SparkSession, name: String, path: String): MinHashIndex = {
    import org.json4s.DefaultFormats
    implicit val fmts: DefaultFormats.type = DefaultFormats
    val j = MetaIo.read(spark, s"$path/meta")
    new MinHashIndex(spark, s"${name}_buckets", s"${name}_sets", path,
      (j \ "shingleN").extract[Int], (j \ "numHashes").extract[Int],
      (j \ "bands").extract[Int], (j \ "buckets").extract[Int])
  }

  private[operators] def writeMeta(
      spark: SparkSession, path: String, shingleN: Int,
      numHashes: Int, bands: Int, buckets: Int): Unit = {
    import org.json4s.JsonDSL._
    MetaIo.write(spark, s"$path/meta",
      ("shingleN" -> shingleN) ~ ("numHashes" -> numHashes) ~
        ("bands" -> bands) ~ ("buckets" -> buckets))
  }
}
