package graft.operators

import graft.sources.Sinks
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent SRP bucket index for continuously-ingesting EMBEDDING dedup —
  * the vector-space twin of [[MinHashIndex]].
  *
  * [[Dedup.embeddingPairs]] recomputes every corpus vector's SRP keys on
  * every call, so per-batch cost grows with corpus size even though the
  * bucket join itself never does. The production shape pays the key cost
  * once: [[EmbedIndex.build]] materializes the corpus's per-table bucket
  * keys `(vid, t, bk)` and the vectors `(vid, v)` as BUCKETED parquet
  * tables; [[SrpEmbedIndex.probe]] computes keys for the incoming batch
  * only (one narrow kernel projection) and joins against the stored
  * index, where the corpus side is a bucketed scan with NO exchange and
  * NO kernel re-evaluation; [[SrpEmbedIndex.append]] folds the batch in
  * for the rounds after it; [[SrpEmbedIndex.delete]]/[[SrpEmbedIndex.compact]]
  * are the same rewrite-as-maintenance shape as the minhash index.
  *
  * The LSH geometry (key width from [[Lsh.autoPlanes]] at build-time
  * corpus size, table count from [[Lsh.autoTables]] at the stated
  * threshold, hyperplanes regenerated from the seed) is persisted in a
  * one-row `meta` parquet together with the recall design threshold,
  * because unlike shingle hashing it is NOT caller-reconstructible: the
  * derived width depends on what the corpus size WAS when the index was
  * built. [[EmbedIndex.open]] reads it back — opening never guesses
  * geometry — and [[SrpEmbedIndex.rebuild]] re-derives it at TODAY's
  * size when [[SrpEmbedIndex.needsRebuild]] reports the frozen width has
  * drifted.
  *
  * Semantics match [[Dedup.embeddingPairs]] under the build-time geometry,
  * restricted to pairs touching ≥ 1 incoming vector (including
  * incoming×incoming): candidates from shared buckets in ≥ 1 table, then
  * EXACT cosine verification at the probe threshold. Ids must be disjoint
  * from the indexed ones.
  */
final class SrpEmbedIndex private[operators] (
    spark: SparkSession,
    val bucketsTable: String,
    val vectorsTable: String,
    val path: String,
    val dim: Int,
    val bits: Int,
    val tables: Int,
    val seed: Long,
    val buckets: Int,
    val designThreshold: Double) extends Serializable {

  /** The build-time hyperplanes, regenerated deterministically — SAME
    * construction as `Dedup.srpBucketed` (one Random stream, table-major),
    * so stored keys and probe keys come from identical planes.
    */
  private def planes: Seq[Seq[Double]] = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(tables * bits)(Seq.fill(dim)(rnd.nextGaussian()))
  }

  /** (vid, v, bks) — ONE row per vector with its per-table key array:
    * the single narrow kernel pass every index operation starts from.
    * Writers take vectors from here pre-explode (one row per vid by
    * construction — no dropDuplicates shuffle of exploded vector
    * payloads) and explode only the id+key projection for the buckets
    * table.
    */
  private[operators] def keyed(
      incoming: DataFrame, idCol: String, vecCol: String): DataFrame =
    incoming.select(col(idCol).cast("long").as("vid"), col(vecCol).as("v"),
        graft.plans.SrpBuckets.srpBuckets(col(vecCol), planes, bits).as("bks"))
      .filter(col("bks").isNotNull)

  /** (vid, v, t, bk) exploded bucket rows for a batch. */
  private[operators] def batchBuckets(
      incoming: DataFrame, idCol: String, vecCol: String): DataFrame =
    keyed(incoming, idCol, vecCol)
      .select(col("vid"), col("v"), posexplode(col("bks")).as(Seq("t", "bk")))

  /** Verified near-duplicate pairs between `incoming` and the indexed
    * corpus (plus incoming×incoming), without touching corpus vectors
    * beyond bucketed scans. Two candidate joins instead of one
    * union-then-join, for the same reason as [[MinHashIndex.probe]]: a
    * union would erase the stored side's hash-partitioning and force the
    * corpus through an exchange.
    *
    * @return (i, j, cos) with i < j, exact cosine ≥ threshold
    */
  def probe(
      incoming: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95): DataFrame =
    probeTracked(incoming, idCol, vecCol, threshold)._1

  /** [[probe]] plus a cleanup thunk for the localCheckpointed
    * intermediates — same contract as [[MinHashIndex.probeTracked]]:
    * one-shot callers may ignore it, [[probeStream]] must not.
    *
    * Verification shape — deliberately DIFFERENT from the minhash probe:
    * there, candidates ≈ true pairs (a band collision is ~2⁻⁶⁴-rare for
    * non-dups), so pruning the sets table down to candidate ids pays. SRP
    * buckets hold ~targetBucket random neighbors BY DESIGN, so a batch's
    * candidates touch a corpus-sized id set and an id-pruned
    * materialization would rewrite most of the vector table per probe
    * (measured: 9 of 11 probe seconds at 505k vectors). Instead each
    * cross candidate keeps its (corpus id, batch id) roles: the corpus
    * side verifies through a direct join against the BUCKETED vectors
    * table — only the candidate frame (two longs per row) shuffles to the
    * table's layout, the vectors never leave their bucketed scan — and
    * the batch side broadcasts. Self pairs verify entirely against the
    * broadcast batch.
    */
  private[operators] def probeTracked(
      incoming: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.95): (DataFrame, () => Unit) = {
    val sess = incoming.sparkSession
    sess.catalog.refreshTable(bucketsTable)
    sess.catalog.refreshTable(vectorsTable)
    // the batch's keys feed three consumers (cross join, self join,
    // verify) — one eager batch-sized materialization, pre-explode
    val keyedB = keyed(incoming, idCol, vecCol).localCheckpoint(true)
    val inB = keyedB
      .select(col("vid"), col("v"), posexplode(col("bks")).as(Seq("t", "bk")))
    val bVecs = keyedB.select(col("vid"), col("v"))
    val corpusBuckets = sess.table(bucketsTable)
    val crossCand = corpusBuckets.as("a")
      .join(inB.as("b"),
        col("a.t") === col("b.t") && col("a.bk") === col("b.bk") &&
          col("a.vid") =!= col("b.vid"))
      .select(col("a.vid").as("cvid"), col("b.vid").as("bvid"))
      .distinct()
    // the candidate frame is two longs per row and scales with
    // |batch| · bucket-occupancy · tables — batch-bounded, NEVER
    // corpus-bounded — so IT broadcasts, and the corpus vectors stay a
    // streamed columnar scan: no exchange, no sort, no per-probe rewrite
    // of vector payloads
    val crossPairs = sess.table(vectorsTable)
      .withColumnsRenamed(Map("vid" -> "cvid", "v" -> "cv"))
      .join(broadcast(crossCand), Seq("cvid"))
      .join(broadcast(bVecs.withColumnsRenamed(Map("vid" -> "bvid", "v" -> "bv"))),
        Seq("bvid"))
      .select(least(col("cvid"), col("bvid")).as("i"),
        greatest(col("cvid"), col("bvid")).as("j"),
        graft.plans.GraftFunctions.cosine(col("cv"), col("bv")).as("cos"))
    val selfPairs = inB.as("a")
      .join(inB.as("b"),
        col("a.t") === col("b.t") && col("a.bk") === col("b.bk") &&
          col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("i"), col("b.vid").as("j"))
      .distinct()
      .join(broadcast(bVecs.withColumnsRenamed(Map("vid" -> "i", "v" -> "iv"))), Seq("i"))
      .join(broadcast(bVecs.withColumnsRenamed(Map("vid" -> "j", "v" -> "jv"))), Seq("j"))
      .select(col("i"), col("j"),
        graft.plans.GraftFunctions.cosine(col("iv"), col("jv")).as("cos"))
    val pairs = crossPairs.unionByName(selfPairs)
      .filter(col("cos") >= threshold)
      .select(col("i"), col("j"), round(col("cos"), 3).as("cos"))
    (pairs, () => { keyedB.unpersist(); () })
  }

  /** Approximate top-k cosine neighbors over the INDEXED corpus for a
    * small query batch — the persistent form of [[Similarity.srpTopK]]:
    * identical geometry semantics (candidates share a full stored key
    * with the query in ≥ 1 table, scored exactly, ranked
    * deterministically), but the corpus is never re-keyed — it
    * participates as a bucketed key scan plus a candidate-pruned vector
    * fetch. Queries broadcast (they are the small side by contract).
    *
    * @return (query_id, rank, neighbor_id, cos) — rank by cosine desc,
    *         neighbor id asc
    */
  def searchTopK(
      queries: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val sess = queries.sparkSession
    sess.catalog.refreshTable(bucketsTable)
    sess.catalog.refreshTable(vectorsTable)
    val qb = batchBuckets(queries, idCol, vecCol)
      .withColumnsRenamed(Map("vid" -> "query_id", "v" -> "qv"))
    val cands = sess.table(bucketsTable).as("base")
      .join(broadcast(qb).as("q"),
        col("base.t") === col("q.t") && col("base.bk") === col("q.bk") &&
          col("base.vid") =!= col("query_id"))
      .select(col("query_id"), col("base.vid").as("neighbor_id"))
      .distinct()
    val qVecs = qb.select(col("query_id"), col("qv")).dropDuplicates("query_id")
    // same shape as probeTracked's verify: the query-bounded candidate
    // frame broadcasts, the corpus vectors stay a streamed scan
    val scored = sess.table(vectorsTable)
      .join(broadcast(cands), col("neighbor_id") === col("vid"))
      .join(broadcast(qVecs), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        graft.plans.GraftFunctions.cosine(col("v"), col("qv")).as("cos"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("cos"), 3).as("cos"))
  }

  /** Fold a batch into the index: one kernel pass for its keys
    * (localCheckpoint — both table writes read the same materialized
    * frame), bucketed appends to both tables.
    *
    * IDEMPOTENT under at-least-once redelivery: already-indexed vids are
    * dropped by a batch-bounded left-anti join against the vectors table,
    * so a foreachBatch crash after append-but-before-checkpoint-commit
    * re-delivers the batch without duplicating index rows (the
    * [[probeStream]] scenario; [[CompIndex.update]] holds the same
    * contract on its side).
    *
    * Write order is buckets THEN vectors, and the anti-join guard is on
    * the table written LAST — that makes a torn append self-healing: a
    * crash between the writes leaves bucket rows whose vid has no vector
    * row (transiently verify-dropped candidates, never wrong pairs), and
    * the redelivered batch still passes the guard and rewrites both
    * (duplicate bucket rows are absorbed by the candidate `distinct()`
    * and shed by [[compact]]). The reverse order with this guard would
    * make the torn state PERMANENT — vectors present, buckets missing,
    * vids silently unreachable forever.
    *
    * The guard's drops are COUNTED, not silent (same contract as
    * [[MinHashIndex.append]]): a re-sent id with a CHANGED vector is NOT
    * updated — delete+append to replace.
    * @return rows actually appended; a full redelivery returns 0
    */
  def append(incoming: DataFrame, idCol: String, vecCol: String): Long = {
    spark.catalog.refreshTable(vectorsTable)
    GuardedAppend(spark, keyed(incoming, idCol, vecCol),
      "vid", vectorsTable, "vector") { k =>
      // buckets BEFORE vectors: the guard keys on the vectors table, so
      // a torn append (buckets landed, vectors did not) is re-appended
      // whole on redelivery — the reverse order would lose bucket rows
      // permanently
      k.select(col("vid"), posexplode(col("bks")).as(Seq("t", "bk")))
        .write.mode(SaveMode.Append)
        .bucketBy(buckets, "t", "bk")
        .saveAsTable(bucketsTable)
      k.select(col("vid"), col("v"))
        .write.mode(SaveMode.Append)
        .bucketBy(buckets, "vid")
        .saveAsTable(vectorsTable)
    }
  }

  /** Indexed corpus size (bucketed scan + count, no kernel work). */
  def indexedVectors(): Long = {
    spark.catalog.refreshTable(vectorsTable)
    spark.table(vectorsTable).count()
  }

  /** Geometry-drift check: the key width is FROZEN at build time, so a
    * corpus grown by [[append]] fattens every bucket (expected occupancy
    * n/2^bits) and probe candidate volume creeps up with it — the one
    * maintenance wall an append-only SRP index has (minhash band
    * geometry, by contrast, is corpus-size-independent). Returns true
    * once the CURRENT corpus would have derived a wider key than the
    * index carries, i.e. occupancy has drifted ≥2× past `targetBucket` —
    * rebuild with [[EmbedIndex.build]] then.
    */
  def needsRebuild(targetBucket: Int = 32): Boolean =
    Lsh.autoPlanes(indexedVectors(), targetBucket) > bits

  /** Close the [[needsRebuild]] wall: re-derive the LSH geometry from the
    * CURRENT corpus size and rebuild a fresh index at `toPath` from the
    * STORED vectors — no caller round-trip through the original embedding
    * table (the vectors are already materialized in this index). Key
    * width comes from [[Lsh.autoPlanes]] at today's count, table count
    * from [[Lsh.autoTables]] at `threshold` (the recall design point of
    * the NEW index), hyperplanes from `seed` — i.e. exactly what
    * [[EmbedIndex.build]] over the same vectors would produce, and the
    * returned handle is spec-pinned to be probe-identical to that fresh
    * build. One full kernel pass over the corpus — the cost an index
    * whose occupancy drifted ≥2× past target must eventually pay; until
    * then [[append]] stays O(batch).
    *
    * The catalog tables re-point at `toPath`; the old directory is the
    * caller's to drop once nothing queries it (same hand-off as
    * [[delete]]/[[compact]]).
    */
  def rebuild(
      toPath: String, targetBucket: Int = 32,
      threshold: Double = Double.NaN): SrpEmbedIndex = {
    require(toPath != path, s"rebuild target must differ from current path: $path")
    spark.catalog.refreshTable(vectorsTable)
    val name = vectorsTable.stripSuffix("_evectors")
    // default recall design point = the one THIS index was built at
    // (persisted in meta) — a rebuild is a geometry refresh, not a
    // silent threshold change
    val t = if (threshold.isNaN) designThreshold else threshold
    // files, not the catalog table: the build below is about to redefine it
    EmbedIndex.build(
      spark.read.parquet(s"$path/vectors"), "vid", "v",
      toPath, name, dim, threshold = t,
      seed = seed, buckets = buckets, targetBucket = targetBucket)
  }

  /** Continuous-ingest embedding dedup: drive a STREAM of vectors through
    * the index — probe each micro-batch (cross-batch via the stored
    * index, same-batch via the self-join), append pairs to `pairsDir`,
    * fold the batch in. Cumulative output is batch-boundary INVARIANT,
    * exactly as documented on [[MinHashIndex.probeStream]], so the
    * streamed pairs equal the full-corpus [[Dedup.embeddingPairs]]
    * closure at this index's geometry.
    */
  def probeStream(
      incoming: DataFrame, idCol: String, vecCol: String,
      pairsDir: String, checkpointDir: String,
      threshold: Double = 0.95): Unit =
    IndexStream.run(incoming, checkpointDir) { batch =>
      IndexStream.probeAppend(batch, pairsDir,
        probeTracked(_, idCol, vecCol, threshold),
        append(_, idCol, vecCol))
    }

  /** Remove vectors from the index (retraction / TTL expiry): anti-join
    * rewrite of both tables into `toPath`, same bucket spec — doubles as
    * a [[compact]]. Deleted ids never appear in subsequent probe output.
    */
  def delete(ids: DataFrame, idCol: String, toPath: String): SrpEmbedIndex = {
    val del = ids.select(col(idCol).cast("long").as("vid"))
    rewrite(toPath, _.join(del, Seq("vid"), "left_anti"))
  }

  /** Small-file maintenance: fold append-accumulated files into one file
    * per bucket, probes unchanged (the [[MinHashIndex.compact]] shape).
    * `newBuckets` > 0 RE-BUCKETS — the deliberate geometry evolution of
    * a corpus grown orders of magnitude past its build-time count — and
    * records the new count in meta for later opens.
    */
  def compact(toPath: String, newBuckets: Int = 0): SrpEmbedIndex =
    rewrite(toPath, identity, newBuckets)

  private def rewrite(
      toPath: String, f: DataFrame => DataFrame,
      newBuckets: Int = 0): SrpEmbedIndex = {
    require(toPath != path, s"rewrite target must differ from current path: $path")
    require(newBuckets >= 0,
      s"newBuckets must be positive, or 0 to keep the current count: $newBuckets")
    val b = if (newBuckets > 0) newBuckets else buckets
    // files, not the catalog table — the rewrite must not depend on the
    // table it is about to redefine. distinct() on the buckets table:
    // a torn append re-delivered under at-least-once can leave duplicate
    // (vid, t, bk) rows — harmless for probes (candidate distinct()) but
    // pure waste; the maintenance rewrite is where they are shed, as the
    // append doc promises. The rows are two longs + an int, and this is
    // the maintenance path — the extra exchange is fine.
    Sinks.bucketed(
      f(spark.read.parquet(s"$path/buckets")).distinct()
        .repartition(b, col("t"), col("bk")),
      bucketsTable, s"$toPath/buckets", b, Seq("t", "bk"))
    Sinks.bucketed(
      f(spark.read.parquet(s"$path/vectors"))
        .repartition(b, col("vid")),
      vectorsTable, s"$toPath/vectors", b, Seq("vid"))
    EmbedIndex.writeMeta(spark, toPath, dim, bits, tables, seed, b,
      designThreshold)
    new SrpEmbedIndex(spark, bucketsTable, vectorsTable, toPath,
      dim, bits, tables, seed, b, designThreshold)
  }
}

object EmbedIndex {

  /** Build the persistent index for `emb` at `path`, registering
    * `<name>_ebuckets` / `<name>_evectors`. One full key pass over the
    * corpus — the last one it ever needs. Geometry: width from
    * [[Lsh.autoPlanes]] on the corpus count (unless pinned), tables from
    * [[Lsh.autoTables]] at `threshold` (the recall design point baked
    * into the index), both persisted to `meta`.
    */
  def build(
      emb: DataFrame, idCol: String, vecCol: String,
      path: String, name: String, dim: Int,
      threshold: Double = 0.95, planesPerTable: Int = 0, tables: Int = 0,
      seed: Long = 42L, buckets: Int = 32,
      targetBucket: Int = 32): SrpEmbedIndex = {
    val spark = emb.sparkSession
    val bits =
      if (planesPerTable > 0) planesPerTable
      else Lsh.autoPlanes(emb.count(), targetBucket)
    val nTables = if (tables > 0) tables else Lsh.autoTables(bits, threshold)
    writeMeta(spark, path, dim, bits, nTables, seed, buckets, threshold)
    val idx = new SrpEmbedIndex(spark, s"${name}_ebuckets", s"${name}_evectors",
      path, dim, bits, nTables, seed, buckets, threshold)
    // one kernel pass per write; the vectors write is a NARROW projection
    // of the one-row-per-vector keyed frame — no dropDuplicates shuffle
    // of exploded vector payloads
    val k = idx.keyed(emb, idCol, vecCol)
    Sinks.bucketed(
      k.select(col("vid"), posexplode(col("bks")).as(Seq("t", "bk"))),
      s"${name}_ebuckets", s"$path/buckets", buckets, Seq("t", "bk"))
    Sinks.bucketed(k.select(col("vid"), col("v")),
      s"${name}_evectors", s"$path/vectors", buckets, Seq("vid"))
    idx
  }

  /** Re-open an existing index: geometry loads from `meta` (never guessed
    * — the derived key width depends on the corpus size at build time).
    */
  def open(spark: SparkSession, name: String, path: String): SrpEmbedIndex = {
    import org.json4s.DefaultFormats
    implicit val fmts: DefaultFormats.type = DefaultFormats
    val j = MetaIo.read(spark, s"$path/meta")
    new SrpEmbedIndex(spark, s"${name}_ebuckets", s"${name}_evectors", path,
      (j \ "dim").extract[Int], (j \ "bits").extract[Int],
      (j \ "tables").extract[Int], (j \ "seed").extract[Long],
      (j \ "buckets").extract[Int], (j \ "threshold").extract[Double])
  }

  private[operators] def writeMeta(
      spark: SparkSession, path: String, dim: Int, bits: Int,
      tables: Int, seed: Long, buckets: Int, threshold: Double): Unit = {
    import org.json4s.JsonDSL._
    MetaIo.write(spark, s"$path/meta",
      ("dim" -> dim) ~ ("bits" -> bits) ~ ("tables" -> tables) ~
        ("seed" -> seed) ~ ("buckets" -> buckets) ~
        ("threshold" -> threshold))
  }
}
