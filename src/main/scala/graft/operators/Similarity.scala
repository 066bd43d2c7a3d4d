package graft.operators

import graft.functions.{VectorOps => V}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Three strategies:
  *  - [[bruteForceTopK]] — exact: broadcast the (small) query set, score all
  *    base vectors with codegen'd higher-order functions, per-query top-k
  *    via window rank. The 100 TB shape: base side never shuffles, queries
  *    broadcast, one exchange on query_id for the rank.
  *  - [[srpTopK]] — random-hyperplane LSH bucketing: score only base
  *    vectors sharing a signature with the query in ≥1 table. Recall < 1;
  *    the scale path when the base is too large to scan per query batch.
  *  - [[IvfIndex]] — inverted-file index: k-means coarse quantizer (trained
  *    on a driver-side sample, broadcast), cluster assignment as a narrow
  *    map, search probes the `nprobe` nearest centroids.
  */
object Similarity extends CacheLedger {

  /** Exact top-k cosine neighbors for each query id.
    * Output: (query_id, rank, neighbor_id, cos) — rank by cosine desc,
    * neighbor id asc (deterministic ties).
    */
  def bruteForceTopK(
      emb: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], k: Int): DataFrame = {
    val q = emb
      .filter(col(idCol).isin(queryIds: _*))
      .select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val scored = emb
      .join(broadcast(q), col(idCol) =!= col("query_id"))
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        graft.plans.GraftFunctions.cosine(col(vecCol), col("qv")).as("cos"))
    topK(scored, k)
  }

  /** Per-label mean vectors in tall form: (label, idx, mean, n) — class
    * centroids for quantizers, cluster summaries, or per-class drift
    * checks.
    *
    * The tall explode looks expensive but is the scalable shape: the
    * (label, idx) hash-agg partially combines WITHIN each input partition,
    * so shuffle volume is partitions × labels × dim regardless of row
    * count — no wide 1-row-per-label array aggregation that would
    * serialize whole vectors through a single reducer per label.
    */
  def labelCentroids(emb: DataFrame, labelCol: String, vecCol: String): DataFrame =
    emb.select(col(labelCol).as("label"),
        posexplode(col(vecCol)).as(Seq("idx", "v")))
      .groupBy("label", "idx")
      .agg(avg(col("v").cast("double")).as("mean"), count(lit(1)).as("n"))

  /** Uniform scalar quantization of an embedding column to `levels` codes
    * per dimension (levels=256 ⇒ int8 storage, a 4× memory cut on float32
    * — the standard ANN-index compression step before PQ).
    *
    * Codes come from per-dimension corpus [lo, hi] bins: floor-division
    * binning (not round-to-nearest-level) so the arithmetic is pure IEEE
    * ops reproducible in any engine. Constant dimensions (hi == lo)
    * quantize to code 0.
    *
    * Two passes over the tall (id, idx, v) form: a dim-sized min/max agg
    * (broadcast back) and the narrow code projection — no shuffle of the
    * full data beyond the explode.
    *
    * @return (id, idx, v, lo, hi, code) — dequantize with
    *         `lo + (code + 0.5) * (hi - lo) / levels`
    */
  def scalarQuantize(
      emb: DataFrame, idCol: String, vecCol: String, levels: Int = 256): DataFrame = {
    require(levels > 1, s"need at least 2 levels: $levels")
    val tall = emb
      .select(col(idCol).as("vid"), posexplode(col(vecCol)).as(Seq("idx", "v")))
      .select(col("vid"), col("idx"), col("v").cast("double").as("v"))
    val stats = tall.groupBy("idx").agg(min("v").as("lo"), max("v").as("hi"))
    tall.join(broadcast(stats), Seq("idx"))
      .select(col("vid"), col("idx"), col("v"), col("lo"), col("hi"),
        when(col("hi") === col("lo"), lit(0L))
          .otherwise(least(
            floor((col("v") - col("lo")) / (col("hi") - col("lo")) * levels).cast("long"),
            lit(levels - 1L))).as("code"))
  }

  /** SRP-LSH approximate top-k: candidates share a full signature word with
    * the query in at least one of `tables` tables; scored exactly, ranked,
    * truncated to k. Deterministic (seeded hyperplanes) but recall < 1.
    *
    * `planesPerTable = 0` (default) derives the key width from a corpus
    * count via [[Lsh.autoPlanes]], keeping per-query candidate volume
    * ~constant as the base grows — the fixed 8-bit width this replaces
    * scanned n/256 of the base per query per table at ANY n. Pass
    * `baseCount` when the caller already knows n (repeated query batches
    * over one base) so the derivation does not re-scan the base per call.
    *
    * `tables = 0` (default) co-derives the table count from the derived
    * width via [[Lsh.autoTables]]: wider keys collide less, so a FIXED
    * table count silently loses recall as the base (and hence the width)
    * grows. A top-k contract has no similarity threshold, so the design
    * point is explicit: recover neighbors at cosine ≥ `designCos` with
    * P(miss) ≤ `missProb` — at the 8-bit fixture floor the defaults give
    * 9 tables (≈ the historical 8), and the count rises with the width
    * exactly where a fixed count would have decayed.
    */
  def srpTopK(
      emb: DataFrame, idCol: String, vecCol: String,
      queryIds: Seq[Long], k: Int, dim: Int,
      planesPerTable: Int = 0, tables: Int = 0, seed: Long = 42L,
      baseCount: Long = -1L, designCos: Double = 0.9,
      missProb: Double = 0.05): DataFrame = {
    val bits =
      if (planesPerTable > 0) planesPerTable
      else Lsh.autoPlanes(if (baseCount >= 0L) baseCount else emb.count())
    val nTables =
      if (tables > 0) tables else Lsh.autoTables(bits, designCos, missProb)
    val rnd = new scala.util.Random(seed)
    val planes: Seq[Seq[Double]] =
      Seq.fill(nTables * bits)(Seq.fill(dim)(rnd.nextGaussian()))
    val buckets = emb.select(col(idCol).as("vid"), col(vecCol).as("v"),
        graft.plans.SrpBuckets.srpBuckets(col(vecCol), planes, bits)
          .as("bks"))
      .filter(col("bks").isNotNull)
      .select(col("vid"), col("v"),
        posexplode(col("bks")).as(Seq("t", "bk")))
    val qb = buckets.filter(col("vid").isin(queryIds: _*))
      .withColumnsRenamed(Map("vid" -> "query_id", "v" -> "qv"))
    val scored = buckets.as("base")
      .join(broadcast(qb).as("q"),
        col("base.t") === col("q.t") && col("base.bk") === col("q.bk") &&
          col("base.vid") =!= col("query_id"))
      .select(col("query_id"), col("base.vid").as("neighbor_id"),
        graft.plans.GraftFunctions.cosine(col("base.v"), col("qv")).as("cos"))
      .distinct()
    topK(scored, k)
  }

  private def topK(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("cos"), 3).as("cos"))
  }

  /** Inverted-file (IVF) coarse index. Centroids are trained with Lloyd's
    * algorithm on a driver-side sample (bounded), then broadcast; cluster
    * assignment is a narrow `mapPartitions` — no shuffle of the base table.
    */
  final class IvfIndex private (
      val centroids: Array[Array[Double]],
      baseAssigned: DataFrame,
      tableRef: Option[IvfIndex.TableRef]) {

    /** The assignment relation. Table-backed indexes ([[IvfIndex.open]])
      * re-resolve through the catalog with a relation-cache refresh on
      * every access, so [[append]]s — including ones from other sessions
      * — are visible to the next search (same contract as
      * [[MinHashIndex.probe]]); in-memory indexes use the build-time
      * frame directly.
      */
    def assigned: DataFrame = tableRef match {
      case Some(ref) =>
        val sess = baseAssigned.sparkSession
        sess.catalog.refreshTable(ref.table)
        sess.table(ref.table)
      case None => baseAssigned
    }

    /** Grow a SAVED index without rebuilding: assign the incoming vectors
      * against the EXISTING centroids (broadcast, narrow — the same
      * assignment map [[IvfIndex.build]] runs) and append bucket-aligned
      * to the assignments table, one file per populated bucket. Search
      * results afterwards are identical to a fresh build over old ∪ new
      * vectors ASSIGNED TO THESE centroids — i.e. exact for
      * nprobe = nClusters, and the approximate regime degrades only as
      * far as the frozen quantizer drifts from the grown corpus — the
      * standard IVF maintenance trade, and an OBSERVED one here:
      * [[needsRetrain]] measures the drift against the persisted save-time
      * baseline, [[retrain]] closes it. In-memory indexes have no table to
      * append to — save first.
      *
      * IDEMPOTENT under retry/redelivery: already-indexed vids are
      * dropped by a batch-bounded left-anti join against the assignments
      * table (same contract as [[MinHashIndex.append]] /
      * [[SrpEmbedIndex.append]]), so a caller re-running a failed append
      * cannot duplicate rows — duplicated assignment rows would surface
      * as duplicate neighbors in every later search.
      *
      * The guard's drops are COUNTED, not silent (same contract as
      * [[MinHashIndex.append]]): a re-sent vid with a CHANGED vector is
      * NOT updated — delete+append to replace.
      * @return rows actually appended; a full redelivery returns 0
      */
    def append(emb: DataFrame, idCol: String, vecCol: String): Long = {
      val ref = requireTable("append")
      val spark = baseAssigned.sparkSession
      spark.catalog.refreshTable(ref.table)
      GuardedAppend(spark,
        IvfIndex.assign(spark, emb, idCol, vecCol, centroids),
        "vid", ref.table, "vector") { kept =>
        kept.write.mode(org.apache.spark.sql.SaveMode.Append)
          .bucketBy(ref.buckets, "cluster")
          .saveAsTable(ref.table)
        spark.catalog.refreshTable(ref.table)
      }
    }

    /** Continuous-ingest ANN: drive a STREAM of vectors into the saved
      * index through the shared [[IndexStream]] harness — the IVF face of
      * [[MinHashIndex.probeStream]]/[[SrpEmbedIndex.probeStream]] (those
      * emit pairs; an ANN index has no pair output, so this folds batches
      * in and lets callers search between/after runs). Each micro-batch
      * is one [[append]]: assignment against the frozen centroids is a
      * narrow broadcast map, the write is bucket-aligned, and the
      * left-anti guard makes foreachBatch's at-least-once redelivery a
      * no-op — so after any prefix of batches the index equals a batch
      * build-plus-append over the vectors delivered so far, and search at
      * nprobe = nClusters equals brute force over them. The quantizer
      * stays frozen throughout (streams only append); pair
      * [[needsRetrain]] checks with [[retrain]] as the corpus grows.
      */
    def appendStream(
        vectors: DataFrame, idCol: String, vecCol: String,
        checkpointDir: String): Unit = {
      requireTable("appendStream")
      IndexStream.run(vectors, checkpointDir) { batch =>
        append(batch, idCol, vecCol); ()
      }
    }

    /** Remove vectors from a saved index: anti-join the assignments
      * against the given ids and rewrite into `toPath` with the same
      * bucket spec (bucketed parquet has no in-place delete — same
      * rewrite-as-maintenance shape as [[MinHashIndex.delete]], and like
      * it, the rewrite doubles as a [[compact]]). Centroids are copied
      * verbatim: deleting vectors never moves the quantizer. Returns a
      * handle rooted at `toPath`; the old directory is the caller's to
      * drop once nothing queries it.
      */
    def delete(ids: DataFrame, idCol: String, toPath: String): IvfIndex = {
      val ref = requireTable("delete")
      rewrite(ref, toPath,
        _.join(ids.select(col(idCol).cast("long").as("vid")), Seq("vid"), "left_anti"))
    }

    /** Small-file maintenance for a saved index: every [[append]] adds one
      * file per populated (task, bucket) pair. Rewrite the assignments
      * into `toPath` — one file per bucket, searches unchanged (mirrors
      * [[MinHashIndex.compact]], including reading the parquet FILES
      * rather than the catalog table so the rewrite never depends on the
      * table it is about to redefine). `newBuckets` > 0 RE-BUCKETS during
      * the compaction — deliberate geometry evolution for a corpus grown
      * past its build-time count — and records the new count in meta for
      * later opens; prior handles then carry a stale frozen count (their
      * `append` fails on the spec mismatch) — re-open after evolving.
      */
    def compact(toPath: String, newBuckets: Int = 0): IvfIndex =
      rewrite(requireTable("compact"), toPath, identity, newBuckets)

    /** Current mean squared quantization error of the index — the
      * distance between the corpus and its frozen quantizer, sampled
      * exactly as [[IvfIndex.save]] sampled the baseline (hash-ordered,
      * partitioning-invariant, driver cost bounded by `sampleSize`). The
      * observability primitive behind [[needsRetrain]], exposed so
      * operators can chart drift without committing to a retrain.
      */
    def quantError(sampleSize: Int = 10000, seed: Long = 42L): Double = {
      val ref = requireTable("quantError")
      val spark = baseAssigned.sparkSession
      IvfIndex.meanQuantError(
        spark.read.parquet(s"${ref.path}/assigned"), centroids,
        sampleSize, seed)
    }

    /** Quantizer-drift check — the retrain trigger an append-only IVF
      * needs: [[append]] freezes the centroids, so a corpus that grows
      * past the build-time distribution quantizes ever more coarsely and
      * the approximate regime (nprobe < nClusters) silently loses recall.
      * Drift is OBSERVED, not guessed: the baseline mean quantization
      * error persisted beside the centroids at save time is compared to
      * the error over the CURRENT corpus (same sampling discipline), and
      * the index wants a [[retrain]] once the ratio exceeds `tolerance`.
      * A stationary corpus stays ~1.0× through any number of appends; a
      * shifted one trips the ratio no matter how large the index has
      * grown — the check's cost is one sampled scan, never a rebuild.
      */
    def needsRetrain(tolerance: Double = 1.5): Boolean = {
      require(tolerance > 0, s"tolerance must be positive: $tolerance")
      val ref = requireTable("needsRetrain")
      val spark = baseAssigned.sparkSession
      val st = IvfIndex.readStats(spark, ref.path)
      quantError(st.sampleSize, st.seed) > st.mqe * tolerance
    }

    /** Close the [[needsRetrain]] wall: re-run sampled k-means over the
      * STORED vectors (no caller round-trip through the original
      * embedding table), re-assign the whole corpus to the new centroids
      * — the one full narrow pass a drifted quantizer must eventually pay
      * — and write centroids + assignments + a FRESH drift baseline to
      * `toPath`, re-pointing the same catalog table. The exact analogue
      * of [[SrpEmbedIndex.rebuild]] on the vector-quantization side:
      * cluster count is preserved (a retrain is a quantizer refresh, not
      * a shape change), search at nprobe = nClusters is exact over the
      * same corpus before and after, and the approximate regime recovers
      * the recall the drifted centroids had leaked. The old directory is
      * the caller's to drop once nothing queries it.
      */
    def retrain(
        toPath: String, iters: Int = 5, sampleSize: Int = 10000,
        seed: Long = 42L): IvfIndex = {
      val ref = requireTable("retrain")
      require(toPath != ref.path,
        s"retrain target must differ from current path: ${ref.path}")
      val spark = baseAssigned.sparkSession
      import spark.implicits._
      // files, not the catalog table — the write below re-points it
      val stored = spark.read.parquet(s"${ref.path}/assigned")
        .select("vid", "v")
      // hash-ordered sample: partitioning-invariant AND uncorrelated with
      // ids (the build-time df.sample needs the original table's layout,
      // which a retrain no longer has)
      val sample = stored
        .orderBy(xxhash64(col("vid"), lit(seed)), col("vid"))
        .limit(sampleSize)
        .select("v").as[Array[Double]].collect()
      require(sample.nonEmpty, "cannot retrain an empty index")
      val cents = IvfIndex.lloyd(sample, centroids.length, iters, seed)
      IvfIndex.writeCentroids(spark, toPath, cents)
      IvfIndex.writeIvfMeta(spark, toPath, ref.buckets)
      graft.sources.Sinks.bucketed(
        IvfIndex.assign(spark, stored, "vid", "v", cents)
          .repartition(ref.buckets, col("cluster")),
        ref.table, s"$toPath/assigned", ref.buckets, Seq("cluster"))
      val idx = new IvfIndex(cents, spark.table(ref.table),
        Some(ref.copy(path = toPath)))
      IvfIndex.writeStats(spark, toPath,
        idx.quantError(sampleSize, seed), sampleSize, seed)
      idx
    }

    private def requireTable(op: String): IvfIndex.TableRef =
      tableRef.getOrElse(throw new IllegalArgumentException(
        s"$op needs a table-backed index: IvfIndex.save(...) then IvfIndex.open(...)"))

    private def rewrite(
        ref: IvfIndex.TableRef, toPath: String,
        f: DataFrame => DataFrame, newBuckets: Int = 0): IvfIndex = {
      require(toPath != ref.path, s"rewrite target must differ from current path: ${ref.path}")
      require(newBuckets >= 0,
        s"newBuckets must be positive, or 0 to keep the current count: $newBuckets")
      val b = if (newBuckets > 0) newBuckets else ref.buckets
      val spark = baseAssigned.sparkSession
      val st = IvfIndex.readStats(spark, ref.path)
      // model-sized copy, driver-side (no Spark job): delete/compact move
      // data, never the quantizer
      IvfIndex.writeCentroids(spark, toPath,
        IvfIndex.readCentroids(spark, ref.path))
      IvfIndex.writeIvfMeta(spark, toPath, b)
      // repartition on cluster with numPartitions == buckets: bucket id is
      // hash pmod numBuckets, so each write task owns its bucket's rows —
      // one file per bucket (same reasoning as MinHashIndex.compact)
      graft.sources.Sinks.bucketed(
        f(spark.read.parquet(s"${ref.path}/assigned"))
          .repartition(b, col("cluster")),
        ref.table, s"$toPath/assigned", b, Seq("cluster"))
      // the drift BASELINE travels with the quantizer it describes —
      // delete/compact move data, never the centroids (after the assigned
      // write: writeStats re-counts the corpus at toPath)
      IvfIndex.writeStats(spark, toPath, st.mqe, st.sampleSize, st.seed)
      new IvfIndex(centroids, spark.table(ref.table),
        Some(ref.copy(path = toPath, buckets = b)))
    }

    /** Exact search within the `nprobe` clusters nearest to each query —
      * driver-Map query side, for small ad-hoc query batches. The probed
      * cluster ids are known driver-side here, so they are pushed as a
      * LITERAL `IN` filter on the base scan: over a [[IvfIndex.save]]d
      * index (bucketed on cluster) that prunes the read to the probed
      * buckets — the storage-level behavior a 100 TB IVF needs (read
      * nprobe/nClusters of the data, not all of it).
      */
    def search(queries: Map[Long, Array[Double]], k: Int, nprobe: Int): DataFrame = {
      val probes = queries.toSeq.flatMap { case (qid, qv) =>
        centroids.indices
          .sortBy(c => IvfIndex.l2sq(centroids(c), qv))
          .take(nprobe)
          .map(c => (qid, qv, c))
      }
      val spark = assigned.sparkSession
      import spark.implicits._
      scoreProbes(probes.toDF("query_id", "qv", "cluster"), k,
        pruneTo = Some(probes.map(_._3).distinct))
    }

    /** Exact search with a DataFrame query side: probe-cluster selection is
      * a narrow map against broadcast centroids, so a whole query *table*
      * works without ever materializing its VECTORS on the driver. The
      * probe frame is broadcast to the base side (the query side is the
      * small side by contract); the base table still never shuffles.
      *
      * The probed-cluster SET is collected to push the same literal `IN`
      * bucket filter the driver-Map path gets: it is bounded by nClusters
      * (distinct cluster ids, not probe rows), so the collect is always
      * index-model-sized — a saved index therefore reads only the probed
      * buckets on this path too. The probe frame has two consumers (this
      * collect + the scoring join), so it is `persist()`ed through the
      * [[CacheLedger]]: single evaluation even when `queries` is
      * non-deterministic upstream (sample/rand/limit — two independent
      * evaluations could prune clusters the scoring pass then probes,
      * silently dropping neighbors), without parking a checkpoint block
      * per search in executor storage until driver GC. The cached frame
      * is query-bounded (nprobe rows per query) and the ledger bound
      * evicts the oldest entries in long-lived sessions.
      *
      * `queries` must carry `idCol` (castable to long) and `vecCol`
      * (array of numeric).
      */
    def search(
        queries: DataFrame, idCol: String, vecCol: String,
        k: Int, nprobe: Int): DataFrame = {
      val spark = assigned.sparkSession
      import spark.implicits._
      val q = queries.select(col(idCol).cast("long").as("query_id"),
        transform(col(vecCol), x => x.cast("double")).as("qv"))
        .as[(Long, Array[Double])]
      val bc = spark.sparkContext.broadcast(centroids)
      val probes = ledgered(q.mapPartitions { it =>
        val cs = bc.value
        it.flatMap { case (qid, qv) =>
          cs.indices.sortBy(c => IvfIndex.l2sq(cs(c), qv)).take(nprobe)
            .map(c => (qid, qv, c))
        }
      }.toDF("query_id", "qv", "cluster").persist())
      val probed = probes.select("cluster").distinct()
        .collect().map(_.getInt(0)).toSeq
      scoreProbes(probes, k, pruneTo = Some(probed))
    }

    /** Shared scoring tail: join probe rows (query_id, qv, cluster) to the
      * assigned base vectors, exact cosine, per-query top-k. `pruneTo`
      * (when the probed clusters are known driver-side) becomes a literal
      * IN on the bucket column — bucket pruning on a saved index.
      */
    private def scoreProbes(
        probes: DataFrame, k: Int,
        pruneTo: Option[Seq[Int]] = None): DataFrame = {
      val w = Window.partitionBy("query_id")
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      val base = pruneTo match {
        case Some(cs) => assigned.filter(col("cluster").isin(cs.map(Int.box): _*))
        case None => assigned
      }
      base
        .join(broadcast(probes), Seq("cluster"))
        .filter(col("vid") =!= col("query_id"))
        .select(col("query_id"), col("vid").as("neighbor_id"),
          graft.plans.GraftFunctions.cosine(col("v"), col("qv")).as("cos"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= k)
        .select(col("query_id"), col("rank"), col("neighbor_id"), round(col("cos"), 3).as("cos"))
    }
  }

  object IvfIndex {
    /** Catalog/storage binding of a saved index: the registered table, its
      * bucket count (appends/rewrites must reuse it), and the directory
      * holding `centroids` + `assigned`.
      */
    final case class TableRef(table: String, buckets: Int, path: String)

    private[operators] def l2sq(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      s
    }

    /** Index of the nearest centroid — the inner loop of BOTH [[lloyd]]
      * and [[assign]], shared so the two argmins cannot diverge. A tight
      * imperative scan with an early-abandon bound: once the partial sum
      * exceeds the best distance so far the centroid cannot win, which
      * matters when the cluster count is corpus-derived (SemDeDup's
      * ⌈n/1024⌉ puts ~500 centroids in this loop at the 505k probe — the
      * closure-per-centroid `minBy` this replaces was ~40 s of driver
      * Lloyd there; first-index-wins ties match `minBy` exactly).
      */
    private[operators] def nearest(cents: Array[Array[Double]],
        v: Array[Double]): Int = {
      var best = 0; var bestD = Double.MaxValue; var c = 0
      while (c < cents.length) {
        val cent = cents(c)
        var s = 0.0; var i = 0
        val len = v.length
        while (i < len && s < bestD) {
          val d = cent(i) - v(i); s += d * d; i += 1
        }
        if (i == len && s < bestD) { bestD = s; best = c }
        c += 1
      }
      best
    }

    /** Train on ≤ `sampleSize` vectors pulled to the driver; assign every
      * base vector to its nearest centroid distributed-side.
      */
    def build(
        spark: SparkSession, emb: DataFrame, idCol: String, vecCol: String,
        nClusters: Int = 16, iters: Int = 5, sampleSize: Int = 10000,
        seed: Long = 42L, baseCount: Long = -1L): IvfIndex = {
      import spark.implicits._
      val base = emb.select(col(idCol).cast("long").as("vid"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
        .as[(Long, Array[Double])]
      // seeded random sample, NOT first-N-by-id: ids often correlate with
      // source/time, and centroids trained on one region have no recall
      // elsewhere. baseCount skips the count job when the caller already
      // knows n (the embeddingPairs/srpTopK knob).
      val total = if (baseCount >= 0L) baseCount else base.count()
      val fraction = math.min(1.0, sampleSize * 1.2 / math.max(total, 1L))
      val sample = base.sample(withReplacement = false, fraction, seed)
        .limit(sampleSize).collect().map(_._2)
      require(sample.nonEmpty, "empty embedding table")
      val cents = lloyd(sample, nClusters, iters, seed)
      new IvfIndex(cents, assign(spark, emb, idCol, vecCol, cents), None)
    }

    /** Lloyd's algorithm over a driver-side sample — shared by [[build]]
      * and [[IvfIndex.retrain]] so the two training paths cannot diverge
      * (identical init, identical update, identical empty-cluster rule).
      */
    private[operators] def lloyd(
        sample: Array[Array[Double]], nClusters: Int, iters: Int,
        seed: Long): Array[Array[Double]] = {
      val rnd = new scala.util.Random(seed)
      var cents = rnd.shuffle(sample.toIndexedSeq).take(nClusters).map(_.clone).toArray
      for (_ <- 0 until iters) {
        val sums = Array.fill(cents.length)(new Array[Double](sample.head.length))
        val counts = new Array[Long](cents.length)
        sample.foreach { v =>
          val c = nearest(cents, v)
          counts(c) += 1
          var i = 0; while (i < v.length) { sums(c)(i) += v(i); i += 1 }
        }
        cents = cents.indices.map { c =>
          if (counts(c) == 0) cents(c)
          else sums(c).map(_ / counts(c))
        }.toArray
      }
      cents
    }

    /** Sampled mean squared quantization error of (vid, v, cluster) rows
      * against `cents` — an id-hash RATE sample (~`sampleSize` rows
      * expected): deterministic and partitioning-invariant (membership is
      * a pure function of vid), and crucially a NARROW scan feeding a
      * map-side (sum, count) aggregate. The hash-ordered limit shape this
      * replaces was a TakeOrdered — per-partition top-10k heaps of vector
      * payloads merged through ONE task, i.e. partitions × sampleSize
      * vectors over the wire at cluster scale, for a statistic that only
      * needs an unbiased mean. Baselines and probes both measure the same
      * rate-sampled mean, so the drift ratio stays comparable as the
      * corpus grows (the rate re-derives from the current count; the
      * parquet row count is metadata-cheap).
      */
    private[operators] def meanQuantError(
        assigned: DataFrame, cents: Array[Array[Double]],
        sampleSize: Int, seed: Long): Double = {
      val spark = assigned.sparkSession
      import spark.implicits._
      val n = assigned.count()
      require(n > 0, "cannot measure quantization error of an empty index")
      val denom = 1000000L
      val thresh = math.min(denom,
        math.ceil(denom.toDouble * sampleSize / n).toLong)
      val bc = spark.sparkContext.broadcast(cents)
      val errs = assigned
        .select(col("vid").cast("long").as("vid"), col("v"),
          col("cluster").cast("int").as("cluster"))
        .filter(pmod(xxhash64(col("vid"), lit(seed)), lit(denom)) < thresh)
        .as[(Long, Array[Double], Int)]
        .mapPartitions { it =>
          val cs = bc.value
          it.map { case (_, v, c) => l2sq(v, cs(c)) }
        }
      val r = errs.toDF("e").agg(avg("e")).head()
      require(!r.isNullAt(0), "empty error sample - raise sampleSize")
      r.getDouble(0)
    }

    /** Drift baseline persisted beside the centroids: the save-time mean
      * quantization error plus the sampling parameters that produced it
      * (a later probe must re-measure the SAME statistic).
      */
    private[operators] final case class Stats(
        mqe: Double, n: Long, sampleSize: Int, seed: Long)

    private[operators] def writeStats(
        spark: SparkSession, path: String, mqe: Double,
        sampleSize: Int, seed: Long): Unit = {
      import org.json4s.JsonDSL._
      // corpus size from the assigned table's parquet FOOTERS — exact,
      // driver-side, where the count() here was a Spark job per save
      val n = FooterStats.dirRowCount(
        spark.sparkContext.hadoopConfiguration, s"$path/assigned")
      MetaIo.write(spark, s"$path/stats",
        ("mqe" -> mqe) ~ ("n" -> n) ~ ("sample_size" -> sampleSize) ~
          ("seed" -> seed))
    }

    /** The required drift baseline — an absent or corrupt stats record
      * fails needsRetrain loudly instead of silently disabling drift
      * observation.
      */
    private[operators] def readStats(
        spark: SparkSession, path: String): Stats = {
      import org.json4s.DefaultFormats
      implicit val fmts: DefaultFormats.type = DefaultFormats
      val j = MetaIo.read(spark, s"$path/stats")
      Stats((j \ "mqe").extract[Double], (j \ "n").extract[Long],
        (j \ "sample_size").extract[Int], (j \ "seed").extract[Long])
    }

    /** Storage geometry persisted beside the centroids, so [[open]] never
      * guesses the bucket count (a wrong count would make append throw
      * on the bucket-spec mismatch and delete/compact silently RE-BUCKET
      * the assignments).
      */
    private[operators] def writeIvfMeta(
        spark: SparkSession, path: String, buckets: Int): Unit = {
      import org.json4s.JsonDSL._
      MetaIo.write(spark, s"$path/meta", "buckets" -> buckets)
    }

    /** The required bucket count — an absent or corrupt meta fails the
      * open instead of handing the next compact a guessed geometry.
      */
    private[operators] def readIvfMeta(spark: SparkSession, path: String): Int = {
      import org.json4s.DefaultFormats
      implicit val fmts: DefaultFormats.type = DefaultFormats
      (MetaIo.read(spark, s"$path/meta") \ "buckets").extract[Int]
    }

    /** Centroids are MODEL-sized (nClusters × dim doubles) — persisted as
      * a driver-written JSON record: the one-row-parquet form cost a
      * Spark job to write at save/retrain and another (schema inference +
      * collect) at every open. Java's Double.toString round-trips
      * exactly, so the quantizer is bit-identical across the JSON hop.
      */
    private[operators] def writeCentroids(
        spark: SparkSession, path: String,
        cents: Array[Array[Double]]): Unit = {
      import org.json4s.JsonDSL._
      MetaIo.write(spark, s"$path/centroids",
        "centroids" -> cents.toSeq.map(_.toSeq))
    }

    /** Centroids ascending by cluster id. */
    private[operators] def readCentroids(
        spark: SparkSession, path: String): Array[Array[Double]] = {
      import org.json4s.DefaultFormats
      implicit val fmts: DefaultFormats.type = DefaultFormats
      (MetaIo.read(spark, s"$path/centroids") \ "centroids")
        .extract[Seq[Seq[Double]]].map(_.toArray).toArray
    }

    /** Nearest-centroid assignment: broadcast centroids, narrow map —
      * shared by [[build]] and [[IvfIndex.append]] so the two paths
      * cannot diverge.
      */
    private[operators] def assign(
        spark: SparkSession, emb: DataFrame, idCol: String, vecCol: String,
        cents: Array[Array[Double]]): DataFrame = {
      import spark.implicits._
      val base = emb.select(col(idCol).cast("long").as("vid"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
        .as[(Long, Array[Double])]
      val bc = spark.sparkContext.broadcast(cents)
      base.mapPartitions { it =>
        val cs = bc.value
        it.map { case (vid, v) =>
          (vid, v, nearest(cs, v))
        }
      }.toDF("vid", "v", "cluster")
    }

    /** Persist an index: centroids as one JSON record (nClusters × dim
      * doubles — always driver-sized), assignments as parquet BUCKETED on
      * cluster, so [[IvfIndex.search]]'s literal cluster filter prunes
      * the scan to the probed buckets. The assignment pass runs once,
      * here — [[open]] never recomputes it (the IVF analogue of
      * [[graft.operators.DedupIndex]]'s pay-once contract).
      */
    def save(idx: IvfIndex, name: String, path: String,
        buckets: Int = 16, sampleSize: Int = 10000,
        seed: Long = 42L): Unit = {
      val spark = idx.assigned.sparkSession
      writeCentroids(spark, path, idx.centroids)
      writeIvfMeta(spark, path, buckets)
      graft.sources.Sinks.bucketed(idx.assigned, s"${name}_ivf",
        s"$path/assigned", buckets, Seq("cluster"))
      // drift baseline: the error of THIS corpus under THIS quantizer at
      // save time — needsRetrain compares every later probe against it
      writeStats(spark, path,
        meanQuantError(spark.read.parquet(s"$path/assigned"), idx.centroids,
          sampleSize, seed),
        sampleSize, seed)
    }

    /** Re-open a saved index: centroids load to the driver (tiny), the
      * assignment table resolves lazily through the catalog with a
      * relation-cache refresh on every search (appends/compactions from
      * other sessions must be visible — same reasoning as
      * `DedupIndex.probe`). The bucket count loads from the required
      * meta (same rule as `DedupIndex.open`).
      */
    def open(spark: SparkSession, name: String, path: String): IvfIndex = {
      val cents = readCentroids(spark, path)
      require(cents.nonEmpty, s"no centroids at $path/centroids")
      val b = readIvfMeta(spark, path)
      spark.catalog.refreshTable(s"${name}_ivf")
      new IvfIndex(cents, spark.table(s"${name}_ivf"),
        Some(TableRef(s"${name}_ivf", b, path)))
    }
  }

  /** Recall@k of an approximate neighbor result against the exact one —
    * the acceptance metric every ANN index (SRP-LSH, IVF, PQ) is tuned
    * by. Both inputs are (query_id, neighbor_id[, ...]) top-k tables;
    * recall@k for a query = |approx ∩ exact| / |exact|. One equi-join on
    * (query, neighbor) + two aggs; the exact side is usually the small
    * evaluation sample, so the join broadcasts.
    *
    * @return (query_id, n_exact, n_hit, recall) per query plus the
    *         `macro_recall` average over queries in a 1-row summary —
    *         callers take `.perQuery` / `.summary` style via the two
    *         returned columns
    */
  def recallAtK(
      approx: DataFrame, exact: DataFrame,
      queryCol: String, neighborCol: String): DataFrame = {
    val a = approx.select(col(queryCol).as("q"), col(neighborCol).as("nb"))
    val e = exact.select(col(queryCol).as("q"), col(neighborCol).as("nb"))
    val hits = e.join(a, Seq("q", "nb"), "left_semi")
      .groupBy("q").agg(count(lit(1)).as("n_hit"))
    e.groupBy("q").agg(count(lit(1)).as("n_exact"))
      .join(hits, Seq("q"), "left")
      .select(col("q").as(queryCol), col("n_exact"),
        coalesce(col("n_hit"), lit(0L)).as("n_hit"),
        (coalesce(col("n_hit"), lit(0L)).cast("double") / col("n_exact"))
          .as("recall"))
  }

  /** Per-dimension z-score standardization of an embedding column — the
    * feature-normalization step before distance-based training or
    * indexing (unnormalized dimensions dominate L2; standardizing makes
    * cosine/L2 comparable across heterogeneous feature scales).
    *
    * Two-pass shape, both scale-safe: (1) corpus mean/stddev per
    * dimension from the tall (idx, v) explode — a map-side-combined
    * hash agg whose shuffle volume is dims × partitions, not rows;
    * (2) the stats fold into ONE row of (means[], stds[]) arrays,
    * broadcast, and the z projection runs NARROW over the original
    * array column (`transform` with the element index — the vectors
    * themselves never shuffle). Constant dimensions (std = 0) map to 0.
    *
    * @return (vid, zvec) with zvec = (v - mean) / std per dimension
    */
  def standardize(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val tall = emb
      .select(posexplode(col(vecCol)).as(Seq("idx", "v")))
      .select(col("idx"), col("v").cast("double").as("v"))
    val stats = tall.groupBy("idx")
      .agg(avg("v").as("mean"), stddev_pop(col("v")).as("std"))
    val statsRow = stats.agg(
        array_sort(collect_list(struct(col("idx"), col("mean")))).as("ms"),
        array_sort(collect_list(struct(col("idx"), col("std")))).as("ss"))
      .select(transform(col("ms"), s => s.getField("mean")).as("means"),
        transform(col("ss"), s => s.getField("std")).as("stds"))
    emb.crossJoin(broadcast(statsRow))
      .select(col(idCol).as("vid"),
        transform(col(vecCol), (x, i) =>
          when(element_at(col("stds"), i + 1) === 0.0, lit(0.0))
            .otherwise((x.cast("double") - element_at(col("means"), i + 1)) /
              element_at(col("stds"), i + 1))).as("zvec"))
  }

  /** Reciprocal-rank fusion (Cormack et al. 2009): merge the ranked lists
    * of several retrievers (BM25, dense cosine, …) into one consensus
    * ranking — score(d) = Σ_lists 1/(c + rank_d). Rank-based, so no
    * per-retriever score calibration is needed; c=60 is the published
    * default.
    *
    * Each input needs (`idCol`, `rankCol`) with rank ≥ 1. One union +
    * one map-side-combined hash agg — candidate-list-sized, never
    * corpus-sized. For > 2 lists, round the score before ordering on it:
    * a 3+-term double sum is association-sensitive in the last ulp.
    */
  def rrfFuse(
      rankings: Seq[DataFrame], idCol: String, rankCol: String,
      c: Int = 60): DataFrame = {
    require(rankings.size >= 2, "rrfFuse needs at least two ranked lists")
    require(c >= 0, s"c must be non-negative: $c")
    rankings
      .map(_.select(col(idCol),
        (lit(1.0) / (lit(c) + col(rankCol).cast("double"))).as("__rrf")))
      .reduce(_ unionByName _)
      .groupBy(idCol)
      .agg(sum("__rrf").as("rrf"), count(lit(1)).as("n_lists"))
  }

  /** Quantized sparse random projection (Johnson–Lindenstrauss via
    * Achlioptas ±1 signs): project each vector to `outDim` integer
    * components p_j = Σ_i ⌊v_i·scale⌋ · s(i,j) — the cheap
    * dimensionality-reduction pass before ANN indexing or sketching.
    *
    * The sign matrix is a pure function of (i, j): +1 iff the first hex
    * digit of md5("i:j") < '8' — reproducible in ANY engine with md5, so
    * the projection is SQL-oracle-checkable; quantizing inputs to
    * integers first makes the sum association-free (bit-exact under any
    * partitioning/engine). Signs are precomputed once on the driver
    * (dim × outDim, model-sized not data-sized) and shipped as a
    * broadcast literal; the projection itself is NARROW — no shuffle,
    * no join, no per-row hashing.
    */
  def randomProject(
      emb: DataFrame, idCol: String, vecCol: String,
      inDim: Int, outDim: Int, scale: Int = 1000): DataFrame = {
    require(inDim > 0 && outDim > 0, s"bad dims: $inDim -> $outDim")
    val md = java.security.MessageDigest.getInstance("MD5")
    val signs: Seq[Seq[Long]] = (0 until outDim).map { j =>
      (0 until inDim).map { i =>
        val b = md.digest(s"$i:$j".getBytes("UTF-8"))(0)
        if ((b & 0x80) == 0) 1L else -1L
      }
    }
    val signLit = typedLit(signs)
    emb.select(col(idCol), col(vecCol),
        transform(sequence(lit(0), lit(outDim - 1)), j =>
          aggregate(
            zip_with(col(vecCol), element_at(signLit, j + 1),
              (v, s) => floor(v.cast("double") * scale).cast("long") * s),
            lit(0L), (acc, x) => acc + x)).as("proj"))
  }
}
