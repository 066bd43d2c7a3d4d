package graft.operators

import graft.sources.Sinks
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF-PQ composite ANN index — the production 100 TB search shape
  * (Jégou et al., TPAMI 2011; the FAISS IVFPQ layout): a coarse k-means
  * quantizer prunes each search to `nprobe` clusters, product-quantized
  * codes rank the candidates by asymmetric distance within them. Storage
  * is m bytes/vector (32× under float32) BUCKETED BY CLUSTER, so a saved
  * index reads nprobe/nClusters of its buckets per search and never
  * touches a raw vector — the multiplicative combination of the IVF
  * index's read pruning and the PQ index's compression.
  *
  * Variant note: by default codes quantize the RAW vectors, not
  * per-cluster residuals. The raw variant keeps codes comparable across
  * clusters, which is what makes search at nprobe = nClusters EXACTLY
  * equal the flat [[Pq.adcTopK]] ranking under the same codebook
  * (spec-pinned) and lets one codebook survive a coarse-quantizer
  * retrain untouched. `residual = true` selects the published FAISS
  * IVFPQ recipe instead: the codebook trains on and encodes v −
  * centroid(cluster), so the PQ cells only have to cover intra-cluster
  * spread rather than the corpus diameter — materially better recall at
  * the SAME m bytes/vector (IvfPqSpec pins recall@k ≥ the raw variant
  * on a spread-cluster fixture). The cost is cluster-specific decoding:
  * codes are comparable only within a cluster — which the
  * per-(query, cluster) probe relation already enforces, each probe
  * scoring against a LUT built from ITS cluster's query residual — and
  * a coarse-quantizer retrain now invalidates the codes. The flag lives
  * in the index meta (`open` reads it, never guesses the variant).
  *
  * Maintenance mirrors the component indexes: counted-idempotent
  * [[IvfPqIndex.append]], anti-join [[IvfPqIndex.delete]] /
  * [[IvfPqIndex.compact]] rewrites, coarse-quantizer drift observed via
  * [[Similarity.IvfIndex]]-style baselines on the caller's side
  * (re-clustering means re-bucketing: rebuild through [[build]]).
  */
object IvfPq extends CacheLedger {

  /** Train both quantizers and materialize the index at `path`: coarse
    * centroids (driver-sized parquet), PQ codebook (driver-sized, with
    * its trainMse drift baseline), and ONE narrow assign+encode pass over
    * the corpus into a codes table bucketed on cluster. Table-backed from
    * birth — the composite exists for its storage layout.
    */
  def build(
      emb: DataFrame, idCol: String, vecCol: String,
      name: String, path: String,
      nClusters: Int = 16, m: Int = 8, kCodes: Int = 16, iters: Int = 5,
      sampleSize: Int = 10000, seed: Long = 42L,
      buckets: Int = 16, residual: Boolean = false): IvfPqIndex = {
    val spark = emb.sparkSession
    import spark.implicits._
    val base = emb.select(col(idCol).cast("long").as("vid"),
      transform(col(vecCol), x => x.cast("double")).as("v"))
    // coarse quantizer: same seeded-sample + Lloyd's discipline as
    // IvfIndex.build (shared lloyd — the training paths cannot diverge)
    val total = base.count()
    val fraction = math.min(1.0, sampleSize * 1.2 / math.max(total, 1L))
    val sample = base.as[(Long, Array[Double])]
      .sample(withReplacement = false, fraction, seed)
      .limit(sampleSize).collect().map(_._2)
    require(sample.nonEmpty, "empty embedding table")
    val cents = Similarity.IvfIndex.lloyd(sample, nClusters, iters, seed)
    // share the count this build just paid: Pq.train's baseline MSE
    // measurement would otherwise re-count the corpus. The residual
    // variant trains on v − centroid(cluster) — a narrow map, no
    // shuffle — so the codebook's cells cover intra-cluster spread only
    val bcC0 = spark.sparkContext.broadcast(cents)
    val trainInput =
      if (residual)
        base.as[(Long, Array[Double])].mapPartitions { it =>
          val cs = bcC0.value
          it.map { case (vid, v) =>
            (vid, subtract(v, cs(Similarity.IvfIndex.nearest(cs, v))))
          }
        }.toDF("vid", "v")
      else emb
    val cb =
      if (residual) Pq.train(trainInput, "vid", "v", m, kCodes, iters,
        sampleSize, seed, baseCount = total)
      else Pq.train(emb, idCol, vecCol, m, kCodes, iters, sampleSize,
        seed, baseCount = total)
    Similarity.IvfIndex.writeCentroids(spark, path, cents)
    Pq.writeCodebook(spark, path, cb, buckets)
    writeVariant(spark, path, residual)
    // one narrow pass: nearest-centroid assign + PQ encode per vector —
    // neither quantizer shuffles the corpus
    val bcCb = spark.sparkContext.broadcast(cb)
    val coded = base.as[(Long, Array[Double])].mapPartitions { it =>
      val cs = bcC0.value; val c = bcCb.value
      it.map { case (vid, v) =>
        val cl = Similarity.IvfIndex.nearest(cs, v)
        (vid, cl, c.encodeVec(if (residual) subtract(v, cs(cl)) else v))
      }
    }.toDF("vid", "cluster", "codes")
    Sinks.bucketed(coded.repartition(buckets, col("cluster")),
      s"${name}_ivfpq", s"$path/codes", buckets, Seq("cluster"))
    new IvfPqIndex(spark, cents, cb, s"${name}_ivfpq", path, buckets, residual)
  }

  private[operators] def subtract(a: Array[Double], b: Array[Double]): Array[Double] = {
    val out = new Array[Double](a.length)
    var i = 0
    while (i < a.length) { out(i) = a(i) - b(i); i += 1 }
    out
  }

  private def writeVariant(spark: SparkSession, path: String,
      residual: Boolean): Unit = {
    import org.json4s.JsonDSL._
    MetaIo.write(spark, s"$path/variant", "residual" -> residual)
  }

  private def readVariant(spark: SparkSession, path: String): Boolean = {
    import org.json4s.DefaultFormats
    implicit val fmts: DefaultFormats.type = DefaultFormats
    (MetaIo.read(spark, s"$path/variant") \ "residual").extract[Boolean]
  }

  /** Re-open a saved index: both quantizers load to the driver (always
    * model-sized), codes resolve lazily through the catalog with a
    * relation-cache refresh per access. The bucket count loads from the
    * required codebook record (a guessed count would make append throw
    * and compact/delete silently re-bucket).
    */
  def open(spark: SparkSession, name: String, path: String): IvfPqIndex = {
    val cents = Similarity.IvfIndex.readCentroids(spark, path)
    require(cents.nonEmpty, s"no centroids at $path/centroids")
    val (cb, buckets) = Pq.readCodebook(spark, path)
    new IvfPqIndex(spark, cents, cb, s"${name}_ivfpq", path, buckets,
      readVariant(spark, path))
  }

  final class IvfPqIndex private[operators] (
      spark: SparkSession,
      val centroids: Array[Array[Double]],
      val cb: Pq.Codebook,
      val codesTable: String,
      val path: String,
      val buckets: Int,
      val residual: Boolean) {

    /** The stored (vid, cluster, codes) relation, catalog-fresh. */
    def codes: DataFrame = {
      spark.catalog.refreshTable(codesTable)
      spark.table(codesTable)
    }

    def indexedVectors(): Long = codes.count()

    /** ADC top-k within the `nprobe` clusters nearest each query. The
      * probed-cluster set is known driver-side, so it pushes as a literal
      * `IN` on the bucket column — the scan reads only the probed buckets
      * — and each query scores ONLY against its own probed clusters (the
      * per-(query, cluster) probe relation joins the pruned codes, so a
      * cluster probed by one query never leaks candidates into another's
      * ranking). LUTs build once per (partition, query).
      */
    def search(
        queries: Map[Long, Array[Double]], k: Int, nprobe: Int): DataFrame = {
      import spark.implicits._
      val probes: Seq[(Long, Int)] = queries.toSeq.sortBy(_._1)
        .flatMap { case (qid, qv) =>
          centroids.indices
            .sortBy(c => Similarity.IvfIndex.l2sq(centroids(c), qv))
            .take(nprobe)
            .map(c => (qid, c))
        }
      val probed = probes.map(_._2).distinct
      val bcCb = spark.sparkContext.broadcast(cb)
      val bcQ = spark.sparkContext.broadcast(queries)
      val bcCents = spark.sparkContext.broadcast(centroids)
      val res = residual // local copy: the closure must not capture `this`
      val scored = codes
        .filter(col("cluster").isin(probed.map(Int.box): _*))
        .join(broadcast(probes.toDF("query_id", "cluster")), Seq("cluster"))
        .filter(col("vid") =!= col("query_id"))
        .select(col("query_id"), col("cluster"), col("vid"), col("codes"))
        .as[(Long, Int, Long, Array[Int])]
        .mapPartitions { it =>
          val c = bcCb.value; val qs = bcQ.value; val cs = bcCents.value
          // residual codes live in per-cluster space, so the LUT keys on
          // (query, cluster) and scores the query's residual against
          // THAT centroid (‖q−x‖ = ‖(q−c)−(x−c)‖); raw codes collapse
          // the key so exactly one LUT builds per query, as before
          val luts = scala.collection.mutable
            .HashMap.empty[(Long, Int), Array[Array[Double]]]
          it.map { case (qid, cl, vid, codes) =>
            val lut = luts.getOrElseUpdate((qid, if (res) cl else -1),
              Pq.buildLut(c,
                if (res) IvfPq.subtract(qs(qid), cs(cl)) else qs(qid)))
            (qid, vid, Pq.adcDist(lut, codes))
          }
        }.toDF("query_id", "neighbor_id", "adist")
      Pq.adcRank(scored, k)
    }

    /** [[search]] with a DataFrame query side — probe-cluster selection is
      * a narrow map against the broadcast centroids, so a whole query
      * TABLE searches without its vectors ever visiting the driver (the
      * composite twin of [[Similarity.IvfIndex]]'s DataFrame path). The
      * probe frame (query_id, qv, cluster) is persisted through the
      * [[CacheLedger]] so its two consumers — the probed-cluster collect
      * (bounded by nClusters) and the scoring join — see ONE evaluation
      * even under a non-deterministic query frame; per-query LUTs build
      * lazily inside each scan partition from the qv carried on the
      * joined row.
      */
    def search(
        queries: DataFrame, idCol: String, vecCol: String,
        k: Int, nprobe: Int): DataFrame = {
      import spark.implicits._
      val q = queries.select(col(idCol).cast("long").as("query_id"),
        transform(col(vecCol), x => x.cast("double")).as("qv"))
        .as[(Long, Array[Double])]
      val bcC = spark.sparkContext.broadcast(centroids)
      val probes = IvfPq.ledgered(q.mapPartitions { it =>
        val cs = bcC.value
        it.flatMap { case (qid, qv) =>
          cs.indices.sortBy(c => Similarity.IvfIndex.l2sq(cs(c), qv))
            .take(nprobe)
            .map(c => (qid, qv, c))
        }
      }.toDF("query_id", "qv", "cluster").persist())
      val probed = probes.select("cluster").distinct()
        .collect().map(_.getInt(0)).toSeq
      val bcCb = spark.sparkContext.broadcast(cb)
      val res = residual // local copy: the closure must not capture `this`
      val scored = codes
        .filter(col("cluster").isin(probed.map(Int.box): _*))
        .join(broadcast(probes), Seq("cluster"))
        .filter(col("vid") =!= col("query_id"))
        .select(col("query_id"), col("qv"), col("cluster"), col("vid"),
          col("codes"))
        .as[(Long, Array[Double], Int, Long, Array[Int])]
        .mapPartitions { it =>
          val c = bcCb.value; val cs = bcC.value
          val luts = scala.collection.mutable
            .HashMap.empty[(Long, Int), Array[Array[Double]]]
          it.map { case (qid, qv, cl, vid, codes) =>
            val lut = luts.getOrElseUpdate((qid, if (res) cl else -1),
              Pq.buildLut(c, if (res) IvfPq.subtract(qv, cs(cl)) else qv))
            (qid, vid, Pq.adcDist(lut, codes))
          }
        }.toDF("query_id", "neighbor_id", "adist")
      Pq.adcRank(scored, k)
    }

    /** Assign + encode + fold a batch in — same counted-drops idempotence
      * contract as every other index append ([[MinHashIndex.append]]).
      * @return rows actually appended; a full redelivery returns 0
      */
    def append(emb: DataFrame, idCol: String, vecCol: String): Long = {
      spark.catalog.refreshTable(codesTable)
      import spark.implicits._
      val bcC = spark.sparkContext.broadcast(centroids)
      val bcCb = spark.sparkContext.broadcast(cb)
      val res = residual // local copy: the closure must not capture `this`
      val coded = emb.select(col(idCol).cast("long").as("vid"),
          transform(col(vecCol), x => x.cast("double")).as("v"))
        .as[(Long, Array[Double])]
        .mapPartitions { it =>
          val cs = bcC.value; val c = bcCb.value
          it.map { case (vid, v) =>
            val cl = Similarity.IvfIndex.nearest(cs, v)
            (vid, cl,
              c.encodeVec(if (res) IvfPq.subtract(v, cs(cl)) else v))
          }
        }.toDF("vid", "cluster", "codes")
      GuardedAppend(spark, coded, "vid", codesTable, "vector") { kept =>
        kept.write.mode(org.apache.spark.sql.SaveMode.Append)
          .bucketBy(buckets, "cluster")
          .saveAsTable(codesTable)
      }
    }

    /** Continuous-ingest ANN at the composite layout: a vector STREAM
      * folded in through per-batch [[append]] via the shared
      * [[IndexStream]] harness — both quantizers stay frozen, appends are
      * idempotent under redelivery, and after any prefix of batches the
      * index equals a batch build-plus-append over the vectors delivered
      * so far (same contract as [[Similarity.IvfIndex.appendStream]]).
      */
    def appendStream(
        vectors: DataFrame, idCol: String, vecCol: String,
        checkpointDir: String): Unit =
      IndexStream.run(vectors, checkpointDir) { batch =>
        append(batch, idCol, vecCol); ()
      }

    /** Retraction: anti-join rewrite into `toPath`, same bucket spec —
      * doubles as a [[compact]]. Both quantizers are copied verbatim
      * (deleting vectors never moves either).
      */
    def delete(ids: DataFrame, idCol: String, toPath: String): IvfPqIndex =
      rewrite(toPath,
        _.join(ids.select(col(idCol).cast("long").as("vid")), Seq("vid"), "left_anti"))

    /** Small-file maintenance: one file per bucket, searches unchanged.
      * `newBuckets` > 0 RE-BUCKETS (geometry evolution), recorded in the
      * codebook meta for later opens.
      */
    def compact(toPath: String, newBuckets: Int = 0): IvfPqIndex =
      rewrite(toPath, identity, newBuckets)

    private def rewrite(
        toPath: String, f: DataFrame => DataFrame,
        newBuckets: Int = 0): IvfPqIndex = {
      require(toPath != path, s"rewrite target must differ from current path: $path")
      require(newBuckets >= 0,
        s"newBuckets must be positive, or 0 to keep the current count: $newBuckets")
      val b = if (newBuckets > 0) newBuckets else buckets
      // model-sized copy, driver-side; the codebook meta is REWRITTEN
      // (not copied) so the bucket count it records is the one just used
      Similarity.IvfIndex.writeCentroids(spark, toPath,
        Similarity.IvfIndex.readCentroids(spark, path))
      Pq.writeCodebook(spark, toPath, cb, b)
      writeVariant(spark, toPath, residual)
      Sinks.bucketed(
        f(spark.read.parquet(s"$path/codes"))
          .repartition(b, col("cluster")),
        codesTable, s"$toPath/codes", b, Seq("cluster"))
      new IvfPqIndex(spark, centroids, cb, codesTable, toPath, b, residual)
    }
  }
}
