package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ): compress a d-dim embedding into `m` small
  * codes by splitting each vector into m contiguous subvectors and
  * k-means-quantizing each subspace independently (Jégou et al., "Product
  * Quantization for Nearest Neighbor Search", TPAMI 2011). A 64-dim float
  * vector becomes m=8 one-byte codes — 32× smaller — while asymmetric
  * distance computation (ADC) still ranks neighbors with per-subspace
  * lookup tables instead of full-vector arithmetic.
  *
  * Scale shape mirrors [[Similarity.IvfIndex]]: codebooks train on a
  * bounded driver-side sample (m·k·dsub doubles — a few KB — regardless
  * of corpus size), broadcast to executors; encoding is a narrow
  * `mapPartitions` pass (no shuffle of the base table); ADC search
  * broadcasts the per-query lookup tables (queries × m × k doubles) and
  * scans codes, shuffling only the top-k candidates for the final rank.
  * Like HLL / approx-quantile, PQ output is sketch-specific by design —
  * certified by PqSpec invariants (determinism, feasibility, recall on
  * separated clusters), not a SQL oracle.
  */
object Pq {

  /** Trained per-subspace codebooks: `cents(sub)(code)` is the `dsub`-dim
    * centroid for `code` in subspace `sub`. Total size m·k·dsub doubles.
    *
    * `trainMse` — mean squared CORPUS reconstruction error recorded at
    * train time: the drift baseline [[Pq.needsRetrain]] compares against
    * (the PQ twin of the IVF index's persisted `stats`). It travels with
    * the codebook wherever it is broadcast or stored — TOGETHER with the
    * rate-sample parameters it was measured under (`mseSampleSize`,
    * `mseSeed`): a later probe must re-measure the SAME statistic on the
    * SAME deterministic sample scheme, or drift comparisons on an
    * id-heterogeneous corpus would mix two different estimators (the
    * IVF twin's `Stats(sampleSize, seed)` rule).
    */
  final class Codebook private[Pq] (
      val m: Int, val k: Int, val dsub: Int,
      private[Pq] val cents: Array[Array[Array[Double]]],
      val trainMse: Double = Double.NaN,
      val mseSampleSize: Int = 10000,
      val mseSeed: Long = 42L) extends Serializable {

    /** Nearest-centroid codes for one vector (length m). */
    private[operators] def encodeVec(v: Array[Double]): Array[Int] =
      Array.tabulate(m) { sub =>
        val off = sub * dsub
        var best = 0; var bestD = Double.MaxValue; var c = 0
        while (c < k) {
          val cent = cents(sub)(c)
          var d = 0.0; var i = 0
          while (i < dsub) { val x = v(off + i) - cent(i); d += x * x; i += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        best
      }

    /** Reconstruction (decode) of a code vector. */
    private[operators] def decode(codes: Array[Int]): Array[Double] = {
      val out = new Array[Double](m * dsub)
      var sub = 0
      while (sub < m) {
        System.arraycopy(cents(sub)(codes(sub)), 0, out, sub * dsub, dsub)
        sub += 1
      }
      out
    }
  }

  private def asVectors(emb: DataFrame, idCol: String, vecCol: String) = {
    val spark = emb.sparkSession
    import spark.implicits._
    emb.select(col(idCol).cast("long").as("vid"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .as[(Long, Array[Double])]
  }

  /** Train codebooks on ≤ `sampleSize` vectors pulled to the driver —
    * a hash-ordered pseudo-random sample (ids often correlate with
    * source/time, so first-N would bias every subspace; hash order is
    * uncorrelated with both AND partitioning-invariant, unlike
    * `df.sample`, whose per-partition draw changes with the layout) —
    * then Lloyd's algorithm per subspace. The sample is a
    * TakeOrderedAndProject (per-partition top-N, k-way merge); driver
    * cost is O(sampleSize · d · k · iters), independent of corpus size.
    */
  def train(
      emb: DataFrame, idCol: String, vecCol: String,
      m: Int = 8, k: Int = 16, iters: Int = 5,
      sampleSize: Int = 10000, seed: Long = 42L,
      baseCount: Long = -1L): Codebook = {
    val spark = emb.sparkSession
    import spark.implicits._
    val sample = asVectors(emb, idCol, vecCol).toDF("vid", "v")
      .orderBy(xxhash64(col("vid"), lit(seed)), col("vid"))
      .limit(sampleSize)
      .select("v").as[Array[Double]].collect()
    require(sample.length >= k,
      s"need at least k=$k vectors to train ${k}-centroid codebooks, got ${sample.length}")
    val d = sample.head.length
    require(d % m == 0, s"dim $d must divide into m=$m subspaces")
    val dsub = d / m
    val rnd = new scala.util.Random(seed)
    val cents = Array.tabulate(m) { sub =>
      val off = sub * dsub
      val slices = sample.map(v => java.util.Arrays.copyOfRange(v, off, off + dsub))
      var cs = rnd.shuffle(slices.toIndexedSeq).take(k).map(_.clone).toArray
      for (_ <- 0 until iters) {
        val sums = Array.fill(cs.length)(new Array[Double](dsub))
        val counts = new Array[Long](cs.length)
        slices.foreach { s =>
          val c = Similarity.IvfIndex.nearest(cs, s)
          counts(c) += 1
          var i = 0; while (i < dsub) { sums(c)(i) += s(i); i += 1 }
        }
        cs = cs.indices.map { c =>
          if (counts(c) == 0) cs(c) else sums(c).map(_ / counts(c))
        }.toArray
      }
      cs
    }
    // drift baseline over the CORPUS, not the training sample: k-means
    // error on its own training points is optimistically biased, which
    // would start the needsRetrain ratio above 1.0 on a stationary corpus
    // and silently eat tolerance headroom — measure the SAME statistic
    // needsRetrain later probes (the IVF twin does likewise: its baseline
    // is the save-time corpus error, never the training-sample error)
    val cb0 = new Codebook(m, k, dsub, cents)
    new Codebook(m, k, dsub, cents,
      currentMse(emb, idCol, vecCol, cb0, sampleSize, seed, baseCount),
      sampleSize, seed)
  }

  /** Sampled mean squared reconstruction error of the CURRENT corpus under
    * `cb` — the drift statistic [[needsRetrain]] compares to the
    * codebook's `trainMse`. An id-hash RATE sample (~`sampleSize` rows
    * expected): deterministic, partitioning-invariant, and a NARROW scan
    * into a map-side aggregate — never a TakeOrdered merging per-partition
    * sample heaps through one task (see
    * [[Similarity.IvfIndex.meanQuantError]] for the scale argument).
    */
  def currentMse(
      emb: DataFrame, idCol: String, vecCol: String, cb: Codebook,
      sampleSize: Int = 10000, seed: Long = 42L,
      baseCount: Long = -1L): Double = {
    val spark = emb.sparkSession
    import spark.implicits._
    val vs = asVectors(emb, idCol, vecCol).toDF("vid", "v")
    val n = if (baseCount >= 0L) baseCount else vs.count()
    require(n > 0, "cannot measure reconstruction error of an empty table")
    val denom = 1000000L
    val thresh = math.min(denom,
      math.ceil(denom.toDouble * sampleSize / n).toLong)
    val bc = spark.sparkContext.broadcast(cb)
    val r = vs
      .filter(pmod(xxhash64(col("vid"), lit(seed)), lit(denom)) < thresh)
      .select("v").as[Array[Double]]
      .mapPartitions { it =>
        val c = bc.value
        it.map { v =>
          val d = c.decode(c.encodeVec(v))
          var e = 0.0; var i = 0
          while (i < v.length) { val x = v(i) - d(i); e += x * x; i += 1 }
          e
        }
      }
      .toDF("e").agg(avg("e")).head()
    require(!r.isNullAt(0), "empty error sample - raise sampleSize")
    r.getDouble(0)
  }

  /** Codebook-drift check — the retrain trigger frozen PQ codebooks need:
    * a corpus that grows past the training distribution reconstructs ever
    * more coarsely and ADC rankings silently lose fidelity. True once the
    * current sampled reconstruction error exceeds `tolerance` × the
    * train-time baseline carried on the codebook. Codebooks trained
    * before the baseline existed (trainMse = NaN) cannot demonstrate they
    * have NOT drifted — loudly ask for a retrain to establish one.
    */
  def needsRetrain(
      emb: DataFrame, idCol: String, vecCol: String, cb: Codebook,
      tolerance: Double = 1.5, baseCount: Long = -1L): Boolean = {
    require(tolerance > 0, s"tolerance must be positive: $tolerance")
    if (cb.trainMse.isNaN)
      throw new IllegalStateException(
        "codebook carries no drift baseline (trained before trainMse " +
          "existed) — retrain to establish one")
    // the probe re-measures under the codebook's OWN stored sampling
    // parameters, never caller defaults — baseline and probe must be the
    // same estimator on the same deterministic sample scheme
    currentMse(emb, idCol, vecCol, cb, cb.mseSampleSize, cb.mseSeed,
      baseCount) > cb.trainMse * tolerance
  }

  /** Close the [[needsRetrain]] wall: re-train codebooks of the SAME
    * shape (m, k — a retrain is a quantizer refresh, not a layout change)
    * on the current corpus, baseline included. Callers re-[[encode]]
    * afterwards; stored codes from the old codebook are not comparable.
    */
  def retrain(
      emb: DataFrame, idCol: String, vecCol: String, cb: Codebook,
      iters: Int = 5, baseCount: Long = -1L): Codebook =
    train(emb, idCol, vecCol, m = cb.m, k = cb.k, iters = iters,
      sampleSize = cb.mseSampleSize, seed = cb.mseSeed,
      baseCount = baseCount)

  /** PQ-encode every vector: (vid, codes array&lt;int&gt;). Narrow — the
    * broadcast codebook goes to the data, the base table never shuffles.
    */
  def encode(emb: DataFrame, idCol: String, vecCol: String, cb: Codebook): DataFrame =
    encodeWith(emb, idCol, vecCol,
      emb.sparkSession.sparkContext.broadcast(cb))

  private def encodeWith(
      emb: DataFrame, idCol: String, vecCol: String,
      bc: org.apache.spark.broadcast.Broadcast[Codebook]): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    asVectors(emb, idCol, vecCol)
      .mapPartitions { it => val c = bc.value; it.map { case (vid, v) => (vid, c.encodeVec(v)) } }
      .toDF("vid", "codes")
  }

  /** Corpus-level compression quality report (1 row): vector count, mean /
    * max squared reconstruction error, and the mean squared norm for
    * reference (mse / msn = the fraction of signal energy lost).
    */
  def reconstructionStats(emb: DataFrame, idCol: String, vecCol: String, cb: Codebook): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(cb)
    asVectors(emb, idCol, vecCol)
      .mapPartitions { it =>
        val c = bc.value
        it.map { case (_, v) =>
          val r = c.decode(c.encodeVec(v))
          var e = 0.0; var n = 0.0; var i = 0
          while (i < v.length) { val x = v(i) - r(i); e += x * x; n += v(i) * v(i); i += 1 }
          (e, n)
        }
      }
      .toDF("err", "norm")
      .agg(count(lit(1)).as("n"),
        round(avg(col("err")), 6).as("mse"),
        round(max(col("err")), 6).as("max_se"),
        round(avg(col("norm")), 6).as("msn"))
  }

  /** ADC top-k: for each query id, rank the PQ-encoded corpus by
    * asymmetric L2 distance — the query stays exact, each base vector is
    * its reconstruction, and the distance is a sum of m table lookups.
    * Query LUTs (queries × m × k) are built once per partition from the
    * broadcast codebook + query vectors. Output (query_id, rank,
    * neighbor_id, adist) — rank by distance asc, id asc.
    */
  def adcTopK(
      emb: DataFrame, idCol: String, vecCol: String, cb: Codebook,
      queryIds: Seq[Long], k: Int): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val qVecs: Array[(Long, Array[Double])] =
      asVectors(emb.filter(col(idCol).isin(queryIds: _*)), idCol, vecCol).collect()
    val missing = queryIds.distinct.toSet -- qVecs.map(_._1).toSet
    require(missing.isEmpty,
      s"query ids absent from the embedding table: ${missing.toSeq.sorted.mkString(",")}")
    val bcCb = spark.sparkContext.broadcast(cb)
    adcScore(encodeWith(emb, idCol, vecCol, bcCb).as[(Long, Array[Int])],
      bcCb, qVecs, k)
  }

  /** Shared ADC scoring tail over (vid, codes) rows — used by [[adcTopK]]
    * (codes computed on the fly) and [[PqIndex.search]] (codes read from
    * the stored table), so the two ranking paths cannot diverge.
    */
  /** LUT(sub)(code) = ||q_sub − cent(sub)(code)||² — the per-query table
    * every ADC variant (flat scan, stored codes, IVF-PQ) sums over.
    */
  private[operators] def buildLut(
      c: Codebook, qv: Array[Double]): Array[Array[Double]] =
    Array.tabulate(c.m, c.k) { (sub, code) =>
      val cent = c.cents(sub)(code); val off = sub * c.dsub
      var d = 0.0; var i = 0
      while (i < c.dsub) { val x = qv(off + i) - cent(i); d += x * x; i += 1 }
      d
    }

  /** Asymmetric distance: m table lookups. */
  private[operators] def adcDist(
      lut: Array[Array[Double]], codes: Array[Int]): Double = {
    var d = 0.0; var sub = 0
    while (sub < codes.length) { d += lut(sub)(codes(sub)); sub += 1 }
    d
  }

  /** Per-query top-k over (query_id, neighbor_id, adist) rows — the rank
    * tail shared by every ADC variant.
    */
  private[operators] def adcRank(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("query_id")
      .orderBy(col("adist").asc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
        round(col("adist"), 3).as("adist"))
  }

  private def adcScore(
      codes: org.apache.spark.sql.Dataset[(Long, Array[Int])],
      bcCb: org.apache.spark.broadcast.Broadcast[Codebook],
      qVecs: Array[(Long, Array[Double])], k: Int): DataFrame = {
    val spark = codes.sparkSession
    import spark.implicits._
    val bcQ = spark.sparkContext.broadcast(qVecs)
    val scored = codes
      .mapPartitions { it =>
        val c = bcCb.value
        val qs = bcQ.value
        val lut = qs.map { case (_, qv) => buildLut(c, qv) }
        it.flatMap { case (vid, codes) =>
          qs.indices.iterator.collect { case qi if qs(qi)._1 != vid =>
            (qs(qi)._1, vid, adcDist(lut(qi), codes))
          }
        }
      }
      .toDF("query_id", "neighbor_id", "adist")
    adcRank(scored, k)
  }

  /** Codebook persistence shared by [[saveIndex]]/[[openIndex]] and the
    * IVF-PQ composite — meta (shape + drift baseline + the index's
    * bucket count, so open() never guesses storage geometry: a guessed
    * count would make append throw on the spec mismatch
    * and compact/delete silently RE-BUCKET the codes table) and
    * per-subspace centroids, both driver-sized.
    */
  private[operators] def writeCodebook(
      spark: SparkSession, path: String, cb: Codebook, buckets: Int): Unit = {
    import org.json4s.JsonDSL._
    // model-sized (m·k·dsub doubles), driver-written JSON: the two-parquet
    // form cost a Spark job per save AND per open (schema inference +
    // collect). Double.toString round-trips exactly; trainMse can be NaN
    // (unmeasured), which JSON cannot express — MetaIo encodes it null.
    MetaIo.write(spark, s"$path/codebook/meta",
      ("m" -> cb.m) ~ ("k" -> cb.k) ~ ("dsub" -> cb.dsub) ~
        ("train_mse" -> MetaIo.jsonDouble(cb.trainMse)) ~
        ("buckets" -> buckets) ~
        ("mse_sample_size" -> cb.mseSampleSize) ~
        ("mse_seed" -> cb.mseSeed) ~
        ("cents" -> cb.cents.toSeq.map(_.toSeq.map(_.toSeq))))
  }

  /** @return the codebook plus the persisted bucket count */
  private[operators] def readCodebook(
      spark: SparkSession, path: String): (Codebook, Int) = {
    import org.json4s.DefaultFormats
    implicit val fmts: DefaultFormats.type = DefaultFormats
    val j = MetaIo.read(spark, s"$path/codebook/meta")
    val cents = (j \ "cents").extract[Seq[Seq[Seq[Double]]]]
      .map(_.map(_.toArray).toArray).toArray
    (new Codebook((j \ "m").extract[Int], (j \ "k").extract[Int],
      (j \ "dsub").extract[Int], cents,
      MetaIo.doubleOf(j \ "train_mse"),
      (j \ "mse_sample_size").extract[Int],
      (j \ "mse_seed").extract[Long]),
      (j \ "buckets").extract[Int])
  }

  /** Persist an index: codebook as one driver-written JSON record
    * (shape + per-subspace centroids, trainMse included — the drift
    * baseline travels with the quantizer it describes) and the encoded
    * corpus as a BUCKETED codes table. Encoding runs ONCE, here —
    * [[openIndex]] never re-encodes (the PQ analogue of the other
    * indexes' pay-once contract, and the point of PQ at scale: a 64-dim
    * float corpus rests at m bytes/vector, 32× smaller, and every later
    * search scans codes, not vectors).
    */
  def saveIndex(
      emb: DataFrame, idCol: String, vecCol: String, cb: Codebook,
      name: String, path: String, buckets: Int = 32): PqIndex = {
    val spark = emb.sparkSession
    writeCodebook(spark, path, cb, buckets)
    graft.sources.Sinks.bucketed(
      encode(emb, idCol, vecCol, cb).repartition(buckets, col("vid")),
      s"${name}_pqcodes", s"$path/codes", buckets, Seq("vid"))
    new PqIndex(spark, cb, s"${name}_pqcodes", path, buckets)
  }

  /** Re-open a saved index: the codebook loads to the driver (m·k·dsub
    * doubles — always model-sized), codes resolve lazily through the
    * catalog with a relation-cache refresh per access (appends from any
    * session must be visible — same contract as the other indexes). The
    * bucket count loads from the required codebook record (same rule as
    * `DedupIndex.open`).
    */
  def openIndex(spark: SparkSession, name: String, path: String): PqIndex = {
    val (cb, buckets) = readCodebook(spark, path)
    new PqIndex(spark, cb, s"${name}_pqcodes", path, buckets)
  }

  /** Persistent PQ index: the stored-codes face of [[adcTopK]]. Search
    * scans the codes table (bucketed parquet, m small ints per row) and
    * ranks by asymmetric distance through the SAME scoring tail as the
    * in-memory path; append/delete/compact are the standard
    * rewrite-as-maintenance shapes. Codebook drift is checked against
    * the ORIGINAL vectors ([[Pq.needsRetrain]] takes the corpus frame —
    * codes alone cannot measure reconstruction error), and a retrain
    * means re-encoding: old codes are not comparable across codebooks,
    * so the cycle is retrain → [[Pq.saveIndex]] to a fresh path.
    */
  final class PqIndex private[Pq] (
      spark: SparkSession,
      val cb: Codebook,
      val codesTable: String,
      val path: String,
      val buckets: Int) {

    /** The stored (vid, codes) relation, catalog-fresh. */
    def codes: DataFrame = {
      spark.catalog.refreshTable(codesTable)
      spark.table(codesTable)
    }

    def indexedVectors(): Long = codes.count()

    /** ADC top-k over the STORED codes for exact query vectors (the
      * caller supplies them — an ADC query side is never quantized).
      */
    def search(queries: Map[Long, Array[Double]], k: Int): DataFrame = {
      import spark.implicits._
      adcScore(codes.select(col("vid"), col("codes")).as[(Long, Array[Int])],
        spark.sparkContext.broadcast(cb), queries.toArray.sortBy(_._1), k)
    }

    /** Encode + fold a batch in. Same counted-drops idempotence contract
      * as every other index append ([[MinHashIndex.append]] doc).
      * @return rows actually appended; a full redelivery returns 0
      */
    def append(emb: DataFrame, idCol: String, vecCol: String): Long = {
      spark.catalog.refreshTable(codesTable)
      GuardedAppend(spark, encode(emb, idCol, vecCol, cb),
        "vid", codesTable, "vector") { kept =>
        kept.write.mode(org.apache.spark.sql.SaveMode.Append)
          .bucketBy(buckets, "vid")
          .saveAsTable(codesTable)
      }
    }

    /** Continuous-ingest codes: drive a vector STREAM through per-batch
      * [[append]] via the shared [[IndexStream]] harness — encode-once
      * semantics batch by batch, idempotent under redelivery (same
      * contract as [[Similarity.IvfIndex.appendStream]]). The codebook
      * stays frozen throughout; pair [[Pq.needsRetrain]] checks as the
      * corpus grows.
      */
    def appendStream(
        vectors: DataFrame, idCol: String, vecCol: String,
        checkpointDir: String): Unit =
      IndexStream.run(vectors, checkpointDir) { batch =>
        append(batch, idCol, vecCol); ()
      }

    /** Retraction: anti-join rewrite into `toPath`, same bucket spec —
      * doubles as a [[compact]]. The codebook is copied verbatim
      * (deleting vectors never moves the quantizer).
      */
    def delete(ids: DataFrame, idCol: String, toPath: String): PqIndex =
      rewrite(toPath,
        _.join(ids.select(col(idCol).cast("long").as("vid")), Seq("vid"), "left_anti"))

    /** Small-file maintenance: one file per bucket, searches unchanged.
      * `newBuckets` > 0 RE-BUCKETS (geometry evolution), recorded in the
      * codebook meta for later opens.
      */
    def compact(toPath: String, newBuckets: Int = 0): PqIndex =
      rewrite(toPath, identity, newBuckets)

    private def rewrite(
        toPath: String, f: DataFrame => DataFrame,
        newBuckets: Int = 0): PqIndex = {
      require(toPath != path, s"rewrite target must differ from current path: $path")
      require(newBuckets >= 0,
        s"newBuckets must be positive, or 0 to keep the current count: $newBuckets")
      val b = if (newBuckets > 0) newBuckets else buckets
      // files, not the catalog table — the rewrite must not depend on
      // the table it is about to redefine; the meta is REWRITTEN (not
      // copied) so the bucket count it records is the one just used
      writeCodebook(spark, toPath, cb, b)
      graft.sources.Sinks.bucketed(
        f(spark.read.parquet(s"$path/codes"))
          .repartition(b, col("vid")),
        codesTable, s"$toPath/codes", b, Seq("vid"))
      new PqIndex(spark, cb, codesTable, toPath, b)
    }
  }
}
