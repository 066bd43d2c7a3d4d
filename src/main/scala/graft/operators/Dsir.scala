package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Data Selection via Importance Resampling — the DSIR recipe of Xie et
  * al. 2023 (arXiv:2302.03169), the published method for choosing which
  * slice of a raw web corpus to train on so it looks like a TARGET
  * corpus: fit two hashed n-gram language models (target and raw), score
  * every raw document with the log importance ratio
  * `Σ_gram log p_target(gram) − log p_raw(gram)`, and keep the top-k
  * under Gumbel perturbation.
  *
  * Engine shape (each step has a precedent in this repo):
  *  - The feature space is hashed uni+bigrams ([[QualityModel]]'s
  *    murmur3 feature hashing, Weinberger et al. 2009) — both LMs are
  *    `dims`-sized count vectors, MODEL-sized at any corpus scale.
  *  - [[fit]] is two map-side-combined hash-aggs over exploded bucket
  *    ids: the shuffle carries ≤ partitions·dims rows and the driver
  *    collects ≤ dims (bucket, count) rows per corpus — never documents.
  *  - [[weigh]] is ONE narrow mapPartitions with the broadcast
  *    log-ratio vector (the [[QualityModel.score]] plan: zero
  *    exchanges).
  *  - [[threshold]] is the 100 TB selection form — a narrow filter on
  *    the weight, no global ordering anywhere.
  *  - [[topK]] is the paper's Gumbel top-k, made deterministic and
  *    partitioning-invariant by deriving the Gumbel noise from
  *    `xxhash64(id, seed)` instead of an RNG (the repo's id-hash
  *    sampling rule); `orderBy.limit` plans as TakeOrderedAndProject
  *    (per-partition top-k, driver merges k rows), so k must be
  *    driver-bounded — use [[threshold]] when it isn't.
  */
object Dsir {

  /** Fitted importance weights: the per-bucket log ratio
    * `log p_target − log p_raw` under add-α smoothing. Plain class, not
    * a case class — the [[Pq.Codebook]]/[[QualityModel.Model]] array-
    * equality rule.
    */
  final class Weights(
      val dims: Int, val seed: Long, val alpha: Double,
      val logRatio: Array[Double]) extends Serializable {
    require(logRatio.length == dims, s"logRatio ${logRatio.length} != dims $dims")

    /** Log importance weight of one document: gram-count-weighted sum of
      * bucket log ratios. Grams are iterated in document order — one
      * canonical float-summation order, so the score is bit-identical
      * under any partitioning.
      */
    def logWeight(text: String): Double = {
      val gs = Dsir.grams(text)
      var s = 0.0; var i = 0
      while (i < gs.length) {
        s += logRatio(Dsir.featIdx(gs(i), dims, seed)); i += 1
      }
      s
    }
  }

  /** DSIR's feature stream for one document: whitespace unigrams plus
    * adjacent-pair bigrams (the paper's hashed n-gram space at n=2).
    */
  private[operators] def grams(text: String): Array[String] = {
    val toks = QualityModel.tokensOf(text)
    if (toks.length <= 1) toks
    else {
      val out = new Array[String](toks.length * 2 - 1)
      System.arraycopy(toks, 0, out, 0, toks.length)
      var i = 0
      while (i < toks.length - 1) {
        out(toks.length + i) = toks(i) + " " + toks(i + 1); i += 1
      }
      out
    }
  }

  /** One hashing rule across the model family: DSIR buckets grams with
    * exactly [[QualityModel.featIdx]] (murmur3, seed-salted, floorMod).
    */
  private[operators] def featIdx(gram: String, dims: Int, seed: Long): Int =
    QualityModel.featIdx(gram, dims, seed)

  /** Distributed hashed-gram counts of one corpus: a narrow flatMap to
    * bucket ids, one hash-agg (partial aggregation caps the shuffle at
    * `dims` keys per task), and a dims-bounded driver collect. Returns
    * the dense count vector and its total.
    */
  private def bucketCounts(
      docs: DataFrame, textCol: String, dims: Int,
      seed: Long): (Array[Long], Long) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val counts = new Array[Long](dims)
    docs.select(col(textCol)).as[String]
      .flatMap(t => grams(t).map(g => featIdx(g, dims, seed)))
      .groupBy(col("value")).agg(count(lit(1)).as("c"))
      .collect()
      .foreach(r => counts(r.getInt(0)) = r.getLong(1))
    (counts, counts.sum)
  }

  /** Fit the importance weights: hashed-gram LMs of the target and raw
    * corpora, add-α smoothed, log-ratioed per bucket. Driver state is
    * two `dims`-sized vectors regardless of corpus size. For two
    * genuinely separate corpora (the paper's Wikipedia-vs-web shape);
    * when both sides live in ONE labeled frame, [[fitLabeled]] fits the
    * same weights in half the scans.
    */
  def fit(
      target: DataFrame, raw: DataFrame, textCol: String,
      dims: Int = 1 << 13, alpha: Double = 0.01,
      seed: Long = 42L): Weights = {
    require(dims > 0 && alpha > 0, s"bad hyperparams: dims=$dims alpha=$alpha")
    val (ct, nt) = bucketCounts(target, textCol, dims, seed)
    val (cr, nr) = bucketCounts(raw, textCol, dims, seed)
    ratioWeights(ct, nt, cr, nr, dims, alpha, seed)
  }

  /** [[fit]] when target membership is a COLUMN of one frame (the
    * in-engine case: a planted rule, a classifier verdict, a user flag):
    * ONE tokenize pass with a `(bucket, is_target)` hash-agg — half the
    * corpus scans of the two-frame form, bit-identical weights.
    * `targetCol` must be non-null boolean for every row (a null is a
    * membership the fit cannot decide — the typed encoder fails loudly
    * rather than silently defaulting the row to either corpus).
    */
  def fitLabeled(
      docs: DataFrame, targetCol: String, textCol: String,
      dims: Int = 1 << 13, alpha: Double = 0.01,
      seed: Long = 42L): Weights = {
    require(dims > 0 && alpha > 0, s"bad hyperparams: dims=$dims alpha=$alpha")
    val spark = docs.sparkSession
    import spark.implicits._
    val ct = new Array[Long](dims)
    val cr = new Array[Long](dims)
    docs.select(col(targetCol).cast("boolean"), col(textCol))
      .as[(Boolean, String)]
      .flatMap { case (t, txt) => grams(txt).map(g => (featIdx(g, dims, seed), t)) }
      .toDF("idx", "t")
      .groupBy(col("idx"), col("t")).agg(count(lit(1)).as("c"))
      .collect()
      .foreach { r =>
        if (r.getBoolean(1)) ct(r.getInt(0)) = r.getLong(2)
        else cr(r.getInt(0)) = r.getLong(2)
      }
    ratioWeights(ct, ct.sum, cr, cr.sum, dims, alpha, seed)
  }

  private def ratioWeights(
      ct: Array[Long], nt: Long, cr: Array[Long], nr: Long,
      dims: Int, alpha: Double, seed: Long): Weights = {
    require(nt > 0, "empty target corpus (no grams)")
    require(nr > 0, "empty raw corpus (no grams)")
    val lr = new Array[Double](dims)
    val (dt, dr) = (nt + alpha * dims, nr + alpha * dims)
    var i = 0
    while (i < dims) {
      lr(i) = math.log((ct(i) + alpha) / dt) - math.log((cr(i) + alpha) / dr)
      i += 1
    }
    new Weights(dims, seed, alpha, lr)
  }

  /** Log importance weight of every document: one narrow pass with the
    * broadcast weights — (id, log_w), zero exchanges.
    */
  def weigh(
      docs: DataFrame, idCol: String, textCol: String,
      w: Weights): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(w)
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val ws = bc.value
        it.map { case (id, text) => (id, ws.logWeight(text)) }
      }
      .toDF(idCol, "log_w")
  }

  /** Selection by weight cutoff — the form that scales to any corpus:
    * narrow score + filter, no ordering, no driver-sized result. Pick
    * the cutoff from the weight histogram ([[weigh]] + a binned agg) the
    * way the paper picks its resampling temperature.
    */
  def threshold(
      docs: DataFrame, idCol: String, textCol: String, w: Weights,
      minLogW: Double): DataFrame =
    weigh(docs, idCol, textCol, w).filter(col("log_w") > minLogW)

  /** Gumbel top-k selection (the paper's resampling rule): perturb each
    * log weight with Gumbel noise and take the k largest — equivalent to
    * sampling k docs without replacement proportionally to their
    * importance weights. The noise is `−log(−log u)` with `u` derived
    * from `xxhash64(id, gumbelSeed)`: a pure function of the id, so the
    * draw is reproducible and partitioning-invariant (seeded `rand()`
    * is neither under repartitioning). `gumbel = false` degrades to
    * deterministic hard top-k. Plans as TakeOrderedAndProject; k rows
    * land on the driver, so keep k driver-bounded ([[threshold]]
    * otherwise).
    */
  def topK(
      docs: DataFrame, idCol: String, textCol: String, w: Weights, k: Int,
      gumbel: Boolean = true, gumbelSeed: Long = 7L): DataFrame = {
    require(k > 0, s"k must be positive: $k")
    val weighed = weigh(docs, idCol, textCol, w)
    val key: Column =
      if (!gumbel) col("log_w")
      else {
        val u = (pmod(xxhash64(col(idCol), lit(gumbelSeed)), lit(1000000L))
          .cast("double") + lit(0.5)) / lit(1000000.0)
        col("log_w") - log(-log(u))
      }
    weighed.withColumn("gumbel_key", key)
      .orderBy(col("gumbel_key").desc, col(idCol))
      .limit(k)
  }

  /** Persist the fitted weights in the model family's meta-wins layout,
    * SPARSELY: under add-α smoothing every untouched bucket carries the
    * same baseline `log((α/dt)/(α/dr))` (one identical double — all of
    * them ran the same two-log computation), and on a real corpus the
    * untouched buckets are most of `dims`. The baseline is stored in
    * meta as the modal log-ratio and only rows differing from it are
    * written — bit-exact round-trip, weights file ∝ TOUCHED buckets.
    * (A naive "non-zero rows" cut would save nothing: the baseline is
    * non-zero whenever the two corpora differ in gram mass.) Same
    * publication caveat as [[QualityModel.save]]: write to a fresh path.
    */
  def save(spark: SparkSession, w: Weights, path: String): Unit = {
    import spark.implicits._
    import org.json4s.JsonDSL._
    val base = baselineOf(w.logRatio)
    w.logRatio.zipWithIndex.collect { case (v, i) if v != base => (i, v) }
      .toSeq.toDF("idx", "w")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/weights")
    MetaIo.write(spark, s"$path/meta",
      ("dims" -> w.dims) ~ ("seed" -> w.seed) ~ ("alpha" -> w.alpha) ~
        ("base" -> base))
  }

  /** Modal value of the ratio vector — the shared untouched-bucket
    * baseline (exact double equality: identical inputs, identical
    * computation). O(dims) time and space.
    */
  private def baselineOf(lr: Array[Double]): Double = {
    val counts = new java.util.HashMap[Double, Int](lr.length * 2)
    var i = 0
    while (i < lr.length) { counts.merge(lr(i), 1, _ + _); i += 1 }
    var (best, n) = (0.0, -1)
    counts.forEach { (v, c) => if (c > n) { best = v; n = c } }
    best
  }

  def open(spark: SparkSession, path: String): Weights = {
    import org.json4s.DefaultFormats
    implicit val fmts: DefaultFormats.type = DefaultFormats
    val j = MetaIo.read(spark, s"$path/meta")
    val (dims, base) = ((j \ "dims").extract[Int], (j \ "base").extract[Double])
    val lr = Array.fill(dims)(base)
    spark.read.parquet(s"$path/weights").collect().foreach { r =>
      lr(r.getInt(0)) = r.getDouble(1)
    }
    new Weights(dims, (j \ "seed").extract[Long],
      (j \ "alpha").extract[Double], lr)
  }
}
