package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Model-based document quality filtering — the fasttext/CCNet-style
  * counterpart to [[TextAnalysis.qualityColumns]]' hand heuristics: a
  * logistic-regression classifier over hashed bag-of-words counts,
  * trained IN the engine and applied as a narrow scoring pass.
  *
  * Training follows the repo's sampled-driver-model pattern
  * ([[Similarity.IvfIndex]]'s Lloyd, [[Pq]] codebooks): membership in
  * the training sample is an id-hash RATE decision (a pure function of
  * the id — deterministic and partitioning-invariant), the sample is
  * collected and SORTED BY ID so full-batch gradient descent sums
  * floats in one canonical order (bit-identical retrains under any
  * partitioning), and the fitted weight vector is model-sized (`dims`
  * doubles) — broadcast for scoring, never joined.
  *
  * Scale shape: training cost is sample-bounded (default 100k docs) no
  * matter the corpus; [[score]] is ONE narrow mapPartitions over the
  * corpus with the broadcast model — no shuffle, no UDF registry, no
  * per-row allocation beyond the token split the heuristics already
  * pay. Feature hashing (murmur3 into `dims` buckets) keeps the model
  * dense and fixed-size at any vocabulary, the standard trick for
  * web-scale text (Weinberger et al. 2009).
  */
object QualityModel {

  /** A fitted model: hashed-feature weights + bias. `seed` salts the
    * feature hash so train/score can never disagree on bucketing.
    *
    * A plain class, not a case class (the [[Pq.Codebook]] pattern): a
    * case class would generate equals/hashCode that compare the weights
    * ARRAY by reference, so two bit-identical models (train vs
    * save/open round-trip) would never be `==` — compare via the fields
    * and `java.util.Arrays.equals(weights)` explicitly.
    */
  final class Model(
      val dims: Int, val bias: Double, val weights: Array[Double],
      val seed: Long) extends Serializable {
    require(weights.length == dims, s"weights ${weights.length} != dims $dims")

    def margin(text: String): Double = {
      val toks = QualityModel.tokensOf(text)
      var s = bias; var i = 0
      while (i < toks.length) {
        s += weights(QualityModel.featIdx(toks(i), dims, seed)); i += 1
      }
      s
    }

    def prob(text: String): Double = QualityModel.sigmoid(margin(text))
  }

  private[operators] def tokensOf(text: String): Array[String] =
    if (text == null) Array.empty
    else text.split(" +").filter(_.nonEmpty)

  /** Hash bucket of one token — murmur3 (JVM-stable, seed-salted),
    * floorMod into [0, dims).
    */
  private[operators] def featIdx(tok: String, dims: Int, seed: Long): Int =
    math.floorMod(
      scala.util.hashing.MurmurHash3.stringHash(tok, seed.toInt), dims)

  private[operators] def sigmoid(x: Double): Double =
    if (x >= 0) 1.0 / (1.0 + math.exp(-x))
    else { val e = math.exp(x); e / (1.0 + e) }

  /** Fit by full-batch logistic gradient descent on an id-hash sample.
    *
    * The label column must be 0/1 (cast to double). Features are raw
    * token COUNTS (not tf): margins then scale with token multiplicity
    * and the separable case converges without feature re-scaling.
    *
    * @param sampleSize expected sample row count (rate-derived from a
    *                   corpus count; pass `baseCount` to skip the count
    *                   job). The whole corpus trains when it fits.
    */
  def train(
      docs: DataFrame, idCol: String, textCol: String, labelCol: String,
      dims: Int = 32768, iters: Int = 200, lr: Double = 0.5,
      l2: Double = 0.0, sampleSize: Int = 100000, seed: Long = 42L,
      baseCount: Long = -1L): Model = {
    require(dims > 0 && iters > 0 && lr > 0, s"bad hyperparams: $dims/$iters/$lr")
    val n = if (baseCount >= 0L) baseCount else docs.count()
    val rate = math.min(1.0, sampleSize.toDouble / math.max(n, 1L))
    // ceil, never floor: a floor cut truncates to 0 at sub-ppm rates
    // (corpora past sampleSize·10⁶ rows) and would match nothing — the
    // same reason meanQuantError/Pq's samplers ceil
    val cut = math.max(1L, math.ceil(rate * 1000000L).toLong)
    // id-hash rate sample, seed-salted like every sampler here:
    // membership is a pure function of (id, seed), so the training set
    // is identical under any partitioning and different seeds draw
    // different samples — and sorting the collected rows pins the
    // gradient's float-summation order
    val rows = docs
      .filter(pmod(xxhash64(col(idCol), lit(seed)), lit(1000000L)) < lit(cut))
      .select(col(idCol).cast("long"), col(textCol),
        col(labelCol).cast("double"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
      .sortBy(_._1)
    require(rows.nonEmpty, "empty training sample")
    rows.foreach { case (id, _, label) =>
      require(label == 0.0 || label == 1.0,
        s"labels must be 0/1, doc $id has $label")
    }
    // pre-hash once: sparse (bucket, count) features per sampled doc
    val feats = rows.map { case (_, text, label) =>
      val toks = tokensOf(text)
      val m = scala.collection.mutable.LongMap.empty[Double]
      var i = 0
      while (i < toks.length) {
        val idx = featIdx(toks(i), dims, seed).toLong
        m.update(idx, m.getOrElse(idx, 0.0) + 1.0); i += 1
      }
      (m.toArray.sortBy(_._1), label) // canonical feature order per doc
    }
    val w = new Array[Double](dims)
    var b = 0.0
    val m = feats.length.toDouble
    // untouched buckets have zero gradient forever and start at 0, so
    // they stay 0 under any l2 (decay of 0 is 0): the update loop only
    // ever needs the sample's touched buckets — iters × dims array
    // churn (1.7 GB transient at the probe's 2^20 dims) becomes one
    // reused buffer walked at the sample's vocabulary size
    val touched: Array[Int] =
      feats.iterator.flatMap(_._1.iterator.map(_._1.toInt))
        .toArray.distinct.sorted
    val grad = new Array[Double](dims)
    var it = 0
    while (it < iters) {
      var t = 0
      while (t < touched.length) { grad(touched(t)) = 0.0; t += 1 }
      var gb = 0.0
      var r = 0
      while (r < feats.length) {
        val (fs, label) = feats(r)
        var s = b; var i = 0
        while (i < fs.length) { s += w(fs(i)._1.toInt) * fs(i)._2; i += 1 }
        val err = sigmoid(s) - label
        i = 0
        while (i < fs.length) {
          grad(fs(i)._1.toInt) += err * fs(i)._2; i += 1
        }
        gb += err
        r += 1
      }
      t = 0
      while (t < touched.length) {
        val d = touched(t)
        w(d) -= lr * (grad(d) / m + l2 * w(d)); t += 1
      }
      b -= lr * gb / m
      it += 1
    }
    new Model(dims, b, w, seed)
  }

  /** Score every document with the broadcast model: one narrow pass,
    * (id, score, pred) where `pred = 1` iff `score > 0.5`.
    */
  def score(
      docs: DataFrame, idCol: String, textCol: String, m: Model): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(m)
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val mdl = bc.value
        it.map { case (id, text) =>
          val p = mdl.prob(text)
          (id, p, if (p > 0.5) 1 else 0)
        }
      }
      .toDF(idCol, "score", "pred")
  }

  /** Persist as parquet: non-zero weights as (idx, w) rows + a 1-row
    * meta (dims, bias, seed) — the same meta-wins layout as the index
    * family, so [[open]] never guesses hyperparameters.
    *
    * NOT atomic in place: overwriting a LIVE model path can tear
    * (weights new, meta old) on a crash between the two writes. Write
    * each save/[[refit]] to a fresh path and repoint the consumer — the
    * index family's publication discipline; refit's `toPath` parameter
    * exists for exactly this.
    */
  def save(spark: SparkSession, m: Model, path: String): Unit = {
    import spark.implicits._
    import org.json4s.JsonDSL._
    m.weights.zipWithIndex.collect { case (v, i) if v != 0.0 => (i, v) }
      .toSeq.toDF("idx", "w")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/weights")
    MetaIo.write(spark, s"$path/meta",
      ("dims" -> m.dims) ~ ("bias" -> m.bias) ~ ("seed" -> m.seed))
  }

  def open(spark: SparkSession, path: String): Model = {
    import org.json4s.DefaultFormats
    implicit val fmts: DefaultFormats.type = DefaultFormats
    val j = MetaIo.read(spark, s"$path/meta")
    val dims = (j \ "dims").extract[Int]
    val w = new Array[Double](dims)
    spark.read.parquet(s"$path/weights").collect().foreach { r =>
      w(r.getInt(0)) = r.getDouble(1)
    }
    new Model(dims, (j \ "bias").extract[Double], w,
      (j \ "seed").extract[Long])
  }

  // ─────────────────── drift observability + refit ───────────────────
  //
  // The model twin of IvfIndex's needsRetrain/retrain arc: a classifier
  // trained on one corpus snapshot silently degrades as the corpus
  // drifts, and "when to refit" must be OBSERVABLE from the serving
  // side without labels. The monitor is the score distribution: write
  // a fixed-bin histogram of training-time scores beside the weights,
  // and compare every later corpus against it with the same
  // Jeffreys-smoothed PSI as [[Ingest.psi]] (PSI < 0.1 stable, > 0.25
  // investigate — the convention documented there). One
  // map-side-combined count agg per check: shuffle ∝ bins, not rows.

  private val PsiBins = 20

  private def binCounts(
      docs: DataFrame, idCol: String, textCol: String, m: Model): DataFrame =
    score(docs, idCol, textCol, m)
      .select(least(lit(PsiBins - 1L),
        floor(col("score") * PsiBins).cast("long")).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as("n"))

  /** Persist the training-corpus score histogram beside the model —
    * call once after [[save]], with the corpus the model was fit on.
    * Rows carry the bin count so a later read under a different
    * `PsiBins` fails loudly instead of mis-bucketing silently.
    */
  def writeBaseline(
      docs: DataFrame, idCol: String, textCol: String, m: Model,
      path: String): Unit = {
    val counts = binCounts(docs, idCol, textCol, m)
      .withColumn("bins", lit(PsiBins))
    counts.repartition(1).write.mode("overwrite").parquet(s"$path/baseline")
    // fail at WRITE time, not first probe: an empty baseline can never
    // monitor anything (the meta-reads-fail-loudly rule)
    require(docs.sparkSession.read.parquet(s"$path/baseline").count() > 0,
      s"wrote an empty drift baseline at $path — empty corpus?")
  }

  /** PSI of the current corpus's score distribution against the stored
    * baseline (Σ (p−q)·ln(p/q) over the fixed bins, Jeffreys-smoothed
    * like [[Ingest.psi]] so empty bins stay finite).
    */
  def scorePsi(
      docs: DataFrame, idCol: String, textCol: String, m: Model,
      path: String): Double = {
    val spark = docs.sparkSession
    val raw = spark.read.parquet(s"$path/baseline").collect()
    require(raw.nonEmpty, s"empty drift baseline at $path")
    raw.foreach(r => require(r.getInt(2) == PsiBins,
      s"baseline at $path was written with ${r.getInt(2)} bins, " +
        s"this build uses $PsiBins — rewrite it via writeBaseline/refit"))
    val before = raw.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val after = binCounts(docs, idCol, textCol, m).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tb = before.values.sum.toDouble
    val ta = after.values.sum.toDouble
    require(tb > 0, s"zero-count drift baseline at $path")
    require(ta > 0, "empty corpus in scorePsi")
    // NOT Ingest.psi's 0.5·(bins+2): that +2 pays for its under/overflow
    // bins, which this histogram lacks (scores live in [0,1] by
    // construction, the top edge clamped into the last bin) — with
    // exactly PsiBins bins, 0.5·PsiBins makes the smoothed shares sum
    // to 1 exactly
    val smooth = 0.5 * PsiBins
    (0L until PsiBins.toLong).map { b =>
      val p = (before.getOrElse(b, 0L) + 0.5) / (tb + smooth)
      val q = (after.getOrElse(b, 0L) + 0.5) / (ta + smooth)
      (p - q) * math.log(p / q)
    }.sum
  }

  /** True when the serving-side score distribution has shifted past
    * `tolerance` (default 0.25, the PSI "investigate" convention) —
    * the signal to [[refit]].
    */
  def needsRefit(
      docs: DataFrame, idCol: String, textCol: String, m: Model,
      path: String, tolerance: Double = 0.25): Boolean =
    scorePsi(docs, idCol, textCol, m, path) > tolerance

  /** Retrain on the CURRENT corpus with the persisted hyperparameters
    * (dims/seed from the old model — probes bucket identically before
    * and after), rewrite weights + baseline at `toPath`. The exact
    * analogue of `IvfIndex.retrain`: observability without action is
    * only half the loop.
    */
  def refit(
      docs: DataFrame, idCol: String, textCol: String, labelCol: String,
      old: Model, toPath: String, iters: Int = 200, lr: Double = 0.5,
      l2: Double = 0.0, sampleSize: Int = 100000,
      baseCount: Long = -1L): Model = {
    val spark = docs.sparkSession
    val m = train(docs, idCol, textCol, labelCol, old.dims, iters, lr, l2,
      sampleSize, old.seed, baseCount)
    save(spark, m, toPath)
    writeBaseline(docs, idCol, textCol, m, toPath)
    m
  }
}
