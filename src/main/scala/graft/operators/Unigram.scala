package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer training (Kudo 2018, arXiv:1804.10959 — the
  * SentencePiece unigram model), the EM counterpart of [[Bpe]]: where BPE
  * grows a vocabulary bottom-up by merge rules, the unigram model starts
  * from a large seed of candidate pieces and PRUNES toward the target
  * size, keeping the pieces an EM-fit unigram language model finds most
  * load-bearing. Together they are the two production tokenizer trainers.
  *
  * Distributed the way [[Bpe]] is: the corpus collapses ONCE into a
  * (word, count) table, and every EM iteration is one NARROW
  * forward-backward pass over that table (each word's lattice is local
  * to its row; the piece table rides along as a broadcast model) plus one
  * map-side-combined hash aggregate of expected counts — shuffle ∝
  * vocabulary × partitions, never corpus-sized. Vocabulary state is
  * model-sized driver state (the centroid/codebook pattern); pruning and
  * re-normalization run there.
  *
  * Determinism: per-word lattice sums run in fixed position order;
  * corpus-level expected counts are rounded to 9 dp after the aggregate
  * (so float-association ulps under any partitioning vanish — the
  * [[Sampling.weightedSample]] rounded-priorities rule); all ranking
  * tie-breaks are (score, piece) lexicographic. The fit is a pure
  * function of the corpus: spec-pinned bit-exact across partitionings,
  * and against an EXHAUSTIVE-enumeration reference (every segmentation
  * of every word enumerated — a genuinely different algorithm) with the
  * piece set identical and probabilities to 1e-9 (the lattice computes
  * in log space, the enumeration in linear space, so the last ulps
  * legitimately differ).
  */
object Unigram {

  /** A trained model: pieces with natural-log probabilities. */
  final case class Model(pieces: Seq[(String, Double)]) {
    require(pieces.nonEmpty, "empty unigram model")
    val maxLen: Int = pieces.iterator.map(_._1.length).max
    def logp: Map[String, Double] = pieces.toMap
  }

  private def round9(x: Double): Double =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Seed vocabulary: every substring of every word up to `maxPieceLen`,
    * scored by corpus frequency × length (Kudo's seed heuristic — long
    * frequent substrings are the valuable candidates), top `seedSize`
    * kept plus ALL single characters (they guarantee every word stays
    * segmentable through any amount of pruning).
    */
  private[operators] def seed(wordCounts: DataFrame, seedSize: Int,
      maxPieceLen: Int): Seq[(String, Long)] = {
    val spark = wordCounts.sparkSession
    import spark.implicits._
    val subs = wordCounts.as[(String, Long)].flatMap { case (w, c) =>
      for {
        i <- 0 until w.length
        j <- (i + 1) to math.min(w.length, i + maxPieceLen)
      } yield (w.substring(i, j), c)
    }.toDF("piece", "c").groupBy("piece").agg(sum("c").as("c"))
      .localCheckpoint(true)
    try {
      // the driver only ever sees charset + seedSize rows: the substring
      // table itself can approach corpus scale on adversarial
      // vocabularies (40M distinct grams in the 505k probe salad), so
      // the top-k cut runs as TakeOrdered on the cluster, never as a
      // collect-then-sort
      val chars = subs.filter(length(col("piece")) === 1)
        .as[(String, Long)].collect().sortBy(_._1)
      val multi = subs.filter(length(col("piece")) > 1)
        .orderBy((col("c") * length(col("piece"))).desc, col("piece"))
        .limit(math.max(0, seedSize - chars.length))
        .as[(String, Long)].collect()
      (chars ++ multi).toSeq
    } finally subs.unpersist()
  }

  /** One word's expected piece counts — the forward-backward lattice
    * pass shared VERBATIM by the distributed and driver E-steps (the two
    * must not diverge).
    */
  private def wordExpectations(w: String, cnt: Long,
      lp: Map[String, Double], maxLen: Int): Iterator[(String, Double)] = {
    val n = w.length
    val alpha = forward(w, lp, maxLen)
    val z = alpha(n)
    if (z == Double.NegativeInfinity) Iterator.empty
    else {
      val beta = backward(w, lp, maxLen)
      for {
        i <- (0 until n).iterator
        j <- (i + 1) to math.min(n, i + maxLen)
        p = w.substring(i, j)
        l <- lp.get(p).iterator
      } yield (p, math.exp(alpha(i) + l + beta(j) - z) * cnt)
    }
  }

  /** One E-step: expected piece counts over all segmentations of every
    * word (forward-backward over each word's lattice, weighted by word
    * frequency), aggregated corpus-wide. Narrow over the word table; the
    * model broadcasts. Counts round to 9 dp after the aggregate, so the
    * result is partitioning-invariant — which is also what makes the
    * driver E-step below equal this one.
    */
  private[operators] def expectedCounts(words: Dataset[(String, Long)],
      model: Map[String, Double], maxLen: Int): Seq[(String, Double)] = {
    val spark = words.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    words.mapPartitions { it =>
      val lp = bc.value
      it.flatMap { case (w, cnt) => wordExpectations(w, cnt, lp, maxLen) }
    }.toDF("piece", "c").groupBy("piece").agg(sum("c").as("c"))
      .as[(String, Double)].collect()
      .map { case (p, c) => (p, round9(c)) }
      .sortBy(_._1).toSeq
  }

  /** The driver E-step — same lattice code, same 9-dp post-aggregate
    * round (the invariance argument that already covers arbitrary
    * partitionings covers this single-partition fold), zero Spark jobs.
    */
  private def expectedCountsLocal(words: Seq[(String, Long)],
      model: Map[String, Double], maxLen: Int): Seq[(String, Double)] = {
    val acc = scala.collection.mutable.HashMap.empty[String, Double]
    words.foreach { case (w, cnt) =>
      wordExpectations(w, cnt, model, maxLen).foreach { case (p, c) =>
        acc.update(p, acc.getOrElse(p, 0.0) + c)
      }
    }
    acc.iterator.map { case (p, c) => (p, round9(c)) }.toSeq.sortBy(_._1)
  }

  private def forward(w: String, lp: Map[String, Double],
      maxLen: Int): Array[Double] = {
    val n = w.length
    val a = Array.fill(n + 1)(Double.NegativeInfinity)
    a(0) = 0.0
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - maxLen)
      while (j < i) {
        lp.get(w.substring(j, i)).foreach(l => a(i) = logAdd(a(i), a(j) + l))
        j += 1
      }
      i += 1
    }
    a
  }

  private def backward(w: String, lp: Map[String, Double],
      maxLen: Int): Array[Double] = {
    val n = w.length
    val b = Array.fill(n + 1)(Double.NegativeInfinity)
    b(n) = 0.0
    var i = n - 1
    while (i >= 0) {
      var j = i + 1
      val hi = math.min(n, i + maxLen)
      while (j <= hi) {
        lp.get(w.substring(i, j)).foreach(l => b(i) = logAdd(b(i), l + b(j)))
        j += 1
      }
      i -= 1
    }
    b
  }

  private def logAdd(a: Double, b: Double): Double =
    if (a == Double.NegativeInfinity) b
    else if (b == Double.NegativeInfinity) a
    else { val m = math.max(a, b); m + math.log1p(math.exp(math.min(a, b) - m)) }

  /** M-step over driver-side counts (piece-sorted, so the normalization
    * folds in one canonical order): p = c / Σc in log space.
    */
  private def normalize(counts: Seq[(String, Double)]): Map[String, Double] = {
    val total = counts.iterator.map(_._2).sum
    require(total > 0, "EM collapsed: zero total expected count")
    val logTotal = math.log(total)
    counts.iterator.map { case (p, c) =>
      (p, if (c <= 0) -1e9 else math.log(c) - logTotal)
    }.toMap
  }

  /** Viterbi log-prob of the best segmentation of `s`, excluding piece
    * `skip` (the pruning loss needs "how well do the OTHER pieces cover
    * this string").
    */
  private def viterbi(s: String, lp: Map[String, Double], maxLen: Int,
      skip: String): Double = {
    val n = s.length
    val a = Array.fill(n + 1)(Double.NegativeInfinity)
    a(0) = 0.0
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - maxLen)
      while (j < i) {
        val p = s.substring(j, i)
        if (p != skip) lp.get(p).foreach { l =>
          val c = a(j) + l
          if (c > a(i)) a(i) = c
        }
        j += 1
      }
      i += 1
    }
    a(n)
  }

  /** Train a unigram model: seed → (EM ×`emIters` → prune to
    * `shrink` × current) until ≤ `vocabSize` → final EM. Pruning drops
    * the pieces whose removal costs the corpus likelihood LEAST
    * (expected count × (own logp − best alternative segmentation of the
    * piece's own string), rounded to 9 dp, ties piece-lexicographic);
    * single characters are never dropped, so every word stays
    * segmentable.
    */
  def train(wordCounts: DataFrame, vocabSize: Int, seedSize: Int = 2000,
      maxPieceLen: Int = 8, emIters: Int = 2,
      shrink: Double = 0.75): Model = {
    require(vocabSize > 0 && seedSize >= vocabSize,
      s"need seedSize >= vocabSize > 0: $seedSize, $vocabSize")
    val spark = wordCounts.sparkSession
    import spark.implicits._
    // checkpoint the word table ONCE: it is read by the seed pass and by
    // every EM iteration of every prune round — left lazy, each of those
    // re-runs the corpus tokenize+count (measured 4.7 s → 1.2 s for the
    // declared query at sf0.1; at 100 TB it is the difference between
    // one corpus scan and dozens)
    val wc0 = wordCounts.localCheckpoint(true)
    try { trainOn(wc0, vocabSize, seedSize, maxPieceLen, emIters, shrink) }
    finally wc0.unpersist()
  }

  /** Local twin of [[seed]] — exact Long sums, identical (c·len desc,
    * piece) ranking and single-char floor.
    */
  private def seedLocal(words: Seq[(String, Long)], seedSize: Int,
      maxPieceLen: Int): Seq[(String, Long)] = {
    val acc = scala.collection.mutable.HashMap.empty[String, Long]
    words.foreach { case (w, c) =>
      var i = 0
      while (i < w.length) {
        var j = i + 1
        val hi = math.min(w.length, i + maxPieceLen)
        while (j <= hi) {
          val p = w.substring(i, j)
          acc.update(p, acc.getOrElse(p, 0L) + c)
          j += 1
        }
        i += 1
      }
    }
    val (chars, multi) = acc.toSeq.partition(_._1.length == 1)
    val sortedChars = chars.sortBy(_._1)
    val topMulti = multi
      .sortBy { case (p, c) => (-(c * p.length), p) }
      .take(math.max(0, seedSize - sortedChars.length))
    sortedChars ++ topMulti
  }

  private def trainOn(wc0: DataFrame, vocabSize: Int, seedSize: Int,
      maxPieceLen: Int, emIters: Int, shrink: Double): Model = {
    val spark = wc0.sparkSession
    import spark.implicits._
    // Small-vocabulary fast path (as in [[Bpe.trainMerges]]): the word
    // table is vocabulary-sized, and each of the ~3·rounds E-steps costs
    // a fixed Spark job — on a bounded vocabulary the whole EM loop runs on the
    // driver through the SAME lattice/seed/normalize code, zero jobs per
    // round. The probe is one bounded collect off the already-
    // checkpointed table; above the cap the distributed loop runs
    // unchanged.
    val probe = wc0.limit(Bpe.DriverWords + 1).collect()
    val localWords: Option[Seq[(String, Long)]] =
      if (probe.length <= Bpe.DriverWords)
        Some(probe.iterator.map(r => (r.getString(0), r.getLong(1))).toSeq)
      else None
    val words = wc0.as[(String, Long)]
    def counts(model: Map[String, Double]): Seq[(String, Double)] =
      localWords match {
        case Some(ws) => expectedCountsLocal(ws, model, maxPieceLen)
        case None => expectedCounts(words, model, maxPieceLen)
      }
    val s0 = localWords match {
      case Some(ws) => seedLocal(ws, seedSize, maxPieceLen)
      case None => seed(wc0, seedSize, maxPieceLen)
    }
    val total0 = s0.iterator.map(_._2.toDouble).sum
    var model: Map[String, Double] =
      s0.iterator.map { case (p, c) =>
        (p, math.log(c.toDouble) - math.log(total0))
      }.toMap
    var vocab = model.size
    var rounds = 0
    while (vocab > vocabSize) {
      var it = 0
      while (it < emIters) {
        model = normalize(counts(model))
        it += 1
      }
      // prune on driver: loss of removing x = c_x * (lp_x - alt_x)
      val cts = counts(model).toMap
      val (chars, multi) = model.keys.toSeq.partition(_.length == 1)
      val keep = math.max(vocabSize - chars.length,
        math.min(multi.length - 1, (multi.length * shrink).toInt))
      val kept = multi
        .map { p =>
          val c = cts.getOrElse(p, 0.0)
          val loss = round9(c * (model(p) - viterbi(p, model, maxPieceLen, p)))
          (p, loss)
        }
        .sortBy { case (p, loss) => (-loss, p) }
        .take(keep).map(_._1)
      model = (chars ++ kept).map(p => (p, model(p))).toMap
      vocab = model.size
      // the single-char floor is unprunable: a target below it stops at
      // the floor (characters alone), loudly rather than looping
      if (kept.isEmpty && vocab > vocabSize) {
        DedupIndex.log.warn(s"unigram vocabSize=$vocabSize is below the " +
          s"corpus's ${chars.length} distinct characters - stopping at the " +
          "character floor")
        vocab = vocabSize
      }
      rounds += 1
      require(rounds <= 100, "unigram pruning failed to converge")
    }
    var it = 0
    while (it < emIters) {
      model = normalize(counts(model))
      it += 1
    }
    Model(model.toSeq.sortBy { case (p, l) => (-l, p) })
  }

  /** Viterbi-encode a corpus with a trained model: per-word best
    * segmentation (strictly-greater DP in ascending split order —
    * deterministic), narrow, model broadcast. Returns (id, pieces).
    */
  def encode(docs: DataFrame, idCol: String, textCol: String,
      m: Model): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast((m.logp, m.maxLen))
    docs.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { it =>
        val (lp, maxLen) = bc.value
        it.map { case (id, text) =>
          val toks = Option(text).getOrElse("").split("\\s+")
            .filter(_.nonEmpty)
          (id, toks.toSeq.flatMap(w => encodeWord(w, lp, maxLen)))
        }
      }.toDF(idCol, "pieces")
  }

  private[graft] def encodeWord(w: String, lp: Map[String, Double],
      maxLen: Int): Seq[String] = {
    val n = w.length
    val best = Array.fill(n + 1)(Double.NegativeInfinity)
    val back = Array.fill(n + 1)(-1)
    best(0) = 0.0
    var i = 1
    while (i <= n) {
      var j = math.max(0, i - maxLen)
      while (j < i) {
        lp.get(w.substring(j, i)).foreach { l =>
          val c = best(j) + l
          if (c > best(i)) { best(i) = c; back(i) = j }
        }
        j += 1
      }
      i += 1
    }
    if (best(n) == Double.NegativeInfinity) Seq(w) // unsegmentable: raw
    else {
      val out = scala.collection.mutable.ArrayBuffer.empty[String]
      var k = n
      while (k > 0) { out += w.substring(back(k), k); k = back(k) }
      out.reverseIterator.toSeq
    }
  }
}
