package graft.operators

import graft.Jobs
import graft.functions.{TextFunctions => TF, VectorOps => V}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale text/embedding corpora.
  *
  * Five variants, all shuffle-conscious:
  *  - [[exact]]        — hash-groupBy on the dedup key (one shuffle).
  *  - [[minHashPairs]] — MinHash + banded LSH over word shingles, exact
  *    Jaccard verification of candidates. The LSH band join is an equi-join
  *    on (band, bandHash) so Spark shuffles only (docId, band) pairs — never
  *    the O(n²) cross product.
  *  - [[simHashPairs]] — 64-bit SimHash, block-LSH candidates, Hamming
  *    pre-filter (`bit_count(xor)`), exact Jaccard verification.
  *  - [[ngramJaccardPairs]] — exact shingle-Jaccard via a prefix-filtered
  *    inverted-index self-join (only pairs sharing a *rare* shingle are
  *    ever materialized).
  *  - [[embeddingPairs]] — random-hyperplane (SRP) LSH over embeddings,
  *    exact cosine verification.
  *
  * Implementation notes that matter at scale:
  *  - Shingles are hashed to 64-bit longs once per document and **cached**
  *    as sorted distinct arrays. Everything downstream (minhash families,
  *    simhash bits, inverted index, Jaccard verification) runs on longs.
  *    Without the cache, every self-join branch would recompute the nested
  *    shingle expression — and Catalyst collapses projections into
  *    generators, so an uncached `explode(shingles(...))` re-evaluates the
  *    whole O(tokens) array expression per *output* row.
  *  - Set similarity on hashed shingles equals string-set similarity up to
  *    64-bit collisions (≈ n²/2⁶⁵ — negligible at any realistic corpus).
  *  - Every candidate pair is verified against the exact similarity
  *    measure, so the *output* is deterministic (equal to brute force) as
  *    long as LSH recall holds; band/row counts are chosen so the miss
  *    probability at the default thresholds is < 1e-6.
  *  - Operator-internal caches are deliberately retained: Spark's
  *    CacheManager dedupes identical plans, so repeated calls over the same
  *    corpus reuse one cached relation (this IS the resident-engine warm
  *    path) instead of growing. A continuously-ingesting session whose
  *    inputs CHANGE every batch (e.g. [[incrementalMinHashPairs]]) gets no
  *    reuse from stale entries — call [[releaseCaches]] after each batch's
  *    result is materialized (finer-grained than
  *    `spark.catalog.clearCache()`, which would also evict the caller's own
  *    cached frames).
  */
object Dedup extends CacheLedger {

  /** Exact dedup: one surviving row key per distinct `dedupCols` group —
    * deterministic (keeps the minimum key), unlike `dropDuplicates`, which
    * keeps an arbitrary row. A single hash-aggregate shuffle on the dedup
    * key; at 100 TB this is the canonical map-side-combine pattern.
    */
  def exact(df: DataFrame, keyCol: String, dedupCols: Seq[String]): DataFrame =
    df.groupBy(dedupCols.map(col).toIndexedSeq: _*)
      .agg(min(col(keyCol)).as(keyCol), count(lit(1)).as("group_size"))

  /** Per-doc sorted distinct 64-bit shingle hash sets: (doc_id, hs). Cached
    * — this is the shared input of every pair-finding variant.
    */
  private[operators] def hashedSets(docs: DataFrame, idCol: String, textCol: String, n: Int): DataFrame =
    // native one-pass kernel: the HOF form re-tokenized the document once
    // per shingle (no cross-lambda CSE) — 253 s vs ~3 s at a 505k-doc probe
    ledgered(docs.select(col(idCol).as("doc_id"),
        graft.plans.ShingleHashes.shingleHashes(col(textCol), n).as("hs"))
      .cache())

  /** (doc_id, h) exploded from the cached hash sets. */
  private[operators] def explodedHashes(sets: DataFrame): DataFrame =
    sets.select(col("doc_id"), explode(col("hs")).as("h"))

  /** Verify candidate (i, j) pairs with exact shingle Jaccard ≥ threshold,
    * computed on the hashed sets (two broadcast-friendly joins + one
    * array intersect/union per pair).
    */
  private[operators] def verifyHashed(
      sets: DataFrame, candidates: DataFrame, threshold: Double): DataFrame =
    candidates
      .join(sets.as("si"), col("i") === col("si.doc_id"))
      .join(sets.as("sj"), col("j") === col("sj.doc_id"))
      .select(col("i"), col("j"),
        graft.plans.SortedJaccard(col("si.hs"), col("sj.hs")).as("jac"))
      .filter(col("jac") >= threshold)
      .select(col("i"), col("j"), round(col("jac"), 3).as("jac"))

  /** Public variant of the verifier working from raw text. */
  def verifyJaccard(
      docs: DataFrame, idCol: String, textCol: String, shingleN: Int,
      candidates: DataFrame, threshold: Double): DataFrame = {
    val sets = hashedSets(docs, idCol, textCol, shingleN)
    verifyHashed(sets, candidates, threshold)
  }

  /** Per-doc MinHash signatures via the native one-pass kernel
    * ([[graft.plans.MinHashSig]]) — NARROW: no row blowup, no shuffle.
    * The former dataflow form (posexplode k hashes per shingle + a
    * (doc, k) min-agg) shuffled |shingles|·k rows: 2.4B aggregate inputs
    * at a 500k-doc probe, 245 s for what is one register loop per row.
    * Empty documents carry no signature (kernel returns null) and are
    * filtered — they must never share a band bucket.
    */
  private def signatures(sets: DataFrame, numHashes: Int): DataFrame =
    sets.select(col("doc_id"),
        graft.plans.MinHashSig.minHashSig(col("hs"), numHashes).as("sig"))
      .filter(col("sig").isNotNull)

  /** Banded bucket keys: (doc_id, band, bh) — `bands` rows per document
    * (vs per-shingle blowup). Signature + band fold happen inside ONE
    * kernel pass ([[graft.plans.MinHashBands]]); the only row-level op
    * left is the posexplode of `bands` plain longs.
    */
  private[operators] def bandBuckets(sets: DataFrame, numHashes: Int, bands: Int): DataFrame =
    sets.select(col("doc_id"),
        graft.plans.MinHashBands.minHashBands(col("hs"), numHashes, bands)
          .as("bhs"))
      .filter(col("bhs").isNotNull)
      .select(col("doc_id"), posexplode(col("bhs")).as(Seq("band", "bh")))

  /** MinHash signature matrix: (doc_id, sig array<bigint>[numHashes]). */
  def minHashSignatures(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 128): DataFrame =
    signatures(hashedSets(docs, idCol, textCol, shingleN), numHashes)

  /** Near-duplicate pairs via MinHash LSH, exact-verified.
    * With b bands of r rows, P(candidate | J) = 1-(1-J^r)^b; the defaults
    * (128 hashes = 32×4) give P(miss | J=0.8) ≈ 5e-8, so the verified
    * output equals brute force w.h.p.
    */
  def minHashPairs(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 128, bands: Int = 32,
      threshold: Double = 0.8): DataFrame = {
    val sets = hashedSets(docs, idCol, textCol, shingleN)
    val candidates = minHashCandidates(docs, idCol, textCol, shingleN, numHashes, bands)
    verifyHashed(sets, candidates, threshold)
  }

  /** The banded-LSH candidate stage of [[minHashPairs]] alone — exposed
    * so scale guards can assert candidate volume tracks true-duplicate
    * volume (band collisions), never n². Shares [[hashedSets]]' cached
    * plan with the verification stage via CacheManager plan dedup.
    */
  def minHashCandidates(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 128, bands: Int = 32): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val sets = hashedSets(docs, idCol, textCol, shingleN)
    // Cached: the self-join below would recompute the whole signature
    // pipeline for both sides otherwise.
    val buckets = ledgered(bandBuckets(sets, numHashes, bands).cache())
    buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
  }

  /** Incremental near-dup detection: pairs between an INCOMING batch and
    * an existing corpus (plus incoming-incoming pairs), without ever
    * joining corpus×corpus. The corpus side's band buckets are the "index"
    * relation; the join touches only buckets that an incoming document
    * hashes into, so per-batch cost scales with |incoming| × collision
    * rate, not |corpus|² — the shape a continuously-ingesting pipeline
    * needs. Same LSH parameters and exact verification as
    * [[minHashPairs]]; ids must be disjoint across the two frames.
    *
    * Each call caches a buckets frame sized to corpus+batch; because the
    * input grows every batch, CacheManager can never dedupe successive
    * calls' plans — call [[releaseCaches]] once a batch's result is
    * materialized, or a long-lived ingest session retains one dead
    * InMemoryRelation per batch.
    *
    * @return (i, j, jac) with i < j, every pair touching ≥1 incoming doc
    */
  def incrementalMinHashPairs(
      corpus: DataFrame, incoming: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 128, bands: Int = 32,
      threshold: Double = 0.8): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val all = corpus.select(col(idCol).cast("long").as(idCol), col(textCol))
      .unionByName(incoming.select(col(idCol).cast("long").as(idCol), col(textCol)))
    val sets = hashedSets(all, idCol, textCol, shingleN)
    val buckets = ledgered(bandBuckets(sets, numHashes, bands).cache())
    val newIds = incoming.select(col(idCol).cast("long").as("doc_id")).distinct()
    val bucketsNew = buckets.join(newIds, Seq("doc_id"))
    val candidates = buckets.as("a")
      .join(bucketsNew.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") =!= col("b.doc_id"))
      .select(least(col("a.doc_id"), col("b.doc_id")).as("i"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("j"))
      .distinct()
    verifyHashed(sets, candidates, threshold)
  }

  /** 64-bit SimHash per document over word shingles: bit b of the hash is
    * the sign of the sum over shingles of ±1 according to bit b of the
    * shingle's hash. Computed tall — (doc, bit) rows through two narrow
    * aggregations — because a 64-wide sum-agg exceeds JIT codegen limits.
    */
  def simHash(docs: DataFrame, idCol: String, textCol: String, shingleN: Int = 3): DataFrame =
    simHashOf(hashedSets(docs, idCol, textCol, shingleN))

  private def simHashOf(sets: DataFrame): DataFrame =
    // native one-pass kernel (bit-identical to the former tall
    // (doc, bit) ±1 sum-aggregate, which exploded 64 rows per shingle
    // through a shuffle); empty docs carry no simhash
    sets.select(col("doc_id"),
        graft.plans.SimHashSig.simHashSig(col("hs")).as("simhash"))
      .filter(col("simhash").isNotNull)

  /** Hamming pre-filter bound for SimHash block-LSH at an exact-Jaccard
    * verification `threshold` — DERIVED from the LSH model, not tuned on
    * a fixture (the previous fixed 16 was measured on the sf0.1 corpus
    * and silently lost tail pairs on corpora whose Hamming distribution
    * is wider).
    *
    * Model: SimHash bit k of two docs differs with probability
    * p = θ/π, cos θ = I/√(|A||B|) (Charikar STOC'02, with each signature
    * bit driven by an independent hash bit ⇒ bits i.i.d. given the
    * sets, Hamming ~ Binomial(64, p)). At fixed Jaccard
    * J = I/(|A|+|B|−I), cosine is MINIMIZED when |A| = |B|
    * (I = J(a+b)/(1+J), so cos = J(a+b)/((1+J)√(ab)) ≥ 2J/(1+J) by
    * AM–GM) — equal-size sets are the worst case, which makes the bound
    * corpus-shape-universal: no sampled set-size statistics can make a
    * J ≥ t pair flip bits more often than p* = acos(2t/(1+t))/π.
    *
    * Returns the smallest h with P(Binomial(64, p*) > h) ≤ `missProb`:
    * a pair AT the threshold is admitted to exact verification with
    * probability ≥ 1−missProb (above it, higher). t = 0.8 ⇒ 19;
    * t = 0.9 ⇒ 15. Random non-dup pairs concentrate at Hamming ≈ 32, so
    * the filter still rejects nearly all block-collision noise.
    */
  def simHashMaxHamming(
      threshold: Double, missProb: Double = 1e-3, bits: Int = 64): Int = {
    require(threshold > 0.0 && threshold <= 1.0, s"bad threshold $threshold")
    require(missProb > 0.0 && missProb < 1.0, s"bad missProb $missProb")
    val p = math.acos(math.min(1.0, 2 * threshold / (1 + threshold))) / math.Pi
    if (p <= 0.0) 0
    else {
      // cumulative binomial in log space (comb(64, h) overflows doubles
      // combined with p^h only at the precision edge, not the magnitude
      // edge — still, the incremental form is exact enough and branch-free)
      var cum = 0.0
      var logC = 0.0 // log C(bits, 0)
      var h = 0
      var ans = bits
      var done = false
      while (h <= bits && !done) {
        cum += math.exp(logC + h * math.log(p) + (bits - h) * math.log1p(-p))
        if (1.0 - cum <= missProb) { ans = h; done = true }
        logC += math.log((bits - h).toDouble) - math.log((h + 1).toDouble)
        h += 1
      }
      ans
    }
  }

  /** Block-LSH candidate pairs for [[simHashPairs]], exposed so specs can
    * assert candidate volume stays ≪ n(n−1)/2. Pigeonhole: with `blocks`
    * equal-width blocks of a 64-bit SimHash, any pair with Hamming
    * distance < blocks shares at least one identical block.
    *
    * `maxHamming` ≤ 0 derives the bound from [[simHashMaxHamming]] at
    * J = 0.8 (the default verification threshold — [[simHashPairs]]
    * passes its own threshold through). The derived bound admits a pair
    * sitting exactly ON the threshold with probability ≥ 0.999 whatever
    * the corpus's document-length distribution; random non-dup pairs
    * concentrate at Hamming ≈ 32 and stay rejected. An explicit positive
    * value remains a recall/verification-volume knob for callers who
    * have measured their corpus's tail.
    */
  def simHashCandidates(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, blocks: Int = 8, maxHamming: Int = -1): DataFrame = {
    require(64 % blocks == 0, "blocks must divide 64")
    val mh = if (maxHamming > 0) maxHamming else simHashMaxHamming(0.8)
    val w = 64 / blocks
    val sets = hashedSets(docs, idCol, textCol, shingleN)
    val sig = ledgered(simHashOf(sets).cache())
    val blockVals = (0 until blocks).map { k =>
      shiftright(col("simhash"), k * w).bitwiseAND(lit((1L << w) - 1L))
    }
    val buckets = sig.select(col("doc_id"), col("simhash"),
      posexplode(array(blockVals: _*)).as(Seq("blk", "bv")))
    buckets.as("a")
      .join(buckets.as("b"),
        col("a.blk") === col("b.blk") && col("a.bv") === col("b.bv") &&
          col("a.doc_id") < col("b.doc_id"))
      .filter(bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))) <= mh)
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
  }

  /** Near-duplicate pairs via SimHash: block-LSH candidates (default 8
    * blocks × 8 bits ⇒ any pair with Hamming distance < 8 is guaranteed to
    * share a block — this covers the J≥0.8 regime, whose expected Hamming
    * is ≈ 7; pairs farther apart are still found when they happen to share
    * a block), Hamming ≤ maxHamming pre-filter, then exact Jaccard
    * verification. 8-bit blocks give 256 bucket values per block, so
    * expected per-block candidate volume is ~n²/512 on hash-random
    * corpora — the former 4-bit default (16 values/block) degenerated
    * toward all-pairs at large n. `maxHamming` ≤ 0 (the default) derives
    * the pre-filter bound from [[simHashMaxHamming]] AT `threshold`, so
    * tightening the verification threshold automatically tightens the
    * admitted Hamming tail and vice versa — the two knobs cannot drift
    * apart.
    */
  def simHashPairs(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, blocks: Int = 8, maxHamming: Int = -1,
      threshold: Double = 0.8): DataFrame = {
    val mh = if (maxHamming > 0) maxHamming else simHashMaxHamming(threshold)
    val sets = hashedSets(docs, idCol, textCol, shingleN)
    val candidates = simHashCandidates(docs, idCol, textCol, shingleN, blocks, mh)
    verifyHashed(sets, candidates, threshold)
  }

  /** Exact n-gram Jaccard pairs via prefix-filtered inverted index
    * (AllPairs / PPJoin prefix principle, Bayardo et al. WWW'07): order
    * shingles globally by document frequency (rarest first); a pair with
    * J ≥ t must share a shingle within each document's first
    * ⌊(1-t)·n⌋+1 shingles of that order, so only prefixes are indexed and
    * self-joined. Candidates are then verified with exact set Jaccard —
    * identical output to the naive Σ df² inverted-index join, but the join
    * touches rare shingles only, which is what survives a 100× scale-up
    * (frequent shingles are exactly the ones that explode the naive join).
    */
  def ngramJaccardPairs(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.8): DataFrame = {
    val sets = hashedSets(docs, idCol, textCol, shingleN)
    val sh = explodedHashes(sets)
    val (tNum, tDen) = thresholdFraction(threshold)
    val prefixes = ppjoinPrefixes(
        sh, sh.groupBy("h").agg(count(lit(1)).as("df")), tNum, tDen)
      .cache() // self-joined below; avoid recomputing df-join + windows twice
      .transform(ledgered)
    val candidates = prefixes.as("a")
      .join(prefixes.as("b"),
        col("a.h") === col("b.h") && col("a.doc_id") < col("b.doc_id") &&
          ppjoinPositional(tNum, tDen))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
    verifyHashed(sets, candidates, threshold)
  }

  /** Both PPJoin filters must round in EXACT arithmetic: in doubles,
    * (1-0.8)·10 = 1.999…96 floors one short (undersized prefix) and
    * 0.8/1.8·18 = 8.000…02 ceils one high (over-tight overlap bound) —
    * each silently drops pairs sitting exactly ON the threshold
    * (J = 8/10 at t = 0.8 was lost on the sf0.1 fixture). The threshold
    * becomes a decimal fraction tNum/tDen, rounded DOWN (recall-safe:
    * a smaller t only weakens the filters) and the bounds are integer
    * expressions — products stay < 2^53, exact in the engine's math.
    */
  private[operators] def thresholdFraction(threshold: Double): (Long, Long) = {
    val bd = BigDecimal(threshold.toString).setScale(6, BigDecimal.RoundingMode.FLOOR)
    ((bd * BigDecimal(1000000)).toLongExact, 1000000L)
  }

  /** Per-document PPJoin prefix rows (doc_id, h, rk, n) under the global
    * canonical order "ascending document frequency, ties by hash". Any
    * total order shared by all participating documents preserves the
    * prefix-filter guarantee; rarest-first additionally makes prefixes
    * carry the shingles LEAST likely to collide. `dfStats` is (h, df) —
    * the caller decides which corpus the frequencies come from (the
    * document's own corpus for a self-join, the union for a cross-join:
    * what matters is that every side ranks by the SAME df).
    *
    * Prefix length: n - ceil(t·n) + 1, ceil(t·n) = floor((tNum·n + tDen-1)/tDen).
    */
  private[operators] def ppjoinPrefixes(
      sh: DataFrame, dfStats: DataFrame, tNum: Long, tDen: Long): DataFrame =
    ppjoinPrefixRank(sh.join(dfStats, Seq("h")), tNum, tDen)

  /** The window-and-cut half of [[ppjoinPrefixes]], for callers that
    * already carry a `df` column per (doc_id, h) row (e.g. a stored-order
    * lookup with a default — one join instead of two).
    */
  private[operators] def ppjoinPrefixRank(
      ranked: DataFrame, tNum: Long, tDen: Long): DataFrame = {
    val byFreq = Window.partitionBy("doc_id").orderBy(col("df").asc, col("h").asc)
    ranked
      .withColumn("n", count(lit(1)).over(Window.partitionBy("doc_id")))
      .withColumn("rk", row_number().over(byFreq))
      .filter(col("rk") <=
        col("n") - floor((lit(tNum) * col("n") + lit(tDen - 1)) / lit(tDen)) + 1)
      .select("doc_id", "h", "rk", "n")
  }

  /** Positional filter (PPJoin) over prefix aliases `a`/`b`: J >= t needs
    * overlap c >= t/(1+t)·(na+nb), and a match at prefix positions
    * (ra, rb) can contribute at most 1 + min(na-ra, nb-rb) shared
    * elements. The first shared element of a qualifying pair always
    * passes, so dropping failing matches loses no true pair while pruning
    * most spurious rare-shingle collisions.
    * Integer form: c·(tDen+tNum) >= tNum·(na+nb).
    */
  private[operators] def ppjoinPositional(tNum: Long, tDen: Long): Column =
    (lit(1) + least(col("a.n") - col("a.rk"), col("b.n") - col("b.rk"))) *
      lit(tDen + tNum) >= lit(tNum) * (col("a.n") + col("b.n"))

  /** Exact set-similarity JOIN between two different corpora (the R-S
    * form of [[ngramJaccardPairs]]): every (left, right) pair with
    * shingle-Jaccard ≥ threshold, prefix-filtered and exact-verified —
    * the contamination screen run between a training corpus and an
    * arriving batch (or a benchmark set) without ever self-joining
    * either side.
    *
    * Same PPJoin machinery as the self-join; the one cross-specific
    * requirement is the CANONICAL ORDER: both sides must rank shingles by
    * the same frequencies, so df is computed over the UNION of the two
    * corpora (each side alone would rank differently and the prefix
    * theorem would not hold across sides). The candidate join is
    * left-prefix × right-prefix on the shared shingle — never O(|L|·|R|):
    * only pairs sharing a rare shingle materialize, and the positional
    * filter prunes the rest before exact verification.
    *
    * Ids must be unique ACROSS both inputs (they name pair members in the
    * output, and verification resolves them per side — a collision would
    * be reported ambiguously, not mis-verified).
    *
    * @return (i from left, j from right, jac) — exact Jaccard, 3 dp
    */
  def crossJaccardPairs(
      left: DataFrame, right: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, threshold: Double = 0.8): DataFrame = {
    val lSets = hashedSets(left, idCol, textCol, shingleN)
    val rSets = hashedSets(right, idCol, textCol, shingleN)
    val (tNum, tDen) = thresholdFraction(threshold)
    val lSh = explodedHashes(lSets)
    val rSh = explodedHashes(rSets)
    val dfStats = lSh.unionByName(rSh)
      .groupBy("h").agg(count(lit(1)).as("df"))
      .cache() // feeds both sides' prefix ranking below
      .transform(ledgered)
    val candidates = ppjoinPrefixes(lSh, dfStats, tNum, tDen).as("a")
      .join(ppjoinPrefixes(rSh, dfStats, tNum, tDen).as("b"),
        col("a.h") === col("b.h") && ppjoinPositional(tNum, tDen))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .distinct()
    // ids are unique across both inputs (the documented contract), so the
    // shared verifier resolves each side by key from the union
    verifyHashed(lSets.unionByName(rSets), candidates, threshold)
  }

  /** Most edges the components kernel finishes in one task: an edge list
    * at or under it streams through one `coalesce(1)` task into the
    * driver [[UnionFind]] (~48 bytes of heap per node, so ~100 MB at the
    * cap). [[CompIndex.update]] collects its batches to the driver too, so
    * it holds them to the same bound.
    */
  private[operators] val OneTaskEdges = 1000000L

  /** Union-find over long ids with min-id roots and path halving: after
    * any sequence of unions, an id's root is the smallest id connected to
    * it.
    * A LongMap keeps ids unboxed and open-addressed (no per-entry nodes).
    */
  private[operators] final class UnionFind {
    private val parent = scala.collection.mutable.LongMap.empty[Long]

    private def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }

    def union(a: Long, b: Long): Unit = {
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }

    /** (id, smallest connected id) for every id seen, ascending by id. */
    def labels: Seq[(Long, Long)] = parent.keys.toSeq.sorted.map(x => (x, find(x)))
  }

  /** Connected components over near-duplicate pairs.
    *
    * Near-duplicate edges are the r-th duplicate pair, not the r-th
    * document, so the edge list usually fits [[OneTaskEdges]] as it comes.
    * Then no round runs: one `count`, and one `coalesce(1)` task streams
    * the cached edges (`toLocalIterator`, one batch resident) into a
    * driver [[UnionFind]], whose roots are the labels.
    *
    * A larger edge list is first contracted by alternating large-star /
    * small-star rounds (Kiveris et al., "Connected Components in
    * MapReduce and Beyond", SoCC 2014). Each round keeps every component
    * connected and never adds edges; its output is a lazy checkpoint that
    * the round's one aggregate both materializes and measures. The rounds
    * stop when the edge list fits the budget, and the union-find finishes
    * it, or when it has converged to stars — every edge (node, its
    * component's minimum) — which are then the labels. Rounds are
    * O(log² n) whatever the graph's diameter, so long chains of revisions
    * need no iteration cap.
    *
    * @param pairs (i, j) undirected duplicate edges; (i, i) labels i as
    *              its own component unless other edges join it
    * @return (doc_id, comp) for every pair member, comp = min id reachable
    */
  def components(pairs: DataFrame): DataFrame = components(pairs, OneTaskEdges)

  /** [[components]] with the one-task budget as a parameter, so specs can
    * force contraction rounds on small graphs.
    */
  private[operators] def components(pairs: DataFrame, budget: Long): DataFrame = {
    val spark = pairs.sparkSession
    val raw = ledgered(pairs
      .select(col("i").cast("long").as("i"), col("j").cast("long").as("j"))
      .cache())
    var edges = raw
    var n = Jobs.labeled(spark, "dedup:components:count")(raw.count())
    var stars = false
    while (n > budget && !stars) Jobs.labeled(spark, "dedup:components:round") {
      // under AQE even a lazy checkpoint runs the round's shuffles here
      edges = smallStar(largeStar(edges)).localCheckpoint(false)
      val (m, unstarred) = starCount(edges)
      raw.unpersist() // read by the first round only
      n = m
      stars = unstarred == 0
    }
    val out = Jobs.labeled(spark, "dedup:components:finish") {
      if (n <= budget) {
        import scala.jdk.CollectionConverters._
        import spark.implicits._
        val uf = new UnionFind
        // coalesce(1): toLocalIterator runs one job per partition
        edges.coalesce(1).toLocalIterator().asScala
          .foreach(r => uf.union(r.getLong(0), r.getLong(1)))
        uf.labels.toDF("doc_id", "comp")
      } else edges.select(col("i").as("doc_id"), col("j").as("comp"))
        .union(edges.select(col("j"), col("j")))
        .distinct()
        .localCheckpoint()
    }
    raw.unpersist()
    out
  }

  /** Large-star: every neighbor v > u of u re-points at the minimum of u's
    * closed neighborhood. Edges come out as (i, j) with i > j; a node whose
    * only edge is its own loop keeps that loop, so it stays labeled.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val w = Window.partitionBy("u")
    e.select(col("i").as("u"), col("j").as("v"))
      .union(e.select(col("j"), col("i")))
      .select(col("u"), col("v"),
        least(col("u"), min("v").over(w)).as("m"), max("v").over(w).as("mx"))
      .filter(col("v") > col("u") || col("m") === col("u") && col("mx") === col("u"))
      .select(col("v").as("i"), col("m").as("j"))
      .distinct()
  }

  /** Small-star over (i, j), i > j edges: i and every j of i re-point at
    * the smallest such j; an isolated node's loop passes through.
    */
  private def smallStar(e: DataFrame): DataFrame =
    e.withColumn("m", min("j").over(Window.partitionBy("i")))
      .select(col("i"), col("m"), explode(array(col("i"), col("j"))).as("x"))
      .filter(col("x") =!= col("m") || col("i") === col("m"))
      .select(col("x").as("i"), col("m").as("j"))
      .distinct()

  /** (edges, nodes breaking the star shape) of a small-star output, in
    * one pass: the edges are stars once no node has two parents or is
    * both a child and a parent (an isolated node's loop is neither).
    */
  private def starCount(e: DataFrame): (Long, Long) = {
    val r = e.select(explode(array(
        struct(col("i").as("v"), lit(1L).as("c"), lit(0L).as("p")),
        struct(col("j").as("v"), lit(0L).as("c"),
          (col("i") =!= col("j")).cast("long").as("p")))).as("r"))
      .groupBy(col("r.v")).agg(sum("r.c").as("c"), sum("r.p").as("p"))
      .agg(coalesce(sum("c"), lit(0L)),
        count(when(col("c") > 1 || col("c") > 0 && col("p") > 0, 1)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** End-to-end corpus dedup: find near-dup pairs (MinHash LSH,
    * exact-verified), group them into components, and keep one document
    * per component (the minimum id) plus every untouched document.
    * Returns the surviving doc ids.
    */
  def dedupeCorpus(
      docs: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    val pairs = minHashPairs(docs, idCol, textCol, shingleN, numHashes, bands, threshold)
    val losers = components(pairs)
      .filter(col("doc_id") =!= col("comp"))
      .select(col("doc_id"))
    docs.select(col(idCol).as("doc_id"))
      .join(losers, Seq("doc_id"), "left_anti")
  }

  /** Quality-aware corpus dedup: like [[dedupeCorpus]], but the survivor
    * of each near-duplicate component is the member with the HIGHEST
    * `scoreCol` (ties to the smallest id) instead of the smallest id —
    * what production recipes actually keep (the longest / cleanest /
    * highest-LM-scored copy), since near-dup copies routinely differ in
    * truncation and boilerplate.
    *
    * Same plan as [[dedupeCorpus]] plus one component-keyed window whose
    * `row_number = 1` cut group-limits before its exchange; components
    * are near-dup clusters, so the window partitions are tiny by
    * construction.
    *
    * @return surviving doc ids (one best-scored per component + all
    *         unpaired docs)
    */
  def dedupeCorpusBy(
      docs: DataFrame, idCol: String, textCol: String, scoreCol: String,
      shingleN: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.8): DataFrame = {
    val pairs = minHashPairs(docs, idCol, textCol, shingleN, numHashes, bands, threshold)
    val losers = bestScoreLosers(components(pairs),
      docs.select(col(idCol).as("doc_id"), col(scoreCol).as("__s")))
    docs.select(col(idCol).as("doc_id"))
      .join(losers, Seq("doc_id"), "left_anti")
  }

  /** The keep-best survivor policy shared by [[dedupeCorpusBy]] and
    * [[semanticDedupBy]]: every pair member EXCEPT the highest-`__s`
    * (ties to the smallest id) of its component. `labels` = (doc_id,
    * comp) from [[components]]; `scored` = (doc_id, __s). One
    * component-keyed window whose `row_number = 1` cut group-limits
    * before its exchange; components are near-dup clusters, so the
    * window partitions are tiny by construction.
    */
  private def bestScoreLosers(labels: DataFrame, scored: DataFrame): DataFrame = {
    val w = Window.partitionBy("comp").orderBy(col("__s").desc, col("doc_id"))
    labels.join(scored, Seq("doc_id"))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") > 1)
      .select(col("doc_id"))
  }

  /** Near-duplicate embedding pairs (cosine ≥ threshold) via
    * random-hyperplane LSH: `tables` independent signature words of
    * `planesPerTable` bits each; candidates share a full word in ≥1 table;
    * exact cosine verification. Deterministic: hyperplanes are seeded.
    *
    * The key width MUST scale with the corpus, and as of round 6 it DOES:
    * `planesPerTable = 0` (the default) derives the width from a cheap
    * corpus count via [[Lsh.autoPlanes]] — expected bucket occupancy
    * stays ~constant, so candidate volume stays LINEAR in n; the fixed
    * 8-bit width this replaces was measured at ~2 billion candidate rows
    * (driver heap death) on a 505k-vector probe. `tables = 0` (default)
    * derives the table count holding P(miss at the threshold) ≤ 1e-3 via
    * [[Lsh.autoTables]]. Pass both explicitly to pin a plan (and skip the
    * count job), or pass `baseCount` when the caller already knows n so
    * the derivation does not re-scan the base per call (same knob as
    * [[Similarity.srpTopK]]).
    */
  def embeddingPairs(
      emb: DataFrame, idCol: String, vecCol: String, dim: Int,
      threshold: Double = 0.95, planesPerTable: Int = 0, tables: Int = 0,
      seed: Long = 42L, baseCount: Long = -1L): DataFrame = {
    val buckets = srpBucketed(emb, idCol, vecCol, dim, threshold,
      planesPerTable, tables, seed, baseCount)
    val candidates = srpCandidates(buckets)
    val vecs = buckets.select(col("vid"), col("v")).dropDuplicates("vid")
    candidates
      .join(vecs.as("vi"), col("i") === col("vi.vid"))
      .join(vecs.as("vj"), col("j") === col("vj.vid"))
      .select(col("i"), col("j"),
        graft.plans.GraftFunctions.cosine(col("vi.v"), col("vj.v")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("i"), col("j"), round(col("cos"), 3).as("cos"))
  }

  /** The candidate stage of [[embeddingPairs]] alone — (i, j) ids sharing
    * ≥1 bucket — exposed so scale guards can assert candidate volume
    * stays linear in n under the auto-derived key width.
    */
  def embeddingCandidates(
      emb: DataFrame, idCol: String, vecCol: String, dim: Int,
      threshold: Double = 0.95, planesPerTable: Int = 0, tables: Int = 0,
      seed: Long = 42L, baseCount: Long = -1L): DataFrame =
    srpCandidates(srpBucketed(emb, idCol, vecCol, dim, threshold,
      planesPerTable, tables, seed, baseCount))

  /** Cached (vid, v, t, bk) bucket rows with auto-derived LSH geometry:
    * width from [[Lsh.autoPlanes]] on a corpus count (`baseCount` when
    * the caller already knows it, else one cheap count job) when
    * `planesPerTable = 0`, table count from [[Lsh.autoTables]] at the
    * verification threshold when `tables = 0`.
    */
  private def srpBucketed(
      emb: DataFrame, idCol: String, vecCol: String, dim: Int,
      threshold: Double, planesPerTable: Int, tables: Int,
      seed: Long, baseCount: Long = -1L): DataFrame = {
    val bits =
      if (planesPerTable > 0) planesPerTable
      else Lsh.autoPlanes(if (baseCount >= 0L) baseCount else emb.count())
    val nTables = if (tables > 0) tables else Lsh.autoTables(bits, threshold)
    val rnd = new scala.util.Random(seed)
    val planes: Seq[Seq[Double]] =
      Seq.fill(nTables * bits)(Seq.fill(dim)(rnd.nextGaussian()))
    // per-table bucket keys in ONE kernel pass (sign bits identical to
    // the interpreted per-plane HOF form — same planes, same fold order);
    // cached for the self-join (keys would otherwise compute twice)
    emb.select(col(idCol).as("vid"), col(vecCol).as("v"),
        graft.plans.SrpBuckets.srpBuckets(col(vecCol), planes, bits)
          .as("bks"))
      .filter(col("bks").isNotNull)
      .select(col("vid"), col("v"),
        posexplode(col("bks")).as(Seq("t", "bk")))
      .cache()
      .transform(ledgered)
  }

  /** Distinct candidate ids from a bucket frame. Deduped BEFORE scoring:
    * a pair colliding in k of the LSH tables would otherwise be
    * cosine-scored k times and deduped after the fact.
    */
  private def srpCandidates(buckets: DataFrame): DataFrame =
    buckets.as("a")
      .join(buckets.as("b"),
        col("a.t") === col("b.t") && col("a.bk") === col("b.bk") &&
          col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("i"), col("b.vid").as("j"))
      .distinct()

  /** Paragraph/line-level dedup — the C4/Dolma shape: drop every repeated
    * line (boilerplate headers, navigation chrome, license blurbs) from
    * the corpus, keeping only its globally FIRST occurrence in
    * (`idCol`, position) order, and reassemble each document from its
    * surviving lines. Blank lines are document structure, not content —
    * they are always kept and never count as duplicates of each other.
    *
    * Returns one row per input document:
    * (doc_id, clean_text, n_kept, n_removed). A document whose every line
    * was seen earlier comes back with `clean_text = ""`. Null text
    * round-trips as a single blank line (`clean_text = ""`, n_kept = 1).
    *
    * Scale shape: lines travel as 64-bit `xxhash64` keys. The
    * first-occurrence winner per line is a map-side-combinable
    * `min(struct(doc, pos))` AGGREGATE — not a per-line window — so a
    * boilerplate line repeated 10⁹ times costs one combiner cell per
    * task, not a 10⁹-row window partition. The join back on the hash is
    * the only skew-exposed step (hot probe key, 1-row build side per
    * key); AQE's skew-split handles it. Reassembly is one agg keyed by
    * doc id with a deterministic (pos, line) sort inside the group.
    *
    * @param sep line separator, treated as a literal string
    */
  def lineDedup(
      docs: DataFrame, idCol: String, textCol: String,
      sep: String = "\n"): DataFrame = {
    val lines = docs.select(col(idCol).as("doc_id"),
      posexplode(split(coalesce(col(textCol), lit("")),
        java.util.regex.Pattern.quote(sep))).as(Seq("pos", "line")))
    // cache barrier: the exploded line table feeds both the winner agg and
    // the keep-flag join — uncached, the split+posexplode would run twice
    val hashed = ledgered(lines.select(col("doc_id"), col("pos"), col("line"),
      xxhash64(col("line")).as("h"),
      (trim(col("line")) === "").as("blank")).cache())
    val winners = hashed.filter(!col("blank"))
      .groupBy("h")
      .agg(min(struct(col("doc_id"), col("pos"))).as("w"))
    val flagged = hashed.join(winners, Seq("h"), "left")
      .withColumn("keep", col("blank") ||
        (col("doc_id") === col("w.doc_id") && col("pos") === col("w.pos")))
    flagged.groupBy("doc_id").agg(
      concat_ws(sep, transform(
        array_sort(collect_list(when(col("keep"),
          struct(col("pos"), col("line"))))),
        s => s.getField("line"))).as("clean_text"),
      count(when(col("keep"), lit(1))).as("n_kept"),
      count(when(!col("keep"), lit(1))).as("n_removed"))
  }

  /** Boilerplate stripping by line document-frequency — the C4 rule that
    * complements [[lineDedup]]: a line appearing in ≥ `minDocs` DISTINCT
    * documents is site chrome (cookie banners, nav menus, license
    * footers) and is removed from EVERY document, including the first —
    * where [[lineDedup]] keeps one copy of each repeated line, this keeps
    * none. Blank lines are structure and always survive.
    *
    * Returns one row per input document:
    * (doc_id, clean_text, n_kept, n_removed).
    *
    * Scale shape: lines travel as 64-bit `xxhash64` keys. The document
    * frequency per line is a two-level aggregate — distinct (hash, doc)
    * then count by hash — both map-side combinable, never a window over
    * a hot line's occurrence list. Only hashes that cross the threshold
    * (the boilerplate set, a vanishing fraction of distinct lines) are
    * joined back, as a LEFT join marking removals; AQE's skew-split
    * covers a boilerplate hash hot on the probe side. Reassembly is one
    * agg keyed by doc id with a deterministic (pos, line) sort inside
    * the group.
    *
    * @param sep line separator, treated as a literal string
    */
  def stripBoilerplate(
      docs: DataFrame, idCol: String, textCol: String,
      minDocs: Int, sep: String = "\n"): DataFrame = {
    require(minDocs > 1, s"minDocs must exceed 1: $minDocs")
    val lines = docs.select(col(idCol).as("doc_id"),
      posexplode(split(coalesce(col(textCol), lit("")),
        java.util.regex.Pattern.quote(sep))).as(Seq("pos", "line")))
    // cache barrier: the exploded line table feeds both the line-df agg
    // and the removal join — uncached, the split+posexplode runs twice
    val hashed = ledgered(lines.select(col("doc_id"), col("pos"), col("line"),
      xxhash64(col("line")).as("h"),
      (trim(col("line")) === "").as("blank")).cache())
    val boiler = hashed.filter(!col("blank"))
      .select("h", "doc_id").distinct()
      .groupBy("h").agg(count(lit(1)).as("df"))
      .filter(col("df") >= minDocs)
      .select(col("h"), lit(true).as("boiler"))
    val flagged = hashed.join(boiler, Seq("h"), "left")
      .withColumn("keep", col("blank") || col("boiler").isNull)
    flagged.groupBy("doc_id").agg(
      concat_ws(sep, transform(
        array_sort(collect_list(when(col("keep"),
          struct(col("pos"), col("line"))))),
        s => s.getField("line"))).as("clean_text"),
      count(when(col("keep"), lit(1))).as("n_kept"),
      count(when(!col("keep"), lit(1))).as("n_removed"))
  }

  // ──────────────────── semantic dedup (SemDeDup-style) ────────────────────

  /** Default within-cluster population for [[semanticK]]'s auto-derived
    * cluster count. 1024 keeps the per-cluster pair volume at
    * ~1024²/2 ≈ 0.5 M cosine verifications per cluster task and total
    * candidate volume at ~n·1024/2 — LINEAR in n, the same invariant
    * [[graft.operators.Lsh.autoPlanes]] enforces for the SRP family.
    */
  private[operators] val SemanticTargetCluster = 1024L

  /** Cluster count for a corpus of `n` vectors: ⌈n / targetCluster⌉.
    * Exposed (rather than inlined) so specs can pin the derivation the
    * way LshSpec pins autoPlanes — re-widening this default must break
    * the build, not a 100 TB run.
    */
  def semanticK(n: Long, targetCluster: Long = SemanticTargetCluster): Int =
    math.ceil(n.toDouble / targetCluster.max(1L)).toInt.max(1)

  /** Angular k-means assignment for [[semanticPairs]]: (vid, cluster),
    * one row per input vector. Clustering runs on L2-NORMALIZED copies
    * (semantic similarity is cosine, i.e. angle — un-normalized k-means
    * would split by magnitude), training and assignment both through
    * [[Similarity.IvfIndex]]'s seeded sampled-Lloyd so the semantic and
    * ANN coarse quantizers cannot diverge. Zero vectors pass through
    * un-normalized: they land in some cluster but pair with nothing —
    * the fused cosine kernel scores them 0.0 against everything, below
    * any positive threshold (which [[semanticPairs]] require()s) — so
    * they can never be dropped.
    *
    * `nClusters = 0` derives k from the corpus count via [[semanticK]];
    * pass `baseCount` when the caller already knows n to skip the count
    * job (the [[embeddingPairs]] knob).
    */
  def semanticClusters(
      emb: DataFrame, idCol: String, vecCol: String, nClusters: Int = 0,
      iters: Int = 5, sampleSize: Int = 10000, seed: Long = 42L,
      baseCount: Long = -1L): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val n = if (baseCount >= 0L) baseCount else emb.count()
    val k = if (nClusters > 0) nClusters else semanticK(n)
    // normalization runs TYPED (one norm per row in JVM code), not as a
    // transform-lambda dividing by an inlined aggregate(): higher-order
    // functions are CodegenFallback, and nesting the norm inside the
    // per-element lambda re-evaluates it 64× per row interpreted — the
    // same pathology as the round-6 shingle HOF; measured ~30 s of the
    // 505k probe leg for what is one fused pass here
    val unit = emb.select(col(idCol).cast("long").as("vid"),
        transform(col(vecCol), x => x.cast("double")).as("v"))
      .as[(Long, Array[Double])]
      .map { case (vid, v) =>
        var s = 0.0; var i = 0
        while (i < v.length) { s += v(i) * v(i); i += 1 }
        if (s > 0) {
          val inv = 1.0 / math.sqrt(s)
          val u = new Array[Double](v.length)
          i = 0; while (i < v.length) { u(i) = v(i) * inv; i += 1 }
          (vid, u)
        } else (vid, v)
      }.toDF(idCol, vecCol)
    Similarity.IvfIndex
      .build(spark, unit, idCol, vecCol, k, iters, sampleSize, seed,
        baseCount = n)
      .assigned.select(col("vid"), col("cluster"))
  }

  /** The candidate stage of [[semanticPairs]] alone — (i, j) id pairs
    * sharing a cluster — exposed so scale guards can assert candidate
    * volume stays ~n·targetCluster/2 under the auto-derived k (the
    * semantic analogue of [[embeddingCandidates]]). The self-join key is
    * the cluster id: Spark shuffles (vid, cluster) pairs only, and an
    * oversized cluster is a hot inner-join key AQE's skew-split
    * parallelizes by replicating the build side — never a cross product.
    */
  def semanticCandidates(
      emb: DataFrame, idCol: String, vecCol: String, nClusters: Int = 0,
      iters: Int = 5, sampleSize: Int = 10000, seed: Long = 42L,
      baseCount: Long = -1L): DataFrame = {
    val assigned = ledgered(
      semanticClusters(emb, idCol, vecCol, nClusters, iters, sampleSize,
        seed, baseCount).cache())
    assigned.as("a")
      .join(assigned.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("i"), col("b.vid").as("j"))
  }

  /** SemDeDup-style semantic duplicate pairs (Abbas et al. 2023,
    * arXiv:2303.09540): k-means-cluster the embedding space, then score
    * cosine WITHIN each cluster only — the standard scope cut that makes
    * embedding dedup tractable at thresholds too LOW for SRP-LSH
    * ([[embeddingPairs]]'s table count explodes as the threshold drops:
    * [[Lsh.autoTables]] at 0.95 needs ~14 tables, at 0.80 over a
    * hundred — while cluster scoping is threshold-independent).
    *
    * Candidates are exact-cosine-verified like every family member, so
    * within a cluster the output equals brute force; pairs STRADDLING a
    * cluster boundary are out of scope by design (the paper's recall
    * trade). `nClusters = 1` is exact mode — the scope is the whole
    * corpus (the `ann_ivf` nprobe=all precedent), quadratic and only for
    * oracle-scale corpora. Exact duplicates can never straddle: identical
    * vectors assign to the same cluster deterministically. (Zero-vector
    * clones are the one exception — they cosine-score 0.0 against
    * everything including each other, so no positive threshold sees
    * them; the require below keeps that invariant honest.)
    */
  def semanticPairs(
      emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.85, nClusters: Int = 0, iters: Int = 5,
      sampleSize: Int = 10000, seed: Long = 42L,
      baseCount: Long = -1L): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold out of (0,1]: $threshold — at <= 0 every co-clustered " +
        "pair (zero vectors included) would collapse into one component")
    // vectors ride THROUGH the cluster self-join (one n-row join to pin
    // the original float payload back onto the assignment, then n rows ×
    // ~260 B shuffled per side) so the ~n·targetCluster/2 candidate rows
    // are scored and filtered INSIDE the join's stage — never shuffled,
    // never re-joined. The thin-candidates-then-fetch-vectors shape this
    // replaces sort-merge-joined the candidate set against the vector
    // table twice: 258 M rows through two exchanges at the 505k probe,
    // measured 109 s vs ~20 s for this plan. Cached: self-joined derived
    // relation (house rule — Spark has no cross-branch CSE).
    val vecs = emb.select(col(idCol).cast("long").as("vid"),
      col(vecCol).as("v")).dropDuplicates("vid")
    val assigned = ledgered(
      semanticClusters(emb, idCol, vecCol, nClusters, iters, sampleSize,
        seed, baseCount)
        .join(vecs, Seq("vid"))
        .cache())
    assigned.as("a")
      .join(assigned.as("b"),
        col("a.cluster") === col("b.cluster") && col("a.vid") < col("b.vid"))
      .select(col("a.vid").as("i"), col("b.vid").as("j"),
        graft.plans.GraftFunctions.cosine(col("a.v"), col("b.v")).as("cos"))
      .filter(col("cos") >= threshold)
      .select(col("i"), col("j"), round(col("cos"), 3).as("cos"))
  }

  /** End-to-end semantic dedup: [[semanticPairs]] → connected components
    * → keep the minimum id per component plus every untouched vector
    * (the [[dedupeCorpus]] shape over embedding space). Returns surviving
    * ids under the caller's id column name.
    */
  def semanticDedup(
      emb: DataFrame, idCol: String, vecCol: String,
      threshold: Double = 0.85, nClusters: Int = 0, iters: Int = 5,
      sampleSize: Int = 10000, seed: Long = 42L,
      baseCount: Long = -1L): DataFrame = {
    val losers = components(
      semanticPairs(emb, idCol, vecCol, threshold, nClusters, iters,
        sampleSize, seed, baseCount).select(col("i"), col("j")))
      .filter(col("doc_id") =!= col("comp"))
      .select(col("doc_id").as(idCol))
    emb.select(col(idCol).cast("long").as(idCol))
      .join(losers, Seq(idCol), "left_anti")
  }

  /** Score-aware semantic dedup: the survivor of each semantic-duplicate
    * component is the member with the HIGHEST `scoreCol` (ties to the
    * smallest id) — the [[dedupeCorpusBy]] policy over embedding space.
    * SemDeDup's published keep rule (the member LEAST similar to its
    * cluster centroid, maximizing retained diversity) is this with
    * `scoreCol` = negated centroid similarity; any quality score works.
    * Same plan as [[semanticDedup]] plus one component-keyed window whose
    * partitions are duplicate clusters — tiny by construction.
    */
  def semanticDedupBy(
      emb: DataFrame, idCol: String, vecCol: String, scoreCol: String,
      threshold: Double = 0.85, nClusters: Int = 0, iters: Int = 5,
      sampleSize: Int = 10000, seed: Long = 42L,
      baseCount: Long = -1L): DataFrame = {
    val losers = bestScoreLosers(
      components(semanticPairs(emb, idCol, vecCol, threshold, nClusters,
        iters, sampleSize, seed, baseCount).select(col("i"), col("j"))),
      emb.select(col(idCol).cast("long").as("doc_id"),
        col(scoreCol).as("__s")))
      .select(col("doc_id").as(idCol))
    emb.select(col(idCol).cast("long").as(idCol))
      .join(losers, Seq(idCol), "left_anti")
  }
}
