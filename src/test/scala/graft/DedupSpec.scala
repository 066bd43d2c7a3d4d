package graft

import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Dedup operators over synthetic documents with planted near-duplicates:
  * every LSH variant must recover exactly the brute-force verified pairs.
  */
class DedupSpec extends SparkSpec {

  private lazy val docs = {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val rows = Seq(
      (0L, base),
      (1L, base.replace("theta", "THETA")),          // near-dup of 0
      (2L, base),                                    // exact dup of 0
      (3L, "completely different words entirely here now today folks yes"),
      (4L, base.split(" ").reverse.mkString(" ")),   // same tokens, different order
      (5L, "short doc"))
    spark.createDataFrame(rows).toDF("doc_id", "text")
  }

  /** Oracle: brute-force all-pairs exact 3-shingle Jaccard >= 0.8. */
  private lazy val expectedPairs: Set[(Long, Long)] = {
    def shingles(t: String): Set[String] =
      t.split(" ").toSeq.sliding(3).map(_.mkString(" ")).toSet
    val m = docs.collect().map(r => r.getLong(0) -> shingles(r.getString(1))).toMap
    (for {
      i <- m.keys; j <- m.keys if i < j
      inter = (m(i) & m(j)).size.toDouble
      uni = (m(i) | m(j)).size.toDouble
      if uni > 0 && inter / uni >= 0.8
    } yield (i, j)).toSet
  }

  private def pairsOf(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("exact dedup keeps min key per group with group sizes") {
    val got = Dedup.exact(docs, "doc_id", Seq("text"))
      .select("doc_id", "group_size")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSet == Set((0L, 2L), (1L, 1L), (3L, 1L), (4L, 1L), (5L, 1L)))
  }

  test("minhash LSH pairs equal brute-force verified pairs") {
    assert(pairsOf(Dedup.minHashPairs(docs, "doc_id", "text")) == expectedPairs)
    // the exact-dup pair must be found; the single-token edit (J≈0.71)
    // correctly falls below the 0.8 threshold
    assert(expectedPairs.contains((0L, 2L)) && !expectedPairs.contains((0L, 1L)))
    // at a 0.7 threshold the edited pair is included too
    val loose = pairsOf(Dedup.minHashPairs(docs, "doc_id", "text", threshold = 0.7))
    assert(loose.contains((0L, 1L)) && loose.contains((0L, 2L)))
  }

  test("simhash pairs equal brute-force verified pairs") {
    assert(pairsOf(Dedup.simHashPairs(docs, "doc_id", "text")) == expectedPairs)
  }

  test("exact ngram-jaccard pairs equal brute-force verified pairs") {
    assert(pairsOf(Dedup.ngramJaccardPairs(docs, "doc_id", "text")) == expectedPairs)
  }

  test("ngram pairs sitting exactly ON the threshold are kept (no float rounding loss)") {
    // a: 10 tokens -> 8 distinct 3-shingles; b: a + 2 tokens -> 10 shingles,
    // 8 shared => J = 8/10 = 0.8 EXACTLY at threshold 0.8. In binary
    // doubles the PPJoin prefix ((1-0.8)*10 floors one short) and overlap
    // bound (0.8/1.8*18 ceils one high) both dropped this pair.
    val a = "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"
    val b = a + " x0 x1"
    val df = spark.createDataFrame(Seq((1L, a), (2L, b))).toDF("doc_id", "text")
    assert(pairsOf(Dedup.ngramJaccardPairs(df, "doc_id", "text", threshold = 0.8)) ==
      Set((1L, 2L)))
    // sanity: the same boundary pair also survives the other LSH variants
    assert(pairsOf(Dedup.minHashPairs(df, "doc_id", "text")) == Set((1L, 2L)))
    assert(pairsOf(Dedup.simHashPairs(df, "doc_id", "text")) == Set((1L, 2L)))
  }

  test("randomized corpus: minhash pairs equal brute force with planted exact and near dups") {
    val rnd = new scala.util.Random(23)
    val vocab = Array.tabulate(500)(i => s"w$i")
    def mkDoc(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    val bases = (0 until 80).map(i => (i.toLong, mkDoc(30)))
    val planted = (0 until 40).map { k =>
      val (_, text) = bases(rnd.nextInt(bases.length))
      val toks = text.split(" ")
      val edited = toks.updated(rnd.nextInt(toks.length),
        vocab(rnd.nextInt(vocab.length))).mkString(" ")
      (100L + k, if (k % 2 == 0) text else edited)
    }
    val corpus = spark.createDataFrame(bases ++ planted).toDF("doc_id", "text")
    def shingleSet(t: String): Set[String] =
      t.split(" ").toSeq.sliding(3).map(_.mkString(" ")).toSet
    val m = corpus.collect().map(r => r.getLong(0) -> shingleSet(r.getString(1))).toMap
    val brute = (for {
      i <- m.keys; j <- m.keys if i < j
      inter = (m(i) & m(j)).size.toDouble
      uni = (m(i) | m(j)).size.toDouble
      if uni > 0 && inter / uni >= 0.8
    } yield (i, j)).toSet
    assert(brute.nonEmpty, "fixture must plant at least one qualifying pair")
    assert(pairsOf(Dedup.minHashPairs(corpus, "doc_id", "text")) == brute)
  }

  test("incremental minhash pairs equal full pairs restricted to the new batch") {
    // Split the fixture corpus: docs 0-3 are the existing corpus, 4-5 the
    // incoming batch. Incremental output must be exactly the brute-force
    // pairs that touch at least one incoming doc — and must find nothing
    // here at 0.8 (the only qualifying pair, (0,2), is corpus-internal).
    val corpus = docs.filter(col("doc_id") < 4)
    val incoming = docs.filter(col("doc_id") >= 4)
    val got = pairsOf(Dedup.incrementalMinHashPairs(corpus, incoming, "doc_id", "text"))
    assert(got == expectedPairs.filter { case (i, j) => i >= 4 || j >= 4 })
    assert(got.isEmpty)
    // move the near-dup into the incoming batch: corpus 0-1, incoming 2-5 —
    // the exact-dup pair (0,2) now crosses the boundary and must surface
    val got2 = pairsOf(Dedup.incrementalMinHashPairs(
      docs.filter(col("doc_id") < 2), docs.filter(col("doc_id") >= 2), "doc_id", "text"))
    assert(got2 == expectedPairs.filter { case (i, j) => i >= 2 || j >= 2 })
    assert(got2.contains((0L, 2L)))
  }

  test("cross-corpus R-S jaccard join: strictly cross-side, exact, both boundary-safe") {
    // corpus 0-1 vs batch 2-5: the exact-dup pair (0,2) crosses the split
    val got = Dedup.crossJaccardPairs(
      docs.filter(col("doc_id") < 2), docs.filter(col("doc_id") >= 2),
      "doc_id", "text").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((0L, 2L)))
    // strictly cross: put BOTH dup members on the right side — the pair is
    // right-internal, so the R-S join must report nothing even though a
    // self-join over the union would find it
    assert(Dedup.crossJaccardPairs(
      docs.filter(col("doc_id") === 3), docs.filter(col("doc_id") =!= 3),
      "doc_id", "text").count() == 0)
    // the J = 8/10 = 0.8 threshold-boundary pair survives across sides too
    // (the exact-arithmetic PPJoin bounds, cross form)
    val a = "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"
    val left = spark.createDataFrame(Seq((1L, a))).toDF("doc_id", "text")
    val right = spark.createDataFrame(Seq((2L, a + " x0 x1"))).toDF("doc_id", "text")
    val boundary = Dedup.crossJaccardPairs(left, right, "doc_id", "text",
      threshold = 0.8).collect()
    assert(boundary.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L)))
    assert(boundary.head.getDouble(2) == 0.8)
  }

  test("randomized corpus: cross pairs equal brute force restricted to cross-side") {
    val rnd = new scala.util.Random(41)
    val vocab = Array.tabulate(400)(i => s"w$i")
    def mkDoc(n: Int) = Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" ")
    val bases = (0 until 60).map(i => (i.toLong, mkDoc(30)))
    // plant copies and one-token edits of LEFT docs into the RIGHT ids
    val planted = (0 until 30).map { k =>
      val (_, text) = bases(rnd.nextInt(bases.length))
      val toks = text.split(" ")
      val edited = toks.updated(rnd.nextInt(toks.length),
        vocab(rnd.nextInt(vocab.length))).mkString(" ")
      (100L + k, if (k % 2 == 0) text else edited)
    }
    val all = bases ++ planted
    def shingleSet(t: String): Set[String] =
      t.split(" ").toSeq.sliding(3).map(_.mkString(" ")).toSet
    val m = all.map { case (id, t) => id -> shingleSet(t) }.toMap
    val brute = (for {
      i <- m.keys if i < 100; j <- m.keys if j >= 100
      inter = (m(i) & m(j)).size.toDouble
      uni = (m(i) | m(j)).size.toDouble
      if uni > 0 && inter / uni >= 0.8
    } yield (i, j)).toSet
    assert(brute.nonEmpty, "fixture must plant at least one qualifying cross pair")
    val got = Dedup.crossJaccardPairs(
      spark.createDataFrame(bases).toDF("doc_id", "text"),
      spark.createDataFrame(planted).toDF("doc_id", "text"),
      "doc_id", "text").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute)
  }

  test("simhash block-LSH candidate volume stays far below all-pairs at 5k docs") {
    // A corpus of 5k distinct random documents: with 8-bit blocks (256
    // bucket values per block) plus the Hamming pre-filter, candidate
    // generation must stay a small fraction of n(n-1)/2 — the former 4-bit
    // default (16 values per block) degenerated toward all-pairs at scale.
    val rnd = new scala.util.Random(11)
    val vocab = Array.fill(2000)("w" + rnd.nextInt(100000))
    val rows = (0 until 5000).map { i =>
      (i.toLong, Seq.fill(12)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    val corpus = spark.createDataFrame(rows).toDF("doc_id", "text")
    val n = 5000L
    val allPairs = n * (n - 1) / 2
    val candidates = Dedup.simHashCandidates(corpus, "doc_id", "text").count()
    assert(candidates < allPairs / 50,
      s"simhash candidates $candidates not << all-pairs $allPairs")
  }

  test("simHashMaxHamming: derived from the threshold's binomial tail, monotone") {
    // pinned values from the model (p* = acos(2t/(1+t))/π, miss 1e-3):
    // the bound is a DERIVATION, so these are checkable constants, not
    // fixture measurements
    assert(Dedup.simHashMaxHamming(0.8) == 19)
    assert(Dedup.simHashMaxHamming(0.9) == 15)
    assert(Dedup.simHashMaxHamming(0.95) == 12)
    assert(Dedup.simHashMaxHamming(1.0) == 0, "exact dups flip no bits")
    // tighter threshold -> tighter bound; looser missProb -> tighter bound
    val ts = Seq(0.5, 0.6, 0.7, 0.8, 0.9, 0.99)
    assert(ts.map(Dedup.simHashMaxHamming(_)) == ts.map(Dedup.simHashMaxHamming(_)).sorted.reverse)
    assert(Dedup.simHashMaxHamming(0.8, missProb = 0.1) <
      Dedup.simHashMaxHamming(0.8, missProb = 1e-6))
  }

  test("derived Hamming bound catches tail pairs the fixed 16 missed — short and long docs") {
    // Planted pairs sitting just above J = 0.8: family f's variant doc
    // replaces the base doc's last nRepl words, changing exactly nRepl of
    // the m = nWords-2 word-3-shingles, so J = (m-nRepl)/(m+nRepl) is
    // exact by construction. Families share no vocabulary (J = 0 across
    // families). At this J the SimHash Hamming distribution has mean ≈ 9
    // with a real tail past 16 (~0.5% of pairs) — over 2000 families some
    // pairs MUST land there deterministically, and those are precisely
    // the pairs the old fixture-tuned bound silently dropped.
    for ((nWords, nRepl, label) <- Seq((40, 4, "short"), (120, 12, "long"))) {
      val m = nWords - 2
      val jPlanted = (m - nRepl).toDouble / (m + nRepl)
      assert(jPlanted >= 0.8, s"bad plant geometry for $label: $jPlanted")
      val rows = (0 until 2000).flatMap { f =>
        val words = (0 until nWords).map(w => s"f${f}w$w")
        val variant = words.dropRight(nRepl) ++ (0 until nRepl).map(r => s"f${f}x$r")
        Seq((2L * f, words.mkString(" ")), (2L * f + 1, variant.mkString(" ")))
      }
      val corpus = spark.createDataFrame(rows).toDF("doc_id", "text")
      val withDerived = pairsOf(Dedup.simHashPairs(corpus, "doc_id", "text"))
      Dedup.releaseCaches()
      val with16 = pairsOf(Dedup.simHashPairs(corpus, "doc_id", "text", maxHamming = 16))
      Dedup.releaseCaches()
      val recovered = withDerived -- with16
      assert(with16.subsetOf(withDerived),
        s"[$label] widening the bound must only add pairs")
      assert(recovered.nonEmpty,
        s"[$label] no planted pair landed in Hamming 17..19 — the derived " +
          "bound recovered nothing over the fixed 16 (plant more families?)")
      // every recovered pair is a true planted pair in the tail window
      val sig = Dedup.simHash(corpus, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      Dedup.releaseCaches()
      recovered.foreach { case (i, j) =>
        assert(j == i + 1 && i % 2 == 0, s"[$label] non-planted pair ($i,$j)")
        val h = java.lang.Long.bitCount(sig(i) ^ sig(j))
        assert(h > 16 && h <= Dedup.simHashMaxHamming(0.8),
          s"[$label] pair ($i,$j) at Hamming $h outside the recovered window")
      }
    }
  }

  test("components: chained pairs collapse to one min-labeled component") {
    val pairs = spark.createDataFrame(Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),   // chain 1-2-3-4
      (10L, 11L)                      // separate pair
    )).toDF("i", "j")
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 10L -> 10L, 11L -> 10L)
    val got = Dedup.components(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
    // a pair-free corpus yields an empty labeling, not an error
    val empty = spark.createDataFrame(Seq.empty[(Long, Long)]).toDF("i", "j")
    assert(Dedup.components(empty).isEmpty)
    assert(Dedup.dedupeCorpus(docs.limit(0), "doc_id", "text").isEmpty)
  }

  test("components kernel == a test-side union-find, with and without contraction rounds") {
    import graft.operators.ComponentsOracle
    val rnd = new scala.util.Random(17)
    val n = 10000L
    val chain = (1L until n).map(k => (k - 1, k))
    val ids = rnd.shuffle((0L until n).toVector)
    val loops = (0L until 200L).map(k => (k, k)) ++          // loops on chain nodes
      (0L until 199L).map(k => (k, k + 1)) ++
      (1000L until 1100L).flatMap(k => Seq((k, k), (k, k)))  // isolated, repeated
    val inputs: Seq[(String, Seq[(Long, Long)])] = Seq(
      "ascending 10^4 chain" -> chain,
      "shuffled 10^4 chain" -> ids.sliding(2).map(w => (w(0), w(1))).toSeq,
      "2000-leaf star" -> (0L to 2000L).filter(_ != 1000L)
        .map(k => if (k % 2 == 0) (1000L, k) else (k, 1000L)),
      "sparse seeded random graph" ->
        Seq.fill(2500)((rnd.nextInt(3000).toLong, rnd.nextInt(3000).toLong)),
      "dense seeded random graph" ->
        Seq.fill(400)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong)),
      "self-loop pairs" -> loops,
      "duplicate and reversed pairs" ->
        (0L until 100L).flatMap(k => Seq((k, k + 1), (k + 1, k), (k, k + 1))),
      "empty" -> Seq.empty)
    import spark.implicits._
    inputs.foreach { case (name, edges) =>
      val want = ComponentsOracle.labels(edges)
      val pairs = edges.toDF("i", "j")
      Seq(1000000L, 64L).foreach { budget =>
        var got = Seq.empty[(Long, Long)]
        val (_, _, labels) = sparkWork { got = ComponentsOracle.kernel(pairs, budget) }
        assert(got.map(_._1).distinct.size == got.size, s"[$name @ $budget] a node labeled twice")
        assert(got.toMap == want, s"[$name @ $budget] labels differ from the reference")
        val rounds = labels.count(_ == "dedup:components:round")
        if (edges.size > budget) assert(rounds > 0, s"[$name @ $budget] no contraction round ran")
        else assert(rounds == 0, s"[$name @ $budget] $rounds rounds on a graph that fits")
      }
    }
  }

  test("dedupeCorpus keeps one doc per duplicate group plus all singletons") {
    val kept = Dedup.dedupeCorpus(docs, "doc_id", "text", threshold = 0.7)
      .collect().map(_.getLong(0)).toSet
    // 0,1,2 form one group at 0.7 (0-1 edited, 0-2 exact) -> keep 0;
    // 3, 4, 5 are singletons
    assert(kept == Set(0L, 3L, 4L, 5L))
  }

  test("embedding near-dup pairs: planted duplicate vector found, rest rejected") {
    val rnd = new scala.util.Random(7)
    def vec(): Array[Float] = Array.fill(16)(rnd.nextGaussian().toFloat)
    val v0 = vec()
    val near = v0.map(x => x + 0.001f)
    val rows = (0 until 20).map(i => (i.toLong, if (i == 1) near else if (i == 0) v0 else vec()))
    val emb = spark.createDataFrame(rows).toDF("vec_id", "embedding")
    val got = Dedup.embeddingPairs(emb, "vec_id", "embedding", dim = 16, threshold = 0.99)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == Set((0L, 1L)))
  }

  test("dedupeCorpusBy keeps the best-scored member of each component") {
    // docs 0 and 2 are exact dups (component {0, 2}); score doc 2 higher
    val scored = docs.withColumn("score",
      when(col("doc_id") === 2, 100L).otherwise(col("doc_id") * -1))
    val got = Dedup.dedupeCorpusBy(scored, "doc_id", "text", "score")
      .collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L, 3L, 4L, 5L), s"got $got")
    // with the min-id policy the same corpus keeps 0 instead
    val minId = Dedup.dedupeCorpus(docs, "doc_id", "text")
      .collect().map(_.getLong(0)).toSet
    assert(minId == Set(0L, 1L, 3L, 4L, 5L))
  }

  test("lineDedup keeps first occurrence, blanks, and reassembles in order") {
    val rows = Seq(
      (0L, "header line\nbody zero\n\nfooter line"),
      (1L, "header line\nbody one\nfooter line"), // header+footer dup of 0
      (2L, "\n\n"),                               // blank-only doc survives
      (3L, "body zero"))                          // dup of 0's middle line
    val df = spark.createDataFrame(rows).toDF("doc_id", "text")
    val got = Dedup.lineDedup(df, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(0L) == (("header line\nbody zero\n\nfooter line", 4L, 0L)))
    assert(got(1L) == (("body one", 1L, 2L)))
    assert(got(2L) == (("\n\n", 3L, 0L)))   // blanks never dedup each other
    assert(got(3L) == (("", 0L, 1L)))       // fully-covered doc comes back empty
  }

  test("lineDedup: null text round-trips as one blank line; invariant to partitioning") {
    val rows = Seq((0L, "a b\nc d"), (1L, null.asInstanceOf[String]), (2L, "a b"))
    val df = spark.createDataFrame(rows).toDF("doc_id", "text")
    def run(d: org.apache.spark.sql.DataFrame) =
      Dedup.lineDedup(d, "doc_id", "text")
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSet
    val base = run(df)
    assert(base.contains((1L, "", 1L, 0L)))
    assert(base.contains((2L, "", 0L, 1L)))
    assert(run(df.repartition(7)) == base)
    assert(run(df.coalesce(1)) == base)
  }

  test("stripBoilerplate removes threshold-crossing lines from EVERY doc, keeps blanks") {
    val rows = Seq(
      (0L, "cookie banner\nunique zero\n\nrare line"),
      (1L, "cookie banner\nunique one\nrare line"),
      (2L, "cookie banner\nunique two"),
      (3L, "only content"))
    val df = spark.createDataFrame(rows).toDF("doc_id", "text")
    // minDocs=3: "cookie banner" (df 3) goes everywhere; "rare line" (df 2) stays
    val got = Dedup.stripBoilerplate(df, "doc_id", "text", minDocs = 3)
      .collect().map(r => r.getLong(0) ->
        ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got(0L) == (("unique zero\n\nrare line", 3L, 1L)))
    assert(got(1L) == (("unique one\nrare line", 2L, 1L)))
    assert(got(2L) == (("unique two", 1L, 1L)))   // no first-copy survivor
    assert(got(3L) == (("only content", 1L, 0L)))
    // occurrences in ONE doc don't cross the DISTINCT-doc threshold
    val oneDoc = spark.createDataFrame(Seq(
      (0L, "same\nsame\nsame"), (1L, "other"))).toDF("doc_id", "text")
    val kept = Dedup.stripBoilerplate(oneDoc, "doc_id", "text", minDocs = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(kept == Map(0L -> 3L, 1L -> 1L))
  }

  test("ShingleHashes kernel matches declarative shingling semantics exactly") {
    import graft.functions.{TextFunctions => TF}
    import org.apache.spark.sql.functions.{array_distinct, size, transform, xxhash64}
    // hash FAMILIES differ (internal), but the shingle SETS must be the
    // same sets: equal sizes per doc, equal pairwise Jaccard
    val docs = Tables.load(spark, sfDir, "documents").limit(60)
      .select(col("doc_id"), col("text"))
    val both = docs.select(col("doc_id"),
      size(graft.plans.ShingleHashes.shingleHashes(col("text"), 3)).as("k"),
      size(array_distinct(transform(TF.shingles(col("text"), 3),
        s => xxhash64(s)))).as("d"))
    assert(both.filter(col("k") =!= col("d")).count() == 0,
      "kernel shingle-set size diverged from the declarative form")
    // pairwise Jaccard identical on both representations (incl. planted
    // near-dup fixture pairs)
    val withSets = docs.select(col("doc_id"),
      org.apache.spark.sql.functions.array_sort(
        graft.plans.ShingleHashes.shingleHashes(col("text"), 3)).as("hk"),
      org.apache.spark.sql.functions.array_sort(array_distinct(transform(
        TF.shingles(col("text"), 3), s => xxhash64(s)))).as("hd"))
    val pairs = withSets.as("a").join(withSets.as("b"),
        col("a.doc_id") < col("b.doc_id"))
      .select(
        graft.plans.SortedJaccard(col("a.hk"), col("b.hk")).as("jk"),
        graft.plans.SortedJaccard(col("a.hd"), col("b.hd")).as("jd"))
    assert(pairs.filter(col("jk") =!= col("jd")).count() == 0,
      "pairwise Jaccard diverged between kernel and declarative shingles")
    // edge semantics: short docs and empty/multi-space strings
    import spark.implicits._
    val edge = Seq((0L, "one two"), (1L, ""), (2L, "  a   b  c  "),
      (3L, "a b c")).toDF("doc_id", "text")
    val sizes = edge.select(col("doc_id"),
        size(graft.plans.ShingleHashes.shingleHashes(col("text"), 3)).as("k"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(sizes == Map(0L -> 0, 1L -> 0, 2L -> 1, 3L -> 1))
  }

  test("releaseCaches drops operator-internal caches (batch-ingest leak bound)") {
    // assert on the CacheManager's query-cache registry, not on
    // getPersistentRDDs — that count also moves when the ContextCleaner
    // collects unrelated localCheckpoint RDDs mid-test
    import org.apache.spark.sql.graft.CacheBridge
    spark.catalog.clearCache()
    Dedup.releaseCaches() // empty the ledger of earlier tests' entries
    assert(CacheBridge.noCachedQueries(spark))
    val batch = docs.filter(col("doc_id") >= 3)
    val corpus = docs.filter(col("doc_id") < 3)
    // materialize: builds the ledgered hashedSets + buckets caches
    Dedup.incrementalMinHashPairs(corpus, batch, "doc_id", "text").count()
    assert(!CacheBridge.noCachedQueries(spark),
      "expected operator caches to be live after materialization")
    Dedup.releaseCaches()
    assert(CacheBridge.noCachedQueries(spark),
      "operator caches survived releaseCaches")
  }
}
