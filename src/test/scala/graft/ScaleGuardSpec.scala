package graft

import graft.operators.{Dedup, EmbedIndex, Lsh, Pq, Similarity}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** CI-gated scale guard: the two dataflow pathologies the 505k-row
  * ScaleProbe caught in round 5 — quadratic LSH candidate volume from a
  * fixed-width key, and band joins degenerating past planted-duplicate
  * volume — asserted here on scaled-down corpora (tens of thousands of
  * rows) via CANDIDATE COUNTS, not wall time, so a reintroduced
  * pathology fails `sbt test` instead of a 100 TB run. ScaleProbe
  * remains the full-size ad-hoc evidence; this is the regression tripwire.
  */
class ScaleGuardSpec extends SparkSpec {

  /** Deterministic pseudo-random unit-ish vectors (same construction as
    * ScaleProbe's embedding leg).
    */
  private def vecs(n: Long, dim: Int): DataFrame =
    spark.range(n).select(col("id").as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), j =>
        ((pmod(xxhash64(col("id"), j), lit(2000L)) - 1000L)
          .cast("double") / 1000.0).cast("float")).as("embedding"))

  /** Token-salad corpus with `planted` appended exact duplicates. */
  private def saladDocs(n: Long, planted: Long): DataFrame = {
    val toks = (0 until 20).map(j =>
      substring(md5(concat(col("id").cast("string"), lit(s":$j"))), 1, 8))
    val base = spark.range(n).select(col("id").as("doc_id"),
      concat_ws(" ", toks: _*).as("text"))
    val dups = base.filter(col("doc_id") < planted)
      .select((col("doc_id") + n).as("doc_id"), col("text"))
    base.unionAll(dups)
  }

  test("auto SRP geometry keeps embedding candidate volume LINEAR in corpus size") {
    // 16k -> 64k rows straddles the width derivation (9 -> 11 bits), so
    // expected bucket occupancy is ~constant and candidates scale ~4x.
    // Re-pinning a fixed key width (the reverted default this guards
    // against) holds bucket COUNT constant instead, occupancy grows 4x,
    // and the ratio lands ~16x — tripping the 8x gate.
    def candidates(n: Long): Long = {
      val c = Dedup.embeddingCandidates(
        vecs(n, 16), "vec_id", "embedding", dim = 16, threshold = 0.999).count()
      Dedup.releaseCaches()
      c
    }
    val c16 = candidates(16000L)
    val c64 = candidates(64000L)
    assert(c16 > 0, "guard fixture produced no candidates at 16k — not probing anything")
    // The RATIO is the gate: linear scaling lands ~4x (occupancy held
    // constant by the width derivation; low-dim bucket clumping affects
    // both sizes equally), fixed-width reversion lands ~16x (quadratic).
    // No absolute bound — clumping of 16-dim vectors inflates absolute
    // counts by a scale-free constant that says nothing about the shape.
    assert(c64 <= 8 * c16,
      s"embedding candidate volume super-linear: 16k -> $c16, 64k -> $c64 " +
        "(auto key-width derivation broken or reverted to a fixed width)")
  }

  test("minhash band-bucket candidates stay planted-proportional at 50k docs") {
    // 50k distinct token salads + 500 planted exact dups: band collisions
    // must be EXACTLY the planted pairs (a random 4-minhash band bucket
    // collision is ~2^-64-rare) — any drift here is the signature or
    // band fold going degenerate, the shape that becomes all-pairs at
    // 100 TB. Same invariant ScaleProbe asserts at 505k.
    val docs = saladDocs(50000L, 500L)
    val cands = Dedup.minHashCandidates(docs, "doc_id", "text").count()
    assert(cands == 500L, s"minhash candidates $cands != 500 planted pairs")
    val pairs = Dedup.minHashPairs(docs, "doc_id", "text").count()
    assert(pairs == 500L, s"minhash verified pairs $pairs != 500 planted pairs")
    Dedup.releaseCaches()
  }

  test("EmbedIndex: auto geometry flows build → meta → open; probe exact at two corpus sizes") {
    // The persistent index inherits the auto-geometry guarantee (test 1
    // pins the derivation itself): the width derived at build time must
    // survive the meta round-trip, and a fixed 500-clone batch's probe
    // must find EXACTLY its planted pairs at both corpus sizes — LSH
    // recall 1 for identical keys, zero false pairs through exact
    // verification. Count-not-time, like every guard here.
    def probePairs(n: Long): (Int, Long) = {
      val dir = java.nio.file.Files.createTempDirectory(s"eidx_guard_$n").toString
      EmbedIndex.build(vecs(n, 16), "vec_id", "embedding",
        dir, s"eidx_guard_$n", dim = 16, threshold = 0.999)
      val idx = EmbedIndex.open(spark, s"eidx_guard_$n", dir)
      // 500 clones of vectors 0..499 under fresh ids (vecs() derives the
      // embedding from the id, so shift the hash input back by n)
      val batch = spark.range(n, n + 500).select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(15)), j =>
          ((pmod(xxhash64(col("id") - n, j), lit(2000L)) - 1000L)
            .cast("double") / 1000.0).cast("float")).as("embedding"))
      (idx.bits, idx.probe(batch, "vec_id", "embedding", threshold = 0.999).count())
    }
    val (b16, p16) = probePairs(16000L)
    val (b64, p64) = probePairs(64000L)
    assert(p16 == 500L, s"16k-corpus probe found $p16 pairs, planted 500")
    assert(p64 == 500L, s"64k-corpus probe found $p64 pairs, planted 500")
    // the reopened width must be the corpus-size-derived one, not a floor
    assert(b16 == Lsh.autoPlanes(16000L) && b64 == Lsh.autoPlanes(64000L),
      s"meta round-trip lost the derived width: $b16/$b64")
  }

  test("IVF probe reads <= nprobe of nClusters buckets, at two corpus sizes") {
    // The 100 TB property of an IVF index is that a probe READS
    // nprobe/nClusters of the data, not all of it — asserted here as the
    // scan's SelectedBucketsCount (count-not-time). Dropping the
    // literal-IN bucket pruning, or collapsing nClusters, turns the
    // selected count to `all` and fails this gate at both sizes.
    def selectedBuckets(n: Long): (Int, Int) = {
      val emb = vecs(n, 16)
      val idx = Similarity.IvfIndex.build(spark, emb, "vec_id", "embedding",
        nClusters = 8)
      val dir = java.nio.file.Files.createTempDirectory(s"ivf_guard_$n").toString
      Similarity.IvfIndex.save(idx, s"ivf_guard_$n", dir, buckets = 8)
      val opened = Similarity.IvfIndex.open(spark, s"ivf_guard_$n", dir)
      val qv = emb.select(transform(col("embedding"), x => x.cast("double")))
        .head().getSeq[Double](0).toArray
      val res = opened.search(Map(0L -> qv), k = 3, nprobe = 2)
      res.count() // settle AQE before reading the final plan
      val plan = res.queryExecution.executedPlan.toString
      val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
      assert(m.isDefined, s"no bucket pruning in the probe scan at n=$n:\n$plan")
      (m.get.group(1).toInt, m.get.group(2).toInt)
    }
    for (n <- Seq(4000L, 16000L)) {
      val (sel, total) = selectedBuckets(n)
      assert(total == 8, s"bucket count drifted at n=$n: $total")
      // one query at nprobe=2 probes <= 2 clusters => <= 2 bucket ids
      assert(sel <= 2, s"probe read $sel of $total buckets at n=$n (nprobe=2)")
    }
  }

  test("IVF-PQ probe reads <= nprobe of nClusters buckets, at two corpus sizes") {
    // The composite inherits BOTH scale properties: m-byte codes at rest
    // (PQ) and nprobe/nClusters bucket reads (IVF). This pins the read
    // side on the CODES table — dropping the literal-IN prune in
    // IvfPqIndex.search fails the gate at both sizes.
    def selectedBuckets(n: Long): (Int, Int) = {
      val emb = vecs(n, 16)
      val dir = java.nio.file.Files.createTempDirectory(s"ivfpq_guard_$n").toString
      graft.operators.IvfPq.build(emb, "vec_id", "embedding",
        s"ivfpq_guard_$n", dir, nClusters = 8, m = 4, kCodes = 8, buckets = 8)
      val opened = graft.operators.IvfPq.open(spark, s"ivfpq_guard_$n", dir)
      val qv = emb.select(transform(col("embedding"), x => x.cast("double")))
        .head().getSeq[Double](0).toArray
      val res = opened.search(Map(0L -> qv), k = 3, nprobe = 2)
      res.count() // settle AQE before reading the final plan
      val plan = res.queryExecution.executedPlan.toString
      val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
      assert(m.isDefined, s"no bucket pruning in the IVF-PQ probe scan at n=$n:\n$plan")
      (m.get.group(1).toInt, m.get.group(2).toInt)
    }
    for (n <- Seq(4000L, 16000L)) {
      val (sel, total) = selectedBuckets(n)
      assert(total == 8, s"bucket count drifted at n=$n: $total")
      assert(sel <= 2, s"probe read $sel of $total buckets at n=$n (nprobe=2)")
    }
  }

  test("PQ ADC shuffles only top-k candidates; encode stays narrow") {
    // ADC cost per base row is m LUT lookups, and the only exchange in
    // the whole search is the final per-query rank — whose input Spark
    // must cut to top-k per partition (WindowGroupLimit) BEFORE the
    // shuffle. Degrading either (a scored-row shuffle, a lost group
    // limit) makes the shuffle corpus-sized at 100 TB and fails here.
    val emb = vecs(8000L, 16)
    val cb = Pq.train(emb, "vec_id", "embedding", m = 4, k = 8)
    val res = Pq.adcTopK(emb, "vec_id", "embedding", cb, Seq(0L), k = 5)
    res.count()
    val plan = res.queryExecution.executedPlan.toString
    assert(plan.contains("WindowGroupLimit"),
      s"rank input not group-limited before the exchange:\n$plan")
    assert("Exchange".r.findAllIn(plan).length == 1,
      s"expected exactly one exchange (the rank), got:\n$plan")
  }

  test("Lsh.autoPlanes / autoTables encode the documented scaling rules") {
    // occupancy rule: n / 2^bits stays ~targetBucket once past the floor
    assert(Lsh.autoPlanes(500L) == 8)          // fixture-sized: the floor
    assert(Lsh.autoPlanes(16000L) == 9)
    assert(Lsh.autoPlanes(64000L) == 11)
    assert(Lsh.autoPlanes(505000L) == 14)
    assert(Lsh.autoPlanes(50000000L) == 21)
    assert(Lsh.autoPlanes(Long.MaxValue) == 24) // capped
    // recall rule: P(miss) <= 1e-3 at the threshold; monotone in bits
    val t8 = Lsh.autoTables(8, 0.95)
    val t14 = Lsh.autoTables(14, 0.95)
    assert(t8 >= 1 && t14 >= t8, s"tables not monotone in bits: $t8, $t14")
    val p = 1.0 - math.acos(0.95) / math.Pi
    val miss = math.pow(1.0 - math.pow(p, 14), t14.toDouble)
    assert(miss <= 1e-3, s"derived table count misses too often: $miss")
    // exact duplicates need one table regardless of width
    assert(Lsh.autoTables(24, 1.0) == 1)
  }

  test("BM25 search reads only the query terms' buckets, at two corpus sizes") {
    // The 100 TB property of the postings index: a search READS the
    // buckets its terms hash into, independent of corpus size — pinned
    // as the scan's SelectedBucketsCount at two sizes (count-not-time,
    // the IVF gate's pattern applied to text). Dropping the literal-IN
    // bucket pruning turns the selected count to `all` at both sizes.
    def selectedBuckets(n: Long): (Int, Int) = {
      val docs = saladDocs(n, 0)
        .select(col("doc_id"),
          concat(col("text"),
            when(col("doc_id") % 7 === 0, lit(" guardterm"))
              .otherwise(lit(""))).as("text"))
      val dir = java.nio.file.Files.createTempDirectory(s"bm25_guard_$n").toString
      val idx = graft.operators.Bm25Index.build(docs, "doc_id", "text",
        dir, s"bm25_guard_$n", buckets = 8)
      val res = idx.search(Seq("guardterm"), 5)
      res.count() // settle AQE before reading the final plan
      val plan = res.queryExecution.executedPlan.toString
      graft.operators.Bm25Index.releaseCaches()
      val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
      assert(m.isDefined, s"no bucket pruning in the postings scan at n=$n:\n$plan")
      (m.get.group(1).toInt, m.get.group(2).toInt)
    }
    for (n <- Seq(4000L, 16000L)) {
      val (sel, total) = selectedBuckets(n)
      assert(total == 8, s"bucket count drifted at n=$n: $total")
      assert(sel == 1, s"a 1-term search must read exactly its term's bucket at n=$n: $sel")
    }
  }
}
