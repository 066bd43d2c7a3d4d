package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** ANN search: IVF with full probing must equal brute force; SRP-LSH must
  * keep high recall on the fixture embeddings.
  */
class SimilaritySpec extends SparkSpec {

  private lazy val emb = Tables.load(spark, sfDir, "embeddings")

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Int, Long)] =
    df.select("query_id", "rank", "neighbor_id").orderBy("query_id", "rank")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq

  test("brute-force top-k is deterministic and self-excluding") {
    val got = rows(Similarity.bruteForceTopK(emb, "vec_id", "embedding", Seq(0L, 1L), 5))
    assert(got.size == 10)
    assert(got.forall { case (q, _, n) => q != n })
    assert(got.map { case (q, r, _) => (q, r) } ==
      (for (q <- Seq(0L, 1L); r <- 1 to 5) yield (q, r)))
  }

  test("IVF with nprobe = nClusters equals brute force") {
    import spark.implicits._
    val bf = rows(Similarity.bruteForceTopK(emb, "vec_id", "embedding", Seq(0L, 1L, 2L), 3))
    val idx = Similarity.IvfIndex.build(spark, emb, "vec_id", "embedding", nClusters = 8)
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")))
      .as[(Long, Array[Double])].collect().toMap
    assert(rows(idx.search(qs, k = 3, nprobe = 8)) == bf)
  }

  test("IVF with nprobe=2 still finds most true neighbors (recall sanity)") {
    import spark.implicits._
    val bf = rows(Similarity.bruteForceTopK(emb, "vec_id", "embedding", Seq(0L, 1L, 2L), 3))
    val idx = Similarity.IvfIndex.build(spark, emb, "vec_id", "embedding", nClusters = 8)
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")))
      .as[(Long, Array[Double])].collect().toMap
    val approx = rows(idx.search(qs, k = 3, nprobe = 2)).map(t => (t._1, t._3)).toSet
    val truth = bf.map(t => (t._1, t._3)).toSet
    assert((approx & truth).size >= truth.size / 2)
  }

  test("saved+reopened IVF index == in-memory; probed buckets pruned at the scan") {
    import spark.implicits._
    val idx = Similarity.IvfIndex.build(spark, emb, "vec_id", "embedding", nClusters = 8)
    val qs = emb.filter(col("vec_id") < 3)
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")))
      .as[(Long, Array[Double])].collect().toMap
    val base = java.nio.file.Files.createTempDirectory("ivf_idx").toString
    Similarity.IvfIndex.save(idx, "ivfidx_t", base, buckets = 8)
    val reopened = Similarity.IvfIndex.open(spark, "ivfidx_t", base)
    // bit-for-bit equality with the in-memory index, both probe depths
    assert(rows(reopened.search(qs, k = 3, nprobe = 8)) ==
      rows(idx.search(qs, k = 3, nprobe = 8)))
    assert(rows(reopened.search(qs, k = 3, nprobe = 2)) ==
      rows(idx.search(qs, k = 3, nprobe = 2)))
    // the literal cluster IN-filter must reach the bucketed scan: at
    // nprobe=1 with one query, only that query's bucket may be read
    val one = reopened.search(Map(0L -> qs(0L)), k = 3, nprobe = 1)
    one.count() // settle AQE before reading the final plan
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("SelectedBucketsCount: 1 out of 8"),
      s"probe scan must prune to the probed bucket, got:\n$plan")
    // the DataFrame query path prunes too (probed-cluster set collected —
    // bounded by nClusters — and pushed as the same literal IN)
    val oneDf = reopened.search(emb.filter(col("vec_id") === 0L),
      "vec_id", "embedding", k = 3, nprobe = 1)
    oneDf.count()
    val planDf = oneDf.queryExecution.executedPlan.toString
    assert(planDf.contains("SelectedBucketsCount: 1 out of 8"),
      s"DataFrame-side probe scan must prune to the probed bucket, got:\n$planDf")
    // and result parity with the driver-Map path at both probe depths
    assert(rows(reopened.search(emb.filter(col("vec_id") < 3),
        "vec_id", "embedding", k = 3, nprobe = 8)) ==
      rows(reopened.search(qs, k = 3, nprobe = 8)))
    // storage geometry, drift baseline and quantizer are JSON records
    // (the reopen above pruned out of the stored 8 buckets)
    Seq("meta", "stats", "centroids").foreach(d =>
      assert(hasJsonMeta(s"$base/$d"), s"$d must be a JSON record"))
  }

  test("IVF append grows a saved index: results identical to a rebuild, pruning intact") {
    import spark.implicits._
    // split the fixture: build+save on 80%, append the held-out 20%
    val oldPart = emb.filter(col("vec_id") % 5 =!= 0)
    val newPart = emb.filter(col("vec_id") % 5 === 0)
    val idx = Similarity.IvfIndex.build(spark, oldPart, "vec_id", "embedding", nClusters = 8)
    val base = java.nio.file.Files.createTempDirectory("ivf_append").toString
    Similarity.IvfIndex.save(idx, "ivfidx_app", base, buckets = 8)
    val opened = Similarity.IvfIndex.open(spark, "ivfidx_app", base)
    val nOld = opened.assigned.count()
    opened.append(newPart, "vec_id", "embedding")
    assert(opened.assigned.count() == nOld + newPart.count(),
      "appended vectors must land in the assignments table")
    // full probing is exhaustive over old ∪ new ⇒ exact ⇒ identical to a
    // rebuild (any index over the same corpus at nprobe=all is brute force);
    // query ids include APPENDED vectors (0 and 5 are % 5 == 0)
    val qids = Seq(0L, 1L, 2L, 5L)
    val qs = emb.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")))
      .as[(Long, Array[Double])].collect().toMap
    val bf = rows(Similarity.bruteForceTopK(emb, "vec_id", "embedding", qids, 3))
    assert(rows(opened.search(qs, k = 3, nprobe = 8)) == bf)
    // bucket pruning survives the append: nprobe=1 for one query reads
    // only that cluster's bucket (plus its append file, same bucket id)
    val one = opened.search(Map(0L -> qs(0L)), k = 3, nprobe = 1)
    one.count()
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("SelectedBucketsCount: 1 out of 8"),
      s"append must not break bucket pruning, got:\n$plan")
    // in-memory (unsaved) indexes cannot append — the contract is explicit
    intercept[IllegalArgumentException] {
      idx.append(newPart, "vec_id", "embedding")
    }
    // append is idempotent: a retried/redelivered batch is a no-op, so
    // searches cannot grow duplicate neighbors — and the return value
    // reports the drop so contract violations have a signal
    val nAll = opened.assigned.count()
    assert(opened.append(newPart, "vec_id", "embedding") == 0L,
      "a full redelivery must report zero rows appended")
    assert(opened.assigned.count() == nAll,
      "re-appending an already-indexed batch must be a no-op")
    assert(rows(opened.search(qs, k = 3, nprobe = 8)) == bf,
      "redelivered append must not change search results")
  }

  test("IVF delete retracts vectors; compact folds append files; searches unchanged") {
    import spark.implicits._
    val idx = Similarity.IvfIndex.build(spark, emb, "vec_id", "embedding", nClusters = 8)
    val base = java.nio.file.Files.createTempDirectory("ivf_maint").toString
    Similarity.IvfIndex.save(idx, "ivfidx_mnt", s"$base/v1", buckets = 8)
    val opened = Similarity.IvfIndex.open(spark, "ivfidx_mnt", s"$base/v1")
    val qids = Seq(0L, 1L, 2L)
    val qs = emb.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id"), transform(col("embedding"), x => x.cast("double")))
      .as[(Long, Array[Double])].collect().toMap
    // deleting a neighbor must remove it from results; ranks re-close over
    // the survivors exactly as a search over emb-minus-victim would
    // top-ranked neighbor that is not itself a query id (deleting a query
    // vector would also change the brute-force reference's query side)
    val victim = rows(opened.search(qs, k = 3, nprobe = 8))
      .map(_._3).filterNot(qids.contains).head
    val deleted = opened.delete(Seq(victim).toDF("vec_id"), "vec_id", s"$base/v2")
    val got = rows(deleted.search(qs, k = 3, nprobe = 8))
    assert(!got.exists(_._3 == victim), s"deleted vector still a neighbor: $got")
    val want = rows(Similarity.bruteForceTopK(
      emb.filter(col("vec_id") =!= victim), "vec_id", "embedding", qids, 3))
    assert(got == want)
    assert(deleted.assigned.count() == emb.count() - 1)
    // compact after appends: file count shrinks, searches byte-identical
    val grown = Similarity.IvfIndex.open(spark, "ivfidx_mnt", s"$base/v2")
    grown.append(emb.filter(col("vec_id") === victim), "vec_id", "embedding")
    def parquetFiles(dir: String): Int = {
      val d = new java.io.File(dir)
      if (!d.exists) 0
      else d.listFiles.count(f => f.isFile && f.getName.endsWith(".parquet"))
    }
    val before = parquetFiles(s"$base/v2/assigned")
    val beforeRows = rows(grown.search(qs, k = 3, nprobe = 8))
    val compacted = grown.compact(s"$base/v3")
    assert(parquetFiles(s"$base/v3/assigned") < before,
      s"compaction must shrink the file count: $before -> ${parquetFiles(s"$base/v3/assigned")}")
    assert(rows(compacted.search(qs, k = 3, nprobe = 8)) == beforeRows)
    assert(compacted.assigned.count() == emb.count())
    // re-bucketing compaction: results captured BEFORE the compact
    // re-points the shared table; evolved count reaches the pruned scan
    // and a later open (read from meta)
    val preRb = rows(compacted.search(qs, k = 3, nprobe = 8))
    val rb = compacted.compact(s"$base/v4", newBuckets = 16)
    assert(rows(rb.search(qs, k = 3, nprobe = 8)) == preRb,
      "re-bucketing must not change search results")
    val reop = Similarity.IvfIndex.open(spark, "ivfidx_mnt", s"$base/v4")
    val one16 = reop.search(Map(qids.head -> qs(qids.head)), k = 3, nprobe = 1)
    one16.count()
    assert(one16.queryExecution.executedPlan.toString.contains("out of 16"),
      "pruned scan must reflect the evolved bucket count from meta")
  }

  test("IVF drift: needsRetrain observes a shifted cluster; retrain restores the quantizer") {
    import spark.implicits._
    val idx = Similarity.IvfIndex.build(spark, emb, "vec_id", "embedding", nClusters = 8)
    val base = java.nio.file.Files.createTempDirectory("ivf_drift").toString
    Similarity.IvfIndex.save(idx, "ivfidx_drift", s"$base/v1", buckets = 8)
    val opened = Similarity.IvfIndex.open(spark, "ivfidx_drift", s"$base/v1")
    // freshly saved: the current error IS the baseline — no retrain wanted
    assert(!opened.needsRetrain(),
      "a just-saved index must not want a retrain")
    val baseline = opened.quantError()
    // a distribution shift the frozen quantizer has never seen: a dense
    // far-away cluster (deterministic, spread so it is not one point),
    // appended in waves until the observed drift trips the check
    def shifted(lo: Long, n: Int) = spark.range(lo, lo + n)
      .select(col("id").as("vec_id"),
        transform(sequence(lit(0), lit(63)),
          i => lit(25.0) + (col("id") % 7).cast("double") * 0.3 +
            i.cast("double") * 0.01).as("embedding"))
    var wave = 0
    while (wave < 4 && !opened.needsRetrain()) {
      opened.append(shifted(10000L + wave * 250, 250), "vec_id", "embedding")
      wave += 1
    }
    assert(opened.needsRetrain(),
      "a corpus half made of a far-away cluster must trip the drift check")
    assert(opened.quantError() > baseline * 1.5,
      "the observable error must have grown past tolerance x baseline")
    // retrain: same cluster count, fresh quantizer + baseline, exactness
    // at nprobe = all over the grown corpus (== brute force over it)
    val retrained = opened.retrain(s"$base/v2")
    assert(retrained.centroids.length == 8,
      "retrain is a quantizer refresh, not a shape change")
    assert(!retrained.needsRetrain(),
      "a just-retrained index must not want another retrain")
    val all = emb
      .select(col("vec_id"),
        transform(col("embedding"), x => x.cast("double")).as("embedding"))
      .unionByName(shifted(10000L, 250 * wave))
    val qids = Seq(0L, 1L, 10001L)
    val qs = all.filter(col("vec_id").isin(qids: _*))
      .as[(Long, Array[Double])].collect().toMap
    assert(rows(retrained.search(qs, k = 3, nprobe = 8)) ==
      rows(Similarity.bruteForceTopK(all, "vec_id", "embedding", qids, 3)),
      "retrained index at nprobe=all must equal brute force over old ∪ new")
    // and the refreshed quantizer actually fits the grown corpus better
    assert(retrained.quantError() < opened.quantError(),
      "retraining must reduce the quantization error it was triggered by")
  }

  test("SRP-LSH finds genuinely-close neighbors (clustered data)") {
    // SRP bucketing only pays off when near neighbors are actually near
    // (cos >> 0): plant 3 tight clusters and require the same-cluster
    // neighbors to be recovered.
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(3)(Array.fill(32)(rnd.nextGaussian()))
    val rows0 = for (i <- 0 until 60) yield {
      val c = centers(i % 3)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.05).toFloat))
    }
    val clustered = spark.createDataFrame(rows0).toDF("vec_id", "embedding")
    val got = rows(Similarity.srpTopK(clustered, "vec_id", "embedding",
      Seq(0L, 1L, 2L), 3, dim = 32, planesPerTable = 6, tables = 8))
    val bf = rows(Similarity.bruteForceTopK(clustered, "vec_id", "embedding",
      Seq(0L, 1L, 2L), 3))
    assert(got.map(t => (t._1, t._3)).toSet == bf.map(t => (t._1, t._3)).toSet)
  }

  test("scalarQuantize: codes in range, error bounded by half a bin, constants to 0") {
    val rnd = new scala.util.Random(5)
    val rows = (0L until 200L).map(i =>
      (i, Array.fill(8)(rnd.nextGaussian().toFloat) :+ 1.5f)) // dim 8 + constant dim
    val emb = spark.createDataFrame(rows).toDF("vec_id", "embedding")
    val q = Similarity.scalarQuantize(emb, "vec_id", "embedding", levels = 256)
      .collect()
    assert(q.length == 200 * 9)
    q.foreach { r =>
      val (v, lo, hi, code) = (r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getLong(5))
      assert(code >= 0 && code <= 255)
      if (hi == lo) assert(code == 0L)
      else {
        // dequantized midpoint is within half a bin of the original
        val deq = lo + (code + 0.5) * (hi - lo) / 256.0
        assert(math.abs(v - deq) <= (hi - lo) / 256.0 * 0.5 + 1e-12,
          s"v=$v deq=$deq lo=$lo hi=$hi code=$code")
      }
    }
    // the constant dimension (idx 8) quantizes to code 0 everywhere
    assert(q.filter(_.getInt(1) == 8).forall(_.getLong(5) == 0L))
  }

  test("labelCentroids equals hand-computed per-label dimension means") {
    val rows = Seq(
      (0L, Array(1.0f, 2.0f), 0),
      (1L, Array(3.0f, 6.0f), 0),
      (2L, Array(10.0f, 20.0f), 1))
    val emb = spark.createDataFrame(rows).toDF("vec_id", "embedding", "label")
    val got = Similarity.labelCentroids(emb, "label", "embedding")
      .collect()
      .map(r => ((r.getInt(0), r.getInt(1)), (r.getDouble(2), r.getLong(3))))
      .toMap
    assert(got == Map(
      (0, 0) -> (2.0, 2L), (0, 1) -> (4.0, 2L),
      (1, 0) -> (10.0, 1L), (1, 1) -> (20.0, 1L)))
  }

  test("recallAtK: hand-checked hits, zero-hit queries, and the ANN indexes' own recall") {
    import spark.implicits._
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L), (3L, 30L))
      .toDF("q", "nb")
    val approx = Seq((1L, 10L), (1L, 99L), (2L, 20L), (2L, 21L), (3L, 99L))
      .toDF("q", "nb")
    val got = Similarity.recallAtK(approx, exact, "q", "nb")
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3))))
      .toMap
    assert(got == Map(1L -> ((2L, 1L, 0.5)), 2L -> ((2L, 2L, 1.0)),
      3L -> ((1L, 0L, 0.0))))
    // end-to-end: the IVF index at full nprobe has recall 1.0 by construction
    val emb = Tables.load(spark, sfDir, "embeddings")
    val exactTopK = Similarity.bruteForceTopK(emb, "vec_id", "embedding",
      queryIds = Seq(0L, 1L, 2L), k = 5)
    val idx = Similarity.IvfIndex.build(spark, emb, "vec_id", "embedding", nClusters = 4)
    val ivfTopK = idx.search(emb.filter(col("vec_id") < 3), "vec_id", "embedding",
      k = 5, nprobe = 4)
    val r = Similarity.recallAtK(ivfTopK, exactTopK, "query_id", "neighbor_id")
      .agg(avg(col("recall"))).head().getDouble(0)
    assert(r == 1.0, s"IVF full-probe recall $r != 1.0")
  }

  test("standardize equals hand-computed z-scores; constant dims map to 0") {
    // dim 0: values 1,3,5 -> mean 3, std_pop sqrt(8/3)
    // dim 1: constant 7   -> std 0 -> z = 0
    val rows = Seq(
      (0L, Array(1.0f, 7.0f)),
      (1L, Array(3.0f, 7.0f)),
      (2L, Array(5.0f, 7.0f)))
    val emb = spark.createDataFrame(rows).toDF("vec_id", "embedding")
    val got = Similarity.standardize(emb, "vec_id", "embedding")
      .collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1))
      .toMap
    val s = math.sqrt(8.0 / 3.0)
    for ((vid, want0) <- Seq(0L -> (1.0 - 3.0) / s, 1L -> 0.0, 2L -> (5.0 - 3.0) / s)) {
      assert(math.abs(got(vid)(0) - want0) < 1e-12, s"vid=$vid got=${got(vid)}")
      assert(got(vid)(1) == 0.0)
    }
    // standardized corpus has per-dim mean 0 / std 1 on the non-constant dim
    val z0 = got.values.map(_(0)).toSeq
    assert(math.abs(z0.sum / 3) < 1e-12)
    assert(math.abs(z0.map(x => x * x).sum / 3 - 1.0) < 1e-12)
  }

  test("rrfFuse: consensus beats single-list presence; hand-computed scores") {
    import spark.implicits._
    // doc 1 ranks 1st+2nd; doc 2 only 1st in list A; doc 3 only 1st in B...
    val a = Seq((1L, 2), (2L, 1), (4L, 3)).toDF("id", "rank")
    val b = Seq((1L, 1), (3L, 2), (4L, 3)).toDF("id", "rank")
    val got = Similarity.rrfFuse(Seq(a, b), "id", "rank", c = 60)
      .collect().map(r => r.getLong(0) -> ((r.getDouble(1), r.getLong(2)))).toMap
    assert(math.abs(got(1L)._1 - (1.0 / 62 + 1.0 / 61)) < 1e-15)
    assert(got(1L)._2 == 2L)
    assert(math.abs(got(2L)._1 - 1.0 / 61) < 1e-15 && got(2L)._2 == 1L)
    assert(math.abs(got(4L)._1 - 2.0 / 63) < 1e-15)
    // doc in both lists at middling ranks outscores a single-list top hit
    assert(got(1L)._1 > got(2L)._1)
  }

  test("randomProject: hand-computed signs, integer exactness, reshuffle-stable") {
    import spark.implicits._
    val md = java.security.MessageDigest.getInstance("MD5")
    def sign(i: Int, j: Int): Long =
      if ((md.digest(s"$i:$j".getBytes("UTF-8"))(0) & 0x80) == 0) 1L else -1L
    val rows = Seq((0L, Array(0.5f, -1.25f, 2.0f)), (1L, Array(0.0011f, 0.9999f, -0.0011f)))
    val emb = spark.createDataFrame(rows).toDF("vec_id", "embedding")
    val got = Similarity.randomProject(emb, "vec_id", "embedding",
        inDim = 3, outDim = 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](2)).toMap
    def proj(v: Array[Float], j: Int): Long =
      v.zipWithIndex.map { case (x, i) =>
        math.floor(x.toDouble * 1000).toLong * sign(i, j) }.sum
    for (vid <- Seq(0L, 1L); j <- 0 until 4)
      assert(got(vid)(j) == proj(rows.toMap.apply(vid), j), s"vid=$vid j=$j")
    // integer output is invariant to partitioning (no FP association)
    val re = Similarity.randomProject(emb.repartition(5), "vec_id",
        "embedding", 3, 4)
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](2)).toMap
    assert(re == got)
  }
}
