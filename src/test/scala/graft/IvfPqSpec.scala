package graft

import graft.operators.{IvfPq, Pq}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** IVF-PQ composite invariants: at full probing the composite must rank
  * exactly like flat ADC under the same codebook (raw-vector PQ — codes
  * are cluster-independent); at nprobe=1 the scan must prune to the
  * probed bucket and candidates must not leak across queries; the
  * maintenance cycle (reopen / append / delete / compact) must track.
  */
class IvfPqSpec extends SparkSpec {

  /** Same 4-separated-cluster fixture as PqSpec. */
  private def clustered = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val centers = Array.tabulate(4, 16)((c, i) => if (i % 4 == c) 20.0 else 0.0)
    (0L until 400L).map { id =>
      val c = (id % 4).toInt
      (id, centers(c).map(_ + rnd.nextGaussian() * 0.1).toSeq)
    }.toDF("vec_id", "embedding")
  }

  private def rows(r: DataFrame) = r.orderBy("query_id", "rank").collect()
    .map(x => (x.getLong(0), x.getInt(1), x.getLong(2), x.getDouble(3))).toSeq

  private def qvecs(df: DataFrame, ids: Seq[Long]): Map[Long, Array[Double]] = {
    import spark.implicits._
    df.filter(col("vec_id").isin(ids: _*))
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Double])].collect().toMap
  }

  test("nprobe = nClusters == flat ADC; nprobe=1 prunes buckets and isolates per-query candidates") {
    val df = clustered
    val base = java.nio.file.Files.createTempDirectory("ivfpq").toString
    val idx = IvfPq.build(df, "vec_id", "embedding", "ivfpq_t", s"$base/v1",
      nClusters = 8, m = 4, kCodes = 8, buckets = 8)
    val qids = Seq(0L, 1L, 2L, 3L) // one query per natural cluster
    val qs = qvecs(df, qids)
    // full probing is exhaustive, and raw-vector codes are comparable
    // across clusters — the composite ranking IS the flat ADC ranking
    val cb = Pq.train(df, "vec_id", "embedding", m = 4, k = 8)
    assert(rows(idx.search(qs, k = 5, nprobe = 8)) ==
      rows(Pq.adcTopK(df, "vec_id", "embedding", cb, qids, 5)))
    // nprobe=1, one query: the scan reads only the probed bucket
    val one = idx.search(Map(0L -> qs(0L)), k = 5, nprobe = 1)
    one.count()
    val plan = one.queryExecution.executedPlan.toString
    assert(plan.contains("SelectedBucketsCount: 1 out of 8"),
      s"probe scan must prune to the probed bucket, got:\n$plan")
    // a reopen reads the stored bucket count (open never guesses
    // storage geometry)
    Seq("variant", "centroids", "codebook/meta").foreach(d =>
      assert(hasJsonMeta(s"$base/v1/$d"), s"$d must be a JSON record"))
    val opened = IvfPq.open(spark, "ivfpq_t", s"$base/v1")
    val w1 = opened.search(Map(0L -> qs(0L)), k = 5, nprobe = 1)
    w1.count()
    assert(w1.queryExecution.executedPlan.toString
      .contains("SelectedBucketsCount: 1 out of 8"),
      "open must take the bucket count from meta")
    // nprobe=1, four queries from four separated clusters: every neighbor
    // shares its query's cluster — cluster candidates never leak across
    // queries even though all four buckets are in the pruned scan
    val got = rows(idx.search(qs, k = 5, nprobe = 1))
    assert(got.size == 4 * 5)
    got.foreach { case (q, _, n, _) =>
      assert(q % 4 == n % 4, s"cross-cluster neighbor at nprobe=1: ($q, $n)")
    }
    // the DataFrame query path (vectors never visit the driver) returns
    // byte-identical results to the driver-Map path at both probe depths
    val qdf = df.filter(col("vec_id").isin(qids: _*))
    assert(rows(idx.search(qdf, "vec_id", "embedding", k = 5, nprobe = 8)) ==
      rows(idx.search(qs, k = 5, nprobe = 8)))
    assert(rows(idx.search(qdf, "vec_id", "embedding", k = 5, nprobe = 1)) == got)
  }

  test("reopen / append / delete / compact track the flat-ADC reference") {
    import spark.implicits._
    val df = clustered
    val oldPart = df.filter(col("vec_id") % 5 =!= 0)
    val newPart = df.filter(col("vec_id") % 5 === 0)
    val base = java.nio.file.Files.createTempDirectory("ivfpq_m").toString
    IvfPq.build(oldPart, "vec_id", "embedding", "ivfpq_m", s"$base/v1",
      nClusters = 8, m = 4, kCodes = 8, buckets = 8)
    val idx = IvfPq.open(spark, "ivfpq_m", s"$base/v1")
    val qids = Seq(1L, 2L, 3L)
    val qs = qvecs(df, qids)
    // the codebook here is trained on oldPart — the flat reference must
    // use the SAME codebook for bit-equality
    val cb = Pq.train(oldPart, "vec_id", "embedding", m = 4, k = 8)
    assert(idx.cb.trainMse == cb.trainMse && idx.cb.m == cb.m)
    assert(rows(idx.search(qs, k = 5, nprobe = 8)) ==
      rows(Pq.adcTopK(oldPart, "vec_id", "embedding", cb, qids, 5)))
    // append: counted, idempotent, results == flat ADC over the union
    // (encoded under the FROZEN oldPart codebook on both sides: adcTopK
    // with cb encodes df on the fly with the same codebook)
    assert(idx.append(newPart, "vec_id", "embedding") == newPart.count())
    assert(idx.append(newPart, "vec_id", "embedding") == 0L)
    val wantAll = rows(Pq.adcTopK(df, "vec_id", "embedding", cb, qids, 5))
    assert(rows(idx.search(qs, k = 5, nprobe = 8)) == wantAll)
    // delete a neighbor; ranks re-close like flat ADC minus the victim
    val victim = wantAll.map(_._3).filterNot(qids.contains).head
    val deleted = idx.delete(Seq(victim).toDF("vec_id"), "vec_id", s"$base/v2")
    assert(rows(deleted.search(qs, k = 5, nprobe = 8)) ==
      rows(Pq.adcTopK(df.filter(col("vec_id") =!= victim),
        "vec_id", "embedding", cb, qids, 5)))
    // compact: byte-identical searches, full corpus minus the victim
    val compacted = deleted.compact(s"$base/v3")
    assert(rows(compacted.search(qs, k = 5, nprobe = 8)) ==
      rows(deleted.search(qs, k = 5, nprobe = 8)))
    assert(compacted.indexedVectors() == df.count() - 1)
    // re-bucketing compaction: geometry evolves, meta records it, the
    // pruned scan and the results both reflect the new count. Capture the
    // expected rows BEFORE the compact re-points the shared catalog table
    // — comparing two post-compact searches would read the same v4 data
    // twice and could never fail.
    val preRebucket = rows(compacted.search(qs, k = 5, nprobe = 8))
    val preCount = compacted.indexedVectors()
    val rebucketed = compacted.compact(s"$base/v4", newBuckets = 16)
    assert(rebucketed.buckets == 16)
    assert(rebucketed.indexedVectors() == preCount,
      "re-bucketing must not add or drop rows")
    assert(rows(rebucketed.search(qs, k = 5, nprobe = 8)) == preRebucket)
    val one = rebucketed.search(Map(1L -> qvecs(df, Seq(1L))(1L)), k = 5, nprobe = 1)
    one.count()
    assert(one.queryExecution.executedPlan.toString
      .contains("out of 16"), "pruned scan must reflect the evolved bucket count")
    assert(IvfPq.open(spark, "ivfpq_m", s"$base/v4").buckets == 16,
      "open must read the evolved count from meta")
  }

  test("randomized corpora: full-probe composite == flat ADC at arbitrary shapes") {
    import spark.implicits._
    // three adversarial-ish random corpora (different sizes, dims,
    // cluster counts, seeds) — the composite's probe join + LUT scoring
    // must reproduce the flat ranking wherever raw-vector codes make
    // full probing exhaustive, not just on the well-separated fixture
    for (((n, dim, nc), trial) <- Seq((60, 8, 4), (150, 16, 8), (240, 32, 5)).zipWithIndex) {
      val rnd = new scala.util.Random(1000 + trial)
      val df = (0L until n.toLong)
        .map(id => (id, Seq.fill(dim)(rnd.nextGaussian())))
        .toDF("vec_id", "embedding")
        .localCheckpoint(true) // random data must evaluate ONCE
      val base = java.nio.file.Files.createTempDirectory(s"ivfpq_r$trial").toString
      val idx = IvfPq.build(df, "vec_id", "embedding", s"ivfpq_r$trial", base,
        nClusters = nc, m = 4, kCodes = 8, buckets = 4)
      val qids = Seq(0L, (n / 2).toLong, (n - 1).toLong)
      val cb = Pq.train(df, "vec_id", "embedding", m = 4, k = 8)
      assert(rows(idx.search(qvecs(df, qids), k = 5, nprobe = nc)) ==
        rows(Pq.adcTopK(df, "vec_id", "embedding", cb, qids, 5)),
        s"composite != flat ADC on random corpus n=$n dim=$dim nc=$nc")
    }
  }

  test("residual variant: recall@k at the SAME bytes beats-or-matches raw codes; meta-wins reopen; append encodes residuals") {
    import spark.implicits._
    // spread clusters with planted TWINS: centers far from the origin,
    // unit intra-cluster noise, and each base point id < 200 has a
    // near-identical twin at id + 200 (base + 0.01 noise). Raw PQ cells
    // must cover the corpus diameter, so every member of a cluster
    // collapses to (nearly) the same code and the twin is
    // indistinguishable from its 48 cluster-mates; residual cells only
    // cover the unit noise, so the twin's code matches the query's own
    // and ADC ranks it first — exactly the regime the published FAISS
    // IVFPQ residual recipe exists for.
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(4, 16)(rnd.nextGaussian() * 100.0)
    val bases = Array.tabulate(200)(i =>
      centers(i % 4).map(_ + rnd.nextGaussian()))
    val df = (0L until 400L).map { id =>
      val v = if (id < 200) bases(id.toInt)
        else bases(id.toInt - 200).map(_ + rnd.nextGaussian() * 0.01)
      (id, v.toSeq)
    }.toDF("vec_id", "embedding").localCheckpoint(true)
    val vecs = df.as[(Long, Array[Double])].collect().toMap
    def l2(a: Array[Double], b: Array[Double]): Double =
      a.zip(b).map { case (x, y) => (x - y) * (x - y) }.sum
    val qids = Seq(0L, 3L, 5L, 100L, 113L)
    val qs = qids.map(q => q -> vecs(q)).toMap
    // exact ground truth, computed not assumed (it IS the twin)
    val truth = qids.map { q =>
      q -> vecs.keys.filter(_ != q).minBy(n => l2(vecs(q), vecs(n)))
    }.toMap
    assert(truth.forall { case (q, n) => n == q + 200 },
      "fixture self-check: the exact nearest neighbor must be the twin")

    val base = java.nio.file.Files.createTempDirectory("ivfpq_res").toString
    // identical geometry — nClusters, m, kCodes, buckets — so both
    // variants spend exactly the same bytes per vector
    val raw = IvfPq.build(df, "vec_id", "embedding", "ivfpq_raw", s"$base/raw",
      nClusters = 16, m = 4, kCodes = 16, buckets = 8)
    val res = IvfPq.build(df, "vec_id", "embedding", "ivfpq_rv", s"$base/res",
      nClusters = 16, m = 4, kCodes = 16, buckets = 8, residual = true)
    def recall(idx: IvfPq.IvfPqIndex): Double = {
      val got = rows(idx.search(qs, k = 1, nprobe = 16))
        .map(r => (r._1, r._3)).toMap
      qids.count(q => got(q) == truth(q)).toDouble / qids.size
    }
    val (rRaw, rRes) = (recall(raw), recall(res))
    assert(rRes >= rRaw,
      s"residual recall@1 must not lose to raw at equal bytes: $rRes < $rRaw")
    assert(rRes >= 0.8,
      s"residual codes over noise-sized cells must find the twins: $rRes")

    // meta wins: a reopened index knows its variant without being told,
    // and searches bit-identically to the in-memory handle
    val reopened = IvfPq.open(spark, "ivfpq_rv", s"$base/res")
    assert(reopened.residual, "the variant flag must come from the index meta")
    assert(rows(reopened.search(qs, k = 5, nprobe = 16)) ==
      rows(res.search(qs, k = 5, nprobe = 16)))
    // the DataFrame query path scores the same per-(query, cluster) LUTs
    val qdf = df.filter(col("vec_id").isin(qids: _*))
    assert(rows(res.search(qdf, "vec_id", "embedding", k = 5, nprobe = 16)) ==
      rows(res.search(qs, k = 5, nprobe = 16)))

    // append must encode residuals under the frozen quantizers: searches
    // over an index built at once == build-then-append split
    val oldPart = df.filter(col("vec_id") < 300)
    val newPart = df.filter(col("vec_id") >= 300)
    IvfPq.build(oldPart, "vec_id", "embedding", "ivfpq_rv2", s"$base/res2",
      nClusters = 16, m = 4, kCodes = 16, buckets = 8, residual = true)
    val grown = IvfPq.open(spark, "ivfpq_rv2", s"$base/res2")
    assert(grown.append(newPart, "vec_id", "embedding") == newPart.count())
    val grownRecall = recall(grown)
    assert(grownRecall >= 0.8,
      s"appended residual codes must rank like built ones: $grownRecall")
  }

  test("appendStream folds a two-wave vector stream in; results == batch append") {
    import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType, StructField, StructType}
    val df = clustered
    val oldPart = df.filter(col("vec_id") % 5 =!= 0)
    val newPart = df.filter(col("vec_id") % 5 === 0)
    val base = java.nio.file.Files.createTempDirectory("ivfpq_s").toString
    IvfPq.build(oldPart, "vec_id", "embedding", "ivfpq_s", s"$base/v1",
      nClusters = 8, m = 4, kCodes = 8, buckets = 8)
    val idx = IvfPq.open(spark, "ivfpq_s", s"$base/v1")
    Seq(col("vec_id") < 200, col("vec_id") >= 200).foreach { p =>
      newPart.filter(p).coalesce(1).write.mode("append").parquet(s"$base/in")
    }
    idx.appendStream(
      spark.readStream
        .schema(StructType(Seq(
          StructField("vec_id", LongType),
          StructField("embedding", ArrayType(DoubleType)))))
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in"),
      "vec_id", "embedding", s"$base/ckpt")
    assert(idx.indexedVectors() == df.count())
    val qids = Seq(1L, 2L, 3L)
    val cb = Pq.train(oldPart, "vec_id", "embedding", m = 4, k = 8)
    assert(rows(idx.search(qvecs(df, qids), k = 5, nprobe = 8)) ==
      rows(Pq.adcTopK(df, "vec_id", "embedding", cb, qids, 5)),
      "streamed appends must land exactly where a batch append would")
  }
}
