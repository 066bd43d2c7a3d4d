package graft

import graft.operators.Pq
import org.apache.spark.sql.functions._

/** Product-quantization invariants (PQ output is sketch-specific, so no
  * SQL oracle): seeded determinism, code feasibility, reconstruction
  * quality, and ADC recall on well-separated clusters.
  */
class PqSpec extends SparkSpec {

  /** 4 clusters at distance ~20 apart in 16-dim, sigma 0.1 — far enough
    * apart that any sane quantizer must keep them distinct.
    */
  private def clustered = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val centers = Array.tabulate(4, 16)((c, i) => if (i % 4 == c) 20.0 else 0.0)
    (0L until 400L).map { id =>
      val c = (id % 4).toInt
      (id, centers(c).map(_ + rnd.nextGaussian() * 0.1).toSeq)
    }.toDF("vec_id", "embedding")
  }

  test("train + encode are deterministic and partitioning-invariant") {
    val df = clustered
    val cb1 = Pq.train(df, "vec_id", "embedding", m = 4, k = 8, seed = 42L)
    val cb2 = Pq.train(df.repartition(13), "vec_id", "embedding", m = 4, k = 8, seed = 42L)
    val a = Pq.encode(df, "vec_id", "embedding", cb1)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val b = Pq.encode(df.repartition(7), "vec_id", "embedding", cb2)
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(a == b)
    assert(a.values.forall(cs => cs.length == 4 && cs.forall(c => c >= 0 && c < 8)))
  }

  test("reconstruction preserves nearly all signal energy on clustered data") {
    val st = Pq.reconstructionStats(clustered, "vec_id", "embedding",
        Pq.train(clustered, "vec_id", "embedding", m = 4, k = 8)).head()
    val mse = st.getDouble(1); val msn = st.getDouble(3)
    assert(st.getLong(0) == 400L)
    // 8 centroids per subspace against 4 true clusters: error must be a
    // tiny fraction of the ~400 mean squared norm
    assert(mse < 0.05 * msn, s"mse=$mse msn=$msn")
  }

  test("train rejects k larger than the sample; adcTopK rejects unknown query ids") {
    import spark.implicits._
    val tiny = (0L until 6L).map(i => (i, Seq.fill(16)(i.toDouble))).toDF("vec_id", "embedding")
    val e1 = intercept[IllegalArgumentException] {
      Pq.train(tiny, "vec_id", "embedding", m = 4, k = 8)
    }
    assert(e1.getMessage.contains("k=8"))
    val cb = Pq.train(clustered, "vec_id", "embedding", m = 4, k = 8)
    val e2 = intercept[IllegalArgumentException] {
      Pq.adcTopK(clustered, "vec_id", "embedding", cb, Seq(0L, 999L), 3)
    }
    assert(e2.getMessage.contains("999"))
  }

  test("persistent PQ index: stored-codes search == in-memory ADC through the whole maintenance cycle") {
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    val df = clustered
    val cb = Pq.train(df, "vec_id", "embedding", m = 4, k = 8)
    val oldPart = df.filter(col("vec_id") % 5 =!= 0)
    val newPart = df.filter(col("vec_id") % 5 === 0)
    val base = java.nio.file.Files.createTempDirectory("pq_idx").toString
    val qids = Seq(1L, 2L, 3L)
    val qs = df.filter(col("vec_id").isin(qids: _*))
      .select(col("vec_id"), col("embedding"))
      .as[(Long, Array[Double])].collect().toMap
    def rows(r: DataFrame) = r.orderBy("query_id", "rank").collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getLong(2), x.getDouble(3))).toSeq
    val idx = Pq.saveIndex(oldPart, "vec_id", "embedding", cb,
      "pqidx_t", s"$base/v1", buckets = 8)
    // stored-codes search is bit-identical to the in-memory ADC path
    // (shared scoring tail, same codebook)
    assert(rows(idx.search(qs, k = 5)) ==
      rows(Pq.adcTopK(oldPart, "vec_id", "embedding", cb, qids, 5)))
    // cold reopen: codebook roundtrips (shape, baseline, centroids) and
    // searches identically
    assert(hasJsonMeta(s"$base/v1/codebook/meta"))
    val reopened = Pq.openIndex(spark, "pqidx_t", s"$base/v1")
    assert(reopened.cb.m == cb.m && reopened.cb.k == cb.k &&
      reopened.cb.dsub == cb.dsub && reopened.cb.trainMse == cb.trainMse)
    // the bucket count comes from meta — open can neither break append
    // (spec mismatch) nor silently re-bucket the codes on the next compact
    assert(reopened.buckets == 8,
      "openIndex must take the bucket count from meta")
    assert(rows(reopened.search(qs, k = 5)) == rows(idx.search(qs, k = 5)))
    // append the held-out fifth: counted, idempotent, and the search
    // equals in-memory ADC over the whole corpus
    assert(reopened.append(newPart, "vec_id", "embedding") == newPart.count())
    assert(reopened.append(newPart, "vec_id", "embedding") == 0L,
      "a full redelivery must report zero rows appended")
    val wantAll = rows(Pq.adcTopK(df, "vec_id", "embedding", cb, qids, 5))
    assert(rows(reopened.search(qs, k = 5)) == wantAll)
    // delete a top neighbor: it disappears and ranks re-close exactly as
    // ADC over the remaining corpus; compact changes nothing
    val victim = wantAll.map(_._3).filterNot(qids.contains).head
    val deleted = reopened.delete(Seq(victim).toDF("vec_id"), "vec_id", s"$base/v2")
    assert(rows(deleted.search(qs, k = 5)) ==
      rows(Pq.adcTopK(df.filter(col("vec_id") =!= victim),
        "vec_id", "embedding", cb, qids, 5)))
    val compacted = deleted.compact(s"$base/v3")
    assert(rows(compacted.search(qs, k = 5)) == rows(deleted.search(qs, k = 5)))
    assert(compacted.indexedVectors() == df.count() - 1)
    // re-bucketing compaction: results captured BEFORE the compact
    // re-points the shared table; evolved count in meta
    val preRb = rows(compacted.search(qs, k = 5))
    val rb = compacted.compact(s"$base/v4", newBuckets = 16)
    assert(rb.buckets == 16)
    assert(rb.indexedVectors() == df.count() - 1,
      "re-bucketing must not add or drop rows")
    assert(rows(rb.search(qs, k = 5)) == preRb,
      "re-bucketing must not change search results")
    assert(Pq.openIndex(spark, "pqidx_t", s"$base/v4").buckets == 16,
      "a later open must read the evolved count from meta")
  }

  test("codebook drift: needsRetrain trips on a shifted corpus; retrain clears it") {
    import spark.implicits._
    val df = clustered
    val cb = Pq.train(df, "vec_id", "embedding", m = 4, k = 8)
    // the baseline travels on the codebook, and a stationary corpus does
    // not want a retrain (current error == train error here: the sample
    // covers the whole 400-row fixture)
    assert(!cb.trainMse.isNaN && cb.trainMse >= 0.0)
    assert(!Pq.needsRetrain(df, "vec_id", "embedding", cb))
    // distribution shift: a fifth cluster far outside the training range —
    // reconstruction through the frozen codebooks degrades measurably
    val extra = (1000L until 1400L).map { id =>
      (id, Seq.tabulate(16)(i => 40.0 + (id % 5) * 0.3 + i * 0.01))
    }.toDF("vec_id", "embedding")
    val shiftedCorpus = df.unionByName(extra)
    assert(Pq.currentMse(shiftedCorpus, "vec_id", "embedding", cb) >
      cb.trainMse * 1.5,
      "the observable reconstruction error must have grown past tolerance")
    assert(Pq.needsRetrain(shiftedCorpus, "vec_id", "embedding", cb))
    // retrain: same shape (m, k), fresh baseline, drift cleared
    val cb2 = Pq.retrain(shiftedCorpus, "vec_id", "embedding", cb)
    assert(cb2.m == cb.m && cb2.k == cb.k,
      "retrain is a quantizer refresh, not a layout change")
    assert(!Pq.needsRetrain(shiftedCorpus, "vec_id", "embedding", cb2))
    assert(Pq.currentMse(shiftedCorpus, "vec_id", "embedding", cb2) <
      Pq.currentMse(shiftedCorpus, "vec_id", "embedding", cb),
      "retraining must reduce the error it was triggered by")
  }

  test("ADC top-k recalls same-cluster neighbors") {
    val df = clustered
    val cb = Pq.train(df, "vec_id", "embedding", m = 4, k = 8)
    val got = Pq.adcTopK(df, "vec_id", "embedding", cb, Seq(0L, 1L, 2L, 3L), 5)
    // every returned neighbor belongs to the query's cluster (id % 4)
    val rows = got.collect()
    assert(rows.length == 4 * 5)
    rows.foreach { r =>
      assert(r.getLong(0) % 4 == r.getLong(2) % 4,
        s"cross-cluster neighbor: $r")
    }
  }
}
