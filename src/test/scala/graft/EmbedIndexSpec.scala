package graft.operators

import java.nio.file.Files

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** The persistent SRP embedding index must (a) return exactly what
  * [[Dedup.embeddingPairs]] returns at the same geometry, restricted to
  * pairs touching the probe batch, (b) read the corpus as bucketed scans
  * with no kernel re-evaluation, (c) keep working across appends /
  * deletes / compacts, and (d) stream to the same closure as the batch
  * operator — the [[MinHashIndex]] contract, re-proven in vector space.
  *
  * Lives in `graft.operators` for the `private[operators]` helpers.
  */
class EmbedIndexSpec extends SparkSpec {

  private def emb = Tables.load(spark, sfDir, "embeddings")
    .select(col("vec_id"), col("embedding"))

  /** Fixture corpus: 500 near-uniform vectors (no true ≥0.95 pairs) plus
    * clones of vectors 0..9 under ids 10000.. — guaranteed cos-1.0 pairs
    * whose SRP keys are bit-identical, so recall is exactly 1 at any
    * geometry and the expected pair set is knowable.
    */
  private def withClones(lo: Long, hi: Long, offset: Long = 10000L) =
    emb.filter(col("vec_id") >= lo && col("vec_id") < hi)
      .select((col("vec_id") + offset).as("vec_id"), col("embedding"))

  test("probe == embeddingPairs at the same geometry, restricted to the batch") {
    val corpus = emb
    val batch = withClones(0L, 10L)
    val base = Files.createTempDirectory("emb_idx").toString
    val idx = EmbedIndex.build(corpus, "vec_id", "embedding", base, "eidx_a",
      dim = 64, threshold = 0.95, buckets = 8)
    val got = idx.probe(batch, "vec_id", "embedding", threshold = 0.95)
      .orderBy("i", "j").collect().toSeq
    // reference: the batch operator over corpus ∪ batch at the INDEX's
    // geometry, keeping only pairs touching a batch id (ids ≥ 10000 sort
    // after all corpus ids, so "j is a clone" covers both cases)
    val want = Dedup.embeddingPairs(corpus.unionByName(batch),
        "vec_id", "embedding", dim = 64, threshold = 0.95,
        planesPerTable = idx.bits, tables = idx.tables)
      .filter(col("j") >= 10000L)
      .orderBy("i", "j").collect().toSeq
    assert(got == want)
    assert(got.size == 10, s"each clone must pair with its original: $got")
    assert(got.forall(_.getDouble(2) == 1.0))
    Dedup.releaseCaches()

    // plan shape of the corpus⋈batch candidate join: stored side bucketed
    // (SelectedBucketsCount), exactly one exchange (the batch side)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val inB = idx.batchBuckets(batch, "vec_id", "embedding")
      val j = spark.table(idx.bucketsTable).as("a")
        .join(inB.as("b"),
          col("a.t") === col("b.t") && col("a.bk") === col("b.bk"))
      j.count()
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount"),
        s"corpus side must use the bucketed layout, got:\n$plan")
      assert("Exchange".r.findAllIn(plan).length == 1,
        s"expected exactly one exchange (batch side only), got:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("append folds a batch in; delete retracts; compact shrinks files — probes track") {
    val corpus = emb
    val b1 = withClones(0L, 5L)           // clones 10000..10004
    val b2 = withClones(0L, 10L, 20000L)  // clones 20000..20009
    val base = Files.createTempDirectory("emb_idx2").toString
    val idx = EmbedIndex.build(corpus, "vec_id", "embedding", s"$base/v1",
      "eidx_b", dim = 64, threshold = 0.95, buckets = 8)
    assert(idx.indexedVectors() == 500L)
    idx.append(b1, "vec_id", "embedding")
    assert(idx.indexedVectors() == 505L)
    // b2 probes against corpus ∪ b1: clone 20000 pairs with BOTH 0 and
    // 10000 (the appended copy) — the second pair only exists via append
    val got = idx.probe(b2, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0L until 10L).forall(v => got.contains((v, v + 20000L))), s"$got")
    assert((0L until 5L).forall(v => got.contains((v + 10000L, v + 20000L))),
      s"pairs through the appended batch missing: $got")
    // geometry survives a cold re-open (meta, not caller memory)
    assert(hasJsonMeta(s"$base/v1/meta"))
    val reopened = EmbedIndex.open(spark, "eidx_b", s"$base/v1")
    assert(reopened.bits == idx.bits && reopened.tables == idx.tables)
    // drift check: at fixture size the frozen width is still the derived
    // one (no rebuild); a toy targetBucket makes the same corpus "too
    // big" for 8-bit keys and trips it
    assert(!reopened.needsRebuild())
    assert(reopened.needsRebuild(targetBucket = 1),
      "505 vectors at targetBucket=1 must demand >8 bits")
    assert(reopened.probe(b2, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet == got)
    // delete the appended clone 10000: pairs touching it disappear,
    // everything else is untouched
    import spark.implicits._
    val deleted = reopened.delete(Seq(10000L).toDF("vec_id"), "vec_id", s"$base/v2")
    val afterDel = deleted.probe(b2, "vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(afterDel == got.filterNot(p => p._1 == 10000L || p._2 == 10000L))
    assert(deleted.indexedVectors() == 504L)
    // compact: fewer files, identical probes
    def parquetFiles(dir: String): Int = {
      val d = new java.io.File(dir)
      if (!d.exists) 0
      else d.listFiles.count(f => f.isFile && f.getName.endsWith(".parquet"))
    }
    deleted.append(b2, "vec_id", "embedding") // accumulate files to fold
    val before = parquetFiles(s"$base/v2/buckets")
    val beforeProbe = deleted.probe(withClones(0L, 3L, 30000L), "vec_id", "embedding")
      .orderBy("i", "j").collect().toSeq
    val compacted = deleted.compact(s"$base/v3")
    assert(parquetFiles(s"$base/v3/buckets") < before,
      s"compaction must shrink: $before -> ${parquetFiles(s"$base/v3/buckets")}")
    assert(compacted.probe(withClones(0L, 3L, 30000L), "vec_id", "embedding")
      .orderBy("i", "j").collect().toSeq == beforeProbe)
    Dedup.releaseCaches()
  }

  test("searchTopK over the stored index == srpTopK at the same geometry; appends searchable") {
    // clustered fixture (SRP only pays off when near neighbors are near):
    // same construction as SimilaritySpec's SRP test
    val rnd = new scala.util.Random(11)
    val centers = Array.fill(3)(Array.fill(32)(rnd.nextGaussian()))
    val rows0 = for (i <- 0 until 60) yield {
      val c = centers(i % 3)
      (i.toLong, c.map(x => (x + rnd.nextGaussian() * 0.05).toFloat))
    }
    val clustered = spark.createDataFrame(rows0).toDF("vec_id", "embedding")
    val base = Files.createTempDirectory("emb_topk").toString
    val idx = EmbedIndex.build(clustered, "vec_id", "embedding", base, "eidx_t",
      dim = 32, planesPerTable = 6, tables = 8, buckets = 8)
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = rows(idx.searchTopK(
      clustered.filter(col("vec_id") < 3), "vec_id", "embedding", k = 3))
    val want = rows(Similarity.srpTopK(clustered, "vec_id", "embedding",
      Seq(0L, 1L, 2L), 3, dim = 32, planesPerTable = 6, tables = 8))
    assert(got == want, s"stored-index search drifted from srpTopK: $got vs $want")
    // an appended clone of vector 0 becomes its top neighbor (cos 1.0)
    val clone = clustered.filter(col("vec_id") === 0L)
      .select(lit(999L).as("vec_id"), col("embedding"))
    idx.append(clone, "vec_id", "embedding")
    val after = idx.searchTopK(
      clustered.filter(col("vec_id") === 0L), "vec_id", "embedding", k = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(after.toSeq == Seq((0L, 1, 999L, 1.0)), s"appended clone not found: ${after.toSeq}")
  }

  test("rebuild closes the needsRebuild wall: re-derived geometry, probes == fresh build") {
    // toy targetBucket=2 so fixture-scale growth crosses the width wall:
    // 500 vectors derive 8 bits (the floor); doubling to 1000 derives 9
    val corpus = emb
    val grow = withClones(0L, 500L) // 500 clones under ids 10000..10499
    val base = Files.createTempDirectory("emb_rebuild").toString
    val idx = EmbedIndex.build(corpus, "vec_id", "embedding", s"$base/v1",
      "eidx_r", dim = 64, threshold = 0.95, buckets = 8, targetBucket = 2)
    assert(idx.bits == Lsh.autoPlanes(500L, 2))
    assert(!idx.needsRebuild(targetBucket = 2))
    idx.append(grow, "vec_id", "embedding")
    assert(idx.needsRebuild(targetBucket = 2),
      "a 2x-grown corpus must trip the frozen-width check")
    val rebuilt = idx.rebuild(s"$base/v2", targetBucket = 2)
    assert(rebuilt.bits == Lsh.autoPlanes(1000L, 2),
      s"rebuild must re-derive width at TODAY's count, got ${rebuilt.bits}")
    assert(!rebuilt.needsRebuild(targetBucket = 2))
    assert(rebuilt.indexedVectors() == 1000L)
    // the recall design point travels: rebuild without an explicit
    // threshold re-derives tables at the threshold the index was BUILT at
    // (persisted in meta), not at some function default
    assert(rebuilt.designThreshold == 0.95)
    assert(rebuilt.tables == Lsh.autoTables(rebuilt.bits, 0.95))
    assert(EmbedIndex.open(spark, "eidx_r", s"$base/v2").designThreshold == 0.95)
    // the promise: rebuild == EmbedIndex.build over the same vectors at
    // the same knobs (same seed -> same planes -> identical probes)
    val batch = withClones(0L, 10L, 30000L)
    val fresh = EmbedIndex.build(
      corpus.unionByName(grow), "vec_id", "embedding", s"$base/fresh",
      "eidx_r2", dim = 64, threshold = 0.95, buckets = 8, targetBucket = 2)
    assert(rebuilt.bits == fresh.bits && rebuilt.tables == fresh.tables)
    // both handles resolve through their OWN catalog tables (eidx_r_* now
    // points at v2; fresh registered eidx_r2_*), so the probes interleave
    // without clobbering — the multi-index-per-session contract
    val gotR = rebuilt.probe(batch, "vec_id", "embedding")
      .orderBy("i", "j").collect().toSeq
    val gotF = fresh.probe(batch, "vec_id", "embedding")
      .orderBy("i", "j").collect().toSeq
    assert(gotR == gotF, s"rebuilt index drifted from fresh build:\n$gotR\nvs\n$gotF")
    // every clone-of-clone pair must be present: 30000+k pairs with k AND 10000+k
    val ids = gotR.map(r => (r.getLong(0), r.getLong(1))).toSet
    assert((0L until 10L).forall(k =>
      ids.contains((k, k + 30000L)) && ids.contains((k + 10000L, k + 30000L))), s"$ids")
    Dedup.releaseCaches()
  }

  test("compact sheds torn-append duplicate bucket rows; probes unchanged") {
    import org.apache.spark.sql.SaveMode
    val corpus = emb
    val base = Files.createTempDirectory("emb_shed").toString
    val idx = EmbedIndex.build(corpus, "vec_id", "embedding", base, "eidx_s",
      dim = 64, threshold = 0.95, buckets = 8)
    val cleanRows = spark.read.parquet(s"$base/buckets").count()
    val batch = withClones(0L, 5L)
    val probeBefore = idx.probe(batch, "vec_id", "embedding")
      .orderBy("i", "j").collect().toSeq
    // simulate the torn-append residue the append doc describes: a crash
    // between the buckets and vectors writes, then a redelivered batch
    // re-writing both — the bucket rows of some vids exist twice
    val dup = spark.read.parquet(s"$base/buckets").filter(col("vid") < 5)
    assert(dup.count() > 0, "setup: duplicated slice must be non-empty")
    dup.write.mode(SaveMode.Append).bucketBy(8, "t", "bk")
      .saveAsTable("eidx_s_ebuckets")
    // duplicates are probe-invisible (candidate distinct) but present
    assert(idx.probe(batch, "vec_id", "embedding")
      .orderBy("i", "j").collect().toSeq == probeBefore)
    assert(spark.read.parquet(s"$base/buckets").count() > cleanRows)
    // compact sheds them — the maintenance promise the append doc makes
    val compacted = idx.compact(s"$base/v2")
    assert(spark.read.parquet(s"$base/v2/buckets").count() == cleanRows,
      "compact must dedupe the bucket rows back to the clean count")
    assert(compacted.probe(batch, "vec_id", "embedding")
      .orderBy("i", "j").collect().toSeq == probeBefore)
    // re-bucketing compaction: probes unchanged, evolved count in meta
    val rb = compacted.compact(s"$base/v3", newBuckets = 16)
    assert(rb.buckets == 16)
    assert(rb.probe(batch, "vec_id", "embedding")
      .orderBy("i", "j").collect().toSeq == probeBefore,
      "re-bucketing must not change probe output")
    assert(EmbedIndex.open(spark, "eidx_s", s"$base/v3").buckets == 16,
      "a later open must read the evolved count from meta")
    Dedup.releaseCaches()
  }

  test("append is idempotent: a redelivered batch does not duplicate index rows") {
    val corpus = emb
    val b1 = withClones(0L, 5L)
    val base = Files.createTempDirectory("emb_idem").toString
    val idx = EmbedIndex.build(corpus, "vec_id", "embedding", base, "eidx_i",
      dim = 64, threshold = 0.95, buckets = 8)
    assert(idx.append(b1, "vec_id", "embedding") == b1.count(),
      "a fresh batch must report every row appended")
    val n1 = idx.indexedVectors()
    val probe1 = idx.probe(withClones(0L, 5L, 20000L), "vec_id", "embedding")
      .orderBy("i", "j").collect().toSeq
    // the at-least-once scenario: foreachBatch died after append() but
    // before the checkpoint commit, and the SAME batch arrives again
    assert(idx.append(b1, "vec_id", "embedding") == 0L,
      "a full redelivery must report zero rows appended — the dropped " +
        "count is the caller's stale-payload signal")
    assert(idx.indexedVectors() == n1,
      "re-appending an already-indexed batch must be a no-op")
    val probe2 = idx.probe(withClones(0L, 5L, 20000L), "vec_id", "embedding")
      .orderBy("i", "j").collect().toSeq
    assert(probe2 == probe1, "redelivery must not change (or duplicate) probe output")
    Dedup.releaseCaches()
  }

  test("probeStream: cumulative streamed pairs == batch embeddingPairs closure") {
    import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StructField, StructType}
    val corpus = emb.unionByName(withClones(0L, 10L))
    val base = Files.createTempDirectory("emb_stream").toString
    // three arrival waves (clones land in a different wave than their
    // originals), one file per wave → three micro-batches
    Seq(col("vec_id") < 250, col("vec_id") >= 250 && col("vec_id") < 10000,
        col("vec_id") >= 10000).foreach { p =>
      corpus.filter(p).coalesce(1).write.mode("append").parquet(s"$base/in")
    }
    val idx = EmbedIndex.build(corpus.filter(lit(false)), "vec_id", "embedding",
      s"$base/idx", "eidx_s", dim = 64, threshold = 0.95,
      planesPerTable = 12, tables = 8, buckets = 8)
    val stream = spark.readStream
      .schema(StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$base/in")
    idx.probeStream(stream, "vec_id", "embedding",
      s"$base/pairs", s"$base/ckpt", threshold = 0.95)
    val got = spark.read.parquet(s"$base/pairs")
      .orderBy("i", "j").collect().toSeq
    val want = Dedup.embeddingPairs(corpus, "vec_id", "embedding", dim = 64,
        threshold = 0.95, planesPerTable = 12, tables = 8)
      .orderBy("i", "j").collect().toSeq
    assert(got == want)
    assert(got.size == 10, "the 10 planted clone pairs must all stream out")
    Dedup.releaseCaches()
  }
}
