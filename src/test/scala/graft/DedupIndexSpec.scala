package graft.operators

import java.nio.file.Files

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.functions._

/** The persistent band-bucket index must (a) return exactly what the
  * recompute-everything incremental operator returns, (b) read the corpus
  * as bucketed scans — no signature kernels, no corpus-side exchange —
  * and (c) keep working across appends, which is the whole point of
  * persisting it.
  *
  * Lives in `graft.operators` to reach the `private[operators]` signature
  * helpers for the plan-shape assertion.
  */
class DedupIndexSpec extends SparkSpec {

  private def docs = Tables.load(spark, sfDir, "documents")

  test("probe == incrementalMinHashPairs, corpus never recomputed") {
    val corpus = docs.filter(col("doc_id") < 400)
    val incoming = docs.filter(col("doc_id") >= 400)
    val base = Files.createTempDirectory("mh_index").toString
    val idx = DedupIndex.build(corpus, "doc_id", "text", base, "mhidx_a",
      shingleN = 3, numHashes = 64, bands = 16, buckets = 8)
    val got = idx.probe(incoming, "doc_id", "text", threshold = 0.8)
      .orderBy("i", "j").collect().toSeq
    val want = Dedup.incrementalMinHashPairs(corpus, incoming, "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, threshold = 0.8)
      .orderBy("i", "j").collect().toSeq
    assert(got == want)
    assert(got.nonEmpty, "fixture must exercise cross-batch pairs")

    // Plan shape of the corpus⋈batch candidate join: the stored side is a
    // bucketed scan (SelectedBucketsCount in the FileScan) and the ONLY
    // exchange is the batch side being shuffled to the bucket layout —
    // i.e. the per-batch cost excludes both corpus signature compute and
    // a corpus-sized shuffle. Broadcast is disabled because at fixture
    // size the planner would broadcast the batch and hide the property
    // under test (at scale that broadcast is itself the ideal plan).
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val inSets = Dedup.hashedSets(incoming, "doc_id", "text", 3)
      val inB = Dedup.bandBuckets(inSets, 64, 16)
      val j = spark.table(idx.bucketsTable).as("a")
        .join(inB.as("b"),
          col("a.band") === col("b.band") && col("a.bh") === col("b.bh"))
      j.count() // finalize any adaptive re-planning before reading the plan
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("SelectedBucketsCount"),
        s"corpus side must use the bucketed layout, got:\n$plan")
      assert("Exchange".r.findAllIn(plan).length == 1,
        s"expected exactly one exchange (batch side only), got:\n$plan")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("append folds a batch in; later probes see it without a rebuild") {
    val d2 = docs.select("doc_id", "text")
    val corpus = d2.filter(col("doc_id") < 350)
    // batch 1 carries a clone of doc 450's text under a fresh id so a
    // cross-batch duplicate provably exists (the fixture has none
    // spanning this particular split)
    val b1 = d2.filter(col("doc_id") >= 350 && col("doc_id") < 450)
      .unionByName(d2.filter(col("doc_id") === 450)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
    val b2 = d2.filter(col("doc_id") >= 450)
    val base = Files.createTempDirectory("mh_index2").toString
    val idx = DedupIndex.build(corpus, "doc_id", "text", base, "mhidx_b",
      shingleN = 3, numHashes = 64, bands = 16, buckets = 8)
    assert(idx.indexedDocs() == corpus.count())
    idx.append(b1, "doc_id", "text")
    assert(idx.indexedDocs() == corpus.count() + b1.count())
    val got = idx.probe(b2, "doc_id", "text", threshold = 0.8)
      .orderBy("i", "j").collect().toSeq
    val want = Dedup.incrementalMinHashPairs(
        corpus.unionByName(b1), b2, "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, threshold = 0.8)
      .orderBy("i", "j").collect().toSeq
    assert(got == want)
    // the clone pair spans batch-2 and the APPENDED batch — it can only
    // be found through the index path, not the original build
    assert(got.exists(r => r.getLong(0) == 450L && r.getLong(1) == 10450L),
      s"no pair touching the appended batch: $got")
    Dedup.releaseCaches()
  }

  test("open never guesses geometry: meta wins over (absent or wrong) arguments") {
    val d2 = docs.select("doc_id", "text")
    val corpus = d2.filter(col("doc_id") < 300)
    val batch = d2.filter(col("doc_id") >= 300)
    val base = Files.createTempDirectory("mh_meta").toString
    // NON-default geometry baked into the index
    val idx = DedupIndex.build(corpus, "doc_id", "text", base, "mhidx_m",
      shingleN = 3, numHashes = 64, bands = 16, buckets = 8)
    val want = idx.probe(batch, "doc_id", "text").orderBy("i", "j").collect().toSeq
    // open takes no geometry: it must read the stored 64/16/8 from meta
    // (the build defaults disagree on every knob) — probing with another
    // LSH geometry than the stored buckets would silently emit garbage
    assert(hasJsonMeta(s"$base/meta"))
    val reopened = DedupIndex.open(spark, "mhidx_m", base)
    assert(reopened.numHashes == 64 && reopened.bands == 16 && reopened.buckets == 8,
      s"meta must win: got ${reopened.numHashes}/${reopened.bands}/${reopened.buckets}")
    assert(reopened.probe(batch, "doc_id", "text").orderBy("i", "j").collect().toSeq
      == want)
    // geometry travels through maintenance rewrites too
    reopened.compact(s"$base-v2")
    val reopened2 = DedupIndex.open(spark, "mhidx_m", s"$base-v2")
    assert(reopened2.numHashes == 64 && reopened2.bands == 16,
      "compact must carry meta to the new path")
    Dedup.releaseCaches()
  }

  test("open without a metadata record fails naming the path, for every family") {
    import spark.implicits._
    // a directory holding no meta: every family's open must refuse it
    // loudly instead of guessing a geometry
    val opens: Seq[(String, String => Any)] = Seq(
      "DedupIndex" -> (p => DedupIndex.open(spark, "nometa_mh", p)),
      "Bm25Index" -> (p => Bm25Index.open(spark, "nometa_bm", p)),
      "PhraseIndex" -> (p => PhraseIndex.open(spark, "nometa_ph", p)),
      "ScreenIndex" -> (p => ScreenIndex.open(spark, "nometa_scr", p)),
      "ComponentsIndex" -> (p => ComponentsIndex.open(spark, "nometa_c", p)),
      "EmbedIndex" -> (p => EmbedIndex.open(spark, "nometa_e", p)),
      "IvfIndex" -> (p => Similarity.IvfIndex.open(spark, "nometa_ivf", p)),
      "IvfPq" -> (p => IvfPq.open(spark, "nometa_ivfpq", p)),
      "Pq" -> (p => Pq.openIndex(spark, "nometa_pq", p)),
      "Dsir" -> (p => Dsir.open(spark, p)),
      "QualityModel" -> (p => QualityModel.open(spark, p)),
      "MaterializedAgg" -> (p => MaterializedAgg.open(spark, p)),
      "GraftTable" -> (p => GraftTable.open(spark, p)))
    opens.foreach { case (family, open) =>
      val dir = Files.createTempDirectory(s"nometa_$family").toString
      val e = intercept[Exception](open(dir))
      assert(e.getMessage.contains(dir),
        s"$family must name the path it could not open: ${e.getMessage}")
    }
    // a committed version whose meta.json is gone: the versioned families
    // and the zone map fail on the missing record, naming it
    val rows = (0L until 20L).map(i => (i, i * 0.5)).toDF("k", "v")
    def dropMetaJson(metaDir: String): String = {
      val f = new java.io.File(metaDir, "meta.json")
      assert(f.delete(), s"test setup: no meta.json under $metaDir")
      f.getPath
    }
    val tbl = Files.createTempDirectory("nometa_table").toString
    val t = GraftTable.create(rows, tbl, zoneCols = Seq("k"))
    val tblMeta = dropMetaJson(s"$tbl/v${t.version}/meta")
    val agg = Files.createTempDirectory("nometa_agg").toString
    MaterializedAgg.build(rows, Seq("k"), Seq("v"), agg)
    val aggMeta = dropMetaJson(s"$agg/v1/meta")
    val data = Files.createTempDirectory("nometa_zdata").toString
    rows.coalesce(2).write.mode("overwrite").parquet(data)
    val zm = Files.createTempDirectory("nometa_zm").toString
    ZoneMap.build(spark, data, Seq("k"), zm)
    val zmMeta = dropMetaJson(s"$zm/meta")
    Seq[(String, () => Any)](
      tblMeta -> (() => GraftTable.open(spark, tbl).read()),
      aggMeta -> (() => MaterializedAgg.open(spark, agg)),
      zmMeta -> (() => ZoneMap.prunedFiles(spark, data, zm,
        Seq(ZoneMap.Point("k", 3L))))).foreach { case (missing, open) =>
      val e = intercept[Exception](open())
      assert(e.getMessage.contains(missing),
        s"the failure must name $missing: ${e.getMessage}")
    }
  }

  test("compact can re-bucket: geometry evolves, meta records it, probes unchanged") {
    val d2 = docs.select("doc_id", "text")
    val corpus = d2.filter(col("doc_id") < 400)
    val probeBatch = d2.filter(col("doc_id") >= 450)
    val base = Files.createTempDirectory("mh_rebucket").toString
    val idx = DedupIndex.build(corpus, "doc_id", "text", base, "mhidx_rb",
      shingleN = 3, numHashes = 64, bands = 16, buckets = 4)
    val before = idx.probe(probeBatch, "doc_id", "text")
      .orderBy("i", "j").collect().toSeq
    // a corpus grown orders of magnitude past its build-time bucket count
    // re-buckets DURING the compaction it was going to run anyway
    val rb = idx.compact(s"$base/v2", newBuckets = 16)
    assert(rb.buckets == 16)
    assert(rb.probe(probeBatch, "doc_id", "text")
      .orderBy("i", "j").collect().toSeq == before,
      "re-bucketing must not change probe output")
    // the evolved geometry is in meta: a later open needs no telling
    assert(DedupIndex.open(spark, "mhidx_rb", s"$base/v2").buckets == 16)
    Dedup.releaseCaches()
  }

  test("append is idempotent: a redelivered batch does not duplicate index rows") {
    val d2 = docs.select("doc_id", "text")
    val corpus = d2.filter(col("doc_id") < 400)
    val b1 = d2.filter(col("doc_id") >= 400 && col("doc_id") < 450)
    val probeBatch = d2.filter(col("doc_id") >= 450)
    val base = Files.createTempDirectory("mh_idem").toString
    val idx = DedupIndex.build(corpus, "doc_id", "text", base, "mhidx_i",
      shingleN = 3, numHashes = 64, bands = 16, buckets = 8)
    assert(idx.append(b1, "doc_id", "text") == b1.count(),
      "a fresh batch must report every row appended")
    val n1 = idx.indexedDocs()
    val probe1 = idx.probe(probeBatch, "doc_id", "text")
      .orderBy("i", "j").collect().toSeq
    // the at-least-once scenario: foreachBatch died after append() but
    // before the checkpoint commit, and the SAME batch arrives again
    assert(idx.append(b1, "doc_id", "text") == 0L,
      "a full redelivery must report zero rows appended — the dropped " +
        "count is the caller's stale-payload signal")
    assert(idx.indexedDocs() == n1,
      "re-appending an already-indexed batch must be a no-op")
    val probe2 = idx.probe(probeBatch, "doc_id", "text")
      .orderBy("i", "j").collect().toSeq
    assert(probe2 == probe1, "redelivery must not change (or duplicate) probe output")
    Dedup.releaseCaches()
  }

  test("probeStream: cumulative streamed pairs == full corpus closure") {
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    val d2 = docs.select("doc_id", "text")
    val base = Files.createTempDirectory("mh_stream").toString
    val n = d2.agg(max("doc_id")).head.getLong(0) + 1
    // three waves, one file each → three micro-batches under
    // maxFilesPerTrigger=1; wave order must not matter (invariance is the
    // operator's contract), so this also passes if the source reorders
    Seq((0L, n / 3), (n / 3, 2 * n / 3), (2 * n / 3, n + 1)).foreach {
      case (lo, hi) =>
        d2.filter(col("doc_id") >= lo && col("doc_id") < hi)
          .coalesce(1).write.mode("append").parquet(s"$base/in")
    }
    val idx = DedupIndex.build(d2.filter(lit(false)), "doc_id", "text",
      s"$base/idx", "mhidx_s", shingleN = 3, numHashes = 64, bands = 16,
      buckets = 8)
    val stream = spark.readStream
      .schema(StructType(Seq(
        StructField("doc_id", LongType), StructField("text", StringType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$base/in")
    idx.probeStream(stream, "doc_id", "text",
      s"$base/pairs", s"$base/ckpt", threshold = 0.8)
    val got = spark.read.parquet(s"$base/pairs")
      .orderBy("i", "j").collect().toSeq
    val want = Dedup.minHashPairs(d2, "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, threshold = 0.8)
      .orderBy("i", "j").collect().toSeq
    assert(got == want)
    assert(got.nonEmpty, "fixture must contain at least one pair")
    Dedup.releaseCaches()
  }

  test("delete removes docs from candidate generation; surviving pairs unchanged") {
    import spark.implicits._
    val d2 = docs.select("doc_id", "text")
    // corpus carries a clone of doc 100 (id 10100); the probe batch is a
    // second clone (id 20100) — both corpus copies must pair with it
    val corpus = d2.filter(col("doc_id") < 400)
      .unionByName(d2.filter(col("doc_id") === 100)
        .select((col("doc_id") + 10000).as("doc_id"), col("text")))
    val base = Files.createTempDirectory("mh_delete").toString
    val idx = DedupIndex.build(corpus, "doc_id", "text", s"$base/v1",
      "mhidx_d", shingleN = 3, numHashes = 64, bands = 16, buckets = 8)
    val batch = d2.filter(col("doc_id") === 100)
      .select((col("doc_id") + 20000).as("doc_id"), col("text"))
    def pairSet(i: MinHashIndex): Set[(Long, Long)] =
      i.probe(batch, "doc_id", "text", threshold = 0.8)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val before = pairSet(idx)
    assert(before.contains((100L, 20100L)) && before.contains((10100L, 20100L)),
      s"both corpus copies must pair with the probe clone: $before")
    // retract the clone: it must never appear in probe output again,
    // while every pair not touching it is untouched
    val idx2 = idx.delete(Seq(10100L).toDF("doc_id"), "doc_id", s"$base/v2")
    val after = pairSet(idx2)
    assert(!after.exists(p => p._1 == 10100L || p._2 == 10100L),
      s"deleted doc still generates candidates: $after")
    assert(after == before.filterNot(p => p._1 == 10100L || p._2 == 10100L))
    assert(idx2.indexedDocs() == corpus.count() - 1)
    Dedup.releaseCaches()
  }

  test("compact folds per-append files into one set; probes unchanged") {
    val d2 = docs.select("doc_id", "text")
    val corpus = d2.filter(col("doc_id") < 300)
    val b1 = d2.filter(col("doc_id") >= 300 && col("doc_id") < 400)
    val probeBatch = d2.filter(col("doc_id") >= 400)
    val base = Files.createTempDirectory("mh_compact").toString
    val idx = DedupIndex.build(corpus, "doc_id", "text", s"$base/v1",
      "mhidx_c", shingleN = 3, numHashes = 64, bands = 16, buckets = 8)
    idx.append(b1, "doc_id", "text")
    def parquetFiles(dir: String): Int = {
      val d = new java.io.File(dir)
      if (!d.exists) 0
      else d.listFiles.count(f => f.isFile && f.getName.endsWith(".parquet"))
    }
    val before = parquetFiles(s"$base/v1/buckets")
    val beforePairs = idx.probe(probeBatch, "doc_id", "text", threshold = 0.8)
      .orderBy("i", "j").collect().toSeq
    val idx2 = idx.compact(s"$base/v2")
    val after = parquetFiles(s"$base/v2/buckets")
    assert(after < before,
      s"compaction must shrink the file count: $before -> $after")
    val afterPairs = idx2.probe(probeBatch, "doc_id", "text", threshold = 0.8)
      .orderBy("i", "j").collect().toSeq
    assert(afterPairs == beforePairs)
    assert(idx2.indexedDocs() == corpus.count() + b1.count())
    Dedup.releaseCaches()
  }
}
