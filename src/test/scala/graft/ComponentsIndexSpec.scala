package graft.operators

import java.nio.file.Files

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The incremental components index must equal the connected components
  * ([[ComponentsOracle]], a union-find outside the engine) of the union of
  * every pair ingested so far — after every update, through
  * every merge topology (join an existing component, bridge two old
  * components, chain through a prior merge) — while keeping the
  * assignments table append-only and the remap fully collapsed.
  */
class ComponentsIndexSpec extends SparkSpec {

  private def resolved(i: CompIndex): Map[Long, Long] =
    i.assignments().collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def want(pairs: DataFrame): Map[Long, Long] = ComponentsOracle.labels(pairs)

  test("updates == batch components over all pairs so far; append-only; compact folds remap") {
    import spark.implicits._
    // w1: components {1,2,3}, {10,11}, {20,21}
    val w1 = Seq((1L, 2L), (2L, 3L), (10L, 11L), (20L, 21L)).toDF("i", "j")
    // w2: new doc joins an existing comp (4 -> {1,2,3}); a bridge MERGES
    // two old comps (11-20); a fresh comp appears ({30,31})
    val w2 = Seq((3L, 4L), (11L, 20L), (30L, 31L)).toDF("i", "j")
    // w3: bridge through the PREVIOUS merge (21-4 collapses everything
    // but {30,31} into root 1) — exercises remap composition
    val w3 = Seq((21L, 4L)).toDF("i", "j")
    val base = Files.createTempDirectory("comp_idx").toString
    val idx = ComponentsIndex.build(w1, base, "cidx_a", buckets = 4)
    assert(resolved(idx) == want(w1))
    // storage geometry is in meta — open reads the stored bucket count
    // (the DedupIndex.open rule)
    assert(hasJsonMeta(s"$base/meta"))
    assert(ComponentsIndex.open(spark, "cidx_a", base).buckets == 4,
      "open must take the bucket count from meta")
    idx.update(w2)
    assert(resolved(idx) == want(w1.unionByName(w2)))
    val rowsAfterW2 = idx.assignedDocs()
    idx.update(w3)
    val all3 = w1.unionByName(w2).unionByName(w3)
    assert(resolved(idx) == want(all3))
    // w3's endpoints were already assigned: strictly no new rows
    assert(idx.assignedDocs() == rowsAfterW2,
      "assignments must be append-only - an update rewrote rows")
    // everything but {30,31} now shares root 1
    assert(resolved(idx).filterNot(kv => kv._1 == 30L || kv._1 == 31L)
      .values.toSet == Set(1L))
    // compact folds the remap into the baseline; labels identical
    val before = resolved(idx)
    val idx2 = idx.compact(s"$base/v2")
    assert(resolved(idx2) == before)
    assert(spark.read.parquet(
      CompIndex.currentRemapDir(spark, s"$base/v2").get).count() == 0)
    // and further updates work from the compacted baseline
    val w4 = Seq((31L, 40L)).toDF("i", "j")
    idx2.update(w4)
    assert(resolved(idx2) == want(all3.unionByName(w4)))
    // re-bucketing compaction: labels identical (captured BEFORE the
    // compact re-points the shared table), evolved count in meta
    val expected = resolved(idx2)
    val idx3 = idx2.compact(s"$base/v3", newBuckets = 16)
    assert(idx3.buckets == 16)
    assert(resolved(idx3) == expected,
      "re-bucketing must not change a single label")
    assert(ComponentsIndex.open(spark, "cidx_a", s"$base/v3").buckets == 16,
      "a later open must read the evolved count from meta")
  }

  test("rebuildFrom closes the retraction workflow: survivors' closure, same table") {
    import spark.implicits._
    // {1,2,3,4} chained through 2 and 3, plus {10,11}
    val all = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)).toDF("i", "j")
    val base = Files.createTempDirectory("comp_rebuild").toString
    val idx = ComponentsIndex.build(all, base, "cidx_r", buckets = 4)
    assert(resolved(idx) == want(all))
    // retract doc 2: its pairs go away, and the component SPLITS —
    // {1} drops out (no surviving pair), {3,4} survives on the 3-4 edge.
    // The incremental path cannot express this; one rebuildFrom call can.
    val survivors = all.filter(col("i") =!= 2L && col("j") =!= 2L)
    val rebuilt = idx.rebuildFrom(survivors, s"$base/v2")
    assert(resolved(rebuilt) == want(survivors),
      "rebuilt labels must equal the batch closure over surviving pairs")
    assert(resolved(rebuilt) == Map(3L -> 3L, 4L -> 3L, 10L -> 10L, 11L -> 10L))
    assert(spark.read.parquet(
      CompIndex.currentRemapDir(spark, s"$base/v2").get).count() == 0)
    // the handle keeps the SAME catalog table (re-pointed), and the
    // incremental path continues from the rebuilt baseline
    rebuilt.update(Seq((4L, 50L)).toDF("i", "j"))
    assert(resolved(rebuilt) ==
      want(survivors.unionByName(Seq((4L, 50L)).toDF("i", "j"))))
  }

  test("remap publication is crash-safe: a torn write never loses merge history") {
    import spark.implicits._
    import org.apache.hadoop.fs.Path
    val w1 = Seq((1L, 2L), (10L, 11L)).toDF("i", "j")
    val w2 = Seq((2L, 10L)).toDF("i", "j") // merges the two comps → remap non-empty
    val base = Files.createTempDirectory("comp_torn").toString
    val idx = ComponentsIndex.build(w1, base, "cidx_t", buckets = 4)
    idx.update(w2)
    val good = resolved(idx)
    assert(good.values.toSet == Set(1L), "w2 must merge everything into root 1")
    // simulate the crash the old in-place Overwrite could not survive: a
    // NEWER remap version's parquet files land — with WRONG content, an
    // empty remap, exactly the transient state Overwrite exposed after its
    // delete phase — but the job dies before the commit marker is written
    val fs = new Path(base)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val torn = s"$base/remap-v99"
    Seq.empty[(Long, Long)].toDF("comp0", "root").coalesce(1)
      .write.mode("overwrite").parquet(torn)
    assert(fs.delete(new Path(torn, "_SUCCESS"), false),
      "test setup: the torn dir must have had a marker to remove")
    // labels still resolve through the PREVIOUS committed version
    assert(resolved(idx) == good,
      "an uncommitted remap version must be invisible to readers")
    // and the index keeps working: the next update publishes a fresh
    // committed version and the closure stays exact
    val w3 = Seq((11L, 40L)).toDF("i", "j")
    idx.update(w3)
    assert(resolved(idx) == want(w1.unionByName(w2).unionByName(w3)))
  }

  test("end-to-end continuous dedup: doc stream → pair stream → component labels") {
    import org.apache.spark.sql.types.{DoubleType, LongType, StringType, StructField, StructType}
    val d2 = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val base = Files.createTempDirectory("comp_e2e").toString
    val n = d2.agg(max("doc_id")).head.getLong(0) + 1
    // stage 1: documents arrive in three waves; the minhash index streams
    // out the cumulative pair closure (DedupIndexSpec proves == batch)
    Seq((0L, n / 3), (n / 3, 2 * n / 3), (2 * n / 3, n + 1)).foreach {
      case (lo, hi) =>
        d2.filter(col("doc_id") >= lo && col("doc_id") < hi)
          .coalesce(1).write.mode("append").parquet(s"$base/docs")
    }
    val mhIdx = DedupIndex.build(d2.filter(lit(false)), "doc_id", "text",
      s"$base/mh", "mhidx_e2e", shingleN = 3, numHashes = 64, bands = 16,
      buckets = 8)
    mhIdx.probeStream(
      spark.readStream
        .schema(StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType))))
        .option("maxFilesPerTrigger", "1").parquet(s"$base/docs"),
      "doc_id", "text", s"$base/pairs", s"$base/ckpt1", threshold = 0.8)
    // stage 2: those pair files are themselves a stream feeding the
    // components index — labels must equal the batch closure over ALL
    // pairs, i.e. the full docs-in → survivor-labels-out pipeline is
    // arrival-form-invariant end to end
    val cIdx = ComponentsIndex.build(
      spark.range(0).selectExpr("id AS i", "id AS j"),
      s"$base/cidx", "cidx_e2e", buckets = 4)
    cIdx.updateStream(
      spark.readStream
        .schema(StructType(Seq(
          StructField("i", LongType), StructField("j", LongType),
          StructField("jac", DoubleType))))
        .option("maxFilesPerTrigger", "1").parquet(s"$base/pairs")
        .select("i", "j"),
      s"$base/ckpt2")
    val allPairs = Dedup.minHashPairs(d2, "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, threshold = 0.8)
      .select("i", "j")
    assert(resolved(cIdx) == want(allPairs))
    assert(resolved(cIdx).nonEmpty, "fixture must produce components")
    Dedup.releaseCaches()
  }

  test("randomized waves fuzz: dense random graph in shuffled quarters == batch closure") {
    import spark.implicits._
    // 120 nodes / ~300 random edges: many multi-way merges per wave, and
    // the shuffle makes wave composition arbitrary — the incremental
    // closure must not depend on arrival order (merges commute)
    val rnd = new scala.util.Random(7)
    val edges = Seq.fill(300)((rnd.nextInt(120).toLong, rnd.nextInt(120).toLong))
      .filter { case (a, b) => a != b }
      .map { case (a, b) => (math.min(a, b), math.max(a, b)) }
      .distinct
    val waves = rnd.shuffle(edges).grouped(edges.size / 4 + 1).toSeq
    val base = Files.createTempDirectory("comp_fuzz").toString
    val idx = ComponentsIndex.build(waves.head.toDF("i", "j"), base, "cidx_z",
      buckets = 4)
    waves.tail.foreach(w => idx.update(w.toDF("i", "j")))
    assert(resolved(idx) == want(edges.toDF("i", "j")))
    // re-delivering an arbitrary earlier wave must change nothing
    idx.update(waves.head.toDF("i", "j"))
    assert(resolved(idx) == want(edges.toDF("i", "j")))
  }

  test("fixture waves: incremental closure == batch components of all minhash pairs") {
    val docs = Tables.load(spark, sfDir, "documents").select("doc_id", "text")
    val pairs = Dedup.minHashPairs(docs, "doc_id", "text",
        shingleN = 3, numHashes = 64, bands = 16, threshold = 0.8)
      .select("i", "j")
      .localCheckpoint(true)
    val w1 = pairs.filter(col("j") < 250)
    val w2 = pairs.filter(col("j") >= 250)
    assert(w1.count() > 0 && w2.count() > 0,
      "fixture must populate both waves or the split proves nothing")
    val base = Files.createTempDirectory("comp_idx_fix").toString
    val idx = ComponentsIndex.build(w1, base, "cidx_f", buckets = 4)
    idx.update(w2)
    assert(resolved(idx) == want(pairs))
    Dedup.releaseCaches()
  }
}
