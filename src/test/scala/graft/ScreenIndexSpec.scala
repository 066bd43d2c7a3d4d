package graft.operators

import java.nio.file.Files

import graft.{SparkSpec, Tables}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The persistent contamination screen must return exactly what the
  * recompute-everything [[Dedup.crossJaccardPairs]] returns — on the
  * fixture corpus AND after every maintenance operation (append under
  * the frozen order, rebuild, delete, compact) — because correctness of
  * the PPJoin never depends on WHICH shared total order is in force,
  * only that both sides use one. The frozen-order drift trip and the
  * meta-wins open are the same contracts the other five persistent
  * indexes carry.
  */
class ScreenIndexSpec extends SparkSpec {

  private def docs = Tables.load(spark, sfDir, "documents")

  private def pairs(df: DataFrame): Seq[(Long, Long, Double)] =
    df.select("i", "j", "jac").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(p => (p._1, p._2)).toSeq

  test("probe == crossJaccardPairs on the fixture split; benchmark never re-derived") {
    val corpus = docs.filter(col("doc_id") < 400)
    val bench = docs.filter(col("doc_id") >= 400)
    val base = Files.createTempDirectory("screen_a").toString
    val idx = ScreenIndex.build(bench, "doc_id", "text", s"$base/v1",
      "scr_a", shingleN = 3, threshold = 0.8, buckets = 4)
    val got = pairs(idx.probe(corpus, "doc_id", "text"))
    val want = pairs(Dedup.crossJaccardPairs(corpus, bench, "doc_id", "text",
      shingleN = 3, threshold = 0.8))
    assert(want.nonEmpty, "fixture must contain cross pairs")
    assert(got == want)
    Dedup.releaseCaches()
  }

  test("J = 0.8 boundary pair survives the stored-prefix path; unseen vocab is safe") {
    import spark.implicits._
    val a = "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"
    val base = Files.createTempDirectory("screen_b").toString
    val idx = ScreenIndex.build(Seq((2L, a + " x0 x1")).toDF("doc_id", "text"),
      "doc_id", "text", s"$base/v1", "scr_b", buckets = 2)
    val got = pairs(idx.probe(Seq((1L, a)).toDF("doc_id", "text"),
      "doc_id", "text"))
    assert(got == Seq((1L, 2L, 0.8)))
    // a probe whose vocabulary the benchmark has never seen: every
    // shingle ranks df = 0 under the frozen order — no candidates, no
    // crash, no pairs
    assert(idx.probe(Seq((9L, "zz yy xx ww vv uu tt ss")).toDF("doc_id", "text"),
      "doc_id", "text").count() == 0)
  }

  test("append under the frozen order: guarded, idempotent, pairs complete") {
    val corpus = docs.filter(col("doc_id") < 400)
    val bench = docs.filter(col("doc_id") >= 400)
    val half = bench.filter(col("doc_id") % 2 === 0)
    val rest = bench.filter(col("doc_id") % 2 === 1)
    val base = Files.createTempDirectory("screen_c").toString
    val idx = ScreenIndex.build(half, "doc_id", "text", s"$base/v1",
      "scr_c", buckets = 4)
    val n1 = idx.append(rest, "doc_id", "text")
    assert(n1 == rest.count(), "first append folds every new doc")
    assert(idx.append(rest, "doc_id", "text") == 0,
      "redelivered batch must be guard-dropped whole")
    // appended docs screen under the order frozen at build — pairs
    // still equal the from-scratch cross join over the full benchmark
    val got = pairs(idx.probe(corpus, "doc_id", "text"))
    val want = pairs(Dedup.crossJaccardPairs(corpus, bench, "doc_id", "text"))
    assert(got == want)
    Dedup.releaseCaches()
  }

  test("needsRebuild trips on growth; rebuild re-derives the order from stored sets") {
    import spark.implicits._
    def mk(lo: Int, hi: Int) = (lo until hi)
      .map(i => (i.toLong, s"w$i a$i b$i c$i d$i e$i")).toDF("doc_id", "text")
    val base = Files.createTempDirectory("screen_d").toString
    val idx = ScreenIndex.build(mk(0, 50), "doc_id", "text", s"$base/v1",
      "scr_d", buckets = 2)
    assert(!idx.needsRebuild(), "fresh build must not need a rebuild")
    idx.append(mk(50, 200), "doc_id", "text")
    assert(idx.needsRebuild(), "4x growth must trip the default tolerance")
    val rebuilt = idx.rebuild(s"$base/v2")
    assert(!rebuilt.needsRebuild(), "rebuild re-arms the trip")
    // rebuilt index answers identically to a fresh build on the union
    val probe = mk(0, 200).select(col("doc_id") + 10000, col("text"))
      .toDF("doc_id", "text")
    val fresh = ScreenIndex.build(mk(0, 200), "doc_id", "text",
      s"$base/fresh", "scr_d2", buckets = 2)
    assert(pairs(rebuilt.probe(probe, "doc_id", "text")) ==
      pairs(fresh.probe(probe, "doc_id", "text")))
  }

  test("delete retires benchmark docs; compact re-buckets; meta wins on open") {
    val corpus = docs.filter(col("doc_id") < 400)
    val bench = docs.filter(col("doc_id") >= 400)
    val base = Files.createTempDirectory("screen_e").toString
    val idx = ScreenIndex.build(bench, "doc_id", "text", s"$base/v1",
      "scr_e", shingleN = 3, threshold = 0.8, buckets = 4)
    val before = pairs(idx.probe(corpus, "doc_id", "text"))
    assert(before.nonEmpty)
    val victim = before.head._2
    val after = idx.delete(
      spark.range(victim, victim + 1).toDF("doc_id"), "doc_id", s"$base/v2")
    assert(pairs(after.probe(corpus, "doc_id", "text")) ==
      before.filterNot(_._2 == victim),
      "exactly the retired doc's pairs disappear")
    val compacted = after.compact(s"$base/v3", newBuckets = 2)
    assert(pairs(compacted.probe(corpus, "doc_id", "text")) ==
      before.filterNot(_._2 == victim))
    // open reads the stored geometry and probes correctly
    assert(hasJsonMeta(s"$base/v3/meta"))
    val reopened = ScreenIndex.open(spark, "scr_e", s"$base/v3")
    assert(reopened.buckets == 2 && reopened.shingleN == 3 &&
      reopened.threshold == 0.8, "open must read the stored geometry")
    Dedup.releaseCaches()
  }

  test("probeStream: cumulative streamed pairs == one-shot batch screen") {
    val corpus = docs.filter(col("doc_id") < 400)
      .select(col("doc_id"), col("text"))
    val bench = docs.filter(col("doc_id") >= 400)
    val base = Files.createTempDirectory("screen_f").toString
    val idx = ScreenIndex.build(bench, "doc_id", "text", s"$base/v1",
      "scr_f", buckets = 4)
    Seq(col("doc_id") < 150, col("doc_id") >= 150 && col("doc_id") < 300,
        col("doc_id") >= 300)
      .foreach(p => corpus.filter(p).coalesce(1)
        .write.mode("append").parquet(s"$base/in"))
    idx.probeStream(
      spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1").parquet(s"$base/in"),
      "doc_id", "text", s"$base/pairs", s"$base/ckpt")
    val got = pairs(spark.read.parquet(s"$base/pairs").distinct())
    val want = pairs(Dedup.crossJaccardPairs(corpus, bench, "doc_id", "text"))
    assert(got == want)
    Dedup.releaseCaches()
  }
}
