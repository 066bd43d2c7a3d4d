package graft.operators

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Positional-index contract: phrase matches are exact position chains
  * (overlapping occurrences counted, repeated terms handled), proximity
  * is the true minimal gap, the candidate fetch is a bucket-pruned scan
  * of only the query terms' postings, and append is guarded/idempotent.
  */
class PhraseIndexSpec extends SparkSpec {
  import spark.implicits._

  private def mkIndex(name: String, docs: Seq[(Long, String)]): PhraseIndex = {
    val path = Files.createTempDirectory("phrase_idx").toString
    PhraseIndex.build(docs.toDF("doc_id", "text"), "doc_id", "text",
      path, name, buckets = 4)
  }

  test("phrase semantics: chains, overlaps, repeated terms, missing terms") {
    val idx = mkIndex("pidx_a", Seq(
      (1L, "a b a b a"),       // "a b" at 1,3; "b a" at 2,4; "a b a" at 1,3
      (2L, "x x x"),           // "x x" overlapping at 1,2
      (3L, "a c b"),           // no "a b"
      (4L, "b a b")))          // "a b" at 2
    def hits(terms: String*) =
      idx.phrase(terms).orderBy("doc_id").as[(Long, Int)].collect().toSeq

    assert(hits("a", "b") == Seq((1L, 2), (4L, 1)))
    assert(hits("b", "a") == Seq((1L, 2), (4L, 1)))
    assert(hits("a", "b", "a") == Seq((1L, 2)))
    assert(hits("x", "x") == Seq((2L, 2)), "overlapping matches each count")
    assert(hits("a", "a").isEmpty, "no adjacent repeat of a")
    assert(hits("zz").isEmpty, "unknown term matches nothing")
    assert(hits("a") == Seq((1L, 3), (3L, 1), (4L, 1)),
      "single-term phrase = term frequency by position count")
  }

  test("near: true minimal gap within the window, both terms required") {
    val idx = mkIndex("pidx_b", Seq(
      (1L, "p q"),             // gap 1
      (2L, "p z z z q p"),     // min gap: q(5) to p(6) = 1
      (3L, "p z z z z q"),     // gap 5
      (4L, "p only here")))
    val got = idx.near("p", "q", window = 3)
      .orderBy("doc_id").as[(Long, Int)].collect().toSeq
    assert(got == Seq((1L, 1), (2L, 1)))
    val wide = idx.near("p", "q", window = 5)
      .orderBy("doc_id").as[(Long, Int)].collect().toSeq
    assert(wide == Seq((1L, 1), (2L, 1), (3L, 5)))
  }

  test("append is guarded and idempotent; new docs match immediately") {
    val idx = mkIndex("pidx_c", Seq((1L, "m n")))
    val batch = Seq((2L, "m n m n"), (1L, "m n CHANGED")).toDF("doc_id", "text")
    assert(idx.append(batch, "doc_id", "text") == 1,
      "existing doc 1 must be guard-dropped")
    assert(idx.append(batch, "doc_id", "text") == 0, "full redelivery is a no-op")
    assert(idx.indexedDocs() == 2)
    assert(idx.phrase(Seq("m", "n")).orderBy("doc_id")
      .as[(Long, Int)].collect().toSeq == Seq((1L, 1), (2L, 2)))
  }

  test("snippets: first-match window, clamped at both document edges") {
    val docsSeq = Seq(
      (1L, "c1 c2 a b c3 c4 c5"),
      (2L, "a b x y z"),
      (3L, "x y z a b"))
    val idx = mkIndex("pidx_e", docsSeq)
    val got = idx.snippets(docsSeq.toDF("doc_id", "text"), "doc_id", "text",
        Seq("a", "b"), width = 2)
      .orderBy("doc_id").as[(Long, String)].collect().toSeq
    assert(got == Seq(
      (1L, "c1 c2 a b c3 c4"), // interior window
      (2L, "a b x y"),         // clamped at the left edge
      (3L, "y z a b")))        // clamped at the right edge
  }

  test("delete and compact rewrite the lifecycle; stream ingest == batch") {
    val path = Files.createTempDirectory("phrase_cycle").toString
    val corpus = (0L until 40L).map(i =>
      (i, if (i % 4 == 0) "hit me now" else s"w$i filler row"))
    val idx = PhraseIndex.build(corpus.take(20).toDF("doc_id", "text"),
      "doc_id", "text", s"$path/v1", "pidx_f", buckets = 4)

    // three-wave stream ingest of the second half == batch append
    val waves = s"$path/waves"
    Seq(corpus.slice(20, 27), corpus.slice(27, 34), corpus.slice(34, 40))
      .foreach(w => w.toDF("doc_id", "text").coalesce(1)
        .write.mode("append").parquet(waves))
    idx.appendStream(
      spark.readStream.schema("doc_id LONG, text STRING")
        .option("maxFilesPerTrigger", "1").parquet(waves),
      "doc_id", "text", s"$path/ckpt")
    assert(idx.indexedDocs() == 40)
    val full = idx.phrase(Seq("hit", "me", "now"))
      .orderBy("doc_id").as[(Long, Int)].collect().toSeq
    assert(full == (0L until 40L by 4).map((_, 1)).toSeq)

    // delete the first half's hits; results immediately reflect it
    val afterDel = idx.delete(
      (0L until 20L).toDF("doc_id"), "doc_id", s"$path/v2")
    assert(afterDel.indexedDocs() == 20)
    assert(afterDel.phrase(Seq("hit", "me", "now"))
      .orderBy("doc_id").as[(Long, Int)].collect().toSeq ==
      (20L until 40L).filter(_ % 4 == 0).map((_, 1)).toSeq)

    // compact with re-bucketing preserves every result; open reads meta
    val compacted = afterDel.compact(s"$path/v3", newBuckets = 2)
    assert(compacted.phrase(Seq("hit", "me", "now")).count() ==
      afterDel.phrase(Seq("hit", "me", "now")).count())
    assert(hasJsonMeta(s"$path/v3/meta"))
    val reopened = PhraseIndex.open(spark, "pidx_f", s"$path/v3")
    assert(reopened.buckets == 2, "open must read the count from meta")
    assert(reopened.near("hit", "now", 2).count() == 5)
  }

  test("phrase plan: bucket-pruned postings scan, one exchange total") {
    val docs = (0L until 200L).map(i => (i, s"w$i common w${i % 7}"))
    val idx = mkIndex("pidx_d", docs)
    val res = idx.phrase(Seq("common", "w3"))
    assert(res.count() == 200 / 7 + 1) // "common w3" adjacent iff i % 7 == 3
    val plan = res.queryExecution.executedPlan.toString
    val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined, s"no bucket pruning in the postings scan:\n$plan")
    assert(m.get.group(1).toInt <= 2 && m.get.group(2).toInt == 4,
      s"two terms must read at most their two buckets: ${m.get}")
    // exactly one exchange — the doc_id map-build; the (term, doc_id)
    // dedupe fold rides the bucket layout shuffle-free
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1, s"expected 1 exchange, saw $exchanges:\n$plan")
  }
}
