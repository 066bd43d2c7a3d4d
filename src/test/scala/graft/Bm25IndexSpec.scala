package graft

import graft.operators.{Bm25Index, TextAnalysis}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Persistent BM25 index: searches must equal the batch scorer exactly,
  * the maintenance cycle (append / delete / compact / stream) must
  * preserve that equality, and a search must read only the query terms'
  * buckets.
  */
class Bm25IndexSpec extends SparkSpec {

  /** 60 docs over a small vocabulary with planted term mixes; every doc
    * has a distinct length, so k1/b normalization discriminates.
    */
  private lazy val docs: DataFrame = {
    import spark.implicits._
    (0L until 60L).map { i =>
      val body = Seq.fill((i % 7).toInt + 1)(s"filler${i % 5}").mkString(" ")
      val hits = Seq.fill((i % 3).toInt)("table") ++
        Seq.fill((i % 4).toInt / 2)("scan") ++
        (if (i % 5 == 0) Seq("join") else Nil)
      (i, (hits ++ Seq(body)).mkString(" "))
    }.toDF("doc_id", "text")
  }

  private val terms = Seq("table", "scan", "join")

  private def rows(df: DataFrame): Seq[(Long, Double)] =
    df.select("doc_id", "score").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq

  private def batchTopK(corpus: DataFrame, k: Int): Seq[(Long, Double)] =
    rows(TextAnalysis.bm25(corpus, "doc_id", "text", terms)
      .orderBy(col("score").desc, col("doc_id")).limit(k))

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  test("search == batch bm25 on the same corpus") {
    val idx = Bm25Index.build(docs, "doc_id", "text", tmp("bm25a"),
      "bm25_t1", buckets = 4)
    assert(rows(idx.search(terms, 15)) == batchTopK(docs, 15))
    // different k and different query
    assert(rows(idx.search(Seq("join"), 5)) ==
      rows(TextAnalysis.bm25(docs, "doc_id", "text", Seq("join"))
        .orderBy(col("score").desc, col("doc_id")).limit(5)))
  }

  test("append folds new docs into every statistic: build-half + append == build-whole") {
    val idx = Bm25Index.build(docs.filter(col("doc_id") < 30), "doc_id",
      "text", tmp("bm25b"), "bm25_t2", buckets = 4)
    val n = idx.append(docs.filter(col("doc_id") >= 30), "doc_id", "text")
    assert(n == 30)
    assert(rows(idx.search(terms, 15)) == batchTopK(docs, 15),
      "df, N and avgdl must all reflect the appended half")
  }

  test("within-batch duplicate keys collapse to one copy: stats uncorrupted") {
    // the GuardedAppend anti-join only sees the LIVE table, so before the
    // within-batch guard a doc_id repeated in ONE batch wrote doubled tf
    // and two doclens rows — inflating N/avgdl and double-counting the
    // doc's score via the length join. Appending the back half with every
    // row sent twice must equal appending it once.
    val idx = Bm25Index.build(docs.filter(col("doc_id") < 30), "doc_id",
      "text", tmp("bm25w"), "bm25_tw", buckets = 4)
    val back = docs.filter(col("doc_id") >= 30)
    assert(idx.append(back.unionAll(back), "doc_id", "text") == 30,
      "30 unique docs appended, the 30 within-batch repeats collapsed")
    assert(rows(idx.search(terms, 15)) == batchTopK(docs, 15),
      "df, N and avgdl must reflect each appended doc exactly once")
    assert(idx.indexedDocs() == 60)
  }

  test("redelivered append is a no-op: 0 rows, searches unchanged") {
    val idx = Bm25Index.build(docs, "doc_id", "text", tmp("bm25c"),
      "bm25_t3", buckets = 4)
    val before = rows(idx.search(terms, 15))
    assert(idx.append(docs.filter(col("doc_id") < 10), "doc_id", "text") == 0L)
    assert(rows(idx.search(terms, 15)) == before)
    assert(idx.indexedDocs() == 60)
  }

  test("delete removes docs from results AND from the derived stats") {
    import spark.implicits._
    val idx = Bm25Index.build(docs, "doc_id", "text", tmp("bm25d"),
      "bm25_t4", buckets = 4)
    val gone = (0L until 20L).toDF("doc_id")
    val after = idx.delete(gone, "doc_id", tmp("bm25d2"))
    val survivors = docs.filter(col("doc_id") >= 20)
    assert(rows(after.search(terms, 15)) == batchTopK(survivors, 15),
      "post-delete scores must equal a fresh index over the survivors " +
        "(df/N/avgdl all shrink)")
    assert(after.indexedDocs() == 40)
  }

  test("compact and re-bucket preserve searches; meta wins over open args") {
    val p1 = tmp("bm25e")
    val idx = Bm25Index.build(docs, "doc_id", "text", p1, "bm25_t5",
      buckets = 4)
    val before = rows(idx.search(terms, 15))
    val c = idx.compact(tmp("bm25e2"), newBuckets = 8)
    assert(c.buckets == 8)
    assert(rows(c.search(terms, 15)) == before)
    // meta carries the evolved count: a reopen reads 8
    assert(hasJsonMeta(s"${c.path}/meta"))
    val reopened = Bm25Index.open(spark, "bm25_t5", c.path)
    assert(reopened.buckets == 8, "open must read the count from meta")
    assert(rows(reopened.search(terms, 15)) == before)
  }

  test("appendStream: a two-wave doc stream == the batch build") {
    import spark.implicits._
    val src = tmp("bm25f_src")
    val idx = Bm25Index.build(docs.filter(col("doc_id") < 20), "doc_id",
      "text", tmp("bm25f"), "bm25_t6", buckets = 4)
    docs.filter(col("doc_id") >= 20 && col("doc_id") < 40)
      .write.parquet(s"$src/w1")
    docs.filter(col("doc_id") >= 40).write.parquet(s"$src/w2")
    val stream = spark.readStream
      .schema("doc_id LONG, text STRING")
      .option("maxFilesPerTrigger", 1)
      .parquet(s"$src/w*")
    idx.appendStream(stream, "doc_id", "text", tmp("bm25f_ck"))
    assert(idx.indexedDocs() == 60)
    assert(rows(idx.search(terms, 15)) == batchTopK(docs, 15))
  }

  test("a search reads only the query terms' buckets") {
    val idx = Bm25Index.build(docs, "doc_id", "text", tmp("bm25g"),
      "bm25_t7", buckets = 8)
    val res = idx.search(Seq("join"), 5)
    res.count() // settle AQE before reading the final plan
    val plan = res.queryExecution.executedPlan.toString
    val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined, s"no bucket pruning in the postings scan:\n$plan")
    assert(m.get.group(1).toInt == 1 && m.get.group(2).toInt == 8,
      s"a 1-term query must read exactly its term's bucket: ${m.get}")
  }
}
