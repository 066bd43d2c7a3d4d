package graft.operators

import graft.functions.{TextFunctions => TF}
import graft.sources.Sinks
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persistent BM25 inverted index — the lexical-retrieval twin of the
  * ANN index family, with the same lifecycle contract
  * (build / search / append / delete / compact / appendStream).
  *
  * [[TextAnalysis.bm25]] re-tokenizes the whole corpus per query; the
  * serving shape pays tokenization once. [[Bm25Index.build]]
  * materializes a postings table `(term, doc_id, tf)` BUCKETED ON TERM
  * and a doc-length table `(doc_id, dl)` bucketed on id;
  * [[Bm25Index.search]] pushes the query terms as a literal `IN` into
  * the bucketed postings scan, so a query reads only its terms' buckets
  * (the [[Similarity.IvfIndex]] `SelectedBucketsCount` trick applied to
  * text) — per-query cost is proportional to the matched POSTINGS, and
  * the corpus otherwise contributes nothing.
  *
  * Scoring state is deliberately DERIVED, never stored: `df` comes from
  * the pruned postings themselves and `N`/`avgdl` from one 1-row agg
  * over the doc-length table per search, so there is no stats row to
  * tear on a crashed append and nothing for redelivery to double-count
  * — maintenance stays append-only + the usual guarded idempotence.
  * Scores are bit-compatible with [[TextAnalysis.bm25]] (same Lucene
  * idf, same k1/b normalization, same 6-decimal round).
  */
final class Bm25Index private[operators] (
    spark: SparkSession,
    val postingsTable: String,
    val doclensTable: String,
    val path: String,
    val buckets: Int) extends Serializable {

  /** BM25 top-k for one term query: (doc_id, score), best first, doc_id
    * tie-break. The postings scan prunes to the query terms' buckets;
    * the (query-bounded) postings then join the doc-length table —
    * shuffle ∝ matched postings, the corpus participates as a bucketed
    * scan plus a 1-row stats agg.
    *
    * `distinct()` on the pruned postings: a torn append redelivered
    * under at-least-once can leave byte-identical duplicate postings
    * rows (the doc-length guard table was written last), and unlike the
    * dedup indexes' candidate pipelines nothing downstream absorbs
    * duplicates here — they would double both df and the doc's term
    * contribution. The dedup is query-bounded; [[compact]] sheds the
    * rows for good.
    */
  def search(
      queryTerms: Seq[String], topK: Int = 10,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(queryTerms.nonEmpty, "empty term query")
    require(topK > 0, s"topK must be positive: $topK")
    val sess = spark
    sess.catalog.refreshTable(postingsTable)
    sess.catalog.refreshTable(doclensTable)
    // cache barrier (repo rule: every self-joined derived relation is
    // cached): the pruned postings feed BOTH the df agg and the scoring
    // join, and Spark has no cross-branch CSE — uncached, the bucket
    // scan + distinct would execute twice per search
    val post = Bm25Index.searchCache(sess.table(postingsTable)
      .filter(col("term").isin(queryTerms: _*))
      .distinct()
      .cache())
    val dl = sess.table(doclensTable)
    val stats = dl.agg(avg(col("dl")).as("avgdl"), count(lit(1)).as("n_docs"))
    val dfreq = post.groupBy("term").agg(count(lit(1)).as("df"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val norm = col("tf") * (lit(k1) + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl")))
    post.join(dfreq, Seq("term"))
      .join(dl, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .select(col("doc_id"), (idf * norm).as("w"))
      .groupBy("doc_id")
      .agg(round(sum(col("w")), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(topK)
  }

  /** One tokenize pass for a batch: `(doc_id, toks)` — the shared base
    * both table writes derive from.
    */
  private def keyed(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
      TF.tokens(col(textCol)).as("toks"))

  private def postingsOf(arr: DataFrame): DataFrame =
    arr.select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy("term", "doc_id").agg(count(lit(1)).as("tf"))

  private def doclensOf(arr: DataFrame): DataFrame =
    arr.select(col("doc_id"), size(col("toks")).as("dl"))

  /** Fold a batch of documents in: one tokenize pass, guarded append
    * ([[GuardedAppend]] — idempotent under at-least-once redelivery,
    * drops counted). Postings are written FIRST, doc lengths LAST: the
    * guard keys on the doc-length table, so a torn append (postings
    * landed, lengths did not) is re-appended whole on redelivery. The
    * torn window's visible effect: the orphan doc cannot score (no
    * length row), but its postings inflate df for exactly the terms it
    * contains, deflating those terms' idf — which can transiently
    * REORDER two fully-indexed docs on a multi-term query (one leaning
    * on the deflated term, one not) until the redelivery heals the
    * window. The duplicate postings rows redelivery leaves behind are
    * shed by [[search]]'s query-bounded `distinct()` and permanently by
    * [[compact]].
    *
    * @return documents actually appended; a full redelivery returns 0
    */
  def append(docs: DataFrame, idCol: String, textCol: String): Long = {
    spark.catalog.refreshTable(doclensTable)
    GuardedAppend(spark, keyed(docs, idCol, textCol),
      "doc_id", doclensTable, "document") { arr =>
      postingsOf(arr).write.mode(SaveMode.Append)
        .bucketBy(buckets, "term")
        .saveAsTable(postingsTable)
      doclensOf(arr).write.mode(SaveMode.Append)
        .bucketBy(buckets, "doc_id")
        .saveAsTable(doclensTable)
    }
  }

  /** Continuous document ingest: fold a STREAM of documents in, one
    * guarded append per micro-batch (the [[Similarity.IvfIndex.appendStream]]
    * shape through the shared [[IndexStream]] harness). Search between
    * batches sees every completed append — scoring state is derived, so
    * there is no staleness to manage.
    */
  def appendStream(
      docs: DataFrame, idCol: String, textCol: String,
      checkpointDir: String): Unit =
    IndexStream.run(docs, checkpointDir) { batch =>
      append(batch, idCol, textCol); ()
    }

  /** Indexed corpus size (bucketed scan + count, no token work). */
  def indexedDocs(): Long = {
    spark.catalog.refreshTable(doclensTable)
    spark.table(doclensTable).count()
  }

  /** Remove documents: anti-join both tables and rewrite into `toPath`
    * (bucketed parquet has no in-place delete — the rewrite doubles as
    * a [[compact]], the [[MinHashIndex.delete]] shape). Removal is
    * score-correct immediately: df, N and avgdl are all derived, so the
    * deleted docs stop influencing every statistic the moment the
    * tables point at `toPath`.
    */
  def delete(docIds: DataFrame, idCol: String, toPath: String): Bm25Index = {
    val ids = docIds.select(col(idCol).cast("long").as("doc_id"))
    rewrite(toPath, _.join(ids, Seq("doc_id"), "left_anti"))
  }

  /** Small-file maintenance; `newBuckets` > 0 re-buckets during the
    * rewrite (geometry evolution for a corpus grown past its build-time
    * bucket count — recorded in meta, so later `open`s see it).
    */
  def compact(toPath: String, newBuckets: Int = 0): Bm25Index =
    rewrite(toPath, identity, newBuckets)

  private def rewrite(
      toPath: String, f: DataFrame => DataFrame,
      newBuckets: Int = 0): Bm25Index = {
    require(toPath != path, s"rewrite target must differ from current path: $path")
    require(newBuckets >= 0,
      s"newBuckets must be positive, or 0 to keep the current count: $newBuckets")
    val b = if (newBuckets > 0) newBuckets else buckets
    // distinct() on postings: shed torn-append duplicates for good
    Sinks.bucketed(
      f(spark.read.parquet(s"$path/postings")).distinct()
        .repartition(b, col("term")),
      postingsTable, s"$toPath/postings", b, Seq("term"))
    Sinks.bucketed(
      f(spark.read.parquet(s"$path/doclens"))
        .repartition(b, col("doc_id")),
      doclensTable, s"$toPath/doclens", b, Seq("doc_id"))
    Bm25Index.writeMeta(spark, toPath, b)
    new Bm25Index(spark, postingsTable, doclensTable, toPath, b)
  }
}

object Bm25Index extends CacheLedger {

  /** [[CacheLedger.ledgered]] is protected; the index class lives
    * outside this object, so its per-search cache routes through here.
    */
  private[operators] def searchCache(df: DataFrame): DataFrame = ledgered(df)

  /** Build the index for `docs` at `path`, registering
    * `<name>_postings` / `<name>_doclens`. One tokenize pass over the
    * corpus — the last one it ever needs. `buckets` sizes the pre-paid
    * exchange: at 100 TB pick it like a shuffle partition count for the
    * postings volume (~|tokens| rows of (term, id, tf)).
    */
  def build(
      docs: DataFrame, idCol: String, textCol: String,
      path: String, name: String, buckets: Int = 32): Bm25Index = {
    val spark = docs.sparkSession
    val idx = new Bm25Index(spark, s"${name}_postings", s"${name}_doclens",
      path, buckets)
    // one tokenize pass consumed by both table writes
    val arr = idx.keyed(docs, idCol, textCol).localCheckpoint(true)
    try {
      Sinks.bucketed(idx.postingsOf(arr), s"${name}_postings",
        s"$path/postings", buckets, Seq("term"))
      Sinks.bucketed(idx.doclensOf(arr), s"${name}_doclens",
        s"$path/doclens", buckets, Seq("doc_id"))
    } finally arr.unpersist()
    writeMeta(spark, path, buckets)
    idx
  }

  /** Re-open an existing index — no data work. The bucket count loads
    * from the required `meta` record (the [[DedupIndex.open]] rule): a
    * guessed count would make `append` fail on the bucket spec and
    * `rewrite` silently re-bucket.
    */
  def open(spark: SparkSession, name: String, path: String): Bm25Index = {
    import org.json4s.DefaultFormats
    implicit val fmts: DefaultFormats.type = DefaultFormats
    new Bm25Index(spark, s"${name}_postings", s"${name}_doclens", path,
      (MetaIo.read(spark, s"$path/meta") \ "buckets").extract[Int])
  }

  private[operators] def writeMeta(
      spark: SparkSession, path: String, buckets: Int): Unit = {
    import org.json4s.JsonDSL._
    MetaIo.write(spark, s"$path/meta", "buckets" -> buckets)
  }
}
