package graft.operators

import graft.functions.{TextFunctions => TF}
import graft.sources.Sinks
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Positional inverted index — the phrase/proximity sibling of
  * [[Bm25Index]]. BM25's `(term, doc_id, tf)` postings can rank but
  * cannot distinguish "new york" from "york … new"; decontamination and
  * benchmark-leak auditing at corpus scale need EXACT phrase hits and
  * term-proximity screens, and grepping 100 TB of text per query is not
  * a plan. This index pays one tokenize pass to materialize
  * `(term, doc_id, positions)` postings BUCKETED ON TERM, after which:
  *
  *  - [[phrase]] reads only the query terms' buckets (bucket-pruned
  *    scan, the [[Bm25Index.search]] plan shape) and verifies adjacency
  *    with array arithmetic per candidate doc — shuffle ∝ postings of
  *    the query terms, never corpus-shaped;
  *  - [[near]] answers "x within w tokens of y" the same way.
  *
  * Position lists are per-(term, doc) and bounded by document length,
  * so a posting row stays KB-scale; the bucketed layout is the same
  * pre-paid exchange as BM25's, sized by `buckets` at build.
  *
  * Phrase semantics: 1-based token positions over the whitespace
  * tokenizer ([[TF.tokens]] — the family convention); a k-term phrase
  * match is a position chain p, p+1, …, p+k−1, and overlapping matches
  * each count ("x x" occurs twice in "x x x").
  */
class PhraseIndex private[operators] (
    spark: SparkSession,
    val postingsTable: String,
    val docsTable: String,
    val path: String,
    val buckets: Int) {

  private def emptyPos: Column = array().cast("array<int>")

  /** Position lists of the query terms, one map column per candidate
    * doc — the shared candidate fetch of [[phrase]] and [[near]]. The
    * (term, doc_id) fold sheds byte-identical duplicate postings a torn
    * [[append]] redelivery can leave (the [[Bm25Index.search]] rule),
    * and does it as an EXCHANGE-FREE aggregate: hash-partitioning on
    * term satisfies the (term, doc_id) clustering (subset rule), which
    * also keeps the planner from auto-disabling the bucketed scan — a
    * bare filter+distinct would lose both the bucket pruning and pay a
    * shuffle. Query-bounded either way, never corpus-sized.
    */
  private def termMaps(terms: Seq[String]): DataFrame = {
    spark.catalog.refreshTable(postingsTable)
    spark.table(postingsTable)
      .filter(col("term").isin(terms.distinct: _*))
      .groupBy("term", "doc_id").agg(first("positions").as("positions"))
      .groupBy("doc_id")
      .agg(map_from_entries(
        collect_list(struct(col("term"), col("positions")))).as("m"))
  }

  /** Matching docs with the chain's END positions — the shared core of
    * [[phrase]] and [[snippets]]. The chain fold — positions of term k
    * that extend a chain = `intersect(prev + 1, pos(term k))` — is pure
    * array arithmetic inside codegen; docs missing any term fall out
    * through the empty intersect.
    */
  private def chainEnds(terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "phrase needs at least one term")
    val m = termMaps(terms)
    val chain = terms.tail.foldLeft(
      coalesce(element_at(col("m"), lit(terms.head)), emptyPos)) { (s, t) =>
      array_intersect(transform(s, p => p + 1),
        coalesce(element_at(col("m"), lit(t)), emptyPos))
    }
    m.withColumn("ends", chain).filter(size(col("ends")) > 0)
  }

  /** Docs containing `terms` consecutively: `(doc_id, n_matches)`,
    * overlapping occurrences counted.
    */
  def phrase(terms: Seq[String]): DataFrame =
    chainEnds(terms).select(col("doc_id"), size(col("ends")).as("n_matches"))

  /** Keyword-in-context: the token window around each matching doc's
    * FIRST phrase occurrence, `width` tokens of context either side —
    * the human-review surface of a decontamination hit. Only matched
    * docs re-tokenize (a match-sized semi-join back to the corpus, not
    * a corpus scan); the index finds, the corpus renders.
    */
  def snippets(docs: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], width: Int = 5): DataFrame = {
    require(width >= 0, s"width must be non-negative: $width")
    val k = terms.size
    val toks = docs.select(col(idCol).cast("long").as("doc_id"),
      TF.tokens(col(textCol)).as("toks"))
    val start0 = array_min(col("ends")) - (k - 1)
    val start = greatest(start0 - width, lit(1))
    val end = least(start0 + lit(k - 1 + width), size(col("toks")))
    chainEnds(terms).join(toks, Seq("doc_id"))
      .select(col("doc_id"),
        concat_ws(" ", slice(col("toks"), start, end - start + 1)).as("snippet"))
  }

  /** Docs where `a` and `b` occur within `window` tokens:
    * `(doc_id, gap)` with the minimal |posₐ − pos_b|. The nested
    * transform is O(|posₐ|·|pos_b|) per doc — both bounded by document
    * length, evaluated only for docs carrying both terms.
    */
  def near(a: String, b: String, window: Int): DataFrame = {
    require(window >= 0, s"window must be non-negative: $window")
    val m = termMaps(Seq(a, b))
    val gaps = flatten(transform(element_at(col("m"), lit(a)), x =>
      transform(element_at(col("m"), lit(b)), y => abs(x - y))))
    m.filter(element_at(col("m"), lit(a)).isNotNull &&
        element_at(col("m"), lit(b)).isNotNull)
      .withColumn("gap", array_min(gaps))
      .filter(col("gap") <= window)
      .select("doc_id", "gap")
  }

  def indexedDocs(): Long = {
    spark.catalog.refreshTable(docsTable)
    spark.table(docsTable).count()
  }

  private def keyed(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
      TF.tokens(col(textCol)).as("toks"))

  private def postingsOf(arr: DataFrame): DataFrame =
    arr.select(col("doc_id"), posexplode(col("toks")).as(Seq("pos0", "term")))
      .groupBy("term", "doc_id")
      .agg(sort_array(collect_list(col("pos0") + 1)).as("positions"))

  private def docsOf(arr: DataFrame): DataFrame =
    arr.select(col("doc_id"), size(col("toks")).as("dl"))

  /** Fold a document batch in — [[GuardedAppend]] keyed on the docs
    * table, postings FIRST so the torn window is the Bm25 one: an
    * orphan doc's postings are visible (its phrase hits are real
    * content, so this is benign) until redelivery re-appends the whole
    * doc and [[phrase]]'s distinct sheds the byte-identical duplicates.
    *
    * @return documents actually appended; a full redelivery returns 0
    */
  def append(docs: DataFrame, idCol: String, textCol: String): Long = {
    spark.catalog.refreshTable(docsTable)
    GuardedAppend(spark, keyed(docs, idCol, textCol),
      "doc_id", docsTable, "document") { arr =>
      postingsOf(arr).write.mode(SaveMode.Append)
        .bucketBy(buckets, "term")
        .saveAsTable(postingsTable)
      docsOf(arr).write.mode(SaveMode.Append)
        .bucketBy(buckets, "doc_id")
        .saveAsTable(docsTable)
    }
  }

  /** Continuous document ingest — one guarded append per micro-batch
    * through the shared [[IndexStream]] harness (the [[Bm25Index.appendStream]]
    * shape); phrase queries between batches see every completed append.
    */
  def appendStream(
      docs: DataFrame, idCol: String, textCol: String,
      checkpointDir: String): Unit =
    IndexStream.run(docs, checkpointDir) { batch =>
      append(batch, idCol, textCol); ()
    }

  /** Remove documents: anti-join both tables and rewrite into `toPath`
    * (bucketed parquet has no in-place delete — the rewrite doubles as
    * a [[compact]]). Removal is immediately complete: phrase/near
    * results derive only from the tables, so the deleted docs stop
    * matching the moment the tables point at `toPath`.
    */
  def delete(docIds: DataFrame, idCol: String, toPath: String): PhraseIndex = {
    val ids = docIds.select(col(idCol).cast("long").as("doc_id"))
    rewrite(toPath, _.join(ids, Seq("doc_id"), "left_anti"))
  }

  /** Small-file maintenance; `newBuckets` > 0 re-buckets during the
    * rewrite (recorded in meta, so later `open`s see it).
    */
  def compact(toPath: String, newBuckets: Int = 0): PhraseIndex =
    rewrite(toPath, identity, newBuckets)

  private def rewrite(
      toPath: String, f: DataFrame => DataFrame,
      newBuckets: Int = 0): PhraseIndex = {
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
      f(spark.read.parquet(s"$path/docs")).distinct()
        .repartition(b, col("doc_id")),
      docsTable, s"$toPath/docs", b, Seq("doc_id"))
    Bm25Index.writeMeta(spark, toPath, b)
    new PhraseIndex(spark, postingsTable, docsTable, toPath, b)
  }
}

object PhraseIndex {

  /** Build at `path`, registering `<name>_postings` / `<name>_docs`.
    * One tokenize pass — the last the corpus ever needs for phrase
    * queries. Size `buckets` like a shuffle partition count for the
    * postings volume.
    */
  def build(
      docs: DataFrame, idCol: String, textCol: String,
      path: String, name: String, buckets: Int = 32): PhraseIndex = {
    val spark = docs.sparkSession
    val idx = new PhraseIndex(spark, s"${name}_postings", s"${name}_docs",
      path, buckets)
    val arr = idx.keyed(docs, idCol, textCol).localCheckpoint(true)
    try {
      Sinks.bucketed(idx.postingsOf(arr), s"${name}_postings",
        s"$path/postings", buckets, Seq("term"))
      Sinks.bucketed(idx.docsOf(arr), s"${name}_docs",
        s"$path/docs", buckets, Seq("doc_id"))
    } finally arr.unpersist()
    Bm25Index.writeMeta(spark, path, buckets)
    idx
  }

  /** Re-open — no data work; the bucket count loads from the required
    * `meta` record (the [[DedupIndex.open]] rule).
    */
  def open(spark: SparkSession, name: String, path: String): PhraseIndex = {
    import org.json4s.DefaultFormats
    implicit val fmts: DefaultFormats.type = DefaultFormats
    new PhraseIndex(spark, s"${name}_postings", s"${name}_docs", path,
      (MetaIo.read(spark, s"$path/meta") \ "buckets").extract[Int])
  }
}
