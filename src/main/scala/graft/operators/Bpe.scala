package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding merge training over a corpus — the "train the
  * tokenizer" step of a data pipeline, distributed the way Sennrich et
  * al.'s algorithm wants to be at scale: the corpus collapses ONCE into a
  * (word, count) table (vocabulary-sized, orders of magnitude smaller
  * than the text), and every merge round runs on that table — one
  * pair-count aggregate weighted by word frequency plus one NARROW merge
  * application. Nothing data-sized ever reaches the driver; each round
  * collects exactly one row (the argmax pair).
  *
  * Merge application is greedy leftmost-first (the standard semantics): a
  * fold over the symbol array that joins the last emitted symbol with the
  * current one when they match the pair. A token produced by the merge
  * can never itself be the pair's left side in the same pass (that would
  * need `a+b == a`), so the fold needs no lookbehind flag.
  *
  * Determinism: the argmax pair breaks count ties by (left, right)
  * lexicographic order, so the learned merge table is a pure function of
  * the corpus.
  */
object Bpe {

  /** (word, count) table: whitespace tokens, exact corpus frequencies. */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(graft.functions.TextFunctions.tokens(col(textCol)))
        .as("word"))
      .groupBy("word").agg(count(lit(1)).as("count"))

  /** Greedy leftmost application of one merge (a, b) → a+b over a symbol
    * array column.
    */
  def applyMerge(syms: Column, a: String, b: String): Column =
    aggregate(syms, typedLit(Seq.empty[String]),
      (acc, x) =>
        when(size(acc) > 0 &&
            element_at(acc, -1) === lit(a) && x === lit(b),
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(a + b))))
        .otherwise(concat(acc, array(x))))

  /** Adjacent symbol pairs of each word, weighted by word count, summed
    * corpus-wide: (l, r, c).
    */
  private def pairCounts(words: DataFrame): DataFrame =
    words.select(col("count"), explode(
        zip_with(slice(col("syms"), lit(1), size(col("syms")) - 1),
          slice(col("syms"), lit(2), size(col("syms")) - 1),
          (x, y) => struct(x.as("l"), y.as("r")))).as("p"))
      .groupBy(col("p.l").as("l"), col("p.r").as("r"))
      .agg(sum("count").as("c"))

  /** Character symbols of a word (split keeps no empty strings). */
  def charSyms(w: Column): Column =
    filter(split(w, ""), s => s =!= lit(""))

  /** Word tables at or under this many distinct words train on the
    * DRIVER (see [[trainMerges]]): each distributed round costs fixed
    * Spark jobs that a bounded table does not repay. ~10 MB of driver
    * strings at the cap; the bound is on the VOCABULARY, never on
    * corpus-sized data.
    */
  val DriverWords = 500000

  /** Train `k` merges. Returns (merges in rank order, the final
    * word→symbols table). Stops early when no adjacent pair remains.
    *
    * Small-vocabulary fast path: the (word, count) table is
    * vocabulary-sized by construction, and the distributed loop's cost
    * is k rounds × (one pair-count aggregate + a 1-row argmax collect) —
    * per-round FIXED Spark-job cost that dwarfs the actual work on any
    * but enormous vocabularies. When one bounded probe shows the table
    * has ≤ [[DriverWords]] rows, the whole loop runs on the driver
    * (identical argmax tie-break, identical greedy-leftmost merge — the
    * BpeSpec reference semantics), zero jobs per round. Above the bound
    * the distributed loop runs unchanged: one pair-count aggregate
    * (shuffle ∝ distinct pairs) + a 1-row argmax collect + a narrow
    * merge application per round, lineage cut with a lazy
    * localCheckpoint every 4 rounds, so the plan stays bounded however
    * many merges are trained.
    */
  def trainMerges(
      wordCounts: DataFrame, k: Int): (Seq[(String, String, Long)], DataFrame) = {
    require(k > 0, s"k must be positive: $k")
    // bounded probe: ≤ DriverWords rows back means we hold the WHOLE
    // table (a LIMIT one past the cap can only be short when the input
    // is), and the collected rows ARE the driver path's input
    val probe = wordCounts.limit(DriverWords + 1).collect()
    if (probe.length <= DriverWords) {
      val spark = wordCounts.sparkSession
      import spark.implicits._
      val (merges, words) = trainMergesLocal(
        probe.map(r => (r.getString(0), r.getLong(1))).toSeq, k)
      return (merges, words.toDF("syms", "count"))
    }
    var words = wordCounts.select(charSyms(col("word")).as("syms"), col("count"))
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var round = 0
    var done = false
    while (round < k && !done) {
      val top = pairCounts(words)
        .orderBy(col("c").desc, col("l"), col("r"))
        .limit(1).collect()
      if (top.isEmpty) done = true
      else {
        val (a, b, c) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        merges += ((a, b, c))
        words = words.select(applyMerge(col("syms"), a, b).as("syms"), col("count"))
        round += 1
        if (round % 4 == 0) words = words.localCheckpoint(false)
      }
    }
    (merges.toSeq, words)
  }

  /** The driver-side loop — same algebra as the distributed one: exact
    * Long pair counts, argmax by (count desc, left, right), greedy
    * leftmost merge per word. One row per input word throughout, exactly
    * like the distributed `words` frame (identical sym-lists are NOT
    * grouped; pair counts are sums either way).
    */
  private def trainMergesLocal(wordCounts: Seq[(String, Long)], k: Int)
      : (Seq[(String, String, Long)], Seq[(Seq[String], Long)]) = {
    var words: Array[(Array[String], Long)] = wordCounts.iterator
      .map { case (w, c) => (w.split("").filter(_.nonEmpty), c) }.toArray
    val merges = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    var round = 0
    var done = false
    while (round < k && !done) {
      val pairs = scala.collection.mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, c) =>
        var i = 0
        while (i + 1 < syms.length) {
          val p = (syms(i), syms(i + 1))
          pairs.update(p, pairs.getOrElse(p, 0L) + c)
          i += 1
        }
      }
      if (pairs.isEmpty) done = true
      else {
        val ((a, b), c) = pairs.minBy { case ((l, r), n) => (-n, l, r) }
        merges += ((a, b, c))
        words = words.map { case (syms, n) => (mergeWord(syms, a, b), n) }
        round += 1
      }
    }
    (merges.toSeq, words.iterator.map { case (s, c) => (s.toSeq, c) }.toSeq)
  }

  /** Greedy leftmost merge of one word's symbols — the driver twin of
    * [[applyMerge]]'s fold (a merged token never re-matches as the left
    * side in the same pass).
    */
  private def mergeWord(syms: Array[String], a: String, b: String): Array[String] = {
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        out += (a + b); i += 2
      } else { out += syms(i); i += 1 }
    }
    out.toArray
  }

  /** Tokenize a corpus with a learned merge table: per-word symbol arrays
    * with every merge applied in rank order, flattened back to one token
    * array per document — fully NARROW (the merge chain is a fixed
    * expression tree inside a `transform` lambda; no explode, no shuffle,
    * document order preserved by construction). The expression tree grows
    * with the merge count — suited to test/eval-sized merge tables; a
    * production encoder would compile the full table into a custom
    * Expression, same shape as [[graft.plans.Winnow]].
    */
  def encode(
      docs: DataFrame, idCol: String, textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    docs.select(col(idCol),
      flatten(transform(graft.functions.TextFunctions.tokens(col(textCol)),
        w => merges.foldLeft(charSyms(w)) {
          case (acc, (a, b)) => applyMerge(acc, a, b)
        })).as("tokens"))
}
