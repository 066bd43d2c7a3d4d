package graft

import graft.functions.MonoidAggregator
import graft.operators.{AsOfJoin, Dedup, DedupIndex, Graph, Indexing, Ingest, Multimodal, Packing, Pq, RangeJoin, Resample, Sampling, Similarity, TextAnalysis}
import graft.sources.Crawl
import graft.streaming.EventStreams
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Sketch / layout-maintenance / ML-prep query bodies of the
  * [[SparkEntry]] registry (HLL and moments at rest, zone-map and
  * compaction cycles, z-order, pipeline composition, SQL-frontier
  * queries) — split from SparkEntry.scala so the registry file stays
  * reviewable. Bodies byte-identical to their pre-split form.
  */
private[graft] object EntryExt {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)
  // ------------------------------------------------------------ streaming --








  /** HLL sketch cardinality — implementation-specific, rows-only check in
    * the driver gate; SketchSpec bounds it within ±2% of exact. rsd=0.01
    * (vs the 0.05 default) — a few KB more sketch for percent-level error,
    * the right trade anywhere near 100 TB cardinalities.
    */
  private[graft] def qHll(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .agg(approx_count_distinct(col("l_partkey"), 0.01).as("approx_parts"),
        approx_count_distinct(col("l_orderkey"), 0.01).as("approx_orders"))

  /** Time-series subsequence search: the query pattern is user 0's
    * first 8 values; the 15 nearest z-normalized windows across every
    * user's value series. Both engines assemble the series in the same
    * deterministic (ts, event_id) order and compute the same
    * population-std z-norm, distances rounded to 6 decimals with a
    * (user, off) tie-break.
    */
  private[graft] def qSeriesTopk(s: SparkSession, d: String): DataFrame = {
    val series = operators.SeriesSearch.seriesOf(
      t(s, d, "events"), "user_id", Seq("ts", "event_id"), "value")
    val q = series.filter(col("user_id") === 0)
      .head().getSeq[Double](1).take(8).toArray
    operators.SeriesSearch.topK(series, "user_id", q, 15)
  }

  /** Heavy hitters AT REST — the top-k twin of q_hll_merge: per-(day,
    * event_type) Misra–Gries slice summaries of the user column, rolled
    * up to per-type summaries by the mergeable-summaries merge, top-10
    * emitted. At full counter capacity (k=4096 ≫ distinct users) the
    * summary IS the exact count table — the nprobe=all ⇒ exact
    * precedent — so the oracle is the plain GROUP BY ranking;
    * SketchesSpec pins the lossy-regime MG bounds.
    */
  private[graft] def qMgTopk(s: SparkSession, d: String): DataFrame = {
    val slices = operators.Sketches.mgByGroup(
      t(s, d, "events").select(to_date(col("ts")).as("day"),
        col("event_type"), col("user_id")),
      Seq("day", "event_type"), "user_id", k = 4096)
    val rolled = operators.Sketches.mgRollup(slices, Seq("event_type"),
      "user_id", k = 4096)
    val w = Window.partitionBy("event_type")
      .orderBy(col("mg_count").desc, col("user_id"))
    rolled.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= 10)
      .select(col("event_type"), col("rnk"), col("user_id"),
        col("mg_count").as("c"))
      .orderBy("event_type", "rnk")
  }

  /** Incrementally maintained aggregate: build on the first slice of the
    * corpus, fold two more batches in through the ledgered monoid merge
    * (one of them REDELIVERED — the ledger must absorb it), read the
    * served state. Counts/sums/mins/maxes over integral columns fold
    * exactly, so the oracle is the one-shot GROUP BY over everything —
    * the equality that certifies a 100 TB dashboard aggregate can refresh
    * per batch without ever re-scanning the corpus.
    */
  private[graft] def qIncrAgg(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val base = Scratch.dir("graft_magg")
    val m = operators.MaterializedAgg.build(
      docs.filter(col("doc_id") < 150), Seq("lang", "source"),
      Seq("n_chars"), base)
    m.update(docs.filter(col("doc_id") >= 150 && col("doc_id") < 300), 0L)
    m.update(docs.filter(col("doc_id") >= 300), 1L)
    m.update(docs.filter(col("doc_id") >= 300), 1L) // redelivery: no-op
    m.read().select(col("lang"), col("source"), col("n"),
        col("s_n_chars").as("s"), col("mn_n_chars").as("mn"),
        col("mx_n_chars").as("mx"))
      .orderBy("lang", "source")
  }

  /** Sketches AT REST: per-(returnflag, linestatus) HLL slice sketches
    * of the part key, rolled up to per-returnflag estimates by LOSSLESS
    * merge — the raw table is scanned once to build the slices and
    * never again; any rollup reads sketch rows. Rows-only (DataSketches
    * register estimates have no SQL oracle); SketchesSpec pins the
    * error envelope and the rolled-up == direct equality.
    */
  private[graft] def qHllMerge(s: SparkSession, d: String): DataFrame =
    operators.Sketches.hllRollup(
      operators.Sketches.hllByGroup(t(s, d, "lineitem"),
        Seq("l_returnflag", "l_linestatus"), "l_partkey"),
      Seq("l_returnflag"))
      .orderBy("l_returnflag")

  /** Zone-map-pruned scan: events laid out range-partitioned by `value`
    * into 8 files, per-file (min, max, nulls) zones built over
    * (value, user_id) at metadata scale (one tiny row per file), then a
    * selective value band answered by reading ONLY the files whose zone
    * can intersect it, with the exact predicate re-applied on read.
    * Pruning is conservative, so the result equals the plain filtered
    * scan — the oracle; ZoneMapSpec pins that the pruned plan really
    * reads fewer files and survives stale/missing-index states.
    */
  private[graft] def qZonemapScan(s: SparkSession, d: String): DataFrame = {
    val base = Scratch.dir("graft_zm")
    val (data, idx) = (s"$base/data", s"$base/zones")
    t(s, d, "events").select("event_id", "user_id", "event_type", "value")
      .repartitionByRange(8, col("value")).sortWithinPartitions("value")
      .write.parquet(data)
    operators.ZoneMap.build(s, data, Seq("value", "user_id"), idx)
    operators.ZoneMap.scan(s, data, idx,
        Seq(operators.ZoneMap.Range("value", 100.0, 200.0)))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
      .orderBy("event_type")
  }

  /** Zone-map maintenance cycle: build zones over the first half of
    * events, land the second half as NEW files, then `append` indexes
    * exactly the late files (idempotent — the second call is a no-op)
    * and the pruned scan covers both generations. The staleness window
    * in between only widens the read (unindexed files join the plan
    * unpruned), so correctness never depends on the index being caught
    * up — the property that lets a 100 TB table index lag its ingest.
    */
  private[graft] def qZonemapMaintain(s: SparkSession, d: String): DataFrame = {
    val base = Scratch.dir("graft_zm2")
    val (data, idx) = (s"$base/data", s"$base/zones")
    val ev = t(s, d, "events").select("event_id", "user_id", "event_type", "value")
    ev.filter(col("event_id") % 2 === 0)
      .repartitionByRange(4, col("user_id")).sortWithinPartitions("user_id")
      .write.parquet(data)
    operators.ZoneMap.build(s, data, Seq("user_id"), idx)
    ev.filter(col("event_id") % 2 === 1)
      .repartitionByRange(4, col("user_id")).sortWithinPartitions("user_id")
      .write.mode(org.apache.spark.sql.SaveMode.Append).parquet(data)
    require(operators.ZoneMap.append(s, data, idx) >= 1,
      "late files must be indexed")
    require(operators.ZoneMap.append(s, data, idx) == 0,
      "append must be idempotent")
    operators.ZoneMap.scan(s, data, idx,
        Seq(operators.ZoneMap.Range("user_id", 10L, 40L)))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
      .orderBy("user_id")
  }

  /** Z-order relayout composed with zone maps: events rewritten along
    * the (value, user_id) Morton curve into 8 files, zones built over
    * both columns, then a TWO-column band scanned through the pruned
    * file list. A linear sort would make only its leading column
    * prunable; the interleaved layout keeps per-file ranges narrow in
    * BOTH, which is the whole point (LayoutSpec pins the pruning-power
    * gap). The relayout is row-preserving and pruning conservative, so
    * the oracle is the plain two-predicate filter.
    */
  private[graft] def qLayoutZorder(s: SparkSession, d: String): DataFrame = {
    val base = Scratch.dir("graft_zord")
    val (data, idx) = (s"$base/data", s"$base/zones")
    val ev = t(s, d, "events").select("event_id", "user_id", "event_type", "value")
    operators.Layout.rewrite(ev, Seq("value", "user_id"), data, nFiles = 8)
    operators.ZoneMap.build(s, data, Seq("value", "user_id"), idx)
    operators.ZoneMap.scan(s, data, idx, Seq(
        operators.ZoneMap.Range("value", 200.0, 600.0),
        operators.ZoneMap.Range("user_id", 5L, 25L)))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
      .orderBy("event_type")
  }

  /** The Morton key itself, bit-exact across engines: bucket =
    * clamp(floor((v − min) / (max − min) · 2^16)) per column, bits
    * interleaved value-then-user_id. Both engines run the identical
    * IEEE-double expression (same operation order), so the oracle — the
    * same arithmetic spelled as generated SQL — must hash-match exactly,
    * certifying that a relayout computed by this engine and one computed
    * by any SQL engine sharing the formula produce the same curve.
    */
  private[graft] def qZorderKey(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events").select("event_id", "user_id", "value")
    val stats = operators.Layout.colStats(ev, Seq("value", "user_id"))
    ev.withColumn("zkey",
        operators.Layout.zkey(Seq("value", "user_id"), stats, bits = 16))
      .select("event_id", "zkey")
      .orderBy("event_id")
  }

  /** Moments sketch at rest — the exactly-mergeable sibling of
    * q_hll_merge, and the one sketch whose rollup carries a full SQL
    * oracle: documents sliced per (lang, source) into constant-size
    * (n, Σv, Σv², min, max, fixed-domain histogram) rows, rolled up to
    * per-lang stats by pure addition. n_chars is integral, so every sum
    * is an exact double and slice→rollup equals the direct computation
    * BIT-exactly — mean/variance included, no rounding needed.
    */
  private[graft] def qMoments(s: SparkSession, d: String): DataFrame = {
    val slices = operators.Sketches.momentsByGroup(
      t(s, d, "documents"), Seq("lang", "source"), "n_chars", 0.0, 2000.0, 8)
    operators.Sketches.momentsStats(
        operators.Sketches.momentsRollup(slices, Seq("lang"), 8))
      .select(col("lang"), col("n"),
        col("s").cast("long").as("s"), col("s2").cast("long").as("s2"),
        col("mn").cast("long").as("mn"), col("mx").cast("long").as("mx"),
        col("mean"), col("variance"),
        element_at(col("hist"), 1).as("h_under"),
        element_at(col("hist"), 2).as("h1"),
        element_at(col("hist"), 5).as("h4"),
        element_at(col("hist"), 10).as("h_over"))
      .orderBy("lang")
  }

  /** Small-file compaction as the streaming sink's maintenance leg:
    * events landed as 50 hash-scattered files (an append-per-micro-batch
    * table a week in), the trigger confirms fragmentation, and the
    * rewrite folds them into ~4 files RE-SORTED by user_id — restoring
    * the zone-map pruning interleaved appends destroyed. The scan then
    * goes through the fresh index. Compaction is a pure relayout and
    * pruning conservative, so the oracle is the plain filtered agg.
    */
  /** The unified table end to end, through ONE handle: ingest → ledgered
    * append → z-order relayout → sorted compaction → vacuum → pruned
    * scan — every mutation committing data files, zone manifest and
    * ledger as ONE atomic version ([[graft.operators.GraftTable]]), the
    * choreography that previously took separate Compaction + Layout +
    * ZoneMap calls with a staleness window between them. Each mutation
    * is row-preserving and pruning conservative, so the oracle is the
    * plain two-predicate filtered aggregate; GraftTableSpec kills the
    * writer inside the publish window to pin the atomicity half.
    */
  private[graft] def qTable(s: SparkSession, d: String): DataFrame = {
    val base = Scratch.dir("graft_tbl") + "/t"
    val ev = t(s, d, "events").select("event_id", "user_id", "event_type", "value")
    val tbl = operators.GraftTable.create(
      ev.filter(col("event_id") % 2 === 0), base,
      zoneCols = Seq("value", "user_id"), nFiles = 8)
    tbl.append(ev.filter(col("event_id") % 2 === 1))
    tbl.zorder(Seq("value", "user_id"), nFiles = 12)
    require(tbl.scanFileCount(Seq(
      operators.ZoneMap.Range("value", 150.0, 650.0))) < 12,
      "the z-ordered manifest must prune a half-range band")
    val (before, after) = tbl.compact(targetRows = 60000, sortCols = Seq("value"))
    require(after < before, s"compaction must shrink the file count: $before -> $after")
    require(tbl.vacuum() >= 8, "superseded generations must be collected")
    tbl.scan(Seq(operators.ZoneMap.Range("value", 150.0, 650.0),
        operators.ZoneMap.Range("user_id", 10L, 30L)))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
      .orderBy("event_type")
  }

  /** File-pruned MERGE INTO the unified table: a key-clustered table of
    * the non-multiple-of-4 events takes ONE latest-wins merge batch —
    * value-bumped updates confined to the low-id stripe, plus inserts
    * keyed above every existing range — and only the stripe's files
    * rewrite ([[graft.operators.GraftTable.merge]]; the require pins
    * it), everything else carries forward by manifest row. Merge
    * semantics are deterministic set algebra (delete-matching ∪ batch),
    * so the oracle replays them as a CASE + UNION over the same
    * arithmetic; integer division of the max id matches across engines
    * on positives.
    */
  private[graft] def qMerge(s: SparkSession, d: String): DataFrame = {
    val base = Scratch.dir("graft_merge") + "/t"
    val ev = t(s, d, "events").select("event_id", "user_id", "event_type", "value")
    val kept = ev.filter(col("event_id") % 4 =!= 0)
    val tbl = operators.GraftTable.create(
      kept.repartitionByRange(8, col("event_id"))
        .sortWithinPartitions("event_id"),
      base, zoneCols = Seq("event_id"))
    val maxId = ev.agg(max("event_id")).head.getLong(0)
    val updates = kept.filter(col("event_id") < maxId / 8)
      .withColumn("value", col("value") + 1000)
    val inserts = ev.filter(col("event_id") % 4 === 0)
      .withColumn("event_id", col("event_id") + maxId + 1)
    val files = tbl.files().size
    val (rew, carried) = tbl.merge(updates.unionByName(inserts), "event_id")
    require(rew >= 1 && rew < files && carried == files - rew,
      s"merge must rewrite only the low-id stripe: $rew of $files")
    tbl.read()
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
      .orderBy("event_type")
  }

  /** CDC merge with row-level DELETES into the unified table
    * ([[graft.operators.GraftTable.merge]] with an op column): one mixed
    * batch against the key-clustered table of all events — the low-id
    * stripe's multiples of 8 upsert with a +1000 bump, its ≡4 (mod 8)
    * keys TOMBSTONE — and only the stripe's files rewrite (the require
    * pins it); tombstones delete without re-insert, never silently
    * upsert. Merge-with-deletes is still deterministic set algebra
    * ((table minus batch keys) ∪ upserts), so the oracle replays it as
    * one CASE + tombstone-excluding WHERE over the same arithmetic.
    */
  private[graft] def qMergeDelete(s: SparkSession, d: String): DataFrame = {
    val base = Scratch.dir("graft_mdel") + "/t"
    val ev = t(s, d, "events").select("event_id", "user_id", "event_type", "value")
    val tbl = operators.GraftTable.create(
      ev.repartitionByRange(8, col("event_id"))
        .sortWithinPartitions("event_id"),
      base, zoneCols = Seq("event_id"))
    val maxId = ev.agg(max("event_id")).head.getLong(0)
    val stripe = col("event_id") < maxId / 4
    val batch = ev.filter(stripe && col("event_id") % 8 === 0)
      .withColumn("value", col("value") + 1000)
      .withColumn("op", lit("upsert"))
      .unionByName(ev.filter(stripe && col("event_id") % 8 === 4)
        .withColumn("op", lit(operators.GraftTable.DeleteOp)))
    val files = tbl.files().size
    val before = tbl.read().count()
    val (rew, carried) = tbl.merge(batch, "event_id", "op")
    require(rew >= 1 && rew < files && carried == files - rew,
      s"delete-bearing merge must rewrite only the low-id stripe: $rew of $files")
    require(tbl.read().count() < before, "tombstones must shrink the table")
    tbl.read()
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
      .orderBy("event_type")
  }

  /** The PERSISTED row-level change slice, verified against a full SQL
    * replay: one CDC merge (updates on the stored multiples of 8,
    * deletes on the stored ≡2 mod 8, inserts keyed on the odd multiples
    * of 3 — keys the even-only table does not hold) commits its exact
    * insert / delete / update_preimage / update_postimage slice inside
    * the same atomic version
    * ([[graft.operators.GraftTable.readChanges]] serves it verbatim — a
    * k-key merge feeds O(k) rows, never the rewritten files' churn),
    * and a follow-up compaction commits an EMPTY slice (required
    * in-body: a pure relayout feeds NOTHING). The slice is deterministic
    * set algebra over the fixture, so the oracle replays all four legs
    * as a UNION ALL of the same arithmetic; per-row `value + c` is exact
    * IEEE on both engines, no rounding needed.
    */
  private[graft] def qMergeCdf(s: SparkSession, d: String): DataFrame = {
    val base = Scratch.dir("graft_mcdf") + "/t"
    val ev = t(s, d, "events").select("event_id", "user_id", "event_type", "value")
    val tbl = operators.GraftTable.create(
      ev.filter(col("event_id") % 2 === 0)
        .repartitionByRange(8, col("event_id"))
        .sortWithinPartitions("event_id"),
      base, zoneCols = Seq("event_id"), keepVersions = 4)
    val v1 = tbl.version
    val del = operators.GraftTable.DeleteOp
    val batch = ev.filter(col("event_id") % 8 === 0)
        .withColumn("value", col("value") + 1000).withColumn("op", lit("u"))
      .unionByName(
        ev.filter(col("event_id") % 2 === 1 && col("event_id") % 3 === 0)
          .withColumn("value", col("value") + 500).withColumn("op", lit("u")))
      .unionByName(
        ev.filter(col("event_id") % 8 === 2).withColumn("op", lit(del)))
    tbl.merge(batch, "event_id", "op")
    tbl.compact(targetRows = 1000000)
    require(tbl.readChanges(v1 + 1, v1 + 2).count() == 0,
      "a pure relayout commits an empty slice — the feed must carry nothing")
    tbl.readChanges(v1, v1 + 1)
      .select(col("event_id"), col("_change_type").as("change_type"),
        col("value").as("val"))
      .orderBy("event_id", "change_type")
  }

  /** Conditional partial-column MERGE
    * ([[graft.operators.GraftTable.mergeCond]], the WHEN MATCHED AND …
    * THEN UPDATE SET … shape): the even-keyed table takes one batch
    * whose matched rows pass the `s.value > t.value` gate only for the
    * multiples of 8 (+1000; the ≡4 mod 8 rows carry −1000 and FAIL —
    * they must ride through bit-identical), updating ONLY `value` (the
    * batch's decoy event_type must never land on a matched row), while
    * the unmatched odd multiples of 5 insert unconditionally with the
    * batch's own event_type. Deterministic set algebra → the oracle is
    * one CASE over the condition's arithmetic plus the insert UNION.
    */
  private[graft] def qMergeCond(s: SparkSession, d: String): DataFrame = {
    val base = Scratch.dir("graft_mcond") + "/t"
    val ev = t(s, d, "events").select("event_id", "user_id", "event_type", "value")
    val tbl = operators.GraftTable.create(
      ev.filter(col("event_id") % 2 === 0)
        .repartitionByRange(8, col("event_id"))
        .sortWithinPartitions("event_id"),
      base, zoneCols = Seq("event_id"))
    val batch = ev.filter(col("event_id") % 4 === 0)
        .withColumn("value",
          when(col("event_id") % 8 === 0, col("value") + 1000)
            .otherwise(col("value") - 1000))
        .withColumn("event_type", lit("decoy"))
      .unionByName(
        ev.filter(col("event_id") % 2 === 1 && col("event_id") % 5 === 0)
          .withColumn("event_type", lit("fresh")))
    val files = tbl.files().size
    val (rew, carried) = tbl.mergeCond(batch, "event_id",
      col("s.value") > col("t.value"), updateCols = Seq("value"))
    require(rew + carried == files, s"mergeCond stays file-pruned: $rew+$carried != $files")
    val head = tbl.read()
    require(head.filter(col("event_type") === "decoy").count() == 0,
      "event_type is outside updateCols — the decoy must never land on a matched row")
    head.groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
      .orderBy("event_type")
  }

  /** Predicate DELETE on the unified table
    * ([[graft.operators.GraftTable.delete]], the `DELETE FROM t WHERE …`
    * shape): the key-clustered events table drops every low-quarter row
    * with `value < 250` — the Range pred prunes the rewrite to the
    * low-id stripe's files (required in-body), the residual applies
    * exactly inside them, and the commit's persisted change slice is
    * precisely the deleted rows, all `'delete'` (required in-body via
    * the change feed). Deletion is set algebra, so the oracle is the
    * survivors' aggregate under the same NOT(…) arithmetic.
    */
  private[graft] def qDeleteWhere(s: SparkSession, d: String): DataFrame = {
    val base = Scratch.dir("graft_dwhere") + "/t"
    val ev = t(s, d, "events").select("event_id", "user_id", "event_type", "value")
    val tbl = operators.GraftTable.create(
      ev.repartitionByRange(8, col("event_id"))
        .sortWithinPartitions("event_id"),
      base, zoneCols = Seq("event_id"), keepVersions = 3)
    val v1 = tbl.version
    val maxId = ev.agg(max("event_id")).head.getLong(0)
    val files = tbl.files().size
    val before = tbl.read().count()
    val (rew, carried) = tbl.delete(
      Seq(operators.ZoneMap.Range("event_id", null, maxId / 4)),
      col("value") < 250.0)
    require(rew >= 1 && rew < files && carried == files - rew,
      s"predicate delete must rewrite only the low-id stripe: $rew of $files")
    val gone = before - tbl.read().count()
    val slice = tbl.readChanges(v1, v1 + 1)
    require(slice.count() == gone &&
      slice.filter(col("_change_type") =!= "delete").count() == 0,
      "the change slice must be exactly the deleted rows")
    tbl.read()
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
      .orderBy("event_type")
  }

  /** Predicate UPDATE on the unified table
    * ([[graft.operators.GraftTable.update]], the `UPDATE t SET … WHERE …`
    * shape): the high-quarter rows whose `user_id ≡ 0 (mod 3)` take
    * `value ← value·2 + 7` (exact IEEE per row), every other row and
    * column rides through unchanged; the Range pred confines the
    * rewrite to the high-id stripe (required in-body) and the commit's
    * change slice is the exact pre/post-image pair set (required
    * in-body). One CASE over the same arithmetic is the oracle.
    */
  private[graft] def qUpdateWhere(s: SparkSession, d: String): DataFrame = {
    val base = Scratch.dir("graft_uwhere") + "/t"
    val ev = t(s, d, "events").select("event_id", "user_id", "event_type", "value")
    val tbl = operators.GraftTable.create(
      ev.repartitionByRange(8, col("event_id"))
        .sortWithinPartitions("event_id"),
      base, zoneCols = Seq("event_id"), keepVersions = 3)
    val v1 = tbl.version
    val maxId = ev.agg(max("event_id")).head.getLong(0)
    val files = tbl.files().size
    val (rew, carried) = tbl.update(
      Seq(operators.ZoneMap.Range("event_id", maxId * 3 / 4, null)),
      Map("value" -> (col("value") * 2 + 7)),
      col("user_id") % 3 === 0)
    require(rew >= 1 && rew < files && carried == files - rew,
      s"predicate update must rewrite only the high-id stripe: $rew of $files")
    val slice = tbl.readChanges(v1, v1 + 1)
    val nPre = slice.filter(col("_change_type") === "update_preimage").count()
    val nPost = slice.filter(col("_change_type") === "update_postimage").count()
    require(nPre == nPost && nPre + nPost == slice.count(),
      "the change slice must be exactly the pre/post-image pairs")
    tbl.read()
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
      .orderBy("event_type")
  }

  /** One DSv2 catalog per session for the SQL-text front door
    * ([[graft.sources.GraftCatalog]]): registered lazily (catalog confs
    * resolve at first lookup), warehouse pinned for the process so
    * repeated bench invocations of the same query share it — each
    * invocation works on its own uniquely-named table inside.
    */
  private def sqlCatalog(s: SparkSession): String = {
    val cat = "graftsql"
    if (s.conf.getOption(s"spark.sql.catalog.$cat").isEmpty) {
      s.conf.set(s"spark.sql.catalog.$cat", "graft.sources.GraftCatalog")
      s.conf.set(s"spark.sql.catalog.$cat.warehouse",
        Scratch.dir("graft_sqlwh"))
    }
    cat
  }

  private def freshSqlTable(s: SparkSession, prefix: String): String =
    s"${sqlCatalog(s)}.${prefix}_${java.util.UUID.randomUUID()
      .toString.replace("-", "")}"

  /** `DELETE FROM … WHERE …` as SQL TEXT through the DSv2 catalog
    * ([[graft.sources.GraftCatalog]] → [[graft.plans.GraftSqlDml]] →
    * the zone-pruned transactional rewrite): CREATE TABLE + INSERT INTO
    * land the key-clustered events, the DELETE's resolved WHERE prunes
    * through the engine's one Catalyst translator, and the commit is [[qDeleteWhere]]'s
    * — pruned rewrite (required in-body: untouched files carry across
    * the commit), exact delete-only change slice (required in-body).
    * Same set algebra, same oracle as `q_delete_where`.
    */
  private[graft] def qSqlDelete(s: SparkSession, d: String): DataFrame = {
    val tn = freshSqlTable(s, "del")
    val ev = t(s, d, "events").select("event_id", "user_id", "event_type", "value")
    s.sql(s"CREATE TABLE $tn (event_id BIGINT, user_id BIGINT, " +
      "event_type STRING, value DOUBLE) " +
      "OPTIONS (zoneCols 'event_id', keepVersions '3')")
    ev.repartitionByRange(8, col("event_id"))
      .sortWithinPartitions("event_id")
      .createOrReplaceTempView("graft_sqldel_src")
    s.sql(s"INSERT INTO $tn SELECT * FROM graft_sqldel_src")
    val tbl = operators.GraftTable.open(s,
      tn.split("\\.").last match { case leaf =>
        s.conf.get("spark.sql.catalog.graftsql.warehouse") + "/" + leaf })
    val v2 = tbl.version
    val before = tbl.read().count()
    val filesBefore = tbl.files().toSet
    val maxId = ev.agg(max("event_id")).head.getLong(0)
    s.sql(s"DELETE FROM $tn WHERE event_id <= ${maxId / 4} " +
      "AND value < 250.0")
    require(tbl.version == v2 + 1, "one DELETE, one commit")
    val carried = (filesBefore & tbl.files().toSet).size
    require(carried >= 1 && carried < filesBefore.size,
      s"the SQL DELETE must rewrite only the low-id stripe: " +
        s"$carried of ${filesBefore.size} carried")
    val gone = before - tbl.read().count()
    val slice = tbl.readChanges(v2, v2 + 1)
    require(slice.count() == gone &&
      slice.filter(col("_change_type") =!= "delete").count() == 0,
      "the change slice must be exactly the deleted rows")
    s.sql(s"SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS v " +
      s"FROM $tn GROUP BY event_type ORDER BY event_type")
  }

  /** `UPDATE … SET … WHERE …` as SQL TEXT: Spark's connector API has no
    * non-row-level UPDATE contract, so the resolved plan routes through
    * the injected rule ([[graft.plans.GraftSqlDml]]) onto
    * [[graft.operators.GraftTable.dmlWhereCnf]] — the WHERE's literal
    * conjuncts prune the rewrite (required in-body via the command's
    * (files_rewritten, files_carried) result), SET expressions evaluate
    * against current row values. Same arithmetic, same oracle as
    * `q_update_where`.
    */
  private[graft] def qSqlUpdate(s: SparkSession, d: String): DataFrame = {
    val tn = freshSqlTable(s, "upd")
    val ev = t(s, d, "events").select("event_id", "user_id", "event_type", "value")
    s.sql(s"CREATE TABLE $tn (event_id BIGINT, user_id BIGINT, " +
      "event_type STRING, value DOUBLE) " +
      "OPTIONS (zoneCols 'event_id', keepVersions '3')")
    ev.repartitionByRange(8, col("event_id"))
      .sortWithinPartitions("event_id")
      .createOrReplaceTempView("graft_squpd_src")
    s.sql(s"INSERT INTO $tn SELECT * FROM graft_squpd_src")
    val maxId = ev.agg(max("event_id")).head.getLong(0)
    val res = s.sql(s"UPDATE $tn SET value = value * 2 + 7 " +
      s"WHERE event_id >= ${maxId * 3 / 4} AND user_id % 3 = 0").head()
    val (nRows, rew, carried) =
      (res.getLong(0), res.getLong(1), res.getLong(2))
    require(rew >= 1 && carried >= 1,
      s"the SQL UPDATE must rewrite only the high-id stripe: " +
        s"$rew rewritten / $carried carried")
    val expectRows = ev.filter(col("event_id") >= maxId * 3 / 4 &&
      col("user_id") % 3 === 0).count()
    require(nRows == expectRows,
      s"num_affected_rows must be the exact matched count: " +
        s"$nRows vs $expectRows")
    s.sql(s"SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS v " +
      s"FROM $tn GROUP BY event_type ORDER BY event_type")
  }

  /** `MERGE INTO … ON … WHEN MATCHED THEN UPDATE … WHEN NOT MATCHED
    * THEN INSERT …` as SQL TEXT through the injected rule onto
    * [[graft.operators.GraftTable.mergeCond]]: the multiples of 3
    * update in place (value + 1000 from the source), fresh keys beyond
    * the id range insert, everything else rides through — one pruned
    * transactional commit (required in-body: one version, batch-key
    * contract surfaced by the engine). The oracle is the same CASE +
    * UNION the merge describes.
    */
  private[graft] def qSqlMerge(s: SparkSession, d: String): DataFrame = {
    val tn = freshSqlTable(s, "mrg")
    val ev = t(s, d, "events").select("event_id", "user_id", "event_type", "value")
    s.sql(s"CREATE TABLE $tn (event_id BIGINT, user_id BIGINT, " +
      "event_type STRING, value DOUBLE) " +
      "OPTIONS (zoneCols 'event_id', keepVersions '3')")
    ev.repartitionByRange(8, col("event_id"))
      .sortWithinPartitions("event_id")
      .createOrReplaceTempView("graft_sqmrg_src")
    s.sql(s"INSERT INTO $tn SELECT * FROM graft_sqmrg_src")
    val tbl = operators.GraftTable.open(s,
      s.conf.get("spark.sql.catalog.graftsql.warehouse") + "/" +
        tn.split("\\.").last)
    val v2 = tbl.version
    val maxId = ev.agg(max("event_id")).head.getLong(0)
    ev.filter(col("event_id") % 3 === 0)
      .withColumn("value", col("value") + 1000)
      .unionByName(ev.filter(col("event_id") % 5 === 0)
        .withColumn("event_id", col("event_id") + maxId + 1))
      .createOrReplaceTempView("graft_sqmrg_batch")
    s.sql(s"""MERGE INTO $tn AS t USING graft_sqmrg_batch AS s
      ON t.event_id = s.event_id
      WHEN MATCHED THEN UPDATE SET value = s.value, user_id = s.user_id,
        event_type = s.event_type
      WHEN NOT MATCHED THEN INSERT (event_id, user_id, event_type, value)
        VALUES (s.event_id, s.user_id, s.event_type, s.value)""")
    require(tbl.version == v2 + 1, "one MERGE, one commit")
    s.sql(s"SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS v " +
      s"FROM $tn GROUP BY event_type ORDER BY event_type")
  }

  /** SYNC MERGE as SQL TEXT — `WHEN NOT MATCHED BY SOURCE THEN DELETE`
    * composed with the matched/not-matched wings in ONE commit: the
    * table seeds with the even events, the source is every multiple of
    * 3 at value + 1000, and the three wings make the table EQUAL the
    * source (matched keys update, fresh keys insert, keys outside the
    * source tombstone via the head-snapshot anti-join — the sync-merge
    * every SQL CDC user types first). Required in-body: one commit,
    * `num_affected_rows` equals the exact wing algebra. The oracle is
    * the source itself — a full sync IS replacement.
    */
  private[graft] def qSqlMergeSync(s: SparkSession, d: String): DataFrame = {
    val tn = freshSqlTable(s, "msync")
    val ev = t(s, d, "events").select("event_id", "user_id", "event_type", "value")
    s.sql(s"CREATE TABLE $tn (event_id BIGINT, user_id BIGINT, " +
      "event_type STRING, value DOUBLE) " +
      "OPTIONS (zoneCols 'event_id', keepVersions '3')")
    ev.filter(col("event_id") % 2 === 0)
      .repartitionByRange(8, col("event_id"))
      .sortWithinPartitions("event_id")
      .createOrReplaceTempView("graft_msync_seed")
    s.sql(s"INSERT INTO $tn SELECT * FROM graft_msync_seed")
    val tbl = operators.GraftTable.open(s,
      s.conf.get("spark.sql.catalog.graftsql.warehouse") + "/" +
        tn.split("\\.").last)
    val v2 = tbl.version
    ev.filter(col("event_id") % 3 === 0)
      .withColumn("value", col("value") + 1000)
      .createOrReplaceTempView("graft_msync_src")
    val rep = s.sql(s"""MERGE INTO $tn AS t USING graft_msync_src AS s
      ON t.event_id = s.event_id
      WHEN MATCHED THEN UPDATE SET value = s.value, user_id = s.user_id,
        event_type = s.event_type
      WHEN NOT MATCHED THEN INSERT (event_id, user_id, event_type, value)
        VALUES (s.event_id, s.user_id, s.event_type, s.value)
      WHEN NOT MATCHED BY SOURCE THEN DELETE""").head()
    require(tbl.version == v2 + 1, "one sync MERGE, one commit")
    val evens = ev.filter(col("event_id") % 2 === 0).count()
    val mult6 = ev.filter(col("event_id") % 6 === 0).count()
    val mult3 = ev.filter(col("event_id") % 3 === 0).count()
    // updates (even∩3) + inserts (3∖even) + sync-deletes (even∖3)
    require(!rep.isNullAt(0) &&
      rep.getLong(0) == mult3 + (evens - mult6),
      s"num_affected_rows must be the exact wing algebra: ${rep.toString}")
    s.sql(s"SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS v " +
      s"FROM $tn GROUP BY event_type ORDER BY event_type")
  }

  /** COMPOSITE-key MERGE + conditional INSERT as SQL TEXT: the ON is a
    * two-column equality conjunction — the tuple matches, the LEADING
    * key (`event_id`, the zone axis) prunes — and the NOT MATCHED wing
    * carries `AND s.value >= 100`, so only the qualifying fresh tuples
    * insert. Source rows sharing a stored event_id under a DIFFERENT
    * event_type are NOT matched (required in-body: they land as
    * inserts, which a single-key merge would have folded as updates).
    * The oracle is the same CASE + filtered-UNION set algebra.
    */
  private[graft] def qSqlMerge2(s: SparkSession, d: String): DataFrame = {
    val tn = freshSqlTable(s, "mrg2")
    val ev = t(s, d, "events").select("event_id", "user_id", "event_type", "value")
    s.sql(s"CREATE TABLE $tn (event_id BIGINT, user_id BIGINT, " +
      "event_type STRING, value DOUBLE) " +
      "OPTIONS (zoneCols 'event_id', keepVersions '3')")
    ev.repartitionByRange(8, col("event_id"))
      .sortWithinPartitions("event_id")
      .createOrReplaceTempView("graft_mrg2_seed")
    s.sql(s"INSERT INTO $tn SELECT * FROM graft_mrg2_seed")
    val tbl = operators.GraftTable.open(s,
      s.conf.get("spark.sql.catalog.graftsql.warehouse") + "/" +
        tn.split("\\.").last)
    val v2 = tbl.version
    val before = tbl.read().count()
    // matched tuples: multiples of 3 under their OWN type (+1000);
    // unmatched tuples: multiples of 5 under a SHIFTED type — same
    // event_id as a stored row, different type component
    ev.filter(col("event_id") % 3 === 0)
      .withColumn("value", col("value") + 1000)
      .unionByName(ev.filter(col("event_id") % 5 === 0)
        .withColumn("event_type", concat(col("event_type"), lit("_x"))))
      .createOrReplaceTempView("graft_mrg2_src")
    val rep = s.sql(s"""MERGE INTO $tn AS t USING graft_mrg2_src AS s
      ON t.event_id = s.event_id AND t.event_type = s.event_type
      WHEN MATCHED THEN UPDATE SET value = s.value, user_id = s.user_id
      WHEN NOT MATCHED AND s.value >= 100.0 THEN INSERT
        (event_id, user_id, event_type, value)
        VALUES (s.event_id, s.user_id, s.event_type, s.value)""").head()
    require(tbl.version == v2 + 1, "one composite MERGE, one commit")
    val inserted = ev.filter(col("event_id") % 5 === 0 &&
      col("value") >= 100.0).count()
    require(tbl.read().count() == before + inserted,
      "shifted-type tuples must INSERT (tuple match), value < 100 " +
        "tuples must be filtered by the conditional wing")
    val updated = ev.filter(col("event_id") % 3 === 0).count()
    require(!rep.isNullAt(0) && rep.getLong(0) == updated + inserted,
      s"num_affected_rows must be updates + conditional inserts: " +
        s"${rep.toString}")
    s.sql(s"SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS v " +
      s"FROM $tn GROUP BY event_type ORDER BY event_type")
  }

  /** The canonical SQL CDC APPLY — one MERGE with TWO matched clauses
    * (first-match-wins) applying a mixed change log in ONE commit:
    * `WHEN MATCHED AND s.op = 'd' THEN DELETE` tombstones the matched
    * deletes, `WHEN MATCHED THEN UPDATE` takes the rest of the matched
    * rows, `WHEN NOT MATCHED AND s.op <> 'd' THEN INSERT` lands the
    * fresh keys while UNMATCHED deletes (phantom tombstones for keys
    * that never existed) do NOTHING. `s.op` is not an INSERT column —
    * it reaches the engine's full-outer join as a carry-only batch
    * column and is never stored. Required in-body: one commit,
    * `num_affected_rows` equals the exact three-wing algebra, the
    * phantom deletes neither insert nor widen the schema.
    */
  private[graft] def qSqlMergeCdc(s: SparkSession, d: String): DataFrame = {
    val tn = freshSqlTable(s, "mcdc")
    val ev = t(s, d, "events").select("event_id", "user_id", "event_type", "value")
    s.sql(s"CREATE TABLE $tn (event_id BIGINT, user_id BIGINT, " +
      "event_type STRING, value DOUBLE) " +
      "OPTIONS (zoneCols 'event_id', keepVersions '3')")
    ev.repartitionByRange(8, col("event_id"))
      .sortWithinPartitions("event_id")
      .createOrReplaceTempView("graft_mcdc_seed")
    s.sql(s"INSERT INTO $tn SELECT * FROM graft_mcdc_seed")
    val tbl = operators.GraftTable.open(s,
      s.conf.get("spark.sql.catalog.graftsql.warehouse") + "/" +
        tn.split("\\.").last)
    val v2 = tbl.version
    val maxId = ev.agg(max("event_id")).head.getLong(0)
    // the change log: deletes (every multiple of 3), updates (multiples
    // of 4 not already deleted, value + 1000), inserts (multiples of 5
    // re-keyed past the id range), phantom deletes (keys past 2×maxId
    // that never existed — must no-op). Keys are disjoint by
    // construction: one change per key, the CDC batch contract.
    ev.filter(col("event_id") % 3 === 0).withColumn("op", lit("d"))
      .unionByName(ev.filter(col("event_id") % 3 =!= 0 &&
          col("event_id") % 4 === 0)
        .withColumn("value", col("value") + 1000)
        .withColumn("op", lit("u")))
      .unionByName(ev.filter(col("event_id") % 5 === 0)
        .withColumn("event_id", col("event_id") + maxId + 1)
        .withColumn("op", lit("i")))
      .unionByName(ev.filter(col("event_id") % 7 === 0)
        .withColumn("event_id", col("event_id") + 2 * maxId + 2)
        .withColumn("op", lit("d")))
      .createOrReplaceTempView("graft_mcdc_src")
    val rep = s.sql(s"""MERGE INTO $tn AS t USING graft_mcdc_src AS s
      ON t.event_id = s.event_id
      WHEN MATCHED AND s.op = 'd' THEN DELETE
      WHEN MATCHED THEN UPDATE SET value = s.value, user_id = s.user_id,
        event_type = s.event_type
      WHEN NOT MATCHED AND s.op <> 'd' THEN INSERT
        (event_id, user_id, event_type, value)
        VALUES (s.event_id, s.user_id, s.event_type, s.value)""").head()
    require(tbl.version == v2 + 1, "one CDC MERGE, one commit")
    val dels = ev.filter(col("event_id") % 3 === 0).count()
    val upds = ev.filter(col("event_id") % 3 =!= 0 &&
      col("event_id") % 4 === 0).count()
    val inss = ev.filter(col("event_id") % 5 === 0).count()
    require(!rep.isNullAt(0) && rep.getLong(0) == dels + upds + inss,
      s"num_affected_rows must be deletes + updates + inserts " +
        s"($dels + $upds + $inss): ${rep.toString}")
    require(tbl.read().count() == ev.count() - dels + inss,
      "phantom deletes must no-op; matched deletes must remove rows")
    require(tbl.read().columns.sameElements(
      Seq("event_id", "user_id", "event_type", "value")),
      "the carry-only op column must never be stored")
    s.sql(s"SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS v " +
      s"FROM $tn GROUP BY event_type ORDER BY event_type")
  }

  /** `ALTER TABLE … ADD COLUMN` as SQL DDL — the additive evolution the
    * write path already performs ([[qSchemaEvolve]]'s engine contract),
    * declared FIRST by a metadata-only commit: the evens insert under
    * the original 4-column schema, `ADD COLUMN flag BOOLEAN` widens the
    * declared schema without moving a byte of data (required in-body:
    * one version bump, flag reads NULL before any write), then the odds
    * insert WITH the flag. Same aggregate, same oracle as
    * `q_schema_evolve`.
    */
  private[graft] def qSqlEvolve(s: SparkSession, d: String): DataFrame = {
    val tn = freshSqlTable(s, "sevo")
    val ev = t(s, d, "events").select("event_id", "user_id", "event_type", "value")
    s.sql(s"CREATE TABLE $tn (event_id BIGINT, user_id BIGINT, " +
      "event_type STRING, value DOUBLE) " +
      "OPTIONS (zoneCols 'event_id', keepVersions '3')")
    ev.filter(col("event_id") % 2 === 0)
      .repartitionByRange(4, col("event_id"))
      .sortWithinPartitions("event_id")
      .createOrReplaceTempView("graft_sevo_even")
    s.sql(s"INSERT INTO $tn SELECT * FROM graft_sevo_even")
    val tbl = operators.GraftTable.open(s,
      s.conf.get("spark.sql.catalog.graftsql.warehouse") + "/" +
        tn.split("\\.").last)
    val v2 = tbl.version
    s.sql(s"ALTER TABLE $tn ADD COLUMN flag BOOLEAN")
    require(tbl.version == v2 + 1,
      "ADD COLUMN is one metadata-only commit")
    require(s.table(tn).columns.sameElements(
      Seq("event_id", "user_id", "event_type", "value", "flag")),
      "the declared schema must widen immediately")
    require(s.sql(s"SELECT COUNT(*) AS n FROM $tn WHERE flag IS NOT NULL")
      .head.getLong(0) == 0,
      "pre-evolution rows must read NULL for the new column")
    ev.filter(col("event_id") % 2 === 1)
      .withColumn("flag", col("event_id") % 3 === 0)
      .createOrReplaceTempView("graft_sevo_odd")
    s.sql(s"INSERT INTO $tn SELECT * FROM graft_sevo_odd")
    s.sql(s"SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS v, " +
      "SUM(CASE WHEN flag THEN 1 ELSE 0 END) AS flagged " +
      s"FROM $tn GROUP BY event_type ORDER BY event_type")
  }

  /** ACCUMULATE MERGE — the matched UPDATE references the STORED row:
    * `SET value = t.value + s.delta` (the running-total CDC form),
    * update-only (no INSERT wing), so unmatched source rows — including
    * deltas for keys past the id range — do NOTHING, with no
    * pre-restriction join: the engine evaluates the target-referencing
    * assignment on the merge's own full-outer join. Required in-body:
    * unassigned columns ride through bit-identical, the fresh-key
    * deltas neither insert nor count, `num_affected_rows` = the
    * matched count.
    */
  private[graft] def qSqlMergeAcc(s: SparkSession, d: String): DataFrame = {
    val tn = freshSqlTable(s, "macc")
    val ev = t(s, d, "events").select("event_id", "user_id", "event_type", "value")
    s.sql(s"CREATE TABLE $tn (event_id BIGINT, user_id BIGINT, " +
      "event_type STRING, value DOUBLE) " +
      "OPTIONS (zoneCols 'event_id', keepVersions '3')")
    ev.repartitionByRange(8, col("event_id"))
      .sortWithinPartitions("event_id")
      .createOrReplaceTempView("graft_macc_seed")
    s.sql(s"INSERT INTO $tn SELECT * FROM graft_macc_seed")
    val tbl = operators.GraftTable.open(s,
      s.conf.get("spark.sql.catalog.graftsql.warehouse") + "/" +
        tn.split("\\.").last)
    val v2 = tbl.version
    val maxId = ev.agg(max("event_id")).head.getLong(0)
    val userSum = tbl.read().agg(sum("user_id")).head.getLong(0)
    // deltas for every multiple of 3, plus deltas for keys that do not
    // exist (past the id range) — an update-only merge must ignore them
    ev.filter(col("event_id") % 3 === 0)
      .select(col("event_id"),
        ((col("event_id") % 7).cast("double") + 0.5).as("delta"))
      .unionByName(ev.filter(col("event_id") % 11 === 0)
        .select((col("event_id") + maxId + 1).as("event_id"),
          lit(99.0).as("delta")))
      .createOrReplaceTempView("graft_macc_src")
    val rep = s.sql(s"""MERGE INTO $tn AS t USING graft_macc_src AS s
      ON t.event_id = s.event_id
      WHEN MATCHED THEN UPDATE SET value = t.value + s.delta""").head()
    require(tbl.version == v2 + 1, "one accumulate MERGE, one commit")
    val matchedN = ev.filter(col("event_id") % 3 === 0).count()
    require(!rep.isNullAt(0) && rep.getLong(0) == matchedN,
      s"num_affected_rows must be the matched count $matchedN: " +
        s"${rep.toString}")
    require(tbl.read().count() == ev.count(),
      "update-only MERGE: unmatched deltas must not insert")
    require(tbl.read().agg(sum("user_id")).head.getLong(0) == userSum,
      "unassigned columns must ride through bit-identical")
    s.sql(s"SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS v " +
      s"FROM $tn GROUP BY event_type ORDER BY event_type")
  }

  /** OR-predicate pruning on the SQL read path: the pushed
    * `event_id <= lo OR event_id >= hi` prunes PER-DISJUNCT and unions
    * the survivors — both edge stripes open, the middle never does
    * (required in-body via the scan observability hook: opened ≥ 2 and
    * < total), where the r15 engine read the whole manifest for any OR.
    * An IN-list probe rides the same algebra (one Point disjunct per
    * value). Exactness never depends on pruning — the oracle is the
    * plain OR-filtered aggregate.
    */
  private[graft] def qTableSqlOr(s: SparkSession, d: String): DataFrame = {
    val base = Scratch.dir("graft_tsqlor") + "/t"
    val ev = t(s, d, "events").select("event_id", "user_id", "event_type", "value")
    val tbl = operators.GraftTable.create(
      ev.repartitionByRange(8, col("event_id"))
        .sortWithinPartitions("event_id"),
      base, zoneCols = Seq("event_id"), keepVersions = 2)
    val maxId = ev.agg(max("event_id")).head.getLong(0)
    val (lo, hi) = (maxId / 8, maxId - maxId / 8)
    val df = s.read.format("graft-table").option("path", base).load()
    val edges = df.filter(col("event_id") <= lo || col("event_id") >= hi)
    sources.GraftTableRelation.clearScan(base)
    val edgeRows = edges.count()
    require(sources.GraftTableRelation.lastScan(base).exists {
      case (opened, total) => opened >= 2 && opened < total
    }, s"the pushed OR must prune to the two edge stripes: " +
      s"${sources.GraftTableRelation.lastScan(base)}")
    require(edgeRows ==
      ev.filter(col("event_id") <= lo || col("event_id") >= hi).count(),
      "pruning must never change results")
    require(tbl.files().size == 8, "fixture: 8 range files")
    edges.groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
      .orderBy("event_type")
  }

  /** SQL-text TIME TRAVEL through the catalog (`VERSION AS OF` /
    * `TIMESTAMP AS OF` — the `loadTable` overloads): the evens insert
    * as one commit, the odds as the next; `VERSION AS OF` the first
    * data version serves the pre-append snapshot while the head serves
    * everything, both as plain SQL — and `TIMESTAMP AS OF now+1h`
    * resolves to the head (required in-body, marker-based commit
    * times). `q_time_travel`'s two-snapshot UNION oracle verbatim: the
    * SQL door changes syntax, never snapshots.
    */
  private[graft] def qSqlTimeTravel(s: SparkSession, d: String): DataFrame = {
    val tn = freshSqlTable(s, "tt")
    val ev = t(s, d, "events").select("event_id", "user_id", "event_type", "value")
    s.sql(s"CREATE TABLE $tn (event_id BIGINT, user_id BIGINT, " +
      "event_type STRING, value DOUBLE) " +
      "OPTIONS (zoneCols 'event_id', keepVersions '3')")
    ev.filter(col("event_id") % 2 === 0)
      .createOrReplaceTempView("graft_sqtt_even")
    ev.filter(col("event_id") % 2 === 1)
      .createOrReplaceTempView("graft_sqtt_odd")
    s.sql(s"INSERT INTO $tn SELECT * FROM graft_sqtt_even") // v2
    s.sql(s"INSERT INTO $tn SELECT * FROM graft_sqtt_odd")  // v3 = head
    val tbl = operators.GraftTable.open(s,
      s.conf.get("spark.sql.catalog.graftsql.warehouse") + "/" +
        tn.split("\\.").last)
    require(tbl.versions().takeRight(2) == Seq(tbl.version - 1, tbl.version),
      s"both snapshots must stay retained: ${tbl.versions()}")
    val evens = ev.filter(col("event_id") % 2 === 0).count()
    require(s.sql(s"SELECT COUNT(*) FROM $tn VERSION AS OF " +
      s"${tbl.version - 1}").head.getLong(0) == evens,
      "VERSION AS OF must pin the pre-append snapshot")
    require(s.sql(s"SELECT COUNT(*) FROM $tn TIMESTAMP AS OF " +
      "(now() + INTERVAL 1 HOUR)").head.getLong(0) == ev.count(),
      "TIMESTAMP AS OF now+1h must resolve to the head")
    s.sql(s"""SELECT 'v1' AS snap, event_type, COUNT(*) AS n,
        ROUND(SUM(value), 2) AS v
      FROM $tn VERSION AS OF ${tbl.version - 1} GROUP BY event_type
      UNION ALL
      SELECT 'v2' AS snap, event_type, COUNT(*) AS n,
        ROUND(SUM(value), 2) AS v
      FROM $tn GROUP BY event_type
      ORDER BY snap, event_type""")
  }

  /** `ALTER TABLE … SET TBLPROPERTIES` + the changeFeed OPT-OUT as one
    * SQL lifecycle: the table is created feed-ON with no retention
    * window, ALTERed to `keepVersions 3, changeFeed false` (one
    * metadata-only commit — required in-body: zero data moved, history
    * stamps `setpolicy`), then [[qSqlUpdate]]'s exact UPDATE runs under
    * the new policies — the commit persists NO row-level slice
    * (required in-body: no `_changes` dir) and the retention window now
    * holds 3 versions (required in-body). Same arithmetic, same oracle
    * as `q_update_where` — policies change costs, never answers.
    */
  private[graft] def qSqlAlter(s: SparkSession, d: String): DataFrame = {
    val tn = freshSqlTable(s, "alt")
    val ev = t(s, d, "events").select("event_id", "user_id", "event_type", "value")
    s.sql(s"CREATE TABLE $tn (event_id BIGINT, user_id BIGINT, " +
      "event_type STRING, value DOUBLE) OPTIONS (zoneCols 'event_id')")
    ev.repartitionByRange(8, col("event_id"))
      .sortWithinPartitions("event_id")
      .createOrReplaceTempView("graft_sqalt_src")
    s.sql(s"INSERT INTO $tn SELECT * FROM graft_sqalt_src")
    val root = s.conf.get("spark.sql.catalog.graftsql.warehouse") + "/" +
      tn.split("\\.").last
    val tbl = operators.GraftTable.open(s, root)
    val rowsBefore = tbl.read().count()
    s.sql(s"ALTER TABLE $tn SET TBLPROPERTIES " +
      "('keepVersions' = '3', 'changeFeed' = 'false')")
    require(tbl.policies() == ((3, -1.0, false)),
      s"the ALTER must land both policies: ${tbl.policies()}")
    require(tbl.read().count() == rowsBefore,
      "a policy change is metadata-only — zero rows move")
    require(tbl.history().orderBy("version").collect().last.getString(1)
      == "setpolicy", "history must stamp the policy commit")
    val maxId = ev.agg(max("event_id")).head.getLong(0)
    s.sql(s"UPDATE $tn SET value = value * 2 + 7 " +
      s"WHERE event_id >= ${maxId * 3 / 4} AND user_id % 3 = 0")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    require(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/v${tbl.version}/_changes")),
      "changeFeed=false must skip the row-level slice write")
    require(tbl.versions().size == 3,
      s"keepVersions=3 must retain the window: ${tbl.versions()}")
    s.sql(s"SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS v " +
      s"FROM $tn GROUP BY event_type ORDER BY event_type")
  }

  /** The maintenance procedures as SQL (`CALL cat.compact/history/
    * vacuum` — [[graft.sources.GraftCatalog]]'s `ProcedureCatalog`):
    * compact folds the 8 range files to 2 and reports
    * (files_before, files_after) as the CALL's result set (required
    * in-body), history serves the op log (required in-body: the exact
    * create→append→compact sequence), vacuum's dry-run lists the
    * superseded generation without deleting and the real vacuum sweeps
    * exactly it (required in-body: dry-run then count, reads intact
    * throughout). Row-preserving maintenance, so the oracle is the
    * plain aggregate.
    */
  private[graft] def qSqlCall(s: SparkSession, d: String): DataFrame = {
    val tn = freshSqlTable(s, "call")
    val leaf = tn.split("\\.").last
    val ev = t(s, d, "events").select("event_id", "user_id", "event_type", "value")
    s.sql(s"CREATE TABLE $tn (event_id BIGINT, user_id BIGINT, " +
      "event_type STRING, value DOUBLE) OPTIONS (zoneCols 'event_id')")
    ev.repartitionByRange(8, col("event_id"))
      .sortWithinPartitions("event_id")
      .createOrReplaceTempView("graft_sqcall_src")
    s.sql(s"INSERT INTO $tn SELECT * FROM graft_sqcall_src")
    val n = ev.count()
    val rep = s.sql(s"CALL graftsql.compact(table => '$leaf', " +
      s"target_rows => ${(n + 1) / 2})").head()
    require(rep.getLong(0) == 8 && rep.getLong(1) == 2,
      s"compact must report the fold: ${rep.toString}")
    val ops = s.sql(s"CALL graftsql.history(table => '$leaf')")
      .orderBy("version").collect().map(_.getString(1)).toSeq
    require(ops == Seq("create", "append", "compact") ||
      ops == Seq("append", "compact") || ops == Seq("compact"),
      s"history must serve the op log within retention: $ops")
    val dry = s.sql(s"CALL graftsql.vacuum(table => '$leaf', " +
      "dry_run => true)").count()
    require(dry >= 1, "the superseded generation must appear in dry-run")
    val swept = s.sql(s"CALL graftsql.vacuum(table => '$leaf')")
      .head.getLong(0)
    require(swept >= 8,
      s"vacuum must sweep the compacted-away generation: $swept")
    s.sql(s"SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS v " +
      s"FROM $tn GROUP BY event_type ORDER BY event_type")
  }

  /** The OPTIMIZE verbs as SQL — `CALL graftsql.zorder(table, cols,
    * n_files)` wrapping [[graft.operators.GraftTable.zorder]] and the
    * predicate-scoped `CALL graftsql.compact(…, where => '…')` wrapping
    * [[graft.operators.GraftTable.compactWhere]] (the `OPTIMIZE …
    * ZORDER BY` / `OPTIMIZE … WHERE` pair Delta users type). The seed
    * lands ROUND-ROBIN so every file spans the full user range
    * (required in-body: the pre-zorder selective scan opens ALL files);
    * after the CALL the Z-curve clusters user_id and the SAME scan
    * prunes (required in-body: fewer files open), then a stripe-scoped
    * compact rewrites ONLY the low-user stripe (required in-body:
    * some files rewritten AND some carried). Both verbs are
    * row-preserving relayouts — the oracle is the plain aggregate.
    */
  private[graft] def qSqlZorder(s: SparkSession, d: String): DataFrame = {
    val tn = freshSqlTable(s, "zo")
    val leaf = tn.split("\\.").last
    val ev = t(s, d, "events").select("event_id", "user_id", "event_type", "value")
    s.sql(s"CREATE TABLE $tn (event_id BIGINT, user_id BIGINT, " +
      "event_type STRING, value DOUBLE) " +
      "OPTIONS (zoneCols 'event_id,user_id', keepVersions '3')")
    ev.repartition(8).createOrReplaceTempView("graft_sqzo_src")
    s.sql(s"INSERT INTO $tn SELECT * FROM graft_sqzo_src")
    val base = s.conf.get("spark.sql.catalog.graftsql.warehouse") + "/" + leaf
    val maxU = ev.agg(max("user_id")).head.getLong(0)
    val cut = maxU / 8
    sources.GraftTableRelation.clearScan(base)
    s.sql(s"SELECT SUM(value) FROM $tn WHERE user_id <= $cut").head
    val before = sources.GraftTableRelation.lastScan(base).get
    require(before._1 == before._2,
      s"round-robin layout must open every file pre-zorder: $before")
    val rep = s.sql(s"CALL graftsql.zorder(table => '$leaf', " +
      "cols => 'user_id,event_id', n_files => 8)").head()
    require(rep.getLong(1) >= 1, s"zorder must report the relayout: $rep")
    sources.GraftTableRelation.clearScan(base)
    s.sql(s"SELECT SUM(value) FROM $tn WHERE user_id <= $cut").head
    val after = sources.GraftTableRelation.lastScan(base).get
    require(after._1 < after._2,
      s"the post-zorder pruned scan must open fewer files: $after")
    val n = ev.count()
    val repC = s.sql(s"CALL graftsql.compact(table => '$leaf', " +
      s"target_rows => ${(n + 3) / 4}, where => 'user_id <= $cut')").head()
    require(repC.getLong(0) >= 1 && repC.getLong(1) >= 1,
      s"the stripe-scoped compact must rewrite SOME files and carry " +
        s"the rest: $repC")
    s.sql(s"SELECT event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS v " +
      s"FROM $tn GROUP BY event_type ORDER BY event_type")
  }

  /** The unified table through the SQL READ PATH
    * ([[graft.sources.GraftTableSource]], `spark.read
    * .format("graft-table")`): the even events load as a plain
    * DataFrame, a `<=` filter reaches the manifest through Catalyst's
    * own pushdown and prunes the scan to the low-id stripe's files
    * (required in-body via the scan observability hook), and the
    * relation is a SNAPSHOT — an append committed after `load()` must
    * not shift the running frame's rows (required in-body), while a
    * fresh `load()` sees it. The output is the low quarter's aggregate,
    * a plain filtered group-by in the oracle.
    */
  private[graft] def qTableSql(s: SparkSession, d: String): DataFrame = {
    val base = Scratch.dir("graft_tsql") + "/t"
    val ev = t(s, d, "events").select("event_id", "user_id", "event_type", "value")
    val tbl = operators.GraftTable.create(
      ev.filter(col("event_id") % 2 === 0)
        .repartitionByRange(8, col("event_id"))
        .sortWithinPartitions("event_id"),
      base, zoneCols = Seq("event_id"), keepVersions = 2)
    val evens = tbl.read().count()
    val maxId = ev.agg(max("event_id")).head.getLong(0)
    val df = s.read.format("graft-table").option("path", base).load()
    val low = df.filter(col("event_id") <= maxId / 4)
    sources.GraftTableRelation.clearScan(base)
    low.count()
    require(sources.GraftTableRelation.lastScan(base).exists {
      case (opened, total) => opened >= 1 && opened < total
    }, s"the pushed <= filter must prune manifest files: " +
      s"${sources.GraftTableRelation.lastScan(base)}")
    tbl.append(ev.filter(col("event_id") % 2 === 1))
    require(df.count() == evens,
      "the loaded frame is a snapshot — a later append must not shift it")
    require(s.read.format("graft-table").option("path", base).load()
      .count() == ev.count(), "a fresh load sees the append")
    low.groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
      .orderBy("event_type")
  }

  /** Zero-copy SHALLOW CLONE of the unified table
    * ([[graft.operators.GraftTable.shallowClone]]): the even events
    * clone by MANIFEST REFERENCE — no data file copies (required
    * in-body: the clone root holds zero data files at birth) — then the
    * clone takes a CDC bump (+1000 on its multiples of 8) that rewrites
    * only the affected stripe into clone-local files while the source
    * stays byte-identical at its version (required in-body). Both sides
    * are closed-form, so the oracle is the two aggregates UNION'd.
    */
  private[graft] def qTableClone(s: SparkSession, d: String): DataFrame = {
    val base = Scratch.dir("graft_clone")
    val ev = t(s, d, "events").select("event_id", "user_id", "event_type", "value")
    val src = operators.GraftTable.create(
      ev.filter(col("event_id") % 2 === 0)
        .repartitionByRange(8, col("event_id"))
        .sortWithinPartitions("event_id"),
      s"$base/src", zoneCols = Seq("event_id"))
    val srcV = src.version
    val cl = operators.GraftTable.shallowClone(s, s"$base/src", s"$base/cl")
    val fs = new org.apache.hadoop.fs.Path(s"$base/cl")
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    require(!fs.exists(new org.apache.hadoop.fs.Path(s"$base/cl/data")),
      "a shallow clone must copy ZERO data files")
    val (rew, carried) = cl.merge(
      ev.filter(col("event_id") % 8 === 0)
        .withColumn("value", col("value") + 1000),
      "event_id")
    require(rew >= 1 && rew + carried == src.files().size,
      s"the clone's merge stays file-pruned over the referenced files: $rew")
    require(src.version == srcV &&
      src.read().count() == cl.read().count(),
      "copy-on-write: the source must be untouched by the clone's merge")
    def agg(df: DataFrame, side: String) = df.groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
      .withColumn("side", lit(side))
    agg(cl.read(), "clone").unionByName(agg(src.read(), "src"))
      .select("side", "event_type", "n", "v")
      .orderBy("side", "event_type")
  }

  /** Commit HISTORY + incremental compaction
    * ([[graft.operators.GraftTable.history]] /
    * [[graft.operators.GraftTable.compactWhere]], the DESCRIBE HISTORY
    * and OPTIMIZE…WHERE shapes): the even events take a CDC merge, a
    * predicate delete, then a stripe-scoped compaction — which must
    * rewrite only the stripe's files, preserve every row, and feed
    * NOTHING through the change feed (all required in-body) — and the
    * commit log reports the four operations at their versions,
    * metadata-only. Operations and versions are fixed by the fixture,
    * so the oracle is a VALUES literal.
    */
  private[graft] def qTableHistory(s: SparkSession, d: String): DataFrame = {
    val base = Scratch.dir("graft_hist") + "/t"
    val ev = t(s, d, "events").select("event_id", "user_id", "event_type", "value")
    val tbl = operators.GraftTable.create(
      ev.filter(col("event_id") % 2 === 0)
        .repartitionByRange(8, col("event_id"))
        .sortWithinPartitions("event_id"),
      base, zoneCols = Seq("event_id"), keepVersions = 4)
    val maxId = ev.agg(max("event_id")).head.getLong(0)
    tbl.merge(
      ev.filter(col("event_id") % 8 === 0)
        .withColumn("value", col("value") + 1000),
      "event_id")
    val stripe = Seq(operators.ZoneMap.Range("event_id", null, maxId / 4))
    tbl.delete(stripe, col("value") < 250.0)
    val files = tbl.files().size
    val before = tbl.read().count()
    val (rew, carried) = tbl.compactWhere(stripe, targetRows = 1000000,
      sortCols = Seq("event_id"))
    require(rew >= 1 && rew < files && carried == files - rew,
      s"compactWhere must rewrite only the stripe: $rew of $files")
    require(tbl.read().count() == before,
      "incremental compaction is row-preserving")
    require(tbl.readChanges(3, 4).count() == 0,
      "a stripe relayout must feed NOTHING through the change feed")
    tbl.history().select("version", "operation").orderBy("version")
  }

  /** Snapshot isolation / time travel on the unified table: a
    * `keepVersions = 2` table built from the even events, then the odds
    * appended — and BOTH states stay queryable, the pre-append snapshot
    * through [[graft.operators.GraftTable.readVersion]] (its own
    * manifest + schema over the shared immutable data files) and the
    * current head through `read()`. Snapshots are plain row subsets of
    * the source, so the oracle is the two filtered aggregates UNION'd.
    */
  private[graft] def qTimeTravel(s: SparkSession, d: String): DataFrame = {
    val base = Scratch.dir("graft_tt") + "/t"
    val ev = t(s, d, "events").select("event_id", "user_id", "event_type", "value")
    val tbl = operators.GraftTable.create(ev.filter(col("event_id") % 2 === 0),
      base, zoneCols = Seq("user_id"), nFiles = 4, keepVersions = 2)
    val v1 = tbl.version
    tbl.append(ev.filter(col("event_id") % 2 === 1))
    require(tbl.versions() == Seq(v1, v1 + 1),
      s"both snapshots must stay retained: ${tbl.versions()}")
    def agg(df: DataFrame, snap: String) = df.groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
      .withColumn("snap", lit(snap))
    agg(tbl.readVersion(v1), "v1").unionByName(agg(tbl.read(), "v2"))
      .select("snap", "event_type", "n", "v")
      .orderBy("snap", "event_type")
  }

  /** Additive schema evolution on the unified table: the even events
    * create the table, the odds append WITH A NEW nullable `flag`
    * column (deterministic: event_id divisible by 3) — the table's
    * schema widens in the same commit, every pre-evolution row reads
    * the new column as null, and the aggregate over the widened table
    * replays in SQL as a CASE over the same arithmetic.
    */
  private[graft] def qSchemaEvolve(s: SparkSession, d: String): DataFrame = {
    val base = Scratch.dir("graft_se") + "/t"
    val ev = t(s, d, "events").select("event_id", "user_id", "event_type", "value")
    val tbl = operators.GraftTable.create(ev.filter(col("event_id") % 2 === 0),
      base, zoneCols = Seq("event_id"), nFiles = 4)
    tbl.append(ev.filter(col("event_id") % 2 === 1)
      .withColumn("flag", col("event_id") % 3 === 0))
    tbl.read()
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"),
        sum(when(col("flag"), 1L).otherwise(0L)).as("flagged"))
      .orderBy("event_type")
  }

  private[graft] def qCompact(s: SparkSession, d: String): DataFrame = {
    val base = Scratch.dir("graft_compact")
    val ev = t(s, d, "events").select("event_id", "user_id", "event_type", "value")
    ev.repartition(50).write.parquet(s"$base/frag")
    // scale-proof target: ~quarter-corpus files, so 50 fragments exceed
    // the ideal-files × slack trigger at EVERY sf (a fixed row target
    // tripped at sf0.01 but silently stopped tripping at sf0.1, where
    // ideal files × slack outgrew the 50 fragments — the r11 bench bug)
    val target = math.max(1L, (ev.count() + 3) / 4)
    require(operators.Compaction.needsCompaction(s, s"$base/frag",
      targetRows = target), "50 scattered files must trip the trigger")
    val (before, after, _) = operators.Compaction.compactTo(
      s, s"$base/frag", s"$base/data", targetRows = target,
      sortCols = Seq("user_id"))
    require(after < before, s"compaction must shrink the file count: $before -> $after")
    operators.ZoneMap.build(s, s"$base/data", Seq("user_id"), s"$base/zones")
    operators.ZoneMap.scan(s, s"$base/data", s"$base/zones",
        Seq(operators.ZoneMap.Range("user_id", 50L, 80L)))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), round(sum("value"), 2).as("v"))
      .orderBy("event_type")
  }

  /** Per-file bloom pruning for point lookups: events landed
    * ROUND-ROBIN (every file spans the full id range — min/max zones
    * keep all 16 files, the layout blooms exist for), blooms built on
    * event_id, then a single-key lookup plans ~1 file. Blooms have no
    * false negatives and the exact predicate re-applies on read, so the
    * oracle is the plain equality filter.
    */
  private[graft] def qBloommap(s: SparkSession, d: String): DataFrame = {
    val base = Scratch.dir("graft_bloom")
    val (data, idx) = (s"$base/data", s"$base/zones")
    t(s, d, "events").select("event_id", "user_id", "event_type", "value")
      .repartition(16).write.parquet(data)
    operators.ZoneMap.build(s, data, Seq("event_id"), idx,
      bloomCols = Seq("event_id"), bloomItems = 100000L, bloomFpp = 0.01)
    val kept = operators.ZoneMap.prunedFiles(s, data, idx,
      Seq(operators.ZoneMap.Point("event_id", 123L))).get
    require(kept.size <= 4, s"bloom must prune the scattered layout: ${kept.size}")
    operators.ZoneMap.scan(s, data, idx,
        Seq(operators.ZoneMap.Point("event_id", 123L)))
      .select("event_id", "user_id", "event_type", "value")
      .orderBy("event_id")
  }

  /** The end-to-end training-data pipeline, composed from the shipped
    * operators and pinned by ONE oracle: quality gate → exact dedup
    * (min-id survivor) → temperature-flattened language mixing (α=0.5)
    * → contiguous global ids in doc order → rendezvous sharding, rolled
    * up per shard over exact integer sums (membership via id_sum,
    * ordering via gid_sum). Every stage is deterministic and
    * hash-reproducible (md5 weights, rounded rates, unique sort keys),
    * so the whole composition replays as one DuckDB CTE chain — the
    * "switch your pipeline to this library" demonstration in a single
    * query.
    */
  private[graft] def qPipeline(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val clean = docs.filter(col("n_chars") >= 150)
    val survivors = clean.join(
      operators.Dedup.exact(clean, "doc_id", Seq("text")).select("doc_id"),
      Seq("doc_id"))
    val mixed = operators.Sampling.temperatureSample(
      survivors, "lang", "doc_id", 0.5)
    val ids = operators.Indexing.globalIds(
      mixed.select("doc_id", "lang"), Seq("doc_id"))
    operators.Indexing.rendezvousShard(ids, "doc_id", 4)
      .groupBy("shard")
      .agg(count(lit(1)).as("n"), sum("doc_id").as("id_sum"),
        sum("gid").as("gid_sum"))
      .orderBy("shard")
  }

  /** KLL/GK-style quantile sketch — implementation-specific, rows-only. */
  private[graft] def qApproxQuantile(s: SparkSession, d: String): DataFrame =
    t(s, d, "lineitem")
      .groupBy("l_returnflag")
      .agg(round(expr("percentile_approx(l_extendedprice, 0.5, 1000)"), 2).as("p50"))
      .orderBy("l_returnflag")


  /** Temperature-flattened language mixing (α = 0.5) over the skewed
    * `lang` column: per-language kept counts, kept-id sums (pinning the
    * exact kept set), and the realized keep rate.
    */
  private[graft] def q85(s: SparkSession, d: String): DataFrame =
    Sampling.temperatureSample(t(s, d, "documents"), "lang", "doc_id", alpha = 0.5)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("id_sum"),
        max("rate").as("rate"))
      .orderBy("lang")

  /** Token-budget trim: keep documents in (n_chars desc, doc_id) order
    * while the inclusive running character total stays ≤ 75k — the
    * "best docs until the budget is spent" selection, grouped per source.
    * Integer arithmetic end to end, so the cut is engine-exact.
    */
  private[graft] def q86(s: SparkSession, d: String): DataFrame =
    Sampling.budgetTrim(t(s, d, "documents"),
        Seq(col("n_chars").desc, col("doc_id")), "n_chars", budget = 75000L)
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum("doc_id").as("id_sum"),
        sum("n_chars").as("chars"))
      .orderBy("source")

  /** Robust MAD outliers on event values per type (k = 3): the group
    * median/MAD (rank-selected order statistics, engine-exact) plus
    * outlier counts and flagged-id sums pinning the exact flag set.
    */
  private[graft] def q87(s: SparkSession, d: String): DataFrame =
    Ingest.madOutliers(t(s, d, "events"), Seq("event_type"), "value", k = 3.0)
      .groupBy("event_type")
      .agg(round(max("med"), 6).as("med"), round(max("mad"), 6).as("mad"),
        count(when(col("is_outlier"), lit(1))).as("n_out"),
        sum(when(col("is_outlier"), col("event_id"))).as("out_ids"))
      .orderBy("event_type")

  /** Bucketed interval-overlap self-join: per-user event intervals
    * [ts, ts + floor(value)] in epoch seconds, all overlapping pairs via
    * the equi-join bucket grid (width 600 s ≥ the max span, so fan-out
    * ≤ 2 buckets/interval), aggregated to per-user pair counts + id-sum
    * checksums. The oracle replays the plain theta self-join.
    */
  private[graft] def q88(s: SparkSession, d: String): DataFrame = {
    val iv = t(s, d, "events").select(col("user_id"), col("event_id"),
      unix_timestamp(col("ts")).as("lo"),
      (unix_timestamp(col("ts")) + floor(col("value")).cast("long")).as("hi"))
    RangeJoin.intervalOverlap(iv, iv, Seq("user_id"), "lo", "hi",
        bucketWidth = 600L)
      .filter(col("l_event_id") < col("r_event_id"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("l_event_id") + col("r_event_id")).as("pair_sum"))
      .orderBy("user_id")
  }

  /** Fuzzy (edit-distance ≤ 2) self-join over the 64 distinct part names
    * (id = min partkey per name): every near-identical name pair with its
    * exact distance, generated by q-gram prefix filtering and verified
    * with levenshtein — the oracle replays the naive theta join.
    */
  private[graft] def q89(s: SparkSession, d: String): DataFrame = {
    val names = t(s, d, "part").groupBy(col("p_name").as("nm"))
      .agg(min("p_partkey").as("id"))
    graft.operators.FuzzyJoin.editDistanceJoin(names, "id", "nm", k = 2, q = 2)
      .orderBy("i", "j")
  }

  /** Entity resolution (composition): near-identical part names clustered
    * into canonical entities — the fuzzy-join pair generation (q89's
    * Ed-Join prefix filter, no cross product), the components closure
    * (dedup_corpus's engine), and a lexicographic-min canonical pick,
    * composed end-to-end. Certifies that the dedup stack generalizes
    * from document identity to entity identity; every (name → canon)
    * assignment is pinned by the oracle's recursive-CTE replay.
    */
  private[graft] def q103(s: SparkSession, d: String): DataFrame = {
    val names = t(s, d, "part").groupBy(col("p_name").as("nm"))
      .agg(min("p_partkey").as("id"))
    val pairs = operators.FuzzyJoin
      .editDistanceJoin(names, "id", "nm", k = 2, q = 2)
      .select("i", "j")
    val labels = operators.Dedup.components(pairs)
    val lab = names.join(labels, names("id") === labels("doc_id"), "left")
      .select(col("nm"), coalesce(col("comp"), col("id")).as("comp"))
    val canon = lab.groupBy("comp").agg(min("nm").as("canon"))
    lab.join(canon, Seq("comp")).select("nm", "canon").orderBy("nm")
  }

  /** Quantile normalization of event values across event types: each
    * row's value maps to the global order statistic at its within-type
    * rank fraction. The per-(type, mapped-value) histogram pins the
    * whole mapping; values are selected elements, so engine-exact.
    */
  private[graft] def q90(s: SparkSession, d: String): DataFrame =
    Sampling.quantileNormalize(
        t(s, d, "events").select("event_type", "value")
          .filter(col("value").isNotNull),
        Seq("event_type"), "value")
      .groupBy(col("event_type"), round(col("qnorm"), 6).as("qn"))
      .agg(count(lit(1)).as("c"))
      .orderBy("event_type", "qn")


  /** Filter-funnel attrition report: every document tagged with the
    * FIRST quality rule it fails (order: nonempty → lang_en → len_band →
    * min_tokens), bucket counts + id sums. Buckets are additive — they
    * sum to the corpus — which per-rule independent counts can't give.
    */
  private[graft] def q91(s: SparkSession, d: String): DataFrame =
    TextAnalysis.filterFunnel(t(s, d, "documents"), Seq(
        "nonempty" -> (length(col("text")) > 0),
        "lang_en" -> (col("lang") === "en"),
        "len_band" -> col("n_chars").between(150, 1500),
        "min_tokens" -> (size(graft.functions.TextFunctions.tokens(col("text"))) >= 30)))
      .groupBy(coalesce(col("fail_rule"), lit("survived")).as("bucket"))
      .agg(count(lit(1)).as("n"), sum("doc_id").as("id_sum"))
      .orderBy("bucket")

  /** Quantized ±1 random projection (JL) of the embeddings to 8 integer
    * components, in tall (vec_id, j, p) form — integer arithmetic and
    * md5-derived signs, so the oracle replays it exactly.
    */
  private[graft] def q92(s: SparkSession, d: String): DataFrame =
    Similarity.randomProject(t(s, d, "embeddings"), "vec_id", "embedding",
        inDim = 64, outDim = 8)
      .select(col("vec_id"), posexplode(col("proj")).as(Seq("j", "p")))
      .orderBy("vec_id", "j")

  /** PSI drift between the first and second half of the events month:
    * 20 fixed bins over value ∈ [0, 500) plus under/overflow, per-bin
    * counts and (rounded) PSI contributions. The oracle replays the
    * smoothing arithmetic exactly.
    */
  private[graft] def q93(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events")
    val cut = lit("2024-01-15").cast("timestamp")
    Ingest.psi(ev.filter(col("ts") < cut), ev.filter(col("ts") >= cut),
        "value", lo = 0.0, hi = 500.0, bins = 20)
      .select(col("bin"), col("n_before"), col("n_after"),
        round(col("contrib"), 9).as("contrib"))
      .orderBy("bin")
  }

  /** Rendezvous-hash shard assignment of documents to 5 shards: per-shard
    * counts and id sums pin every key's argmax. The oracle replays the
    * highest-random-weight pick via a window over the exploded shard list.
    */
  private[graft] def q94(s: SparkSession, d: String): DataFrame =
    Indexing.rendezvousShard(t(s, d, "documents"), "doc_id", nShards = 5)
      .groupBy("shard")
      .agg(count(lit(1)).as("n"), sum("doc_id").as("id_sum"))
      .orderBy("shard")

  /** Key-skew report: the 10 heaviest users by event count with exact
    * ppm shares — the pre-salting diagnosis run.
    */
  private[graft] def q95(s: SparkSession, d: String): DataFrame =
    Ingest.skewReport(t(s, d, "events"), "user_id", topK = 10)


  /** Group-aware 5-fold CV assignment keyed on `source` (all docs of a
    * source share a fold — leakage-safe): per-fold doc counts, id sums,
    * and distinct-source counts.
    */
  private[graft] def q96(s: SparkSession, d: String): DataFrame =
    Sampling.kfold(t(s, d, "documents"), "source", k = 5)
      .groupBy("fold")
      .agg(count(lit(1)).as("n"), sum("doc_id").as("id_sum"),
        countDistinct("source").as("n_src"))
      .orderBy("fold")



  /** Purged time-series 5-fold split of the event stream with a 30-min
    * embargo: contiguous equal-count time folds via the global-rank
    * integer cut, plus the embargo flag naming the fold each row leaks
    * into — q96's temporal sibling ([[Sampling.purgedTimeFolds]]), where
    * hash folds would mix future into past.
    */
  private[graft] def qPurgedFolds(s: SparkSession, d: String): DataFrame =
    Sampling.purgedTimeFolds(
        t(s, d, "events").select(col("event_id"), col("ts")),
        "ts", Seq("event_id"), k = 5, embargoSeconds = 1800)
      .select(col("event_id"), col("fold"), col("emb"))
      .orderBy("event_id")

  /** Correlated EXISTS + NOT EXISTS in one query — the two remaining
    * subquery decorrelation paths (semi- and anti-join rewrites) after
    * q31's scalar and q49's lateral forms.
    */
  private[graft] def q97(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql(
      """SELECT c_custkey, c_name FROM customer c
        |WHERE EXISTS (SELECT 1 FROM orders o
        |              WHERE o.o_custkey = c.c_custkey
        |                AND o.o_totalprice > 400000)
        |  AND NOT EXISTS (SELECT 1 FROM orders o2
        |                  WHERE o2.o_custkey = c.c_custkey
        |                    AND o2.o_orderstatus = 'F')
        |ORDER BY c_custkey""".stripMargin)
  }

  /** Multiset set operations (INTERSECT ALL / EXCEPT ALL) — duplicate-
    * preserving semantics, a different operator family than q07/q19's
    * set-distinct forms.
    */
  private[graft] def q98(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql(
      """WITH ia AS (
        |  SELECT l_quantity AS q FROM lineitem WHERE l_returnflag = 'A'
        |  INTERSECT ALL
        |  SELECT l_quantity FROM lineitem WHERE l_returnflag = 'R'
        |), ea AS (
        |  SELECT l_quantity AS q FROM lineitem WHERE l_returnflag = 'A'
        |  EXCEPT ALL
        |  SELECT l_quantity FROM lineitem WHERE l_returnflag = 'R'
        |)
        |SELECT 'intersect_all' AS op, COUNT(*) AS n,
        |  CAST(SUM(q) AS BIGINT) AS qsum FROM ia
        |UNION ALL
        |SELECT 'except_all' AS op, COUNT(*) AS n,
        |  CAST(SUM(q) AS BIGINT) AS qsum FROM ea
        |ORDER BY op""".stripMargin)
  }

  /** Recursive CTE (Spark 4 WITH RECURSIVE): bounded-depth reachability
    * with path counts over the order graph — the same recursion the
    * DuckDB oracles use, now running native in Spark too.
    */
  private[graft] def q99(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql(
      """WITH RECURSIVE reach(v, d) AS (
        |  SELECT CAST(0 AS BIGINT) AS v, 0 AS d
        |  UNION ALL
        |  SELECT e.dst, r.d + 1
        |  FROM reach r
        |  JOIN (SELECT DISTINCT o_custkey % 50 AS src,
        |               o_orderkey % 50 AS dst FROM orders) e
        |    ON e.src = r.v
        |  WHERE r.d < 3
        |)
        |SELECT v, MIN(d) AS d, COUNT(*) AS paths
        |FROM reach GROUP BY v ORDER BY v""".stripMargin)
  }


  /** Null-safe equality join (`<=>` / IS NOT DISTINCT FROM): a derived
    * bucket key that is NULL for sub-unit values joins a 4-row dimension
    * that includes a NULL-keyed label — the comparator plain `=` can't
    * express (NULL = NULL is NULL; NULL <=> NULL is TRUE).
    */
  private[graft] def q100(s: SparkSession, d: String): DataFrame = {
    val ev = t(s, d, "events").select(
      when(col("value") < 1.0, lit(null).cast("long"))
        .otherwise(floor(col("value") / 100.0).cast("long")).as("k"),
      col("event_id"))
    val dim = s.createDataFrame(Seq(
        (Option.empty[Long], "missing"), (Some(0L), "low"),
        (Some(2L), "mid"), (Some(4L), "high")))
      .toDF("k", "label")
    ev.join(dim, ev("k") <=> dim("k"))
      .groupBy("label")
      .agg(count(lit(1)).as("n"), sum("event_id").as("id_sum"))
      .orderBy("label")
  }

  /** Spark 4 VARIANT path: props parsed with parse_json into a VARIANT
    * column, fields extracted with variant_get — the semi-structured
    * storage type (vs q10's string-path get_json_object).
    */
  private[graft] def q101(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql(
      """SELECT event_type,
        |  COUNT(*) AS n,
        |  CAST(SUM(variant_get(parse_json(props), '$.k', 'long')) AS BIGINT)
        |    AS ksum,
        |  MIN(variant_get(parse_json(props), '$.k', 'int')) AS kmin,
        |  MAX(variant_get(parse_json(props), '$.k', 'int')) AS kmax
        |FROM events WHERE props IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  /** SQL-defined functions (Spark 4 `CREATE FUNCTION ... RETURN`): a
    * scalar UDF and a TABLE function declared in SQL, resolved and
    * INLINED by Catalyst (no opaque closure — pushdown and codegen see
    * through them, unlike a Scala udf()). The oracle states the inlined
    * expressions directly, so the hash only matches if the function
    * bodies round-trip through the SQL front door unchanged.
    */
  private[graft] def q102(s: SparkSession, d: String): DataFrame = {
    Tables.registerAll(s, d)
    s.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_rev(p DOUBLE, disc DOUBLE)
        |RETURNS DOUBLE RETURN p * (1.0 - disc)""".stripMargin)
    s.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION graft_flag_rev(flag STRING)
        |RETURNS TABLE (l_linestatus STRING, rev DOUBLE) RETURN
        |  SELECT l_linestatus,
        |    ROUND(SUM(graft_rev(l_extendedprice, l_discount)), 2)
        |  FROM lineitem WHERE l_returnflag = flag GROUP BY 1""".stripMargin)
    s.sql(
      """SELECT 'A' AS flag, * FROM graft_flag_rev('A')
        |UNION ALL SELECT 'R', * FROM graft_flag_rev('R')
        |ORDER BY flag, l_linestatus""".stripMargin)
  }

  // ------------------------------------------------------------ registry --

}
