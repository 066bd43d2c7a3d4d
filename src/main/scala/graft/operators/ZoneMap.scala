package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StringType}

/** File-level zone maps — the data-skipping layer between partition
  * pruning and row-group statistics: a tiny parquet table holding
  * per-FILE (min, max, null-count) for chosen columns, consulted before
  * a scan so that only files whose value ranges can satisfy the
  * predicate are read at all.
  *
  * Why this exists at 100 TB: partition pruning skips directories, and
  * parquet row-group stats skip pages — but only AFTER the scheduler has
  * opened every footer and launched a task per split. With ~800k files
  * (100 TB at 128 MB), footer-open fan-out is itself the bottleneck for
  * selective queries. A zone map is one metadata row per file (the
  * manifest-file idea of the public table formats — Delta/Iceberg file
  * statistics), so a selective scan plans from a few-MB table instead of
  * the corpus, and the surviving file list goes straight into the
  * reader. The zone table is METADATA-scale by construction: |files|
  * rows regardless of data volume, the same budget a table format's
  * manifest spends.
  *
  * Correctness contract (the part that makes this safe to use blindly):
  *  - CONSERVATIVE: pruning only ever DROPS files whose [min,max]
  *    provably cannot intersect the predicate; [[scan]] re-applies the
  *    exact predicate to the rows it does read, so the result equals the
  *    unpruned scan even when zones are coarse.
  *  - STALENESS-PROOF: [[scan]] lists the data directory (the same
  *    driver-side listing any parquet read performs) and UNIONS files
  *    not yet indexed into the read, unpruned — a lagging index can
  *    never lose rows; files that vanished since indexing are dropped
  *    from the plan rather than failing the read.
  *  - DERIVABLE: the index is a pure function of the data files, so
  *    losing it costs one [[build]] re-scan, never data. [[scan]] falls
  *    back to the full unpruned scan when the index is absent.
  *
  * Null semantics: min/max aggregate over non-null values, so a file
  * whose column is entirely null carries null min/max and is pruned for
  * range predicates — correct, because a range predicate rejects nulls.
  * IS NULL predicates must not be routed through [[Range]] pruning (the
  * per-file `nulls_c` count is persisted for that audit, not consulted
  * by pruning).
  *
  * On-disk layout is the family's versioned-meta discipline
  * ([[ScreenIndex]], [[MaterializedAgg]]): `indexPath/zones` holds the
  * zone rows, `indexPath/meta` a single JSON geometry record — indexed
  * columns, bloom columns, bloom sizing, and the indexed columns' types —
  * written LAST, so its `_SUCCESS` marker commits the index. Geometry
  * therefore lives in exactly one place: [[append]] and [[ingestStream]]
  * take no sizing parameters at all (meta wins), which makes the
  * mis-sized-late-bloom drift of a caller re-guessing build parameters
  * impossible by construction.
  *
  * Maintenance cycle, matching the repo's persistent-index family:
  * [[build]] / [[append]] (new files only, idempotent — keyed on file
  * path) / [[retract]] (drop zone rows for vanished files) / [[rebuild]]
  * (fresh derivation). Zone rows for live files are immutable because
  * parquet files are immutable — there is no update path by design.
  */
object ZoneMap {

  /** A prunable predicate on an indexed column. [[Range]] prunes by
    * zone min/max; [[Point]] additionally consults the per-file bloom
    * filter when one was built — the complement that matters on
    * hash-scattered layouts, where every file spans the full value
    * range (min/max prunes nothing) but each file still CONTAINS only
    * its own keys (a bloom prunes almost everything).
    */
  sealed trait Pred { def col: String }

  /** Inclusive range predicate on an indexed column; `lo`/`hi` may be
    * null for a one-sided bound. Used both for pruning (against zone
    * min/max) and for the exact re-filter on read.
    */
  final case class Range(col: String, lo: Any = null, hi: Any = null)
      extends Pred {
    require(lo != null || hi != null, s"Range on $col needs at least one bound")
  }

  /** Equality predicate. Prunes by zone min/max (when the column is
    * zone-indexed) AND by the per-file bloom (when built) — both checks
    * are conservative, so they compose by AND. `IS NULL` is not a
    * [[Point]]: blooms and min/max both ignore nulls — it is a
    * [[Nulls]].
    */
  final case class Point(col: String, v: Any) extends Pred {
    require(v != null, s"Point on $col needs a non-null value")
  }

  /** Null-membership predicate — the check min/max and blooms (which
    * both ignore nulls) cannot express, pruned from the per-file
    * `nulls_c` count the zone row already records: `IS NULL`
    * (`want = true`) keeps only files that counted at least one null;
    * `IS NOT NULL` keeps files with at least one NON-null row
    * (`cnt > nulls_c` — an all-null stripe prunes away). Catalyst
    * pushes `IsNotNull` beside every comparison it implies, so this
    * rides free on most filters; the `IS NULL` direction is the win on
    * tables where nulls cluster in few files.
    */
  final case class Nulls(col: String, want: Boolean) extends Pred

  private val FileCol = "file"

  /** Canonical file path: scheme AND authority stripped, so
    * `file:/a/b.parquet`, `file:///a/b.parquet` and
    * `hdfs://nn:8020/a/b.parquet` all normalize to the same `/a/b...`
    * form `Path.toUri.getPath` yields — `input_file_name()` carries the
    * full URI while Hadoop listings are keyed authority-free, and the
    * two sides MUST agree or pruning silently never applies (zone keys
    * would never equal the listing) and [[append]] would re-index every
    * file on every call.
    */
  private[operators] def canonical(c: Column): Column =
    regexp_replace(c, "^[a-zA-Z][a-zA-Z0-9+.-]*:(//[^/]*)?(?=/)", "")

  private def listDataFiles(spark: SparkSession, dataPath: String): Seq[String] = {
    val p = new Path(dataPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return Nil
    val it = fs.listFiles(p, true)
    val out = Seq.newBuilder[String]
    while (it.hasNext) {
      val f = it.next()
      val name = f.getPath.getName
      if (f.isFile && name.endsWith(".parquet") && !name.startsWith("_") &&
        !name.startsWith("."))
        out += f.getPath.toUri.getPath
    }
    out.result()
  }

  /** Bloom sizing: bits for `items` at false-positive rate `fpp`
    * (the standard m = −n·ln p / ln²2), floored at 64.
    */
  private def bloomBits(items: Long, fpp: Double): Long =
    math.max(64L, math.ceil(
      -items * math.log(fpp) / (math.log(2) * math.log(2))).toLong)

  /** What a bloom hashes: the value's STRING form as the ENGINE casts
    * it. The probe side ([[probeHash]]) routes the caller's literal
    * through the same two casts — to the indexed column's data type,
    * then to string — so a probe value whose Scala rendering differs
    * from the SQL cast (`Point("v", 123)` on a DoubleType column is
    * "123.0" to the engine, a timestamp's `toString` carries a trailing
    * ".0") can never hash differently. A hash mismatch here would be a
    * silent FALSE NEGATIVE — files dropped that contain matching rows —
    * the one failure mode a pruning index must never have.
    *
    * The cast is PINNED to UTC, not left to the analyzer: a bare
    * `cast("string")` resolves with the SESSION time zone, and
    * [[probeHash]] evaluates driver-side with an explicit zone — if the
    * two differed, every timestamp bloom built under a non-UTC session
    * would silently false-negative on probe (index side renders local
    * time, probe side UTC, hashes diverge). Pinning the SAME constant
    * zone on both sides makes them agree regardless of session config,
    * and keeps a persisted index portable across sessions with
    * different zones — a session-zone key would bake the builder's
    * zone into the bits with no record of it in meta.
    */
  private def bloomKey(c: Column): Column = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, XxHash64}
    val bridge = org.apache.spark.sql.graft.ColumnBridge
    bridge.column(XxHash64(
      Seq(Cast(bridge.expression(c), StringType, Some("UTC"))), 42L))
  }

  /** [[bloomKey]] for sibling operators probing manifest blooms
    * DISTRIBUTED-side (e.g. [[GraftTable]]'s merge rewrite-set
    * tightening hashes batch keys in the executors): the exact hash the
    * bits were built under, so cross-module probes can never diverge
    * from the scheme tag.
    */
  private[operators] def bloomHash(c: Column): Column = bloomKey(c)

  /** The probe-side twin of [[bloomKey]]: cast the literal to the
    * indexed column's type, then to string, through Catalyst itself —
    * identical canonicalization by construction. Fails loudly on a
    * probe value the column type cannot hold rather than guessing.
    */
  private def probeHash(v: Any, dt: DataType): Long = {
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, XxHash64}
    val typed = Cast(Literal(v), dt, Some("UTC"))
    XxHash64(Seq(Cast(typed, StringType, Some("UTC"))), 42L)
      .eval(null).asInstanceOf[Long]
  }

  private def bloomAgg(c: String, items: Long, bits: Long): Column =
    org.apache.spark.sql.graft.ColumnBridge.column(
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        org.apache.spark.sql.graft.ColumnBridge.expression(bloomKey(col(c))),
        org.apache.spark.sql.catalyst.expressions.Literal(items),
        org.apache.spark.sql.catalyst.expressions.Literal(bits))
        .toAggregateExpression())

  /** Zone rows for every file behind `df` (one group per file out of a
    * single scan): `(file, cnt, min_c…, max_c…, nulls_c…[, bloom_c…])`.
    * The shuffle moves |files| tiny rows (a bloom adds its fixed bit
    * array); partial aggregation collapses everything map-side first.
    * Blooms hash via `xxhash64`, the same hash [[survives]] probes
    * with; each file's bloom is self-contained, so files indexed by
    * different calls never need matching sizes — but [[append]] reads
    * sizing from meta anyway, so they DO match.
    */
  private[operators] def zoneRows(df: DataFrame,
      cols: Seq[String], bloomCols: Seq[String],
      bloomItems: Long, bloomFpp: Double): DataFrame = {
    val aggs = cols.flatMap { c => Seq(
      min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"),
      sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"nulls_$c"))
    } ++ bloomCols.map { c =>
      bloomAgg(c, bloomItems, bloomBits(bloomItems, bloomFpp)).as(s"bloom_$c")
    }
    df.groupBy(canonical(input_file_name()).as(FileCol))
      .agg(count(lit(1)).as("cnt"), aggs: _*)
  }

  /** What the bloom bits hash, as a versioned tag written by build and
    * CHECKED against on read: pre-tag indexes hashed the SESSION-zone
    * string cast of timestamps (the bug the UTC pin fixed), so their
    * bloom bits silently false-negative when probed under a different
    * zone — the one failure a pruning index must never have. A bloomed
    * index whose meta carries a different scheme is refused
    * loudly with a rebuild instruction instead of probed wrong;
    * min/max-only indexes are scheme-independent and unaffected.
    */
  private[operators] val BloomScheme = "xxhash64(utc-string),seed=42"

  /** The persisted geometry: indexed cols, bloom cols, bloom sizing,
    * the DDL type of every indexed/bloomed column (the probe-side
    * cast target — without it a bloom-only column's probe could not be
    * canonicalized through the engine), and the bloom hash scheme tag.
    */
  private[operators] final case class Meta(cols: Seq[String],
      bloomCols: Seq[String], bloomItems: Long, bloomFpp: Double,
      types: Map[String, String], scheme: String = BloomScheme) {
    def dataType(c: String): DataType = DataType.fromDDL(types(c))
  }

  private def writeMeta(spark: SparkSession, indexPath: String, m: Meta): Unit = {
    import org.json4s.JsonDSL._
    val (tc, td) = m.types.toSeq.sorted.unzip
    MetaIo.write(spark, s"$indexPath/meta",
      ("cols" -> m.cols) ~ ("bloom_cols" -> m.bloomCols) ~
        ("bloom_items" -> m.bloomItems) ~ ("bloom_fpp" -> m.bloomFpp) ~
        ("type_cols" -> tc) ~ ("type_ddls" -> td) ~
        ("bloom_scheme" -> m.scheme))
  }

  private def readMeta(spark: SparkSession, indexPath: String): Meta = {
    import org.json4s.DefaultFormats
    implicit val fmts: DefaultFormats.type = DefaultFormats
    val j = MetaIo.read(spark, s"$indexPath/meta")
    val m = Meta(
      (j \ "cols").extract[Seq[String]],
      (j \ "bloom_cols").extract[Seq[String]],
      (j \ "bloom_items").extract[Long],
      (j \ "bloom_fpp").extract[Double],
      (j \ "type_cols").extract[Seq[String]]
        .zip((j \ "type_ddls").extract[Seq[String]]).toMap,
      (j \ "bloom_scheme").extract[String])
    require(m.bloomCols.isEmpty || m.scheme == BloomScheme,
      s"zone-map index at $indexPath has bloom bits under hash scheme " +
        s"'${m.scheme}' but this engine probes '$BloomScheme' — indexes " +
        "built before the UTC cast pin hashed session-local timestamp " +
        "strings and can silently false-negative; rebuild the index " +
        "(ZoneMap.rebuild) instead of probing it")
    m
  }

  /** Derive the zone table for every data file currently under
    * `dataPath` and publish it at `indexPath`: zone rows first, the
    * geometry meta LAST — its `_SUCCESS` marker commits the index
    * (the family's meta-written-last discipline). The index is
    * derivable metadata and [[scan]] tolerates its absence, so a crash
    * anywhere in the window costs a re-run, not correctness.
    *
    * @return number of files indexed
    */
  def build(spark: SparkSession, dataPath: String, cols: Seq[String],
      indexPath: String, bloomCols: Seq[String] = Nil,
      bloomItems: Long = 1000000L, bloomFpp: Double = 0.03): Long = {
    require(cols.nonEmpty || bloomCols.nonEmpty,
      "ZoneMap.build needs at least one column")
    val files = listDataFiles(spark, dataPath)
    require(files.nonEmpty, s"no parquet files under $dataPath")
    val df = spark.read.parquet(files: _*)
    val types = (cols ++ bloomCols).distinct
      .map(c => c -> df.schema(c).dataType.sql).toMap
    zoneRows(df, cols, bloomCols, bloomItems, bloomFpp)
      .repartition(1) // |files| metadata rows — one file keeps reads cheap
      .write.mode(SaveMode.Overwrite).parquet(s"$indexPath/zones")
    writeMeta(spark, indexPath, Meta(cols, bloomCols, bloomItems, bloomFpp, types))
    files.size.toLong
  }

  /** The persisted zone table + geometry, or None when absent or not
    * yet committed (meta is written last, so its `_SUCCESS` gates both).
    */
  private def committed(spark: SparkSession,
      indexPath: String): Option[(DataFrame, Meta)] = {
    val p = new Path(indexPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(new Path(s"$indexPath/meta/_SUCCESS")) &&
      fs.exists(new Path(s"$indexPath/zones/_SUCCESS")))
      Some((spark.read.parquet(s"$indexPath/zones"), readMeta(spark, indexPath)))
    else None
  }

  /** The persisted zone table, or None when absent/uncommitted. */
  def zones(spark: SparkSession, indexPath: String): Option[DataFrame] =
    committed(spark, indexPath).map(_._1)

  /** Index files that appeared since the last build/append — the
    * incremental leg of the maintenance cycle. Keyed on the canonical
    * file path, so re-running after a partial ingest (or an at-least-
    * once redelivery of the same files) appends nothing twice; a zone
    * row, once written, is immutable because its file is. Geometry —
    * columns AND bloom sizing — comes from meta, never from the caller:
    * late files' blooms are sized exactly like the build's.
    *
    * @return number of newly indexed files
    */
  def append(spark: SparkSession, dataPath: String, indexPath: String): Long = {
    val (z, m) = committed(spark, indexPath).getOrElse(
      throw new IllegalStateException(
        s"no committed zone map at $indexPath - build first"))
    val have = z.select(FileCol).collect().map(_.getString(0)).toSet
    val fresh = listDataFiles(spark, dataPath).filterNot(have)
    if (fresh.isEmpty) return 0L
    zoneRows(spark.read.parquet(fresh: _*), m.cols, m.bloomCols,
        m.bloomItems, m.bloomFpp)
      .repartition(1)
      .write.mode(SaveMode.Append).parquet(s"$indexPath/zones")
    fresh.size.toLong
  }

  /** Drop zone rows whose files no longer exist (after a compaction or
    * retention delete). The rewrite is a distributed filter over the
    * zone table (materialized via localCheckpoint before the overwrite,
    * since a plan cannot read the directory it replaces) — no
    * driver-side row materialization; only the live-file LIST is driver
    * state, the same listing every maintenance leg holds.
    *
    * @return number of zone rows retracted
    */
  def retract(spark: SparkSession, dataPath: String, indexPath: String): Long = {
    val z = zones(spark, indexPath).getOrElse(return 0L)
    val live = listDataFiles(spark, dataPath).toSet
    val total = z.count()
    val keep = z.filter(col(FileCol).isInCollection(live)).localCheckpoint(true)
    val dropped = total - keep.count()
    if (dropped == 0L) return 0L
    keep.repartition(1).write.mode(SaveMode.Overwrite).parquet(s"$indexPath/zones")
    dropped
  }

  /** Fresh derivation at a (possibly new) location — the rebuild leg. */
  def rebuild(spark: SparkSession, dataPath: String, cols: Seq[String],
      toPath: String, bloomCols: Seq[String] = Nil): Long =
    build(spark, dataPath, cols, toPath, bloomCols)

  /** How stale is the index: (files on disk but unindexed, zone rows
    * whose files vanished). (0, 0) means the index exactly covers the
    * data; a nonzero first component only costs [[scan]] pruning power,
    * never correctness.
    */
  def staleness(spark: SparkSession, dataPath: String,
      indexPath: String): (Long, Long) = {
    val disk = listDataFiles(spark, dataPath).toSet
    val idx = zones(spark, indexPath) match {
      case Some(z) => z.select(FileCol).collect().map(_.getString(0)).toSet
      case None => Set.empty[String]
    }
    ((disk diff idx).size.toLong, (idx diff disk).size.toLong)
  }

  /** Survivor test for one file's zone row against every predicate:
    * keep the file iff EACH check that exists for its column can
    * intersect — null min/max (all-null column in that file) fails
    * every range/point, correctly, because both reject nulls; a bloom
    * miss (no false negatives) proves the key absent. Every check is
    * conservative, so multiple checks on one column compose by AND.
    */
  /** Is a probe literal a float/double NaN? NaN check values must not
    * prune on min/max: footer-derived bounds (and any writer following
    * PARQUET-1246) EXCLUDE NaN from min/max, while Spark's ordering
    * calls NaN the maximum — so a NaN-bearing file could carry clean
    * bounds below the probe and be mis-pruned. NaN probes are vanishingly
    * rare; surviving them unconditionally is the conservative fix.
    */
  private def isNan(v: Any): Boolean = v match {
    case d: Double => d.isNaN
    case f: Float => f.isNaN
    case d: java.lang.Double => d.isNaN
    case f: java.lang.Float => f.isNaN
    case _ => false
  }

  private[operators] def survives(preds: Seq[Pred], zoned: Set[String],
      bloomed: Set[String]): Column =
    preds.map {
      case Range(c, lo0, hi0) =>
        require(zoned(c), s"column $c not zone-indexed " +
          s"(indexed: ${zoned.mkString(", ")})")
        val lo = if (lo0 == null || isNan(lo0)) lit(true)
          else col(s"max_$c").isNotNull && col(s"max_$c") >= lit(lo0)
        val hi = if (hi0 == null) lit(true)
          else col(s"min_$c").isNotNull && col(s"min_$c") <= lit(hi0)
        lo && hi
      case Point(c, v) =>
        require(zoned(c) || bloomed(c), s"column $c neither zone- nor " +
          s"bloom-indexed (zones: ${zoned.mkString(", ")}; " +
          s"blooms: ${bloomed.mkString(", ")})")
        // the bloom half of a Point check is conjoined EXECUTOR-side by
        // [[pruneFrame]] — bloom bytes never leave the executors
        if (zoned(c) && !isNan(v))
          col(s"max_$c").isNotNull && col(s"max_$c") >= lit(v) &&
            col(s"min_$c") <= lit(v)
        else lit(true)
      case Nulls(c, want) =>
        require(zoned(c), s"column $c not zone-indexed " +
          s"(indexed: ${zoned.mkString(", ")}) — null counts live in " +
          "the zone row")
        if (want) col(s"nulls_$c") > lit(0L)
        else col("cnt") > col(s"nulls_$c")
    }.reduce(_ && _)

  /** The exact row-level predicate the preds describe — re-applied on
    * read so pruning coarseness can never change results.
    */
  def predicate(preds: Seq[Pred]): Column =
    preds.map {
      case Range(c, lo0, hi0) =>
        val lo = if (lo0 == null) lit(true) else col(c) >= lit(lo0)
        val hi = if (hi0 == null) lit(true) else col(c) <= lit(hi0)
        lo && hi
      case Point(c, v) => col(c) === lit(v)
      case Nulls(c, want) => if (want) col(c).isNull else col(c).isNotNull
    }.reduce(_ && _)

  /** A pruning spec in conjunctive normal form: AND over the outer
    * list, OR over the middle, AND over each inner conjunct list — the
    * shape Catalyst's pushed filters naturally take (the filter array
    * is an implicit AND; each filter may be an OR of prunable arms, an
    * IN list expanding to one Point per value, or a plain conjunct).
    * `Seq(Seq(preds))` is the classic all-AND spec.
    */
  type Cnf = Seq[Seq[Seq[Pred]]]

  /** One conjunct's file-survival Column (zone check + the bloom half
    * of each Point on a bloom-indexed column, all EXECUTOR-side). An
    * empty conjunct survives everything (`true`), so disjunct algebra
    * composes cleanly. The bloom half reads from `hitIdx`/`_bloomhits_*`
    * — the per-column BATCHED probe [[pruneFrameCnf]] projects once per
    * file row — so a 50-way IN (50 Point disjuncts on one column)
    * deserializes each file's bloom ONCE, not 50 times.
    */
  private def keepCond(meta: Meta, zoned: Set[String],
      hitIdx: Map[(String, Long), Int], preds: Seq[Pred]): Column = {
    val bloomed = meta.bloomCols.toSet
    val bloomPts = preds.collect {
      case p: Point if bloomed(p.col) =>
        (p.col, probeHash(p.v, meta.dataType(p.col)))
    }.distinct.filter(hitIdx.contains)
    val base =
      if (preds.isEmpty) lit(true) else survives(preds, zoned, bloomed)
    bloomPts.foldLeft(base) { case (acc, key @ (bc, _)) =>
      // element_at is 1-indexed; the hits array is positionally aligned
      // with the distinct hash list projected for this column
      acc && element_at(col(s"_bloomhits_$bc"), hitIdx(key) + 1)
    }
  }

  /** The pruning verdict frame `(file, _keep)` for the indexed rows of
    * `z` under `preds` — EVERY check, including the bloom half of each
    * Point predicate, evaluates EXECUTOR-side, so the only thing a
    * caller ever collects is file names and booleans. This matters at
    * scale: at the default sizing (1M items, fpp 0.03 → ~912 KB of bits
    * per file per column) an 800k-file table's blooms are ~700 GB —
    * collecting them to probe driver-side (the pre-r15 shape) is an
    * OOM, not a slowdown. The probe UDF deserializes each file's bloom
    * once per predicate in the executor that holds the row (metadata
    * scale — |files| rows), the exact [[GraftTable]] merge `anyHit`
    * discipline. A null bloom (all-null column in that file) cannot
    * contain the key → pruned; no false negatives otherwise.
    */
  private[operators] def pruneFrame(z: DataFrame, meta: Meta,
      preds: Seq[Pred]): DataFrame = pruneFrameCnf(z, meta, Seq(Seq(preds)))

  /** [[pruneFrame]] generalized to a [[Cnf]] spec: a file survives iff
    * every OR-group has SOME disjunct whose conjuncts all intersect it —
    * per-disjunct pruning unioned by the OR, exactly the conservative
    * fix for `k < 10 OR k > 90` (each arm prunes independently; the
    * survivor union is read). Still one executor-side pass, one
    * (file, _keep) collect.
    */
  private[operators] def pruneFrameCnf(z: DataFrame, meta: Meta,
      cnf: Cnf): DataFrame = {
    val zoned = z.schema.fieldNames
      .collect { case f if f.startsWith("min_") => f.drop(4) }.toSet
    // a [[Nulls]] check needs the per-file null count; a manifest
    // predating it simply cannot prune that pred (dropping a conjunct
    // member widens — conservative)
    val nulled = z.schema.fieldNames
      .collect { case f if f.startsWith("nulls_") => f.drop(6) }.toSet
    def usable(conj: Seq[Pred]): Seq[Pred] = conj.filter {
      case Nulls(c, _) => nulled(c)
      case _ => true
    }
    // BATCH the bloom probes: every distinct (bloom column, hash) the
    // whole CNF will ever ask about is probed in ONE pass per column —
    // `_bloomhits_c` holds the per-hash verdicts, each file's bloom
    // deserializing once per COLUMN instead of once per predicate
    // (|files| × |preds| deserializations was the pre-r17 shape; a
    // 50-way IN paid it 50×). Verdicts are booleans, bloom bytes still
    // never leave the executors.
    val bloomed = meta.bloomCols.toSet
    val have = z.schema.fieldNames.toSet
    val colHashes: Map[String, Seq[Long]] = cnf.flatten.flatMap(usable)
      .collect {
        case p: Point if bloomed(p.col) && have(s"bloom_${p.col}") =>
          (p.col, probeHash(p.v, meta.dataType(p.col)))
      }.distinct.groupBy(_._1).map { case (c, hs) => c -> hs.map(_._2) }
    val hitIdx: Map[(String, Long), Int] = colHashes.flatMap {
      case (c, hs) => hs.zipWithIndex.map { case (h, i) => (c, h) -> i }
    }
    val probeAll = udf((bytes: Array[Byte], hs: Seq[Long]) =>
      if (bytes == null) hs.map(_ => false)
      else {
        val bf = org.apache.spark.util.sketch.BloomFilter
          .readFrom(new java.io.ByteArrayInputStream(bytes))
        hs.map(bf.mightContainLong)
      })
    val z2 = colHashes.foldLeft(z) { case (acc, (c, hs)) =>
      acc.withColumn(s"_bloomhits_$c",
        probeAll(col(s"bloom_$c"), typedLit(hs)))
    }
    val keep =
      if (cnf.isEmpty) lit(true)
      else cnf.map { dnf =>
        if (dnf.isEmpty) lit(true)
        else dnf.map(conj => keepCond(meta, zoned, hitIdx, usable(conj)))
          .reduce(_ || _)
      }.reduce(_ && _)
    z2.select(col(FileCol), keep.as("_keep"))
  }

  /** Survivors of zone + bloom pruning among the indexed rows of `z`:
    * ONE collect of [[pruneFrame]]'s `(file, _keep)` rows — strings and
    * booleans only, never bloom bytes (ZoneMapSpec pins the collected
    * schema). Returns (survivor files, all indexed files). Shared with
    * [[graft.operators.GraftTable]], whose manifest rows have the same
    * shape.
    */
  private[operators] def pruneZoneRows(z: DataFrame, meta: Meta,
      preds: Seq[Pred]): (Seq[String], Set[String]) =
    pruneZoneRowsCnf(z, meta, Seq(Seq(preds)))

  /** [[pruneZoneRows]] over a [[Cnf]] spec — same single
    * (file, _keep) collect. */
  private[operators] def pruneZoneRowsCnf(z: DataFrame, meta: Meta,
      cnf: Cnf): (Seq[String], Set[String]) = {
    val rows = pruneFrameCnf(z, meta, cnf).collect()
    (rows.filter(_.getBoolean(1)).map(_.getString(0)).toSeq,
      rows.map(_.getString(0)).toSet)
  }

  /** Driver-side twin of [[pruneZoneRowsCnf]] over an already-collected
    * manifest snapshot (NON-BLOOM tables only — bloom bytes must stay
    * executor-side): the same conservative algebra as [[survives]] /
    * [[keepCond]], evaluated per row with zero Spark jobs. STRICTLY
    * GATED: returns None — caller falls back to the executor path,
    * which also owns the loud non-indexed-pred requires — whenever the
    * table carries blooms, a pred names a non-indexed column, or a probe
    * literal's runtime class differs from the zone value's (the executor
    * path's Catalyst coercion has no driver twin). Comparison semantics
    * mirror Spark's: UTF8String byte order for strings, NaN greatest and
    * ±0.0 equal for floats.
    */
  private[operators] def pruneSnapCnf(schema: org.apache.spark.sql.types.StructType,
      rows: Array[org.apache.spark.sql.Row], meta: Meta, cnf: Cnf)
      : Option[(Seq[String], Set[String])] = {
    if (meta.bloomCols.nonEmpty) return None
    val names = schema.fieldNames
    val zoned = names.collect { case f if f.startsWith("min_") => f.drop(4) }.toSet
    val nulled = names.collect { case f if f.startsWith("nulls_") => f.drop(6) }.toSet
    def usable(conj: Seq[Pred]): Seq[Pred] = conj.filter {
      case Nulls(c, _) => nulled(c)
      case _ => true
    }
    def cmp(a: Any, b: Any): Option[Int] = (a, b) match {
      case (x: java.lang.Double, y: java.lang.Double) =>
        Some(if (x.doubleValue == y.doubleValue) 0
             else java.lang.Double.compare(x, y))
      case (x: java.lang.Float, y: java.lang.Float) =>
        Some(if (x.floatValue == y.floatValue) 0
             else java.lang.Float.compare(x, y))
      case (x: String, y: String) =>
        Some(org.apache.spark.unsafe.types.UTF8String.fromString(x)
          .compareTo(org.apache.spark.unsafe.types.UTF8String.fromString(y)))
      case (x: java.lang.Long, y: java.lang.Long) => Some(x.compareTo(y))
      case (x: java.lang.Integer, y: java.lang.Integer) => Some(x.compareTo(y))
      case (x: java.lang.Short, y: java.lang.Short) => Some(x.compareTo(y))
      case (x: java.lang.Byte, y: java.lang.Byte) => Some(x.compareTo(y))
      case (x: java.lang.Boolean, y: java.lang.Boolean) => Some(x.compareTo(y))
      case _ => None
    }
    val fileIx = schema.fieldIndex(FileCol)
    val ixOf = names.zipWithIndex.toMap
    def check(r: org.apache.spark.sql.Row, p: Pred): Option[Boolean] = p match {
      case Range(c, lo0, hi0) =>
        if (!zoned(c)) return None
        val mnIx = ixOf(s"min_$c"); val mxIx = ixOf(s"max_$c")
        val lo =
          if (lo0 == null || isNan(lo0)) Some(true)
          else if (r.isNullAt(mxIx)) Some(false)
          else cmp(r.get(mxIx), lo0).map(_ >= 0)
        val hi =
          if (hi0 == null) Some(true)
          else if (r.isNullAt(mnIx)) Some(false)
          else cmp(r.get(mnIx), hi0).map(_ <= 0)
        for (a <- lo; b <- hi) yield a && b
      case Point(c, v) =>
        if (!zoned(c)) None // bloom-only Point or unindexed: executor path
        else if (isNan(v)) Some(true)
        else {
          val mnIx = ixOf(s"min_$c"); val mxIx = ixOf(s"max_$c")
          if (r.isNullAt(mxIx) || r.isNullAt(mnIx)) Some(false)
          else for (a <- cmp(r.get(mxIx), v); b <- cmp(r.get(mnIx), v))
            yield a >= 0 && b <= 0
        }
      case Nulls(c, want) =>
        if (!zoned(c)) return None
        val nlIx = ixOf(s"nulls_$c")
        if (want) Some(!r.isNullAt(nlIx) && r.getLong(nlIx) > 0L)
        else {
          val cntIx = ixOf("cnt")
          Some(!r.isNullAt(nlIx) && !r.isNullAt(cntIx) &&
            r.getLong(cntIx) > r.getLong(nlIx))
        }
    }
    def keep(r: org.apache.spark.sql.Row): Option[Boolean] =
      if (cnf.isEmpty) Some(true)
      else cnf.foldLeft(Option(true)) { (accO, dnf) =>
        accO.flatMap { acc =>
          if (dnf.isEmpty) Some(acc)
          else dnf.foldLeft(Option(false)) { (orO, conj) =>
            orO.flatMap { or =>
              val preds = usable(conj)
              if (preds.isEmpty) Some(true)
              else preds.foldLeft(Option(true)) { (andO, p) =>
                andO.flatMap(and => check(r, p).map(and && _))
              }.map(or || _)
            }
          }.map(acc && _)
        }
      }
    val survivors = Seq.newBuilder[String]
    val all = Set.newBuilder[String]
    rows.foreach { r =>
      val f = r.getString(fileIx)
      all += f
      keep(r) match {
        case Some(true) => survivors += f
        case Some(false) => ()
        case None => return None
      }
    }
    Some((survivors.result(), all.result()))
  }

  /** File paths a pruned scan must read: indexed survivors that still
    * exist, plus every not-yet-indexed file (unpruned — staleness must
    * widen the read, never narrow it). None = no committed index, caller
    * should full-scan.
    */
  def prunedFiles(spark: SparkSession, dataPath: String, indexPath: String,
      preds: Seq[Pred]): Option[Seq[String]] =
    committed(spark, indexPath).map { case (z, m) =>
      val (survivors, idx) = pruneZoneRows(z, m, preds)
      val disk = listDataFiles(spark, dataPath)
      val unindexed = disk.filterNot(idx)
      survivors.filter(disk.toSet) ++ unindexed
    }

  /** Continuous ingest with zone maintenance folded into the sink: each
    * micro-batch lands as fresh data files, then the unindexed-file diff
    * indexes exactly those files (first batch bootstraps via [[build]],
    * which persists the bloom sizing every later [[append]] reads back —
    * geometry is forwarded once and then owned by meta). The index may
    * lag the sink arbitrarily — a crash between the data write and the
    * zone append, a redelivered batch, a maintenance pass that never ran
    * — and scans stay exact throughout, because staleness only WIDENS
    * the read; the next append heals the whole backlog at once, since
    * the diff sees every unindexed file, not just its own batch's. This
    * is the guard-free idempotence argument of
    * [[Sketches.hllSliceStream]] in file-key form: the zone row for
    * a file is a pure function of that immutable file, so re-running
    * maintenance can never write a second, different row for it.
    *
    * Scope of the claim: the INDEX stays exact over whatever data
    * landed. The data sink itself is at-least-once — a redelivered
    * batch re-lands its rows as fresh files (which the index then
    * indexes, correctly); route through a keyed upsert sink instead
    * when row-level exactly-once matters.
    */
  def ingestStream(df: DataFrame, cols: Seq[String], dataDir: String,
      indexPath: String, checkpointDir: String,
      bloomCols: Seq[String] = Nil, bloomItems: Long = 1000000L,
      bloomFpp: Double = 0.03): Unit =
    IndexStream.run(df, checkpointDir) { batch =>
      batch.write.mode(SaveMode.Append).parquet(dataDir)
      val spark = batch.sparkSession
      if (zones(spark, indexPath).isEmpty)
        build(spark, dataDir, cols, indexPath, bloomCols, bloomItems, bloomFpp)
      else append(spark, dataDir, indexPath)
    }

  /** Zone-map-pruned scan of `dataPath` under `preds`: reads only the
    * surviving files and re-applies the exact predicate. Result is
    * row-identical to `spark.read.parquet(dataPath).filter(predicate)`
    * under ANY index state (fresh, stale, or missing) — the index only
    * changes how many files open.
    */
  def scan(spark: SparkSession, dataPath: String, indexPath: String,
      preds: Seq[Pred]): DataFrame = {
    require(preds.nonEmpty, "ZoneMap.scan needs at least one range")
    val full = spark.read.parquet(dataPath)
    prunedFiles(spark, dataPath, indexPath, preds) match {
      case None => full.filter(predicate(preds))
      case Some(Nil) => full.filter(lit(false)) // schema-only, zero splits read
      case Some(files) =>
        spark.read.schema(full.schema).parquet(files: _*)
          .filter(predicate(preds))
    }
  }
}
