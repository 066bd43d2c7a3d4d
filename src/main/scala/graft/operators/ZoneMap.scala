package graft.operators

import scala.collection.mutable
import scala.util.Try

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.analysis.{AnsiTypeCoercion, TypeCoercion}
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast,
  EvalMode, Expression, Literal, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.optimizer.NormalizeNaNAndZero
import org.apache.spark.sql.catalyst.types.PhysicalDataType
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, DateType, DoubleType,
  FloatType, NumericType, StringType, StructType, TimestampNTZType,
  TimestampType}

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
  * Pruning is ONE evaluator, the [[Pruner]] ([[pruner]] compiles it on
  * the driver): it judges zone rows on the driver over a collected
  * snapshot ([[GraftTable]]'s manifests, whose blooms sit in per-file
  * sidecars) or in executors ([[pruneFrameCnf]]) over this index's zone
  * rows, whose blooms ride in the row, comparing in the type and under
  * the ordering Catalyst itself uses.
  *
  * Null semantics: min/max aggregate over non-null values, so a file
  * whose column is entirely null carries null min/max and is pruned for
  * range and point predicates — correct, because both reject nulls.
  * IS NULL / IS NOT NULL are [[Nulls]] predicates, pruned from the
  * per-file `nulls_c` count.
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
  * [[build]] (also the fresh derivation) / [[append]] (new files only,
  * idempotent — keyed on file path) / [[retract]] (drop zone rows for
  * vanished files). Zone rows for live files are immutable because
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
    * the one failure mode a pruning index must never have. Sibling
    * operators hash through this too ([[GraftTable]]'s sidecar blooms and
    * the batch keys its merge candidacy probes them with).
    *
    * Float and double values are normalized first (Catalyst's
    * [[NormalizeNaNAndZero]], on both sides): `-0.0 = 0.0` holds in SQL,
    * but their strings differ, and a SQL `0.0` literal is a decimal,
    * which has no signed zero — unnormalized, a file holding `-0.0`
    * would hash away from the probe and be dropped.
    *
    * The cast is PINNED to UTC, not left to the analyzer: a bare
    * `cast("string")` resolves with the SESSION time zone, and
    * [[probeHash]] evaluates driver-side with an explicit zone — if the
    * two differed, every timestamp bloom built under a non-UTC session
    * would silently false-negative on probe. Pinning the SAME constant
    * zone on both sides makes them agree regardless of session config,
    * and keeps a persisted index portable across sessions with
    * different zones — a session-zone key would bake the builder's
    * zone into the bits with no record of it in meta.
    */
  private[operators] def bloomHash(c: Column, dt: DataType): Column =
    ColumnBridge.column(hashOf(ColumnBridge.expression(c), dt))

  private def hashOf(e: Expression, dt: DataType): Expression = {
    val normalized = dt match {
      case FloatType | DoubleType => NormalizeNaNAndZero(e)
      case _ => e
    }
    XxHash64(Seq(Cast(normalized, StringType, Some("UTC"))), 42L)
  }

  /** The probe-side twin of [[bloomHash]]: cast the literal to the
    * indexed column's type as a comparison would (session zone `tz`),
    * then to string, through Catalyst itself — identical
    * canonicalization by construction. Fails loudly on a probe value
    * the column type cannot hold rather than guessing.
    */
  private def probeHash(v: Any, dt: DataType, tz: String): Long =
    hashOf(Cast(Literal(v), dt, Some(tz)), dt).eval(null).asInstanceOf[Long]

  private def bloomAgg(c: String, dt: DataType, items: Long,
      bits: Long): Column =
    ColumnBridge.column(new BloomFilterAggregate(
      ColumnBridge.expression(bloomHash(col(c), dt)), Literal(items),
      Literal(bits)).toAggregateExpression())

  /** Zone rows for every file behind `df` (one group per file out of a
    * single scan): `(file, cnt, (min_c, max_c, nulls_c)…[, bloom_c…])`,
    * each bloom its serialized bits, null where the file holds no
    * non-null value of the column.
    * The shuffle moves |files| tiny rows (a bloom adds its fixed bit
    * array); partial aggregation collapses everything map-side first.
    * Every zone column gets its `nulls_c` count, which [[Nulls]] prunes
    * on. Blooms hash via `xxhash64`, the same hash [[probeHash]] probes
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
      bloomAgg(c, df.schema(c).dataType, bloomItems,
        bloomBits(bloomItems, bloomFpp)).as(s"bloom_$c")
    }
    df.groupBy(canonical(input_file_name()).as(FileCol))
      .agg(count(lit(1)).as("cnt"), aggs: _*)
  }

  /** What the bloom bits hash, as a versioned tag written by build and
    * CHECKED against on read. Earlier schemes can silently
    * false-negative under this engine's probes — the one failure a
    * pruning index must never have: the first hashed the SESSION-zone
    * string cast of timestamps (fixed by the UTC pin), the second hashed
    * `-0.0` apart from `0.0` (fixed by normalizing floats). A bloomed
    * index whose meta carries a different scheme is refused loudly with
    * a rebuild instruction instead of probed wrong; min/max-only indexes
    * are scheme-independent and unaffected.
    */
  private[operators] val BloomScheme =
    "xxhash64(utc-string,normalized-nan-zero),seed=42"

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
        s"'${m.scheme}' but this engine probes '$BloomScheme' — bits " +
        "hashed another way can silently false-negative; rebuild the " +
        "index (ZoneMap.build) instead of probing it")
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

  /** How stale is the index: (files on disk but unindexed, zone rows
    * whose files vanished). (0, 0) means the index exactly covers the
    * data; a nonzero first component only costs [[scan]] pruning power,
    * never correctness.
    */
  def staleness(spark: SparkSession, dataPath: String,
      indexPath: String): (Long, Long) = {
    val disk = listDataFiles(spark, dataPath).toSet
    val idx = zones(spark, indexPath).fold(Set.empty[String])(
      _.select(FileCol).collect().map(_.getString(0)).toSet)
    ((disk diff idx).size.toLong, (idx diff disk).size.toLong)
  }

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

  /** Probe one file's serialized bloom for each hash. A null bloom (the
    * column is all-null in that file) contains nothing. The one place
    * bloom bytes are deserialized: zone pruning (in executors over this
    * index's rows, on the driver over [[GraftTable]]'s sidecars) and
    * [[GraftTable]]'s merge candidacy all probe through it.
    */
  private[operators] def bloomProbe(bytes: Array[Byte],
      hashes: Seq[Long]): Seq[Boolean] =
    if (bytes == null) hashes.map(_ => false)
    else {
      val bf = org.apache.spark.util.sketch.BloomFilter
        .readFrom(new java.io.ByteArrayInputStream(bytes))
      hashes.map(bf.mightContainLong)
    }

  /** One compiled check of a zone row. */
  private sealed trait Check extends Serializable
  /** Zone value at `ix` (column type `ct`) >= `lit` (`atLeast`) or <=
    * `lit`, compared in type `t` under `PhysicalDataType.ordering(t)` —
    * the ordering Catalyst's `BinaryComparison` uses, so NaN (greatest),
    * ±0.0 (equal) and UTF-8 byte order follow Spark by construction. A
    * null zone value (all-null column in that file) fails.
    */
  private final case class Bound(ix: Int, ct: DataType, t: DataType,
      tz: String, lit: Any, atLeast: Boolean) extends Check {
    @transient private lazy val internal =
      CatalystTypeConverters.createToCatalystConverter(ct)
    @transient private lazy val widen =
      Cast(BoundReference(0, ct, nullable = false), t, Some(tz), EvalMode.ANSI)
    @transient private lazy val ordering = PhysicalDataType.ordering(t)
    def holds(r: Row): Boolean = !r.isNullAt(ix) && {
      val z = internal(r.get(ix))
      val d = ordering.compare(if (t == ct) z else widen.eval(InternalRow(z)), lit)
      if (atLeast) d >= 0 else d <= 0
    }
  }
  /** `IS NULL` (`want`): the file counted a null; else a non-null row. */
  private final case class NullCount(nullsIx: Int, cntIx: Int,
      want: Boolean) extends Check
  /** Hash `i` of bloom slot `slot` may be in the file. */
  private final case class Bloom(slot: Int, i: Int) extends Check

  /** Where a [[Pruner]] finds a file's serialized bloom of a column,
    * given the file's zone row: in the row itself (this index) or in a
    * sidecar next to the file ([[GraftTable]]). Null = no non-null value.
    */
  private[operators] type Blooms = (Row, String) => Array[Byte]

  /** The CNF survivor test, written once. [[pruner]] compiles it on
    * the driver, once per pruning call; [[keep]] judges one zone row. It
    * runs on the driver over a collected manifest snapshot (zero Spark
    * jobs) and in executors ([[pruneFrameCnf]]) over this index's rows.
    *
    * A file survives iff every OR-group has some disjunct whose checks
    * all hold — the conservative reading of `k < 10 OR k > 90`; an empty
    * spec, group or conjunct keeps everything. A Point checks the zone
    * range and, where built, the bloom (no false negatives). Blooms are
    * read only for files the zone checks alone keep, each at most once,
    * however many Points probe it.
    */
  private[operators] final class Pruner private[ZoneMap] (fileIx: Int,
      cnf: Seq[Seq[Seq[Check]]], blooms: Seq[(String, Seq[Long])],
      read: Blooms) extends Serializable {

    private def passes(r: Row, bloom: Bloom => Boolean): Boolean = {
      def holds(c: Check): Boolean = c match {
        case b: Bound => b.holds(r)
        case NullCount(nl, cnt, want) =>
          if (want) r.getLong(nl) > 0L else r.getLong(cnt) > r.getLong(nl)
        case b: Bloom => bloom(b)
      }
      cnf.forall(dnf => dnf.isEmpty || dnf.exists(_.forall(holds)))
    }

    def keep(r: Row): Boolean = passes(r, _ => true) && (blooms.isEmpty || {
      val hits = new Array[Seq[Boolean]](blooms.size)
      passes(r, { case Bloom(slot, i) =>
        if (hits(slot) == null) hits(slot) =
          bloomProbe(read(r, blooms(slot)._1), blooms(slot)._2)
        hits(slot)(i)
      })
    })

    /** (survivor files, all files) over `rows`. */
    def survivors(rows: Iterable[Row]): (Seq[String], Set[String]) =
      (rows.filter(keep).map(_.getString(fileIx)).toSeq,
        rows.map(_.getString(fileIx)).toSet)
  }

  /** Compile `cnf` against zone rows of `schema`: resolve field
    * indexes, refuse preds on columns the index does not hold, hash
    * bloom probes ([[probeHash]]) and normalize each literal. Blooms are
    * read through `blooms`, by default from the row's `bloom_c` field.
    *
    * The literal is cast to the type Catalyst itself compares
    * `column <op> literal` in (the wider of the two). Where that is not
    * the column's type, the zone value is widened too, and only where
    * that widening is monotone (numeric to numeric, date to timestamp):
    * narrowing the literal instead can prune wrongly (a bigint file
    * holding 2^53+3 passes `k >= 2^53+4` as a double). A pred whose
    * types allow no such cast, or whose literal casts to null, NaN or
    * an error, drops from its conjunct — only widening the read. NaN
    * keeps the never-prune rule: footer bounds exclude NaN
    * (PARQUET-1246) while Spark's ordering calls NaN the maximum.
    */
  private[operators] def pruner(schema: StructType, meta: Meta,
      cnf: Cnf, blooms: Option[Blooms] = None): Pruner = {
    val conf = SQLConf.get
    val tz = conf.sessionLocalTimeZone
    def wider(a: DataType, b: DataType): Option[DataType] =
      if (conf.ansiEnabled) AnsiTypeCoercion.findWiderTypeForTwo(a, b)
      else TypeCoercion.findWiderTypeForTwo(a, b)
    def monotone(ct: DataType, t: DataType): Boolean = ct == t ||
      ct.isInstanceOf[NumericType] && t.isInstanceOf[NumericType] ||
      ct == DateType && (t == TimestampType || t == TimestampNTZType)
    // (literal, column type, comparison type) where pruning is sound
    def typed(c: String, v: Any): Option[(Literal, DataType, DataType)] = {
      val ct = meta.dataType(c)
      for (l <- Try(Literal(v)).toOption; t <- wider(ct, l.dataType)
        if monotone(ct, t)) yield (l, ct, t)
    }
    def bound(c: String, v: Any, atLeast: Boolean): Option[Check] = for {
      (l, ct, t) <- typed(c, v)
      x <- Try(Cast(l, t, Some(tz), EvalMode.ANSI).eval()).toOption.filter {
        case d: Double => !d.isNaN
        case f: Float => !f.isNaN
        case x => x != null
      }
    } yield Bound(schema.fieldIndex(s"${if (atLeast) "max" else "min"}_$c"),
      ct, t, tz, x, atLeast)
    // every distinct (bloom column, hash) the spec probes, by slot. A
    // bloom holds column values, so it only answers an equality Catalyst
    // decides in the column's own type: a double literal on a bigint
    // column equals several bigints.
    val hashes = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Long]]
    def bloom(c: String, v: Any): Option[Check] =
      typed(c, v).collect { case (_, ct, t) if t == ct =>
        probeHash(v, ct, tz) // loud on a value c can't hold
      }.map { h =>
        val hs = hashes.getOrElseUpdate(c, mutable.ArrayBuffer.empty[Long])
        if (!hs.contains(h)) hs += h
        Bloom(hashes.keysIterator.indexOf(c), hs.indexOf(h))
      }
    val zoned = meta.cols.toSet
    def indexed = s"(indexed: ${meta.cols.mkString(", ")})"
    def checks(p: Pred): Seq[Check] = p match {
      case Range(c, lo, hi) =>
        require(zoned(c), s"column $c not zone-indexed $indexed")
        Option(lo).flatMap(bound(c, _, atLeast = true)).toSeq ++
          Option(hi).flatMap(bound(c, _, atLeast = false))
      case Point(c, v) =>
        val bloomed = meta.bloomCols.contains(c)
        require(zoned(c) || bloomed, s"column $c neither zone- nor " +
          s"bloom-indexed (zones: ${meta.cols.mkString(", ")}; " +
          s"blooms: ${meta.bloomCols.mkString(", ")})")
        (if (zoned(c)) bound(c, v, atLeast = true).toSeq ++
          bound(c, v, atLeast = false) else Nil) ++
          (if (bloomed) bloom(c, v) else None)
      case Nulls(c, want) =>
        require(zoned(c), s"column $c not zone-indexed $indexed — null " +
          "counts live in the zone row")
        Seq(NullCount(schema.fieldIndex(s"nulls_$c"),
          schema.fieldIndex("cnt"), want))
    }
    val compiled = cnf.map(_.map(_.flatMap(checks)))
    val read = blooms.getOrElse {
      val inRow = hashes.keys.map(c => c -> schema.fieldIndex(s"bloom_$c")).toMap
      (r: Row, c: String) => r.getAs[Array[Byte]](inRow(c))
    }
    new Pruner(schema.fieldIndex(FileCol), compiled,
      hashes.toSeq.map { case (c, hs) => (c, hs.toVector) }, read)
  }

  /** The pruning verdict frame `(file, _keep)` for the indexed rows of
    * `z` under `preds`: the [[Pruner]] runs EXECUTOR-side, bloom probes
    * included, so a caller only ever collects file names and booleans.
    * At the default sizing (~912 KB of bits per file per column) an
    * 800k-file index's in-row blooms are ~700 GB: collecting them is an
    * OOM.
    */
  private[operators] def pruneFrame(z: DataFrame, meta: Meta,
      preds: Seq[Pred]): DataFrame = pruneFrameCnf(z, meta, Seq(Seq(preds)))

  /** [[pruneFrame]] over a [[Cnf]] spec. Only the zone fields
    * (`<stat>_<column>`) of columns the spec names ride into the probe.
    */
  private[operators] def pruneFrameCnf(z: DataFrame, meta: Meta,
      cnf: Cnf): DataFrame = {
    val named = cnf.flatten.flatten.map(_.col).toSet + FileCol + "cnt"
    val read = z.select(z.columns
      .filter(f => named(f.drop(f.indexOf('_') + 1))).map(col): _*)
    val p = pruner(read.schema, meta, cnf)
    val keep = udf((r: Row) => p.keep(r))
    read.select(col(FileCol), keep(struct(read.columns.map(col): _*)).as("_keep"))
  }

  /** (survivor files, all indexed files) of `z`: ONE collect of
    * [[pruneFrame]]'s `(file, _keep)` rows, never bloom bytes.
    */
  private[operators] def pruneZoneRows(z: DataFrame, meta: Meta,
      preds: Seq[Pred]): (Seq[String], Set[String]) = {
    val rows = pruneFrame(z, meta, preds).collect()
    (rows.filter(_.getBoolean(1)).map(_.getString(0)).toSeq,
      rows.map(_.getString(0)).toSet)
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

  /** Zone-map-pruned scan of `dataPath` under `preds`: the [[Pruner]]
    * runs in executors over the zone rows ([[prunedFiles]]), the scan
    * reads only the surviving files and re-applies the exact predicate.
    * Result is row-identical to
    * `spark.read.parquet(dataPath).filter(predicate)` under ANY index
    * state (fresh, stale, or missing) — the index only changes how many
    * files open.
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
