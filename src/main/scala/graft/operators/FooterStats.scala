package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.types._

/** Per-file zone statistics read from parquet FOOTERS instead of a Spark
  * re-scan of the data ([[GraftTable]] commit protocol): the row-group
  * metadata the files already carry — min/max/null-count per column
  * chunk plus row counts — IS the zone row for min/max-indexed columns,
  * so a commit can derive its manifest rows with zero data I/O (the
  * Delta stats-at-write / Iceberg footer-metrics idea). The previous
  * shape paid one full read of the just-written generation per commit —
  * per-commit latency on every DML/stream lifecycle, and a second full
  * pass over the data at 100 TB.
  *
  * STRICTLY CONSERVATIVE BY FALLBACK: any file/column whose footer
  * cannot give exact, safely-ordered statistics returns None and the
  * caller derives the rows from one [[ZoneMap.zoneRows]] pass over the
  * data instead — the reference these rows must equal. A bloom-indexed
  * table takes that pass without asking: its sidecar bits need the
  * actual values. Cases that refuse here:
  *  - column types whose parquet stats ordering or representation does
  *    not provably match Spark's aggregate semantics (INT96 timestamps
  *    carry no usable stats; nested types are out of scope);
  *  - float/double chunks whose bounds are NaN-polluted, or any file
  *    that mixes non-null values with absent statistics (parquet-mr
  *    drops oversized binary stats rather than truncating);
  *  - null counts not recorded.
  * Strings are safe: parquet-mr ≥ 1.8 writes `min_value`/`max_value`
  * under UNSIGNED byte order (the reader API hides legacy signed-order
  * stats as "no stats"), which is exactly UTF8String's comparison.
  * Timestamps answer when written as INT64 microseconds adjusted to UTC
  * (`spark.sql.parquet.outputTimestampType = TIMESTAMP_MICROS`, which
  * [[graft.Session]] sets), decimals when their INT32, INT64 or
  * fixed-length annotation carries the column's own precision and scale:
  * both compare as signed integers, as Spark compares them.
  */
private[operators] object FooterStats {

  /** Spark types whose footer stats we trust end-to-end. Floats/doubles
    * are included but each chunk's bounds are NaN-checked at decode
    * (parquet-mr skips min/max updates for NaN inputs, so a NaN-bearing
    * chunk surfaces either as NaN bounds — pre-PARQUET-1246 writers — or
    * as valid bounds over the non-NaN values; Spark's max() would have
    * called NaN the maximum, so bounds that IGNORE NaN could false-
    * negative a Point(NaN) probe. [[decode]] therefore refuses the whole
    * file when a chunk's bounds are NaN, and [[zoneRowsFromFooters]]
    * additionally refuses when the footer cannot prove the chunk
    * NaN-free; the other types have no such hazard).
    */
  private def supported(dt: DataType): Boolean = dt match {
    case LongType | IntegerType | ShortType | ByteType | StringType |
         BooleanType | DateType | DoubleType | FloatType | TimestampType |
         _: DecimalType => true
    case _ => false
  }

  /** EXACT row count of a parquet directory from footers only (row
    * counts are mandatory footer metadata — no fallback needed, unlike
    * column statistics). Replaces count() Spark jobs over metadata-scale
    * directories.
    */
  def dirRowCount(conf: Configuration, dir: String): Long = {
    val d = new Path(dir)
    val f = d.getFileSystem(conf)
    var n = 0L
    val it = f.listFiles(d, true)
    while (it.hasNext) {
      val st = it.next()
      val name = st.getPath.getName
      if (st.isFile && name.endsWith(".parquet") && !name.startsWith("_") &&
        !name.startsWith(".")) {
        val in = ParquetFileReader.open(HadoopInputFile.fromPath(st.getPath, conf))
        try in.getFooter.getBlocks.forEach(b => n += b.getRowCount)
        finally in.close()
      }
    }
    n
  }

  /** Zone rows for `files` (path → on-disk bytes) of a freshly written
    * generation, derived from footers only — `Some(rows)` in the
    * manifest shape `(file, cnt, min_c…, max_c…, nulls_c…, bytes)`
    * matching [[manifestSchema]], or None when ANY file/column falls
    * outside the provably-exact cases (caller re-scans). Files with zero
    * rows yield no manifest row, matching the aggregate path (a group-by
    * over an empty file emits nothing).
    */
  def zoneRowsFromFooters(conf: Configuration, files: Seq[(String, Long)],
      zoneCols: Seq[String], schema: StructType): Option[Seq[Row]] = {
    if (zoneCols.exists(c => !supported(schema(c).dataType))) return None
    val out = Seq.newBuilder[Row]
    files.foreach { case (path, bytes) =>
      fileRow(conf, path, bytes, zoneCols, schema) match {
        case Some(r) => r.foreach(out += _)
        case None => return None
      }
    }
    Some(out.result())
  }

  /** The manifest schema of a table zoned on `zoneCols` of `schema` —
    * what every manifest row holds, whether from footers or from the
    * aggregate pass (its zone rows plus the file's bytes), and what a
    * manifest is read back under: a function of the table's meta alone.
    */
  def manifestSchema(zoneCols: Seq[String], schema: StructType): StructType =
    StructType(
      Seq(StructField("file", StringType, nullable = false),
        StructField("cnt", LongType, nullable = false)) ++
        zoneCols.flatMap { c =>
          val dt = schema(c).dataType
          Seq(StructField(s"min_$c", dt), StructField(s"max_$c", dt),
            StructField(s"nulls_$c", LongType))
        } :+ StructField("bytes", LongType))

  /** One file's manifest row (inner Option: None = zero-row file, no
    * row); outer None = stats unusable, caller must re-scan.
    */
  private def fileRow(conf: Configuration, path: String, bytes: Long,
      zoneCols: Seq[String], schema: StructType): Option[Option[Row]] = {
    val footer =
      try {
        val in = ParquetFileReader.open(HadoopInputFile.fromPath(new Path(path), conf))
        try in.getFooter finally in.close()
      } catch { case _: Throwable => return None }
    val blocks = footer.getBlocks
    val rowCount = {
      var n = 0L
      blocks.forEach(b => n += b.getRowCount)
      n
    }
    if (rowCount == 0L) return Some(None)
    val values = Seq.newBuilder[Any]
    values += path
    values += rowCount
    zoneCols.foreach { c =>
      colStats(blocks, c, schema(c).dataType, rowCount) match {
        case Some((mn, mx, nulls)) => values += mn; values += mx; values += nulls
        case None => return None
      }
    }
    values += bytes
    Some(Some(Row.fromSeq(values.result())))
  }

  /** (min, max, nulls) for one column across the file's row groups, or
    * None when not provably exact. min/max are null iff every value is
    * null — the aggregate path's convention, which pruning relies on
    * (null bounds = all-null file = correctly prunable for ranges).
    */
  private def colStats(
      blocks: java.util.List[org.apache.parquet.hadoop.metadata.BlockMetaData],
      name: String, dt: DataType, rowCount: Long)
      : Option[(Any, Any, Long)] = {
    var nulls = 0L
    var mn: Any = null
    var mx: Any = null
    val it = blocks.iterator()
    while (it.hasNext) {
      val block = it.next()
      val chunk = {
        var found: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData = null
        val cit = block.getColumns.iterator()
        while (cit.hasNext && found == null) {
          val cc = cit.next()
          val p = cc.getPath.toArray
          if (p.length == 1 && p(0) == name) found = cc
        }
        if (found == null) return None // column absent from this file
        found
      }
      val st = chunk.getStatistics
      if (st == null || !st.isNumNullsSet) return None
      nulls += st.getNumNulls
      val chunkNonNull = chunk.getValueCount - st.getNumNulls
      if (chunkNonNull > 0) {
        // values exist in this chunk: exact bounds are REQUIRED (parquet
        // drops oversized stats instead of truncating — absent bounds
        // here would silently mark the file all-null and mis-prune it)
        if (!st.hasNonNullValue) return None
        val decoded = decode(chunk, st, dt)
        if (decoded.isEmpty) return None
        val (lo, hi) = decoded.get
        if (mn == null || compare(dt, lo, mn) < 0) mn = lo
        if (mx == null || compare(dt, hi, mx) > 0) mx = hi
      }
    }
    if (nulls > rowCount) return None // inconsistent footer — refuse
    Some((mn, mx, nulls))
  }

  private def compare(dt: DataType, a: Any, b: Any): Int = dt match {
    case StringType =>
      org.apache.spark.unsafe.types.UTF8String.fromString(a.asInstanceOf[String])
        .compareTo(org.apache.spark.unsafe.types.UTF8String
          .fromString(b.asInstanceOf[String]))
    case _ =>
      a.asInstanceOf[Comparable[Any]].compareTo(b)
  }

  /** Decode one chunk's (min, max) into Spark external values of `dt`,
    * or None when the physical/logical parquet type is not the exact
    * representation Spark writes for that type (re-scan instead of
    * guessing). NaN bounds refuse — see [[supported]].
    */
  private def decode(
      chunk: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData,
      st: org.apache.parquet.column.statistics.Statistics[_],
      dt: DataType): Option[(Any, Any)] = {
    val prim = chunk.getPrimitiveType
    val phys = prim.getPrimitiveTypeName
    val ann = prim.getLogicalTypeAnnotation
    def intAnnOk(bits: Int): Boolean = ann match {
      case null => true
      case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation =>
        i.isSigned && i.getBitWidth == bits
      case _ => false
    }
    (dt, phys) match {
      case (LongType, PrimitiveTypeName.INT64) if intAnnOk(64) =>
        Some((st.genericGetMin.asInstanceOf[java.lang.Long].longValue(),
          st.genericGetMax.asInstanceOf[java.lang.Long].longValue()))
      case (IntegerType, PrimitiveTypeName.INT32) if intAnnOk(32) =>
        Some((st.genericGetMin.asInstanceOf[java.lang.Integer].intValue(),
          st.genericGetMax.asInstanceOf[java.lang.Integer].intValue()))
      case (ShortType, PrimitiveTypeName.INT32) if intAnnOk(16) =>
        Some((st.genericGetMin.asInstanceOf[java.lang.Integer].shortValue(),
          st.genericGetMax.asInstanceOf[java.lang.Integer].shortValue()))
      case (ByteType, PrimitiveTypeName.INT32) if intAnnOk(8) =>
        Some((st.genericGetMin.asInstanceOf[java.lang.Integer].byteValue(),
          st.genericGetMax.asInstanceOf[java.lang.Integer].byteValue()))
      case (BooleanType, PrimitiveTypeName.BOOLEAN) =>
        Some((st.genericGetMin.asInstanceOf[java.lang.Boolean].booleanValue(),
          st.genericGetMax.asInstanceOf[java.lang.Boolean].booleanValue()))
      case (StringType, PrimitiveTypeName.BINARY)
          if ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation] =>
        Some((st.genericGetMin.asInstanceOf[Binary].toStringUsingUTF8,
          st.genericGetMax.asInstanceOf[Binary].toStringUsingUTF8))
      case (DateType, PrimitiveTypeName.INT32)
          if ann.isInstanceOf[LogicalTypeAnnotation.DateLogicalTypeAnnotation] =>
        def d(v: Any) = java.sql.Date.valueOf(
          java.time.LocalDate.ofEpochDay(
            v.asInstanceOf[java.lang.Integer].longValue()))
        Some((d(st.genericGetMin), d(st.genericGetMax)))
      case (DoubleType, PrimitiveTypeName.DOUBLE) =>
        val (lo, hi) = (st.genericGetMin.asInstanceOf[java.lang.Double].doubleValue(),
          st.genericGetMax.asInstanceOf[java.lang.Double].doubleValue())
        if (lo.isNaN || hi.isNaN) None else Some((lo, hi))
      case (FloatType, PrimitiveTypeName.FLOAT) =>
        val (lo, hi) = (st.genericGetMin.asInstanceOf[java.lang.Float].floatValue(),
          st.genericGetMax.asInstanceOf[java.lang.Float].floatValue())
        if (lo.isNaN || hi.isNaN) None else Some((lo, hi))
      case (TimestampType, PrimitiveTypeName.INT64) if (ann match {
            case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
              t.isAdjustedToUTC && t.getUnit == LogicalTypeAnnotation.TimeUnit.MICROS
            case _ => false
          }) =>
        def ts(v: Any) = DateTimeUtils.toJavaTimestamp(
          v.asInstanceOf[java.lang.Long].longValue())
        Some((ts(st.genericGetMin), ts(st.genericGetMax)))
      case (d: DecimalType, PrimitiveTypeName.INT32 | PrimitiveTypeName.INT64 |
          PrimitiveTypeName.FIXED_LEN_BYTE_ARRAY) if (ann match {
            case a: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation =>
              a.getPrecision == d.precision && a.getScale == d.scale
            case _ => false
          }) =>
        def dec(v: Any) = new java.math.BigDecimal(v match {
          case i: java.lang.Integer => java.math.BigInteger.valueOf(i.longValue())
          case l: java.lang.Long => java.math.BigInteger.valueOf(l)
          case b: Binary => new java.math.BigInteger(b.getBytes)
        }, d.scale)
        Some((dec(st.genericGetMin), dec(st.genericGetMax)))
      case _ => None
    }
  }
}
