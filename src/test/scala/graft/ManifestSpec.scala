package graft.operators

import java.nio.file.Files

import graft.SparkSpec
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

/** Differential checks of the table manifest's one writer and its one
  * fallback: (a) what [[ManifestIo]] writes on the driver reads back
  * through `spark.read` equal to its input rows, for every zone type;
  * (b) wherever [[FooterStats]] answers from parquet footers, it equals
  * the [[ZoneMap.zoneRows]] aggregate over the same files, and it
  * refuses where footers cannot prove the answer.
  */
class ManifestSpec extends SparkSpec {

  private def dir(): String = Files.createTempDirectory("manifest").toString

  /** Rows compared both by value and by rendering: `==` calls -0.0 and
    * 0.0 equal, their strings do not.
    */
  private def same(a: Seq[Row], b: Seq[Row]): Boolean =
    a == b && a.map(_.toString) == b.map(_.toString)

  test("ManifestIo: every zone type reads back through spark.read equal to its input rows") {
    import java.math.{BigDecimal => JBigDecimal}
    import java.sql.{Date, Timestamp}
    val zones: Seq[(String, DataType, Seq[Any])] = Seq(
      ("l", LongType, Seq(Long.MinValue, -1L, 0L, Long.MaxValue)),
      ("i", IntegerType, Seq(Int.MinValue, 0, 7, Int.MaxValue)),
      ("d", DoubleType, Seq(Double.NaN, -0.0, 0.0, Double.NegativeInfinity)),
      ("f", FloatType, Seq(Float.NaN, -0.0f, 0.0f, Float.MaxValue)),
      ("s", StringType, Seq("", "été", "😀", "中文")),
      ("dt", DateType, Seq("1582-10-04", "1970-01-01", "2024-02-29", "9999-12-31")
        .map(Date.valueOf)),
      ("ts", TimestampType, Seq(0L, 1700000000123L, -86400000L, 253402300799000L)
        .map(new Timestamp(_))),
      ("m9", DecimalType(9, 2), Seq("-9999999.99", "0.00", "0.01", "1234567.89")
        .map(new JBigDecimal(_))),
      ("m18", DecimalType(18, 4), Seq("-99999999999999.9999", "0.0000", "1.5000",
        "12345678901234.5678").map(new JBigDecimal(_))),
      ("m38", DecimalType(38, 10), Seq("-9999999999999999999999999999.9999999999",
        "0E-10", "3.1415926535", "1234567890123456789012345678.0123456789")
        .map(new JBigDecimal(_))))
    val schema = FooterStats.manifestSchema(zones.map(_._1),
      StructType(zones.map { case (c, dt, _) => StructField(c, dt) }))
    // rows 0-3 pair value i with value 3 - i; row 4 is an all-null file
    val rows = (0 until 5).map { r =>
      Row.fromSeq(Seq(s"data/g1_x/part-$r é.parquet", r.toLong) ++
        zones.flatMap { case (_, _, vs) =>
          if (r == 4) Seq(null, null, 1L)
          else Seq(vs(r), vs(3 - r), r.toLong)
        } :+ (1000L + r))
    }
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    val out = dir() + "/manifest"
    try ManifestIo.write(spark, out, schema, rows)
    finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    val f = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(f.exists(new Path(out, "_SUCCESS")))
    val file = f.listStatus(new Path(out)).map(_.getPath)
      .filter(_.getName.endsWith(".parquet"))
    assert(file.length == 1, "one parquet file per manifest")
    val footer = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file.head,
        spark.sparkContext.hadoopConfiguration))
    val tsType = try footer.getFooter.getFileMetaData.getSchema.getFields.get(
      schema.fieldIndex("min_ts"))
      .asPrimitiveType.getPrimitiveTypeName.name finally footer.close()
    assert(tsType == "INT96", s"timestamps follow the session's output type: $tsType")
    val back = spark.read.schema(schema).parquet(out).collect().toSeq
      .sortBy(_.getLong(1))
    assert(same(back, rows), s"read back:\n${back.mkString("\n")}\nwritten:\n${rows.mkString("\n")}")
  }

  test("FooterStats equals the zoneRows aggregate wherever it answers; it refuses a NaN chunk") {
    import java.math.{BigDecimal => JBigDecimal, BigInteger}
    // decimals of each physical width: INT32, INT64, FIXED_LEN_BYTE_ARRAY
    val schema = StructType(Seq(StructField("l", LongType),
      StructField("i", IntegerType), StructField("sh", ShortType),
      StructField("b", ByteType), StructField("s", StringType),
      StructField("bo", BooleanType), StructField("dt", DateType),
      StructField("d", DoubleType), StructField("f", FloatType),
      StructField("z", LongType), StructField("ts", TimestampType),
      StructField("m9", DecimalType(9, 2)), StructField("m18", DecimalType(18, 4)),
      StructField("m38", DecimalType(38, 10))))
    val cols = schema.fieldNames.toSeq
    def row(k: Int): Row = Row(k.toLong * 7 - 20, -k, (k * 3).toShort,
      (k - 2).toByte, s"v${k}é", k % 2 == 0,
      java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1, 1).plusDays(k)),
      if (k == 1) -0.0 else k * 1.5 - 4, (k * 0.25 - 1).toFloat, null,
      // before and after the epoch, to the microsecond
      java.sql.Timestamp.from(java.time.Instant.ofEpochSecond(
        k * 977777L - 2000000L, k * 123457000L)),
      JBigDecimal.valueOf(k * 12345L - 30000L, 2),
      JBigDecimal.valueOf(k * 123456789012L - 300000000000L, 4),
      new JBigDecimal(BigInteger.TEN.pow(27).multiply(BigInteger.valueOf(k * 7L - 20L))
        .add(BigInteger.valueOf(k)), 10))
    val nulls = Row.fromSeq(Seq.fill(cols.size)(null))
    // four files: values with nulls, all-null, no rows, and one whose
    // double bound is a signed zero; `z` is all-null everywhere
    val files = Seq(Seq(row(0), row(2), nulls, row(5)), Seq(nulls, nulls), Nil,
      Seq(row(3), row(1)))
    def write(fileRows: Seq[Seq[Row]]): Seq[(String, Long)] = {
      val out = dir() + "/data"
      // one write per file: an empty frame writes one zero-row file
      fileRows.foreach(rs => spark.createDataFrame(
        spark.sparkContext.parallelize(rs, 1), schema)
        .write.mode("append").parquet(out))
      val f = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
      f.listStatus(new Path(out)).toSeq.map(_.getPath)
        .filter(_.getName.endsWith(".parquet"))
        .map(p => (p.toUri.getPath, f.getFileStatus(p).getLen))
    }
    val written = write(files)
    assert(written.size == 4, s"one file per write: ${written.size}")
    val conf = spark.sparkContext.hadoopConfiguration
    val footer = FooterStats.zoneRowsFromFooters(conf, written, cols, schema)
      .getOrElse(fail("the footers prove every column here"))
    val bytes = written.toMap
    val reference = ZoneMap.zoneRows(spark.read.schema(schema)
        .parquet(written.map(_._1): _*), cols, Nil, 0L, 0.0)
      .collect().toSeq.map { r =>
        val file = new java.net.URI(r.getString(0)).getPath
        Row.fromSeq(file +: r.toSeq.tail :+ bytes(file))
      }
    assert(footer.size == 3, "a zero-row file has no manifest row")
    // by value: a footer may record a zero bound as -0.0 where the
    // aggregate kept 0.0, which every comparison calls equal
    assert(footer.sortBy(_.getString(0)) == reference.sortBy(_.getString(0)),
      s"footers:\n${footer.mkString("\n")}\naggregate:\n${reference.mkString("\n")}")

    // Spark's max() calls NaN the greatest value; footer bounds skip it
    val nan = write(Seq(Seq(row(0), Row.fromSeq(row(1).toSeq.updated(7, Double.NaN)))))
    assert(FooterStats.zoneRowsFromFooters(conf, nan, cols, schema).isEmpty,
      "a chunk holding NaN must refuse")
    assert(FooterStats.zoneRowsFromFooters(conf, nan, cols.filter(_ != "d"), schema)
      .isDefined, "the other columns of that file still answer")

    // the session writes INT64 microsecond timestamps; INT96 ones carry
    // no usable statistics and refuse
    val prev = spark.conf.get("spark.sql.parquet.outputTimestampType")
    assert(prev == "TIMESTAMP_MICROS", prev)
    spark.conf.set("spark.sql.parquet.outputTimestampType", "INT96")
    val int96 = try write(Seq(Seq(row(0), row(2))))
      finally spark.conf.set("spark.sql.parquet.outputTimestampType", prev)
    assert(FooterStats.zoneRowsFromFooters(conf, int96, cols, schema).isEmpty,
      "an INT96 timestamp must refuse")
    assert(FooterStats.zoneRowsFromFooters(conf, int96, cols.filter(_ != "ts"), schema)
      .isDefined, "the other columns of that file still answer")
  }
}
