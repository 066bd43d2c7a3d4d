package graft.operators

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.api.WriteSupport
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopOutputFile
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.execution.datasources.parquet.ParquetWriteSupport
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

/** Driver-side parquet writer for [[GraftTable]]'s per-version
  * manifest, the only writer it has. A manifest is one row per data file
  * of metadata-scale scalars — file, row count, zone bounds and null
  * counts, bytes — and its rows are already on the driver when a commit
  * writes it: fresh rows from the new generation's footers or its zone
  * pass, carried rows from the previous version's snapshot. Bloom bits
  * live in per-file sidecars, never here. Writing through a Spark job
  * would only add scheduling, so this writes the same parquet file a
  * Spark write would (Spark's own [[ParquetWriteSupport]] under the
  * session's write settings, so every type and annotation matches)
  * straight from the driver, with zero Spark jobs.
  */
private[operators] object ManifestIo {

  private final class Builder(out: HadoopOutputFile)
      extends ParquetWriter.Builder[InternalRow, Builder](out) {
    override def self(): Builder = this
    override def getWriteSupport(conf: Configuration)
        : WriteSupport[InternalRow] = new ParquetWriteSupport
  }

  /** Write `rows` as ONE parquet file (plus the `_SUCCESS` marker Spark
    * would leave) under `dir`, driver-side. A failure throws: the commit
    * it belongs to fails with it.
    */
  def write(spark: SparkSession, dir: String, schema: StructType,
      rows: Seq[Row]): Unit = {
    val conf = new Configuration(spark.sessionState.newHadoopConf())
    ParquetWriteSupport.setSchema(schema, conf)
    // the session-conf keys ParquetWriteSupport.init asserts on — the
    // same set ParquetFileFormat.prepareWrite stamps before a write
    val sqlc = spark.sessionState.conf
    conf.set(SQLConf.PARQUET_WRITE_LEGACY_FORMAT.key,
      sqlc.writeLegacyParquetFormat.toString)
    conf.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      sqlc.parquetOutputTimestampType.toString)
    conf.set(SQLConf.PARQUET_FIELD_ID_WRITE_ENABLED.key,
      sqlc.parquetFieldIdWriteEnabled.toString)
    conf.set(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE.key,
      sqlc.getConf(SQLConf.PARQUET_ANNOTATE_VARIANT_LOGICAL_TYPE).toString)
    // how dates and timestamps are written: the session's settings,
    // as a Spark write would resolve them
    conf.set(SQLConf.PARQUET_REBASE_MODE_IN_WRITE.key,
      sqlc.getConf(SQLConf.PARQUET_REBASE_MODE_IN_WRITE).toString)
    conf.set(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE.key,
      sqlc.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_WRITE).toString)
    val d = new Path(dir)
    val fs = d.getFileSystem(conf)
    fs.mkdirs(d)
    val file = new Path(d,
      s"part-00000-${java.util.UUID.randomUUID()}.snappy.parquet")
    val w = new Builder(HadoopOutputFile.fromPath(file, conf))
      .withConf(conf)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .build()
    try {
      val toInternal = CatalystTypeConverters.createToCatalystConverter(schema)
      rows.foreach(r => w.write(toInternal(r).asInstanceOf[InternalRow]))
    } finally w.close()
    fs.create(new Path(d, "_SUCCESS"), true).close()
  }
}
