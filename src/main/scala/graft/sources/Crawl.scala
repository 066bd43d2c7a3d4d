package graft.sources

import graft.functions.MonoidAggregator
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** Recursive file-crawl source + monoid collect — the Spark-native image of
  * the reference's whole pipeline (`Crawler.Collect`,
  * `internal/filecrawler/crawler.go:204-255`).
  *
  * Reference stages → Spark realization:
  *  - BFS directory listing (O1/O5, `pool.go:168-196` + `crawler.go:113-155`)
  *    → `recursiveFileLookup=true`; Spark's `InMemoryFileIndex` lists
  *    directories in parallel on the driver/cluster, so the per-level
  *    barrier of the reference is subsumed (and beaten) by built-in listing.
  *  - per-file JSON decode (O6, `crawler.go:158-201`) → the JSON datasource
  *    in PERMISSIVE mode; one JSON document per file, user-supplied schema.
  *  - partial fold + final combine (O3+O4) → [[MonoidAggregator]] running as
  *    partial/final `HashAggregateExec` phases.
  *  - first-error-wins accounting (O9, `crawler.go:258-274`): the reference
  *    substitutes the zero value for undecodable files and still returns a
  *    result alongside the first error (`crawler.go:253`). We mirror that:
  *    corrupt records become zero-valued rows in the fold, and
  *    [[CrawlResult]] carries the count of corrupt files plus the first
  *    corrupt file's name (deterministic: lexicographically smallest).
  *  - cooperative cancellation (O10) → Spark job groups
  *    ([[Crawl.cancellable]] / [[Crawl.cancel]]).
  *
  * Scale note: file *listing* is driver-parallelized and the decode is one
  * Spark task per file-split, so a 100 TB tree of JSON documents scans with
  * full cluster parallelism; `spark.sql.files.maxPartitionBytes` controls
  * split size exactly where the reference exposed `FileWorkers`.
  *
  * Pluggable filesystems (the reference's `FileSystem` interface,
  * `internal/fs/filesystem.go:19-41`): `root` is any Hadoop-compatible URI
  * (`file://`, `hdfs://`, `s3a://`, …) — Spark's FileSystem layer is the
  * production-grade image of that abstraction, no custom interface needed.
  */
object Crawl {

  private val CorruptCol = "_corrupt_record"

  /** Raw crawl: one row per JSON document under `root` (recursive), with
    * `source_file` and `_corrupt_record` bookkeeping columns appended.
    */
  def crawlRaw(spark: SparkSession, root: String, schema: StructType): DataFrame =
    crawlRaw(spark, root, schema, "json", Map.empty)

  /** Format-generic recursive crawl. Text-based formats (`json`, `csv`)
    * decode PERMISSIVE with per-record corrupt accounting, the reference's
    * zero-on-decode-failure contract (`crawler.go:179,196`); columnar
    * formats (`parquet`, `orc`) validate structurally at the footer, so a
    * readable file has no per-record corruption and the corrupt column is
    * constant null. Two ingestion formats serve LLM-pipeline crawls:
    * `text` reads each file whole into the schema's single string column
    * (raw-corpus ingestion), and `binaryFile` yields (path, length,
    * content) rows for opaque media payloads — `schema` is ignored for
    * binaryFile, whose source schema is fixed; pair it with
    * [[graft.operators.Multimodal.fromBinaryFiles]]. Extra `options` pass
    * through to the reader (csv delimiter, header, pathGlobFilter, …).
    */
  def crawlRaw(
      spark: SparkSession, root: String, schema: StructType,
      format: String, options: Map[String, String]): DataFrame =
    readFiles(spark, Seq(root), schema, format,
      Map("recursiveFileLookup" -> "true") ++ options)

  /** `text`-format crawls read whole files into one string column. */
  private def textColumn(schema: StructType): String = {
    require(schema.fields.length == 1 && schema.fields.head.dataType == StringType,
      s"text crawl needs a single string column schema, got $schema")
    schema.fieldNames.head
  }

  private def typedFrom[T: Encoder](raw: DataFrame, schema: StructType): Dataset[T] =
    raw
      .na.fill(0).na.fill(0.0).na.fill("").na.fill(false)
      .select(schema.fieldNames.map(col).toIndexedSeq: _*)
      .as[T]

  /** Typed crawl with the reference's zero-value substitution for corrupt
    * files (`crawler.go:179,196`): numeric/boolean fields null out on decode
    * failure and are re-zeroed so downstream folds see the monoid identity.
    */
  def crawl[T: Encoder](spark: SparkSession, root: String, schema: StructType): Dataset[T] =
    typedFrom[T](crawlRaw(spark, root, schema), schema)

  /** Typed format-generic crawl (see the `crawlRaw` overload). */
  def crawl[T: Encoder](
      spark: SparkSession, root: String, schema: StructType,
      format: String, options: Map[String, String] = Map.empty): Dataset[T] =
    typedFrom[T](crawlRaw(spark, root, schema, format, options), schema)

  /** Result-plus-error shape of the reference's `Collect`
    * (`crawler.go:253` returns both `finalResult` and the first error).
    */
  final case class CrawlResult[R](result: R, corruptFiles: Long, firstError: Option[String])

  /** One captured I/O failure during listing: `op` is "list" (a directory
    * that could not be enumerated — the reference's readdir-error/panic
    * cases) or "open" (a file that failed the read-access probe — the
    * open-error/panic cases). Mirrors `crawler_test.go:395-455`.
    */
  final case class IoError(op: String, path: String, error: String)

  /** Recursive listing outcome: every readable file plus every captured
    * error. The crawl continues past errors — partial result + first error,
    * the reference's `Collect` contract (`crawler.go:253`).
    */
  final case class Listing(files: Seq[String], errors: Seq[IoError])

  /** Recursive listing with per-entry error capture. An unlistable subtree
    * or unreadable file is recorded in [[Listing.errors]] and the walk
    * continues — unlike Spark's built-in `InMemoryFileIndex`, which fails
    * the whole query on the first listing exception. Each file is
    * access-probed (a metadata-only permission check, no open) so
    * open-permission failures surface here instead of failing tasks
    * mid-scan.
    *
    * `parallelism` bounds the listing thread pool — the per-crawl DOP knob
    * the reference exposes as `Configuration.SearchWorkers`
    * (`crawler.go:17-21`). Listing runs on the driver, the same place
    * Spark's own file index lists; one level per barrier, directories
    * within a level listed concurrently.
    *
    * Scale note: a mid-stream read failure on a file that passed the probe
    * is NOT zero-substituted — Spark retries the task and then fails the
    * job. Silently zeroing a half-read 128 MB split would be data loss; the
    * reference's in-process read-error substitution (`crawler_test.go`
    * read-error case) maps to cluster task retry, not to dropped data.
    */
  def listWithErrors(
      spark: SparkSession, root: String, parallelism: Int = 8,
      accessProbe: Boolean = true): Listing = {
    import org.apache.hadoop.fs.{FileStatus, Path => HPath}
    import org.apache.hadoop.fs.permission.FsAction
    import scala.jdk.CollectionConverters._
    val rootPath = new HPath(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism.max(1))
    val files = Seq.newBuilder[String]
    val errors = Seq.newBuilder[IoError]
    def msg(e: Throwable): String =
      Option(e.getMessage).getOrElse(e.getClass.getSimpleName)
    // Symlink-cycle guard: track each directory's *resolved* identity (real
    // path on filesystems that support symlinks, identity elsewhere) and
    // never expand one twice — a `dir -> ancestor` symlink loop would
    // otherwise make this walk spin forever. Resolution failures fall back
    // to the raw path string, which still dedupes plain revisits.
    val visited = scala.collection.mutable.HashSet.empty[String]
    def realId(p: HPath): String = try {
      val uri = p.toUri
      // Local paths: NIO resolves symlinks; Hadoop's resolvePath does not
      // canonicalize on RawLocalFileSystem. Non-local schemes (object
      // stores) have no symlinks to chase — the raw path dedupes revisits
      // without spending a metadata RPC per directory.
      if (uri.getScheme == null || uri.getScheme == "file")
        java.nio.file.Paths.get(uri.getPath).toRealPath().toString
      else p.toString
    } catch { case _: Exception => p.toString }
    try {
      var frontier: Seq[HPath] = Seq(rootPath)
      while (frontier.nonEmpty) {
        frontier = frontier.filter(d => visited.add(realId(d)))
        val tasks = frontier.map { dir =>
          new java.util.concurrent.Callable[(HPath, Either[Throwable, Array[FileStatus]])] {
            def call() = (dir,
              try Right(fs.listStatus(dir))
              catch { case e: Exception => Left(e) })
          }
        }
        val next = Seq.newBuilder[HPath]
        pool.invokeAll(tasks.asJava).asScala.map(_.get()).foreach {
          case (dir, Left(e)) =>
            errors += IoError("list", dir.toString, msg(e))
          case (_, Right(statuses)) => statuses.foreach { st =>
            if (st.isDirectory) next += st.getPath
            else if (!accessProbe) files += st.getPath.toString
            else {
              // One metadata RPC per file; on object stores where access()
              // is advisory (S3A always succeeds) pass accessProbe=false to
              // skip the round-trips — open failures then surface as task
              // retries instead of pre-flight IoErrors.
              try { fs.access(st.getPath, FsAction.READ); files += st.getPath.toString }
              catch { case e: Exception =>
                errors += IoError("open", st.getPath.toString, msg(e)) }
            }
          }
        }
        frontier = next.result()
      }
    } finally pool.shutdown()
    Listing(files.result(), errors.result())
  }

  /** Same PERMISSIVE decode as [[crawlRaw]] but over an explicit file list
    * (the readable survivors of [[listWithErrors]]).
    */
  private def readFiles(
      spark: SparkSession, files: Seq[String], schema: StructType,
      format: String, options: Map[String, String]): DataFrame = {
    val base = spark.read.options(options)
    val df = format match {
      case "json" =>
        base.schema(schema.add(CorruptCol, StringType))
          // One JSON document per file, possibly pretty-printed — the
          // reference's decode unit (`crawler.go:53-54`).
          .option("multiLine", "true")
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", CorruptCol)
          .json(files: _*)
      case "csv" =>
        base.schema(schema.add(CorruptCol, StringType))
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", CorruptCol)
          .csv(files: _*)
      case "parquet" | "orc" =>
        base.schema(schema).format(format).load(files: _*)
          .withColumn(CorruptCol, lit(null).cast(StringType))
      case "text" =>
        textColumn(schema)
        base.option("wholetext", "true").text(files: _*)
          .select(col("value").as(schema.fieldNames.head))
          .withColumn(CorruptCol, lit(null).cast(StringType))
      case "binaryFile" =>
        return base.format("binaryFile").load(files: _*)
          .select(col("path"), col("length"), col("content"))
          .withColumn(CorruptCol, lit(null).cast(StringType))
          .withColumn("source_file", col("path"))
      case other =>
        throw new IllegalArgumentException(
          s"unsupported crawl format '$other' (json, csv, parquet, orc, text, binaryFile)")
    }
    df.withColumn("source_file", input_file_name())
  }

  /** Scope a session conf override to `body` (restores the prior value).
    * File-source split planning consults the session conf at action time,
    * so overrides applied around the actions in [[collect]] take effect.
    */
  private def withConf[A](spark: SparkSession, key: String, value: Option[String])(body: => A): A =
    value match {
      case None => body
      case Some(v) =>
        val old = spark.conf.getOption(key)
        spark.conf.set(key, v)
        try body
        finally old match {
          case Some(o) => spark.conf.set(key, o)
          case None    => spark.conf.unset(key)
        }
    }

  /** End-to-end crawl + monoid aggregation — the `Crawler.Collect` analogue
    * (O7). Listing runs resiliently ([[listWithErrors]]): an unreadable
    * file or unlistable subtree is recorded, the readable remainder is
    * decoded and folded, and the partial result is returned alongside the
    * first error — the reference's error matrix (`crawler_test.go:395-455`,
    * result-plus-error at `crawler.go:253`). `corruptFiles` counts files
    * (not rows) that failed to open or decode; `firstError` is
    * deterministic — the lexicographically smallest failing path, I/O
    * errors (discovered during listing, which precedes decode) before
    * decode errors.
    *
    * Per-crawl DOP knobs — the `Configuration{SearchWorkers, FileWorkers,
    * AccumulatorWorkers}` analogue (`crawler.go:17-21`):
    * `listingParallelism` bounds the listing pool (SearchWorkers);
    * `maxPartitionBytes` overrides `spark.sql.files.maxPartitionBytes`
    * for this crawl's jobs — smaller splits mean more, smaller decode
    * tasks. FileWorkers and AccumulatorWorkers deliberately collapse into
    * that one knob here: Spark fuses decode and the partial fold into a
    * single whole-stage-codegen task, so their parallelism is one number
    * by construction, and the final combine is a single-partition merge
    * of one partial row per task — the same shape as the reference's
    * single-threaded combiner (`crawler.go:75-91`), with the per-worker
    * parallelism where it matters.
    */
  def collect[T: Encoder, R](
      spark: SparkSession,
      root: String,
      schema: StructType,
      agg: MonoidAggregator[T, R],
      format: String = "json",
      options: Map[String, String] = Map.empty,
      listingParallelism: Int = 8,
      maxPartitionBytes: Option[Long] = None): CrawlResult[R] = {
    val listing = listWithErrors(spark, root, listingParallelism)
    val openFailures = listing.errors.count(_.op == "open")
    val firstIo = listing.errors.sortBy(_.path).headOption
      .map(e => s"failed to ${e.op}: ${e.path} (${e.error})")
    if (listing.files.isEmpty)
      return CrawlResult(agg.zeroValue, openFailures.toLong, firstIo)
    withConf(spark, "spark.sql.files.maxPartitionBytes", maxPartitionBytes.map(_.toString)) {
      // Cache the parsed relation: Spark refuses plans that reference only
      // the corrupt-record column of a raw JSON scan, and caching also makes
      // the error pass free of a second file read.
      val raw = readFiles(spark, listing.files, schema, format, options).cache()
      try {
        val result = typedFrom[T](raw, schema).select(agg.column).head()
        val corrupt = raw
          .filter(col(CorruptCol).isNotNull)
          .select(min(col("source_file")).as("first"),
            countDistinct(col("source_file")).as("n"))
          .head()
        val n = corrupt.getLong(1)
        val firstDecode =
          if (n > 0) Some(s"failed to decode: ${corrupt.getString(0)}") else None
        CrawlResult(result, n + openFailures, firstIo.orElse(firstDecode))
      } finally raw.unpersist()
    }
  }

  /** Unbounded crawl: a streaming Dataset over files appearing under
    * `root` — the reference's bounded `Collect` pipeline with the bound
    * removed. New files are discovered per micro-batch (recursive, same
    * PERMISSIVE zero-substitution decode as [[crawl]]); compose with
    * watermarks/aggregations and a `writeStream` sink.
    */
  def crawlStream[T: Encoder](
      spark: SparkSession, root: String, schema: StructType,
      format: String = "json", options: Map[String, String] = Map.empty): Dataset[T] = {
    val base = spark.readStream
      .option("recursiveFileLookup", "true")
      .options(options)
    val raw = format match {
      case "json" =>
        base.schema(schema.add(CorruptCol, StringType))
          .option("multiLine", "true")
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", CorruptCol)
          .json(root)
      case "csv" =>
        base.schema(schema.add(CorruptCol, StringType))
          .option("mode", "PERMISSIVE")
          .option("columnNameOfCorruptRecord", CorruptCol)
          .csv(root)
      case "parquet" | "orc" =>
        base.schema(schema).format(format).load(root)
          .withColumn(CorruptCol, lit(null).cast(StringType))
      case other =>
        throw new IllegalArgumentException(
          s"unsupported stream crawl format '$other' (json, csv, parquet, orc)")
    }
    typedFrom[T](raw.withColumn("source_file", lit("")), schema)
  }

  /** Running `Collect`: fold the unbounded crawl with the monoid and keep
    * the current total in an in-memory table named `name` (complete-mode
    * global aggregate — one row, updated every micro-batch). Returns the
    * handle; read the running value via `spark.table(name)`.
    */
  def collectStream[T: Encoder, R](
      spark: SparkSession, root: String, schema: StructType,
      agg: MonoidAggregator[T, R], name: String,
      format: String = "json",
      options: Map[String, String] = Map.empty): org.apache.spark.sql.streaming.StreamingQuery =
    crawlStream[T](spark, root, schema, format, options)
      .select(agg.column.name("value"))
      .writeStream.outputMode("complete").format("memory").queryName(name)
      .start()

  /** Run `body` under a named job group so it can be cancelled cooperatively
    * from another thread — the `context.Context` analogue (O10,
    * `pool.go:77,86` ctx checks).
    */
  def cancellable[A](spark: SparkSession, group: String)(body: => A): A = {
    spark.sparkContext.setJobGroup(group, s"graft cancellable: $group", interruptOnCancel = true)
    try body
    finally spark.sparkContext.clearJobGroup()
  }

  def cancel(spark: SparkSession, group: String): Unit =
    spark.sparkContext.cancelJobGroup(group)
}
