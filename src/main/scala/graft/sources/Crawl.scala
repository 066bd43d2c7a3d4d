package graft.sources

import graft.Jobs
import graft.functions.MonoidAggregator
import java.nio.file.{FileSystems, Files, NoSuchFileException, Paths}
import java.nio.file.attribute.{PosixFileAttributes, PosixFilePermissions}
import java.nio.file.attribute.PosixFilePermission.{GROUP_READ, OTHERS_READ, OWNER_READ}
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path => HPath}
import org.apache.hadoop.fs.permission.FsAction
import org.apache.hadoop.security.UserGroupInformation
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.{FileFormat, FileStatusCache, HadoopFsRelation, InMemoryFileIndex}
import org.apache.spark.sql.execution.datasources.binaryfile.BinaryFileFormat
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.datasources.json.JsonFileFormat
import org.apache.spark.sql.execution.datasources.orc.OrcFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.datasources.text.TextFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructType}

/** Recursive file-crawl source + monoid collect — the Spark-native image of
  * the reference's whole pipeline (`Crawler.Collect`,
  * `internal/filecrawler/crawler.go:204-255`).
  *
  * Reference stages → Spark realization:
  *  - BFS directory listing (O1/O5, `pool.go:168-196` + `crawler.go:113-155`)
  *    → [[Crawl.listWithErrors]]: one level per barrier, directories of a
  *    level listed concurrently on a driver pool, each file's access probe
  *    on the same pool. [[Crawl.collect]] scans exactly the statuses that
  *    walk returned, so the tree is listed once per crawl. [[Crawl.crawlRaw]]
  *    leaves the walk to Spark's own `recursiveFileLookup` listing.
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
  * Scale note: the tree is listed once, on the driver, and never again by
  * Spark — a file list handed to a plain read is re-listed by a Spark job
  * once it names more than `spark.sql.sources.parallelPartitionDiscovery.threshold`
  * paths, which on an object store is a second full metadata sweep. The
  * decode is one Spark task per file-split, so a 100 TB tree of JSON
  * documents scans with full cluster parallelism;
  * `spark.sql.files.maxPartitionBytes` controls split size exactly where
  * the reference exposed `FileWorkers`.
  *
  * Pluggable filesystems (the reference's `FileSystem` interface,
  * `internal/fs/filesystem.go:19-41`): `root` is any Hadoop-compatible URI
  * (`file://`, `hdfs://`, `s3a://`, …) — Spark's FileSystem layer is the
  * production-grade image of that abstraction, no custom interface needed.
  */
object Crawl {

  private val CorruptCol = "_corrupt_record"
  private val BadFile = "_bad_file"

  /** How one file format decodes into the crawl's row shape: the schema
    * columns, then `_corrupt_record` (null on a clean record), then
    * `source_file`. `options` override the caller's; `dataSchema` is what
    * the reader decodes for a crawl schema, and `rows` maps the reader's
    * rows to the schema columns plus `_corrupt_record`.
    */
  private final case class Format(
      name: String,
      format: () => FileFormat,
      options: Map[String, String],
      dataSchema: StructType => StructType,
      rows: (DataFrame, StructType) => DataFrame,
      source: Column)

  private val Permissive = Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> CorruptCol)
  private def withCorrupt(schema: StructType): StructType = schema.add(CorruptCol, StringType)
  private def cleanRows(df: DataFrame): DataFrame =
    df.withColumn(CorruptCol, lit(null).cast(StringType))

  /** Every format a crawl reads. Text-based formats (`json`, `csv`) decode
    * PERMISSIVE with per-record corrupt accounting, the reference's
    * zero-on-decode-failure contract (`crawler.go:179,196`); columnar
    * formats (`parquet`, `orc`) validate structurally at the footer, so a
    * readable file has no per-record corruption and the corrupt column is
    * constant null. `text` reads each file whole into the schema's single
    * string column; `binaryFile` yields (path, length, content) rows and
    * ignores the schema.
    */
  private val Formats: Seq[Format] = Seq(
    // One JSON document per file, possibly pretty-printed — the
    // reference's decode unit (`crawler.go:53-54`).
    Format("json", () => new JsonFileFormat, Permissive + ("multiLine" -> "true"),
      withCorrupt, (df, _) => df, input_file_name()),
    Format("csv", () => new CSVFileFormat, Permissive,
      withCorrupt, (df, _) => df, input_file_name()),
    Format("parquet", () => new ParquetFileFormat, Map.empty,
      identity, (df, _) => cleanRows(df), input_file_name()),
    Format("orc", () => new OrcFileFormat, Map.empty,
      identity, (df, _) => cleanRows(df), input_file_name()),
    Format("text", () => new TextFileFormat, Map("wholetext" -> "true"),
      s => { textColumn(s); new StructType().add("value", StringType) },
      (df, s) => cleanRows(df.select(col("value").as(s.fieldNames.head))),
      input_file_name()),
    Format("binaryFile", () => new BinaryFileFormat, Map.empty,
      _ => BinaryFileFormat.schema,
      (df, _) => cleanRows(df.select(col("path"), col("length"), col("content"))),
      col("path")))

  private def formatOf(name: String): Format =
    Formats.find(_.name == name).getOrElse(throw new IllegalArgumentException(
      s"unsupported crawl format '$name' (${Formats.map(_.name).mkString(", ")})"))

  /** The caller's options with the format's own laid over them, keys
    * compared case-insensitively as Spark's readers do.
    */
  private def readerOptions(f: Format, options: Map[String, String]): Map[String, String] =
    CaseInsensitiveMap(options) ++ f.options

  /** Raw crawl: one row per JSON document under `root` (recursive), with
    * `source_file` and `_corrupt_record` bookkeeping columns appended.
    */
  def crawlRaw(spark: SparkSession, root: String, schema: StructType): DataFrame =
    crawlRaw(spark, root, schema, "json", Map.empty)

  /** Format-generic recursive crawl over any format of the crawl's format
    * table: `json`, `csv`, `parquet`, `orc`, `text` (each file whole in the
    * schema's single string column, raw-corpus ingestion) and `binaryFile`
    * ((path, length, content) rows for opaque media payloads; `schema` is
    * ignored — pair it with [[graft.operators.Multimodal.fromBinaryFiles]]).
    * Extra `options` pass through to the reader (csv delimiter, header,
    * pathGlobFilter, …).
    */
  def crawlRaw(
      spark: SparkSession, root: String, schema: StructType,
      format: String, options: Map[String, String]): DataFrame = {
    val f = formatOf(format)
    val raw = spark.read.format(f.name)
      .options(readerOptions(f, Map("recursiveFileLookup" -> "true") ++ options))
      .schema(f.dataSchema(schema))
      .load(root)
    f.rows(raw, schema).withColumn("source_file", f.source)
  }

  /** `text`-format crawls read whole files into one string column. */
  private def textColumn(schema: StructType): String = {
    require(schema.fields.length == 1 && schema.fields.head.dataType == StringType,
      s"text crawl needs a single string column schema, got $schema")
    schema.fieldNames.head
  }

  /** The reference's zero-value substitution: null schema fields become
    * their type's zero; bookkeeping columns are left as they are.
    */
  private def zeroFilled(raw: DataFrame, schema: StructType): DataFrame = {
    val fields = schema.fieldNames.toSeq
    raw.na.fill(0L, fields).na.fill(0.0, fields).na.fill("", fields).na.fill(false, fields)
  }

  private def typedFrom[T: Encoder](raw: DataFrame, schema: StructType): Dataset[T] =
    zeroFilled(raw, schema).select(schema.fieldNames.map(col).toIndexedSeq: _*).as[T]

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
    * within a level listed concurrently. The access probes run on the same
    * pool, queued as each directory's entries arrive and overlapping the
    * next level's listing. A local file is checked from its own attributes
    * ([[readProbe]]): one `stat`, judged by Hadoop's access rule, which has
    * no superuser bypass, so a file no one may read is refused even to
    * root. Hadoop's own local check would run `ls -ld` in a child process
    * per file where native Hadoop IO is absent. Other file systems keep
    * `fs.access`, one metadata call per file.
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
    val (files, errors) = listStatuses(spark, root, parallelism, accessProbe)
    Listing(files.map(_.getPath.toString), errors)
  }

  /** [[listWithErrors]] keeping each readable file's `FileStatus`. */
  private def listStatuses(
      spark: SparkSession, root: String, parallelism: Int,
      accessProbe: Boolean): (Seq[FileStatus], Seq[IoError]) = {
    import java.util.concurrent.{Callable, CompletableFuture, Future}
    import scala.jdk.CollectionConverters._
    val rootPath = new HPath(root)
    val fs = rootPath.getFileSystem(spark.sessionState.newHadoopConf())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(parallelism.max(1))
    val probes = Seq.newBuilder[Future[Either[IoError, FileStatus]]]
    val errors = Seq.newBuilder[IoError]
    // A local probe costs one stat; on an object store each is a metadata
    // round trip, and where access() is advisory (S3A always succeeds)
    // accessProbe=false skips them — open failures then surface as task
    // retries instead of pre-flight IoErrors.
    val readable = readProbe(fs)
    def probe(st: FileStatus): Future[Either[IoError, FileStatus]] =
      if (!accessProbe) CompletableFuture.completedFuture[Either[IoError, FileStatus]](Right(st))
      else pool.submit(new Callable[Either[IoError, FileStatus]] {
        def call() = readable(st)
      })
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
        Paths.get(uri.getPath).toRealPath().toString
      else p.toString
    } catch { case _: Exception => p.toString }
    try {
      var frontier: Seq[HPath] = Seq(rootPath)
      while (frontier.nonEmpty) {
        frontier = frontier.filter(d => visited.add(realId(d)))
        val tasks = frontier.map { dir =>
          new Callable[(HPath, Either[Throwable, Array[FileStatus]])] {
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
            else probes += probe(st)
          }
        }
        frontier = next.result()
      }
      val (bad, files) = probes.result().map(_.get()).partitionMap(identity)
      (files, errors.result() ++ bad)
    } finally pool.shutdown()
  }

  private def msg(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getSimpleName)

  /** The read-access probe of one listing over `fs`: a listed file passes,
    * or becomes an `IoError("open")` naming its path.
    *
    * On the local file system (scheme `file`, whatever class serves it) a
    * file is judged from its POSIX attributes, read with symlinks followed
    * as Hadoop's `getFileStatus` follows them, under Hadoop's own rule
    * (`FileSystem.checkAccessPermissions`): the owner's read bit if the
    * caller's short user name owns the file, else the group's if one of the
    * caller's groups owns it, else the others'. There is no superuser
    * bypass. The caller is looked up once per listing, its groups only when
    * it does not own a file. This is the check `fs.access` makes, without
    * the child process (`ls -ld`) Hadoop's local file system runs per file
    * to load permissions where native Hadoop IO is absent.
    *
    * Every other file system, and a local one without a POSIX attribute
    * view, keeps `fs.access`: remote file systems check ACLs on the server.
    */
  private[graft] def readProbe(fs: FileSystem): FileStatus => Either[IoError, FileStatus] = {
    def refused(st: FileStatus, why: String) = Left(IoError("open", st.getPath.toString, why))
    if (fs.getUri.getScheme != "file" ||
        !FileSystems.getDefault.supportedFileAttributeViews.contains("posix"))
      st => try { fs.access(st.getPath, FsAction.READ); Right(st) }
        catch { case e: Exception => refused(st, msg(e)) }
    else {
      lazy val ugi = UserGroupInformation.getCurrentUser
      lazy val groups = ugi.getGroupsSet
      st => try {
        val user = ugi.getShortUserName
        val a = Files.readAttributes(Paths.get(st.getPath.toUri.getPath), classOf[PosixFileAttributes])
        val (owner, group) = (a.owner.getName, a.group.getName)
        val read =
          if (owner == user) OWNER_READ
          else if (groups.contains(group)) GROUP_READ
          else OTHERS_READ
        if (a.permissions.contains(read)) Right(st)
        else refused(st, s"Permission denied: user=$user, path=\"${st.getPath}\":" +
          s"$owner:$group:${if (a.isDirectory) "d" else "-"}${PosixFilePermissions.toString(a.permissions)}")
      } catch {
        case _: NoSuchFileException => refused(st, s"File ${st.getPath} does not exist")
        case e: Exception => refused(st, msg(e))
      }
    }
  }

  /** The crawl rows of exactly `files`, already listed: Spark neither
    * globs, re-checks nor re-lists them, because the file index is seeded
    * with a status cache that answers each listed path with its own status.
    */
  private def scanListed(
      spark: SparkSession, files: Seq[FileStatus], schema: StructType,
      format: String, options: Map[String, String]): DataFrame = {
    val f = formatOf(format)
    val opts = readerOptions(f, options)
    val byPath = files.iterator.map(st => st.getPath -> st).toMap
    val listed = new FileStatusCache {
      override def getLeafFiles(path: HPath): Option[Array[FileStatus]] =
        byPath.get(path).map(Array(_))
      def putLeafFiles(path: HPath, leafFiles: Array[FileStatus]): Unit = ()
      def invalidateAll(): Unit = ()
    }
    val dataSchema = f.dataSchema(schema)
    val index = new InMemoryFileIndex(spark, files.map(_.getPath), opts, Some(dataSchema), listed)
    val relation = HadoopFsRelation(index, index.partitionSchema, dataSchema,
      bucketSpec = None, f.format(), opts)(spark)
    f.rows(spark.baseRelationToDataFrame(relation), schema).withColumn("source_file", f.source)
  }

  /** A scan's file name in the listing's form: `input_file_name()` gives
    * the path's URI, in which reserved characters are %-escaped.
    */
  private val listedForm = udf((uri: String) => new HPath(new java.net.URI(uri)).toString)

  /** Scope a session conf override to `body` (restores the prior value).
    * File-source split planning consults the session conf at action time,
    * so overrides applied around the action in [[collect]] take effect.
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
    * deterministic — the lexicographically smallest failing path as the
    * listing names it, I/O errors (discovered during listing, which
    * precedes decode) before decode errors.
    *
    * One listing, one pass: the scan reads exactly the files the listing
    * returned, and the fold, the smallest corrupt file and the count of
    * corrupt files come out of a single aggregate over it.
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
    val (files, errors) = listStatuses(spark, root, listingParallelism, accessProbe = true)
    val openFailures = errors.count(_.op == "open")
    val firstIo = errors.sortBy(_.path).headOption
      .map(e => s"failed to ${e.op}: ${e.path} (${e.error})")
    if (files.isEmpty)
      return CrawlResult(agg.zeroValue, openFailures.toLong, firstIo)
    withConf(spark, "spark.sql.files.maxPartitionBytes", maxPartitionBytes.map(_.toString)) {
      val rows = scanListed(spark, files, schema, format, options)
        .withColumn(BadFile, when(col(CorruptCol).isNotNull, listedForm(col("source_file"))))
      val typed = zeroFilled(rows, schema)
        .select(schema.fieldNames.map(col).toIndexedSeq :+ col(BadFile): _*).as[T]
      val (result, firstBad, nBad) = Jobs.labeled(spark, "crawl:collect:fold") {
        typed.select(agg.column,
          min(col(BadFile)).as(Encoders.STRING),
          count_distinct(col(BadFile)).as(Encoders.scalaLong)).head()
      }
      val firstDecode = Option(firstBad).map(f => s"failed to decode: $f")
      CrawlResult(result, nBad + openFailures, firstIo.orElse(firstDecode))
    }
  }

  /** Unbounded crawl: a streaming Dataset over files appearing under
    * `root` — the reference's bounded `Collect` pipeline with the bound
    * removed. New files are discovered per micro-batch (recursive, the
    * same format table and PERMISSIVE zero-substitution decode as
    * [[crawl]]); compose with watermarks/aggregations and a `writeStream`
    * sink.
    */
  def crawlStream[T: Encoder](
      spark: SparkSession, root: String, schema: StructType,
      format: String = "json", options: Map[String, String] = Map.empty): Dataset[T] = {
    val f = formatOf(format)
    val raw = spark.readStream.format(f.name)
      .options(readerOptions(f, Map("recursiveFileLookup" -> "true") ++ options))
      .schema(f.dataSchema(schema))
      .load(root)
    typedFrom[T](f.rows(raw, schema).withColumn("source_file", lit("")), schema)
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
