package graft

import java.nio.file.{Files, Path, Paths}
import scala.util.Using
import graft.functions.MonoidAggregator
import graft.sources.{Bfs, Crawl}
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Reference-parity goldens for the crawl pipeline.
  *
  * Mirrors the reference's own test strategy (SURVEY.md §5):
  *  - demo golden: sum over the reference's `tests/` fixtures = 300
  *    (`cmd/app/app.go:54`), read from the committed copy under
  *    `src/test/resources/reference/tests` (three `{"data": 100}` files at
  *    depths 2, 3 and 4; FIXTURES.md §1)
  *  - real-FS golden: 10 dirs × 10 files of {"data":1} = 100
  *    (`internal/filecrawler/crawler_test.go:64-107`)
  *  - error injection: malformed file ⇒ zero-value substitution + first
  *    error surfaced, result still returned (`crawler_test.go:395-455`,
  *    `crawler.go:253`)
  */
case class Rec(data: Long)

class CrawlSpec extends SparkSpec {
  private val schema = StructType(Seq(StructField("data", LongType)))

  /** The reference's demo fixture tree, as a local path off the test classpath.
    * An incremental build keeps the copied directories of deleted resources,
    * so the tree must also hold a file, not just resolve.
    */
  private lazy val referenceTests: String = {
    val root = Option(getClass.getResource("/reference/tests")).map(u => Paths.get(u.toURI))
    require(root.exists(r => Using.resource(Files.walk(r))(_.anyMatch(p => Files.isRegularFile(p)))),
      "fixture tree reference/tests is missing from the test classpath " +
        "(expected under src/test/resources/reference/tests)")
    root.get.toString
  }

  test("golden: reference demo fixtures sum to 300 (app.go:54)") {
    import spark.implicits._
    val res = Crawl.collect[Rec, Long](spark, referenceTests, schema,
      MonoidAggregator.sumLong[Rec](_.data))
    assert(res.result == 300L)
    assert(res.corruptFiles == 0L)
    assert(res.firstError.isEmpty)
  }

  test("golden: 10 dirs x 10 files of {data:1} sum to 100 (crawler_test.go:64-107)") {
    import spark.implicits._
    val root = Files.createTempDirectory("crawl100")
    for (d <- 0 until 10) {
      val dir = Files.createDirectory(root.resolve(s"d$d"))
      for (f <- 0 until 10)
        Files.writeString(dir.resolve(s"$f.json"), """{"data": 1}""")
    }
    val res = Crawl.collect[Rec, Long](spark, root.toString, schema,
      MonoidAggregator.sumLong[Rec](_.data))
    assert(res.result == 100L)
  }

  test("error injection: malformed JSON yields zero value + first error (crawler.go:253)") {
    import spark.implicits._
    val root = Files.createTempDirectory("crawlerr")
    Files.writeString(root.resolve("good.json"), """{"data": 7}""")
    Files.writeString(root.resolve("bad.json"), """{"data": oops""")
    val res = Crawl.collect[Rec, Long](spark, root.toString, schema,
      MonoidAggregator.sumLong[Rec](_.data))
    assert(res.result == 7L) // corrupt file contributed the zero value
    assert(res.corruptFiles == 1L)
    assert(res.firstError.exists(_.contains("bad.json")))
  }

  test("csv crawl: recursive tree, corrupt-row accounting, zero substitution") {
    import spark.implicits._
    val root = Files.createTempDirectory("crawlcsv")
    val inner = Files.createDirectories(root.resolve("a/b"))
    Files.writeString(root.resolve("one.csv"), "5\n10\n")
    Files.writeString(inner.resolve("two.csv"), "20\nnot_a_number\n")
    val res = Crawl.collect[Rec, Long](spark, root.toString, schema,
      MonoidAggregator.sumLong[Rec](_.data), format = "csv")
    assert(res.result == 35L) // corrupt row contributed the zero value
    assert(res.corruptFiles == 1L)
    assert(res.firstError.exists(_.contains("two.csv")))
  }

  test("orc crawl: recursive tree reads back the written rows") {
    import spark.implicits._
    val root = Files.createTempDirectory("crawlorc").toString
    spark.createDataset(Seq(Rec(1), Rec(2))).write.orc(s"$root/x")
    spark.createDataset(Seq(Rec(39))).write.orc(s"$root/y/z")
    val res = Crawl.collect[Rec, Long](spark, root, schema,
      MonoidAggregator.sumLong[Rec](_.data), format = "orc")
    assert(res.result == 42L)
    assert(res.corruptFiles == 0L && res.firstError.isEmpty)
  }

  test("io error matrix: unlistable subtrees and unopenable files surface as firstError with a partial result (crawler_test.go:395-455)") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.faulty.impl", classOf[FaultyFs].getName)
    val root = Files.createTempDirectory("crawlio")
    val a = Files.createDirectory(root.resolve("a"))
    Files.writeString(a.resolve("good1.json"), """{"data": 3}""")
    Files.writeString(root.resolve("good2.json"), """{"data": 4}""")
    val unlistable = Files.createDirectory(root.resolve("unlistable"))
    Files.writeString(unlistable.resolve("hidden.json"), """{"data": 50}""")
    val panicdir = Files.createDirectory(root.resolve("panicdir"))
    Files.writeString(panicdir.resolve("hidden2.json"), """{"data": 60}""")
    Files.writeString(root.resolve("noopen.json"), """{"data": 9}""")
    Files.writeString(root.resolve("nopanic.json"), """{"data": 11}""")
    val faultyRoot = "faulty:" + root.toString

    // All four injected failures are captured; the walk continues past them.
    val listing = Crawl.listWithErrors(spark, faultyRoot)
    assert(listing.errors.count(_.op == "list") == 2)
    assert(listing.errors.count(_.op == "open") == 2)
    assert(listing.files.forall(f => f.contains("good1") || f.contains("good2")))

    // Partial result from the readable files + deterministic first error.
    val res = Crawl.collect[Rec, Long](spark, faultyRoot, schema,
      MonoidAggregator.sumLong[Rec](_.data))
    assert(res.result == 7L)         // good1 + good2 only
    assert(res.corruptFiles == 2L)   // the two unopenable files
    assert(res.firstError.exists(e =>
      e.startsWith("failed to open:") && e.contains("noopen.json")))
  }

  test("io error injection: permission-denied file is skipped, counted, and surfaced (open-error case)") {
    import spark.implicits._
    import java.nio.file.attribute.PosixFilePermissions
    val root = Files.createTempDirectory("crawlperm")
    Files.writeString(root.resolve("good.json"), """{"data": 30}""")
    val locked = Files.writeString(root.resolve("locked.json"), """{"data": 99}""")
    Files.setPosixFilePermissions(locked, PosixFilePermissions.fromString("---------"))
    val res = Crawl.collect[Rec, Long](spark, root.toString, schema,
      MonoidAggregator.sumLong[Rec](_.data))
    assert(res.result == 30L)
    assert(res.corruptFiles == 1L)
    assert(res.firstError.exists(e =>
      e.startsWith("failed to open:") && e.contains("locked.json")))
  }

  test("io error: fully unlistable root still returns the zero value plus the error") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.faulty.impl", classOf[FaultyFs].getName)
    val root = Files.createTempDirectory("crawlroot0")
    val unlistable = Files.createDirectory(root.resolve("unlistable"))
    Files.writeString(unlistable.resolve("x.json"), """{"data": 5}""")
    val res = Crawl.collect[Rec, Long](spark, "faulty:" + unlistable.toString, schema,
      MonoidAggregator.sumLong[Rec](_.data))
    assert(res.result == 0L) // the monoid zero — result is still returned
    assert(res.firstError.exists(_.startsWith("failed to list:")))
  }

  test("wholetext crawl: each file becomes one row holding the full contents") {
    import org.apache.spark.sql.types.{StringType => SString}
    val root = Files.createTempDirectory("crawltext")
    val inner = Files.createDirectory(root.resolve("sub"))
    Files.writeString(root.resolve("a.txt"), "first doc\nwith two lines")
    Files.writeString(inner.resolve("b.txt"), "second doc")
    val textSchema = StructType(Seq(StructField("text", SString)))
    val got = Crawl.crawlRaw(spark, root.toString, textSchema, "text", Map.empty)
      .select("text").collect().map(_.getString(0)).toSet
    assert(got == Set("first doc\nwith two lines", "second doc"))
  }

  test("binaryFile crawl feeds the multimodal pipeline end-to-end") {
    import graft.operators.Multimodal
    val root = Files.createTempDirectory("crawlbin")
    val payloads = Map("x.img" -> Array[Byte](1, 2, 3, 4),
      "sub/y.img" -> Array.tabulate[Byte](100)(_.toByte))
    Files.createDirectory(root.resolve("sub"))
    payloads.foreach { case (p, bytes) => Files.write(root.resolve(p), bytes) }
    val raw = Crawl.crawlRaw(spark, root.toString, new StructType(), "binaryFile", Map.empty)
    val feats = Multimodal.extractFeatures(Multimodal.fromBinaryFiles(raw))
      .collect().sortBy(_.n_bytes)
    assert(feats.length == 2)
    assert(feats.map(_.n_bytes).toSeq == Seq(4L, 100L))
    assert(feats.forall(_.format == "img"))
    assert(feats.map(_.id).distinct.length == 2) // stable per-path ids
    assert(feats.forall(_.features.length == 16))
  }

  test("streaming crawl: running monoid total grows as files arrive (unbounded Collect)") {
    import spark.implicits._
    val root = Files.createTempDirectory("crawlstream")
    val inner = Files.createDirectory(root.resolve("sub"))
    Files.writeString(root.resolve("a.json"), """{"data": 10}""")
    Files.writeString(inner.resolve("b.json"), """{"data": 20}""")
    val q = Crawl.collectStream[Rec, Long](spark, root.toString, schema,
      MonoidAggregator.sumLong[Rec](_.data), "crawl_stream_total")
    try {
      q.processAllAvailable()
      assert(spark.table("crawl_stream_total").head().getLong(0) == 30L)
      // the unbounded part: a file arriving later folds into the running total
      Files.writeString(inner.resolve("c.json"), """{"data": 12}""")
      q.processAllAvailable()
      assert(spark.table("crawl_stream_total").head().getLong(0) == 42L)
    } finally {
      q.stop()
      spark.catalog.dropTempView("crawl_stream_total")
    }
  }

  test("typed crawl decodes nested depths recursively") {
    import spark.implicits._
    val ds = Crawl.crawl[Rec](spark, referenceTests, schema)
    assert(ds.collect().map(_.data).sorted.toSeq == Seq(100L, 100L, 100L))
  }

  test("generic BFS expansion visits the whole tree level by level (pool.go:168-196)") {
    import spark.implicits._
    // numeric tree: node n has children 3n+1, 3n+2, 3n+3 while < 40
    val all = Bfs.expand[Int](spark, Seq(0),
      n => if (n < 13) Seq(3 * n + 1, 3 * n + 2, 3 * n + 3) else Seq.empty)
    val got = all.collect().toSet
    def walk(n: Int): Set[Int] =
      Set(n) ++ (if (n < 13) (1 to 3).flatMap(i => walk(3 * n + i)) else Nil)
    assert(got == walk(0))
  }

  test("bfs expand leaves no per-level frontier caches behind (crawler_test.go:634 leak bound analogue)") {
    import spark.implicits._
    val before = spark.sparkContext.getPersistentRDDs.size
    val all = Bfs.expand[Int](spark, Seq(0),
      n => if (n < 13) Seq(3 * n + 1, 3 * n + 2, 3 * n + 3) else Seq.empty)
    assert(all.count() > 0)
    val after = spark.sparkContext.getPersistentRDDs.size
    // Only the returned snapshot may add storage; the per-level frontier
    // caches (one per tree depth before the fix) must all be released.
    assert(after <= before + 1,
      s"persisted RDDs grew $before -> $after; frontier caches leaked")
  }

  test("resumable BFS: full crawl == in-memory expand; finished state never re-expands") {
    import spark.implicits._
    def kids(n: Int) = if (n < 13) Seq(3 * n + 1, 3 * n + 2, 3 * n + 3) else Seq.empty
    val path = Files.createTempDirectory("bfsres").toString
    val got = Bfs.expandResumable[Int](spark, Seq(0), kids, path).collect().toSet
    val want = Bfs.expand[Int](spark, Seq(0), kids).collect().toSet
    assert(got == want, "at-rest crawl must equal the in-memory expansion")
    // a finished crawl is served from the stored levels: children must
    // never be invoked again (a poisoned expander proves it)
    val again = Bfs.expandResumable[Int](spark, Seq(0),
      (_: Int) => sys.error("children called on a finished crawl"), path)
    assert(again.collect().toSet == want)
  }

  test("resumable BFS: a budget stop resumes where it left; completed levels are not rewritten") {
    import spark.implicits._
    def kids(n: Int) = if (n < 13) Seq(3 * n + 1, 3 * n + 2, 3 * n + 3) else Seq.empty
    val path = Files.createTempDirectory("bfsres2").toString
    val partial = Bfs.expandResumable[Int](spark, Seq(0), kids, path,
      maxLevels = 2).collect().toSet
    assert(partial == Set(0, 1, 2, 3) ++ (1 to 3).flatMap(n =>
      Seq(3 * n + 1, 3 * n + 2, 3 * n + 3)),
      s"two levels exactly: $partial")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def mtime(k: Int) = fs.getFileStatus(
      new org.apache.hadoop.fs.Path(s"$path/level-$k/_SUCCESS"))
      .getModificationTime
    val (m0, m1) = (mtime(0), mtime(1))
    // simulate a crash mid-level-3: an uncommitted directory with wrong
    // content must be invisible and overwritten on resume
    Seq(999).toDF("value").write.parquet(s"$path/level-3")
    fs.delete(new org.apache.hadoop.fs.Path(s"$path/level-3/_SUCCESS"), false)
    val full = Bfs.expandResumable[Int](spark, Seq(0), kids, path)
      .collect().toSet
    val want = Bfs.expand[Int](spark, Seq(0), kids).collect().toSet
    assert(full == want, "resume must recompute only the torn level")
    assert(!full.contains(999), "torn uncommitted content must be discarded")
    assert(mtime(0) == m0 && mtime(1) == m1,
      "completed levels are append-only - resume must not rewrite them")
  }

  test("gzipped files crawl transparently (web-archive ingestion shape)") {
    import spark.implicits._
    import java.util.zip.GZIPOutputStream
    val root = Files.createTempDirectory("crawlgz")
    def gz(name: String, content: String): Unit = {
      val out = new GZIPOutputStream(Files.newOutputStream(root.resolve(name)))
      out.write(content.getBytes("UTF-8")); out.close()
    }
    gz("a.json.gz", """{"data": 40}""")
    gz("b.json.gz", """{"data": 2}""")
    Files.writeString(root.resolve("c.json"), """{"data": 1}""") // mixed plain
    val res = Crawl.collect[Rec, Long](spark, root.toString, schema,
      MonoidAggregator.sumLong[Rec](_.data))
    assert(res.result == 43L)
    assert(res.corruptFiles == 0L && res.firstError.isEmpty)
  }

  test("listing terminates and dedupes through a directory-symlink cycle") {
    val root = Files.createTempDirectory("crawlsym")
    val sub = Files.createDirectory(root.resolve("sub"))
    Files.writeString(root.resolve("top.json"), """{"data": 1}""")
    Files.writeString(sub.resolve("deep.json"), """{"data": 2}""")
    // sub/loop -> root: without the resolved-path visited set the walk
    // descends root/sub/loop/sub/loop/... forever.
    Files.createSymbolicLink(sub.resolve("loop"), root)
    val listing = Crawl.listWithErrors(spark, root.toString)
    assert(listing.errors.isEmpty)
    // Each real file listed exactly once, under its first-seen path.
    assert(listing.files.length == 2)
    assert(listing.files.count(_.endsWith("top.json")) == 1)
    assert(listing.files.count(_.endsWith("deep.json")) == 1)
  }

  test("accessProbe=false lists permission-locked files instead of pre-flight erroring") {
    import java.nio.file.attribute.PosixFilePermissions
    val root = Files.createTempDirectory("crawlnoprobe")
    Files.writeString(root.resolve("open.json"), """{"data": 1}""")
    val locked = Files.writeString(root.resolve("locked.json"), """{"data": 2}""")
    Files.setPosixFilePermissions(locked, PosixFilePermissions.fromString("---------"))
    val probed = Crawl.listWithErrors(spark, root.toString)
    assert(probed.files.length == 1 && probed.errors.count(_.op == "open") == 1)
    // Object-store mode: no per-file metadata RPC, no pre-flight open check.
    val unprobed = Crawl.listWithErrors(spark, root.toString, accessProbe = false)
    assert(unprobed.files.length == 2 && unprobed.errors.isEmpty)
  }

  test("local read probe == fs.access on the plain local file system: mode bits, owners, symlinks, races") {
    import java.nio.file.attribute.{PosixFileAttributeView, PosixFilePermission, PosixFilePermissions}
    import org.apache.hadoop.fs.{FileStatus, FileSystem, FilterFileSystem, Path => HPath}
    import org.apache.hadoop.fs.permission.FsAction
    import org.apache.hadoop.security.UserGroupInformation
    import scala.jdk.CollectionConverters._
    val local = FileSystem.getLocal(spark.sessionState.newHadoopConf())
    // A `file:` file system of another class whose access() fails the
    // test: the probe picks the attribute check by scheme, not by class,
    // and never calls it.
    val noAccess = new FilterFileSystem(local) {
      override def access(p: HPath, mode: FsAction): Unit =
        throw new AssertionError(s"fs.access called on $p")
    }
    val probe = Crawl.readProbe(noAccess)
    val root = Files.createTempDirectory("crawlprobe")
    def status(p: Path) = new FileStatus(0L, false, 1, 0L, 0L, new HPath(p.toUri))
    def check(what: String, p: Path): Unit = {
      val st = status(p)
      val want =
        try { local.access(st.getPath, FsAction.READ); None }
        catch { case e: Exception => Some(e) }
      probe(st) match {
        case Right(got) =>
          assert(want.isEmpty, s"$what: the probe passed what fs.access refused: $want")
          assert(got eq st)
        case Left(err) =>
          assert(want.nonEmpty, s"$what: the probe refused what fs.access passed: $err")
          assert(err.op == "open" && err.path == st.getPath.toString, s"$what: $err")
          if (want.get.getMessage.startsWith("Permission denied"))
            assert(err.error == want.get.getMessage, what)
      }
    }
    val bits = Seq(PosixFilePermission.OWNER_READ, PosixFilePermission.GROUP_READ,
      PosixFilePermission.OTHERS_READ)
    def files(tag: String) = (0 until 8).map { m =>
      val f = Files.writeString(root.resolve(s"$tag$m.json"), """{"data": 1}""")
      val perms = bits.zipWithIndex.collect { case (b, i) if (m >> i & 1) == 1 => b }
      Files.setPosixFilePermissions(f, (perms :+ PosixFilePermission.OWNER_WRITE).toSet.asJava)
      (s"$tag mode ${PosixFilePermissions.toString(Files.getPosixFilePermissions(f))}", f)
    }
    // Files the test user owns: the owner bits decide.
    files("own").foreach { case (what, f) => check(what, f) }
    // Symlinks are followed to their target's bits, a dangling one refused.
    val readable = Files.writeString(root.resolve("readable.json"), """{"data": 1}""")
    val locked = Files.writeString(root.resolve("locked.json"), """{"data": 1}""")
    Files.setPosixFilePermissions(locked, PosixFilePermissions.fromString("---------"))
    check("symlink to a readable file", Files.createSymbolicLink(root.resolve("to-readable"), readable))
    check("symlink to a locked file", Files.createSymbolicLink(root.resolve("to-locked"), locked))
    check("dangling symlink", Files.createSymbolicLink(root.resolve("dangling"), root.resolve("absent")))
    // A file deleted between its listing and its probe.
    val gone = Files.writeString(root.resolve("gone.json"), """{"data": 1}""")
    Files.delete(gone)
    check("file deleted after listing", gone)
    // Files owned by another user: the group bits decide when the caller is
    // in the file's group, the other bits when it is not. Re-owning needs
    // root; elsewhere these cases are skipped.
    val lookup = root.getFileSystem.getUserPrincipalLookupService
    val ugi = UserGroupInformation.getCurrentUser
    val other = Seq("nobody", "daemon").find(_ != ugi.getShortUserName)
      .flatMap(u => scala.util.Try(lookup.lookupPrincipalByName(u)).toOption)
    val outsider = Seq("nogroup", "nobody", "daemon").filterNot(ugi.getGroupsSet.contains)
      .flatMap(g => scala.util.Try(lookup.lookupPrincipalByGroupName(g)).toOption).headOption
    assume(ugi.getShortUserName == "root" && other.nonEmpty && outsider.nonEmpty,
      "re-owning files to another user and group needs root and both to exist")
    for ((tag, group) <- Seq(("ingroup", None), ("outgroup", outsider)); (what, f) <- files(tag)) {
      val view = Files.getFileAttributeView(f, classOf[PosixFileAttributeView])
      view.setOwner(other.get)
      group.foreach(view.setGroup)
      check(what, f)
    }
  }

  /** `n` equal-size `{"data": 1}` files spread over a three-level tree. */
  private def equalTree(prefix: String, n: Int): Path = {
    val root = Files.createTempDirectory(prefix)
    for (i <- 0 until n) {
      val dir = Files.createDirectories(root.resolve(s"d${i % 3}/e${i % 2}"))
      Files.writeString(dir.resolve(f"f$i%04d.json"), """{"data": 1}""")
    }
    root
  }

  test("job budget: collect over 40 and 120 files runs the same <= 3 jobs, no re-listing, no cache") {
    import spark.implicits._
    val agg = MonoidAggregator.sumLong[Rec](_.data)
    // Both trees name more files than Spark's parallel-listing threshold
    // (32), where a plain read of a file list re-lists it in a Spark job.
    val small = equalTree("crawlbudget40", 40)
    val large = equalTree("crawlbudget120", 120)
    Crawl.collect[Rec, Long](spark, small.toString, schema, agg) // warm, outside the count
    val persisted = spark.sparkContext.getPersistentRDDs.keySet
    def run(root: Path, want: Long) = {
      var res: Crawl.CrawlResult[Long] = null
      val work = sparkWork { res = Crawl.collect[Rec, Long](spark, root.toString, schema, agg) }
      assert(res.result == want && res.corruptFiles == 0L && res.firstError.isEmpty)
      work
    }
    val (jobs40, tasks40, labels40) = run(small, 40L)
    val (jobs120, tasks120, labels120) = run(large, 120L)
    assert(jobs40 == jobs120 && jobs120 <= 3,
      s"collect must run a fixed, small number of jobs: 40 files $jobs40, 120 files $jobs120")
    assert((labels40 ++ labels120).forall(!_.startsWith("Listing leaf files")),
      s"collect re-listed files it had already listed: ${labels40 ++ labels120}")
    assert((labels40 ++ labels120).forall(_.startsWith("crawl:")),
      s"every collect job is crawl:-labeled: ${labels40 ++ labels120}")
    assert(tasks40 == tasks120,
      s"collect's task count must not grow with the file count: $tasks40 -> $tasks120")
    assert(spark.sparkContext.getPersistentRDDs.keySet == persisted,
      "collect must not leave (or use) a persisted relation")
  }

  test("decode errors name files as the listing does, smallest in the listing's order") {
    import spark.implicits._
    val root = Files.createTempDirectory("crawlnames")
    Files.writeString(root.resolve("ok.json"), """{"data": 5}""")
    // Raw order puts ' ' (0x20) before '!' (0x21); URI-escaped, "a%20b"
    // sorts after "a!" — the smallest must be chosen in the raw form.
    Files.writeString(root.resolve("a b.json"), """{"data": oops""")
    Files.writeString(root.resolve("a!.json"), """{"data": oops""")
    Files.writeString(root.resolve("a%41.json"), """{"data": oops""")
    val listed = Crawl.listWithErrors(spark, root.toString).files
    val first = listed.find(_.endsWith("/a b.json")).get
    assert(listed.exists(_.endsWith("/a%41.json")))
    val res = Crawl.collect[Rec, Long](spark, root.toString, schema,
      MonoidAggregator.sumLong[Rec](_.data))
    assert(res.result == 5L)
    assert(res.corruptFiles == 3L)
    assert(res.firstError.contains(s"failed to decode: $first"), res.firstError)
  }

  test("io error matrix above Spark's parallel-listing threshold: more than 32 readable files") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.faulty.impl", classOf[FaultyFs].getName)
    val root = Files.createTempDirectory("crawlio40")
    for (i <- 0 until 40) {
      val dir = Files.createDirectories(root.resolve(s"d${i % 4}"))
      Files.writeString(dir.resolve(s"good$i.json"), s"""{"data": $i}""")
    }
    val unlistable = Files.createDirectory(root.resolve("unlistable"))
    Files.writeString(unlistable.resolve("hidden.json"), """{"data": 50}""")
    val panicdir = Files.createDirectory(root.resolve("panicdir"))
    Files.writeString(panicdir.resolve("hidden2.json"), """{"data": 60}""")
    Files.writeString(root.resolve("d2/noopen.json"), """{"data": 9}""")
    Files.writeString(root.resolve("nopanic.json"), """{"data": 11}""")
    Files.writeString(root.resolve("d3/bad.json"), """{"data": oops""")
    val faultyRoot = "faulty:" + root.toString

    val listing = Crawl.listWithErrors(spark, faultyRoot)
    assert(listing.errors.count(_.op == "list") == 2)
    assert(listing.errors.count(_.op == "open") == 2)
    assert(listing.files.size == 41)

    val res = Crawl.collect[Rec, Long](spark, faultyRoot, schema,
      MonoidAggregator.sumLong[Rec](_.data))
    assert(res.result == (0 until 40).sum.toLong) // the readable files only
    assert(res.corruptFiles == 3L) // two unopenable files + one undecodable
    // I/O errors precede decode errors; "d2/noopen.json" is the smallest
    // failing path, ahead of "nopanic.json", "panicdir" and "unlistable"
    assert(res.firstError.exists(e =>
      e.startsWith("failed to open:") && e.contains("d2/noopen.json")), res.firstError)
  }

  test("a zero-byte json file is neither a row nor a corrupt file") {
    import spark.implicits._
    val root = Files.createTempDirectory("crawlempty")
    Files.writeString(root.resolve("good.json"), """{"data": 8}""")
    Files.writeString(root.resolve("empty.json"), "")
    val res = Crawl.collect[Rec, Long](spark, root.toString, schema,
      MonoidAggregator.sumLong[Rec](_.data))
    assert(res.result == 8L)
    assert(res.corruptFiles == 0L && res.firstError.isEmpty)
    assert(Crawl.crawl[Rec](spark, root.toString, schema).count() == 1L)
  }

  test("a csv file with two corrupt rows counts as one corrupt file") {
    import spark.implicits._
    val root = Files.createTempDirectory("crawlcsv2")
    Files.writeString(root.resolve("one.csv"), "1\nx\n2\ny\n")
    Files.writeString(root.resolve("two.csv"), "4\n")
    val res = Crawl.collect[Rec, Long](spark, root.toString, schema,
      MonoidAggregator.sumLong[Rec](_.data), format = "csv")
    assert(res.result == 7L)
    assert(res.corruptFiles == 1L)
    assert(res.firstError.exists(e => e.startsWith("failed to decode:") && e.endsWith("/one.csv")))
  }

  test("io error: a tree whose every file is unopenable returns the zero value and counts them all") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.faulty.impl", classOf[FaultyFs].getName)
    val root = Files.createTempDirectory("crawlnoopen")
    val sub = Files.createDirectory(root.resolve("sub"))
    Files.writeString(root.resolve("noopen1.json"), """{"data": 1}""")
    Files.writeString(sub.resolve("noopen0.json"), """{"data": 2}""")
    Files.writeString(sub.resolve("nopanic.json"), """{"data": 3}""")
    val res = Crawl.collect[Rec, Long](spark, "faulty:" + root.toString, schema,
      MonoidAggregator.sumLong[Rec](_.data))
    assert(res.result == 0L)
    assert(res.corruptFiles == 3L)
    assert(res.firstError.exists(e =>
      e.startsWith("failed to open:") && e.contains("noopen1.json")), res.firstError)
  }
}
