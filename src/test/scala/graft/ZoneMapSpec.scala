package graft.operators

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The zone-map contract: (a) pruning reads strictly fewer files yet the
  * scan result is row-identical to the unpruned filter under EVERY index
  * state — fresh, stale (new files not yet indexed), shrunk (files
  * deleted), or missing entirely; (b) the maintenance legs are keyed on
  * the file path so they are idempotent; (c) the all-null zone row is
  * pruned for range predicates, which range semantics make correct.
  */
class ZoneMapSpec extends SparkSpec {
  import spark.implicits._

  /** 1000 rows laid out range-partitioned by k into 8 files, so each
    * file covers a narrow k stripe — the layout that makes zone maps
    * selective. `nv` is null except in the top stripe.
    */
  private def writeFixture(dir: String): Unit =
    (0L until 1000L).map(k => (k, k * 2.0, if (k >= 875) k else -1L))
      .toDF("k", "v", "nvRaw")
      .withColumn("nv", when(col("nvRaw") >= 0, col("nvRaw")))
      .drop("nvRaw")
      .repartitionByRange(8, col("k"))
      .sortWithinPartitions("k")
      .write.parquet(dir)

  private def mkDirs(): (String, String) = (
    Files.createTempDirectory("zm_data").toString + "/t",
    Files.createTempDirectory("zm_idx").toString + "/z")

  test("pruned scan == full filter, and actually prunes") {
    val (data, idx) = mkDirs()
    writeFixture(data)
    assert(ZoneMap.build(spark, data, Seq("k", "v", "nv"), idx) == 8)
    assert(hasJsonMeta(s"$idx/meta"))

    val preds = Seq(ZoneMap.Range("k", 100L, 240L))
    val files = ZoneMap.prunedFiles(spark, data, idx, preds).get
    assert(files.size < 8 && files.nonEmpty,
      s"a 140-wide k stripe must prune most of 8 files, got ${files.size}")

    val got = ZoneMap.scan(spark, data, idx, preds)
      .orderBy("k").select("k", "v").collect().toSeq
    val want = spark.read.parquet(data)
      .filter(col("k") >= 100L && col("k") <= 240L)
      .orderBy("k").select("k", "v").collect().toSeq
    assert(got == want && got.size == 141)
  }

  test("disjoint predicate reads zero files but keeps schema; one-sided bounds work") {
    val (data, idx) = mkDirs()
    writeFixture(data)
    ZoneMap.build(spark, data, Seq("k"), idx)

    val none = ZoneMap.scan(spark, data, idx, Seq(ZoneMap.Range("k", 5000L, 9000L)))
    assert(ZoneMap.prunedFiles(spark, data, idx,
      Seq(ZoneMap.Range("k", 5000L, 9000L))).get.isEmpty)
    assert(none.count() == 0 && none.columns.toSeq == Seq("k", "v", "nv"))

    val hiOnly = ZoneMap.scan(spark, data, idx, Seq(ZoneMap.Range("k", hi = 99L)))
    assert(hiOnly.count() == 100)
    val loOnly = ZoneMap.scan(spark, data, idx, Seq(ZoneMap.Range("k", lo = 900L)))
    assert(loOnly.count() == 100)
  }

  test("all-null zone rows are pruned for range predicates, kept results exact") {
    val (data, idx) = mkDirs()
    writeFixture(data)
    ZoneMap.build(spark, data, Seq("k", "nv"), idx)
    // nv is non-null only in the top stripe: 7 of 8 files carry null
    // min_nv/max_nv and must be pruned even though the predicate is wide
    // repartitionByRange samples its boundaries, so the non-null stripe
    // may straddle two files — but never more
    val files = ZoneMap.prunedFiles(spark, data, idx,
      Seq(ZoneMap.Range("nv", 0L, 10000L))).get
    assert(files.size <= 2, s"only the top stripe has non-null nv: $files")
    assert(ZoneMap.scan(spark, data, idx, Seq(ZoneMap.Range("nv", 0L, 10000L)))
      .count() == 125)
  }

  test("stale index widens the read (never loses rows); append is idempotent") {
    val (data, idx) = mkDirs()
    writeFixture(data)
    ZoneMap.build(spark, data, Seq("k"), idx)
    // new data arrives AFTER the build: 2 more files, k in [1000, 1200)
    (1000L until 1200L).map(k => (k, k * 2.0, Option.empty[Long]))
      .toDF("k", "v", "nv")
      .repartitionByRange(2, col("k")).sortWithinPartitions("k")
      .write.mode("append").parquet(data)

    assert(ZoneMap.staleness(spark, data, idx) == ((2L, 0L)))
    // unindexed files are unioned in unpruned — the predicate only
    // matches rows in the NEW files, and they must all be found
    val stale = ZoneMap.scan(spark, data, idx, Seq(ZoneMap.Range("k", 1050L, 1100L)))
    assert(stale.count() == 51)

    assert(ZoneMap.append(spark, data, idx) == 2)
    assert(ZoneMap.append(spark, data, idx) == 0, "append must be idempotent")
    assert(ZoneMap.staleness(spark, data, idx) == ((0L, 0L)))
    // now the same predicate prunes down to the one new file covering it
    val files = ZoneMap.prunedFiles(spark, data, idx,
      Seq(ZoneMap.Range("k", 1050L, 1100L))).get
    assert(files.size <= 2 && ZoneMap.scan(spark, data, idx,
      Seq(ZoneMap.Range("k", 1050L, 1100L))).count() == 51)
  }

  test("vanished files drop from the plan; retract cleans the index") {
    val (data, idx) = mkDirs()
    writeFixture(data)
    ZoneMap.build(spark, data, Seq("k"), idx)
    // delete the file that holds the smallest ks
    val victim = ZoneMap.prunedFiles(spark, data, idx,
      Seq(ZoneMap.Range("k", 0L, 0L))).get.head
    val fs = new org.apache.hadoop.fs.Path(victim)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.delete(new org.apache.hadoop.fs.Path(victim), false))

    // scan plans only live files — no failure, and the survivors match a
    // direct read of what remains on disk
    val got = ZoneMap.scan(spark, data, idx, Seq(ZoneMap.Range("k", 0L, 999L))).count()
    val live = spark.read.parquet(data).count()
    assert(got == live && live < 1000)

    assert(ZoneMap.staleness(spark, data, idx) == ((0L, 1L)))
    assert(ZoneMap.retract(spark, data, idx) == 1)
    assert(ZoneMap.staleness(spark, data, idx) == ((0L, 0L)))
    assert(ZoneMap.retract(spark, data, idx) == 0, "retract must be idempotent")
    assert(ZoneMap.scan(spark, data, idx, Seq(ZoneMap.Range("k", 0L, 999L)))
      .count() == live)
  }

  test("bloom pruning: point lookups on a hash-scattered layout") {
    val (data, idx) = mkDirs()
    // round-robin layout: every file spans the full k range, so min/max
    // pruning keeps everything — the layout blooms exist for
    (0L until 1000L).map(k => (k, k * 2.0)).toDF("k", "v")
      .repartition(16).write.parquet(data)
    ZoneMap.build(spark, data, Seq("k"), idx, bloomCols = Seq("k"),
      bloomItems = 1000L, bloomFpp = 0.01)

    val ranged = ZoneMap.prunedFiles(spark, data, idx,
      Seq(ZoneMap.Range("k", 400L, 400L))).get
    assert(ranged.size == 16, "min/max cannot prune a scattered layout")

    val pointed = ZoneMap.prunedFiles(spark, data, idx,
      Seq(ZoneMap.Point("k", 400L))).get
    assert(pointed.size <= 3,
      s"bloom must prune a point lookup to ~1 file (+fp): ${pointed.size}")
    val got = ZoneMap.scan(spark, data, idx, Seq(ZoneMap.Point("k", 400L)))
      .select("k", "v").as[(Long, Double)].collect().toSeq
    assert(got == Seq((400L, 800.0)))

    // absent key: bloom's no-false-negative guarantee means pruning to
    // nothing is CORRECT, and the scan is exactly empty
    assert(ZoneMap.scan(spark, data, idx, Seq(ZoneMap.Point("k", 5000L)))
      .count() == 0)

    // Point on a zone-only column still prunes via min/max; on a
    // range-clustered layout that's the right tool
    val (data2, idx2) = mkDirs()
    writeFixture(data2)
    ZoneMap.build(spark, data2, Seq("k"), idx2)
    val zp = ZoneMap.prunedFiles(spark, data2, idx2,
      Seq(ZoneMap.Point("k", 400L))).get
    assert(zp.size == 1 && ZoneMap.scan(spark, data2, idx2,
      Seq(ZoneMap.Point("k", 400L))).count() == 1)
  }

  test("bloom append: late files get blooms; mixed Range+Point predicates compose") {
    val (data, idx) = mkDirs()
    (0L until 500L).map(k => (k, k * 2.0)).toDF("k", "v")
      .repartition(8).write.parquet(data)
    ZoneMap.build(spark, data, Seq("k", "v"), idx, bloomCols = Seq("k"),
      bloomItems = 1000L, bloomFpp = 0.01)
    (500L until 1000L).map(k => (k, k * 2.0)).toDF("k", "v")
      .repartition(8).write.mode("append").parquet(data)
    assert(ZoneMap.append(spark, data, idx) == 8)

    // the late key is only findable through an appended bloom row
    val files = ZoneMap.prunedFiles(spark, data, idx,
      Seq(ZoneMap.Point("k", 777L))).get
    assert(files.size <= 3, s"appended blooms must prune: ${files.size}")
    // Range on v (zones) AND Point on k (bloom): conservative checks AND
    val both = ZoneMap.scan(spark, data, idx, Seq(
      ZoneMap.Point("k", 777L), ZoneMap.Range("v", 1000.0, 2000.0)))
    assert(both.count() == 1)
    assert(ZoneMap.scan(spark, data, idx, Seq(
      ZoneMap.Point("k", 777L), ZoneMap.Range("v", 0.0, 100.0))).count() == 0)
  }

  test("canonical strips scheme AND authority — URI forms all key identically") {
    // input_file_name() yields full URIs (file:///…, hdfs://nn:8020/…)
    // while Hadoop listings key on toUri.getPath; if the two sides ever
    // disagree, pruning silently never applies and append re-indexes
    // everything forever. Pin the normalization over every URI shape.
    val forms = Seq(
      "file:/a/b.parquet", "file:///a/b.parquet",
      "hdfs://nn:8020/a/b.parquet", "s3a://bucket/a/b.parquet",
      "/a/b.parquet")
    val got = forms.toDF("p").select(ZoneMap.canonical(col("p"))).as[String]
      .collect().toSeq
    assert(got == Seq.fill(forms.size)("/a/b.parquet"), got.toString)
  }

  test("bloom probe literal is canonicalized through the column type") {
    val (data, idx) = mkDirs()
    // DoubleType bloom column: the engine's string cast of 400.0 is
    // "400.0" while an Int literal's toString is "400" — the probe must
    // route through the column type or every Int-literal probe on a
    // double column is a silent false negative (files dropped that
    // contain the row)
    (0L until 1000L).map(k => (k, k * 2.0)).toDF("k", "v")
      .repartition(16).write.parquet(data)
    ZoneMap.build(spark, data, Nil, idx, bloomCols = Seq("v"),
      bloomItems = 1000L, bloomFpp = 0.01)
    val got = ZoneMap.scan(spark, data, idx, Seq(ZoneMap.Point("v", 400)))
      .select("k").as[Long].collect().toSeq
    assert(got == Seq(200L),
      s"Int-literal probe of a DoubleType bloom must not false-negative: $got")
    // and it still PRUNES (the typed hash matches, so ~1 file survives)
    val files = ZoneMap.prunedFiles(spark, data, idx,
      Seq(ZoneMap.Point("v", 400))).get
    assert(files.size <= 3, s"typed probe must prune: ${files.size}")
    // a probe value the column type cannot hold fails loudly, not wrongly
    intercept[Exception] {
      ZoneMap.prunedFiles(spark, data, idx, Seq(ZoneMap.Point("v", "nope")))
    }
  }

  test("float blooms normalize signed zero and NaN: -0.0 = 0.0 never prunes away") {
    // SQL's 0.0 is a decimal, which has no signed zero, and -0.0 = 0.0
    // holds on doubles: a bloom that hashed the strings "-0.0" and "0.0"
    // apart would drop the file holding -0.0 for `d = 0.0`
    val (data, idx) = mkDirs()
    Seq((1L, -0.0, -0.0f), (2L, Double.NaN, Float.NaN), (3L, 1.5, 1.5f),
      (4L, 2.5, 2.5f)).toDF("k", "d", "f").repartition(4).write.parquet(data)
    ZoneMap.build(spark, data, Seq("k"), idx, bloomCols = Seq("d", "f"),
      bloomItems = 1000L, bloomFpp = 0.01)
    def keys(p: ZoneMap.Pred): Seq[Long] =
      ZoneMap.scan(spark, data, idx, Seq(p)).select("k").as[Long].collect().toSeq
    Seq[Any](0.0, -0.0, 0, new java.math.BigDecimal("0.0")).foreach { zero =>
      assert(keys(ZoneMap.Point("d", zero)) == Seq(1L), s"d = $zero")
      assert(keys(ZoneMap.Point("f", zero)) == Seq(1L), s"f = $zero")
    }
    assert(keys(ZoneMap.Point("d", Double.NaN)) == Seq(2L))
    assert(keys(ZoneMap.Point("f", Float.NaN)) == Seq(2L))
    assert(ZoneMap.prunedFiles(spark, data, idx,
      Seq(ZoneMap.Point("d", 0.0))).get.size < 4, "the bloom still prunes")
  }

  test("timestamp bloom probes agree across session time zones") {
    // the bloom hashes the engine's string cast of the value; a bare
    // cast resolves with the SESSION zone while the probe evaluates with
    // an explicit one — unless BOTH sides pin the same constant zone, a
    // timestamp bloom built under a non-UTC session false-negatives on
    // probe (files containing the row silently pruned). Build AND probe
    // under America/Los_Angeles to pin the agreement.
    val prev = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
      val (data, idx) = mkDirs()
      (0L until 1000L)
        .map(k => (k, new java.sql.Timestamp(1700000000000L + k * 3600000L)))
        .toDF("k", "ts").repartition(16).write.parquet(data)
      ZoneMap.build(spark, data, Nil, idx, bloomCols = Seq("ts"),
        bloomItems = 1000L, bloomFpp = 0.01)
      val needle = new java.sql.Timestamp(1700000000000L + 400L * 3600000L)
      val got = ZoneMap.scan(spark, data, idx, Seq(ZoneMap.Point("ts", needle)))
        .select("k").as[Long].collect().toSeq
      assert(got == Seq(400L),
        s"timestamp bloom probe under a non-UTC session must not false-negative: $got")
      val files = ZoneMap.prunedFiles(spark, data, idx,
        Seq(ZoneMap.Point("ts", needle))).get
      assert(files.size <= 3, s"typed timestamp probe must prune: ${files.size}")
      // cross-zone portability: probing the SAME index under UTC agrees
      spark.conf.set("spark.sql.session.timeZone", "UTC")
      assert(ZoneMap.scan(spark, data, idx, Seq(ZoneMap.Point("ts", needle)))
        .count() == 1, "an index built under one session zone must probe under another")
    } finally spark.conf.set("spark.sql.session.timeZone", prev)
  }

  test("append sizes late blooms from meta — geometry is not re-guessable") {
    val (data, idx) = mkDirs()
    (0L until 500L).map(k => (k, k * 2.0)).toDF("k", "v")
      .repartition(8).write.parquet(data)
    // custom sizing at build; append takes NO sizing — meta wins
    ZoneMap.build(spark, data, Seq("k"), idx, bloomCols = Seq("k"),
      bloomItems = 2000L, bloomFpp = 0.001)
    (500L until 1000L).map(k => (k, k * 2.0)).toDF("k", "v")
      .repartition(8).write.mode("append").parquet(data)
    assert(ZoneMap.append(spark, data, idx) == 8)
    // a key only in the appended generation prunes as sharply as a
    // build-time key would: late blooms carry the build's tight fpp
    val late = ZoneMap.prunedFiles(spark, data, idx,
      Seq(ZoneMap.Point("k", 777L))).get
    assert(late.size <= 2, s"meta-sized late bloom must prune: ${late.size}")
    assert(ZoneMap.scan(spark, data, idx, Seq(ZoneMap.Point("k", 777L)))
      .count() == 1)
  }

  test("bloom hash-scheme tag: pre-UTC-pin indexes are refused, not probed wrong") {
    // an index written before the UTC cast pin hashed SESSION-zone
    // timestamp strings, and probing its bits can silently false-negative.
    // Simulate one by hand-writing a fresh index's JSON meta (meta.json +
    // _SUCCESS) under that foreign scheme tag: any read must refuse with
    // a rebuild instruction. Min/max-only indexes stay readable.
    def writeLegacyMeta(idx: String, bloomCols: Seq[String],
        items: Long, fpp: Double): Unit = {
      val bloom = bloomCols.map(c => "\"" + c + "\"").mkString(",")
      writeText(s"$idx/meta/meta.json",
        s"""{"cols":["k"],"bloom_cols":[$bloom],""" +
          s""""bloom_items":$items,"bloom_fpp":$fpp,"type_cols":["k"],""" +
          """"type_ddls":["BIGINT"],"bloom_scheme":"xxhash64(session-string),seed=42"}""")
      writeText(s"$idx/meta/_SUCCESS", "")
    }
    val (data, idx) = mkDirs()
    writeFixture(data)
    ZoneMap.build(spark, data, Seq("k"), idx, bloomCols = Seq("k"),
      bloomItems = 1000L, bloomFpp = 0.01)
    writeLegacyMeta(idx, Seq("k"), 1000L, 0.01)
    val e = intercept[IllegalArgumentException] {
      ZoneMap.prunedFiles(spark, data, idx, Seq(ZoneMap.Point("k", 10L)))
    }
    assert(e.getMessage.contains("rebuild"),
      s"a bloomed pre-tag index must demand a rebuild: ${e.getMessage}")
    // a min/max-only legacy index has no bloom bits to mistrust
    val (data2, idx2) = mkDirs()
    writeFixture(data2)
    ZoneMap.build(spark, data2, Seq("k"), idx2)
    writeLegacyMeta(idx2, Nil, 1000000L, 0.03)
    assert(ZoneMap.scan(spark, data2, idx2, Seq(ZoneMap.Range("k", 10L, 20L)))
      .count() == 11, "min/max-only legacy indexes are scheme-independent")
  }

  test("missing index falls back to the full filtered scan; unknown column is loud") {
    val (data, idx) = mkDirs()
    writeFixture(data)
    val df = ZoneMap.scan(spark, data, idx + "_nowhere", Seq(ZoneMap.Range("k", 10L, 20L)))
    assert(df.count() == 11)

    ZoneMap.build(spark, data, Seq("k"), idx)
    val e = intercept[IllegalArgumentException] {
      ZoneMap.prunedFiles(spark, data, idx, Seq(ZoneMap.Range("v", 0.0, 1.0)))
    }
    assert(e.getMessage.contains("not zone-indexed"))
  }

  test("bloom probing is executor-side: the driver collects file names and booleans, never bloom bytes") {
    import org.apache.spark.sql.types.{BinaryType, BooleanType, StringType}
    val (data, _) = mkDirs()
    (0L until 100L).map(k => (k, s"s$k")).toDF("k", "s")
      .repartition(4, col("k")).write.parquet(data)
    val z = ZoneMap.zoneRows(spark.read.parquet(data),
        Seq("k"), Seq("k"), 1000L, 0.03)
      .localCheckpoint(true)
    val meta = ZoneMap.Meta(Seq("k"), Seq("k"), 1000L, 0.03,
      Map("k" -> "BIGINT"))
    // at 100 TB (~800k files × ~912 KB of bloom bits per column) the
    // pruning collect must be metadata-sized: the verdict frame carries
    // ONLY (file, _keep) — any binary column here means bloom bytes are
    // riding to the driver again
    val frame = ZoneMap.pruneFrame(z, meta, Seq(ZoneMap.Point("k", 7L)))
    assert(frame.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      Seq(("file", StringType), ("_keep", BooleanType)),
      s"pruning verdict frame must be (file, _keep): ${frame.schema}")
    assert(!frame.schema.fields.exists(_.dataType == BinaryType))

    // and the executor-side probe is still a real bloom probe: a present
    // key keeps its file, an absent key prunes everything the zone check
    // alone could not (hash-scattered layout: every file spans the full
    // range, only the bloom discriminates)
    val (hit, all) = ZoneMap.pruneZoneRows(z, meta, Seq(ZoneMap.Point("k", 7L)))
    assert(hit.nonEmpty && all.size == 4)
    val (miss, _) =
      ZoneMap.pruneZoneRows(z, meta, Seq(ZoneMap.Point("k", 123456L)))
    assert(miss.size < all.size,
      s"an absent key must bloom-prune on a hash-scattered layout: " +
        s"${miss.size}/${all.size}")
  }

  test("property: the pruner never drops a file holding a kept row; driver and executor runs agree") {
    import java.math.{BigDecimal => JBigDecimal}
    import java.sql.Timestamp
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def sample[A](g: Gen[A]): A = g.pureApply(Gen.Parameters.default, Seed(42L))

    // 2^53: past it, Catalyst compares bigint with double in double, and
    // 2^53+3 equals the double 2^53+4
    val big = 9007199254740992L
    val t0 = 1700000000000L
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("d", DoubleType), StructField("s", StringType),
      StructField("m", DecimalType(12, 3)), StructField("ts", TimestampType)))
    val cols = schema.fieldNames.toSeq
    val values: Seq[Seq[Any]] = Seq(
      Seq(-5L, 0L, 7L, 40L, big + 1, big + 3, big + 5),
      Seq(Double.NaN, -0.0, 0.0, 1.5, -2.25, 7.0, 1e300),
      // U+FB01 sorts below U+1F600 in UTF-8 bytes, above it in UTF-16
      Seq("", "a", "Z", "\u00e9", "\uFB01", "\uD83D\uDE00", "z"),
      Seq("-12.345", "0.000", "7.000", "7.001", "40.500").map(new JBigDecimal(_)),
      Seq(0L, 1L, 60000L, 3600000L).map(d => new Timestamp(t0 + d)))
    val numeric: Seq[Any] = Seq(-5, 0, 7, 40, 7L, big + 2, big + 4,
      Double.NaN, -0.0, 0.0, 1.5, 7.0, (big + 2).toDouble, (big + 4).toDouble,
      new JBigDecimal("7.000"), new JBigDecimal("-12.35"), new JBigDecimal("1.50"))
    val literals: Map[String, Seq[Any]] = Map("k" -> numeric, "d" -> numeric,
      "m" -> numeric, "s" -> (values(2) ++ Seq("b", "\u00e0")),
      "ts" -> (values(4) ++ Seq(new Timestamp(t0 - 1000L), new Timestamp(t0 + 30000L))))

    // 14 files of 1-5 rows: each column is null in some rows and
    // all-null in some files
    val fileGen: Gen[Seq[Row]] = for {
      dead <- Gen.listOfN(cols.size, Gen.frequency(1 -> true, 5 -> false))
      n <- Gen.chooseNum(1, 5)
      rows <- Gen.listOfN(n, Gen.sequence[List[Any], Any](
        values.zip(dead).map { case (vs, allNull) =>
          if (allNull) Gen.const(null)
          else Gen.frequency(1 -> Gen.const(null), 6 -> Gen.oneOf(vs))
        }))
    } yield rows.map(Row.fromSeq)
    val files = sample(Gen.listOfN(14, fileGen))
    val (data, _) = mkDirs()
    spark.createDataFrame(spark.sparkContext.parallelize(files.indices, files.size)
      .flatMap(i => files(i)), schema).write.parquet(data)
    val df = spark.read.parquet(data)
    val bloomCols = Seq("k", "s")
    val z = ZoneMap.zoneRows(df, cols, bloomCols, 1000L, 0.01).localCheckpoint(true)
    val meta = ZoneMap.Meta(cols, bloomCols, 1000L, 0.01,
      cols.map(c => c -> schema(c).dataType.sql).toMap)

    val predGen: Gen[ZoneMap.Pred] = Gen.oneOf(cols).flatMap { c =>
      val lit = Gen.oneOf(literals(c))
      Gen.oneOf(
        for (lo <- lit; hi <- lit; side <- Gen.chooseNum(0, 2)) yield side match {
          case 0 => ZoneMap.Range(c, lo = lo)
          case 1 => ZoneMap.Range(c, hi = hi)
          case _ => ZoneMap.Range(c, lo, hi)
        },
        lit.map(ZoneMap.Point(c, _)),
        Gen.oneOf(true, false).map(ZoneMap.Nulls(c, _)))
    }
    def nonEmpty[A](g: Gen[A]) = Gen.chooseNum(1, 3).flatMap(Gen.listOfN(_, g))
    val cnfs = sample(Gen.listOfN(120, nonEmpty(nonEmpty(nonEmpty(predGen)))))

    // the files holding a row each spec keeps, in one pass over the data
    val held = df.select(ZoneMap.canonical(input_file_name()) +:
      cnfs.map(cnf => coalesce(cnf.map(_.map(ZoneMap.predicate).reduce(_ || _))
        .reduce(_ && _), lit(false))): _*).collect()
    val zoneRows = z.collect()
    var pruned = 0
    cnfs.zipWithIndex.foreach { case (cnf, i) =>
      val want = held.filter(_.getBoolean(i + 1)).map(_.getString(0)).toSet
      val verdicts = ZoneMap.pruneFrameCnf(z, meta, cnf).collect()
      val executor = verdicts.filter(_.getBoolean(1)).map(_.getString(0)).toSeq
      val all = verdicts.map(_.getString(0)).toSet
      val (driver, _) = ZoneMap.pruner(z.schema, meta, cnf).survivors(zoneRows)
      assert(want.subsetOf(executor.toSet),
        s"$cnf pruned files holding kept rows: ${want -- executor}")
      assert(driver.sorted == executor.sorted,
        s"$cnf: driver kept ${driver.sorted}, executors kept ${executor.sorted}")
      pruned += all.size - executor.size
    }
    assert(pruned > cnfs.size, s"the specs must prune, not keep everything: $pruned")
  }
}
