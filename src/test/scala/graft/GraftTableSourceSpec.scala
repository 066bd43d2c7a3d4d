package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.operators.GraftTable
import org.apache.spark.sql.functions._

/** The SQL read path (`spark.read.format("graft-table")`): pushed
  * filters prune manifest files, projection reaches the parquet read,
  * results are exactly the transactional API's — and pruning is a HINT,
  * so untranslatable shapes (OR) stay row-exact at full scan cost rather
  * than wrongly pruning.
  */
class GraftTableSourceSpec extends SparkSpec {
  import spark.implicits._

  private def base(): String =
    Files.createTempDirectory("graft_sql_spec").toString + "/t"

  private def rows(lo: Long, hi: Long) =
    (lo until hi).map(k => (k, k * 2.0, s"u${k % 7}")).toDF("k", "v", "u")

  private def load(p: String) =
    spark.read.format("graft-table").option("path", p).load()

  test("SQL path == transactional read; pushed range filter prunes; projection prunes columns") {
    val p = base()
    val t = GraftTable.create(
      rows(0, 800).repartitionByRange(8, col("k")).sortWithinPartitions("k"),
      p, zoneCols = Seq("k"))
    val df = load(p)
    assert(df.schema.fieldNames.toSeq == Seq("k", "v", "u"))

    // full-scan equality with the transactional API
    assert(df.orderBy("k").collect().toSeq ==
      t.read().orderBy("k").collect().toSeq)

    // a narrow range filter must open fewer files than the manifest holds
    GraftTableRelation.clearScan(p)
    val got = df.filter(col("k") >= 650L && col("k") <= 720L)
      .select("k", "v").orderBy("k").collect().toSeq
    val want = t.read().filter(col("k") >= 650L && col("k") <= 720L)
      .select("k", "v").orderBy("k").collect().toSeq
    assert(got == want && got.size == 71)
    assert(GraftTableRelation.lastScan(p).exists {
      case (opened, total) => opened >= 1 && opened < total
    }, s"range pushdown must prune: ${GraftTableRelation.lastScan(p)}")

    // equality filter + single-column projection stays exact
    val one = df.filter(col("k") === 123L).select("u").collect()
    assert(one.map(_.getString(0)).toSeq == Seq(s"u${123 % 7}"))
  }

  test("OR filters prune per-disjunct and union survivors; IN lists probe per value; both exact") {
    val p = base()
    GraftTable.create(
      rows(0, 400).repartitionByRange(4, col("k")).sortWithinPartitions("k"),
      p, zoneCols = Seq("k"))
    val df = load(p)
    // an OR across distant stripes prunes EACH arm and reads the union
    // of survivors: the two edge files open, the middle two never do —
    // and the result is exact either way (pruning is a hint)
    GraftTableRelation.clearScan(p)
    val got = df.filter(col("k") < 10L || col("k") >= 390L).count()
    assert(got == 20)
    assert(GraftTableRelation.lastScan(p).contains((2, 4)),
      s"OR must prune to the two edge stripes: " +
        s"${GraftTableRelation.lastScan(p)}")
    // an IN list expands to one Point disjunct per value
    GraftTableRelation.clearScan(p)
    assert(df.filter(col("k").isInCollection(Seq(5L, 395L))).count() == 2)
    assert(GraftTableRelation.lastScan(p).contains((2, 4)),
      s"IN must prune per value: ${GraftTableRelation.lastScan(p)}")
    // an OR with an arm pruning cannot check must NOT prune (the arm's
    // rows live anywhere) — but stays row-exact
    GraftTableRelation.clearScan(p)
    assert(df.filter(col("k") < 10L || col("u") === "u3").count() ==
      10 + (10L until 400L).count(_ % 7 == 3))
    assert(GraftTableRelation.lastScan(p).contains((4, 4)),
      s"an unprunable OR arm widens to a full scan: " +
        s"${GraftTableRelation.lastScan(p)}")
    assert(df.agg(sum("v")).head.getDouble(0) ==
      (0L until 400L).map(_ * 2.0).sum)
  }

  test("an IN list past the InSet threshold and a null-safe equality prune like their plain forms") {
    val p = base()
    GraftTable.create(
      rows(0, 400).withColumn("k", when(col("k") >= 0L, col("k")))
        .repartitionByRange(4, col("k")).sortWithinPartitions("k"),
      p, zoneCols = Seq("k"))
    val df = load(p)
    // 11 values: past spark.sql.optimizer.inSetConversionThreshold (10),
    // Catalyst plans the list as an InSet
    val vs = (1L to 10L) :+ 395L
    GraftTableRelation.clearScan(p)
    assert(df.filter(col("k").isInCollection(vs)).count() == 11)
    assert(GraftTableRelation.lastScan(p).contains((2, 4)),
      s"an 11-value IN must prune per value: ${GraftTableRelation.lastScan(p)}")
    // k is nullable, so `<=>` stays a null-safe equality in the plan
    GraftTableRelation.clearScan(p)
    assert(df.filter(col("k") <=> 5L).count() == 1)
    assert(GraftTableRelation.lastScan(p).contains((1, 4)),
      s"k <=> 5 must prune like k = 5: ${GraftTableRelation.lastScan(p)}")
  }

  test("IS NULL / IS NOT NULL prune from the manifest's per-file null counts") {
    val p = base()
    // three files: two all-non-null range stripes + one all-null stripe
    val vals = (0L until 100L)
      .map(k => (java.lang.Long.valueOf(k), k * 2.0)).toDF("k", "v")
      .repartitionByRange(2, col("k")).sortWithinPartitions("k")
    val nulls = (0 until 20)
      .map(i => (null.asInstanceOf[java.lang.Long], i * 1.0)).toDF("k", "v")
      .coalesce(1)
    GraftTable.create(vals.unionByName(nulls), p, zoneCols = Seq("k"))
    val df = load(p)
    // IS NULL opens only the stripe that counted nulls
    GraftTableRelation.clearScan(p)
    assert(df.filter(col("k").isNull).count() == 20)
    assert(GraftTableRelation.lastScan(p).contains((1, 3)),
      s"IS NULL must prune to the null-bearing stripe: " +
        s"${GraftTableRelation.lastScan(p)}")
    // IS NOT NULL prunes the all-null stripe away
    GraftTableRelation.clearScan(p)
    assert(df.filter(col("k").isNotNull).count() == 100)
    assert(GraftTableRelation.lastScan(p).contains((2, 3)),
      s"IS NOT NULL must prune the all-null stripe: " +
        s"${GraftTableRelation.lastScan(p)}")
    // and the free ride: a comparison's implied IsNotNull composes with
    // the range check; results stay exact under any pruning
    GraftTableRelation.clearScan(p)
    assert(df.filter(col("k") < 10L).count() == 10)
    assert(GraftTableRelation.lastScan(p).contains((1, 3)))
  }

  test("snapshot pinning and versionAsOf; missing path loud") {
    val p = base()
    val t = GraftTable.create(rows(0, 100), p, zoneCols = Seq("k"),
      nFiles = 2, keepVersions = 3)
    val df = load(p) // pins v1
    t.append(rows(100, 150))
    assert(df.count() == 100, "a later append must not shift a loaded frame")
    assert(load(p).count() == 150, "a fresh load sees the append")
    val asOf = spark.read.format("graft-table").option("path", p)
      .option("versionAsOf", "1").load()
    assert(asOf.count() == 100)

    val e = intercept[Exception] {
      spark.read.format("graft-table").load()
    }
    assert(e.getMessage.contains("path"), e.getMessage)

    // a pruned/never-committed version fails at load() with the
    // retention message, not a raw missing-path error mid-query
    val bad = intercept[IllegalArgumentException] {
      spark.read.format("graft-table").option("path", p)
        .option("versionAsOf", "99").load()
    }
    assert(bad.getMessage.contains("retained"), bad.getMessage)
  }

  test("a small graft dimension auto-broadcasts against a big fact (sizeInBytes wired)") {
    val p = base()
    GraftTable.create(rows(0, 1000), p, zoneCols = Seq("k"), nFiles = 1)
    val dim = load(p)
    val fact = spark.range(0, 200000L)
      .selectExpr("id % 1000 as k", "id as x")
    val plan = fact.join(dim, "k").queryExecution.executedPlan.toString
    // without sizeInBytes the relation reports defaultSizeInBytes
    // (≈ Long.Max) and this joins as a shuffle — the 100 TB pay-cut
    assert(plan.contains("BroadcastHashJoin"),
      s"a 1,000-row graft dim must auto-broadcast without a hint:\n$plan")
  }

  test("SQL write path: create-on-append, transactional append, modes, atomic replace") {
    val p = base()
    // first append CREATES (zoneCols option names the index)
    rows(0, 100).write.format("graft-table").option("path", p)
      .option("zoneCols", "k").mode("append").save()
    val t = GraftTable.open(spark, p)
    assert(t.version == 1 && t.read().count() == 100)
    // later appends are transactional table appends
    rows(100, 150).write.format("graft-table").option("path", p)
      .mode("append").save()
    assert(t.version == 2 && t.read().count() == 150)
    // ErrorIfExists refuses; Ignore no-ops (no version, no rows)
    intercept[Exception] {
      rows(0, 1).write.format("graft-table").option("path", p)
        .mode("errorifexists").save()
    }
    rows(0, 1).write.format("graft-table").option("path", p)
      .mode("ignore").save()
    assert(t.version == 2 && t.read().count() == 150)
    // Overwrite is ONE atomic replace commit: only the new rows remain,
    // stamped in the commit log
    rows(500, 520).write.format("graft-table").option("path", p)
      .mode("overwrite").save()
    assert(t.version == 3 && t.read().count() == 20)
    assert(t.history().orderBy("version").collect().last.getString(1)
      == "overwrite")
    // the replaced table still reads through the SQL path
    assert(load(p).orderBy("k").select("k").collect().map(_.getLong(0)).toSeq
      == (500L until 520L).toSeq)
    // creating WITHOUT an index spec is loud
    intercept[Exception] {
      rows(0, 1).write.format("graft-table").option("path", base())
        .mode("append").save()
    }
  }

  test("SQL append evolves schema additively; overwrite feeds delete+insert through the CDF") {
    val p = base()
    rows(0, 50).write.format("graft-table").option("path", p)
      .option("zoneCols", "k").option("keepVersions", "3")
      .mode("append").save()
    // an append with a NEW column evolves the schema like the API call
    rows(50, 80).withColumn("extra", col("k") * 10)
      .write.format("graft-table").option("path", p).mode("append").save()
    val t = GraftTable.open(spark, p)
    assert(t.read().schema.fieldNames.contains("extra"))
    assert(t.read().filter(col("extra").isNull).count() == 50,
      "pre-evolution rows read the new column as null")
    // overwrite's change slice is the full delete(old) + insert(new)
    rows(900, 910).write.format("graft-table").option("path", p)
      .mode("overwrite").save()
    val feed = t.readChanges(2, 3)
    assert(feed.filter(col("_change_type") === "delete").count() == 80)
    assert(feed.filter(col("_change_type") === "insert").count() == 10)
  }

  test("filters on non-indexed columns scan unpruned and exact, never crash") {
    val p = base()
    val t = GraftTable.create(
      rows(0, 400).repartitionByRange(4, col("k")).sortWithinPartitions("k"),
      p, zoneCols = Seq("k"))
    val df = load(p)
    // Catalyst pushes EVERY comparison filter — a pushed filter on a
    // column the manifest does not index must fall back to the full
    // file list with the residual re-applied, not throw
    GraftTableRelation.clearScan(p)
    assert(df.filter(col("v") > 700.0).count() ==
      t.read().filter(col("v") > 700.0).count())
    assert(GraftTableRelation.lastScan(p).exists {
      case (opened, total) => opened == total
    }, s"non-indexed filter must not prune: ${GraftTableRelation.lastScan(p)}")
    assert(df.filter(col("u") === "u3").count() ==
      t.read().filter(col("u") === "u3").count())
    // mixed: the indexed half still prunes, the non-indexed half rides
    // as residual only
    GraftTableRelation.clearScan(p)
    val got = df.filter(col("k") < 100L && col("u") === "u3")
      .select("k").orderBy("k").collect().map(_.getLong(0)).toSeq
    assert(got == (0L until 100L).filter(k => k % 7 == 3))
    assert(GraftTableRelation.lastScan(p).exists {
      case (opened, total) => opened < total
    }, s"the indexed half of a mixed filter must still prune: " +
      s"${GraftTableRelation.lastScan(p)}")
  }

  test("property: the file index never drops a file holding a kept row; rows equal the unpruned read") {
    import java.math.{BigDecimal => JBigDecimal}
    import java.sql.{Date, Timestamp}
    import org.apache.spark.sql.{Column, Row}
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.types._
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    import graft.operators.ZoneMap
    def sample[A](g: Gen[A]): A = g.pureApply(Gen.Parameters.default, Seed(42L))

    // 2^53: past it, Catalyst compares bigint with double in double, and
    // 2^53+3 equals the double 2^53+4
    val big = 9007199254740992L
    val t0 = 1700000000000L
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("i", IntegerType), StructField("d", DoubleType),
      StructField("s", StringType), StructField("m", DecimalType(12, 3)),
      StructField("ts", TimestampType)))
    val cols = schema.fieldNames.toSeq
    val values: Seq[Seq[Any]] = Seq(
      Seq(-5L, 0L, 7L, 40L, big + 1, big + 3, big + 5),
      Seq(-5, 0, 7, 40, Int.MinValue, Int.MaxValue),
      Seq(Double.NaN, -0.0, 0.0, 1.5, -2.25, 7.0, 1e300),
      // U+FB01 sorts below U+1F600 in UTF-8 bytes, above it in UTF-16
      Seq("", "a", "Z", "\u00e9", "\uFB01", "\uD83D\uDE00", "z"),
      Seq("-12.345", "0.000", "7.000", "7.001", "40.500").map(new JBigDecimal(_)),
      Seq(0L, 1L, 60000L, 3600000L).map(d => new Timestamp(t0 + d)))
    // Int, Long, Double and Decimal literals against every numeric
    // column: Catalyst casts the narrower side, the column or the literal
    val numeric: Seq[Any] = Seq(-5, 0, 7, 40, 7L, big + 2, big + 4,
      Int.MaxValue.toLong + 1, Double.NaN, -0.0, 0.0, 1.5, 7.0,
      (big + 2).toDouble, (big + 4).toDouble, new JBigDecimal("7.000"),
      new JBigDecimal("-12.35"), new JBigDecimal("1.50"), new JBigDecimal("7.0005"))
    val literals: Map[String, Seq[Any]] = Map("k" -> numeric, "i" -> numeric,
      "d" -> numeric, "m" -> numeric, "s" -> (values(3) ++ Seq("b", "\u00e0")),
      "ts" -> (values(5) ++ Seq(new Timestamp(t0 - 1000L), new Timestamp(t0 + 30000L),
        new Date(t0))))

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
    val p = base()
    val t = GraftTable.create(spark.createDataFrame(
      spark.sparkContext.parallelize(files.indices, files.size)
        .flatMap(i => files(i)), schema),
      p, zoneCols = cols, bloomCols = cols, bloomItems = 1000L,
      bloomFpp = 0.01)
    assert(t.files().size == 14)
    val unpruned = spark.read.parquet(t.files(): _*)

    val atomGen: Gen[Column] = Gen.oneOf(cols).flatMap { c =>
      val lit1 = Gen.oneOf(literals(c))
      Gen.oneOf(
        for (lo <- lit1; hi <- lit1; side <- Gen.chooseNum(0, 2)) yield
          ZoneMap.predicate(Seq(side match {
            case 0 => ZoneMap.Range(c, lo = lo)
            case 1 => ZoneMap.Range(c, hi = hi)
            case _ => ZoneMap.Range(c, lo, hi)
          })),
        lit1.map(v => ZoneMap.predicate(Seq(ZoneMap.Point(c, v)))),
        Gen.oneOf(true, false).map(w => ZoneMap.predicate(Seq(ZoneMap.Nulls(c, w)))),
        lit1.map(v => col(c) < lit(v)),
        lit1.map(v => col(c) > lit(v)),
        lit1.map(v => col(c) <=> lit(v)),
        // 11 or more values plan as an InSet
        Gen.chooseNum(1, 13).flatMap(Gen.listOfN(_, lit1)).map(vs => col(c).isin(vs: _*)))
    }
    def nonEmpty[A](g: Gen[A]) = Gen.chooseNum(1, 3).flatMap(Gen.listOfN(_, g))
    // a cast to string orders values unlike their column: such a filter
    // must not prune as its column would
    val casts = for (c <- cols; v <- Seq("0", "5", "N"); up <- Seq(true, false))
      yield if (up) col(c).cast("string") >= lit(v) else col(c).cast("string") <= lit(v)
    val filters = casts ++ sample(Gen.listOfN(90, nonEmpty(nonEmpty(atomGen))))
      .map(cnf => cnf.map(_.reduce(_ || _)).reduce(_ && _))

    def fileOf(uri: String) = new java.net.URI(uri).getPath
    var pruned = 0
    filters.foreach { f =>
      val q = t.read().filter(f)
      val ref = unpruned.filter(f).withColumn("_file", input_file_name()).collect()
      assert(q.collect().map(_.toString).sorted.toSeq ==
        ref.map(r => Row.fromSeq(r.toSeq.init).toString).sorted.toSeq,
        s"$f: rows differ from the unpruned read")
      val held = ref.map(r => fileOf(r.getString(cols.size))).toSet
      q.queryExecution.sparkPlan.collectFirst { case s: FileSourceScanExec => s } match {
        case None => assert(held.isEmpty, s"$f: no scan planned, but rows match")
        case Some(scan) =>
          val listed = scan.relation.location
            .listFiles(scan.partitionFilters, scan.dataFilters)
            .flatMap(_.files).map(_.getPath.toUri.getPath).toSet
          assert(held.subsetOf(listed),
            s"$f: the index dropped files holding kept rows: ${held -- listed}")
          pruned += 14 - listed.size
      }
    }
    assert(pruned > filters.size, s"the filters must prune, not keep everything: $pruned")
  }
}
