package graft.sources

import java.nio.file.Files

import graft.SparkSpec
import graft.operators.GraftTable
import org.apache.spark.sql.functions._

/** The DSv2 catalog front door: CREATE/INSERT/SELECT/DELETE/UPDATE/
  * MERGE as plain SQL text over graft tables, interoperating with the
  * path-based API on the same on-disk layout.
  */
class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  private val cat = "gcat"
  private lazy val warehouse: String = {
    val wh = Files.createTempDirectory("graft_cat_spec").toString
    spark.conf.set(s"spark.sql.catalog.$cat",
      classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$cat.warehouse", wh)
    wh
  }

  private var n = 0
  private def freshTable(): String = { n += 1; s"$cat.t$n" }

  private def mk(name: String, hi: Long = 400L, keep: Int = 8): Unit = {
    spark.sql(s"CREATE TABLE $name (k BIGINT, v DOUBLE, u STRING) " +
      s"OPTIONS (zoneCols 'k', keepVersions '$keep')")
    (0L until hi).map(k => (k, k * 2.0, s"u${k % 7}"))
      .toDF("k", "v", "u")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .createOrReplaceTempView("mk_src")
    spark.sql(s"INSERT INTO $name SELECT * FROM mk_src")
  }

  test("CREATE + INSERT INTO + SELECT: transactional commits, pruned reads, API interop") {
    warehouse
    val t = freshTable()
    mk(t)
    assert(spark.sql(s"SELECT COUNT(*) FROM $t").head.getLong(0) == 400)
    assert(spark.sql(s"SELECT SUM(v) FROM $t WHERE k < 10").head
      .getDouble(0) == (0L until 10L).map(_ * 2.0).sum)
    // same on-disk table through the path API (create=v1 empty, insert=v2)
    val api = GraftTable.open(spark, s"$warehouse/t$n")
    assert(api.version == 2 && api.read().count() == 400)
    // the catalog read path plans through the SAME pruned relation the
    // format reader uses (GraftV2ScanStats rewrites reads pre-CBO), so
    // a pushed filter reaches the manifest: fewer files open
    GraftTableRelation.clearScan(s"$warehouse/t$n")
    spark.sql(s"SELECT SUM(v) FROM $t WHERE k < 10").head
    assert(GraftTableRelation.lastScan(s"$warehouse/t$n").exists {
      case (opened, total) => opened >= 1 && opened < total
    }, s"catalog SELECT must prune manifest files: " +
      s"${GraftTableRelation.lastScan(s"$warehouse/t$n")}")
    // catalog listing sees it; a second INSERT is a new transactional
    // version; INSERT OVERWRITE is an atomic replace
    assert(spark.sql(s"SHOW TABLES IN $cat").collect()
      .map(_.getString(1)).contains(s"t$n"))
    spark.sql(s"INSERT INTO $t VALUES (1000, 1.5, 'x')")
    assert(api.version == 3 &&
      spark.sql(s"SELECT COUNT(*) FROM $t").head.getLong(0) == 401)
    spark.sql(s"INSERT OVERWRITE $t VALUES (1, 1.0, 'y'), (2, 2.0, 'z')")
    assert(spark.sql(s"SELECT COUNT(*) FROM $t").head.getLong(0) == 2)
    assert(api.history().orderBy("version").collect().last.getString(1)
      == "overwrite")
  }

  test("INSERT INTO ... SELECT from another catalog table: exact rows, the source read prunes") {
    warehouse
    val src = freshTable()
    val srcPath = s"$warehouse/t$n"
    mk(src)
    val dst = freshTable()
    spark.sql(s"CREATE TABLE $dst (k BIGINT, v DOUBLE, u STRING) " +
      "OPTIONS (zoneCols 'k')")
    GraftTableRelation.clearScan(srcPath)
    spark.sql(s"INSERT INTO $dst SELECT * FROM $src WHERE k < 10")
    assert(spark.sql(s"SELECT k, v, u FROM $dst ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getString(2))).toSeq ==
      (0L until 10L).map(k => (k, k * 2.0, s"u${k % 7}")))
    assert(GraftTableRelation.lastScan(srcPath).exists {
      case (opened, total) => opened >= 1 && opened < total
    }, s"the read under INSERT must prune: ${GraftTableRelation.lastScan(srcPath)}")
  }

  test("DELETE FROM routes through the DML rule: exact rows, pruned rewrite") {
    warehouse
    val t = freshTable()
    mk(t)
    val api = GraftTable.open(spark, s"$warehouse/t$n")
    val before = api.version
    spark.sql(s"DELETE FROM $t WHERE k < 100 AND u = 'u3'")
    assert(api.version == before + 1)
    assert(spark.sql(s"SELECT COUNT(*) FROM $t").head.getLong(0) ==
      400 - (0L until 100L).count(_ % 7 == 3))
    // the change slice is delete-only and exact
    val feed = api.readChanges(before, before + 1)
    assert(feed.select("_change_type").distinct().collect()
      .map(_.getString(0)).toSeq == Seq("delete"))
    assert(feed.count() == (0L until 100L).count(_ % 7 == 3))
    // a DELETE matching nothing commits nothing
    spark.sql(s"DELETE FROM $t WHERE k < 0")
    assert(api.version == before + 1)
  }

  test("UPDATE routes through the injected rule: SET exprs over current values, WHERE exact") {
    warehouse
    val t = freshTable()
    mk(t)
    spark.sql(s"UPDATE $t SET v = v + 1000, u = 'bumped' " +
      s"WHERE k >= 100 AND k < 110")
    val got = spark.sql(
      s"SELECT k, v, u FROM $t WHERE k BETWEEN 95 AND 112 ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getString(2)))
    got.foreach { case (k, v, u) =>
      if (k >= 100 && k < 110) {
        assert(v == k * 2.0 + 1000 && u == "bumped", s"row $k")
      } else assert(v == k * 2.0 && u == s"u${k % 7}", s"row $k")
    }
    // NULL-condition rows are not updated (SQL semantics ride through)
    assert(spark.sql(s"SELECT COUNT(*) FROM $t WHERE u = 'bumped'")
      .head.getLong(0) == 10)
    // an OR WHERE prunes per-disjunct: the two edge files rewrite, the
    // middle two carry — and num_affected_rows is the exact match count
    val r = spark.sql(s"UPDATE $t SET u = 'edge' " +
      s"WHERE k < 40 OR k >= 360").head()
    assert(r.getLong(0) == 80 && r.getLong(1) == 2 && r.getLong(2) == 2,
      s"(num_affected_rows, files_rewritten, files_carried) = $r")
    assert(spark.sql(s"SELECT COUNT(*) FROM $t WHERE u = 'edge'")
      .head.getLong(0) == 80)
  }

  test("MERGE INTO: upsert, conditional+partial update, delete-only, update-only") {
    warehouse
    val t = freshTable()
    mk(t, hi = 100)
    // upsert: update 3 existing (k 0,1,2), insert 2 new (k 500, 501)
    Seq((0L, 9.0, "m"), (1L, 9.0, "m"), (2L, 9.0, "m"),
      (500L, 5.0, "n"), (501L, 5.1, "n"))
      .toDF("sk", "sv", "su").createOrReplaceTempView("m_src")
    spark.sql(s"""MERGE INTO $t AS t USING m_src AS s ON t.k = s.sk
      WHEN MATCHED THEN UPDATE SET v = s.sv, u = s.su
      WHEN NOT MATCHED THEN INSERT (k, v, u) VALUES (s.sk, s.sv, s.su)""")
    assert(spark.sql(s"SELECT COUNT(*) FROM $t").head.getLong(0) == 102)
    assert(spark.sql(s"SELECT SUM(v) FROM $t WHERE k IN (0,1,2,500,501)")
      .head.getDouble(0) == 9.0 * 3 + 5.0 + 5.1)

    // conditional + partial: bump v only where the source value is
    // larger; u stays
    Seq((0L, 100.0), (1L, 0.5)).toDF("sk", "sv")
      .createOrReplaceTempView("m_src2")
    spark.sql(s"""MERGE INTO $t AS t USING m_src2 AS s ON t.k = s.sk
      WHEN MATCHED AND s.sv > t.v THEN UPDATE SET v = s.sv""")
    val after = spark.sql(
      s"SELECT k, v, u FROM $t WHERE k IN (0, 1) ORDER BY k").collect()
    assert(after(0).getDouble(1) == 100.0 && after(0).getString(2) == "m",
      "condition held: v updates, u preserved")
    assert(after(1).getDouble(1) == 9.0, "condition failed: row untouched")
    // update-only merge must NOT have inserted the unmatched key
    assert(spark.sql(s"SELECT COUNT(*) FROM $t").head.getLong(0) == 102)

    // delete-only merge: key-membership delete
    Seq(500L, 501L, 999L).toDF("sk").createOrReplaceTempView("m_src3")
    spark.sql(s"""MERGE INTO $t AS t USING m_src3 AS s ON t.k = s.sk
      WHEN MATCHED THEN DELETE""")
    assert(spark.sql(s"SELECT COUNT(*) FROM $t").head.getLong(0) == 100)
    assert(spark.sql(s"SELECT COUNT(*) FROM $t WHERE k >= 500")
      .head.getLong(0) == 0)

    // CONDITIONAL matched delete: the condition resolves over the
    // matched t/s pair — only passing pairs tombstone
    Seq((10L, 1.0), (11L, 999.0), (999L, 999.0)).toDF("sk", "sv")
      .createOrReplaceTempView("m_src3b")
    val rCd = spark.sql(s"""MERGE INTO $t AS t USING m_src3b AS s
      ON t.k = s.sk
      WHEN MATCHED AND s.sv > t.v THEN DELETE""").head()
    // t.v at k=10 is 20.0 > 1.0 (fails), at k=11 is 22.0 < 999 (passes)
    assert(!rCd.isNullAt(0) && rCd.getLong(0) == 1, s"one pair passes: $rCd")
    assert(spark.sql(s"SELECT COUNT(*) FROM $t WHERE k IN (10, 11)")
      .head.getLong(0) == 1 &&
      spark.sql(s"SELECT k FROM $t WHERE k IN (10, 11)").head.getLong(0)
        == 10, "only the condition-passing matched key deletes")

    // WHEN NOT MATCHED BY SOURCE THEN DELETE (the sync-merge): target
    // keys absent from the source tombstone in the SAME commit as the
    // matched updates
    (0L until 95L).map(k => (k, -1.0)).toDF("sk", "sv")
      .createOrReplaceTempView("m_src4")
    spark.sql(s"""MERGE INTO $t AS t USING m_src4 AS s ON t.k = s.sk
      WHEN MATCHED THEN UPDATE SET v = s.sv
      WHEN NOT MATCHED BY SOURCE THEN DELETE""")
    // 94 = keys 0..94 minus the conditionally-deleted 11
    assert(spark.sql(s"SELECT COUNT(*) FROM $t").head.getLong(0) == 94)
    assert(spark.sql(s"SELECT SUM(v) FROM $t").head.getDouble(0) == -94.0)

    // unsupported shapes refuse loudly, pointing at the API: a sync-
    // UPDATE composed with a matched wing has no one-batch expression
    val e = intercept[Exception] {
      spark.sql(s"""MERGE INTO $t AS t USING m_src4 AS s ON t.k = s.sk
        WHEN MATCHED THEN UPDATE SET v = s.sv
        WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 0.0""")
    }
    assert(e.getMessage.contains("unsupported MERGE shape") ||
      Option(e.getCause).exists(_.getMessage
        .contains("unsupported MERGE shape")), e.getMessage)
  }

  test("MERGE extensions: sync-delete alone, conditional INSERT, composite keys, num_affected_rows") {
    warehouse
    val t = freshTable()
    mk(t, hi = 100)
    // sync-delete ALONE: MERGE … WHEN NOT MATCHED BY SOURCE [AND c]
    // THEN DELETE — rows outside the source sync away, condition-scoped
    (0L until 90L).map(k => (k, 0.0)).toDF("sk", "sv")
      .createOrReplaceTempView("x_src")
    val r1 = spark.sql(s"""MERGE INTO $t AS t USING x_src AS s ON t.k = s.sk
      WHEN NOT MATCHED BY SOURCE AND t.k < 95 THEN DELETE""").head()
    // keys 90..94 delete (95..99 fail the target-side condition)
    assert(!r1.isNullAt(0) && r1.getLong(0) == 5,
      s"num_affected_rows must count the sync-deletes: $r1")
    assert(spark.sql(s"SELECT COUNT(*) FROM $t").head.getLong(0) == 95)
    assert(spark.sql(s"SELECT COUNT(*) FROM $t WHERE k >= 95")
      .head.getLong(0) == 5)

    // sync-UPDATE alone: stored rows outside the source take the
    // assignments (unassigned columns preserved) — the deprecate-stale
    // pattern; keys 95..99 survive untouched via the condition
    (0L until 50L).map(k => (k, 0.0)).toDF("sk", "sv")
      .createOrReplaceTempView("x_src15")
    val rU = spark.sql(s"""MERGE INTO $t AS t USING x_src15 AS s
      ON t.k = s.sk
      WHEN NOT MATCHED BY SOURCE AND t.k < 95 THEN UPDATE SET v = -5.0""")
      .head()
    assert(!rU.isNullAt(0) && rU.getLong(0) == 40,
      s"keys 50..89 must sync-update: $rU")
    assert(spark.sql(s"SELECT SUM(v) FROM $t WHERE k BETWEEN 50 AND 89")
      .head.getDouble(0) == -5.0 * 40)
    assert(spark.sql(s"SELECT u FROM $t WHERE k = 50").head.getString(0)
      == s"u${50 % 7}", "unassigned columns preserve stored values")
    assert(spark.sql(s"SELECT COUNT(*) FROM $t WHERE k >= 95 AND v <> -5.0")
      .head.getLong(0) == 5, "the condition scopes the sync-update")

    // conditional INSERT: only the qualifying unmatched rows insert;
    // matched rows update regardless of the insert condition
    Seq((0L, 50.0, "c"), (600L, 1.0, "lo"), (601L, 99.0, "hi"))
      .toDF("sk", "sv", "su").createOrReplaceTempView("x_src2")
    val r2 = spark.sql(s"""MERGE INTO $t AS t USING x_src2 AS s ON t.k = s.sk
      WHEN MATCHED THEN UPDATE SET v = s.sv, u = s.su
      WHEN NOT MATCHED AND s.sv > 50.0 THEN INSERT (k, v, u)
        VALUES (s.sk, s.sv, s.su)""").head()
    assert(!r2.isNullAt(0) && r2.getLong(0) == 2,
      s"one update + one insert: $r2")
    assert(spark.sql(s"SELECT COUNT(*) FROM $t WHERE k >= 600")
      .head.getLong(0) == 1, "only the qualifying insert lands")
    assert(spark.sql(s"SELECT v FROM $t WHERE k = 0").head.getDouble(0)
      == 50.0, "matched row updates regardless of the insert condition")

    // COMPOSITE merge keys: ON is a conjunction of equalities — match
    // on the tuple, prune on the leading key
    val t2 = freshTable()
    spark.sql(s"CREATE TABLE $t2 (k BIGINT, k2 STRING, v DOUBLE) " +
      "OPTIONS (zoneCols 'k', keepVersions '4')")
    (0L until 40L).flatMap(k => Seq((k, "a", 1.0), (k, "b", 2.0)))
      .toDF("k", "k2", "v").createOrReplaceTempView("x2_seed")
    spark.sql(s"INSERT INTO $t2 SELECT * FROM x2_seed")
    Seq((1L, "a", 100.0), (1L, "b", 200.0), (77L, "a", 7.0))
      .toDF("sk", "sk2", "sv").createOrReplaceTempView("x2_src")
    val r3 = spark.sql(
      s"""MERGE INTO $t2 AS t USING x2_src AS s
        ON t.k = s.sk AND t.k2 = s.sk2
        WHEN MATCHED THEN UPDATE SET v = s.sv
        WHEN NOT MATCHED THEN INSERT (k, k2, v) VALUES (s.sk, s.sk2, s.sv)""")
      .head()
    assert(!r3.isNullAt(0) && r3.getLong(0) == 3, s"2 updates + 1 insert: $r3")
    assert(spark.sql(s"SELECT COUNT(*) FROM $t2").head.getLong(0) == 81)
    val pair = spark.sql(
      s"SELECT k2, v FROM $t2 WHERE k = 1 ORDER BY k2").collect()
    assert(pair.map(r => (r.getString(0), r.getDouble(1))).toSeq ==
      Seq(("a", 100.0), ("b", 200.0)),
      "each tuple component matches independently")
    assert(spark.sql(s"SELECT v FROM $t2 WHERE k = 77").head.getDouble(0)
      == 7.0)
  }

  test("SQL time travel: VERSION AS OF pins a retained snapshot, TIMESTAMP AS OF resolves by commit time") {
    warehouse
    val t = freshTable()
    mk(t, hi = 50)
    spark.sql(s"INSERT INTO $t VALUES (900, 9.0, 'x')")
    // v2 = the 50 rows, v3 = 51
    assert(spark.sql(s"SELECT COUNT(*) FROM $t VERSION AS OF 2")
      .head.getLong(0) == 50)
    assert(spark.sql(s"SELECT COUNT(*) FROM $t VERSION AS OF 3")
      .head.getLong(0) == 51)
    val e = intercept[Exception] {
      spark.sql(s"SELECT COUNT(*) FROM $t VERSION AS OF 99").collect()
    }
    assert(e.getMessage.contains("retained") ||
      Option(e.getCause).exists(_.getMessage.contains("retained")),
      e.getMessage)
    // TIMESTAMP AS OF now = the head; far past = loud
    assert(spark.sql(s"SELECT COUNT(*) FROM $t TIMESTAMP AS OF " +
      "(now() + INTERVAL 1 HOUR)").head.getLong(0) == 51)
    intercept[Exception] {
      spark.sql(s"SELECT COUNT(*) FROM $t TIMESTAMP AS OF " +
        "TIMESTAMP '2000-01-01 00:00:00'").collect()
    }
  }

  test("CALL procedures: history / vacuum (dry-run, clone guard) / compact") {
    warehouse
    val t = freshTable()
    mk(t, keep = 1) // no time-travel window: superseded versions prune,
                    // so their generations become vacuum fodder
    val leaf = s"t$n"
    val hist = spark.sql(s"CALL $cat.history(table => '$leaf')").collect()
    assert(hist.map(_.getString(1)).toSeq == Seq("append"),
      "keepVersions=1 retains only the head commit in history")
    // compact: 4 range files fold into 1; history stamps it
    val c = spark.sql(
      s"CALL $cat.compact(table => '$leaf', target_rows => ${1000 * 1000})")
      .head()
    assert(c.getLong(0) == 4 && c.getLong(1) == 1,
      s"compact report: ${c.toString}")
    assert(spark.sql(s"SELECT COUNT(*) FROM $t").head.getLong(0) == 400)
    // dry-run lists the superseded generation's debris, deletes nothing
    val dry = spark.sql(
      s"CALL $cat.vacuum(table => '$leaf', dry_run => true)").collect()
    assert(dry.nonEmpty, "superseded generation must appear in the report")
    assert(spark.sql(s"SELECT COUNT(*) FROM $t").head.getLong(0) == 400)
    // real vacuum deletes them — at least the compacted-away 4 files
    val swept = spark.sql(s"CALL $cat.vacuum(table => '$leaf')")
      .head.getLong(0)
    assert(swept >= 4, s"the 4 superseded files must sweep: $swept")
    assert(spark.sql(s"SELECT COUNT(*) FROM $t").head.getLong(0) == 400)
    // clone guard: refuse, then force through the procedure
    GraftTable.shallowClone(spark, s"$warehouse/$leaf",
      warehouse + s"/${leaf}_clone")
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.vacuum(table => '$leaf')").collect()
    }
    assert(e.getMessage.contains("clone") ||
      Option(e.getCause).exists(_.getMessage.contains("clone")),
      e.getMessage)
    assert(spark.sql(s"CALL $cat.vacuum(table => '$leaf', force => true)")
      .head.getLong(0) == 0L)
  }

  test("CTAS creates-and-loads in one statement; DESCRIBE serves the schema") {
    warehouse
    val t = freshTable()
    spark.sql(s"CREATE TABLE $t OPTIONS (zoneCols 'id') AS " +
      "SELECT id, id * 2 AS v FROM range(100)")
    assert(spark.sql(s"SELECT COUNT(*) FROM $t").head.getLong(0) == 100)
    assert(spark.sql(s"SELECT SUM(v) FROM $t WHERE id < 10")
      .head.getLong(0) == (0L until 10L).map(_ * 2).sum)
    assert(spark.sql(s"DESCRIBE TABLE $t").collect()
      .map(_.getString(0)).toSeq.take(2) == Seq("id", "v"))
    // SHOW TBLPROPERTIES surfaces geometry and policies
    val props = spark.sql(s"SHOW TBLPROPERTIES $t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props("zoneCols") == "id" && props("keepVersions") == "1" &&
      props("changeFeed") == "true", props.toString)
    // TRUNCATE TABLE routes through truncateTable(): an atomic empty
    // replace, schema preserved
    spark.sql(s"TRUNCATE TABLE $t")
    assert(spark.sql(s"SELECT COUNT(*) FROM $t").head.getLong(0) == 0)
    assert(spark.sql(s"SELECT id FROM $t").schema.fieldNames.toSeq ==
      Seq("id"))
  }

  test("ALTER TABLE SET TBLPROPERTIES: lifecycle policies as one metadata-only commit") {
    warehouse
    val t = freshTable()
    mk(t, hi = 60, keep = 1)
    val api = GraftTable.open(spark, s"$warehouse/t$n")
    assert(api.policies() == ((1, -1.0, true)))
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES " +
      "('keepVersions' = '3', 'changeFeed' = 'false')")
    assert(api.policies() == ((3, -1.0, false)))
    assert(api.history().orderBy("version").collect().last.getString(1)
      == "setpolicy")
    assert(spark.sql(s"SELECT COUNT(*) FROM $t").head.getLong(0) == 60,
      "a policy change moves zero data")
    // the new retention applies: two more commits retain a window of 3
    spark.sql(s"INSERT INTO $t VALUES (900, 9.0, 'x')")
    spark.sql(s"INSERT INTO $t VALUES (901, 9.1, 'y')")
    assert(api.versions().size == 3,
      s"keepVersions=3 must now retain a window: ${api.versions()}")
    // and the feed opt-out is live: a DELETE commits no _changes slice
    spark.sql(s"DELETE FROM $t WHERE k < 5")
    val fs = new org.apache.hadoop.fs.Path(s"$warehouse/t$n")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$warehouse/t$n/v${api.version}/_changes")),
      "changeFeed=false must skip the row-level slice write")
    // unknown properties and non-additive schema changes refuse loudly
    // (ADD COLUMN is supported — its own test below)
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('nope' = '1')")
    }
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $t DROP COLUMN u")
    }
  }

  test("DROP / RENAME / namespaces; missing table is loud") {
    warehouse
    val t = freshTable()
    mk(t, hi = 10)
    spark.sql(s"ALTER TABLE $t RENAME TO renamed_t")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.renamed_t")
      .head.getLong(0) == 10)
    spark.sql(s"DROP TABLE $cat.renamed_t")
    intercept[Exception] { spark.sql(s"SELECT * FROM $cat.renamed_t") }
    spark.sql(s"CREATE NAMESPACE $cat.db1")
    spark.sql(s"CREATE TABLE $cat.db1.x (k BIGINT) OPTIONS (zoneCols 'k')")
    spark.sql(s"INSERT INTO $cat.db1.x VALUES (1), (2)")
    assert(spark.sql(s"SELECT SUM(k) FROM $cat.db1.x").head.getLong(0) == 3)
    assert(GraftTable.exists(spark, s"$warehouse/db1/x"),
      "identifier maps to warehouse/db/table")
  }

  test("DROP/RENAME clone guards: cloned source refuses (PURGE forces), renaming a clone re-registers") {
    warehouse
    val t = freshTable()
    mk(t, hi = 20)
    val leaf = s"t$n"
    val srcPath = s"$warehouse/$leaf"
    GraftTable.shallowClone(spark, srcPath, s"$warehouse/${leaf}_c")
    // DROP / RENAME on a cloned SOURCE refuse, naming the clones — the
    // clones' absolute manifest references would silently dangle
    val eDrop = intercept[Exception] { spark.sql(s"DROP TABLE $t") }
    assert(eDrop.getMessage.contains("clone") ||
      Option(eDrop.getCause).exists(_.getMessage.contains("clone")),
      eDrop.getMessage)
    val eRen = intercept[Exception] {
      spark.sql(s"ALTER TABLE $t RENAME TO ${leaf}_moved")
    }
    assert(eRen.getMessage.contains("clone") ||
      Option(eRen.getCause).exists(_.getMessage.contains("clone")),
      eRen.getMessage)
    assert(spark.sql(s"SELECT COUNT(*) FROM $t").head.getLong(0) == 20,
      "the refused operations must leave the source intact")
    // renaming the CLONE itself is allowed — its absolute references
    // into the source still resolve — and the source's registration
    // follows the move, so the guards keep protecting it
    spark.sql(s"ALTER TABLE $cat.${leaf}_c RENAME TO ${leaf}_c2")
    assert(spark.sql(s"SELECT COUNT(*) FROM $cat.${leaf}_c2")
      .head.getLong(0) == 20, "clone reads survive the rename")
    val reg = GraftTable.open(spark, srcPath).registeredClones()
    assert(reg.exists(_.endsWith(s"${leaf}_c2")) &&
      !reg.exists(_.endsWith(s"${leaf}_c")),
      s"the registration must follow the clone's move: $reg")
    // dropping the clone releases the registration; the source then
    // drops without force
    spark.sql(s"DROP TABLE $cat.${leaf}_c2")
    assert(GraftTable.open(spark, srcPath).registeredClones().isEmpty,
      "a dropped clone unregisters from its source")
    // PURGE is the force escape while a clone is still registered
    val t2 = freshTable()
    mk(t2, hi = 10)
    val leaf2 = s"t$n"
    GraftTable.shallowClone(spark, s"$warehouse/$leaf2",
      s"$warehouse/${leaf2}_c")
    intercept[Exception] { spark.sql(s"DROP TABLE $t2") }
    spark.sql(s"DROP TABLE $t2 PURGE")
    assert(!GraftTable.exists(spark, s"$warehouse/$leaf2"))
    spark.sql(s"DROP TABLE $t") // the first source: clones gone, plain drop
  }

  test("ALTER TABLE ADD COLUMN: metadata-only additive evolution; refusals stay loud") {
    warehouse
    val t = freshTable()
    mk(t, hi = 50)
    val api = GraftTable.open(spark, s"$warehouse/t$n")
    val v0 = api.version
    spark.sql(s"ALTER TABLE $t ADD COLUMN w DOUBLE")
    assert(api.version == v0 + 1, "ADD COLUMN is ONE metadata-only commit")
    assert(spark.table(t).columns.toSeq == Seq("k", "v", "u", "w"))
    assert(spark.sql(s"SELECT COUNT(*) FROM $t WHERE w IS NOT NULL")
      .head.getLong(0) == 0, "pre-evolution rows read NULL")
    // the widened shape inserts; old rows stay null
    spark.sql(s"INSERT INTO $t VALUES (1000, 1.0, 'x', 9.5)")
    assert(spark.sql(s"SELECT SUM(w) FROM $t").head.getDouble(0) == 9.5)
    // re-declaring an existing column refuses at ANALYSIS (Spark's own
    // FIELD_ALREADY_EXISTS check, before the catalog is consulted); the
    // engine-level API keeps same-type idempotency for migrations
    val v1 = api.version
    intercept[Exception] { spark.sql(s"ALTER TABLE $t ADD COLUMN w DOUBLE") }
    api.addColumns(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("w",
        org.apache.spark.sql.types.DoubleType))))
    assert(api.version == v1, "API same-type re-declare is a no-op")
    val e = intercept[Exception] {
      api.addColumns(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.StringType)))) }
    assert(e.getMessage.contains("re-type"), e.getMessage)
    // multi-add in one statement, one commit
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (a BIGINT, b STRING)")
    assert(api.version == v1 + 1 &&
      spark.table(t).columns.toSeq ==
        Seq("k", "v", "u", "w", "a", "b"))
    // rename/drop refuse with the additive-evolution pointer
    intercept[Exception] {
      spark.sql(s"ALTER TABLE $t RENAME COLUMN u TO u2") }
    intercept[Exception] { spark.sql(s"ALTER TABLE $t DROP COLUMN u") }
    spark.sql(s"DROP TABLE $t")
  }

  test("CREATE TABLE PARTITIONED BY ports identity columns as the zone axis") {
    warehouse
    val t = freshTable()
    spark.sql(s"CREATE TABLE $t (k BIGINT, v DOUBLE, u STRING) " +
      "PARTITIONED BY (k)")
    (0L until 100L).map(k => (k, k * 2.0, s"u${k % 7}")).toDF("k", "v", "u")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      .createOrReplaceTempView("pby_src")
    spark.sql(s"INSERT INTO $t SELECT * FROM pby_src")
    val api = GraftTable.open(spark, s"$warehouse/t$n")
    assert(api.indexedCols()._1 == Seq("k"),
      "PARTITIONED BY (k) must become zoneCols k")
    // …and the ported axis actually prunes
    GraftTableRelation.clearScan(s"$warehouse/t$n")
    assert(spark.sql(s"SELECT SUM(v) FROM $t WHERE k < 10")
      .head.getDouble(0) == 90.0)
    assert(GraftTableRelation.lastScan(s"$warehouse/t$n").exists {
      case (opened, total) => opened >= 1 && opened < total })
    // non-identity transforms refuse loudly
    val e = intercept[Exception] {
      spark.sql(s"CREATE TABLE ${freshTable()} (k BIGINT, ts TIMESTAMP) " +
        "PARTITIONED BY (days(ts))") }
    assert(e.getMessage.contains("identity"), e.getMessage)
    spark.sql(s"DROP TABLE $t")
  }

  test("CALL zorder + predicate-scoped compact: the OPTIMIZE verbs as SQL") {
    warehouse
    val t = freshTable()
    spark.sql(s"CREATE TABLE $t (k BIGINT, j BIGINT, v DOUBLE) " +
      "OPTIONS (zoneCols 'k,j', keepVersions '8')")
    // interleave so k-ranges are wide in every file pre-zorder
    (0L until 4000L).map(k => (k, (k * 37) % 4000, k * 1.0))
      .toDF("k", "j", "v").repartition(8)
      .createOrReplaceTempView("zo_src")
    spark.sql(s"INSERT INTO $t SELECT * FROM zo_src")
    val path = s"$warehouse/t$n"
    GraftTableRelation.clearScan(path)
    spark.sql(s"SELECT SUM(v) FROM $t WHERE j < 100").head
    val before = GraftTableRelation.lastScan(path).get
    assert(before._1 == before._2,
      s"round-robin layout must open every file pre-zorder: $before")
    val r = spark.sql(
      s"CALL $cat.zorder(table => 't$n', cols => 'j,k', n_files => 8)")
      .head()
    assert(r.getLong(1) >= 1, r.toString)
    // post-zorder: the clustered key prunes — fewer files open
    GraftTableRelation.clearScan(path)
    assert(spark.sql(s"SELECT SUM(v) FROM $t WHERE j < 100").head
      .getDouble(0) ==
      (0L until 4000L).filter(k => (k * 37) % 4000 < 100)
        .map(_ * 1.0).sum)
    val after = GraftTableRelation.lastScan(path).get
    assert(after._1 < after._2,
      s"a post-zorder pruned scan must open fewer files: $after")
    // predicate-scoped compact: only the matching stripe rewrites
    val hist0 = spark.sql(
      s"CALL $cat.compact(table => 't$n', target_rows => 500, " +
        "where => 'j <= 500')").head()
    assert(hist0.getLong(0) >= 1 && hist0.getLong(1) >= 1,
      s"stripe compact must rewrite SOME files and carry the rest: " +
        s"$hist0")
    assert(spark.sql(s"SELECT COUNT(*) FROM $t").head.getLong(0) == 4000,
      "compaction is row-preserving")
    // an unprunable WHERE shape refuses instead of silently rewriting
    // the whole table
    val e = intercept[Exception] {
      spark.sql(s"CALL $cat.compact(table => 't$n', target_rows => 500, " +
        "where => 'j % 2 = 0')").head() }
    assert(e.getMessage.contains("WHERE shape"), e.getMessage)
    spark.sql(s"DROP TABLE $t")
  }
}
