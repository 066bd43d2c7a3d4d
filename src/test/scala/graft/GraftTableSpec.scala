package graft.operators

import java.nio.file.Files

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The unified-table contract: (a) every mutation — append, compact,
  * z-order — commits data files, zone manifest and ledger as ONE
  * version, so a reader never sees files without their zones or vice
  * versa; (b) a writer killed anywhere before the meta marker leaves
  * the OLD version fully visible and scans exact, and the next mutation
  * heals the torn state; (c) appends are ledgered exactly-once under
  * at-least-once redelivery; (d) scans never list the data directory —
  * the manifest is authoritative — and prune through zones + blooms;
  * (e) vacuum removes exactly the unreferenced files.
  */
class GraftTableSpec extends SparkSpec {
  import spark.implicits._

  private def base(): String =
    Files.createTempDirectory("graft_table").toString + "/t"

  private def rows(lo: Long, hi: Long) =
    (lo until hi).map(k => (k, k * 2.0, s"u${k % 7}")).toDF("k", "v", "u")

  /** Run `bodies` at once on fresh handles of `p`; each reports "ok", or
    * "conflict" when it lost loudly.
    */
  private def race(p: String)(bodies: (GraftTable => Unit)*): Seq[String] = {
    val barrier = new java.util.concurrent.CyclicBarrier(bodies.size)
    val outcomes = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val threads = bodies.map { body =>
      new Thread(() => {
        val h = GraftTable.open(spark, p)
        barrier.await()
        try { body(h); outcomes.add("ok") }
        catch {
          case _: java.util.ConcurrentModificationException =>
            outcomes.add("conflict")
          case e: Throwable => outcomes.add(s"unexpected: $e")
        }
      })
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    import scala.jdk.CollectionConverters._
    outcomes.asScala.toSeq
  }

  test("create/append/scan: one version per mutation, results exact, pruning real") {
    val p = base()
    val t = GraftTable.create(rows(0, 800), p, zoneCols = Seq("k", "v"),
      nFiles = 8)
    assert(t.version == 1 && t.files().size == 8)
    assert(hasJsonMeta(s"$p/v1/meta"))

    t.append(rows(800, 1000))
    assert(t.version == 2)
    assert(t.read().count() == 1000)

    // scan == read().filter(...) exactly, and opens fewer files than the
    // manifest lists (create's 8 + append's generation)
    val preds = Seq(ZoneMap.Range("k", 850L, 920L))
    val got = t.scan(preds).orderBy("k").select("k", "v").collect().toSeq
    val want = t.read().filter(col("k") >= 850L && col("k") <= 920L)
      .orderBy("k").select("k", "v").collect().toSeq
    assert(got == want && got.size == 71)
    assert(t.scanFileCount(preds) < t.files().size,
      "a narrow k band must not open every file")
    // reopen resolves the same state from meta alone
    val t2 = GraftTable.open(spark, p)
    assert(t2.version == 2 && t2.read().count() == 1000)
  }

  test("torn publish: old version stays visible and exact; next mutation heals") {
    val p = base()
    val t = GraftTable.create(rows(0, 500), p, zoneCols = Seq("k"), nFiles = 4)
    val v1Rows = t.read().count()

    // simulate the writer dying BETWEEN data-publish and manifest-publish:
    // a v2 generation lands with no manifest and no meta
    rows(500, 600).write.parquet(s"$p/data/g2")
    assert(t.version == 1, "uncommitted generation must be invisible")
    assert(t.read().count() == v1Rows)

    // ...and dying between manifest-publish and meta-publish
    spark.read.parquet(s"$p/v1/manifest").limit(1)
      .write.parquet(s"$p/v2/manifest")
    assert(t.version == 1, "a manifest without meta is not a commit")
    assert(t.scan(Seq(ZoneMap.Range("k", 0L, 99L))).count() == 100,
      "scans through the torn state read the OLD version exactly")

    // the next real append overwrites both partials and commits v2 whole
    t.append(rows(500, 700))
    assert(t.version == 2 && t.read().count() == 700)
    assert(t.scan(Seq(ZoneMap.Range("k", 450L, 550L))).count() == 101)
  }

  test("ledgered appends: redelivery no-ops, rows land exactly once") {
    val p = base()
    val t = GraftTable.create(rows(0, 100), p, zoneCols = Seq("k"), nFiles = 2)
    assert(t.lastAppliedBatch() == -1L)

    assert(t.append(rows(100, 200), batchId = 7L))
    assert(t.lastAppliedBatch() == 7L && t.read().count() == 200)
    // redelivered batch re-uses its ORIGINAL id: must not double-land
    assert(!t.append(rows(100, 200), batchId = 7L))
    assert(!t.append(rows(150, 160), batchId = 3L), "non-monotone id skips")
    assert(t.read().count() == 200)
    // the unledgered convenience append advances past the high-water mark
    t.append(rows(200, 250))
    assert(t.read().count() == 250 && t.lastAppliedBatch() == 8L)
  }

  test("compact: files + zones + ledger move as one version; rows exact; pruning restored") {
    val p = base()
    val t = GraftTable.create(rows(0, 100), p, zoneCols = Seq("k"), nFiles = 1)
    // fragment the table with many small ledgered appends
    (1 to 9).foreach(i => t.append(rows(i * 100L, i * 100L + 100L)))
    assert(t.files().size >= 10)
    val beforeRows = t.read().orderBy("k").collect().toSeq
    val hwm = t.lastAppliedBatch()

    val (before, after) = t.compact(targetRows = 250, sortCols = Seq("k"))
    assert(after < before, s"compaction must shrink the file count: $before -> $after")
    assert(t.read().orderBy("k").collect().toSeq == beforeRows,
      "compaction is a pure relayout")
    assert(t.lastAppliedBatch() == hwm, "the ledger survives a relayout")
    // the sorted rewrite makes the k band prune again
    assert(t.scanFileCount(Seq(ZoneMap.Range("k", 0L, 99L))) <= 2)
    assert(t.scan(Seq(ZoneMap.Range("k", 0L, 99L))).count() == 100)
  }

  test("zorder: atomic relayout makes BOTH columns prunable; rows exact") {
    val p = base()
    // k and y independent: a linear sort on one leaves the other unprunable
    val df = (0L until 4096L).map(k => (k % 64, k / 64, k)).toDF("x", "y", "id")
    val t = GraftTable.create(df, p, zoneCols = Seq("x", "y"), nFiles = 8)
    val beforeRows = t.read().count()

    t.zorder(Seq("x", "y"), nFiles = 16)
    assert(t.read().count() == beforeRows)
    val xFiles = t.scanFileCount(Seq(ZoneMap.Range("x", 10L, 17L)))
    val yFiles = t.scanFileCount(Seq(ZoneMap.Range("y", 10L, 17L)))
    assert(xFiles < 16 && yFiles < 16,
      s"z-order must keep both columns prunable: x=$xFiles y=$yFiles")
    assert(t.scan(Seq(ZoneMap.Range("x", 10L, 17L))).count() == 8 * 64)
  }

  test("bloom point pruning through the manifest; empty scan keeps schema") {
    val p = base()
    // hash-scattered layout: min/max prunes nothing, blooms must
    val t = GraftTable.create(rows(0, 1000).repartition(16), p,
      zoneCols = Seq("v"), bloomCols = Seq("k"), bloomItems = 1000L,
      bloomFpp = 0.01)
    val pointed = t.scanFileCount(Seq(ZoneMap.Point("k", 400L)))
    assert(pointed <= 3, s"bloom must prune the scattered layout: $pointed")
    assert(t.scan(Seq(ZoneMap.Point("k", 400L))).select("k", "v")
      .as[(Long, Double)].collect().toSeq == Seq((400L, 800.0)))
    val none = t.scan(Seq(ZoneMap.Range("v", 1e9, 2e9)))
    assert(none.count() == 0 && none.columns.toSeq == Seq("k", "v", "u"))
  }

  test("merge: latest-wins upsert rewrites ONLY the affected files; ledgered; loud contracts") {
    val p = base()
    // key-clustered layout: ~10 files, each a narrow k stripe
    val t = GraftTable.create(
      rows(0, 1000).repartitionByRange(10, col("k")).sortWithinPartitions("k"),
      p, zoneCols = Seq("k"))
    val nFiles = t.files().size
    assert(nFiles >= 8)
    // update 30 keys inside one stripe + insert 50 keys above every range
    val updates = (120L until 150L).map(k => (k, -1.0, "upd")).toDF("k", "v", "u")
    val inserts = rows(1000, 1050)
    val (rew, kept) = t.merge(updates.unionByName(inserts), "k")
    assert(rew <= 2 && rew >= 1 && kept >= nFiles - 2,
      s"merge must rewrite only the touched stripe: rew=$rew kept=$kept of $nFiles")
    assert(t.read().count() == 1050)
    // latest wins: every updated key carries the batch's row now
    assert(t.scan(Seq(ZoneMap.Range("k", 120L, 149L)))
      .select("v").as[Double].collect().toSet == Set(-1.0))
    // untouched keys are bit-identical
    assert(t.scan(Seq(ZoneMap.Range("k", 150L, 160L)))
      .orderBy("k").select("k", "v").as[(Long, Double)].collect().toSeq ==
      (150L to 160L).map(k => (k, k * 2.0)))
    // redelivered merge (original id) no-ops
    val hwm = t.lastAppliedBatch()
    assert(t.merge(updates.unionByName(inserts), "k", hwm) == ((0L, 0L)))
    assert(t.read().count() == 1050)
    // vacuum collects exactly the rewritten stripe's old files
    assert(t.vacuum() >= rew)
    assert(t.read().count() == 1050)
    // contracts are loud: duplicate batch keys, un-zoned key column
    intercept[IllegalArgumentException] {
      t.merge(updates.unionByName(updates), "k")
    }
    intercept[IllegalArgumentException] { t.merge(updates, "v") }
  }

  test("merge upsert: stored copies of a batch key collapse to the one batch row; exact change slice") {
    val p = base()
    // keys 3 and 7 are each stored k = 3 times; `w` is a stored column
    // the batch does not carry
    val k = 3
    val single = (0L until 10L).map(i => (i, i * 2.0, s"u$i", Option(i * 10L)))
    val copies = for (key <- Seq(3L, 7L); c <- 1 until k)
      yield (key, key * 2.0 + c, s"u$key", Option(key * 10L + c))
    val t = GraftTable.create((single ++ copies).toDF("k", "v", "u", "w"),
      p, zoneCols = Seq("k"), nFiles = 2)
    type Img = (Long, Double, String, Option[Long])
    def img(r: org.apache.spark.sql.Row): Img = (r.getLong(0), r.getDouble(1),
      r.getString(2), Option(r.get(3)).map(_.asInstanceOf[Long]))
    val before = t.read().collect().map(img).toSeq
    // upsert the first duplicated key, upsert a new key, tombstone the
    // second duplicated key
    t.merge(Seq((3L, -1.0, "up", "u"), (100L, 9.0, "new", "u"),
        (7L, 0.0, "x", GraftTable.DeleteOp)).toDF("k", "v", "u", "op"),
      "k", "op")
    val after = t.read().collect().map(img).toSeq
    // each batch key appears once, with `w` null on the upserted rows
    assert(after.filter(_._1 == 3L) == Seq((3L, -1.0, "up", None)))
    assert(after.filter(_._1 == 100L) == Seq((100L, 9.0, "new", None)))
    assert(after.count(_._1 == 7L) == 0)
    assert(after.filterNot(r => Set(3L, 7L, 100L)(r._1)).sortBy(_.toString) ==
      before.filterNot(r => Set(3L, 7L)(r._1)).sortBy(_.toString))
    // the exact change slice: k pre-images + 1 post-image, 1 insert,
    // k deletes
    val stored = (key: Long) => before.filter(_._1 == key)
    val want = stored(3L).map(_ -> "update_preimage") ++
      Seq((3L, -1.0, "up", None) -> "update_postimage",
        (100L, 9.0, "new", None) -> "insert") ++
      stored(7L).map(_ -> "delete")
    val slice = t.commitChanges(t.version).get.collect()
      .map(r => img(r) -> r.getString(4)).toSeq
    assert(want.size == 2 * k + 2)
    assert(slice.sortBy(_.toString) == want.sortBy(_.toString))
    // a stored row whose key is null matches no batch key: it is carried
    val nt = GraftTable.create(
      Seq((Option(1L), 1.0), (Option.empty[Long], 2.0)).toDF("k", "v"),
      Files.createTempDirectory("graft_table").toString + "/n",
      zoneCols = Seq("k"), nFiles = 1)
    nt.merge(Seq((1L, 5.0), (2L, 6.0)).toDF("k", "v"), "k")
    assert(nt.read().orderBy("k").as[(Option[Long], Double)].collect().toSeq ==
      Seq((None, 2.0), (Some(1L), 5.0), (Some(2L), 6.0)))
  }

  test("version retention: time travel within the window; vacuum keeps retained files") {
    val p = base()
    val t = GraftTable.create(rows(0, 300), p, zoneCols = Seq("k"),
      nFiles = 3, keepVersions = 3)
    t.append(rows(300, 400)) // v2
    t.append(rows(400, 500)) // v3
    assert(t.versions() == Seq(1L, 2L, 3L))
    assert(t.readVersion(1).count() == 300 && t.readVersion(2).count() == 400)
    assert(t.read().count() == 500)
    // vacuum must not break a retained snapshot: its files are referenced
    assert(t.vacuum() == 0L)
    assert(t.readVersion(1).orderBy("k").select("k").as[Long]
      .collect().toSeq == (0L until 300L))
    // a 4th mutation slides the window: v1 pruned, time travel refuses it
    t.append(rows(500, 600)) // v4 -> retained {2,3,4}
    assert(t.versions() == Seq(2L, 3L, 4L))
    intercept[IllegalArgumentException] { t.readVersion(1) }
    // compaction supersedes the append generations, but v3/v4 still
    // reference them — vacuum keeps them until the window slides past
    t.compact(targetRows = 600) // v5 -> retained {3,4,5}
    assert(t.read().count() == 600 && t.readVersion(3).count() == 500)
    assert(t.vacuum() == 0L,
      "retained snapshots v3/v4 still reference the pre-compaction files")
    t.append(rows(600, 610)) // v6 -> {4,5,6}
    t.append(rows(610, 620)) // v7 -> {5,6,7}: g1..g4 now unreferenced
    assert(t.vacuum() >= 3)
    assert(t.read().count() == 620 && t.readVersion(5).count() == 600)
  }

  test("schema evolution: appends add nullable columns; conflicts and missing indexed columns are loud") {
    val p = base()
    val t = GraftTable.create(rows(0, 100), p, zoneCols = Seq("k"),
      nFiles = 2, keepVersions = 2)
    val v1 = t.version
    // extra column rides in; every pre-evolution row reads it as null
    val withFlag = (100L until 200L)
      .map(k => (k, k * 2.0, s"u${k % 7}", k % 3 == 0))
      .toDF("k", "v", "u", "flag")
    t.append(withFlag)
    assert(t.read().columns.toSeq == Seq("k", "v", "u", "flag"))
    assert(t.read().filter(col("k") < 100 && col("flag").isNull).count() == 100)
    assert(t.read().filter(col("flag") === true).count() ==
      (100L until 200L).count(_ % 3 == 0))
    // scans stay exact through the widened schema
    assert(t.scan(Seq(ZoneMap.Range("k", 50L, 149L))).count() == 100)
    // time travel serves each version under its OWN schema
    assert(t.readVersion(v1).columns.toSeq == Seq("k", "v", "u"))
    // dropping a non-indexed column is fine: it reads back null
    t.append((200L until 210L).map(k => (k, k * 2.0)).toDF("k", "v"))
    assert(t.read().filter(col("k") >= 200L && col("u").isNull).count() == 10)
    // loud: type conflict on an existing column; missing indexed column
    intercept[IllegalArgumentException] {
      t.append((210L until 220L).map(k => (k, "oops")).toDF("k", "v"))
    }
    intercept[IllegalArgumentException] {
      t.append((210L until 220L).map(k => (k, 1.0)).toDF("kk", "v"))
    }
    assert(t.read().count() == 210, "failed appends must not land rows")
  }

  test("commit conflict: a stale writer's publish loses loudly; winner state intact") {
    val p = base()
    val t = GraftTable.create(rows(0, 200), p, zoneCols = Seq("k"), nFiles = 2)
    t.append(rows(200, 300)) // v2 committed by the live writer
    val headRows = t.read().orderBy("k").collect().toSeq

    // a writer that resolved v1 earlier and now publishes v2 BLIND (the
    // lost-update race the conflict detection exists for) must throw,
    // not silently replace the committed v2
    val m = GraftTable.readMeta(spark, p, 2L)
    intercept[java.util.ConcurrentModificationException] {
      GraftTable.publishGeneration(spark, p, Some(rows(900, 950)), 2L, m,
        carried = Nil)
    }
    assert(t.version == 2 && t.read().orderBy("k").collect().toSeq == headRows,
      "the loser must leave the winner's commit untouched")
    // the loser's debris is unreferenced garbage, collected by vacuum
    t.vacuum()
    assert(t.read().orderBy("k").collect().toSeq == headRows)

    // two genuinely concurrent APPENDS: at most one commit per VERSION
    // survives, but an append's read-set is empty, so the loser REBASES
    // onto the winner's head and commits at the next version — BOTH
    // appends land (optimistic concurrency, the Delta/Iceberg retry
    // discipline), at contiguous versions, with the exact union of rows
    val os = race(p)(_.append(rows(300, 350)), _.append(rows(400, 450)))
    assert(os == Seq("ok", "ok"),
      s"disjoint concurrent appends must BOTH commit via rebase: $os")
    val vs = t.versions()
    assert(vs == (vs.head to vs.last), s"committed versions contiguous: $vs")
    assert(t.read().count() == 400L,
      "both appends' rows — the exact union — are visible")
    assert(t.read().filter(col("k") >= 300L).count() == 100L,
      "both racers' 50-row batches are present")
  }

  test("optimistic rebase: disjoint merges both commit; same-stripe merges lose loudly") {
    val p = base()
    val t = GraftTable.create(
      rows(0, 1000).repartitionByRange(10, col("k")).sortWithinPartitions("k"),
      p, zoneCols = Seq("k"), keepVersions = 2)

    // two concurrent merges on DISJOINT key stripes: the loser's planned
    // rewrite-set does not intersect the winner's, so it rebases and both
    // land — serialized at contiguous versions
    val stripes = Seq(100L -> -1.0, 800L -> -2.0)
    val os = race(p)(stripes.map { case (lo, v) => (h: GraftTable) =>
      h.merge((lo until lo + 20L).map(k => (k, v, "m")).toDF("k", "v", "u"), "k")
      ()
    }: _*)
    assert(os == Seq("ok", "ok"),
      s"disjoint-stripe merges must both commit: $os")
    val vs = t.versions()
    assert(vs == (vs.head to vs.last), s"versions contiguous: $vs")
    assert(t.read().count() == 1000)
    assert(t.read().filter(col("k").between(100, 119))
      .select("v").as[Double].collect().toSet == Set(-1.0))
    assert(t.read().filter(col("k").between(800, 819))
      .select("v").as[Double].collect().toSet == Set(-2.0))

    // two concurrent merges on the SAME stripe: if their windows truly
    // overlap, the loser's planned rewrite-set intersects the winner's
    // committed one — rebase is REFUSED and the conflict surfaces loudly
    // (if the scheduler happens to serialize them, both land, latest
    // wins — also correct). Never silent corruption: afterwards every
    // stripe key carries exactly ONE of the two batch values.
    val so = race(p)(Seq(-7.0, -8.0).map { v => (h: GraftTable) =>
      h.merge((500L until 520L).map(k => (k, v, "s")).toDF("k", "v", "u"), "k")
      ()
    }: _*)
    assert(so.count(_ == "ok") >= 1 &&
      so.forall(o => o == "ok" || o == "conflict"),
      s"same-stripe racers must commit or lose LOUDLY, never corrupt: $so")
    val got = t.read().filter(col("k").between(500, 519))
      .select("v").as[Double].collect().toSet
    assert(got == Set(-7.0) || got == Set(-8.0),
      s"the stripe must hold exactly one racer's value: $got")
    assert(t.read().count() == 1000)
  }

  test("CDC deletes: tombstone rows delete without re-insert; rewrite stays file-pruned") {
    val p = base()
    val t = GraftTable.create(
      rows(0, 1000).repartitionByRange(10, col("k")).sortWithinPartitions("k"),
      p, zoneCols = Seq("k"))
    val nFiles = t.files().size
    // one CDC batch: update 20 keys and DELETE 20 keys, all inside the
    // low-k stripe, plus an out-of-range insert
    val ups = (100L until 120L).map(k => (k, -1.0, "upd", "u"))
    val dels = (130L until 150L).map(k => (k, 0.0, "dead", GraftTable.DeleteOp))
    val ins = Seq((5000L, 9.0, "new", "u"))
    val batch = (ups ++ dels ++ ins).toDF("k", "v", "u", "op")
    val (rew, kept) = t.merge(batch, "k", "op")
    assert(rew >= 1 && rew < nFiles && kept == nFiles - rew,
      s"delete-bearing merge must still rewrite only the touched stripe: $rew of $nFiles")
    assert(t.read().count() == 1000 - 20 + 1,
      "tombstones must DELETE, not upsert")
    assert(t.scan(Seq(ZoneMap.Range("k", 130L, 149L))).count() == 0,
      "deleted keys are gone")
    assert(t.scan(Seq(ZoneMap.Range("k", 100L, 119L)))
      .select("v").as[Double].collect().toSet == Set(-1.0))
    assert(!t.read().columns.contains("op"), "the op column is consumed, never stored")
    // a tombstone-only batch works too (and is ledgered)
    val hwm = t.lastAppliedBatch()
    val only = (0L until 10L).map(k => (k, 0.0, "x", GraftTable.DeleteOp))
      .toDF("k", "v", "u", "op")
    t.merge(only, "k", "op")
    assert(t.read().count() == 971 && t.lastAppliedBatch() == hwm + 1)
    // redelivery still no-ops with the op column in play
    assert(t.merge(only, "k", hwm + 1, "op") == ((0L, 0L)))
    assert(t.read().count() == 971)
    // same-batch duplicate across ops (delete+upsert of one key) is loud
    intercept[IllegalArgumentException] {
      t.merge(Seq((1L, 1.0, "a", "u"), (1L, 1.0, "a", GraftTable.DeleteOp))
        .toDF("k", "v", "u", "op"), "k", "op")
    }
  }

  test("merge contract checks run as ONE Spark job") {
    val p = base()
    val t = GraftTable.create(rows(0, 100), p, zoneCols = Seq("k"), nFiles = 2)
    val batch = rows(100, 200)
    batch.count() // materialize lineage state outside the window
    val sc = spark.sparkContext
    // AQE stages even one aggregate as several scheduler jobs; turn it
    // off so the job count measures AGGREGATE PASSES over the batch
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    sc.setJobGroup("graft-contract", "fused merge contract", false)
    try GraftTable.requireMergeContract(batch, "k")
    finally {
      sc.clearJobGroup()
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
    // the status tracker is fed asynchronously: poll until stable
    def groupJobs(): Int =
      sc.statusTracker.getJobIdsForGroup("graft-contract").length
    val deadline = System.nanoTime() + 2000000000L
    while (groupJobs() == 0 && System.nanoTime() < deadline)
      Thread.sleep(20)
    assert(groupJobs() >= 1 && groupJobs() <= 2, // one aggregate; AQE may stage it as 2
      s"the fused contract check must not fan out into per-check jobs: ${groupJobs()}")
    assert(t.version == 1)
    // the fused form still answers all three questions loudly
    intercept[IllegalArgumentException] {
      GraftTable.requireMergeContract(
        rows(0, 5).unionByName(rows(0, 5)), "k")
    }
    intercept[IllegalArgumentException] {
      GraftTable.requireMergeContract(
        Seq((null.asInstanceOf[java.lang.Long], 1.0, "x"))
          .toDF("k", "v", "u"), "k")
    }
  }

  test("merge contract runs inside the attempt: a redelivered batch id is skipped before it, a fresh id throws") {
    val p = base()
    val t = GraftTable.create(rows(0, 100), p, zoneCols = Seq("k"), nFiles = 2)
    assert(t.merge(rows(0, 10), "k", 0L)._1 >= 1 && t.lastAppliedBatch() == 0L)
    val dup = rows(0, 5).unionByName(rows(0, 5))
    val nullKey = Seq((null.asInstanceOf[java.lang.Long], 1.0, "x"))
      .toDF("k", "v", "u")
    Seq(dup, nullKey).foreach { bad =>
      assert(t.merge(bad, "k", 0L) == ((0L, 0L)),
        "the ledger skips a redelivered id before the contract reads the batch")
      intercept[IllegalArgumentException] { t.merge(bad, "k", 1L) }
    }
    // a table with no non-null key range still checks the contract
    val empty = GraftTable.create(rows(0, 0), base(), zoneCols = Seq("k"))
    intercept[IllegalArgumentException] { empty.merge(dup, "k", 0L) }
    assert(t.version == 2 && t.lastAppliedBatch() == 0L && empty.version == 1)
  }

  test("relative manifests: a committed table survives a directory move wholesale") {
    val dir = Files.createTempDirectory("graft_mv").toString
    val p = s"$dir/old/t"
    val t = GraftTable.create(rows(0, 400), p, zoneCols = Seq("k"),
      nFiles = 4, keepVersions = 2)
    t.append(rows(400, 500))
    t.merge((10L until 20L).map(k => (k, -5.0, "m")).toDF("k", "v", "u"), "k")
    val want = t.read().orderBy("k").collect().toSeq
    val wantV2 = t.readVersion(2).count()

    // move the WHOLE table directory — the DR-copy / rename scenario
    val p2 = s"$dir/new/t"
    Files.createDirectories(java.nio.file.Paths.get(s"$dir/new"))
    Files.move(java.nio.file.Paths.get(p), java.nio.file.Paths.get(p2))
    val moved = GraftTable.open(spark, p2)
    assert(moved.read().orderBy("k").collect().toSeq == want,
      "reads must follow the moved root")
    assert(moved.readVersion(2).count() == wantV2, "time travel too")
    assert(moved.scan(Seq(ZoneMap.Range("k", 10L, 19L)))
      .select("v").as[Double].collect().toSet == Set(-5.0), "pruned scans too")
    assert(moved.scanFileCount(Seq(ZoneMap.Range("k", 0L, 50L))) <
      moved.files().size)
    // vacuum at the new root resolves the same (referenced) files
    assert(moved.vacuum() == 0L ||
      moved.read().orderBy("k").collect().toSeq == want)
    moved.append(rows(500, 520))
    assert(moved.read().count() == 520, "mutations continue at the new root")
  }

  test("stream-ledgered tables refuse unledgered mutations; explicit ids still work") {
    val p = base()
    // firstBatchId >= 0 is exactly the ingestStream/mergeStream bootstrap
    val t = GraftTable.create(rows(0, 100), p, zoneCols = Seq("k"),
      nFiles = 2, firstBatchId = 0L)
    assert(t.lastAppliedBatch() == 0L)
    val e1 = intercept[IllegalArgumentException] { t.append(rows(100, 150)) }
    assert(e1.getMessage.contains("stream-ledgered"))
    val up = (0L until 5L).map(k => (k, -1.0, "x")).toDF("k", "v", "u")
    intercept[IllegalArgumentException] { t.merge(up, "k") }
    intercept[IllegalArgumentException] { t.merge(up, "k", "op") }
    assert(t.read().count() == 100, "refused mutations must not land rows")
    // the owning checkpoint's ids keep working
    assert(t.append(rows(100, 150), batchId = 1L))
    assert(t.merge(up, "k", 2L)._1 >= 1)
    assert(t.read().count() == 150)
    // a manually-created table (no stream) keeps the convenience forms
    val p2 = base()
    val t2 = GraftTable.create(rows(0, 50), p2, zoneCols = Seq("k"))
    t2.append(rows(50, 60))
    assert(t2.read().count() == 60)
  }

  test("change feed: per-commit inserts/deletes from manifests; cursor drain; gap is loud") {
    val p = base()
    val t = GraftTable.create(rows(0, 100), p, zoneCols = Seq("k"),
      nFiles = 2, keepVersions = 4)
    t.append(rows(100, 140)) // v2: pure append -> inserts only
    val batch = ((10L until 15L).map(k => (k, -1.0, "upd", "u")) ++
      (20L until 25L).map(k => (k, 0.0, "d", GraftTable.DeleteOp)))
      .toDF("k", "v", "u", "op")
    t.merge(batch, "k", "op") // v3: rewrite -> deletes + inserts

    val v2c = t.readChanges(1L, 2L)
    assert(v2c.filter(col("_change_type") === "insert").count() == 40 &&
      v2c.filter(col("_change_type") === "delete").count() == 0,
      "an append step reads only its new files")
    val v3c = t.readChanges(2L, 3L)
    // the merge PERSISTED its row-level slice: the feed carries exactly
    // the touched rows — O(k), never the whole rewritten file
    assert(v3c.count() == 15,
      s"a 10-key merge (5 upserts -> pre+post, 5 tombstones -> delete) " +
        s"must feed exactly 15 rows, not file churn: ${v3c.count()}")
    assert(v3c.filter(col("_change_type") === "delete" && col("k").between(20, 24))
      .count() == 5, "tombstoned keys appear as deletes")
    assert(v3c.filter(col("_change_type").isin("insert", "update_postimage") &&
      col("k").between(20, 24)).count() == 0, "…and are never re-inserted")
    assert(v3c.filter(col("_change_type") === "update_preimage" &&
      col("k").between(10, 14) && col("v") =!= -1.0).count() == 5,
      "updated keys carry their stored pre-image")
    assert(v3c.filter(col("_change_type") === "update_postimage" &&
      col("k").between(10, 14) && col("v") === -1.0).count() == 5,
      "updated keys carry their batch post-image")
    // folding the FULL feed (from 0) by key reproduces the head exactly
    val feed = t.readChanges(0L)
    val alive = feed.withColumn("_w",
        when(col("_change_type").isin("insert", "update_postimage"), 1)
          .otherwise(0))
      .groupBy("k")
      .agg(max(struct(col("_commit_version"), col("_w"), col("v"), col("u")))
        .as("last"))
      .filter(col("last._w") === 1)
      .select(col("k"), col("last.v").as("v"), col("last.u").as("u"))
    assert(alive.orderBy("k").collect().toSeq ==
      t.read().orderBy("k").collect().toSeq,
      "latest-version-wins fold of the feed == the head snapshot")

    // the streaming shape: cursor drain is incremental and redelivery-safe
    val cdir = Files.createTempDirectory("graft_cdf").toString
    var seen = Seq.empty[(Long, Long)] // (version, change rows)
    def drain(): Long = t.drainChanges(cdir) { (df, v) =>
      seen = seen :+ (v, df.count())
    }
    assert(drain() == 3L && seen.map(_._1) == Seq(1L, 2L, 3L))
    assert(drain() == 0L, "a drained cursor re-drains nothing")
    t.append(rows(140, 150)) // v4
    assert(drain() == 1L && seen.last._1 == 4L && seen.last._2 == 10L)

    // feed gap: consuming from a pruned version is loud, never guessed
    t.append(rows(150, 160)) // v5 -> retention window {2,3,4,5}
    intercept[IllegalArgumentException] { t.readChanges(0L) }
    intercept[IllegalArgumentException] { t.readChanges(1L, 5L) }
    assert(t.readChanges(2L, 5L).filter(col("_change_type") === "insert")
      .count() >= 20)
  }

  test("mergeCond: condition gates updates, unlisted columns preserved, inserts unconditional") {
    val p = base()
    val t = GraftTable.create(
      rows(0, 400).repartitionByRange(4, col("k")).sortWithinPartitions("k"),
      p, zoneCols = Seq("k"), keepVersions = 2)
    // batch: keys 0..39 matched (half pass the condition), 1000..1009 new
    val batch = ((0L until 40L).map(k =>
        (k, if (k % 2 == 0) 1e6 else -1e6, "patched")) ++
      (1000L until 1010L).map(k => (k, 7.0, "fresh")))
      .toDF("k", "v", "u")
    val v1 = t.version
    // WHEN MATCHED AND s.v > t.v THEN UPDATE SET v = s.v (u preserved)
    val (rew, _) = t.mergeCond(batch, "k", col("s.v") > col("t.v"),
      updateCols = Seq("v"))
    assert(rew >= 1)
    assert(t.read().count() == 410, "inserts are unconditional")
    // condition passed (even keys): v updated, u PRESERVED from stored
    assert(t.read().filter(col("k") < 40 && col("k") % 2 === 0)
      .select("v").as[Double].collect().toSet == Set(1e6))
    assert(t.read().filter(col("k") < 40 && col("k") % 2 === 0 &&
      col("u") === "patched").count() == 0,
      "columns outside updateCols must keep their stored value")
    // condition failed (odd keys): the stored row is carried UNCHANGED
    assert(t.read().filter(col("k") < 40 && col("k") % 2 === 1)
      .select("k", "v", "u").orderBy("k").collect().toSeq ==
      (1L until 40L by 2).map(k => org.apache.spark.sql.Row(k, k * 2.0, s"u${k % 7}")),
      "a non-matching MATCHED row is carried bit-identical")
    // inserts take the batch image
    assert(t.read().filter(col("k") >= 1000)
      .select("u").as[String].collect().toSet == Set("fresh"))
    // the change feed carries ONLY the real changes: 20 passing updates
    // (pre+post) + 10 inserts; failing-condition rows feed NOTHING
    val c = t.readChanges(v1, v1 + 1)
    assert(c.count() == 50, s"20*(pre+post) + 10 inserts = 50: ${c.count()}")
    assert(c.filter(col("_change_type") === "update_postimage")
      .select("v").as[Double].collect().toSet == Set(1e6))
    assert(c.filter(col("_change_type") === "insert").count() == 10)
    // deletes still tombstone through the op column, unconditionally
    val del = (0L until 5L)
      .map(k => (k, 0.0, "x", GraftTable.DeleteOp))
      .toDF("k", "v", "u", "op")
    t.mergeCond(del, "k", lit(false), updateCols = Seq("v"), opCol = "op")
    assert(t.read().filter(col("k") < 5).count() == 0,
      "tombstones ignore the matched condition")
  }

  test("mergeSpec: clause algebra — conditional delete wing, target-referencing SET, carry columns, no insert wing, first-match-wins order") {
    val p = base()
    val t = GraftTable.create(
      rows(0, 200).repartitionByRange(2, col("k")).sortWithinPartitions("k"),
      p, zoneCols = Seq("k"), keepVersions = 2)
    // one CDC batch: op 'd' deletes (k < 10), op 'u' ACCUMULATES into the
    // stored row (10 <= k < 30, v += delta), fresh keys with NO insert
    // wing must no-op, and a phantom delete (k = 5000) must no-op
    val batch = ((0L until 10L).map(k => (k, 0.0, "d")) ++
      (10L until 30L).map(k => (k, k + 0.5, "u")) ++
      (1000L until 1010L).map(k => (k, 9.9, "u")) ++
      Seq((5000L, 1.0, "d")))
      .toDF("k", "delta", "op")
    val v1 = t.version
    t.mergeSpec(batch, Seq("k"), GraftTable.MergeSpec(
      update = Some(lit(true)),
      updateExprs = Seq("v" -> (col("t.v") + col("s.delta"))),
      delete = Some(col("s.op") === "d"), deleteFirst = true,
      insert = None, carryCols = Seq("delta", "op")))
    assert(t.version == v1 + 1, "one spec merge, one commit")
    assert(t.read().count() == 190,
      "10 conditional deletes; no insert wing — fresh keys do NOTHING")
    assert(t.read().filter(col("k") >= 10 && col("k") < 30)
      .select("v").as[Double].collect().sorted.toSeq ==
      (10L until 30L).map(k => 2.0 * k + k + 0.5).sorted,
      "SET v = t.v + s.delta accumulates into the stored value")
    assert(t.read().columns.toSeq == Seq("k", "v", "u"),
      "carry-only columns must never be stored")
    assert(t.read().filter(col("k") === 15L)
      .select("u").as[String].head() == "u1",
      "unassigned columns ride through")
    // the change feed carries only the real changes: 10 deletes +
    // 20 updates (pre + post); the no-op rows feed nothing — and each
    // type carries the exact image (pins the single-pass slice shape)
    val sl = t.readChanges(v1, v1 + 1)
    assert(sl.count() == 50)
    assert(sl.filter(col("_change_type") === "delete")
      .select("v").as[Double].collect().sorted.toSeq ==
      (0L until 10L).map(k => 2.0 * k).sorted,
      "deletes carry the stored image")
    assert(sl.filter(col("_change_type") === "update_preimage")
      .select("v").as[Double].collect().sorted.toSeq ==
      (10L until 30L).map(k => 2.0 * k).sorted,
      "pre-images carry the stored value")
    assert(sl.filter(col("_change_type") === "update_postimage")
      .select("v").as[Double].collect().sorted.toSeq ==
      (10L until 30L).map(k => 2.0 * k + k + 0.5).sorted,
      "post-images carry the wing's SET expression result")
    assert(sl.filter(col("_change_type") === "insert").count() == 0,
      "no insert wing, no insert rows")

    // UPDATE-first clause order: a row passing BOTH conditions routes to
    // the FIRST clause (SQL first-match-wins)
    val batch2 = Seq((40L, 7.0, "d"), (41L, 7.0, "x")).toDF("k", "delta", "op")
    t.mergeSpec(batch2, Seq("k"), GraftTable.MergeSpec(
      update = Some(col("s.op") === "d"),
      updateExprs = Seq("v" -> (col("t.v") + col("s.delta"))),
      delete = Some(lit(true)), deleteFirst = false,
      insert = None, carryCols = Seq("delta", "op")))
    assert(t.read().filter(col("k") === 40L)
      .select("v").as[Double].head() == 87.0,
      "update-first: the update clause claims its rows before the delete")
    assert(t.read().filter(col("k") === 41L).count() == 0,
      "rows failing the first clause fall through to the delete clause")
  }

  test("NULL op upserts as documented — never a silent tombstone") {
    val p = base()
    val t = GraftTable.create(
      rows(0, 100).repartitionByRange(2, col("k")).sortWithinPartitions("k"),
      p, zoneCols = Seq("k"))
    // a CDC batch whose op is NULL for some rows: the contract says any
    // non-DeleteOp value upserts — null is not DeleteOp
    val batch = Seq(
      (10L, -1.0, "a", "upsert"),
      (11L, -2.0, "b", null.asInstanceOf[String]),
      (12L, 0.0, "c", GraftTable.DeleteOp))
      .toDF("k", "v", "u", "op")
    t.merge(batch, "k", "op")
    assert(t.read().filter(col("k") === 11L)
      .select("v").as[Double].collect().toSeq == Seq(-2.0),
      "a NULL-op row must UPSERT, not vanish")
    assert(t.read().filter(col("k") === 12L).count() == 0)
    assert(t.read().count() == 99)
    // and the stream bootstrap seed follows the same rule
    val p2 = base()
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("v", DoubleType), StructField("u", StringType),
      StructField("op", StringType)))
    val in = Files.createTempDirectory("graft_nullop").toString
    batch.coalesce(1).write.parquet(s"$in/w0")
    GraftTable.mergeStream(
      spark.readStream.schema(schema).parquet(s"$in/w*"),
      p2, "k", s"$in/ckpt", opCol = "op")
    val t2 = GraftTable.open(spark, p2)
    assert(t2.read().orderBy("k").select("k", "v").as[(Long, Double)]
      .collect().toSeq == Seq((10L, -1.0), (11L, -2.0)),
      "the bootstrap seed must keep NULL-op rows and drop only DeleteOp")
  }

  test("drain cursor: crash-truncated cursor falls back loudly; rate limit bounds one call") {
    val p = base()
    val t = GraftTable.create(rows(0, 50), p, zoneCols = Seq("k"),
      nFiles = 1, keepVersions = 8)
    (1 to 5).foreach(i => t.append(rows(i * 50L, i * 50L + 50L))) // v2..v6
    val cdir = Files.createTempDirectory("graft_cur").toString

    // rate limit: 6 pending commits, limit 2 -> three calls, one tail
    var seen = Seq.empty[Long]
    def drain(limit: Int): Long =
      t.drainChanges(cdir, maxVersions = limit)((_, v) => seen = seen :+ v)
    assert(drain(2) == 2L && drain(2) == 2L && drain(2) == 2L)
    assert(drain(2) == 0L, "bounded steps drain the burst completely")
    assert(seen == (1L to 6L), "same commits, same order, bounded batches")

    // crash mid-cursor-write at worst leaves an empty/garbage file: the
    // next drain must fall back to startAfter and REDELIVER, never wedge
    val cp = java.nio.file.Paths.get(s"$cdir/cursor")
    java.nio.file.Files.write(cp, Array.emptyByteArray)
    var again = Seq.empty[Long]
    val n = t.drainChanges(cdir, startAfter = 4L)((_, v) => again = again :+ v)
    assert(n == 2L && again == Seq(5L, 6L),
      "unparseable cursor = at-least-once from startAfter, not an exception")
    // ...and the healed cursor resumes exactly
    assert(t.drainChanges(cdir)((_, _) => ()) == 0L)
  }

  test("compaction and z-order feed NOTHING through the change feed") {
    val p = base()
    val t = GraftTable.create(rows(0, 300), p, zoneCols = Seq("k"),
      nFiles = 6, keepVersions = 6)
    t.append(rows(300, 350)) // v2
    val (before, after) = t.compact(targetRows = 400, sortCols = Seq("k")) // v3
    assert(after < before)
    t.zorder(Seq("k", "v"), nFiles = 4) // v4
    assert(t.readChanges(2L, 3L).count() == 0,
      "a pure relayout changes no rows — the feed must be EMPTY, not table churn")
    assert(t.readChanges(3L, 4L).count() == 0, "z-order too")
    // the cursor walks across the relayouts without manufacturing churn
    val cdir = Files.createTempDirectory("graft_cmp").toString
    var rowsSeen = 0L
    t.drainChanges(cdir)((df, _) => rowsSeen += df.count())
    assert(rowsSeen == 350L, "only the create + append rows ever feed")
  }

  test("legacy bloom scheme: a table whose meta lacks the tag refuses bloom probes loudly") {
    val p = base()
    val t = GraftTable.create(rows(0, 200).repartition(4), p,
      zoneCols = Seq("v"), bloomCols = Seq("k"), bloomItems = 1000L)
    assert(t.scanFileCount(Seq(ZoneMap.Point("k", 7L))) <= 4)
    // simulate a table whose blooms hash another basis: hand-write its
    // JSON meta (meta.json + _SUCCESS) carrying the pre-UTC-pin
    // session-string scheme tag in place of the engine's own
    val metaDir = s"$p/v${t.version}/meta"
    val json = new String(Files.readAllBytes(
      java.nio.file.Paths.get(metaDir, "meta.json")), "UTF-8")
    assert(json.contains(ZoneMap.BloomScheme))
    writeText(s"$metaDir/meta.json",
      json.replace(ZoneMap.BloomScheme, "xxhash64(session-string),seed=42"))
    writeText(s"$metaDir/_SUCCESS", "")
    val e = intercept[IllegalArgumentException] {
      GraftTable.open(spark, p).scan(Seq(ZoneMap.Point("k", 7L)))
    }
    assert(e.getMessage.contains("hash scheme"),
      s"the refusal must name the scheme mismatch: ${e.getMessage}")
  }

  test("manifest blooms tighten the merge rewrite set beyond zone ranges") {
    // hash-scattered layout: every file spans the full key range, so
    // zone min/max prunes NOTHING for a sparse key batch — the per-file
    // bloom must shrink the rewrite set to the files that hold the keys
    val data = rows(0, 2000).repartition(16)
    val batch = Seq((777L, -1.0, "x")).toDF("k", "v", "u")
    val pZones = base()
    val zonesOnly = GraftTable.create(data, pZones, zoneCols = Seq("k"))
    val (rewZones, _) = zonesOnly.merge(batch, "k")
    assert(rewZones >= 12L,
      s"scattered layout: zones alone cannot prune the rewrite: $rewZones")
    val pBloom = base()
    val bloomed = GraftTable.create(data, pBloom, zoneCols = Seq("k"),
      bloomCols = Seq("k"), bloomItems = 1000L, bloomFpp = 0.01)
    val (rewBloom, carriedBloom) = bloomed.merge(batch, "k")
    assert(rewBloom < rewZones && rewBloom >= 1 && rewBloom <= 4,
      s"per-file blooms must strictly shrink the rewrite set: $rewBloom")
    assert(rewBloom + carriedBloom == 16L)
    assert(bloomed.read().filter(col("k") === 777L)
      .select("v").as[Double].collect().toSeq == Seq(-1.0))
    assert(bloomed.read().count() == 2000)
    // correctness unchanged: both tables converge to the same rows
    assert(bloomed.read().orderBy("k").collect().toSeq ==
      zonesOnly.read().orderBy("k").collect().toSeq)
  }

  test("vacuum deletes exactly the unreferenced files; reads unaffected") {
    val p = base()
    val t = GraftTable.create(rows(0, 400), p, zoneCols = Seq("k"), nFiles = 4)
    t.append(rows(400, 500))
    val liveBefore = t.files().size
    // a torn publish leaves an orphaned generation
    rows(900, 950).write.parquet(s"$p/data/g99")
    // compaction supersedes EVERY earlier generation
    t.compact(targetRows = 250, sortCols = Seq("k"))
    val referenced = t.files().toSet

    val deleted = t.vacuum()
    assert(deleted >= liveBefore, s"superseded + orphaned files must go: $deleted")
    // referenced files untouched; a second vacuum is a no-op
    assert(t.files().toSet == referenced)
    assert(t.read().count() == 500)
    assert(t.vacuum() == 0L)
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p/data/g99")),
      "the orphaned generation must be collected")
  }

  test("predicate DELETE: pruned rewrite, exact survivors, delete-only slice, no-match no-op") {
    val p = base()
    val t = GraftTable.create(
      rows(0, 800).repartitionByRange(8, col("k")).sortWithinPartitions("k"),
      p, zoneCols = Seq("k"), keepVersions = 3)
    val nf = t.files().size.toLong
    val (rew, car) = t.delete(Seq(ZoneMap.Range("k", null, 99L)),
      col("u") =!= "u0")
    assert(rew >= 1 && rew < nf && car == nf - rew,
      s"delete must rewrite only the low-k files: $rew/$car of $nf")
    // survivors = NOT(k <= 99 AND u != 'u0'), row-exact
    val want = rows(0, 800).filter(!(col("k") <= 99L && col("u") =!= "u0"))
      .orderBy("k").collect().toSeq
    assert(t.read().orderBy("k").collect().toSeq == want)
    // the commit's change slice is exactly the deleted rows
    val slice = t.readChanges(1, 2)
    assert(slice.filter(col("_change_type") =!= "delete").count() == 0)
    assert(slice.count() == 800L - want.size)
    // preds that prune every file: NO commit at all
    val v = t.version
    val filesNow = t.files().size.toLong
    assert(t.delete(Seq(ZoneMap.Range("k", 5000L, null))) == (0L, filesNow))
    assert(t.version == v, "a no-match DML must not commit a version")
    // SQL NULL semantics + the ROW-level no-op gate: a NULL predicate
    // deletes nothing, and since zero rows match, the DML commits NO
    // version at all — conservative pruning must never buy an identical
    // rewrite of the surviving stripe
    val n = t.read().count()
    val vNull = t.version
    t.delete(Seq(ZoneMap.Range("k", 0L, 5000L)),
      lit(null).cast("boolean"))
    assert(t.read().count() == n, "NULL predicate must delete nothing")
    assert(t.version == vNull,
      "a zero-row DML must not commit — even when files survive pruning")
  }

  test("predicate UPDATE: exact images, pre/post slice, zone column re-indexes, bad SET loud") {
    val p = base()
    val t = GraftTable.create(
      rows(0, 800).repartitionByRange(8, col("k")).sortWithinPartitions("k"),
      p, zoneCols = Seq("k"), keepVersions = 3)
    val nf = t.files().size.toLong
    val (rew, car) = t.update(Seq(ZoneMap.Range("k", 700L, null)),
      Map("v" -> (col("v") + 0.5)), col("k") % 2 === 0)
    assert(rew >= 1 && rew < nf && car == nf - rew,
      s"update must rewrite only the high-k files: $rew/$car of $nf")
    val want = rows(0, 800).select(col("k"),
        when(col("k") >= 700L && col("k") % 2 === 0, col("v") + 0.5)
          .otherwise(col("v")).as("v"), col("u"))
      .orderBy("k").collect().toSeq
    assert(t.read().orderBy("k").collect().toSeq == want)
    // slice = the exact pre/post pairs: 50 even keys in [700, 800)
    val slice = t.readChanges(1, 2)
    assert(slice.filter(col("_change_type") === "update_preimage").count() == 50)
    assert(slice.filter(col("_change_type") === "update_postimage").count() == 50)
    assert(slice.count() == 100)
    // updating the ZONE column itself re-indexes the rewritten files:
    // the moved keys are findable by a pruned scan at their NEW range
    t.update(Seq(ZoneMap.Range("k", 780L, null)),
      Map("k" -> (col("k") + 10000L)))
    assert(t.scan(Seq(ZoneMap.Range("k", 10780L, null))).count() == 20)
    assert(t.read().count() == 800)
    // a SET column outside the schema is loud
    val e = intercept[IllegalArgumentException] {
      t.update(Seq(ZoneMap.Range("k", 0L, 1L)), Map("nope" -> lit(1)))
    }
    assert(e.getMessage.contains("nope"))
  }

  test("shallow clone: zero data copies, pruning inherited, copy-on-write divergence both ways") {
    val p = base()
    val src = GraftTable.create(
      rows(0, 800).repartitionByRange(8, col("k")).sortWithinPartitions("k"),
      s"$p/src", zoneCols = Seq("k"), keepVersions = 3)
    src.append(rows(800, 900))
    val srcV = src.version

    val cl = GraftTable.shallowClone(spark, s"$p/src", s"$p/cl")
    val fs = new org.apache.hadoop.fs.Path(s"$p/cl")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p/cl/data")),
      "a shallow clone must copy zero data files")
    // identical content, inherited pruning power
    assert(cl.read().orderBy("k").collect().toSeq ==
      src.read().orderBy("k").collect().toSeq)
    assert(cl.scanFileCount(Seq(ZoneMap.Range("k", 850L, 899L))) <
      cl.files().size.toLong)

    // clone mutates -> source untouched; affected stripe becomes
    // clone-local, the rest keeps referencing source files
    val (rew, carried) = cl.delete(Seq(ZoneMap.Range("k", null, 99L)))
    assert(rew >= 1 && carried == src.files().size.toLong - rew)
    assert(cl.read().count() == 800)
    assert(src.version == srcV && src.read().count() == 900,
      "the clone's DML must never touch the source")
    assert(cl.files().exists(_.startsWith(s"$p/src/")),
      "untouched stripes keep referencing source files")

    // source mutates -> clone untouched (snapshot semantics)
    src.append(rows(900, 950))
    assert(cl.read().count() == 800)

    // versionAsOf clones the retained PAST; bad destinations are loud
    val old = GraftTable.shallowClone(spark, s"$p/src", s"$p/old",
      versionAsOf = 1L)
    assert(old.read().count() == 800)
    intercept[IllegalArgumentException] {
      GraftTable.shallowClone(spark, s"$p/src", s"$p/cl")
    }
    intercept[IllegalArgumentException] {
      GraftTable.shallowClone(spark, s"$p/src", s"$p/src")
    }
    // the clone's own vacuum never sweeps out-of-root references
    cl.vacuum()
    assert(cl.read().count() == 800 && src.read().count() == 950)
  }

  test("changeFeed = false: merge persists no _changes, feed falls back to exact file-granularity diff") {
    val p = base()
    val t = GraftTable.create(
      rows(0, 400).repartitionByRange(4, col("k")).sortWithinPartitions("k"),
      p, zoneCols = Seq("k"), keepVersions = 4, changeFeed = false)
    t.merge(rows(0, 10).withColumn("v", col("v") + 1000.0), "k")
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p/v2/_changes")),
      "an opted-out table must not pay the row-level slice write")
    // the feed still serves — coarser (whole rewritten files as
    // delete+insert pairs) but EXACT: folding latest-wins per key over
    // the feed reproduces the head
    val feed = t.readChanges(1, 2)
    assert(feed.filter(col("_change_type") === "insert")
      .filter(col("k") === 5L).head.getDouble(1) == 1010.0)
    assert(feed.filter(col("_change_type") === "delete")
      .filter(col("k") === 5L).head.getDouble(1) == 10.0)
    // an opted-IN table of the same shape DOES persist the slice — the
    // opt-out is the delta being asserted, not a changed default
    val q = base()
    val t2 = GraftTable.create(
      rows(0, 400).repartitionByRange(4, col("k")).sortWithinPartitions("k"),
      q, zoneCols = Seq("k"), keepVersions = 4)
    t2.merge(rows(0, 10).withColumn("v", col("v") + 1000.0), "k")
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$q/v2/_changes")))
  }

  test("keepHours extends retention in time: a commit burst can't prune inside the window") {
    val p = base()
    val t = GraftTable.create(rows(0, 50), p, zoneCols = Seq("k"),
      keepVersions = 1, keepHours = 1.0)
    t.append(rows(50, 60))
    t.append(rows(60, 70))
    assert(t.versions() == Seq(1L, 2L, 3L),
      s"keepVersions=1 alone would leave only v3; keepHours=1.0 must " +
        s"retain the minutes-old burst: ${t.versions()}")
    assert(t.readVersion(1).count() == 50, "time travel across the burst")
    // keepHours = 0 degrades to pure count-based retention
    val q = base()
    val t2 = GraftTable.create(rows(0, 50), q, zoneCols = Seq("k"),
      keepVersions = 1, keepHours = 0.0)
    t2.append(rows(50, 60))
    assert(t2.versions() == Seq(2L))
  }

  test("vacuum dry-run reports the blast radius without deleting; clone registration makes source vacuum loud") {
    val p = base()
    val t = GraftTable.create(rows(0, 200), p, zoneCols = Seq("k"),
      nFiles = 4)
    t.compact(targetRows = 200L) // supersedes the 4-file generation
    val plan = t.vacuumDryRun()
    assert(plan.count(_.endsWith(".parquet")) + plan.count(!_.contains("."))
      >= 1, s"a superseded generation must appear in the report: $plan")
    assert(t.read().count() == 200, "dry-run must not delete anything")
    val before = t.files()
    assert(before.forall(f => !plan.contains(f)),
      "live files must never appear in the would-delete report")

    // register a clone: source vacuum refuses, force overrides,
    // unregister restores the quiet path
    val cl = GraftTable.shallowClone(spark, p, base() + "/cl")
    val e = intercept[IllegalArgumentException] { t.vacuum() }
    assert(e.getMessage.contains("clone"), e.getMessage)
    assert(t.registeredClones().size == 1)
    val swept = t.vacuum(force = true)
    assert(swept >= 0 && t.read().count() == 200)
    t.unregisterClone(cl.path)
    assert(t.registeredClones().isEmpty)
    assert(t.vacuum() == 0L, "post-unregister vacuum is quiet again")
  }

  test("shallow clone from a RELATIVE source path qualifies refs (reads don't re-root under the clone)") {
    val rel = s"target/tmp/clone_rel_${java.util.UUID.randomUUID()}"
    val dest = base() + "/cl"
    try {
      GraftTable.create(rows(0, 100), s"$rel/src", zoneCols = Seq("k"),
        nFiles = 2)
      val cl = GraftTable.shallowClone(spark, s"$rel/src", dest)
      // every inherited ref must resolve under the SOURCE's absolute
      // root — a bare relative rewrite would re-root them under the
      // clone and break every read
      val cwd = new java.io.File(".").getCanonicalPath
      assert(cl.files().forall(_.startsWith(s"$cwd/$rel/")),
        s"clone refs must be source-absolute: ${cl.files().take(2)}")
      assert(cl.read().count() == 100)
    } finally {
      val d = new java.io.File(rel)
      if (d.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
        }
        rm(d)
      }
    }
  }

  test("history + compactWhere: ops logged; fragmented stripe consolidates, rest carried") {
    val p = base()
    val t = GraftTable.create(
      rows(0, 800).repartitionByRange(8, col("k")).sortWithinPartitions("k"),
      p, zoneCols = Seq("k"), keepVersions = 5)
    t.append(rows(800, 900).coalesce(1)) // fragments the high-k stripe
    t.delete(Seq(ZoneMap.Range("k", null, 49L)))
    val filesBefore = t.files().size
    val before = t.read().count()
    // consolidate ONLY the fragmented tail (sampled range bounds may
    // smear the 700 boundary across a neighbor): its files become ONE
    val (rew, car) = t.compactWhere(Seq(ZoneMap.Range("k", 700L, null)),
      targetRows = 100000, sortCols = Seq("k"))
    assert(rew >= 2 && rew <= 3 && car == filesBefore.toLong - rew,
      s"only the tail's files consolidate: $rew/$car of $filesBefore")
    assert(t.files().size == filesBefore - rew + 1,
      "the fragments must merge into one file")
    assert(t.read().count() == before, "compactWhere is row-preserving")
    assert(t.readChanges(3, 4).count() == 0,
      "a stripe relayout feeds nothing")
    // the tail still scans exactly after its relayout
    assert(t.scan(Seq(ZoneMap.Range("k", 850L, 899L))).count() == 50)
    // a stripe that prunes to nothing is a no-op, not an empty commit
    val v = t.version
    assert(t.compactWhere(Seq(ZoneMap.Range("k", 5000L, null)),
      targetRows = 100)._1 == 0L && t.version == v)

    assert(t.history().select("version", "operation")
      .orderBy("version").collect().map(r => (r.getLong(0), r.getString(1)))
      .toSeq == Seq((1L, "create"), (2L, "append"), (3L, "delete"),
        (4L, "compact")))
    val cl = GraftTable.shallowClone(spark, p, p + "_cl")
    assert(cl.history().collect().map(r =>
      (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "clone")))
  }

  test("composite-key merge: tuples match independently, leading key prunes, contract on the tuple") {
    val p = base()
    val seed = (0L until 200L).flatMap(k => Seq((k, "a", 1.0), (k, "b", 2.0)))
      .toDF("k", "k2", "v")
      .repartitionByRange(4, col("k")).sortWithinPartitions("k")
    val t = GraftTable.create(seed, p, zoneCols = Seq("k"))
    val files = t.files().size
    // low-k batch: update (5,a), tombstone (6,b), insert (5,c)
    val batch = Seq((5L, "a", 100.0, "upsert"), (6L, "b", 0.0, "delete"),
      (5L, "c", 3.0, "upsert")).toDF("k", "k2", "v", "op")
    val (rew, carried) = t.merge(batch, Seq("k", "k2"), "op")
    assert(rew >= 1 && rew < files && carried == files - rew,
      s"leading-key pruning must rewrite only the low stripe: $rew/$files")
    val got = t.read().filter(col("k").isin(5L, 6L))
      .orderBy("k", "k2").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    assert(got == Seq((5L, "a", 100.0), (5L, "b", 2.0), (5L, "c", 3.0),
      (6L, "a", 1.0)),
      s"tuple semantics: (5,a) updates, (5,b) untouched, (5,c) inserts, " +
        s"(6,b) deletes, (6,a) survives — got $got")
    assert(t.read().count() == 400 - 1 + 1)
    // the batch-key contract is on the TUPLE: same k under two k2s is
    // legal (above); a duplicated tuple refuses
    intercept[IllegalArgumentException] {
      t.merge(Seq((1L, "a", 9.0), (1L, "a", 8.0)).toDF("k", "k2", "v"),
        Seq("k", "k2"), null.asInstanceOf[String])
    }
  }

  test("manifest records real file bytes; approxStats reads them (string-heavy ≫ rows × defaultSize)") {
    val p = base()
    // 2,000 rows × ~1 KB incompressible strings: rows × defaultSize
    // (20 B/string) says ~56 KB — real parquet bytes are ~2 MB
    val fat = (0L until 2000L)
      .map(k => (k, Seq.tabulate(64)(i =>
        ((k * 64 + i) * 2654435761L).toHexString).mkString))
      .toDF("k", "s")
    val t = GraftTable.create(fat, p, zoneCols = Seq("k"), nFiles = 2)
    val (rows0, bytes) = t.approxStats(t.version)
    assert(rows0 == 2000L)
    val naive = 2000L * fat.schema.defaultSize
    assert(bytes > naive,
      s"real file bytes ($bytes) must beat the width guess ($naive) on " +
        "string-heavy tables — under-estimation broadcasts what should " +
        "shuffle")
    // carried-forward rows keep their recorded bytes across a merge
    t.merge(Seq((1L, "x")).toDF("k", "s"), "k")
    val (rows1, bytes1) = t.approxStats(t.version)
    assert(rows1 == 2000L && bytes1 > naive / 2,
      s"bytes must survive the carry-forward: $bytes1")
  }

  test("job budget: scanFileCount prunes on the driver with no Spark job for every zone type and on a bloom table") {
    import java.sql.{Date, Timestamp}
    val day0 = java.time.LocalDate.of(2024, 1, 1)
    val typed = (0L until 400L).map { k =>
      (k, new Timestamp(1700000000000L + k * 60000L),
        java.math.BigDecimal.valueOf(k * 25L, 2), Date.valueOf(day0.plusDays(k)))
    }.toDF("k", "ts", "m", "dt").repartitionByRange(8, col("k"))
    val t = GraftTable.create(typed, base(), zoneCols = Seq("k", "ts", "m", "dt"))
    val all = t.files().size // collects the manifest snapshot outside the counts
    Seq(
      "Int literal on a bigint" -> ZoneMap.Range("k", 10, 20),
      "Timestamp" -> ZoneMap.Point("ts", new Timestamp(1700000000000L + 15L * 60000L)),
      "Decimal" -> ZoneMap.Range("m", new java.math.BigDecimal("2.50"),
        new java.math.BigDecimal("5.00")),
      "Date" -> ZoneMap.Point("dt", Date.valueOf(day0.plusDays(15)))
    ).foreach { case (zone, pred) =>
      var opened = 0L
      val (jobs, _, _) = sparkWork { opened = t.scanFileCount(Seq(pred)) }
      assert(jobs == 0, s"$zone zone: pruning ran $jobs Spark jobs")
      assert(opened >= 1 && opened < all, s"$zone zone: opened $opened of $all files")
    }
    // blooms are probed on the driver too, from the zone survivors'
    // sidecars
    val bt = GraftTable.create(rows(0, 400).repartition(8), base(),
      zoneCols = Seq("v"), bloomCols = Seq("k"), bloomItems = 1000L, bloomFpp = 0.01)
    bt.files()
    var opened = 0L
    val (jobs, _, _) = sparkWork { opened = bt.scanFileCount(Seq(ZoneMap.Point("k", 7L))) }
    assert(jobs == 0, s"bloom pruning ran $jobs Spark jobs")
    assert(opened >= 1 && opened <= 3, s"the bloom must prune: opened $opened of 8 files")
  }

  test("job budget: a bloom-table append runs one zone pass, a Timestamp/Decimal/Date-zoned append none, and no manifest job; the next statement runs none") {
    import java.sql.{Date, Timestamp}
    val day0 = java.time.LocalDate.of(2024, 1, 1)
    def typed(lo: Long, hi: Long) = (lo until hi).map { k =>
      (k, new Timestamp(1700000000000L + k * 60000L),
        java.math.BigDecimal.valueOf(k * 25L, 2), Date.valueOf(day0.plusDays(k)))
    }.toDF("k", "ts", "m", "dt")
    val bloomed = GraftTable.create(rows(0, 400).repartition(8), base(),
      zoneCols = Seq("v"), bloomCols = Seq("k"), bloomItems = 1000L, bloomFpp = 0.01)
    val zoned = GraftTable.create(typed(0, 400).repartitionByRange(8, col("k")),
      base(), zoneCols = Seq("k", "ts", "m", "dt"))
    // jobs the same appends ran when the manifest carried bloom bits and
    // was written by a Spark job for these zone types; the bloom bits need
    // the values, the typed zones come from the footers
    Seq((bloomed, rows(400, 500), 4, 1), (zoned, typed(400, 500), 5, 0)).foreach {
      case (t, batch, before, zonePasses) =>
        val (jobs, _, labels) = sparkWork { t.append(batch.repartition(2)) }
        assert(jobs < before &&
          labels.count(_.startsWith("graft:publish:zones")) == zonePasses &&
          labels.forall(l => l.startsWith("graft:publish:zones") ||
            l.startsWith("graft:publish:generation")),
          s"an append writes its generation and runs $zonePasses zone pass: " +
            s"$jobs jobs " + labels.mkString("; "))
        val (next, _, nextLabels) = sparkWork { t.files() }
        assert(next == 0, "the commit seeds its snapshot: " + nextLabels.mkString("; "))
    }
    assert(bloomed.read().count() == 500 && zoned.read().count() == 500)
    assert(zoned.scan(Seq(ZoneMap.Point("dt", Date.valueOf(day0.plusDays(450)))))
      .count() == 1)
  }

  test("shallow clone of a bloom table prunes like its source, through the source files' sidecars") {
    val p = base()
    val src = GraftTable.create(rows(0, 400).repartition(8), s"$p/src",
      zoneCols = Seq("v"), bloomCols = Seq("k"), bloomItems = 1000L, bloomFpp = 0.01)
    val cl = GraftTable.shallowClone(spark, s"$p/src", s"$p/cl")
    Seq(7L, 123L, 399L, 5000L).foreach { k =>
      val pt = Seq(ZoneMap.Point("k", k))
      assert(cl.scanFileCount(pt) == src.scanFileCount(pt), s"k = $k")
      assert(cl.scan(pt).count() == (if (k < 400) 1L else 0L), s"k = $k")
    }
    assert(cl.scanFileCount(Seq(ZoneMap.Point("k", 7L))) <= 3)
    // copy-on-write: the rewritten stripe's sidecars are the clone's own
    cl.delete(Seq(ZoneMap.Point("k", 7L)))
    assert(cl.scan(Seq(ZoneMap.Point("k", 7L))).count() == 0 &&
      cl.scan(Seq(ZoneMap.Point("k", 8L))).count() == 1 &&
      src.scan(Seq(ZoneMap.Point("k", 7L))).count() == 1)
    assert(cl.scanFileCount(Seq(ZoneMap.Point("k", 8L))) <= 3)
  }

  test("vacuum deletes a merge's replaced files' bloom sidecars and keeps the live ones; a missing sidecar is loud") {
    val p = base()
    val t = GraftTable.create(rows(0, 2000).repartition(16), p,
      zoneCols = Seq("k"), bloomCols = Seq("k"), bloomItems = 1000L, bloomFpp = 0.01)
    val before = t.files().toSet
    t.merge(Seq((777L, -1.0, "x")).toDF("k", "v", "u"), "k")
    val live = t.files().toSet
    val replaced = before -- live
    assert(replaced.nonEmpty)
    def sidecar(f: String) =
      new java.io.File(GraftTable.bloomSidecar(f, "k").toUri.getPath)
    assert((before ++ live).forall(sidecar(_).isFile),
      "every written data file has its sidecar")
    t.vacuum()
    assert(replaced.forall(!sidecar(_).exists),
      "the replaced files' sidecars go with them")
    assert(live.forall(sidecar(_).isFile), "live sidecars stay")
    assert(t.scan(Seq(ZoneMap.Point("k", 777L))).select("v").as[Double]
      .collect().toSeq == Seq(-1.0))
    // no legacy reader: a file without its sidecar fails naming the path
    // (an untouched file spans the whole key range, so its zone keeps 1000)
    val gone = sidecar((before & live).head)
    assert(gone.delete())
    val e = intercept[RuntimeException] {
      t.scanFileCount(Seq(ZoneMap.Point("k", 1000L)))
    }
    assert(e.getMessage.contains(gone.getPath), e.getMessage)
  }

  test("a column a merge leaves null reads back null, whatever its create-time nullability") {
    val p = base()
    // primitive tuple fields are NOT NULL in the frame the table is created from
    val t = GraftTable.create(Seq((1L, 10L, 100L), (2L, 20L, 200L)).toDF("k", "v", "w"),
      p, zoneCols = Seq("k"))
    t.merge(Seq((1L, 11L)).toDF("k", "v"), "k")
    assert(t.read().orderBy("k").as[(Long, Long, Option[Long])].collect().toSeq ==
      Seq((1L, 11L, None), (2L, 20L, Some(200L))))
  }

  test("a read frame stays its snapshot: after a later commit prunes its version, filters still prune its files") {
    import graft.sources.GraftTableRelation
    val p = base()
    val t = GraftTable.create(rows(0, 400).repartitionByRange(4, col("k"))
      .sortWithinPartitions("k"), p, zoneCols = Seq("k"))
    val v1 = t.read()
    t.append(rows(400, 500))
    assert(t.versions() == Seq(2L), "keepVersions = 1 prunes version 1")
    GraftTableRelation.clearScan(p)
    assert(v1.filter(col("k") < 10L).count() == 10)
    assert(GraftTableRelation.lastScan(p).contains((1, 4)),
      s"the filter must prune version 1's files: ${GraftTableRelation.lastScan(p)}")
    assert(v1.count() == 400)
  }

  test("job budget: a pruned read that keeps more than 32 of 100 files runs its read job and no listing job") {
    val t = GraftTable.create(rows(0, 2000).repartitionByRange(100, col("k"))
      .sortWithinPartitions("k"), base(), zoneCols = Seq("k"))
    assert(t.files().size == 100)
    val preds = Seq(ZoneMap.Range("k", 0L, 999L))
    val kept = t.scanFileCount(preds)
    assert(kept > 32 && kept < 100, s"the fixture must keep more than 32 files: $kept")
    var got = Array.empty[org.apache.spark.sql.Row]
    val (jobs, _, labels) = sparkWork { got = t.scan(preds).select("k").collect() }
    assert(got.length == 1000)
    // above 32 paths, spark.sql.sources.parallelPartitionDiscovery.threshold,
    // a path-list read lists its files with a Spark job of its own
    assert(jobs == 1 && !labels.exists(_.contains("Listing")),
      s"the read must run one job and list nothing: $jobs jobs ${labels.mkString("; ")}")
  }

  test("rebase rule: disjoint and pruned-base commits re-plan; an overlap or a reached batch id loses") {
    val mine = Set("a", "b")
    assert(GraftTable.rebases(mine, Some(Set("c")), None, headHwm = 5L),
      "a winner that removed none of the replaced files is disjoint")
    assert(!GraftTable.rebases(mine, Some(Set("b", "c")), None, headHwm = 5L),
      "a winner that removed a replaced file overlaps")
    assert(GraftTable.rebases(Set.empty, Some(Set("a")), None, headHwm = 5L),
      "a commit that replaces nothing cannot overlap")
    assert(!GraftTable.rebases(mine, None, None, headHwm = 5L),
      "a pruned base hides the removed set: an overlap when files are replaced")
    assert(GraftTable.rebases(Set.empty, None, None, headHwm = 5L),
      "a pruned base is no overlap when nothing is replaced")
    assert(!GraftTable.rebases(Set.empty, Some(Set.empty), Some(5L), headHwm = 5L),
      "a winner that reached the explicit batch id is a true conflict")
    assert(GraftTable.rebases(Set.empty, Some(Set.empty), Some(6L), headHwm = 5L),
      "an explicit id above the winner's high-water mark rebases")
    assert(GraftTable.rebases(mine, Some(Set.empty), None, headHwm = 99L),
      "the manual form has no id to reach")
  }

  test("job budget: compactWhere sizes its stripe from the snapshot; policy and ADD COLUMN commits run no job; a replace reads no snapshot") {
    val p = base()
    val t = GraftTable.create(rows(0, 800).repartitionByRange(8, col("k"))
      .sortWithinPartitions("k"), p, zoneCols = Seq("k"), keepVersions = 5)
    assert(t.files().size == 8)
    val (cw, _, cwLabels) = sparkWork {
      t.compactWhere(Seq(ZoneMap.Range("k", 0L, 250L)), targetRows = 100000)
    }
    assert(cw == 1, s"compactWhere runs only its generation write: $cw jobs " +
      cwLabels.mkString("; "))
    assert(t.read().count() == 800)
    val (sp, _, spLabels) = sparkWork { t.setPolicies(keepVersions = Some(6)) }
    assert(sp == 0, s"setPolicies writes no generation: $sp jobs " +
      spLabels.mkString("; "))
    val (ac, _, acLabels) = sparkWork {
      t.addColumns(new org.apache.spark.sql.types.StructType()
        .add("w", org.apache.spark.sql.types.LongType))
    }
    assert(ac == 0, s"addColumns writes no generation: $ac jobs " +
      acLabels.mkString("; "))
    val v = t.version
    assert(t.policies()._1 == 6 && t.read().columns.contains("w"))
    assert(t.read().count() == 800 && t.read().filter(col("w").isNotNull).count() == 0)
    assert(t.commitChanges(v).exists(_.count() == 0) &&
      t.commitChanges(v - 1).exists(_.count() == 0),
      "metadata-only commits persist an empty change slice")
    assert(t.history().orderBy("version").collect().map(_.getString(1))
      .takeRight(2).toSeq == Seq("setpolicy", "addcolumns"))
    assert(t.scan(Seq(ZoneMap.Range("k", 700L, 799L))).count() == 100,
      "the carried manifest still prunes and reads exactly")
    // a replace names no files: under a moved root, whose manifest
    // snapshots this process never cached, it still runs only its write
    val moved = s"${new java.io.File(p).getParent}/moved"
    Files.move(java.nio.file.Paths.get(p), java.nio.file.Paths.get(moved))
    val cold = GraftTable.open(spark, moved)
    val (rp, _, rpLabels) = sparkWork { cold.replace(rows(0, 100)) }
    assert(rp == 1, s"replace runs only its generation write: $rp jobs " +
      rpLabels.mkString("; "))
    assert(cold.read().count() == 100)
  }

  test("job budget: a classic merge runs its one merge body; a predicate delete's row gate is one job; every job is graft:-labeled") {
    val p = base()
    val t = GraftTable.create(rows(0, 800).repartitionByRange(8, col("k"))
      .sortWithinPartitions("k"), p, zoneCols = Seq("k"))
    assert(t.files().size == 8)
    // upsert 30 keys and tombstone 10 in one stripe, insert 20 new keys
    val batch = ((100L until 130L).map(k => (k, -1.0, "upd", "u")) ++
      (130L until 140L).map(k => (k, 0.0, "d", GraftTable.DeleteOp)) ++
      (800L until 820L).map(k => (k, k * 2.0, "new", "u")))
      .toDF("k", "v", "u", "op")
    val (mj, _, mLabels) = sparkWork { t.merge(batch, "k", "op") }
    assert(mj == 3, s"a classic merge runs its probe (with the batch-key " +
      s"contract), its generation and its change slice: $mj jobs " +
      mLabels.mkString("; "))
    assert(mLabels.forall(_.startsWith("graft:")),
      "every merge job is labeled: " + mLabels.mkString("; "))
    assert(t.read().count() == 810 &&
      t.commitChanges(t.version).get.count() == 30 * 2 + 10 + 20)
    val (dj, _, dLabels) = sparkWork {
      t.delete(Seq(ZoneMap.Range("k", 0L, 20L)))
    }
    assert(dj == 3, s"a predicate delete runs its gate, its generation " +
      s"and its change slice: $dj jobs " + dLabels.mkString("; "))
    assert(dLabels.forall(_.startsWith("graft:")),
      "every delete job is labeled: " + dLabels.mkString("; "))
    assert(t.read().count() == 789 &&
      t.commitChanges(t.version).get.count() == 21)
  }

  /** Twenty keys of `dt`, ascending under `ord` — the test's own
    * statement of Spark's ordering — with the type's adversarial values.
    * `stored` overrides what a stored row holds in a key's slot.
    */
  private case class KeyCase(dt: org.apache.spark.sql.types.DataType,
      keys: Seq[Any], ord: Ordering[Any], stored: Map[Int, Any] = Map.empty)

  private def keyCases: Seq[KeyCase] = {
    import org.apache.spark.sql.types._
    def by[T](f: (T, T) => Int): Ordering[Any] = new Ordering[Any] {
      def compare(a: Any, b: Any): Int = f(a.asInstanceOf[T], b.asInstanceOf[T])
    }
    val utf8 = by[String] { (a, b) =>
      val (x, y) = (a.getBytes("UTF-8"), b.getBytes("UTF-8"))
      x.indices.find(i => i >= y.length || x(i) != y(i)) match {
        case Some(i) if i < y.length => (x(i) & 0xff) - (y(i) & 0xff)
        case Some(_) => 1
        case None => x.length - y.length
      }
    }
    val double = by[Double] { (a, b) =>
      if (a.isNaN || b.isNaN) java.lang.Boolean.compare(a.isNaN, b.isNaN)
      else if (a == b) 0 else java.lang.Double.compare(a, b)
    }
    Seq(
      KeyCase(LongType, Seq(Long.MinValue, -1000000000000L, -5000L, -4096L,
        -300L, -257L, -256L, -255L, -2L, -1L, 0L, 1L, 2L, 255L, 256L, 4096L,
        1000000000L, 1000000000000L, 1L << 62, Long.MaxValue),
        by[Long](java.lang.Long.compare)),
      // UTF-8 byte order: U+E000 and U+FFFD sort below a surrogate pair,
      // unlike UTF-16's String.compareTo
      KeyCase(StringType, Seq("", "A", "AA", "Z", "a", "b", "z", "~", "é",
        "ü", "ɐ", "ά", "ש", "ࠀ", "中", "\uE000", "\uFFFD", "😀", "😀a", "🙂"),
        utf8),
      KeyCase(DateType, Seq("1900-01-01", "1950-06-15", "1969-12-30",
        "1969-12-31", "1970-01-01", "1970-01-02", "1999-12-31", "2000-02-29",
        "2000-03-01", "2024-01-01", "2024-01-02", "2024-02-29", "2100-01-01",
        "2500-05-05", "3000-01-01", "5000-01-01", "8000-01-01", "9999-01-01",
        "9999-12-30", "9999-12-31").map(java.sql.Date.valueOf),
        by[java.sql.Date](_.compareTo(_))),
      KeyCase(DecimalType(20, 4), Seq("-9999999999999999.9999", "-100000.0000",
        "-256.0000", "-255.9999", "-1.0000", "-0.0001", "0.0000", "0.0001",
        "0.5000", "1.0000", "2.0000", "9.9999", "10.0000", "255.0000",
        "4096.1234", "100000.0000", "123456789012.3456", "999999999999.9999",
        "1000000000000.0000", "9999999999999999.9999")
        .map(new java.math.BigDecimal(_)),
        by[java.math.BigDecimal](_.compareTo(_))),
      // slot 12 holds zero: stored as -0.0 in one file and 0.0 in the
      // other, upserted as 0.0 — one key to Spark; NaN is the greatest
      KeyCase(DoubleType, Seq(Double.NegativeInfinity, -1e300, -1e10, -4096.5,
        -256.0, -2.5, -1.5, -1.0, -0.5, -1e-10, -1e-300,
        -Double.MinPositiveValue, 0.0, Double.MinPositiveValue, 1e-300, 0.5,
        1.0, Double.MaxValue, Double.PositiveInfinity, Double.NaN), double,
        Map(12 -> -0.0)))
  }

  test("merge placement: the replaced files' zone minimums place each row; a driver fold and range partitioning agree on the layout") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    keyCases.foreach { case KeyCase(dt, keys, ord, storedAt) =>
      assert(keys.size == 20 && keys.sliding(2).forall(w => ord.lt(w(0), w(1))),
        s"$dt keys ascend")
      val schema = StructType(Seq(StructField("k", dt), StructField("v", LongType)))
      // (a) the placement column against a driver fold and against the
      // layout repartitionByRange gives: ordered key ranges per partition
      val mins = Seq(keys(15), keys(3), keys(9), keys(3), keys(0))
      val sorted = mins.sorted(ord)
      val probe = spark.createDataFrame((keys.map(k => Row(k, 0L)) ++
        Seq(Row(null, 0L), Row(storedAt.getOrElse(12, keys(12)), 0L))).asJava,
        schema)
      val pid = GraftTable.placement(col("k"), dt, mins)
      probe.select(col("k"), pid).collect().foreach { r =>
        val want =
          if (r.isNullAt(0)) 0 else sorted.tail.count(b => ord.lteq(b, r.get(0)))
        assert(r.getInt(1) == want, s"$dt key ${r.get(0)}: ${r.getInt(1)} != $want")
      }
      Seq(probe.repartitionByRange(mins.size, col("k")),
          probe.repartitionById(mins.size, pid)).foreach { placed =>
        val byKey = placed.select(col("k"), spark_partition_id()).collect()
          .filterNot(_.isNullAt(0)).sortBy(_.get(0))(ord).map(_.getInt(1))
        assert(byKey.sliding(2).forall(w => w(0) <= w(1)),
          s"$dt: partition ids follow key order: ${byKey.mkString(",")}")
      }

      // (b) a merge. Six files by key slot, F1 also holding a null key;
      // F3 and F4 share their minimum (one key stored twice); the batch
      // touches F1-F4, deletes every row of F2, inserts below F1 (slot
      // 3), above F4 (18) and between files (7, 11), and tombstones a
      // key never stored (15)
      def key(i: Int) = keys(i)
      def storedKey(i: Int) = storedAt.getOrElse(i, keys(i))
      val fileSlots = Seq(Seq(0, 1, 2), Seq(4, 5, 6), Seq(8, 9, 10),
        Seq(12, 13, 14), Seq(12, 16, 17), Seq(19))
      var nextV = 0L
      val stored = fileSlots.zipWithIndex.map { case (slots, f) =>
        slots.map { i =>
          nextV += 1
          // the second copy of slot 12 holds the plain key
          Row(if (f == 4) key(i) else storedKey(i), nextV)
        } ++ (if (f == 1) Seq(Row(null, -1L)) else Nil)
      }
      val p = base()
      def frame(rs: Seq[Row], s: StructType) =
        spark.createDataFrame(spark.sparkContext.parallelize(rs, 1), s)
      val t = GraftTable.create(frame(stored.head, schema), p, zoneCols = Seq("k"))
      stored.tail.foreach(rs => t.append(frame(rs, schema)))
      assert(t.files().size == 6)
      val upserts = Seq(5, 12, 16, 3, 18, 7, 11)
      val deletes = Seq(6, 8, 9, 10, 15)
      val batchSchema = schema.add("op", StringType)
      val batch = frame(upserts.map(i => Row(key(i), 1000L + i, "u")) ++
        deletes.map(i => Row(key(i), 0L, GraftTable.DeleteOp)), batchSchema)
      val before = t.version
      val oldFiles = t.files().toSet
      val (rewritten, carried) = t.merge(batch, "k", "op")
      assert((rewritten, carried) == ((4L, 2L)), s"$dt: F1-F4 rewritten")

      // contents and the exact change slice against a driver fold; keys
      // compare by slot, so the ±0.0 copies are one key
      def slot(k: Any): Int =
        if (k == null) -1 else keys.indexWhere(x => ord.equiv(x, k))
      val storedRows = stored.flatten.map(r => (slot(r.get(0)), r.getLong(1)))
      val touched = (upserts ++ deletes).toSet
      val want = storedRows.filterNot(r => touched(r._1)) ++
        upserts.map(i => (i, 1000L + i))
      val got = t.read().collect().map(r => (slot(r.get(0)), r.getLong(1)))
      assert(got.sorted.toSeq == want.sorted, s"$dt contents")
      val wantSlice =
        storedRows.filter(r => deletes.contains(r._1)).map(r => (r._1, r._2, "delete")) ++
          storedRows.filter(r => upserts.contains(r._1))
            .map(r => (r._1, r._2, "update_preimage")) ++
          upserts.filter(i => storedRows.exists(_._1 == i))
            .map(i => (i, 1000L + i, "update_postimage")) ++
          upserts.filterNot(i => storedRows.exists(_._1 == i))
            .map(i => (i, 1000L + i, "insert"))
      val gotSlice = t.commitChanges(t.version).get.collect()
        .map(r => (slot(r.get(0)), r.getLong(1), r.getString(2)))
      assert(gotSlice.sorted.toSeq == wantSlice.sorted, s"$dt change slice")

      // the new files: one per non-empty placement partition, each the
      // key slots the fold assigns it, their zone ranges disjoint
      val manifest = spark.read.parquet(s"$p/v${before + 1}/manifest").collect()
        .filterNot(r => oldFiles.exists(_.endsWith(r.getAs[String]("file"))))
      assert(manifest.length <= 4, s"$dt: ${manifest.length} new files")
      val ranges = manifest.map(r => (r.getAs[Any]("min_k"), r.getAs[Any]("max_k")))
        .sortBy(_._1)(ord)
      assert(ranges.sliding(2).forall(w => ord.lt(w(0)._2, w(1)._1)),
        s"$dt: disjoint zone ranges ${ranges.mkString(", ")}")
      val layout = t.files().filterNot(oldFiles).map(f =>
        spark.read.parquet(f).collect().map(r => slot(r.get(0))).toSet).toSet
      assert(layout == Set(Set(-1, 3, 4, 5, 7), Set(11), Set(12, 13, 14, 16, 17, 18)),
        s"$dt: files by key slot $layout")
    }
  }

  test("optimistic rebase: compactWhere and setPolicies each commit alongside a racing append") {
    val p = base()
    val t = GraftTable.create(rows(0, 800).repartitionByRange(8, col("k"))
      .sortWithinPartitions("k"), p, zoneCols = Seq("k"), keepVersions = 2)
    val expected = (rows(0, 800).collect() ++ rows(900, 950).collect())
      .map(_.toString).sorted.toSeq
    val os = race(p)(
      _.compactWhere(Seq(ZoneMap.Range("k", 0L, 250L)), targetRows = 100000),
      _.append(rows(900, 950)))
    assert(os == Seq("ok", "ok"),
      s"an append replaces none of the stripe's files: both commit: $os")
    assert(t.versions() == Seq(2L, 3L), s"versions contiguous: ${t.versions()}")
    assert(t.read().collect().map(_.toString).sorted.toSeq == expected)
    assert(t.history().orderBy("version").collect().map(_.getString(1))
      .toSet == Set("compact", "append"))

    val os2 = race(p)(
      _.setPolicies(keepVersions = Some(3)),
      _.append(rows(950, 1000)))
    assert(os2 == Seq("ok", "ok"),
      s"a metadata-only commit replaces nothing: both commit: $os2")
    assert(t.versions() == Seq(3L, 4L, 5L), s"versions contiguous: ${t.versions()}")
    assert(t.policies()._1 == 3)
    assert(t.read().count() == 900L && t.read().filter(col("k") >= 900L).count() == 100L)
  }

  test("optimistic rebase: a delete and a merge on the same stripe serialize or lose loudly") {
    val p = base()
    val t = GraftTable.create(rows(0, 1000).repartitionByRange(10, col("k"))
      .sortWithinPartitions("k"), p, zoneCols = Seq("k"), keepVersions = 3)
    val os = race(p)(
      _.delete(Seq(ZoneMap.Range("k", 500L, 519L))),
      _.merge((500L until 520L).map(k => (k, -7.0, "s")).toDF("k", "v", "u"), "k"))
    assert(os.count(_ == "ok") >= 1 && os.forall(o => o == "ok" || o == "conflict"),
      s"same-stripe racers must commit or lose LOUDLY: $os")
    val vs = t.versions()
    assert(vs == (vs.head to vs.last) && vs.last == 1L + os.count(_ == "ok"),
      s"one contiguous version per winner: $vs $os")
    // the stripe is either merged (the merge ran last, or alone) or gone
    // (the delete ran last, or alone); everything else is untouched
    val stripe = t.read().filter(col("k").between(500, 519))
      .select("v").as[Double].collect().toSeq
    assert(stripe.isEmpty || (stripe.size == 20 && stripe.toSet == Set(-7.0)),
      s"the stripe must be one serial order's outcome: $stripe")
    assert(t.read().filter(!col("k").between(500, 519)).collect()
      .map(_.toString).sorted.toSeq ==
      rows(0, 1000).filter(!col("k").between(500, 519)).collect()
        .map(_.toString).sorted.toSeq)
  }
  private def tableRows(t: GraftTable) =
    t.read().as[(Long, Double, String)].collect().sorted.toSeq

  private def rowSet(keys: Seq[Long], v: Long => Double = _ * 2.0) =
    keys.map(k => (k, v(k), s"u${k % 7}")).sorted

  test("commit hands the rule the merge's rewrite set and the winner's removed files: a delete committed mid-write on its stripe makes it lose, one elsewhere lets it rebase") {
    val p = base()
    val t = GraftTable.create(rows(0, 1000).repartitionByRange(10, col("k"))
      .sortWithinPartitions("k"), p, zoneCols = Seq("k"), keepVersions = 5)
    // the merge's write evaluates its matched condition row by row, after
    // it planned its rewrite set against v1
    def merge(lo: Long, v: Double): Unit = t.mergeCond(
      (lo until lo + 20L).map(k => (k, v, "m")).toDF("k", "v", "u"), "k",
      MidWrite.hook(col("t.k")), updateCols = Seq("v"))

    val os = MidWrite.race(
      GraftTable.open(spark, p).delete(Seq(ZoneMap.Range("k", 800L, 819L))))(
      merge(100L, -1.0))
    assert(os == "ok", "the delete removed none of the merge's files: it rebases")
    assert(t.versions() == Seq(1L, 2L, 3L))
    assert(t.history().orderBy("version").collect().map(_.getString(1))
      .drop(1).toSeq == Seq("delete", "merge"))
    val merged = (k: Long) => if (k >= 100L && k < 120L) -1.0 else k * 2.0
    assert(tableRows(t) ==
      rowSet((0L until 1000L).filterNot(k => k >= 800L && k < 820L), merged))

    val os2 = MidWrite.race(
      GraftTable.open(spark, p).delete(Seq(ZoneMap.Range("k", 505L, 509L))))(
      merge(500L, -2.0))
    assert(os2 == "conflict",
      "the delete rewrote the file the merge planned to rewrite: it loses")
    assert(t.versions() == Seq(1L, 2L, 3L, 4L))
    assert(tableRows(t) == rowSet((0L until 1000L).filterNot(k =>
      (k >= 800L && k < 820L) || (k >= 505L && k < 510L)), merged),
      "the winner's delete stands and the loser wrote nothing")
  }

  test("a replace never rebases: an append that commits while it writes makes it lose loudly") {
    val p = base()
    val t = GraftTable.create(rows(0, 1000).repartitionByRange(10, col("k"))
      .sortWithinPartitions("k"), p, zoneCols = Seq("k"), keepVersions = 5)
    // INSERT OVERWRITE t SELECT … FROM t: the rows are a read pinned to v1
    val kept = t.read().filter(MidWrite.hook(col("k")) && col("k") < 500L)
    val os = MidWrite.race(
      GraftTable.open(spark, p).append(rows(2000, 2050)))(t.replace(kept))
    assert(os == "conflict",
      "re-publishing v1's rows over the append would drop its rows silently")
    assert(t.versions() == Seq(1L, 2L))
    assert(tableRows(t) == rowSet((0L until 1000L) ++ (2000L until 2050L)))
    t.replace(t.read().filter(col("k") < 500L))
    assert(tableRows(t) == rowSet(0L until 500L), "unraced, it commits")
  }
}

/** A deterministic lost race: [[MidWrite.race]] runs `rival` to its
  * commit when the first row of a mutation's write passes through
  * [[MidWrite.hook]], so the mutation plans against the head `rival`
  * then replaces and publishes after it. Only that one row's task
  * waits; the others keep their slots free for `rival`'s jobs.
  */
object MidWrite extends Serializable {
  import java.util.concurrent.{CountDownLatch, TimeUnit}

  private final class Rival {
    val claimed = new java.util.concurrent.atomic.AtomicBoolean(false)
    val reached, done = new CountDownLatch(1)
  }

  @volatile private var pending: Option[Rival] = None

  /** Always true; the first row waits until the pending rival committed. */
  val hook = udf { (_: Long) =>
    pending.filter(_.claimed.compareAndSet(false, true)).foreach { r =>
      r.reached.countDown(); r.done.await(2, TimeUnit.MINUTES)
    }
    true
  }.asNondeterministic()

  /** "ok", or "conflict" when `mutation` lost loudly. */
  def race(rival: => Unit)(mutation: => Unit): String = {
    val r = new Rival
    val failure = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val t = new Thread(() => {
      try if (r.reached.await(2, TimeUnit.MINUTES)) rival
      catch { case e: Throwable => failure.set(e) }
      finally r.done.countDown()
    })
    pending = Some(r)
    t.start()
    val out =
      try { mutation; "ok" }
      catch { case _: java.util.ConcurrentModificationException => "conflict" }
      finally {
        pending = None
        if (r.reached.getCount > 0) t.interrupt()
        t.join()
      }
    assert(r.reached.getCount == 0, "the mutation's write never reached the hook")
    Option(failure.get).foreach(e => throw e)
    out
  }
}
