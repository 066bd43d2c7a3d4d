package graft

import graft.operators.MaterializedAgg
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Incrementally maintained aggregates: ledgered exactly-once folding,
  * crash-safe versioned publication, and bit-equality with the one-shot
  * groupBy at any batch split.
  */
class MaterializedAggSpec extends SparkSpec {

  private def docs: DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")

  private def tmp(p: String) =
    java.nio.file.Files.createTempDirectory(p).toString

  private def canon(df: DataFrame): Seq[String] =
    df.orderBy("lang", "source").collect().map(_.toString).toSeq

  private def direct(df: DataFrame): DataFrame =
    df.groupBy("lang", "source").agg(
      count(lit(1)).as("n"), count(col("n_chars")).as("c_n_chars"),
      sum("n_chars").as("s_n_chars"), min("n_chars").as("mn_n_chars"),
      max("n_chars").as("mx_n_chars"))

  test("build + updates == one-shot groupBy at any batch split") {
    val dir = tmp("magg")
    val m = MaterializedAgg.build(docs.filter(col("doc_id") < 150),
      Seq("lang", "source"), Seq("n_chars"), dir)
    assert(m.update(docs.filter(col("doc_id") >= 150 && col("doc_id") < 300), 0L))
    assert(m.update(docs.filter(col("doc_id") >= 300), 1L))
    assert(canon(m.read().drop("avg_n_chars")) == canon(direct(docs)),
      "integral counts/sums/mins/maxes fold exactly at any split")
    // derived avg: sum/count from exact longs, same division both reads
    val got = m.read().select("lang", "source", "avg_n_chars")
      .orderBy("lang", "source").collect().map(_.getDouble(2)).toSeq
    val davg = docs.groupBy("lang", "source").agg(avg("n_chars").as("a"))
      .orderBy("lang", "source").collect().map(_.getDouble(2)).toSeq
    assert(got == davg, "avg derives as s/c exactly")
    assert(m.lastAppliedBatch() == 1L)
  }

  test("redelivered batch id no-ops: ledger is the guard") {
    val dir = tmp("magg_re")
    val m = MaterializedAgg.build(docs.filter(col("doc_id") < 250),
      Seq("lang", "source"), Seq("n_chars"), dir)
    assert(m.update(docs.filter(col("doc_id") >= 250), 7L))
    val before = canon(m.read())
    assert(!m.update(docs.filter(col("doc_id") >= 250), 7L),
      "same batch id must be skipped")
    assert(!m.update(docs.filter(col("doc_id") >= 250), 3L),
      "an id below the high-water mark must be skipped too")
    assert(canon(m.read()) == before, "a redelivered fold must not double-count")
    assert(m.lastAppliedBatch() == 7L)
  }

  test("torn version is invisible: meta _SUCCESS gates, ledger commits with state") {
    val dir = tmp("magg_torn")
    val m = MaterializedAgg.build(docs.filter(col("doc_id") < 250),
      Seq("lang", "source"), Seq("n_chars"), dir)
    m.update(docs.filter(col("doc_id") >= 250), 0L)
    assert(hasJsonMeta(s"$dir/v2/meta"))
    val before = canon(m.read())
    // simulate a crash mid-publish: v3 state written (wrong content), meta
    // absent — the version must not resolve
    docs.limit(3).groupBy("lang", "source").agg(count(lit(1)).as("n"))
      .write.parquet(s"$dir/v3/state")
    assert(canon(MaterializedAgg.open(spark, dir).read()) == before,
      "an uncommitted version must be invisible to readers")
    assert(MaterializedAgg.open(spark, dir).lastAppliedBatch() == 0L,
      "the ledger always matches the state it was committed with")
    // the redelivered update overwrites the partial and commits cleanly
    assert(MaterializedAgg.open(spark, dir)
      .update(docs.filter(lit(false)), 1L))
    assert(canon(MaterializedAgg.open(spark, dir).read()) == before,
      "empty batch folds as identity")
  }

  test("superseded versions prune; open is meta-wins") {
    val dir = tmp("magg_prune")
    val m = MaterializedAgg.build(docs, Seq("lang", "source"),
      Seq("n_chars"), dir)
    m.update(docs.limit(0), 0L)
    m.update(docs.limit(0), 1L)
    val f = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vs = f.listStatus(new org.apache.hadoop.fs.Path(dir))
      .map(_.getPath.getName).toSeq.sorted
    assert(vs == Seq("v3"), s"superseded versions must prune: $vs")
    val o = MaterializedAgg.open(spark, dir)
    assert(o.groupCols == Seq("lang", "source") && o.valCols == Seq("n_chars"),
      "geometry comes from meta, never from the caller")
  }

  test("re-build at a live path supersedes the old lifecycle") {
    val dir = tmp("magg_rebuild")
    val m = MaterializedAgg.build(docs, Seq("lang", "source"),
      Seq("n_chars"), dir)
    m.update(docs.limit(0), 5L)
    // a from-scratch rebuild (corpus reset) must be what readers see —
    // publishing under the old lifecycle's higher version would leave
    // the fresh build invisible and updates folding into obsolete state
    val m2 = MaterializedAgg.build(docs.filter(col("doc_id") < 100),
      Seq("lang", "source"), Seq("n_chars"), dir)
    assert(canon(MaterializedAgg.open(spark, dir).read()) == canon(m2.read()),
      "the rebuild supersedes the old committed versions")
    assert(m2.lastAppliedBatch() == -1L, "a rebuild starts a fresh ledger")
    assert(m2.update(docs.filter(col("doc_id") >= 100), 0L))
    assert(canon(m2.read().drop("avg_n_chars")) == canon(direct(docs)))
  }

  test("null group keys and null values aggregate like groupBy") {
    import spark.implicits._
    val rows = Seq[(java.lang.Long, String)]((1L, "a"), (2L, "a"),
      (null, "a"), (5L, null), (null, null)).toDF("v", "g")
    val dir = tmp("magg_null")
    val m = MaterializedAgg.build(rows.filter(col("v").isNull ||
      col("v") < 2), Seq("g"), Seq("v"), dir)
    m.update(rows.filter(col("v") >= 2), 0L)
    val got = m.read().orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val want = rows.groupBy("g")
      .agg(count(lit(1)).as("n"), count(col("v")).as("c"))
      .orderBy("g").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == want,
      "null groups are groups; null values count in n but not c_")
  }

  test("updateStream: micro-batch ids ledger; drain == one-shot groupBy") {
    val dir = tmp("magg_stream")
    val in = tmp("magg_in")
    Seq(col("doc_id") < 150,
      col("doc_id") >= 150 && col("doc_id") < 300,
      col("doc_id") >= 300).zipWithIndex.foreach { case (p, i) =>
      docs.filter(p).coalesce(1).write.parquet(s"$in/w$i")
    }
    val m = MaterializedAgg.build(docs.limit(0), Seq("lang", "source"),
      Seq("n_chars"), dir)
    m.updateStream(
      spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1)
        .parquet(s"$in/w*"), s"$dir/ck")
    assert(canon(m.read().drop("avg_n_chars")) == canon(direct(docs)),
      "streamed folding equals the one-shot aggregate")
    assert(m.lastAppliedBatch() == 2L, "three micro-batches: ids 0..2")
    // re-running over the same checkpoint discovers nothing new: no-op
    m.updateStream(
      spark.readStream.schema(docs.schema).option("maxFilesPerTrigger", 1)
        .parquet(s"$in/w*"), s"$dir/ck")
    assert(canon(m.read().drop("avg_n_chars")) == canon(direct(docs)))
  }

  test("partitioning invariance: folds are exact, so layout cannot matter") {
    val dir1 = tmp("magg_p1")
    val dir2 = tmp("magg_p2")
    val half = docs.filter(col("doc_id") < 250)
    val rest = docs.filter(col("doc_id") >= 250)
    val m1 = MaterializedAgg.build(half, Seq("lang", "source"),
      Seq("n_chars"), dir1)
    m1.update(rest, 0L)
    val m2 = MaterializedAgg.build(half.repartition(13), Seq("lang", "source"),
      Seq("n_chars"), dir2)
    m2.update(rest.repartition(3, col("source")), 0L)
    assert(canon(m1.read()) == canon(m2.read()))
  }
}
