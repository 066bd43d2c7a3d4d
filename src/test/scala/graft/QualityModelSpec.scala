package graft

import graft.operators.QualityModel
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Trained quality filter: logistic GD on hashed bag-of-words must
  * learn a planted separable rule exactly, deterministically, under any
  * partitioning — and score as a narrow pass.
  */
class QualityModelSpec extends SparkSpec {

  /** 400 docs of shared filler; label-1 docs carry the marker token.
    * Filler varies per doc so the learner can't shortcut on anything
    * but the marker.
    */
  private lazy val docs: DataFrame = {
    import spark.implicits._
    (0L until 400L).map { i =>
      val filler = s"tok${i % 7} tok${i % 5} common tok${i % 11} tok${i % 3}"
      val text = if (i % 3 == 0) s"$filler goodsignal $filler" else s"$filler $filler"
      (i, text, if (i % 3 == 0) 1 else 0)
    }.toDF("doc_id", "text", "label")
  }

  private def preds(df: DataFrame): Map[Long, Int] =
    df.select("doc_id", "pred").collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap

  test("learns a planted separable rule to 100% training accuracy") {
    val m = QualityModel.train(docs, "doc_id", "text", "label")
    val got = preds(QualityModel.score(docs, "doc_id", "text", m))
    val want = (0L until 400L).map(i => i -> (if (i % 3 == 0) 1 else 0)).toMap
    assert(got == want)
  }

  test("bit-deterministic and partitioning-invariant: id-sorted sample fixes the float order") {
    val m1 = QualityModel.train(docs, "doc_id", "text", "label")
    val m2 = QualityModel.train(docs.repartition(7), "doc_id", "text", "label")
    assert(m1.bias == m2.bias)
    assert(java.util.Arrays.equals(m1.weights, m2.weights),
      "weights differ across partitionings")
  }

  test("sample-bounded training still generalizes the planted rule to held-out docs") {
    // ~35% id-hash sample; the rule is carried by one token, so the
    // held-out 65% must score correctly too — training cost is
    // sample-bounded at any corpus size, which is the 100 TB contract
    val m = QualityModel.train(docs, "doc_id", "text", "label",
      sampleSize = 140)
    val got = preds(QualityModel.score(docs, "doc_id", "text", m))
    assert(got == (0L until 400L).map(i => i -> (if (i % 3 == 0) 1 else 0)).toMap)
  }

  test("save/open round-trip scores identically; meta wins over nothing (no args to guess)") {
    val m = QualityModel.train(docs, "doc_id", "text", "label")
    val dir = java.nio.file.Files.createTempDirectory("graft_qm").toString
    QualityModel.save(spark, m, dir)
    assert(hasJsonMeta(s"$dir/meta"))
    val re = QualityModel.open(spark, dir)
    assert(re.dims == m.dims && re.bias == m.bias && re.seed == m.seed)
    assert(java.util.Arrays.equals(re.weights, m.weights))
  }

  test("null and empty text score as bias-only rows, no crash") {
    import spark.implicits._
    val m = QualityModel.train(docs, "doc_id", "text", "label")
    val odd = Seq((1000L, null.asInstanceOf[String]), (1001L, ""),
      (1002L, "   ")).toDF("doc_id", "text")
    val rows = QualityModel.score(odd, "doc_id", "text", m).collect()
    assert(rows.length == 3)
    val pBias = m.prob("") // bias-only: no tokens contribute
    rows.foreach(r => assert(r.getDouble(1) == pBias))
  }

  test("drift cycle: baseline quiet on same-distribution docs, trips on a shifted corpus, refit re-quiets") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_qm_drift").toString
    val m = QualityModel.train(docs, "doc_id", "text", "label")
    QualityModel.save(spark, m, dir)
    QualityModel.writeBaseline(docs, "doc_id", "text", m, dir)
    // fresh ids, same construction: distribution unchanged → PSI quiet
    val fresh = (1000L until 1400L).map { i =>
      val filler = s"tok${i % 7} tok${i % 5} common tok${i % 11} tok${i % 3}"
      val text = if (i % 3 == 0) s"$filler goodsignal $filler" else s"$filler $filler"
      (i, text, if (i % 3 == 0) 1 else 0)
    }.toDF("doc_id", "text", "label")
    assert(!QualityModel.needsRefit(fresh, "doc_id", "text", m, dir),
      s"quiet corpus tripped: psi=${QualityModel.scorePsi(fresh, "doc_id", "text", m, dir)}")
    // shifted corpus: the marker now appears in EVERY doc → the score
    // mass moves wholesale to the top bin → PSI must trip
    val shifted = (2000L until 2400L).map { i =>
      val filler = s"tok${i % 7} tok${i % 5} common tok${i % 11} tok${i % 3}"
      (i, s"$filler goodsignal $filler", 1)
    }.toDF("doc_id", "text", "label")
    assert(QualityModel.needsRefit(shifted, "doc_id", "text", m, dir),
      s"shifted corpus did not trip: psi=${QualityModel.scorePsi(shifted, "doc_id", "text", m, dir)}")
    // refit on a re-labeled current corpus closes the loop: new weights
    // fit the new rule (marker 'altsignal'), refreshed baseline quiet
    val relabeled = (3000L until 3400L).map { i =>
      val filler = s"tok${i % 7} tok${i % 5} common tok${i % 11} tok${i % 3}"
      val text = if (i % 2 == 0) s"$filler altsignal $filler" else s"$filler $filler"
      (i, text, if (i % 2 == 0) 1 else 0)
    }.toDF("doc_id", "text", "label")
    val dir2 = java.nio.file.Files.createTempDirectory("graft_qm_drift2").toString
    val m2 = QualityModel.refit(relabeled, "doc_id", "text", "label", m, dir2)
    assert(m2.dims == m.dims && m2.seed == m.seed, "refit must keep the hash geometry")
    val got = preds(QualityModel.score(relabeled, "doc_id", "text", m2))
    assert(got == (3000L until 3400L).map(i => i -> (if (i % 2 == 0) 1 else 0)).toMap)
    assert(!QualityModel.needsRefit(relabeled, "doc_id", "text", m2, dir2),
      "refreshed baseline must be quiet on its own corpus")
  }

  test("streaming scoring: a two-wave doc stream scores identically to batch") {
    // score is a narrow typed map, so it composes with readStream
    // unchanged — the continuous-ingest form every index family has
    import spark.implicits._
    val m = QualityModel.train(docs, "doc_id", "text", "label")
    val in = java.nio.file.Files.createTempDirectory("graft_qm_in").toString
    val out = java.nio.file.Files.createTempDirectory("graft_qm_out").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_qm_ck").toString
    docs.filter($"doc_id" < 200).select("doc_id", "text")
      .write.mode("append").parquet(in)
    docs.filter($"doc_id" >= 200).select("doc_id", "text")
      .write.mode("append").parquet(in)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(in)
    val q = QualityModel.score(stream, "doc_id", "text", m)
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", ckpt)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination(); q.stop()
    val streamed = preds(spark.read.parquet(out))
    val batch = preds(QualityModel.score(docs, "doc_id", "text", m))
    assert(streamed == batch)
  }

  test("score is one narrow pass: zero exchanges") {
    val m = QualityModel.train(docs, "doc_id", "text", "label")
    val p = QualityModel.score(docs, "doc_id", "text", m)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
  }
}
