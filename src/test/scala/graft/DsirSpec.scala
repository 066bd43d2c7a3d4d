package graft

import graft.operators.Dsir
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** DSIR importance resampling: the hashed-gram LM ratio must rank
  * target-like docs above raw-like ones on a closed-form two-vocabulary
  * fixture, bit-identically under any partitioning, with a narrow
  * scoring plan and a deterministic Gumbel draw.
  */
class DsirSpec extends SparkSpec {

  /** Disjoint vocabularies: target speaks `t0..t4`, raw speaks `r0..r4`.
    * Mixed docs interpolate — their weight must be monotone in the
    * target-token fraction.
    */
  private lazy val target: DataFrame = {
    import spark.implicits._
    (0L until 60L).map(i =>
      (i, s"t${i % 5} t${(i + 1) % 5} t${(i + 2) % 5} t${i % 3} t4"))
      .toDF("doc_id", "text")
  }

  private lazy val raw: DataFrame = {
    import spark.implicits._
    (100L until 160L).map(i =>
      (i, s"r${i % 5} r${(i + 1) % 5} r${(i + 2) % 5} r${i % 3} r4"))
      .toDF("doc_id", "text")
  }

  // 0/5..5/5 target tokens — ids 200..205 in increasing target-ness
  private lazy val mixed: DataFrame = {
    import spark.implicits._
    (0 to 5).map { j =>
      val toks = (0 until 5).map(p => if (p < j) s"t$p" else s"r$p")
      (200L + j, toks.mkString(" "))
    }.toDF("doc_id", "text")
  }

  private def weightsOf(df: DataFrame, w: Dsir.Weights): Map[Long, Double] =
    Dsir.weigh(df, "doc_id", "text", w).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap

  test("two-vocabulary fixture: weight is monotone in target-token fraction, sign-separated at the extremes") {
    val w = Dsir.fit(target, raw, "text")
    val m = weightsOf(mixed, w)
    val ordered = (200L to 205L).map(m)
    assert(ordered == ordered.sorted,
      s"weight must rise with target fraction: $ordered")
    // strict rises — every added target token moves the ratio
    ordered.sliding(2).foreach { case Seq(a, b) => assert(a < b, s"$a !< $b") }
    assert(m(200L) < 0, s"all-raw doc must weigh negative: ${m(200L)}")
    assert(m(205L) > 0, s"all-target doc must weigh positive: ${m(205L)}")
    // and the training corpora themselves separate completely
    val wt = weightsOf(target, w).values
    val wr = weightsOf(raw, w).values
    assert(wr.max < wt.min, s"corpora must separate: ${wr.max} vs ${wt.min}")
  }

  test("threshold(0) selects exactly the target-like side of the fixture") {
    val w = Dsir.fit(target, raw, "text")
    val all = target.unionAll(raw)
    val sel = Dsir.threshold(all, "doc_id", "text", w, 0.0)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sel == (0L until 60L).toSet)
  }

  test("fitLabeled == fit bitwise: one labeled pass is the same model as two frames") {
    import spark.implicits._
    val labeled = target.withColumn("is_t", lit(true))
      .unionAll(raw.withColumn("is_t", lit(false)))
    val w1 = Dsir.fit(target, raw, "text")
    val w2 = Dsir.fitLabeled(labeled.repartition(5), "is_t", "text")
    assert(java.util.Arrays.equals(w1.logRatio, w2.logRatio))
  }

  test("bit-deterministic and partitioning-invariant: counts are exact, gram order is canonical") {
    val w1 = Dsir.fit(target, raw, "text")
    val w2 = Dsir.fit(target.repartition(7), raw.repartition(3), "text")
    assert(java.util.Arrays.equals(w1.logRatio, w2.logRatio))
    val m1 = weightsOf(mixed, w1)
    val m2 = weightsOf(mixed.repartition(5), w2)
    assert(m1 == m2)
  }

  test("gumbel top-k: deterministic under repartitioning, id-derived noise, k rows") {
    val w = Dsir.fit(target, raw, "text")
    val all = target.unionAll(raw).unionAll(mixed)
    def draw(df: DataFrame): Seq[Long] =
      Dsir.topK(df, "doc_id", "text", w, 20)
        .select("doc_id").collect().map(_.getLong(0)).toSeq
    val d1 = draw(all)
    assert(d1.length == 20)
    assert(d1 == draw(all.repartition(11)), "hash-derived Gumbel must not depend on partitioning")
    // a different seed is a different draw (it is a SAMPLE, not a rank)
    val d2 = Dsir.topK(all, "doc_id", "text", w, 20, gumbelSeed = 99L)
      .select("doc_id").collect().map(_.getLong(0)).toSeq
    assert(d1 != d2, "independent seeds should disagree somewhere on a 20-of-126 draw")
    // weight bias: target docs dominate any draw at this separation
    assert(d1.count(_ < 100L) >= 15, s"importance bias missing: $d1")
  }

  test("hard top-k (gumbel=false) is rank order with id tie-break") {
    val w = Dsir.fit(target, raw, "text")
    val all = target.unionAll(raw).unionAll(mixed)
    val got = Dsir.topK(all, "doc_id", "text", w, 61, gumbel = false)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // 60 target docs + the all-target mixed doc outrank everything else
    assert(got == (0L until 60L).toSet + 205L)
  }

  test("save/open round-trip: identical weights, identical scores") {
    val w = Dsir.fit(target, raw, "text")
    val dir = java.nio.file.Files.createTempDirectory("dsir").toString
    Dsir.save(spark, w, dir)
    assert(hasJsonMeta(s"$dir/meta"))
    val r = Dsir.open(spark, dir)
    assert(r.dims == w.dims && r.seed == w.seed && r.alpha == w.alpha)
    assert(java.util.Arrays.equals(r.logRatio, w.logRatio))
  }

  test("save is genuinely sparse on an ASYMMETRIC fit: untouched-bucket baseline lives in meta, round-trip stays bit-exact") {
    // unequal gram masses => the untouched-bucket baseline log(dr/dt) is
    // NON-zero, the case where a naive non-zero row cut would write all
    // dims rows
    val w = Dsir.fit(target, raw.limit(20), "text")
    val dir = java.nio.file.Files.createTempDirectory("dsir_sparse").toString
    Dsir.save(spark, w, dir)
    val stored = spark.read.parquet(s"$dir/weights").count()
    assert(stored < w.dims / 4,
      s"asymmetric fit stored $stored of ${w.dims} rows — baseline " +
        "sparsification is not firing")
    val r = Dsir.open(spark, dir)
    assert(java.util.Arrays.equals(r.logRatio, w.logRatio))
  }

  test("weigh is one narrow pass: zero exchanges") {
    val w = Dsir.fit(target, raw, "text")
    val p = Dsir.weigh(target, "doc_id", "text", w)
      .queryExecution.executedPlan.toString
    assert(!p.contains("Exchange"), p)
  }

  test("null and empty text weigh 0, no crash") {
    import spark.implicits._
    val w = Dsir.fit(target, raw, "text")
    val odd = Seq((1L, null.asInstanceOf[String]), (2L, ""), (3L, "   "))
      .toDF("doc_id", "text")
    val m = weightsOf(odd, w)
    assert(m == Map(1L -> 0.0, 2L -> 0.0, 3L -> 0.0))
  }
}
