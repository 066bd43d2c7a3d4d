package perfbench

import graft.operators.Dedup
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import java.nio.file.Path
import scala.collection.mutable

/** Repeated `Dedup.dedupeCorpus` over a generated corpus with planted
  * near-duplicate clusters whose sizes are skewed, so `components` sees
  * one large component. Bound by the shuffle and the kernels: MinHash
  * signatures, the banded self-join, exact verification and the caches
  * the operator keeps. Bypasses GraftTable and listing.
  *
  * Each call starts from released operator caches, as a batch job over a
  * fresh corpus would. A planted copy differs from its cluster's base
  * document in one word, so its shingle Jaccard with the base is at least
  * 0.94 and banding misses it with probability below 1e-10; unrelated
  * documents draw words independently and never come near the 0.8
  * threshold, and planted decoy pairs sit at 0.61. The survivors are
  * therefore exactly the minimum id of each cluster plus every singleton.
  */
final class CorpusDedup(spark: SparkSession, dir: Path, seed: Long,
    cores: Int, rec: Recorder) extends Workload {
  import CorpusDedup._
  import spark.implicits._

  private val path = dir.resolve("docs").toString
  private var docs: DataFrame = _
  private var survivors: Array[Long] = _
  /** Cluster member id -> the minimum id of its cluster. */
  private val clusterOf = mutable.LongMap.empty[Long]
  private val candidates = mutable.ArrayBuffer.empty[Double]
  private val pairs = mutable.ArrayBuffer.empty[Double]

  def properties: collection.Map[String, Any] = Json.obj(
    "documents" -> Docs, "words_per_document" -> Words, "vocabulary" -> Vocab,
    "clusters" -> ClusterSizes.size, "cluster_sizes" -> ClusterSizes,
    "largest_cluster" -> ClusterSizes.max, "decoy_pairs" -> DecoyPairs,
    "decoy_jaccard" -> (Words - 2 - 3.0 * DecoySubs) / (Words - 2 + 3.0 * DecoySubs),
    "duplicate_share" -> (ClusterSizes.sum - ClusterSizes.size).toDouble / Docs,
    "shingle" -> 3, "num_hashes" -> 64, "bands" -> 16, "threshold" -> 0.8)

  def setup(): Unit = {
    val rnd = Workload.rng(seed, 3)
    val vocab = Array.fill(Vocab)(
      rnd.alphanumeric.filter(_.isLetter).take(3 + rnd.nextInt(7)).mkString.toLowerCase)
    def fresh(): Array[String] = Array.fill(Words)(vocab(rnd.nextInt(Vocab)))
    val ids = rnd.shuffle((0L until Docs).toVector)
    val texts = mutable.ArrayBuffer.empty[String]
    val keep = mutable.ArrayBuffer.empty[Long]
    ClusterSizes.foreach { m =>
      val base = fresh()
      val members = ids.slice(texts.size, texts.size + m)
      texts += base.mkString(" ")
      (1 until m).foreach { _ =>
        val copy = base.clone()
        val at = rnd.nextInt(Words)
        var w = copy(at)
        while (w == copy(at)) w = vocab(rnd.nextInt(Vocab))
        copy(at) = w
        texts += copy.mkString(" ")
      }
      members.foreach(id => clusterOf(id) = members.min)
      keep += members.min
    }
    // decoy pairs: a variant with DecoySubs substitutions spaced so each
    // replaces exactly three shingles, Jaccard (98 - 3s) / (98 + 3s) ~ 0.61:
    // usually a band candidate, never a verified pair
    (0 until DecoyPairs).foreach { _ =>
      val base = fresh()
      val copy = base.clone()
      val step = (Words - 4) / DecoySubs
      (0 until DecoySubs).foreach { s =>
        val at = 2 + s * step + rnd.nextInt(step - 3)
        var w = copy(at)
        while (w == copy(at)) w = vocab(rnd.nextInt(Vocab))
        copy(at) = w
      }
      Seq(base, copy).foreach { t => keep += ids(texts.size); texts += t.mkString(" ") }
    }
    while (texts.size < Docs) { keep += ids(texts.size); texts += fresh().mkString(" ") }
    survivors = keep.toArray.sorted
    ids.zip(texts).toDF("id", "text").repartition(cores).write.parquet(path)
    docs = spark.read.parquet(path)
  }

  private def dedupe(): Unit = {
    rec.timed("Dedup.dedupeCorpus") {
      Dedup.dedupeCorpus(docs, "id", "text").collect().map(_.getLong(0)).sorted
    }.foreach { case (got, ms) =>
      rec.sample("op_ms", ms)
      rec.throughput(Docs, ms)
      rec.check(
        if (!java.util.Arrays.equals(got, survivors))
          Some(s"dedupeCorpus kept ${got.length} documents, expected ${survivors.length}")
        else None)
    }
    Dedup.releaseCaches()
  }

  def iterate(i: Int, tracer: Option[Tracer]): Unit = tracer match {
    case None => dedupe()
    case Some(t) =>
      val sc = spark.sparkContext
      t.span(sc, "dedupe", i)(dedupe())
      t.span(sc, "sig", i) {
        rec.timed("Dedup.minHashSignatures") {
          Dedup.minHashSignatures(docs, "id", "text", 3, 64)
            .agg(sum(size(col("sig")))).head().getLong(0)
        }
      }.foreach { case (n, _) =>
        rec.check(if (n != Docs * 64L) Some(s"signature cells $n != ${Docs * 64L}") else None)
      }
      Dedup.releaseCaches()
      val c = t.span(sc, "candidates", i) {
        rec.timed("Dedup.minHashCandidates") {
          Dedup.minHashCandidates(docs, "id", "text", 3, 64, 16).count()
        }
      }
      val p = t.span(sc, "pairs", i) {
        rec.timed("Dedup.minHashPairs") {
          Dedup.minHashPairs(docs, "id", "text", 3, 64, 16, 0.8).select("i", "j")
            .collect().map(r => (r.getLong(0), r.getLong(1)))
        }
      }
      Dedup.releaseCaches()
      for ((nc, _) <- c; (ps, _) <- p) {
        candidates += nc
        pairs += ps.length
        rec.check(
          if (ps.length > nc) Some(s"${ps.length} verified pairs from $nc candidates")
          else ps.find { case (a, b) => !clusterOf.get(a).exists(clusterOf.get(b).contains) }
            .map(x => s"pair $x joins documents of different clusters"))
        val edges = ps.toSeq.toDF("i", "j")
        t.span(sc, "components", i) {
          rec.timed("Dedup.components") {
            Dedup.components(edges).collect().map(r => r.getLong(0) -> r.getLong(1))
          }
        }.foreach { case (labels, _) =>
          rec.check(
            if (labels.length != clusterOf.size) Some(
              s"components labelled ${labels.length} documents, expected ${clusterOf.size}")
            else labels.find { case (d, comp) => !clusterOf.get(d).contains(comp) }
              .map(x => s"component label $x is not its cluster's minimum id"))
        }
        Dedup.releaseCaches()
      }
  }

  def named(probe: StreamProbe, fromMs: Long, toMs: Long)
      : Seq[(String, Double, String, Int)] = {
    val op = rec.get("op_ms")
    Seq(
      ("dedup_docs_per_s", rec.itemsPerS, "1/s", rec.rates.size),
      ("dedup_p50_s", Stats.median(op) / 1000.0, "s", op.size)) ++
      Stats.p90(op).map(p => ("dedup_p90_s", p / 1000.0, "s", op.size))
  }

  def layerExtras(tracer: Tracer): Map[String, Double] = {
    val (c, p) = (Stats.mean(candidates.toSeq), Stats.mean(pairs.toSeq))
    Map("candidates" -> c, "pairs" -> p, "candidate_precision" -> p / c)
  }

  def close(): Unit = Dedup.releaseCaches()
}

object CorpusDedup {
  val Docs = 6000
  val Words = 100
  val Vocab = 20000
  /** One large cluster, a few mid-sized ones and a long tail of pairs. */
  val ClusterSizes: Seq[Int] = Seq(150, 40, 20) ++ Seq.fill(2)(10) ++
    Seq.fill(12)(5) ++ Seq.fill(20)(4) ++ Seq.fill(40)(3) ++ Seq.fill(120)(2)
  /** Near-miss pairs below the threshold, which make candidates outnumber pairs. */
  val DecoyPairs = 200
  val DecoySubs = 8
}
