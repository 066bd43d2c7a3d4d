package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.Path
import scala.collection.mutable

/** Outcomes of one run: operation samples, item throughput and the
  * correctness ledger every workload reports into.
  */
final class Recorder {
  var measuring = false
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  /** Named latency samples (ms); outside the measured loop they are kept
    * apart under "unmeasured:<name>", so the artifact shows how long the
    * JIT took to settle.
    */
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  /** Items per second of each measured call that processed items. */
  val rates = mutable.ArrayBuffer.empty[Double]

  def sample(name: String, ms: Double): Unit =
    samples.getOrElseUpdate(if (measuring) name else s"unmeasured:$name",
      mutable.ArrayBuffer.empty) += ms

  def get(name: String): Seq[Double] = samples.get(name).map(_.toSeq).getOrElse(Nil)

  def throughput(n: Double, ms: Double): Unit =
    if (measuring) rates += n / (ms / 1000.0)

  /** The median call's throughput: steadier than items over summed time,
    * which one slow call can move.
    */
  def itemsPerS: Double = Stats.median(rates.toSeq)

  /** One checked outcome; `problem` is None when the output is right. */
  def check(problem: Option[String]): Unit = {
    attempted += 1
    problem.foreach { p =>
      failed += 1
      if (failures.size < 20) failures += p
    }
  }

  /** Time `body` (ms); a throw counts as a failed operation. */
  def timed[A](what: String)(body: => A): Option[(A, Double)] = {
    val t0 = System.nanoTime()
    try {
      val a = body
      Some((a, (System.nanoTime() - t0) / 1e6))
    } catch {
      case e: Exception =>
        check(Some(s"$what threw ${e.getClass.getSimpleName}: ${e.getMessage}"))
        None
    }
  }
}

/** One benchmark workload. The engine sees only what [[setup]] generates
  * from the seed; every output is checked against the generator's own
  * expectation.
  */
trait Workload {
  /** Generate the inputs under the work directory and create any table. */
  def setup(): Unit

  /** One closed-loop iteration. With a tracer, also calls each layer on
    * its own inside a span of that layer's name.
    */
  def iterate(i: Int, tracer: Option[Tracer]): Unit

  /** The workload's named end-to-end figures, (name, value, unit,
    * samples), from the measured loop that ran between the two instants.
    */
  def named(probe: StreamProbe, fromMs: Long, toMs: Long): Seq[(String, Double, String, Int)]

  /** Layer metrics only this workload can give (others default to 0). */
  def layerExtras(tracer: Tracer): Map[String, Double]

  /** Input properties, as stated in the run artifact. */
  def properties: collection.Map[String, Any]

  /** Release what the workload holds in the session. */
  def close(): Unit
}

object Workload {
  val names: Seq[String] = Seq("crawl_collect", "table_cdc", "corpus_dedup")

  def apply(name: String, spark: SparkSession, dir: Path, seed: Long,
      cores: Int, rec: Recorder): Workload = name match {
    case "crawl_collect" => new CrawlCollect(spark, dir, seed, cores, rec)
    case "table_cdc"     => new TableCdc(spark, dir, seed, rec)
    case "corpus_dedup"  => new CorpusDedup(spark, dir, seed, cores, rec)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (${names.mkString(", ")})")
  }

  /** SplitMix64 finaliser: a well-mixed long from any long. */
  def mix(x0: Long): Long = {
    var x = x0 + 0x9E3779B97F4A7C15L
    x = (x ^ (x >>> 30)) * 0xBF58476D1CE4E5B9L
    x = (x ^ (x >>> 27)) * 0x94D049BB133111EBL
    x ^ (x >>> 31)
  }

  def rng(seed: Long, stream: Long): scala.util.Random =
    new scala.util.Random(mix(seed * 1000003L + stream))
}
