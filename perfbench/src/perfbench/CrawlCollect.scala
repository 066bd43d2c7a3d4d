package perfbench

import graft.functions.MonoidAggregator
import graft.sources.Crawl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

final case class CrawlDoc(data: Long)

/** The paper's own query: `Crawl.collect` with a sum monoid over a tree
  * that is deep and wide, holding many one-document JSON files, a fixed
  * share of them malformed. Bound by driver-side listing and many small
  * decode splits; never touches GraftTable, ZoneMap or Dedup.
  *
  * The tree's shape and the number of malformed files are the same for
  * every seed; the seed picks names, values and which files are broken.
  */
final class CrawlCollect(spark: SparkSession, dir: Path, seed: Long,
    cores: Int, rec: Recorder) extends Workload {
  import CrawlCollect._
  import spark.implicits._

  private val root = dir.resolve("tree")
  private var expectedSum = 0L
  private var firstCorrupt = ""
  private val schema = StructType(Seq(StructField("data", LongType)))
  private val agg = MonoidAggregator.sumLong[CrawlDoc](_.data)
  /** Files each traced listing returned. */
  private val listed = collection.mutable.ArrayBuffer.empty[Double]

  def properties: collection.Map[String, Any] = Json.obj(
    "files" -> FileCount, "corrupt_files" -> CorruptCount,
    "corrupt_share" -> CorruptCount.toDouble / FileCount,
    "directories" -> dirCount, "depth" -> (Branching.size + 1),
    "branching" -> Branching, "listing_parallelism" -> cores)

  private def dirCount: Int = Branching.scanLeft(1)(_ * _).sum

  def setup(): Unit = {
    val rnd = Workload.rng(seed, 1)
    // breadth-first directory tree; names vary by seed, shape does not
    var level = Seq(root)
    val dirs = Seq.newBuilder[Path] += root
    Branching.foreach { b =>
      level = level.flatMap(p => (0 until b).map(j => p.resolve(f"d${rnd.nextInt(1000)}%03d_$j")))
      dirs ++= level
    }
    val all = dirs.result()
    all.foreach(Files.createDirectories(_))
    val corrupt = rnd.shuffle((0 until FileCount).toVector).take(CorruptCount).toSet
    var sum = 0L
    val broken = Seq.newBuilder[String]
    (0 until FileCount).foreach { i =>
      val f = all(i % all.size).resolve(f"f$i%05d_${rnd.nextInt(100000)}%05d.json")
      val v = rnd.nextInt(1000000).toLong
      val note = rnd.alphanumeric.take(NoteChars).mkString
      val body =
        if (corrupt(i)) s"""{\n  "id": $i,\n  "note": "$note",\n  "data": """
        else {
          sum += v
          s"""{\n  "id": $i,\n  "note": "$note",\n  "data": $v\n}\n"""
        }
      if (corrupt(i)) broken += root.getParent.relativize(f).toString
      Files.write(f, body.getBytes(UTF_8))
    }
    expectedSum = sum
    firstCorrupt = broken.result().min
  }

  private def collect(): Unit =
    rec.timed("Crawl.collect") {
      Crawl.collect[CrawlDoc, Long](spark, root.toString, schema, agg,
        listingParallelism = cores)
    }.foreach { case (r, ms) =>
      rec.sample("op_ms", ms)
      rec.throughput(FileCount, ms)
      rec.check(
        if (r.result != expectedSum) Some(s"collect sum ${r.result} != $expectedSum")
        else if (r.corruptFiles != CorruptCount)
          Some(s"collect corruptFiles ${r.corruptFiles} != $CorruptCount")
        else if (!r.firstError.exists(e =>
            e.startsWith("failed to decode: ") && e.endsWith("/" + firstCorrupt)))
          Some(s"collect firstError ${r.firstError} does not name $firstCorrupt")
        else None)
    }

  def iterate(i: Int, tracer: Option[Tracer]): Unit = tracer match {
    case None => collect()
    case Some(t) =>
      val sc = spark.sparkContext
      t.span(sc, "collect", i)(collect())
      t.span(sc, "list", i) {
        rec.timed("Crawl.listWithErrors")(Crawl.listWithErrors(spark, root.toString, cores))
      }.foreach { case (l, _) =>
        listed += l.files.size
        rec.check(
          if (l.files.size != FileCount || l.errors.nonEmpty)
            Some(s"listing found ${l.files.size} files, ${l.errors.size} errors")
          else None)
      }
      t.span(sc, "fold", i) {
        rec.timed("MonoidAggregator fold") {
          Crawl.crawl[CrawlDoc](spark, root.toString, schema).select(agg.column).head()
        }
      }.foreach { case (s, _) =>
        rec.check(if (s != expectedSum) Some(s"fold sum $s != $expectedSum") else None)
      }
  }

  def named(probe: StreamProbe, fromMs: Long, toMs: Long)
      : Seq[(String, Double, String, Int)] = {
    val op = rec.get("op_ms")
    Seq(
      ("crawl_files_per_s", rec.itemsPerS, "1/s", rec.rates.size),
      ("crawl_p50_s", Stats.median(op) / 1000.0, "s", op.size)) ++
      Stats.p90(op).map(p => ("crawl_p90_s", p / 1000.0, "s", op.size))
  }

  def layerExtras(tracer: Tracer): Map[String, Double] = {
    val byOp = (n: String) => tracer.named(n).map(s => s.opId -> s.wallMs).toMap
    val (c, l, f) = (byOp("collect"), byOp("list"), byOp("fold"))
    val self = c.keys.toSeq.filter(k => l.contains(k) && f.contains(k))
      .map(k => c(k) - l(k) - f(k))
    Map("list_files" -> Stats.mean(listed.toSeq), "collect_self_ms" -> Stats.median(self))
  }

  def close(): Unit = ()
}

object CrawlCollect {
  /** Fan-out per level below the root: 1 + 3 + 6 + 12 + 24 dirs. */
  val Branching: Seq[Int] = Seq(3, 2, 2, 2)
  val FileCount = 120
  val CorruptCount = 3
  val NoteChars = 160
}
