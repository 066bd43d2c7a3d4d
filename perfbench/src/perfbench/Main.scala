package perfbench

import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** One benchmark run of one workload, closed loop, one client.
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --artifact <file>
  *
  * Set-up (generate inputs, start a `graft.Session.local(nproc)` session,
  * create the table) runs once cold, in the fresh JVM, and then warm, at
  * least [[MinWarmSetups]] times and more while the warm set-ups have taken
  * less than [[WarmSetupSeconds]]; `setup_s` is the median of the warm
  * ones, so class loading and JIT warm-up of the first one, which a
  * long-lived process pays once, do not swing it. The last set-up is the
  * one measured. One unmeasured iteration runs in the cold session (the
  * first call in a fresh JVM takes several times a warm one), and more on
  * the measured set-up for [[WarmupSeconds]] and at least [[WarmupOps]]
  * timed calls, so the JIT has mostly settled before the loop runs for
  * `--seconds` and at least [[MinIters]] iterations. Every output is
  * checked against the generator's expectation.
  *
  * With `--trace 1` the first two set-ups each run the same
  * [[PrefixIters]] traced iterations, and the counts that later job-budget
  * work cites must come out identical in both. The measured loop then
  * alternates traced and untraced iterations, so the tracing overhead is
  * the traced minus the untraced median of the same operation in the same
  * run.
  *
  * Human-readable lines go to stdout; the last line is the JSON result.
  */
object Main {
  val MinWarmSetups = 3
  val WarmSetupSeconds = 3.0
  val MaxWarmSetups = 15
  val WarmupSeconds = 5.0
  val WarmupOps = 2
  val MinIters = 2
  val PrefixIters = 1
  /** Counts that must repeat exactly across two traced runs of a seed. */
  val ExactCounts: Seq[String] = Seq("merge_jobs", "scan_jobs", "files_opened_ratio",
    "candidates", "pairs", "components_jobs")
  /** Spans whose counts are reported, by layer. */
  val SpanNames: Seq[String] = Seq("list", "fold", "collect", "drain", "batch", "scan",
    "sig", "candidates", "pairs", "components")

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: Path, artifact: Path)

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Paths.get(need("work")), Paths.get(need("artifact")))
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  /** Live heap at the end of a workload: the least heap in use over a few
    * full GCs, spaced so Spark's cleaner thread can drop the broadcasts and
    * blocks of released caches the first GC only queued for cleanup.
    */
  private def retainedHeapMb(): Double =
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

  /** A live session with its listeners and the workload set up on it. */
  final class Rig(val spark: SparkSession, val wl: Workload, val probe: StreamProbe,
      val tracer: Tracer, val dir: Path)

  /** Exits explicitly: Spark leaves non-daemon threads behind, and a run
    * that failed before stopping its session must not hang.
    */
  def main(argv: Array[String]): Unit = {
    val code =
      try { run(parse(argv)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    System.exit(code)
  }

  def run(a: Args): Unit = {
    require(Workload.names.contains(a.workload),
      s"unknown workload ${a.workload} (${Workload.names.mkString(", ")})")
    val runStart = System.nanoTime()
    val cores = RunContext.nproc
    val rec = new Recorder
    val window = RunContext.Window.open()
    Files.createDirectories(a.work)

    var rig: Rig = null
    def teardown(): Unit = if (rig != null) {
      rig.wl.close()
      rig.spark.stop()
      deleteTree(rig.dir)
      rig = null
    }
    def setUp(rep: Int): Double = {
      teardown()
      val dir = a.work.resolve(s"setup$rep")
      val t0 = System.nanoTime()
      val spark = graft.Session.local(cores, "perfbench")
      val probe = new StreamProbe
      val tracer = new Tracer
      spark.streams.addListener(probe)
      if (a.trace) spark.sparkContext.addSparkListener(tracer)
      val wl = Workload(a.workload, spark, dir, a.seed, cores, rec)
      wl.setup()
      rig = new Rig(spark, wl, probe, tracer, dir)
      (System.nanoTime() - t0) / 1e9
    }

    val prefix = Seq.newBuilder[Map[String, Double]]
    def tracedPrefix(): Unit = if (a.trace) {
      (0 until PrefixIters).foreach(i => rig.wl.iterate(i, Some(rig.tracer)))
      PerfbenchBus.drain(rig.spark.sparkContext)
      prefix += layerMetrics(rig)
    }
    val coldSetup = setUp(0)
    // a call in the cold session loads the workload's classes and fills
    // Spark's JVM-wide generated-code cache, so the warm-up below starts
    // from loaded code paths instead of spending its time on them
    if (a.trace) tracedPrefix() else rig.wl.iterate(0, None)
    val warmSetups = collection.mutable.ArrayBuffer.empty[Double]
    while (warmSetups.size < MinWarmSetups ||
        (warmSetups.sum < WarmSetupSeconds && warmSetups.size < MaxWarmSetups)) {
      warmSetups += setUp(warmSetups.size + 1)
      if (warmSetups.size == 1) tracedPrefix()
    }
    val setups = warmSetups.toSeq
    val setupsEnd = System.nanoTime()

    // the repeat check: the exact counts of two fresh set-ups must agree
    val prefixes = prefix.result()
    val repeatMismatch = prefixes match {
      case Seq(p1, p2) =>
        ExactCounts.filter(k => p1.get(k) != p2.get(k))
          .map(k => s"$k: ${p1.get(k).orNull} vs ${p2.get(k).orNull}")
      case _ => Nil
    }
    if (a.trace) rec.check(
      if (repeatMismatch.isEmpty) None
      else Some(s"exact-repeat counts differ: ${repeatMismatch.mkString("; ")}"))

    // the measured loop, on the last set-up; tracer spans restart here
    val r = rig
    val tracer = new Tracer
    if (a.trace) {
      r.spark.sparkContext.removeSparkListener(r.tracer)
      r.spark.sparkContext.addSparkListener(tracer)
    }
    var warm = 0
    val w0 = System.nanoTime()
    def warmOps = rec.get("unmeasured:op_ms").size
    val ops0 = warmOps
    while ((System.nanoTime() - w0) / 1e9 < WarmupSeconds || warmOps - ops0 < WarmupOps) {
      r.wl.iterate(warm, None)
      warm += 1
    }
    val warmupS = (System.nanoTime() - w0) / 1e9
    val loopWindow = RunContext.Window.open()
    val gc0 = gcMs()
    val fromMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val tracedOp = collection.mutable.ArrayBuffer.empty[Double]
    val plainOp = collection.mutable.ArrayBuffer.empty[Double]
    rec.measuring = true
    var n = 0
    while ((elapsed < a.seconds || n < MinIters) && elapsed < 3.0 * a.seconds) {
      val traced = a.trace && n % 2 == 0
      val before = rec.get("op_ms").size
      r.wl.iterate(warm + n, if (traced) Some(tracer) else None)
      val ops = rec.get("op_ms").drop(before)
      (if (traced) tracedOp else plainOp) ++= ops
      n += 1
    }
    rec.measuring = false
    val loopS = elapsed
    val loopEnd = System.nanoTime()
    val toMs = System.currentTimeMillis()
    val gc = gcMs() - gc0
    val loopContext = loopWindow.close()
    PerfbenchBus.drain(r.spark.sparkContext)

    val named = r.wl.named(r.probe, fromMs, toMs)
    val layers: Map[String, Double] =
      if (!a.trace) Map.empty
      else {
        val main = new Rig(r.spark, r.wl, r.probe, tracer, r.dir)
        layerMetrics(main) ++ prefixes.head.filter { case (k, _) => ExactCounts.contains(k) } ++
          Map("gc_ms" -> gc.toDouble,
            "trace_op_p50_ms" -> Stats.median(tracedOp.toSeq),
            "plain_op_p50_ms" -> Stats.median(plainOp.toSeq),
            "trace_overhead_ms" -> (Stats.median(tracedOp.toSeq) - Stats.median(plainOp.toSeq)))
      }
    val spans = if (a.trace) tracer.dump() else Json.obj()
    val properties = r.wl.properties
    val heapMb = retainedHeapMb()
    teardown()
    deleteTree(a.work)
    // where the run's wall time went, to keep a run within its time budget
    val phases = Json.obj("cold_setup_s" -> coldSetup,
      "setups_s" -> (setupsEnd - runStart) / 1e9, "warmup_s" -> warmupS,
      "loop_s" -> loopS, "report_s" -> (System.nanoTime() - loopEnd) / 1e9)

    val op = rec.get("op_ms")
    val e2e: Seq[(String, Double, String)] = Seq(
      ("setup_s", Stats.median(setups), "s"),
      ("op_p50_ms", Stats.median(op), "ms"),
      ("items_per_s", rec.itemsPerS, "1/s"),
      ("retained_heap_mb", heapMb, "MB"))
    val failedFrac = rec.failed.toDouble / math.max(rec.attempted, 1L)
    val context = Json.obj("nproc" -> cores, "cores_used" -> cores,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576,
      "run" -> window.close(), "measured_loop" -> loopContext)

    val out = System.out
    out.println(s"workload ${a.workload} seed ${a.seed} trace ${if (a.trace) 1 else 0} " +
      s"iterations $n in ${"%.1f".format(loopS)} s")
    out.println(s"context ${Json.write(context)}")
    out.println(s"phases ${Json.write(phases)}")
    out.println(s"setup_s warm samples ${Json.write(setups)}, cold ${"%.3f".format(coldSetup)}")
    e2e.foreach { case (k, v, u) => out.println(f"metric $k%-22s $v%.6g $u (n=${
      k match {
        case "setup_s" => setups.size
        case "retained_heap_mb" => 1
        case "items_per_s" => rec.rates.size
        case _ => op.size
      }})") }
    named.foreach { case (k, v, u, cnt) => out.println(f"metric $k%-22s $v%.6g $u (n=$cnt)") }
    out.println(f"metric ${"ops_failed_frac"}%-22s $failedFrac%.6g ratio " +
      s"(${rec.failed} of ${rec.attempted})")
    layers.toSeq.sortBy(_._1).foreach { case (k, v) => out.println(f"layer $k%-32s $v%.6g") }
    if (a.trace) out.println(s"tracing overhead ${"%.3f".format(
      layers("trace_overhead_ms"))} ms per operation (traced minus untraced median)")
    rec.failures.foreach(f => out.println(s"FAILED $f"))

    val artifact = Json.obj(
      "workload" -> a.workload, "seed" -> a.seed, "seconds" -> a.seconds,
      "trace" -> a.trace, "iterations" -> n, "loop_s" -> loopS,
      "context" -> context, "properties" -> properties, "phases" -> phases,
      "setup_s" -> setups, "cold_setup_s" -> coldSetup,
      "end_to_end" -> e2e.map { case (k, v, u) => k -> Json.obj("value" -> v, "unit" -> u) }.toMap,
      "named" -> named.map { case (k, v, u, c) =>
        k -> Json.obj("value" -> v, "unit" -> u, "samples" -> c) }.toMap,
      "ops_failed_frac" -> failedFrac, "attempted" -> rec.attempted, "failed" -> rec.failed,
      "failures" -> rec.failures, "retained_heap_mb" -> heapMb, "gc_ms" -> gc,
      "samples" -> rec.samples, "layers" -> layers,
      "micro_batches" -> r.probe.between(fromMs, toMs).map(b => Json.obj(
        "batch" -> b.batchId, "start_ms" -> b.startMs, "trigger_ms" -> b.triggerMs,
        "add_batch_ms" -> b.addBatchMs, "query_planning_ms" -> b.planningMs,
        "wal_commit_ms" -> b.walCommitMs, "input_rows" -> b.inputRows)),
      "exact_repeat" -> Json.obj(
        "checked" -> a.trace, "mismatches" -> repeatMismatch, "prefixes" -> prefixes),
      "trace" -> spans)
    Files.createDirectories(a.artifact.getParent)
    Files.write(a.artifact, Json.write(artifact).getBytes(UTF_8))

    val metrics =
      if (a.trace) layers.map { case (k, v) => k -> Json.obj("value" -> v, "unit" -> unitOf(k)) }
      else e2e.map { case (k, v, u) => k -> Json.obj("value" -> v, "unit" -> u) }.toMap
    out.println(Json.write(Json.obj("correct" -> (rec.failed == 0), "attempted" -> rec.attempted,
      "failed" -> rec.failed, "metrics" -> metrics)))
    out.flush()
  }

  def unitOf(k: String): String =
    if (k.endsWith("_ms")) "ms"
    else if (k.endsWith("_bytes")) "bytes"
    else if (k.endsWith("_ratio") || k.endsWith("_precision")) "ratio"
    else "count"

  /** Every per-layer metric from one rig's tracer; a layer the workload
    * never calls reads 0 (its bypass prediction).
    */
  def layerMetrics(r: Rig): Map[String, Double] = {
    val t = r.tracer
    val drains = t.named("drain")
    val batches = drains.flatMap { d =>
      r.probe.between(d.startMs, d.endMs).map(b => (b, t.counts(b.startMs,
        b.startMs + b.triggerMs, t.jobsOfBatch(d, b.batchId))))
    }
    def spanCounts(name: String): Seq[SpanCounts] =
      if (name == "batch") batches.map(_._2) else t.named(name).map(t.counts)
    def zero(x: Double) = if (x.isNaN) 0.0 else x
    val perSpan = SpanNames.flatMap { s =>
      val cs = spanCounts(s)
      val fields = if (cs.isEmpty) SpanCounts(0, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0).fields
        else cs.head.fields.indices.map { i =>
          val (name, _, unit) = cs.head.fields(i)
          val xs = cs.map(_.fields(i)._2)
          (name, if (unit == "ms") Stats.median(xs) else Stats.mean(xs), unit)
        }
      fields.map { case (f, v, _) => s"$s.$f" -> v }
    }.toMap
    def wall(s: String) = Stats.median(spanCounts(s).map(_.wallMs))
    def meanOf(s: String, f: SpanCounts => Double) = Stats.mean(spanCounts(s).map(f))
    val layer = Map(
      "list_ms" -> wall("list"),
      "list_files" -> Double.NaN,
      "fold_ms" -> wall("fold"),
      "fold_tasks" -> meanOf("fold", _.tasks),
      "input_bytes" -> meanOf("fold", _.inputBytes),
      "collect_self_ms" -> Double.NaN,
      "merge_ms" -> Stats.median(batches.map(_._1.addBatchMs.toDouble)),
      "merge_jobs" -> meanOf("batch", _.jobs),
      "table_files" -> Double.NaN,
      "stream_overhead_ms" -> Stats.median(batches.map { case (b, _) =>
        (b.triggerMs - b.addBatchMs).toDouble }),
      "scan_jobs" -> meanOf("scan", _.jobs),
      "files_opened_ratio" -> Double.NaN,
      "sig_ms" -> wall("sig"),
      "candidates" -> Double.NaN,
      "pairs" -> Double.NaN,
      "candidate_precision" -> Double.NaN,
      "band_shuffle_bytes" -> meanOf("candidates", _.shuffleWrite),
      "components_ms" -> wall("components"),
      "components_jobs" -> meanOf("components", _.jobs))
    val merged = layer ++ r.wl.layerExtras(t).filter { case (k, _) => layer.contains(k) }
    (merged ++ perSpan).map { case (k, v) => k -> zero(v) }
  }
}
