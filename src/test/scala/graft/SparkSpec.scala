package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites: one JVM-wide SparkSession (getOrCreate
  * reuses it across suites), local[4], AQE on — matching Session.local.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.local(4, "graft-test")

  val sfDir = "/root/testdata/sf0.001"

  /** Does the local directory `dir` hold a committed JSON metadata record
    * (`meta.json` plus its `_SUCCESS` marker)?
    */
  def hasJsonMeta(dir: String): Boolean =
    new java.io.File(dir, "meta.json").isFile &&
      new java.io.File(dir, "_SUCCESS").isFile

  /** Overwrite `path` with `text` through the Hadoop FileSystem, so the
    * local filesystem's checksum sidecar stays in step with the bytes.
    */
  def writeText(path: String, text: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    val out = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .create(p, true)
    try out.write(text.getBytes("UTF-8")) finally out.close()
  }

  /** The Spark work `body` runs under its own job group: the group's jobs
    * and the tasks of their stages, as the status tracker reports them, and
    * each job's description. The status tracker and a listener are fed
    * asynchronously, each from its own ordered queue; a fence job run after
    * `body` in a second group is polled for in both, and once both report
    * it every earlier event of the group has landed.
    */
  def sparkWork(body: => Unit): (Int, Int, Seq[String]) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import scala.jdk.CollectionConverters._
    val sc = spark.sparkContext
    val group = s"spark-work-${java.util.UUID.randomUUID}"
    val fence = s"$group-fence"
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val fenced = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        prop("spark.jobGroup.id") match {
          case Some(`group`) => descriptions.add(prop("spark.job.description").getOrElse(""))
          case Some(`fence`) => fenced.set(true)
          case _ =>
        }
      }
    }
    sc.addSparkListener(listener)
    try {
      def inGroup(g: String)(run: => Unit): Unit = {
        sc.setJobGroup(g, g, interruptOnCancel = false)
        try run finally sc.clearJobGroup()
      }
      inGroup(group)(body)
      inGroup(fence)(sc.parallelize(Seq(1), 1).count())
      val tracker = sc.statusTracker
      val deadline = System.nanoTime() + 20000000000L
      while ((!fenced.get || tracker.getJobIdsForGroup(fence).isEmpty) &&
          System.nanoTime() < deadline)
        Thread.sleep(20)
      assert(fenced.get && tracker.getJobIdsForGroup(fence).nonEmpty,
        "the fence job never reached the listeners")
      val jobs = tracker.getJobIdsForGroup(group).toSeq
      val stages = jobs.flatMap(j => tracker.getJobInfo(j).toSeq.flatMap(_.stageIds)).distinct
      val tasks = stages.flatMap(s => tracker.getStageInfo(s)).map(_.numCompletedTasks).sum
      (jobs.size, tasks, descriptions.asScala.toSeq)
    } finally sc.removeSparkListener(listener)
  }
}
