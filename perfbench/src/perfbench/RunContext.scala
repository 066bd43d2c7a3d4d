package perfbench

import java.nio.file.{Files, Paths}

/** What else the machine was doing while a workload ran, from `/proc`, so a
  * contaminated run can be told apart from a slow one in its artifact.
  *
  *  - loadavg before and after (1/5/15 min) and the live process count;
  *  - external cores: box-wide busy CPU minus this JVM's own, averaged over
  *    the window (kernel writeback of the benchmark's own files counts
  *    here);
  *  - external user cores: CPU of every other user-space process only
  *    (kernel threads have an empty cmdline and are skipped), so
  *    self-inflicted writeback and real co-tenants can be told apart;
  *  - steal cores: CPU the hypervisor gave to other guests, the contention
  *    a virtual machine cannot see in its own process table.
  *
  * Every reading degrades to `None` off Linux or without `/proc`.
  */
object RunContext {

  private def read(p: String): String =
    new String(Files.readAllBytes(Paths.get(p)), "UTF-8")

  def nproc: Int = Runtime.getRuntime.availableProcessors()

  def loadavg(): Option[Seq[Double]] =
    try Some(read("/proc/loadavg").trim.split("\\s+").take(3).map(_.toDouble).toSeq)
    catch { case _: Exception => None }

  def liveProcesses(): Option[Int] =
    try Some(new java.io.File("/proc").listFiles().count(_.getName.forall(_.isDigit)))
    catch { case _: Exception => None }

  /** (box non-idle ticks, box total ticks, this process's ticks, host cpus,
    * ticks the hypervisor gave to other guests).
    */
  final case class Ticks(busy: Long, total: Long, self: Long, cpus: Int, steal: Long)

  def ticks(): Option[Ticks] =
    try {
      val lines = read("/proc/stat").split("\n")
      val f = lines.head.split("\\s+").drop(1).map(_.toLong)
      val idle = f(3) + (if (f.length > 4) f(4) else 0L)
      val cpus = lines.count(_.matches("cpu\\d+.*"))
      // fields after "pid (comm) ": state is index 0, utime..cstime 11..14
      val st = read("/proc/self/stat").split("\\) ").last.split("\\s+")
      val self = st(11).toLong + st(12).toLong + st(13).toLong + st(14).toLong
      Some(Ticks(f.sum - idle, f.sum, self, math.max(cpus, 1), if (f.length > 7) f(7) else 0L))
    } catch { case _: Exception => None }

  /** pid -> utime+stime of every other user-space process. */
  def otherUserTicks(): Option[Map[Long, Long]] =
    try {
      val me = ProcessHandle.current().pid()
      Some(new java.io.File("/proc").listFiles()
        .filter(_.getName.forall(_.isDigit))
        .flatMap { d =>
          val pid = d.getName.toLong
          if (pid == me) None
          else try {
            if (Files.readAllBytes(Paths.get(s"/proc/$pid/cmdline")).isEmpty) None
            else {
              val st = read(s"/proc/$pid/stat").split("\\) ").last.split("\\s+")
              Some(pid -> (st(11).toLong + st(12).toLong))
            }
          } catch { case _: Exception => None } // raced an exit
        }.toMap)
    } catch { case _: Exception => None }

  /** A sampling window: open with [[Window.open]], close with [[close]]. */
  final class Window private (
      loadBefore: Option[Seq[Double]], procsBefore: Option[Int],
      t0: Option[Ticks], u0: Option[Map[Long, Long]]) {

    def close(): collection.Map[String, Any] = {
      val t1 = ticks()
      val u1 = otherUserTicks()
      val perCpu = for (a <- t0; b <- t1) yield (b.total - a.total) / b.cpus.toDouble
      val ext = for (a <- t0; b <- t1; e <- perCpu if e > 0) yield
        math.max(0.0, ((b.busy - a.busy) - (b.self - a.self)) / e)
      val steal = for (a <- t0; b <- t1; e <- perCpu if e > 0) yield (b.steal - a.steal) / e
      val extUser = for (a <- u0; b <- u1; e <- perCpu if e > 0) yield
        math.max(0.0, b.map { case (pid, t) => t - a.getOrElse(pid, 0L) }.sum / e)
      Json.obj(
        "nproc" -> nproc,
        "host_cpus" -> t1.map(_.cpus),
        "loadavg_before" -> loadBefore,
        "loadavg_after" -> loadavg(),
        "processes_before" -> procsBefore,
        "processes_after" -> liveProcesses(),
        "external_cores" -> ext,
        "external_user_cores" -> extUser,
        "steal_cores" -> steal)
    }
  }

  object Window {
    def open(): Window = new Window(loadavg(), liveProcesses(), ticks(), otherUserTicks())
  }
}
