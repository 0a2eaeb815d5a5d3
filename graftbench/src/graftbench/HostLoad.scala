package graftbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.util.Try

/** How much of the host other work took while a round ran: CPU stolen by
  * the hypervisor (`/proc/stat`), and CPU used by every user-space process
  * but this JVM and the script that started it. A round is quiet when
  * both stay under the thresholds; timings of disturbed rounds follow the
  * host, not the program. */
object HostLoad {
  val MaxStealPct = 5.0
  val MaxCompetingCores = 0.5

  final case class Counters(steal: Long, total: Long, procs: Map[Int, Long], nanos: Long)
  final case class Sample(stealPct: Double, competingCores: Double) {
    def quiet: Boolean = stealPct <= MaxStealPct && competingCores <= MaxCompetingCores
    /** Cores' worth of interference, for ranking rounds. */
    def interference: Double = stealPct / 100 * Runtime.getRuntime.availableProcessors + competingCores
  }

  private val clockTicks = 100.0 // USER_HZ on Linux
  private val self = ProcessHandle.current()
  private val excluded: Set[Long] = {
    val parent = self.parent()
    Set(self.pid) ++ (if (parent.isPresent) Set(parent.get.pid) else Set.empty[Long])
  }

  private def read(path: String): String = new String(Files.readAllBytes(Paths.get(path)))

  def read(): Counters = {
    val cpu = read("/proc/stat").linesIterator.next().split("\\s+").drop(1).map(_.toLong)
    val procs = Option(new File("/proc").list()).getOrElse(Array.empty[String])
      .filter(p => p.forall(_.isDigit) && !excluded(p.toLong))
      .flatMap { pid =>
        Try {
          val f = read(s"/proc/$pid/stat").split("\\)").last.trim.split(" ")
          // f(0) is field 3 (state): flags are field 9, utime and stime 14 and 15.
          if ((f(6).toLong & 0x00200000L) != 0) None // kernel thread
          else Some(pid.toInt -> (f(11).toLong + f(12).toLong))
        }.toOption.flatten
      }.toMap
    Counters(cpu(7), cpu.take(8).sum, procs, System.nanoTime())
  }

  def since(before: Counters): Sample = {
    val now = read()
    val total = now.total - before.total
    val other = now.procs.map { case (pid, t) => t - before.procs.getOrElse(pid, 0L) }.sum
    val wallS = (now.nanos - before.nanos) / 1e9
    Sample(if (total > 0) 100.0 * (now.steal - before.steal) / total else 0.0,
      if (wallS > 0) other / clockTicks / wallS else 0.0)
  }
}
