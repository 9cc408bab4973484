package graftbench

import java.nio.file.{Files, Paths}

/** Host-noise record: a fixed pure-JVM CPU loop timed in milliseconds,
  * the CPU-steal share from `/proc/stat`, and the process's peak
  * resident set. None of these touch Spark. */
object Host {

  /** Times a fixed integer loop; a slower read than usual marks a window
    * in which the host took CPU away from the run. The median of
    * `repeats` passes is returned. */
  def calibMs(repeats: Int = 5): Double = {
    val times = (1 to repeats).map { _ =>
      val t0 = System.nanoTime()
      var x = 0x9E3779B97F4A7C15L
      var i = 0
      while (i < 20000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        i += 1
      }
      sink = x
      (System.nanoTime() - t0) / 1e6
    }
    Stats.median(times)
  }
  @volatile private var sink = 0L

  /** (steal, total) jiffies of the aggregate cpu line, if readable. */
  def cpuTicks(): Option[(Long, Long)] =
    try {
      val line = Files.readAllLines(Paths.get("/proc/stat")).get(0)
      val f = line.trim.split("\\s+").drop(1).map(_.toLong)
      Some((if (f.length > 7) f(7) else 0L, f.sum))
    } catch { case _: Exception => None }

  /** Steal share, in percent, between two [[cpuTicks]] readings. */
  def stealPct(a: Option[(Long, Long)], b: Option[(Long, Long)]): Double =
    (a, b) match {
      case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 =>
        100.0 * (s1 - s0) / (t1 - t0)
      case _ => 0.0
    }

  /** Peak resident set of this process (`VmHWM`), in MB. */
  def peakRssMb(): Double =
    try {
      val lines = Files.readAllLines(Paths.get("/proc/self/status"))
      val it = lines.iterator()
      var kb = 0L
      while (it.hasNext) {
        val l = it.next()
        if (l.startsWith("VmHWM:"))
          kb = l.stripPrefix("VmHWM:").trim.split("\\s+")(0).toLong
      }
      kb / 1024.0
    } catch { case _: Exception => 0.0 }
}
