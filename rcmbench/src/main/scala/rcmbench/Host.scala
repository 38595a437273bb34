package rcmbench

import java.nio.file.{Files, Paths}

/** The share of CPU time the hypervisor gave to other guests while a
  * batch ran, from the `cpu` line of `/proc/stat`: a timing taken while
  * it is high is slower for reasons outside the program. */
object Host {

  /** Steal ticks and all ticks so far, or None off Linux. */
  def stealAndTotalTicks(): Option[(Long, Long)] = {
    val stat = Paths.get("/proc/stat")
    if (!Files.isReadable(stat)) None
    else {
      val f = Files.readAllLines(stat).get(0).trim.split("\\s+").drop(1).map(_.toLong)
      Some((if (f.length > 7) f(7) else 0L, f.sum))
    }
  }

  def stealLine(before: Option[(Long, Long)], after: Option[(Long, Long)]): String =
    (before, after) match {
      case (Some((s0, t0)), Some((s1, t1))) if t1 > t0 =>
        f"host_steal_pct ${100.0 * (s1 - s0) / (t1 - t0)}%.1f %% (CPU stolen by other guests during the timed batches)"
      case _ => "host_steal_pct unknown"
    }
}
