package graft

import graft.obs.Stages

/** The dev-loop probes' one stage printer (`import ProbeStages.stage`):
  * runs `f` under [[Stages.measure]], prints its wall and process CPU,
  * then each [[Stages]] counter it moved (e.g. the `patch.*` probes of
  * an incremental clean), so every probe reports in one format.
  */
object ProbeStages {
  def stage[T](name: String)(f: => T): T = {
    val before = Stages.snapshot()
    val (r, d) = Stages.measure(f)
    println(f"STAGE $name%-32s ${d.wallSec}%.2f s wall  ${d.cpuSec}%.2f s cpu")
    Stages.since(before).toSeq.sortBy(_._1).foreach { case (n, t) =>
      println(f"  $n%-34s ${t.wallMs / 1e3}%.2f s")
    }
    r
  }
}
