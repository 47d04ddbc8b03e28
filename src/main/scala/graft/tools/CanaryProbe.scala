package graft.tools

import graft.{CpuCanary, Measure}

/** Canary calibration probe: prints this JVM's calibrated fixed-work
  * floor and a run of ratio readings with the steal delta beside each —
  * the tool that measured CpuCanary's documented clean-host reference,
  * and the quick check for "is this box currently delivering calibrated
  * throughput" before trusting any one-shot measurement.
  *
  *   tools/run_main.sh graft.tools.CanaryProbe [passes]
  */
object CanaryProbe {
  def main(args: Array[String]): Unit = {
    val passes = args.lift(0).map(_.toInt).getOrElse(10)
    val (calA, calG) = CpuCanary.calibrate()
    println(f"CANARY cal_alu=$calA%.4f cal_gather=$calG%.4f s/pass")
    (1 to passes).foreach { i =>
      val st0 = Measure.stealSeconds()
      val (ra, rg) = CpuCanary.reading()
      val st = Measure.stealDelta(st0, Measure.stealSeconds())
      val clean = Measure.FreshJvm.canaryOk((ra, rg))
      println(f"CANARY pass=$i alu_ratio=$ra%.3f gather_ratio=$rg%.3f clean=$clean steal=$st%.1f")
    }
  }
}
