package graft

/** Fixed-work CPU canary for two-sided contention detection.
  *
  * Host steal (Measure.stealSeconds) is ONE-sided: high steal ⇒ the window was
  * poisoned, but zero steal ⇏ clean — frequency/IPC loss from a busy
  * host (SMT siblings, memory-bandwidth neighbors, clock capping) and
  * long-session JIT/code-cache degradation leave no trace in
  * /proc/stat. The r14 graded artifact demonstrated the hole: three
  * kernel-heavy queries read 1.6–2.9x their r13 values on bit-identical
  * code with "clean" (≤ 2 CPU-s) steal on every isolated rep, and the
  * 4M ADC-scan claim inverted between clean-steal runs.
  *
  * The canary closes the blind spot with a deterministic, fixed-work,
  * single-thread microkernel PAIR timed around measurements — two
  * phases because they detect DIFFERENT contention modes (measured on
  * this box: the phases decorrelate):
  *  - ALU: an xorshift64* dependent chain — moves with clock frequency
  *    and scheduling gaps only; measured stable to ±9% on this box even
  *    while the gather phase swings ±35%;
  *  - GATHER: a data-dependent walk over an 8 MB long table (past L2,
  *    LLC-resident on a clean host) — moves with neighbor cache/memory-
  *    bandwidth pressure, the mode that selectively penalizes DRAM- vs
  *    cache-bound code and can invert e.g. an IVF-vs-IVFPQ comparison.
  * Each phase is compared to this JVM's own calibrated floor (min of 5
  * passes at first use); a reading is min-of-2 passes per phase ("could
  * the machine deliver calibrated throughput in this window"). The
  * calibration values are carried in every artifact so a calibration
  * taken inside a dirty epoch is visible rather than silently
  * normalizing later readings.
  *
  * Clean-host reference on this box (tools/CanaryProbe at canary-commit
  * time): alu ~0.042 s, gather ~0.106–0.12 s per pass; ambient gather
  * readings fluctuate to ~1.35x floor at zero steal — the box's memory
  * subsystem is genuinely noisy, which is why GatherClean sits at 1.4
  * while AluClean sits at 1.10.
  */
object CpuCanary {

  /** ~40 ms of dependent ALU work on this box's clean clock. */
  private val SpinIters = 20000000
  /** 8 MB gather table: 1M longs — sized past L2, inside a typical LLC
    * slice, so neighbor cache pressure shows up as latency. */
  private val LutBits = 20
  private val Gathers = 2000000

  /** ALU ratio above this ⇒ the window's clock/scheduling was degraded
    * (the phase is ±9% stable on a clean box — 1.10 splits with margin). */
  final val AluClean = 1.10
  /** Gather ratio above this ⇒ memory-subsystem pressure beyond this
    * box's measured ambient swing (±35% at zero steal). */
  final val GatherClean = 1.40

  // deterministic fill (splitmix64) — same table every JVM
  private val lut: Array[Long] = {
    val a = new Array[Long](1 << LutBits)
    var x = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < a.length) {
      x += 0x9E3779B97F4A7C15L
      var z = x
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      a(i) = z ^ (z >>> 31)
      i += 1
    }
    a
  }

  /** Result sink so the JIT cannot dead-code-eliminate the loops. */
  @volatile var sink: Long = 0L

  /** One timed fixed-work pass; returns total wall seconds. */
  def runOnce(): Double = { val (a, g) = runPhases(); a + g }

  /** One pass with per-phase wall seconds (alu, gather). */
  def runPhases(): (Double, Double) = {
    val t0 = System.nanoTime()
    // ALU phase: xorshift64* dependent chain
    var s = 0x2545F4914F6CDD1DL
    var i = 0
    while (i < SpinIters) {
      s ^= s >>> 12; s ^= s << 25; s ^= s >>> 27
      i += 1
    }
    val t1 = System.nanoTime()
    // gather phase: data-dependent walk over the 8 MB table
    val mask = (1 << LutBits) - 1
    var acc = s | 1L
    var j = 0
    while (j < Gathers) {
      acc = lut((acc ^ (acc >>> 17)).toInt & mask) + (acc * 0x2545F4914F6CDD1DL)
      j += 1
    }
    sink = acc ^ s
    val t2 = System.nanoTime()
    ((t1 - t0) / 1e9, (t2 - t1) / 1e9)
  }

  @volatile private var calAlu: Double = -1.0
  @volatile private var calGather: Double = -1.0

  /** This JVM's clean floors (alu, gather): per-phase min of `reps`
    * passes after 2 untimed warm-ups (JIT). Idempotent — first call
    * wins. */
  def calibrate(reps: Int = 5): (Double, Double) = synchronized {
    if (calAlu < 0) {
      runPhases(); runPhases()
      val ps = (0 until reps).map(_ => runPhases())
      calAlu = ps.map(_._1).min
      calGather = ps.map(_._2).min
    }
    (calAlu, calGather)
  }

  /** A min-of-2 per-phase reading as (aluRatio, gatherRatio) against
    * the calibrated floors: ~1.0 = the window delivers calibrated
    * throughput in that mode. */
  def reading(): (Double, Double) = {
    val (a, g) = calibrate()
    val (a1, g1) = runPhases()
    val (a2, g2) = runPhases()
    (math.min(a1, a2) / a, math.min(g1, g2) / g)
  }
}
