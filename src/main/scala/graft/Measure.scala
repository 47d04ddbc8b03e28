package graft

import org.apache.spark.sql.SparkSession

/** The one measurement window of the bench mains (Bench, tools/Serving4m,
  * QTime): timing, host steal, CPU-canary brackets, the clean/dirty
  * verdict, the warm-up → timed-reps loop and the one-retry gate.
  *
  * Host steal: on a shared hypervisor, /proc/stat's steal column counts
  * time vCPUs were runnable but not scheduled by the host — CPU the
  * guest asked for and did not get. The r14 isolated A/B hunt for the r13
  * "monotone cross-round drift" (q_pagerank 2.09 → 2.44 → ~4.0 s across
  * closes on unchanged code) found reps of IDENTICAL work varying 4.4 →
  * 37.3 s back-to-back, with the inflation tracking this counter almost
  * exactly (4.40 s at steal 0.3 CPU-s vs 37.29 s at 41.0 CPU-s). Wall time
  * on such a host is only interpretable NEXT TO the steal delta. Steal is
  * one-sided (zero steal ⇏ clean), so windows are also bracketed by
  * CpuCanary readings, the two-sided complement.
  */
object Measure {
  /** Cumulative steal across all CPUs in seconds (USER_HZ = 100 ticks/s),
    * or -1 if unreadable (non-Linux / no steal column). */
  def stealSeconds(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val cols = src.getLines().next().trim.split("\\s+")
        if (cols.length > 8) cols(8).toLong / 100.0 else -1.0
      } finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** Steal between two stealSeconds readings: -1 ("unknown") when either
    * read failed, never a difference against the -1 sentinel. */
  def stealDelta(s0: Double, s1: Double): Double =
    if (s0 < 0 || s1 < 0) -1.0 else s1 - s0

  /** Wall seconds of `body`. */
  def seconds(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  /** The clean/dirty verdict: a window is clean when its steal is within
    * `steal` CPU-s and every bounding canary reading delivered calibrated
    * throughput (ALU ≤ CpuCanary.AluClean, gather ≤ `gather`). Unknown
    * steal (-1) leaves the verdict to the canaries. */
  final case class Bounds(steal: Double, gather: Double) {
    def canaryOk(c: (Double, Double)): Boolean =
      c._1 <= CpuCanary.AluClean && c._2 <= gather
    def clean(stealCpuS: Double, canaries: (Double, Double)*): Boolean =
      (stealCpuS < 0 || stealCpuS <= steal) && canaries.forall(canaryOk)
  }

  /** A fresh JVM's bounds (Serving4m's epochs, CanaryProbe): 2 CPU-s of
    * steal and CpuCanary's own gather bound — no residual session cache
    * state to forgive. */
  val FreshJvm: Bounds = Bounds(2.0, CpuCanary.GatherClean)

  /** `n` consecutive windows sharing their boundary canary readings:
    * `canaries(e)` precedes epoch e and `canaries(e + 1)` follows it,
    * `steal(e)` covers epoch e's body alone, and `totalSteal` runs from
    * the first body's start to after the last reading. */
  final case class Epochs[T](values: IndexedSeq[T], steal: IndexedSeq[Double],
      canaries: IndexedSeq[(Double, Double)], totalSteal: Double) {
    def clean(b: Bounds, e: Int): Boolean =
      b.clean(steal(e), canaries(e), canaries(e + 1))
  }

  def epochs[T](n: Int)(body: Int => T): Epochs[T] = {
    val canaries = Vector.newBuilder[(Double, Double)]
    canaries += CpuCanary.reading()
    val first = stealSeconds()
    val runs = (0 until n).map { e =>
      val s0 = if (e == 0) first else stealSeconds()
      val v = body(e)
      val steal = stealDelta(s0, stealSeconds())
      canaries += CpuCanary.reading()
      (v, steal)
    }
    Epochs(runs.map(_._1), runs.map(_._2), canaries.result(),
      stealDelta(first, stealSeconds()))
  }

  /** One canary-bracketed window: pre reading, body, steal, post reading. */
  def window[T](body: => T): Epochs[T] = epochs(1)(_ => body)

  /** Untimed `warmup`, an untimed System.gc() (pays the setup's allocation
    * debt outside the reps), then `n` timed passes; returns each pass's
    * wall seconds. */
  def timedReps(n: Int)(warmup: => Unit)(pass: => Unit): IndexedSeq[Double] = {
    warmup
    System.gc()
    (0 until n).map(_ => seconds(pass))
  }

  /** One registry query materialized through the noop sink (full plan
    * execution, projections included), returned as (wall seconds, steal
    * over it). A failure is reported on stderr under `tag` and its time
    * kept. Untimed clearCache + System.gc follow, so the next measurement
    * starts from a collected heap: for sub-second queries one young-GC
    * pause landing inside a rep is 50-100% of the reading. */
  def queryRep(spark: SparkSession, sfDir: String, q: Q, tag: String): (Double, Double) = {
    val s0 = stealSeconds()
    val sec = seconds {
      try q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => System.err.println(s"[$tag] ${q.name}: $e") }
    }
    val steal = stealDelta(s0, stealSeconds())
    spark.catalog.clearCache()
    System.gc()
    (sec, steal)
  }

  /** Runs `run`; when its result is `dirty` and `budgetOk` (evaluated only
    * then) allows, runs it once more after an untimed GC. A run that
    * produced nothing is not retried; a retry that produced nothing keeps
    * the first result. */
  def retryOnce[T](label: String, dirty: T => Boolean, budgetOk: => Boolean)(
      run: => Option[T]): Option[T] =
    run match {
      case Some(first) if dirty(first) && budgetOk =>
        System.err.println(s"[bench] $label epoch dirty — one retry")
        System.gc()
        run.orElse(Some(first))
      case r => r
    }
}
