package enginebench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Options of one run, as run.py passes them. */
final case class Opts(
    workload: String,
    seed: Long,
    seconds: Double,
    trace: Boolean,
    startMs: Long, // wall-clock ms at which run.py started (setup_s origin)
    work: String, // scratch directory of this run inside the checkout
    fixture: String, // registry fixture directory ("" when none is written)
    probe: Boolean = false) // a short pass of a layer the run's workload does not time

/** What a run reports: operation counts, check failures and metrics. */
final class Result {
  val metrics = LinkedHashMap.empty[String, (Double, String)]
  private val attemptedN = new AtomicLong(0)
  private val failedN = new AtomicLong(0)
  // checks made outside the timed operations (reference answers, setup)
  @volatile var setupOk = true
  // failures the run provokes on purpose (the self-test's corrupted outputs)
  @volatile var expectedFailures = 0L
  val notes = ArrayBuffer.empty[String]

  // a traced run reports the per-layer metrics; its end-to-end readings go
  // to standard error only, for comparison with untraced runs
  @volatile var traced = false
  // while a probe of another layer runs, metrics the workload's own timed
  // phase already reported keep their values, and end-to-end readings are
  // dropped
  @volatile var probing = false

  def put(name: String, value: Double, unit: String): Unit =
    if (!(probing && metrics.contains(name))) metrics(name) = (value, unit)

  def putEndToEnd(name: String, value: Double, unit: String): Unit =
    if (!traced) put(name, value, unit)
    else if (!probing) System.err.println(s"[enginebench] end-to-end while traced: $name = $value $unit")

  private def note(what: String): Unit = notes.synchronized {
    if (notes.size < 20) notes += what
  }

  /** One attempted operation whose output passed (`ok`) or failed. */
  def op(ok: Boolean, what: => String): Boolean = {
    attemptedN.incrementAndGet()
    if (!ok) { failedN.incrementAndGet(); note(what) }
    ok
  }

  /** An operation that threw: counted as attempted and failed. */
  def opFailed(what: String, e: Throwable): Unit = {
    attemptedN.incrementAndGet(); failedN.incrementAndGet()
    note(s"$what: ${e.getClass.getSimpleName}: ${e.getMessage}")
  }

  /** A check made outside the timed operations. */
  def setupCheck(ok: Boolean, what: => String): Boolean = {
    if (!ok) { setupOk = false; note(s"setup: $what") }
    ok
  }

  def attempted: Long = attemptedN.get()
  def failed: Long = failedN.get()

  def json: String = {
    val ms = metrics.map { case (k, (v, u)) =>
      s""""$k":{"value":${Json.num(v)},"unit":"$u"}""" }.mkString(",")
    val ns = notes.map(Json.str).mkString(",")
    s"""{"correct":${setupOk && failed == expectedFailures},"attempted":$attempted,""" +
      s""""failed":$failed,"metrics":{$ms},"notes":[$ns]}"""
  }
}

object Json {
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

object Stats {
  /** Linear-interpolated quantile, p in [0, 1]. */
  def quantile(xs: Iterable[Double], p: Double): Double = {
    val s = xs.toArray.sorted
    require(s.nonEmpty, "quantile of no samples")
    val pos = p * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Iterable[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Iterable[Double]): Double = xs.sum / xs.size
}

/** Process-level readings from the JVM's management beans and, read only,
  * from /proc/stat. */
object Host {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threads = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  val cores: Int = Runtime.getRuntime.availableProcessors()

  /** Cumulative steal time of all CPUs in seconds, or NaN if unreadable. */
  def stealS(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try {
        val cols = src.getLines().next().trim.split("\\s+")
        if (cols.length > 8) cols(8).toLong / 100.0 else Double.NaN
      } finally src.close()
    } catch { case _: Throwable => Double.NaN }

  def cpuNs(): Long = os.getProcessCpuTime

  private val t0 = System.nanoTime()
  /** A progress line on standard error: seconds since the JVM's start. */
  def phase(what: String): Unit =
    System.err.println(f"[enginebench] ${(System.nanoTime() - t0) / 1e9}%7.2f s $what")

  def gcMs(): Long = {
    var t = 0L
    ManagementFactory.getGarbageCollectorMXBeans.forEach(b => t += math.max(0L, b.getCollectionTime))
    t
  }

  /** Bytes allocated so far by each live thread, by thread id. */
  def allocatedByThread(): Map[Long, Long] = {
    val ids = threads.getAllThreadIds
    ids.zip(threads.getThreadAllocatedBytes(ids)).filter(_._2 >= 0).toMap
  }

  /** Bytes the live threads allocated since `before`: a thread that ended
    * in between drops out rather than subtracting its whole count (Spark's
    * threads end while a later part of a traced run measures). */
  def allocatedSince(before: Map[Long, Long]): Long =
    allocatedByThread().iterator.map { case (id, b) => b - before.getOrElse(id, 0L) }.sum

  /** Heap in use after full collections, in MB. The pause between them
    * lets Spark's cleaner drop blocks whose owners the first one freed. */
  def heapMbAfterGc(): Double = {
    System.gc(); Thread.sleep(300); System.gc(); System.gc()
    val rt = Runtime.getRuntime
    (rt.totalMemory() - rt.freeMemory()) / 1048576.0
  }

}

/** Spans recorded around calls into the engine's layers (traced runs only):
  * name, start, end, parent span and request id, kept in memory and written
  * as JSON lines when the run ends. Untraced runs record nothing. */
object Trace {
  final case class Span(id: Int, name: String, startNs: Long, endNs: Long,
      parent: Int, request: Long)

  @volatile var enabled = false
  private val spans = ArrayBuffer.empty[Span]
  private val nextId = new AtomicLong(0)
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)

  def span[T](name: String, request: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId.incrementAndGet().toInt
      val parent = stack.get().headOption.getOrElse(0)
      stack.set(id :: stack.get())
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack.set(stack.get().tail)
        spans.synchronized { spans += Span(id, name, t0, t1, parent, request) }
      }
    }

  def count: Int = spans.synchronized(spans.size)

  def write(path: String): Unit = spans.synchronized {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      w.println(s"""{"id":${s.id},"name":${Json.str(s.name)},"start_ns":${s.startNs},""" +
        s""""end_ns":${s.endNs},"parent":${s.parent},"request":${s.request}}""")
    } finally w.close()
  }
}

/** Spark work counted by a listener the benchmark registers itself. */
final case class SparkSnap(jobs: Long, stages: Long, tasks: Long, taskCpuNs: Long,
    shuffleBytes: Long, spillBytes: Long, gcMs: Long) {
  def -(o: SparkSnap): SparkSnap = SparkSnap(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, taskCpuNs - o.taskCpuNs, shuffleBytes - o.shuffleBytes,
    spillBytes - o.spillBytes, gcMs - o.gcMs)
  def +(o: SparkSnap): SparkSnap = SparkSnap(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, taskCpuNs + o.taskCpuNs, shuffleBytes + o.shuffleBytes,
    spillBytes + o.spillBytes, gcMs + o.gcMs)
}

object SparkSnap { val zero: SparkSnap = SparkSnap(0, 0, 0, 0, 0, 0, 0) }

final class SparkCounts(sc: SparkContext) extends SparkListener {
  private val jobs, stages, tasks, cpu, shuffle, spill, gc = new AtomicLong(0)

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpu.addAndGet(m.executorCpuTime)
      shuffle.addAndGet(m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      gc.addAndGet(m.jvmGCTime)
    }
  }

  /** Counters after every event posted so far has been delivered. */
  def snap(): SparkSnap = {
    org.apache.spark.BenchBus.drain(sc)
    SparkSnap(jobs.get, stages.get, tasks.get, cpu.get, shuffle.get, spill.get, gc.get)
  }
}

object SparkCounts {
  def register(sc: SparkContext): SparkCounts = {
    val l = new SparkCounts(sc)
    sc.addSparkListener(l)
    l
  }
}
