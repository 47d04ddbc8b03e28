package graft.functions

import jdk.incubator.vector._

/** SIMD scan kernel behind the serving engine's exact int8 codec
  * (store.Int8Codec: QuantizedIndex's per-block engines and the int8
  * Local*Index tiers) via the JDK Vector API — the Spark-side analog of the
  * reference's Numba `@njit(parallel=True)` kernel (pythonvectordb.py:25-67).
  *
  * The corpus rows are widened once to short[] (2 bytes/component, still 2x
  * denser than float32); per row the dot product runs as 32-lane short
  * multiplies accumulated exactly into int lanes (|dot| <= dim * 127^2, so
  * int never overflows for dim < 131k). Scores are bitwise identical to the
  * scalar path: integer dot + the same double expression
  * (VectorKernels.cosineFromParts).
  *
  * Requires `--add-modules jdk.incubator.vector` on the JVM (set in
  * build.sbt; on a real cluster add it to spark.executor.extraJavaOptions).
  * Callers check `SimdSupport.available` and fall back to the scalar loop.
  */
object SimdKernels {

  private val IS = IntVector.SPECIES_PREFERRED
  private val SS = ShortVector.SPECIES_PREFERRED

  /** Force class init + intrinsic availability (throws if the module is
    * absent — callers probe through SimdSupport). */
  def probe(): Int = SS.length()

  /** Exact int8 dot product of row `base..base+dim` against q. */
  def dot(data: Array[Short], base: Int, q: Array[Short], dim: Int): Int = {
    val step = SS.length()
    val main = dim - dim % step
    var acc0 = IntVector.zero(IS)
    var acc1 = IntVector.zero(IS)
    var i = 0
    while (i < main) {
      val prod = ShortVector.fromArray(SS, data, base + i)
        .mul(ShortVector.fromArray(SS, q, i))
      acc0 = acc0.add(prod.convert(VectorOperators.S2I, 0).asInstanceOf[IntVector])
      acc1 = acc1.add(prod.convert(VectorOperators.S2I, 1).asInstanceOf[IntVector])
      i += step
    }
    var dot = acc0.add(acc1).reduceLanes(VectorOperators.ADD)
    while (i < dim) { dot += data(base + i) * q(i); i += 1 }
    dot
  }

  /** Scan rows [rowStart, rowEnd) of a packed corpus, keeping the k best
    * (score DESC, id ASC) in `buf`. */
  def scanTopK(
      data: Array[Short], rowNorms: Array[Long], ids: Array[Long],
      rowStart: Int, rowEnd: Int, dim: Int,
      q: Array[Short], qNormSq: Long, buf: TopKBuffer): Unit = {
    var row = rowStart
    while (row < rowEnd) {
      val d = dot(data, row * dim, q, dim)
      buf.insert(VectorKernels.cosineFromParts(d.toLong, rowNorms(row), qNormSq), ids(row))
      row += 1
    }
  }
}

/** Runtime probe for the Vector API module (decoupled so a missing module
  * fails the probe, not the caller's class init). */
object SimdSupport {
  val available: Boolean =
    try { SimdKernels.probe() > 0 }
    catch { case _: LinkageError => false }

  /** Scalar twin of SimdKernels.scanTopK — bitwise-identical results. */
  def scanTopKScalar(
      data: Array[Short], rowNorms: Array[Long], ids: Array[Long],
      rowStart: Int, rowEnd: Int, dim: Int,
      q: Array[Short], qNormSq: Long, buf: TopKBuffer): Unit = {
    var row = rowStart
    while (row < rowEnd) {
      val base = row * dim
      var dot = 0
      var i = 0
      while (i < dim) { dot += data(base + i) * q(i); i += 1 }
      buf.insert(VectorKernels.cosineFromParts(dot.toLong, rowNorms(row), qNormSq), ids(row))
      row += 1
    }
  }

  def scan(
      data: Array[Short], rowNorms: Array[Long], ids: Array[Long],
      rowStart: Int, rowEnd: Int, dim: Int,
      q: Array[Short], qNormSq: Long, buf: TopKBuffer): Unit =
    if (available)
      SimdKernels.scanTopK(data, rowNorms, ids, rowStart, rowEnd, dim, q, qNormSq, buf)
    else
      scanTopKScalar(data, rowNorms, ids, rowStart, rowEnd, dim, q, qNormSq, buf)
}
