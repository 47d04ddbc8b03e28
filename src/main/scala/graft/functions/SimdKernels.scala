package graft.functions

import jdk.incubator.vector._

/** SIMD scan kernel behind the serving engine's exact int8 codec
  * (store.Int8Codec: QuantizedIndex's per-block engines and the int8
  * Local*Index tiers) via the JDK Vector API — the Spark-side analog of the
  * reference's Numba `@njit(parallel=True)` kernel (pythonvectordb.py:25-67).
  *
  * The corpus rows stay int8 (1 byte/component, the reference's dense
  * matrix); per row the kernel loads a byte vector with the short species'
  * lane count, sign-extends it to shorts in registers (B2S), and multiplies
  * by the query, which is widened once to short[]. |x * q| <= 128^2 fits a
  * short lane, and the products accumulate exactly into int lanes
  * (|dot| <= dim * 128^2, so int never overflows for dim < 131k). Scores
  * are bitwise identical to the scalar path: integer dot + the same double
  * expression (VectorKernels.cosineFromParts).
  *
  * Requires `--add-modules jdk.incubator.vector` on the JVM (set in
  * build.sbt; on a real cluster add it to spark.executor.extraJavaOptions).
  * Callers check `SimdSupport.available` and fall back to the scalar loop.
  */
object SimdKernels {

  private val IS = IntVector.SPECIES_PREFERRED
  private val SS = ShortVector.SPECIES_PREFERRED
  // SS's lane count at half its bit size: one byte load widens to one
  // short vector
  private val BS: VectorSpecies[java.lang.Byte] =
    VectorSpecies.of(java.lang.Byte.TYPE, VectorShape.forBitSize(SS.vectorBitSize() / 2))

  /** Force class init + intrinsic availability (throws if the module is
    * absent — callers probe through SimdSupport). */
  def probe(): Int = SS.length() + BS.length()

  /** Exact int8 dot product of row `base..base+dim` against q. */
  def dot(data: Array[Byte], base: Int, q: Array[Short], dim: Int): Int = {
    val step = SS.length()
    val main = dim - dim % step
    var acc0 = IntVector.zero(IS)
    var acc1 = IntVector.zero(IS)
    var i = 0
    while (i < main) {
      val prod = ByteVector.fromArray(BS, data, base + i)
        .convertShape(VectorOperators.B2S, SS, 0).asInstanceOf[ShortVector]
        .mul(ShortVector.fromArray(SS, q, i))
      acc0 = acc0.add(prod.convert(VectorOperators.S2I, 0).asInstanceOf[IntVector])
      acc1 = acc1.add(prod.convert(VectorOperators.S2I, 1).asInstanceOf[IntVector])
      i += step
    }
    var dot = acc0.add(acc1).reduceLanes(VectorOperators.ADD)
    while (i < dim) { dot += data(base + i) * q(i); i += 1 }
    dot
  }

  /** Scan rows [rowStart, rowEnd) of a packed int8 corpus, keeping the k
    * best (score DESC, id ASC) in `buf`. */
  def scanTopK(
      data: Array[Byte], rowNorms: Array[Long], ids: Array[Long],
      rowStart: Int, rowEnd: Int, dim: Int,
      q: Array[Short], qNormSq: Long, buf: TopKBuffer): Unit = {
    var row = rowStart
    while (row < rowEnd) {
      val d = dot(data, row * dim, q, dim)
      buf.insert(VectorKernels.cosineFromParts(d.toLong, rowNorms(row), qNormSq), ids(row))
      row += 1
    }
  }

  /** The same dot over rows widened to short[] (2 bytes/component). No
    * engine path packs shorts; kept for the `enginebench` kernel and gang
    * probes and as a spec reference. */
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

  /** [[scanTopK]] over short[] rows. No engine path calls it; kept for the
    * `enginebench` kernel and gang probes and as a spec reference. */
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
      data: Array[Byte], rowNorms: Array[Long], ids: Array[Long],
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

  /** The exact int8 scan the serving engine runs (store.Int8Codec). */
  def scan(
      data: Array[Byte], rowNorms: Array[Long], ids: Array[Long],
      rowStart: Int, rowEnd: Int, dim: Int,
      q: Array[Short], qNormSq: Long, buf: TopKBuffer): Unit =
    if (available)
      SimdKernels.scanTopK(data, rowNorms, ids, rowStart, rowEnd, dim, q, qNormSq, buf)
    else
      scanTopKScalar(data, rowNorms, ids, rowStart, rowEnd, dim, q, qNormSq, buf)

  /** Scalar twin of the short[] SimdKernels.scanTopK. No engine path calls
    * it; kept as a spec reference. */
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

  /** [[scan]] over short[] rows. No engine path calls it: the `enginebench`
    * `serve` kernel and gang probes (`kernel.int8_scan_ns_per_row`,
    * `gang.dispatch_us`) do, so it goes when the benchmark moves to the
    * byte[] scan. */
  def scan(
      data: Array[Short], rowNorms: Array[Long], ids: Array[Long],
      rowStart: Int, rowEnd: Int, dim: Int,
      q: Array[Short], qNormSq: Long, buf: TopKBuffer): Unit =
    if (available)
      SimdKernels.scanTopK(data, rowNorms, ids, rowStart, rowEnd, dim, q, qNormSq, buf)
    else
      scanTopKScalar(data, rowNorms, ids, rowStart, rowEnd, dim, q, qNormSq, buf)
}
