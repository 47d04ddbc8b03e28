package graft.store

import graft.functions.VectorKernels
import org.apache.spark.sql.{DataFrame, SparkSession}

// The six in-process serving tiers: each is one router x codec (x rescore)
// configuration of the ServingEngine, with the constructors and methods
// callers use. Exact int8 tiers score bitwise like the distributed
// cosine_int8 path; compressed tiers either return their approximate
// scores (flat PQ / BQ: the raw scan) or rescore a candidate funnel
// exactly (IVF-PQ / IVF-BQ).

/** Flat x int8: the in-process replica of a [[QuantizedIndex]] — every row
  * SIMD-scanned, same scores as the distributed path (bitwise), no job
  * scheduling per query; the faithful analog of the reference's prange
  * kernel (pythonvectordb.py:25-67). */
final class LocalIndex(blocks: Array[VectorBlock], val dim: Int) {

  val count: Int = blocks.map(_.n).sum

  private val engine = ServingEngine.flatInt8(blocks, dim, ServingEngine.width(count))

  def search(q: Array[Byte], k: Int): Seq[(Long, Double)] = {
    require(q.length == dim, s"query dimension ${q.length} != $dim")
    engine.search(engine.allUnits, new Int8Query(q), null, k, 0)
  }
}

/** Flat x PQ: the residency tier at serving time — m LUT adds per row over
  * m bytes/row (16x smaller than int8) instead of dim multiply-adds.
  * Scores are the approximate ADC sums (bitwise VectorKernels.pqAdc);
  * production rescores the top-candK exactly, Bench measures the raw scan.
  * Codes layout: row-major n*m bytes. */
final class LocalPqIndex(ids: Array[Long], codes: Array[Byte],
    m: Int, k: Int, codebook: Array[Double]) {
  require(ids.nonEmpty, "empty index")
  require(codes.length == ids.length * m,
    s"codes ${codes.length} != ${ids.length}*$m")
  val count: Int = ids.length

  private val engine = ServingEngine.flat(ids, new PqCodec(codes, m, k))

  /** ADC top-`topK` (score DESC, id ASC) for a raw float query. */
  def search(q: Array[Float], topK: Int): Seq[(Long, Double)] =
    engine.search(engine.allUnits, VectorKernels.pqLut(q, codebook, m, k), null, topK, 0)
}

/** Flat x sign bits: ceil(dim/64) XOR+popcount words per row (16 B at dim
  * 128, L2-resident at 50k rows). Scores are NEGATED Hamming distances
  * (ties by ascending id). Codes layout: row-major n*words longs. */
final class LocalBqIndex(ids: Array[Long], codes: Array[Long], words: Int) {
  require(ids.nonEmpty, "empty index")
  require(codes.length == ids.length * words,
    s"codes ${codes.length} != ${ids.length}*$words")
  val count: Int = ids.length

  private val engine = ServingEngine.flat(ids, new BqCodec(codes, words))

  /** Top-`topK` by ascending Hamming distance for a pre-packed query code. */
  def search(q: Array[Long], topK: Int): Seq[(Long, Double)] = {
    require(q.length == words, s"query words ${q.length} != $words")
    engine.search(engine.allUnits, q, null, topK, 0)
  }
}

object LocalBqIndex {
  /** Pack float vectors (ids aligned by index) into a replica. */
  def build(ids: Array[Long], vecs: Array[Array[Float]]): LocalBqIndex = {
    require(ids.length == vecs.length && ids.nonEmpty, "mismatched build input")
    val words = (vecs(0).length + 63) / 64
    val codes = new Array[Long](ids.length * words)
    var r = 0
    while (r < vecs.length) {
      System.arraycopy(VectorKernels.signPack(vecs(r)), 0, codes, r * words, words)
      r += 1
    }
    new LocalBqIndex(ids, codes, words)
  }
}

/** IVF x int8: a query ranks the coarse centroids, then SIMD-scans only
  * its `nprobe` nearest cells, so per-query work is the routing cost plus
  * an `nprobe / numCells` fraction of the corpus. Scores are the flat
  * tier's exact int8 cosines, so recall vs the flat scan is a pure routing
  * property, and nprobe = numCells reproduces the flat scan (LocalIvfSpec). */
final class LocalIvfIndex private (engine: ServingEngine[Int8Query], val dim: Int) {

  val numCells: Int = engine.numUnits
  val count: Int = engine.count

  // the int8 query routes through its exact float image
  private def route(q: Array[Byte], nprobe: Int): Array[Int] =
    engine.route(q.map(_.toFloat), nprobe)

  /** Rows scanned by an `nprobe`-cell probe of this query. */
  def probedRows(q: Array[Byte], nprobe: Int): Int = engine.rows(route(q, nprobe))

  /** Probed search: route to `nprobe` cells, exact int8 scan within them. */
  def search(q: Array[Byte], k: Int, nprobe: Int): Seq[(Long, Double)] = {
    require(q.length == dim, s"query dimension ${q.length} != $dim")
    engine.search(route(q, nprobe), new Int8Query(q), null, k, 0)
  }
}

object LocalIvfIndex {

  private def of(cents: Array[Array[Float]], p: Packer, dim: Int): LocalIvfIndex =
    new LocalIvfIndex(ServingEngine.ivf(cents, p, p.int8Codec, null), dim)

  /** Driver-side spherical k-means (seeded sample init + `iters` Lloyd
    * refinements over a bounded sample, then one full assignment pass),
    * for corpora that have no at-rest layout. */
  def train(ids: Array[Long], vecs: Array[Array[Float]], numCells: Int,
      nprobeSample: Int = 10000, iters: Int = 5, seed: Long = 11L): LocalIvfIndex = {
    val (cents, p) = ServingEngine.train(ids, vecs, numCells, nprobeSample, iters, seed)((_, _, _) => ())
    of(cents, p, vecs(0).length)
  }

  /** In-process replica of an at-rest [[IvfIndex]] layout, guarded like
    * QuantizedIndex.toLocal (see ServingEngine.loadAtRest). */
  def fromAtRest(spark: SparkSession, path: String,
      maxLocalBytes: Long = QuantizedIndex.DefaultMaxLocalBytes): LocalIvfIndex = {
    val (cents, p) = ServingEngine.loadAtRest(spark, path, null, null, 0, false,
      "IvfIndex", maxLocalBytes)((_, _, _) => ())
    of(cents, p, cents(0).length)
  }
}

/** IVF x compressed codes x exact int8 rescore (FAISS `IVFx,PQy` + refine):
  * route on the coarse centroids, scan only the probed cells' compressed
  * codes, exact-rescore the top `candK` candidates on their int8 codes.
  * The int8 array is touched candK rows per query, never scanned. With
  * candK >= the probed row count a search EQUALS [[exactInProbe]]
  * (LocalIvfQuantSpec); with a fixed build results are bitwise
  * reproducible. */
sealed abstract class LocalIvfRescoredIndex[Q] private[store] (
    engine: ServingEngine[Q], val dim: Int) {

  val numCells: Int = engine.numUnits
  val count: Int = engine.count

  /** The query prepared for the scan codec. */
  protected def prepare(q: Array[Float]): Q

  /** Rows code-scanned by an `nprobe`-cell probe of this query. */
  def probedRows(q: Array[Float], nprobe: Int): Int = engine.rows(engine.route(q, nprobe))

  /** The rescore-everything reference path: identical routing, exact int8
    * scan of EVERY probed row. At nprobe = numCells it equals the flat
    * tier's exact search. */
  def exactInProbe(q: Array[Float], topK: Int, nprobe: Int): Seq[(Long, Double)] = {
    require(q.length == dim, s"query dimension ${q.length} != $dim")
    engine.exactInProbe(engine.route(q, nprobe), new Int8Query(VectorKernels.quantize(q)), topK)
  }

  /** Route -> code scan of the probed cells -> exact int8 rescore of the
    * top `candK` candidates -> top-`topK` (score DESC, vec_id ASC). */
  def search(q: Array[Float], topK: Int, nprobe: Int, candK: Int): Seq[(Long, Double)] = {
    require(q.length == dim, s"query dimension ${q.length} != $dim")
    require(candK >= topK, s"candK $candK < topK $topK")
    engine.search(engine.route(q, nprobe), prepare(q),
      new Int8Query(VectorKernels.quantize(q)), topK, candK)
  }
}

/** IVF x PQ (m bytes/row, ADC over the query's LUT) x exact rescore. */
final class LocalIvfPqIndex private (engine: ServingEngine[Array[Double]],
    m: Int, kSub: Int, codebook: Array[Double], dim: Int)
    extends LocalIvfRescoredIndex[Array[Double]](engine, dim) {
  protected def prepare(q: Array[Float]): Array[Double] = VectorKernels.pqLut(q, codebook, m, kSub)
}

object LocalIvfPqIndex {

  private def of(cents: Array[Array[Float]], p: Packer, m: Int, kSub: Int,
      codebook: Array[Double], dim: Int): LocalIvfPqIndex =
    new LocalIvfPqIndex(ServingEngine.ivf(cents, p, new PqCodec(p.pq, m, kSub), p.int8Codec),
      m, kSub, codebook, dim)

  /** In-process replica of an at-rest [[IvfPqIndex]] layout (plain-PQ form
    * only): ADC-scans the SAME frozen-codebook codes and rescores on int8
    * codes quantized from the caller-supplied float source `emb`, exactly
    * as IvfPqIndex.probeRescored. Refuses OPQ-rotated and residual-coded
    * layouts (their coding spaces need the probe-side rotation / per-cell
    * q·c constants — use the distributed probes there); the refusal is the
    * format-flag sidecar check, so a replica can never silently mis-score
    * a rotated index. */
  def fromAtRest(spark: SparkSession, path: String, emb: DataFrame,
      maxLocalBytes: Long = QuantizedIndex.DefaultMaxLocalBytes): LocalIvfPqIndex = {
    require(!IvfLayout.has(spark, path, "rotation"),
      "fromAtRest: OPQ-rotated layout — the replica scans original-space " +
        "LUTs; use IvfPqIndex.probe (distributed) for rotated indexes")
    require(!IvfPqIndex.isResidual(spark, path),
      "fromAtRest: residual-coded layout — ADC needs per-cell q·c " +
        "constants; use IvfPqIndex.probe (distributed)")
    val m = graft.ops.PqQueries.M
    val kSub = graft.ops.PqQueries.K
    val cb = IvfPqIndex.readCodebook(spark, path)
    val (cents, p) = ServingEngine.loadAtRest(spark, path, emb, "codes", m, false,
      "IvfPqIndex", maxLocalBytes) { (p, slot, r) =>
      val pc = r.getAs[Array[Byte]](3)
      require(pc.length == m, s"fromAtRest: code width ${pc.length} != $m")
      System.arraycopy(pc, 0, p.pq, slot * m, m)
    }
    of(cents, p, m, kSub, cb, cents(0).length)
  }

  /** Train: coarse centroids via the shared bounded k-means, rows packed
    * cell-major with PQ codes + int8 rescore codes. The PQ codebook is
    * caller-supplied (the PqQueries training path). */
  def train(ids: Array[Long], vecs: Array[Array[Float]], numCells: Int,
      m: Int, kSub: Int, codebook: Array[Double],
      nprobeSample: Int = 10000, iters: Int = 5, seed: Long = 11L): LocalIvfPqIndex = {
    val (cents, p) = ServingEngine.train(ids, vecs, numCells, nprobeSample, iters, seed, pqM = m) {
      (p, slot, v) => System.arraycopy(VectorKernels.pqEncode(v, codebook, m, kSub), 0, p.pq, slot * m, m)
    }
    of(cents, p, m, kSub, codebook, vecs(0).length)
  }
}

/** IVF x sign bits (8*words bytes/row, XOR+popcount) x exact rescore;
  * candidates rank by negated Hamming distance. */
final class LocalIvfBqIndex private (engine: ServingEngine[Array[Long]], dim: Int)
    extends LocalIvfRescoredIndex[Array[Long]](engine, dim) {
  protected def prepare(q: Array[Float]): Array[Long] = VectorKernels.signPack(q)
}

object LocalIvfBqIndex {

  private def of(cents: Array[Array[Float]], p: Packer, words: Int, dim: Int): LocalIvfBqIndex =
    new LocalIvfBqIndex(ServingEngine.ivf(cents, p, new BqCodec(p.bq, words), p.int8Codec), dim)

  /** In-process replica of an at-rest [[IvfBqIndex]] layout: Hamming-scans
    * the SAME at-rest sign codes (training-free — no quantizer can be
    * stale), rescores on int8 quantized from the caller-supplied float
    * source `emb`. */
  def fromAtRest(spark: SparkSession, path: String, emb: DataFrame,
      maxLocalBytes: Long = QuantizedIndex.DefaultMaxLocalBytes): LocalIvfBqIndex = {
    val (cents, p) = ServingEngine.loadAtRest(spark, path, emb, "code", 0, true,
      "IvfBqIndex", maxLocalBytes) { (p, slot, r) =>
      val code = r.getSeq[Long](3)
      require(code.length == p.bqWords, s"fromAtRest: code width ${code.length} != ${p.bqWords}")
      code.copyToArray(p.bq, slot * p.bqWords)
    }
    of(cents, p, p.bqWords, cents(0).length)
  }

  /** Train: shared bounded k-means centroids, rows packed cell-major with
    * sign-bit scan codes + int8 rescore codes. */
  def train(ids: Array[Long], vecs: Array[Array[Float]], numCells: Int,
      nprobeSample: Int = 10000, iters: Int = 5, seed: Long = 11L): LocalIvfBqIndex = {
    val (cents, p) = ServingEngine.train(ids, vecs, numCells, nprobeSample, iters, seed, bq = true) {
      (p, slot, v) => System.arraycopy(VectorKernels.signPack(v), 0, p.bq, slot * p.bqWords, p.bqWords)
    }
    of(cents, p, p.bqWords, vecs(0).length)
  }
}
