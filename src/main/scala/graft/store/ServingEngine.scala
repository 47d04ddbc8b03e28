package graft.store

import graft.functions.{SimdSupport, TopKBuffer, VectorKernels}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** The one in-process serving engine behind the six `Local*Index` tiers,
  * composed from three parts (the FAISS index-factory shape: `Flat`,
  * `PQ`, `IVF,PQ` + refine):
  *
  *  - a ROUTER over one flat row layout: either fixed row chunks (one per
  *    gang participant; every query visits all of them) or IVF cells laid
  *    out cell-major (cell c's rows at [unitStart(c), unitStart(c+1)),
  *    a query visits its `nprobe` nearest unit centroids);
  *  - a SCAN CODEC that scores a row range for one prepared query: exact
  *    int8 cosine (SimdSupport.scan), PQ asymmetric distance, or negated
  *    sign-bit Hamming distance;
  *  - an optional exact int8 RESCORE of the codec's top `candK`
  *    candidates, so the final ranking is exact over the candidate set.
  *
  * The codec is dispatched once per scan unit (a chunk or a cell), never
  * per row, so each codec's inner loop stays monomorphic for the JIT.
  *
  * Concurrency (NOT the reference's RLock, pythonvectordb.py:362, which
  * serializes every search): a lone caller takes the process-wide
  * [[ScanGang]] for minimum latency; a caller that finds it busy scans on
  * its OWN thread instead of queueing, so aggregate throughput scales with
  * cores. The layout is immutable after construction, so unsynchronized
  * reads are safe; TopKBuffer's and CandidateHeap's total (score desc,
  * key asc) order makes gang-merged and calling-thread results bitwise
  * identical (SimdSpec). */
private[store] final class ServingEngine[Q](
    unitCentroids: Array[Array[Float]], // unit vectors; null = row chunks
    unitStart: Array[Int],
    ids: Array[Long],
    codec: ScanCodec[Q],
    rescore: Int8Codec) { // null = the codec's scores are final

  val count: Int = ids.length
  val numUnits: Int = unitStart.length - 1
  val allUnits: Array[Int] = Array.range(0, numUnits)
  private val width = ServingEngine.width(count)

  /** The query's top-`nprobe` units by unit-centroid dot product (= cosine
    * rank, deterministic unit-id tie-break). An int8 query routes through
    * its exact float image, so int8 and float queries share this. */
  def route(q: Array[Float], nprobe: Int): Array[Int] = {
    if (nprobe <= 0) return Array.emptyIntArray
    // TopKBuffer's (score DESC, id ASC) order is the unit-id tie-break
    val top = new TopKBuffer(math.min(nprobe, numUnits))
    var c = 0
    while (c < numUnits) {
      val cent = unitCentroids(c)
      var s = 0.0
      var i = 0
      while (i < cent.length) { s += q(i).toDouble * cent(i); i += 1 }
      top.insert(s, c)
      c += 1
    }
    Array.tabulate(top.size)(j => top.ids(j).toInt)
  }

  /** Rows a search over `units` scans (the measured scan fraction). */
  def rows(units: Array[Int]): Int = units.iterator.map(u => unitStart(u + 1) - unitStart(u)).sum

  /** The rescore-everything reference path: exact int8 scan of EVERY row
    * of `units`. A rescored search with candK >= rows(units) equals it
    * bitwise (spec-gated). */
  def exactInProbe(units: Array[Int], q8: Int8Query, topK: Int): Seq[(Long, Double)] = {
    val out = new TopKBuffer(topK)
    units.foreach(u => rescore.top(q8, unitStart(u), unitStart(u + 1), ids, out))
    ServingEngine.result(out)
  }

  /** Scan `units` with the codec and, when the engine rescores, re-rank
    * its top `candK` candidates exactly on `q8`. */
  def search(units: Array[Int], q: Q, q8: Int8Query, topK: Int, candK: Int): Seq[(Long, Double)] =
    ServingEngine.result(top(units, q, q8, topK, candK))

  /** [[search]]'s merged top-`topK` buffer. One unit, or too few rows for
    * fan-out, scans on the calling thread and never takes the gang. */
  def top(units: Array[Int], q: Q, q8: Int8Query, topK: Int, candK: Int): TopKBuffer = {
    val parts = math.min(width, units.length)
    val gangOuts = new Array[TopKBuffer](parts)
    val outs =
      if (parts > 1 && ScanGang.shared.tryRun(task(units, q, q8, topK, candK, gangOuts))) gangOuts
      else {
        // gang busy (concurrent burst), one unit, or too few rows for
        // fan-out: the same task as one participant on the calling thread
        val one = new Array[TopKBuffer](1)
        task(units, q, q8, topK, candK, one)(0)
        one
      }
    val merged = new TopKBuffer(topK)
    outs.foreach(merged.mergeFrom)
    merged
  }

  /** One participant's share of a search over `outs.length` participants;
    * participant w scans units w, w + parts, ... and leaves its top-k in
    * outs(w). Participants beyond `parts` return at once. */
  private def task(units: Array[Int], q: Q, q8: Int8Query, topK: Int, candK: Int,
      outs: Array[TopKBuffer]): Int => Unit = {
    val parts = outs.length
    if (rescore == null) { w =>
      if (w < parts) {
        val buf = new TopKBuffer(topK)
        var i = w
        while (i < units.length) {
          val u = units(i)
          codec.top(q, unitStart(u), unitStart(u + 1), ids, buf)
          i += parts
        }
        outs(w) = buf
      }
    } else {
      // ONE gang dispatch per query: the gang's wake/join latency dominates
      // a rescored tier's actual work (measured: a second dispatch halved
      // QPS), so three phases run inside a single dispatch:
      //  A (parallel): each participant keeps ITS top-candK candidates and
      //    heap-sorts them in place, keeping near-tie sift work parallel;
      //  B (one participant): the LAST one through the barrier selects the
      //    global top-candK by a k-way head merge of the sorted lists (no
      //    duplicates: each row is scanned by exactly one participant);
      //  C (parallel): exact rescore of the scattered candidate rows —
      //    DRAM-latency bound, so the independent misses stride over the
      //    participants.
      val cands = new Array[CandidateHeap](parts)
      val candIdx = new Array[Int](candK)
      val doneA = new java.util.concurrent.atomic.AtomicInteger(0)
      val cnBox = new java.util.concurrent.atomic.AtomicInteger(-1)
      w => if (w < parts) {
        // The barrier MUST be reached (finally) and the select MUST publish
        // (finally, 0-candidate sentinel on failure): a crash in phase A or
        // in the select would otherwise leave peers spinning on cnBox
        // forever. The crash itself still surfaces: ScanGang.run rethrows
        // the first stashed failure on the query thread.
        try {
          val buf = new CandidateHeap(candK)
          var i = w
          while (i < units.length) {
            val u = units(i)
            codec.candidates(q, unitStart(u), unitStart(u + 1), buf)
            i += parts
          }
          // one list is taken whole by the select: no sort needed
          if (parts > 1) buf.sortIntoDesc()
          cands(w) = buf
        } finally {
          if (doneA.incrementAndGet() == parts) {
            var cn = 0
            try cn = CandidateSelect.kWayTopIdx(cands, candK, candIdx)
            finally cnBox.set(cn) // release: publishes candIdx (or the sentinel)
          } else {
            while (cnBox.get() < 0) Thread.onSpinWait()
          }
        }
        val cn = cnBox.get()
        val o = new TopKBuffer(topK)
        var j = w
        while (j < cn) {
          val r = candIdx(j)
          rescore.top(q8, r, r + 1, ids, o)
          j += parts
        }
        outs(w) = o
      }
    }
  }
}

private[store] object ServingEngine {

  /** Gang participants a corpus of `n` rows can keep busy: >= 2,048 rows
    * each, so small corpora don't pay dispatch overhead (and never start
    * the gang). */
  def width(n: Int): Int = math.max(1, math.min(ScanGang.MaxParticipants, n / 2048))

  def result(b: TopKBuffer): Seq[(Long, Double)] =
    (0 until b.size).map(j => (b.ids(j), b.scores(j)))

  /** Flat router: one row chunk per gang participant the corpus can keep
    * busy. */
  def flat[Q](ids: Array[Long], codec: ScanCodec[Q]): ServingEngine[Q] = flat(ids, codec, width(ids.length))

  /** Flat router over `chunks` row chunks; one chunk always scans on the
    * calling thread. */
  def flat[Q](ids: Array[Long], codec: ScanCodec[Q], chunks: Int): ServingEngine[Q] = {
    val n = ids.length
    val per = (n + chunks - 1) / chunks
    new ServingEngine(null, Array.tabulate(chunks + 1)(c => math.min(n, c * per)), ids, codec, null)
  }

  /** Flat exact int8 engine over one packed copy of the blocks' rows, in
    * block order (the in-process replica; a single block's own engine
    * scans its arrays in place, see [[VectorBlock]]). */
  def flatInt8(blocks: Array[VectorBlock], dim: Int, chunks: Int): ServingEngine[Int8Query] = {
    val p = new Packer(Array(blocks.map(_.n.toLong).sum), dim)
    blocks.foreach { b =>
      var r = 0
      while (r < b.n) { p.add(0, b.ids(r), b.data, r * dim); r += 1 }
    }
    flat(p.ids, p.int8Codec, chunks)
  }

  /** IVF router over a cell-major [[Packer]] layout. */
  def ivf[Q](unitCentroids: Array[Array[Float]], p: Packer, codec: ScanCodec[Q],
      rescore: Int8Codec): ServingEngine[Q] =
    new ServingEngine(unitCentroids, p.cellStart, p.ids, codec, rescore)

  // ---- the coarse quantizer shared by the IVF tiers ----------------------

  def normalize(cs: Array[Array[Float]]): Array[Array[Float]] =
    cs.map { c =>
      var n = 0.0
      var i = 0
      while (i < c.length) { n += c(i).toDouble * c(i); i += 1 }
      val inv = if (n == 0.0) 0.0 else 1.0 / math.sqrt(n)
      c.map(x => (x * inv).toFloat)
    }

  /** Cosine argmax = dot argmax against unit centroids (|v| constant). */
  def argmaxCell(v: Array[Float], unitCents: Array[Array[Float]]): Int = {
    var best = 0
    var bestS = Double.NegativeInfinity
    var c = 0
    while (c < unitCents.length) {
      val cent = unitCents(c)
      var s = 0.0
      var i = 0
      while (i < v.length) { s += v(i).toDouble * cent(i); i += 1 }
      if (s > bestS) { bestS = s; best = c }
      c += 1
    }
    best
  }

  /** Driver-side spherical k-means: seeded sample init + `iters` Lloyd
    * refinements over a bounded sample. Work is O(sample x numCells x dim
    * x iters). Returns UNIT centroids (routing ranks by dot). */
  def trainCentroids(vecs: Array[Array[Float]], numCells: Int,
      nprobeSample: Int, iters: Int, seed: Long): Array[Array[Float]] = {
    require(vecs.nonEmpty, "trainCentroids: empty corpus")
    require(numCells > 0 && numCells <= vecs.length,
      s"trainCentroids: numCells $numCells out of range for ${vecs.length} vectors")
    val dim = vecs(0).length
    val rnd = new scala.util.Random(seed)
    val sample =
      if (vecs.length <= nprobeSample) vecs
      else Array.fill(nprobeSample)(vecs(rnd.nextInt(vecs.length)))
    // init: distinct random sample rows
    var cents = normalize(rnd.shuffle(sample.indices.toVector)
      .take(numCells).map(i => sample(i).clone()).toArray)
    var it = 0
    while (it < iters) {
      val sums = Array.fill(numCells)(new Array[Double](dim))
      val ns = new Array[Int](numCells)
      sample.foreach { v =>
        val c = argmaxCell(v, cents)
        val s = sums(c)
        var i = 0
        while (i < dim) { s(i) += v(i); i += 1 }
        ns(c) += 1
      }
      cents = normalize(Array.tabulate(numCells) { c =>
        if (ns(c) == 0) cents(c) // empty cell keeps its centroid
        else sums(c).map(x => (x / ns(c)).toFloat)
      })
      it += 1
    }
    cents
  }

  /** Train the coarse quantizer, then one full assignment pass packs every
    * row cell-major: its int8 code, plus whatever scan code `encode`
    * writes at the row's slot. Returns (unit centroids, layout). */
  def train(ids: Array[Long], vecs: Array[Array[Float]], numCells: Int,
      nprobeSample: Int, iters: Int, seed: Long, pqM: Int = 0, bq: Boolean = false)(
      encode: (Packer, Int, Array[Float]) => Unit): (Array[Array[Float]], Packer) = {
    require(ids.length == vecs.length && ids.nonEmpty, "mismatched build input")
    val cents = trainCentroids(vecs, numCells, nprobeSample, iters, seed)
    val cells = vecs.map(argmaxCell(_, cents))
    val counts = new Array[Long](numCells)
    cells.foreach(c => counts(c) += 1)
    val p = new Packer(counts, vecs(0).length, pqM, bq)
    var r = 0
    while (r < ids.length) {
      val slot = p.add(cells(r), ids(r), VectorKernels.quantize(vecs(r)), 0)
      encode(p, slot, vecs(r))
      r += 1
    }
    (cents, p)
  }

  /** In-process replica of an at-rest IVF layout (IvfIndex, IvfPqIndex,
    * IvfBqIndex): routes on the SAME saved centroids sidecar the
    * distributed probes use (normalized: they rank cells by cosine) and
    * reuses the at-rest cell assignment verbatim (the frozen-quantizer
    * contract — a rebuild that refreshes the sidecar refreshes replicas on
    * their next load).
    *
    * Int8 codes are quantized EXECUTOR-side (the codegen'd
    * QuantizeInt8Expr, the same VectorKernels.quantize) from the layout's
    * own `embedding` column, or, when `emb` is given, from that float
    * source joined on vec_id (the compressed layouts keep no floats);
    * `codeCol` names the layout's scan-code column, read as row field 3.
    * Rows are streamed with toLocalIterator straight into the packed
    * arrays, so only about one partition of rows is resident beside them.
    * Guarded: a cell histogram (a tiny aggregate) sizes the layout first,
    * and corpora whose replica would exceed `maxLocalBytes` are refused
    * with the distributed probe named as the alternative. */
  def loadAtRest(spark: SparkSession, path: String, emb: DataFrame, codeCol: String,
      pqM: Int, bq: Boolean, distributed: String, maxLocalBytes: Long)(
      encode: (Packer, Int, Row) => Unit): (Array[Array[Float]], Packer) = {
    // the float image of the saved doubles (Java's (float), as Spark's
    // double -> float cast)
    val centRows = IvfLayout.readCentroids(spark, path).map { case (c, v) => c -> v.map(_.toFloat) }
    require(centRows.nonEmpty, s"fromAtRest: no centroids under $path")
    // cells are hive-partition values; remap (possibly sparse) ids to a
    // dense [0, numCells) routing index
    val cellOf = centRows.map(_._1).zipWithIndex.toMap
    val dim = centRows(0)._2.length
    val layout = spark.read.parquet(s"$path/data")
    val counts = new Array[Long](centRows.length)
    layout.groupBy(col("cell")).count().collect()
      .foreach(r => counts(cellOf(r.getInt(0))) = r.getLong(1))
    // guard BEFORE any Int conversion: a count past 2^31 would wrap
    val n = counts.sum
    require(n <= Int.MaxValue, s"fromAtRest: corpus too large ($n rows)")
    // replica peak: the packed layout plus the streamed rows (~5*dim +
    // object overhead per vector)
    val peak = n * (Packer.bytesPerRow(dim, pqM, bq) + 5L * dim + 80L)
    require(peak <= maxLocalBytes,
      s"fromAtRest refused: materializing this corpus needs ~$peak bytes " +
        s"of driver heap at peak (> limit $maxLocalBytes). Use $distributed" +
        ".probe (distributed), or raise the limit explicitly.")
    val q8 = graft.functions.VectorOps.quantizeInt8(col("embedding").cast("array<float>")).as("q")
    val rows =
      if (emb == null) layout.select(col("vec_id"), col("cell"), q8)
      else layout.select(col("vec_id"), col("cell"), col(codeCol))
        .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
        .select(col("vec_id"), col("cell"), q8, col(codeCol))
    val p = new Packer(counts, dim, pqM, bq)
    val it = rows.toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      val code = r.getAs[Array[Byte]](2)
      require(code.length == dim, s"fromAtRest: embedding dim ${code.length} != $dim")
      encode(p, p.add(cellOf(r.getInt(1)), r.getLong(0), code, 0), r)
    }
    require(p.filled == n,
      s"fromAtRest: ${p.filled} of $n indexed rows loaded — the layout changed " +
        "during the load, or the float source misses indexed vec_ids")
    (normalize(centRows.map(_._2)), p)
  }
}

/** A cell-major flat layout being filled row by row: cell c's rows land at
  * [cellStart(c), cellStart(c+1)) in arrival order, each with its id, its
  * int8 code (the bytes the SIMD kernel scans) and squared norm, and room
  * for `pqM` PQ code bytes and, when `signs`, the dim's sign-bit words. */
private[store] final class Packer(counts: Array[Long], dim: Int, pqM: Int = 0, signs: Boolean = false) {
  val bqWords: Int = Packer.bqWords(dim, signs)
  val cellStart: Array[Int] = counts.scanLeft(0L)(_ + _).map(_.toInt)
  private val n = cellStart.last
  val ids = new Array[Long](n)
  val int8 = new Array[Byte](n * dim)
  val norms = new Array[Long](n)
  val pq = new Array[Byte](n * pqM)
  val bq = new Array[Long](n * bqWords)
  private val fill = cellStart.clone()
  var filled = 0

  /** Append one row whose int8 code is code(off until off + dim) to
    * `cell`; returns the row's slot. */
  def add(cell: Int, id: Long, code: Array[Byte], off: Int): Int = {
    val slot = fill(cell)
    require(slot < cellStart(cell + 1), s"more rows in cell $cell than counted")
    fill(cell) = slot + 1
    ids(slot) = id
    System.arraycopy(code, off, int8, slot * dim, dim)
    norms(slot) = Int8Codec.normSq(code, off, dim)
    filled += 1
    slot
  }

  def int8Codec: Int8Codec = new Int8Codec(int8, norms, dim)
}

private[store] object Packer {
  def bqWords(dim: Int, signs: Boolean): Int = if (signs) (dim + 63) / 64 else 0

  /** Heap bytes per row of the packed layout: id (8), int8 code (dim),
    * squared norm (8), PQ code (pqM) and sign words (8 each). The driver
    * guards of the in-process replicas add their own transient part to it. */
  def bytesPerRow(dim: Int, pqM: Int = 0, signs: Boolean = false): Long =
    8L + dim + 8L + pqM + 8L * bqWords(dim, signs)
}

/** Scores a row range [lo, hi) of the flat layout for one prepared query. */
private[store] abstract class ScanCodec[Q] {
  /** Final scores, keyed by vec id (tiers without a rescore). */
  def top(q: Q, lo: Int, hi: Int, ids: Array[Long], buf: TopKBuffer): Unit

  /** Candidate scores, keyed by flat row index (the rescore's handle;
    * ties break in cell-major row order). */
  def candidates(q: Q, lo: Int, hi: Int, buf: CandidateHeap): Unit =
    throw new UnsupportedOperationException(s"${getClass.getSimpleName} scores are exact")
}

/** An int8 query prepared for the SIMD kernel: widened once to shorts. */
private[store] final class Int8Query(q: Array[Byte]) {
  val shorts: Array[Short] = q.map(_.toShort)
  val normSq: Long = VectorKernels.normSqInt8(q)
}

/** Exact int8 cosine: the SIMD kernel over the packed int8 rows, bitwise
  * equal to the declarative cosine_int8 path. */
private[store] final class Int8Codec(data: Array[Byte], norms: Array[Long], dim: Int)
    extends ScanCodec[Int8Query] {
  def top(q: Int8Query, lo: Int, hi: Int, ids: Array[Long], buf: TopKBuffer): Unit =
    SimdSupport.scan(data, norms, ids, lo, hi, dim, q.shorts, q.normSq, buf)
}

private[store] object Int8Codec {
  /** Exact squared norm of the int8 row code(off until off + dim). */
  def normSq(code: Array[Byte], off: Int, dim: Int): Long = {
    var j = 0
    var nn = 0L
    while (j < dim) {
      val x = code(off + j)
      nn += x.toLong * x
      j += 1
    }
    nn
  }
}

/** PQ asymmetric distance: m LUT reads + adds per row over m code bytes
  * (row r at [r*m, r*m+m)); the query is its ADC lookup table. */
private[store] final class PqCodec(codes: Array[Byte], m: Int, kSub: Int)
    extends ScanCodec[Array[Double]] {

  /** Serial sum — bitwise VectorKernels.pqAdc (PqSpec), since these are
    * the flat PQ tier's final scores. */
  def top(lut: Array[Double], lo: Int, hi: Int, ids: Array[Long], buf: TopKBuffer): Unit = {
    var r = lo
    while (r < hi) {
      val base = r * m
      var acc = 0.0
      var sub = 0
      while (sub < m) {
        acc += lut(sub * kSub + (codes(base + sub) & 0xff))
        sub += 1
      }
      buf.insert(acc, ids(r))
      r += 1
    }
  }

  /** Four independent accumulator chains instead of one: a single chain is
    * a DEPENDENT double-add chain (~4-cycle FP-add latency x m), which
    * capped the 1M-point ADC scan at the int8 dot's per-row cost. The
    * combine (a0+a1)+(a2+a3) is a FIXED order, so scores stay
    * deterministic; it rounds differently from the serial sum, which only
    * matters at the candK boundary, and the exact rescore re-ranks. */
  override def candidates(lut: Array[Double], lo: Int, hi: Int, buf: CandidateHeap): Unit = {
    var r = lo
    while (r < hi) {
      val base = r * m
      var acc0 = 0.0; var acc1 = 0.0; var acc2 = 0.0; var acc3 = 0.0
      var sub = 0
      while (sub + 4 <= m) {
        acc0 += lut(sub * kSub + (codes(base + sub) & 0xff))
        acc1 += lut((sub + 1) * kSub + (codes(base + sub + 1) & 0xff))
        acc2 += lut((sub + 2) * kSub + (codes(base + sub + 2) & 0xff))
        acc3 += lut((sub + 3) * kSub + (codes(base + sub + 3) & 0xff))
        sub += 4
      }
      while (sub < m) {
        acc0 += lut(sub * kSub + (codes(base + sub) & 0xff))
        sub += 1
      }
      buf.insert((acc0 + acc1) + (acc2 + acc3), r.toLong)
      r += 1
    }
  }
}

/** Sign-bit codes (row r at [r*words, r*words+words)), scored by NEGATED
  * Hamming distance so the score-DESC order ranks nearest first; the
  * query is its packed sign code. */
private[store] final class BqCodec(codes: Array[Long], words: Int)
    extends ScanCodec[Array[Long]] {

  @inline private def negHamming(r: Int, q: Array[Long]): Double = {
    val base = r * words
    var ham = 0L
    var w = 0
    while (w < words) {
      ham += java.lang.Long.bitCount(codes(base + w) ^ q(w))
      w += 1
    }
    -ham.toDouble
  }

  def top(q: Array[Long], lo: Int, hi: Int, ids: Array[Long], buf: TopKBuffer): Unit = {
    var r = lo
    while (r < hi) { buf.insert(negHamming(r, q), ids(r)); r += 1 }
  }

  override def candidates(q: Array[Long], lo: Int, hi: Int, buf: CandidateHeap): Unit = {
    var r = lo
    while (r < hi) { buf.insert(negHamming(r, q), r.toLong); r += 1 }
  }
}

/** Gang of daemon scan threads with spin-then-park waiting: during a
  * query burst (the serving loop) workers stay spinning and dispatch costs
  * ~1us; when idle past the spin budget they park and cost nothing. A
  * conventional executor pays an unpark wake-up per worker per query.
  *
  * A gang of n participants starts n - 1 threads: the calling thread runs
  * participant 0's share itself, so caller plus workers fit n cores. One
  * process-wide gang ([[ScanGang.shared]]) serves every index.
  */
private[store] final class ScanGang(val n: Int) {
  import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong, AtomicReference}
  import java.util.concurrent.locks.LockSupport
  require(n >= 1, s"a gang needs a participant, got $n")

  private val epoch = new AtomicLong(0)
  private val done = new AtomicInteger(0)
  // first failure of the current job; rethrown on the query thread by run()
  private val failure = new AtomicReference[Throwable](null)
  private val busy = new AtomicBoolean(false)
  @volatile private var job: Int => Unit = null
  // ~100k onSpinWait iterations ~ a few hundred microseconds of hot wait
  private val SpinBudget = 100000

  private final class Worker(id: Int) extends Thread(s"scan-gang-$id") {
    @volatile var parked = false
    setDaemon(true)
    override def run(): Unit = {
      var seen = 0L
      while (true) {
        var spins = 0
        while (epoch.get() == seen) {
          Thread.onSpinWait()
          spins += 1
          if (spins >= SpinBudget) {
            parked = true
            // re-check after publishing parked (run() checks parked AFTER
            // bumping epoch, so either we see the new epoch or it unparks us)
            if (epoch.get() == seen) LockSupport.park()
            parked = false
            spins = 0
          }
        }
        seen = epoch.get()
        // A throwing job must NOT propagate out of run(): it would kill
        // this daemon thread and every later gang.run would hang waiting
        // for done. Stash the first failure; run() rethrows it on the
        // query thread after the barrier.
        try job(id)
        catch { case t: Throwable => failure.compareAndSet(null, t) }
        finally done.incrementAndGet()
      }
    }
  }

  private val workers = Array.tabulate(n - 1)(i => new Worker(i + 1))
  workers.foreach(_.start())

  /** Run job(0..n-1), participant 0 on the calling thread; returns when all
    * are done and rethrows the first failure. Callers must serialize runs
    * (job/done/epoch are shared state): go through [[tryRun]]. */
  def run(f: Int => Unit): Unit = {
    job = f
    done.set(0)
    epoch.incrementAndGet()
    workers.foreach(w => if (w.parked) LockSupport.unpark(w))
    try f(0)
    catch { case t: Throwable => failure.compareAndSet(null, t) }
    while (done.get() < n - 1) Thread.onSpinWait()
    job = null
    val t = failure.getAndSet(null)
    if (t != null) throw t // a crash surfaces here, workers stay alive
  }

  /** Run `f` on the gang if no other search holds it; false when busy. */
  def tryRun(f: Int => Unit): Boolean =
    busy.compareAndSet(false, true) && {
      try run(f) finally busy.set(false)
      true
    }
}

private[store] object ScanGang {
  val MaxParticipants: Int = math.max(1, math.min(Runtime.getRuntime.availableProcessors(), 16))

  /** The process-wide gang, started on the first search that fans out. */
  lazy val shared: ScanGang = new ScanGang(MaxParticipants)
}
