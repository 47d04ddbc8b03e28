package enginebench

import graft.functions.{SimdSupport, TopKBuffer, VectorKernels}
import graft.store.{LocalIndex, LocalIvfBqIndex, LocalIvfIndex, LocalIvfPqIndex, VectorBlock}
import org.apache.spark.sql.SparkSession

import scala.collection.mutable.ArrayBuffer

/** `serve`: the in-process serving tiers on one clustered dim-128 corpus —
  * flat exact int8 (`LocalIndex`), IVF, IVF-PQ and IVF-BQ at 128 cells,
  * nprobe 8, candK 512, k 10. One closed-loop client; each tier runs in its
  * own blocks, rotated over several rounds, with an idle gap between blocks
  * so the previous tier's scan gang has parked. A last phase runs one
  * closed-loop client per core on the flat tier. */
object Serve {
  val Dim = 128
  val Rows = 200000
  val Centers = 1000
  val Cells = 128
  val NProbe = 8
  val CandK = 512
  val K = 10
  val NQueries = 32
  val Rounds = 8
  val WarmRounds = 3
  // share of the measured window given to the concurrent flat phase
  val ConcShare = 0.3
  val ConcBlocks = 12
  val GapMs = 40L

  final class Tier(val name: String, val search: Int => Seq[(Long, Double)]) {
    val lat = ArrayBuffer.empty[Double]
    var cpuNs = 0L
    var allocBytes = 0L
    var queries = 0L
    var ref: Array[Seq[(Long, Double)]] = _
  }

  /** Same ids and bitwise-same scores, in the same order. */
  def sameAnswer(a: Seq[(Long, Double)], b: Seq[(Long, Double)]): Boolean =
    a.length == b.length && a.zip(b).forall { case (x, y) =>
      x._1 == y._1 && java.lang.Double.compare(x._2, y._2) == 0 }

  def run(o: Opts, res: Result, spark: SparkSession): Unit = {
    val gc0 = Host.gcMs()
    // a probe (in a store traced run) serves a quarter of the corpus, so
    // that the traced run ends in time
    val rows = if (o.probe) Rows / 4 else Rows
    // ---- inputs -------------------------------------------------------
    val centers = Gen.centers(o.seed, Centers, Dim, 3f)
    // builds run side by side; the PQ codebook trains in Spark from the
    // start, beside the driver-side corpus generation
    def beside[T](f: => T): java.util.concurrent.CompletableFuture[T] =
      java.util.concurrent.CompletableFuture.supplyAsync(() => f)
    val codebookF = beside(Trace.span("serve.setup.pq_codebook") {
      // the codebook trains on a 4,096-row hash-ordered sample; drawing it
      // from a tenth of the corpus keeps the sampling sort small
      import spark.implicits._
      val bc = spark.sparkContext.broadcast(centers)
      val seed = o.seed
      val emb = spark.range(0, rows, 10).mapPartitions { it =>
        val cs = bc.value
        it.map { i => (i.longValue, Gen.clustered(cs, seed, i)) }
      }.toDF("vec_id", "embedding")
      val cb = graft.ops.PqQueries.trainCodebookOn(emb)
      bc.destroy()
      cb
    })
    val vecs = new Array[Array[Float]](rows)
    java.util.stream.IntStream.range(0, rows).parallel()
      .forEach(i => vecs(i) = Gen.clustered(centers, o.seed, i.toLong))
    val ids = Array.tabulate(rows)(_.toLong)
    val qrnd = new java.util.Random(Gen.mix64(o.seed + 7))
    val queries = Array.fill(NQueries) {
      val c = centers(qrnd.nextInt(Centers))
      Array.tabulate(Dim)(j => c(j) + qrnd.nextGaussian().toFloat)
    }
    Host.phase("serve: corpus generated")

    // ---- the benchmark's own exact answers ----------------------------
    val codes = new Array[Byte](rows * Dim)
    vecs.indices.foreach(r => System.arraycopy(Exact.quantize(vecs(r)), 0, codes, r * Dim, Dim))
    val qCodes = queries.map(Exact.quantize)
    val truth = Exact.bruteForce(codes, ids, Dim, qCodes, K, Host.cores)
    Host.phase("serve: exact answers computed")

    // ---- the tiers, built through the engine's public constructors ----
    val qBytes = queries.map(VectorKernels.quantize)
    res.setupCheck(qBytes.zip(qCodes).forall { case (a, b) => a.sameElements(b) },
      "VectorKernels.quantize differs from the documented int8 quantization")
    // the IVF and IVF-BQ builds run beside the flat and IVF-PQ builds
    val ivfF = beside(Trace.span("serve.setup.ivf")(LocalIvfIndex.train(ids, vecs, Cells, seed = o.seed)))
    val ivfbqF = beside(Trace.span("serve.setup.ivfbq")(LocalIvfBqIndex.train(ids, vecs, Cells, seed = o.seed)))
    val flat = Trace.span("serve.setup.flat") {
      val blocks = (0 until 8).map { b =>
        val lo = b * rows / 8
        val hi = (b + 1) * rows / 8
        val data = new Array[Byte]((hi - lo) * Dim)
        (lo until hi).foreach(r =>
          System.arraycopy(VectorKernels.quantize(vecs(r)), 0, data, (r - lo) * Dim, Dim))
        VectorBlock(ids.slice(lo, hi), data, Dim)
      }.toArray
      new LocalIndex(blocks, Dim)
    }
    val codebook = codebookF.get()
    val ivfpq = Trace.span("serve.setup.ivfpq")(LocalIvfPqIndex.train(ids, vecs, Cells,
      graft.ops.PqQueries.M, graft.ops.PqQueries.K, codebook, seed = o.seed))
    val ivf = ivfF.get()
    val ivfbq = ivfbqF.get()
    Host.phase("serve: tiers built")

    val tiers = Seq(
      new Tier("flat", qi => flat.search(qBytes(qi), K)),
      new Tier("ivf", qi => ivf.search(qBytes(qi), K, NProbe)),
      new Tier("ivfpq", qi => ivfpq.search(queries(qi), K, NProbe, CandK)),
      new Tier("ivfbq", qi => ivfbq.search(queries(qi), K, NProbe, CandK)))

    // ---- reference answers, checked apart from the timed loop ---------
    // ids are row numbers of the corpus
    def trueScoresRanked(qi: Int, got: Seq[(Long, Double)]): Boolean =
      got.length == K && got.forall { case (id, s) =>
        id >= 0 && id < rows && java.lang.Double.compare(s,
          Exact.cosInt8(codes.slice(id.toInt * Dim, (id.toInt + 1) * Dim), qCodes(qi))) == 0
      } && got.zip(got.tail).forall { case (a, b) => a._2 > b._2 || (a._2 == b._2 && a._1 < b._1) }
    tiers.foreach { t => t.ref = Array.tabulate(NQueries)(t.search) }
    // warm-up: the tiers share the scan kernels, so the JIT settles only
    // after each has run beside the others, in the timed phase's rotation
    (0 until WarmRounds).foreach(_ => tiers.foreach(t => (0 until NQueries).foreach(t.search)))
    Host.phase("serve: reference answers taken")
    (0 until NQueries).foreach { qi =>
      res.setupCheck(sameAnswer(tiers.head.ref(qi), truth(qi)),
        s"flat query $qi differs from the exact int8 top-$K")
      tiers.tail.foreach { t =>
        res.setupCheck(trueScoresRanked(qi, t.ref(qi)),
          s"${t.name} query $qi returned a score that is not the true int8 cosine or out of order")
      }
    }
    (0 until 8).foreach { qi =>
      res.setupCheck(sameAnswer(ivf.search(qBytes(qi), K, Cells), truth(qi)),
        s"ivf at nprobe = numCells differs from the exact top-$K (query $qi)")
      val pqAll = ivfpq.probedRows(queries(qi), NProbe)
      res.setupCheck(sameAnswer(ivfpq.search(queries(qi), K, NProbe, math.max(K, pqAll)),
        ivfpq.exactInProbe(queries(qi), K, NProbe)),
        s"ivfpq with candK >= probed rows differs from exactInProbe (query $qi)")
      val bqAll = ivfbq.probedRows(queries(qi), NProbe)
      res.setupCheck(sameAnswer(ivfbq.search(queries(qi), K, NProbe, math.max(K, bqAll)),
        ivfbq.exactInProbe(queries(qi), K, NProbe)),
        s"ivfbq with candK >= probed rows differs from exactInProbe (query $qi)")
    }
    def recall(t: Tier): Double = Stats.mean((0 until NQueries).map { qi =>
      val want = truth(qi).map(_._1).toSet
      t.ref(qi).count(x => want(x._1)).toDouble / K
    })
    val ann = tiers.tail
    val recalls = ann.map(t => t.name -> recall(t)).toMap
    System.gc()
    Host.phase("serve: setup checked")

    // ---- timed phase ----------------------------------------------------
    val setupS = (System.currentTimeMillis() - o.startMs) / 1000.0
    val steal0 = Host.stealS()
    val deadlineS = o.seconds * (1 - ConcShare)
    val blockNs = (deadlineS / (Rounds * tiers.length) * 1e9).toLong
    (0 until Rounds).foreach { round =>
      (0 until tiers.length).map(i => tiers((i + round) % tiers.length)).foreach { t =>
        Thread.sleep(GapMs)
        val cpu0 = Host.cpuNs()
        val alloc0 = Host.allocatedByThread()
        val b0 = System.nanoTime()
        // whole passes over the query set
        while (System.nanoTime() - b0 < blockNs) {
          var qi = 0
          while (qi < NQueries) {
            val t0 = System.nanoTime()
            val got = try Trace.span(s"serve.${t.name}.search", qi)(t.search(qi))
            catch { case e: Throwable => res.opFailed(s"${t.name} query $qi", e); null }
            val dt = System.nanoTime() - t0
            if (got != null) {
              t.lat += dt / 1e6
              res.op(sameAnswer(got, t.ref(qi)), s"${t.name} query $qi differs from its checked answer")
            }
            qi += 1
          }
          t.queries += NQueries
        }
        t.cpuNs += Host.cpuNs() - cpu0
        t.allocBytes += Host.allocatedSince(alloc0)
      }
    }
    // concurrent closed-loop clients, one per core, on the flat tier
    Thread.sleep(GapMs)
    val concNs = (o.seconds * ConcShare / ConcBlocks * 1e9).toLong
    val concRates = (0 until ConcBlocks).map { _ =>
      val done = new java.util.concurrent.atomic.AtomicLong(0)
      val start = System.nanoTime()
      val clients = (0 until Host.cores).map { c =>
        val th = new Thread(() => {
          var qi = c % NQueries
          while (System.nanoTime() - start < concNs) {
            val got = try flat.search(qBytes(qi), K)
            catch { case e: Throwable => res.opFailed(s"flat concurrent query $qi", e); null }
            if (got != null) {
              res.op(sameAnswer(got, truth(qi)), s"flat concurrent query $qi differs from the exact top-$K")
              done.incrementAndGet()
            }
            qi = (qi + 1) % NQueries
          }
        })
        th.start(); th
      }
      clients.foreach(_.join())
      val el = (System.nanoTime() - start) / 1e9
      Thread.sleep(GapMs)
      done.get() / el
    }
    val stealS = Host.stealS() - steal0
    val gcMs = Host.gcMs() - gc0
    val heapMb = Host.heapMbAfterGc()

    res.putEndToEnd("setup_s", setupS, "s")
    res.putEndToEnd("heap_mb", heapMb, "MB")
    // the operation slots every workload reports: here op1, op2 and op3
    // are the IVF, IVF-PQ and IVF-BQ searches. The flat tier's p50 is
    // reported per layer: its gang barrier waits on every core, so it
    // follows the host's state from run to run further than any
    // end-to-end bound allows
    ann.zipWithIndex.foreach { case (t, i) =>
      res.putEndToEnd(s"op${i + 1}_p50_ms", Stats.median(t.lat), "ms") }
    res.putEndToEnd("recall_at_10", Stats.mean(recalls.values), "ratio")
    if (o.trace) {
      tiers.foreach { t =>
        res.put(s"${t.name}.p99_ms", Stats.quantile(t.lat, 0.99), "ms")
        res.put(s"${t.name}.cpu_ms_per_query", t.cpuNs / 1e6 / t.queries, "ms")
        res.put(s"${t.name}.alloc_kb_per_query", t.allocBytes / 1024.0 / t.queries, "KB")
      }
      ann.foreach(t => res.put(s"${t.name}.recall_at_10", recalls(t.name), "ratio"))
      // reported per layer: its run-to-run spread (the scheduling of
      // oversubscribed spinning gang threads) exceeds any end-to-end bound
      res.put("flat.conc_per_s", Stats.median(concRates), "1/s")
      res.put("flat.p50_ms", Stats.median(tiers.head.lat), "ms")
      res.put("serve.gc_ms", gcMs.toDouble, "ms") // set-up and timed phase
      res.put("host.steal_s", stealS, "s")
      layerProbes(res, ivf, ivfpq, ivfbq, queries, qBytes, codes, codebook)
    }
  }

  /** Per-layer probes of the traced run, after the timed phase. */
  private def layerProbes(res: Result, ivf: LocalIvfIndex, ivfpq: LocalIvfPqIndex,
      ivfbq: LocalIvfBqIndex, queries: Array[Array[Float]], qBytes: Array[Array[Byte]],
      codes: Array[Byte], codebook: Array[Double]): Unit = {
    def medianOf(reps: Int)(f: => Unit): Double =
      Stats.median((0 until reps).map { _ =>
        val t0 = System.nanoTime(); f; (System.nanoTime() - t0).toDouble })

    // kernel: int8 SIMD scan, one thread, over a packed copy owned here
    val scanRows = 20000
    val data = Array.tabulate(scanRows * Dim)(i => codes(i).toShort)
    val norms = Array.tabulate(scanRows)(r => Exact.normSq(codes.slice(r * Dim, (r + 1) * Dim)))
    val sids = Array.tabulate(scanRows)(_.toLong)
    val qs = Array.tabulate(Dim)(i => qBytes(0)(i).toShort)
    val nq = Exact.normSq(qBytes(0))
    val scanNs = Trace.span("kernel.int8_scan") {
      medianOf(30)(SimdSupport.scan(data, norms, sids, 0, scanRows, Dim, qs, nq, new TopKBuffer(K)))
    }
    res.put("kernel.int8_scan_ns_per_row", scanNs / scanRows, "ns")

    // kernel: PQ asymmetric distance over one code per row
    val m = graft.ops.PqQueries.M
    val kSub = graft.ops.PqQueries.K
    val crnd = new java.util.Random(3)
    val pqRows = Array.fill(scanRows)(Array.fill(m)(crnd.nextInt(kSub).toByte))
    val lut = VectorKernels.pqLut(queries(0), codebook, m, kSub)
    var sink = 0.0 // consumed below, so the timed loops cannot be dropped
    val adcNs = Trace.span("kernel.pq_adc") {
      medianOf(30) { var r = 0; while (r < scanRows) { sink += VectorKernels.pqAdc(pqRows(r), lut, kSub); r += 1 } }
    }
    res.put("kernel.pq_adc_ns_per_code", adcNs / scanRows, "ns")

    // kernel: sign-bit Hamming distance
    val words = (Dim + 63) / 64
    val bqRows = Array.fill(scanRows)(Array.fill(words)(crnd.nextLong()))
    val qbits = VectorKernels.signPack(queries(0))
    var hsink = 0L
    val hamNs = Trace.span("kernel.hamming") {
      medianOf(30) { var r = 0; while (r < scanRows) { hsink += VectorKernels.hammingPacked(bqRows(r), qbits); r += 1 } }
    }
    res.put("kernel.hamming_ns_per_row", hamNs / scanRows, "ns")
    Sink.keep(sink + hsink)

    // gang dispatch: search on an index of 2,048 rows per core, so the gang
    // has one worker per core and the caller spins beside them, minus one
    // thread's scan of a worker's 2,048 rows. Minima over many repetitions:
    // the floor of the dispatch, barrier and merge cost; the scan's own
    // noise (tens of microseconds) swamps any median difference
    val gRows = 2048 * math.min(Host.cores, 16)
    val gBlock = VectorBlock(Array.tabulate(gRows)(_.toLong), codes.slice(0, gRows * Dim), Dim)
    val small = new LocalIndex(Array(gBlock), Dim)
    def minOf(reps: Int)(f: => Unit): Double =
      (0 until reps).map { _ => val t0 = System.nanoTime(); f; (System.nanoTime() - t0).toDouble }.min
    (0 until 300).foreach(i => small.search(qBytes(i % NQueries), K))
    val gangNs = Trace.span("gang.search") { minOf(1000)(small.search(qBytes(0), K)) }
    val chunkNs = minOf(1000)(SimdSupport.scan(data, norms, sids, 0, 2048, Dim, qs, nq, new TopKBuffer(K)))
    res.put("gang.dispatch_us", (gangNs - chunkNs) / 1e3, "us")

    // IVF routing and rows scanned per query
    val routeNs = Trace.span("ivf.route") {
      Stats.median(qBytes.toSeq.map { q =>
        val t0 = System.nanoTime(); ivf.probedRows(q, NProbe); (System.nanoTime() - t0).toDouble })
    }
    res.put("ivf.route_us", routeNs / 1e3, "us")
    res.put("ivf.rows_scanned", Stats.mean(qBytes.toSeq.map(ivf.probedRows(_, NProbe).toDouble)), "count")
    // the exact reference path of the compressed tiers: route + int8 scan
    res.put("ivfpq.exact_in_probe_ms", Trace.span("ivfpq.exact_in_probe") {
      Stats.median(queries.toSeq.map { q =>
        val t0 = System.nanoTime(); ivfpq.exactInProbe(q, K, NProbe); (System.nanoTime() - t0) / 1e6 })
    }, "ms")
    res.put("ivfbq.exact_in_probe_ms", Trace.span("ivfbq.exact_in_probe") {
      Stats.median(queries.toSeq.map { q =>
        val t0 = System.nanoTime(); ivfbq.exactInProbe(q, K, NProbe); (System.nanoTime() - t0) / 1e6 })
    }, "ms")
  }
}

/** Consumes a benchmark loop's result so the JIT cannot drop the loop. */
object Sink {
  @volatile private var last = 0.0
  def keep(x: Double): Unit = last = x
}
