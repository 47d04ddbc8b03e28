package enginebench

/** The benchmark's own arithmetic, written apart from the engine, that the
  * engine's outputs are checked against. It follows the engine's documented
  * semantics: int8 quantization is L2-normalize, scale by 127, truncate
  * toward zero, clamp to [-128, 127]; int8 cosine is the exact integer dot
  * over the product of the integer norms' square roots; ties rank by id. */
object Exact {
  private val ZeroNorm = 1e-10

  def quantize(v: Array[Float]): Array[Byte] = {
    var ss = 0.0
    var i = 0
    while (i < v.length) { val x = v(i).toDouble; ss += x * x; i += 1 }
    val nrm = math.sqrt(ss)
    val out = new Array[Byte](v.length)
    if (nrm >= ZeroNorm) {
      i = 0
      while (i < v.length) {
        val t = v(i).toDouble / nrm * 127.0
        val tr = if (t < 0) math.ceil(t) else math.floor(t)
        out(i) = math.min(127.0, math.max(-128.0, tr)).toInt.toByte
        i += 1
      }
    }
    out
  }

  def normSq(a: Array[Byte]): Long = {
    var s = 0L
    var i = 0
    while (i < a.length) { s += a(i).toLong * a(i); i += 1 }
    s
  }

  def cosFromParts(dot: Long, na: Long, nb: Long): Double =
    if (na == 0L || nb == 0L) 0.0
    else dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))

  def cosInt8(a: Array[Byte], b: Array[Byte]): Double = {
    var dot = 0L
    var i = 0
    while (i < a.length) { dot += a(i).toLong * b(i); i += 1 }
    cosFromParts(dot, normSq(a), normSq(b))
  }

  /** The store's asymmetric score: raw float query against the stored int8
    * vector read back as q / 127. */
  def cosFloatInt8(query: Array[Float], q: Array[Byte]): Double = {
    var dot = 0.0; var nq = 0.0; var nv = 0.0
    var i = 0
    while (i < query.length) {
      val x = query(i).toDouble
      val y = q(i).toDouble / 127.0
      dot += x * y; nq += x * x; nv += y * y
      i += 1
    }
    if (math.sqrt(nq) < ZeroNorm || math.sqrt(nv) < ZeroNorm) 0.0
    else dot / (math.sqrt(nq) * math.sqrt(nv))
  }

  /** Top-k of (score, key) pairs: score descending, key ascending. */
  def topK[K](scored: Iterator[(Double, K)], k: Int)(implicit ord: Ordering[K]): Seq[(K, Double)] = {
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, K)](
      // head is the worst kept entry: lowest score, then highest key
      Ordering.Tuple2(Ordering.Double.TotalOrdering.reverse, ord))
    scored.foreach { e =>
      if (heap.size < k) heap.enqueue(e)
      else {
        val w = heap.head
        if (e._1 > w._1 || (e._1 == w._1 && ord.lt(e._2, w._2))) {
          heap.dequeue(); heap.enqueue(e)
        }
      }
    }
    heap.toSeq.sortWith((a, b) => a._1 > b._1 || (a._1 == b._1 && ord.lt(a._2, b._2)))
      .map { case (s, key) => (key, s) }
  }

  /** Int8 brute-force top-k of every query over a packed corpus
    * (row-major, `dim` bytes per row), split over `threads` threads. */
  def bruteForce(corpus: Array[Byte], ids: Array[Long], dim: Int,
      queries: Array[Array[Byte]], k: Int, threads: Int): Array[Seq[(Long, Double)]] = {
    val n = ids.length
    val norms = Array.tabulate(n) { r =>
      var s = 0L; var j = r * dim
      val end = j + dim
      while (j < end) { s += corpus(j).toLong * corpus(j); j += 1 }
      s
    }
    val out = new Array[Seq[(Long, Double)]](queries.length)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = queries.indices.map { qi =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val q = queries(qi)
            val nq = normSq(q)
            val it = Iterator.range(0, n).map { r =>
              var dot = 0L
              var j = 0
              val base = r * dim
              while (j < dim) { dot += corpus(base + j).toLong * q(j); j += 1 }
              (cosFromParts(dot, norms(r), nq), ids(r))
            }
            out(qi) = topK(it, k)
          }
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    out
  }
}

/** Seeded input generators: per-row seeding, so the driver and Spark tasks
  * draw the same vectors for the same (seed, row). */
object Gen extends Serializable {
  def mix64(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def centers(seed: Long, n: Int, dim: Int, scale: Float): Array[Array[Float]] = {
    val r = new java.util.Random(mix64(seed ^ 0x5EEDL))
    Array.fill(n)(Array.fill(dim)(r.nextGaussian().toFloat * scale))
  }

  /** Row `i`: center (i mod centers) plus unit Gaussian noise. */
  def clustered(centers: Array[Array[Float]], seed: Long, i: Long): Array[Float] = {
    val c = centers((i % centers.length).toInt)
    val r = new java.util.Random(mix64(mix64(seed) + i))
    Array.tabulate(c.length)(j => c(j) + r.nextGaussian().toFloat)
  }
}
