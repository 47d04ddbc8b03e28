package graft

import graft.functions.{SimdKernels, SimdSupport, TextOps, TopKBuffer, VectorKernels}
import graft.store.{LocalBqIndex, LocalIndex, LocalIvfBqIndex, LocalIvfIndex, LocalIvfPqIndex, LocalPqIndex, VectorBlock}
import org.apache.spark.sql.functions._

/** Parity specs for the round-3 kernels: the SIMD scan must be bitwise
  * equal to the scalar loop; the codegen'd text kernels must equal the
  * Spark built-in md5/conv compositions they replace; the spin-gang must
  * survive park/unpark cycles. */
class SimdSpec extends SparkSpec {

  private val rnd = new scala.util.Random(7)

  test("SIMD scan matches the scalar scan bitwise (incl. non-lane-multiple dims)") {
    assume(SimdSupport.available)
    for (dim <- Seq(8, 64, 100, 128, 333)) {
      val n = 500
      val data = new Array[Short](n * dim)
      val norms = new Array[Long](n)
      val ids = Array.tabulate(n)(_.toLong)
      (0 until n).foreach { r =>
        var s = 0L
        (0 until dim).foreach { j =>
          val v = (rnd.nextInt(256) - 128).toShort
          data(r * dim + j) = v
          s += v.toLong * v
        }
        norms(r) = s
      }
      val q = Array.fill[Short](dim)((rnd.nextInt(256) - 128).toShort)
      val nq = q.foldLeft(0L)((a, x) => a + x.toLong * x)
      val a = new TopKBuffer(13)
      val b = new TopKBuffer(13)
      SimdKernels.scanTopK(data, norms, ids, 0, n, dim, q, nq, a)
      SimdSupport.scanTopKScalar(data, norms, ids, 0, n, dim, q, nq, b)
      assert(a.size == b.size)
      (0 until a.size).foreach { j =>
        assert(a.ids(j) == b.ids(j))
        assert(java.lang.Double.doubleToLongBits(a.scores(j)) ==
          java.lang.Double.doubleToLongBits(b.scores(j)), s"dim=$dim row ${a.ids(j)}")
      }
    }
  }

  test("LocalIndex matches the declarative cosine_int8 top-k bitwise") {
    val dim = 64
    val n = 3000
    val embs = Array.fill(n)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val blocks = embs.grouped(700).zipWithIndex.map { case (g, bi) =>
      val data = new Array[Byte](g.length * dim)
      g.zipWithIndex.foreach { case (e, i) =>
        System.arraycopy(VectorKernels.quantize(e), 0, data, i * dim, dim)
      }
      VectorBlock(Array.tabulate(g.length)(i => (bi * 700 + i).toLong), data, dim)
    }.toArray
    val idx = new LocalIndex(blocks, dim)
    val q = VectorKernels.quantize(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val got = idx.search(q, 10)

    import spark.implicits._
    val df = embs.zipWithIndex.map { case (e, i) => (i.toLong, e) }.toSeq
      .toDF("vec_id", "embedding")
    val expected = df.select(col("vec_id"),
        graft.functions.VectorOps.cosineInt8(
          graft.functions.VectorOps.quantizeInt8(col("embedding")), lit(q)).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(10).collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.map(_._1) == expected.map(_._1).toSeq)
    got.zip(expected).foreach { case ((_, s1), (_, s2)) =>
      assert(java.lang.Double.doubleToLongBits(s1) == java.lang.Double.doubleToLongBits(s2))
    }
  }

  test("ScanGang survives idle park/unpark cycles and repeated bursts") {
    val dim = 16
    val n = 5000
    val data = new Array[Short](n * dim)
    val norms = new Array[Long](n)
    val ids = Array.tabulate(n)(_.toLong)
    (0 until n * dim).foreach(i => data(i) = (rnd.nextInt(256) - 128).toShort)
    (0 until n).foreach { r =>
      var s = 0L
      (0 until dim).foreach(j => s += data(r * dim + j).toLong * data(r * dim + j))
      norms(r) = s
    }
    val idx = new LocalIndex(
      Array(VectorBlock(ids, data.map(_.toByte), dim)), dim)
    val q = Array.fill[Byte](dim)((rnd.nextInt(256) - 128).toByte)
    val first = idx.search(q, 5)
    (0 until 3).foreach { _ =>
      (0 until 50).foreach(_ => assert(idx.search(q, 5) == first)) // hot burst
      Thread.sleep(120) // long enough for workers to blow the spin budget and park
      assert(idx.search(q, 5) == first) // wake from park
    }
  }

  test("concurrent LocalIndex searches equal sequential results bitwise") {
    // The tryLock concurrency model routes overlapping callers onto their
    // own scan instead of queueing on the gang; both paths must produce
    // identical (score desc, id asc) top-k, in every tier: flat int8 / PQ /
    // BQ and IVF int8 / PQ / BQ (the last two through the candidate select
    // and rescore).
    val dim = 96
    val n = 20000
    val data = new Array[Byte](n * dim)
    rnd.nextBytes(data)
    val ids = Array.tabulate(n)(_.toLong)
    val vecs = Array.tabulate(n)(r => Array.tabulate(dim)(j => data(r * dim + j).toFloat))
    val (m, kSub) = (graft.ops.PqQueries.M, graft.ops.PqQueries.K)
    val cb = Array.fill(m * kSub * (dim / m))(rnd.nextGaussian())
    val pqCodes = new Array[Byte](n * m)
    (0 until n).foreach(r =>
      System.arraycopy(VectorKernels.pqEncode(vecs(r), cb, m, kSub), 0, pqCodes, r * m, m))
    val flat = new LocalIndex(Array(VectorBlock(ids, data, dim)), dim)
    val pq = new LocalPqIndex(ids, pqCodes, m, kSub, cb)
    val bq = LocalBqIndex.build(ids, vecs)
    val ivf = LocalIvfIndex.train(ids, vecs, numCells = 16)
    val ivfPq = LocalIvfPqIndex.train(ids, vecs, 16, m, kSub, cb)
    val ivfBq = LocalIvfBqIndex.train(ids, vecs, numCells = 16)
    val qf = Array.fill(16)(Array.fill(dim)(rnd.nextGaussian().toFloat))
    val qb = qf.map(VectorKernels.quantize)
    val tiers: Seq[(String, Int => Seq[(Long, Double)])] = Seq(
      "flat" -> (qi => flat.search(qb(qi), 10)),
      "pq" -> (qi => pq.search(qf(qi), 10)),
      "bq" -> (qi => bq.search(VectorKernels.signPack(qf(qi)), 10)),
      "ivf" -> (qi => ivf.search(qb(qi), 10, 4)),
      "ivfpq" -> (qi => ivfPq.search(qf(qi), 10, 4, 200)),
      "ivfbq" -> (qi => ivfBq.search(qf(qi), 10, 4, 200)))
    tiers.foreach { case (name, search) =>
      val expected = Array.tabulate(16)(search)
      val results = new Array[Seq[(Long, Double)]](16 * 25)
      val failures = new java.util.concurrent.atomic.AtomicInteger(0)
      val threads = (0 until 8).map { w =>
        val th = new Thread(() =>
          try {
            (0 until 50).foreach { i =>
              val qi = (w * 50 + i) % 16
              results((w * 50 + i) % results.length) = search(qi)
              assert(results((w * 50 + i) % results.length) == expected(qi))
            }
          } catch { case _: Throwable => failures.incrementAndGet() })
        th.start(); th
      }
      threads.foreach(_.join())
      assert(failures.get() == 0, s"$name: concurrent results differ from sequential ones")
    }
  }

  test("sign_buckets kernel equals the aggregate(zip_with) fold bitwise") {
    import spark.implicits._
    val tables = 3; val bits = 5; val dim = 33
    val prnd = new scala.util.Random(99)
    val planes = Array.fill(tables * bits * dim)(prnd.nextGaussian())
    val vecs = (0 until 200).map(i =>
      (i.toLong, Array.fill(dim)(prnd.nextGaussian().toFloat))).toDF("id", "v")
    def dotPlane(e: org.apache.spark.sql.Column, t: Int, j: Int) = {
      val p = Array.tabulate(dim)(i => planes((t * bits + j) * dim + i))
      aggregate(zip_with(e, typedLit(p), (x, pp) => x.cast("double") * pp),
        lit(0.0), (a, x) => a + x)
    }
    val declarative = vecs.select(col("id"), array((0 until tables).map { t =>
      (0 until bits).map(j =>
        when(dotPlane(col("v"), t, j) >= 0, lit(1 << j)).otherwise(lit(0)))
        .reduce(_ + _)
    }: _*).as("bs")).collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    val kernel = vecs.select(col("id"),
      graft.functions.VectorOps.signBuckets(col("v"), planes, tables, bits).as("bs"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Int](1)).toMap
    assert(kernel == declarative)
  }

  test("simhash32 kernel equals the md5 bit-vote SQL composition") {
    import spark.implicits._
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog",
      "a b c d e f g",
      "one token",
      "repeated repeated repeated distinct"
    ).zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val toksArr = array_distinct(filter(split(col("text"), " "), t => t =!= ""))
    val kernel = docs.select(col("doc_id"), TextOps.simhash32(toksArr).as("sh"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // first-principles twin: explode tokens, vote per bit, rebuild
    val ref = docs.select(col("doc_id"), explode(toksArr).as("tok"))
      .select(col("doc_id"), conv(substring(md5(col("tok")), 1, 8), 16, 10).cast("long").as("hv"))
      .select(col("doc_id"), col("hv"), explode(sequence(lit(0), lit(31))).as("j"))
      .select(col("doc_id"), col("j"),
        when(expr("(hv div cast(pow(2, j) as bigint)) % 2") === 1, 1).otherwise(-1).as("w"))
      .groupBy(col("doc_id"), col("j")).agg(sum(col("w")).as("v"))
      .select(col("doc_id"),
        (when(col("v") > 0, 1L).otherwise(0L) * expr("cast(pow(2, j) as bigint)")).as("term"))
      .groupBy(col("doc_id")).agg(sum(col("term")).cast("long").as("sh"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(kernel == ref)
  }

  test("simhash32 is invariant under token-array permutation") {
    import spark.implicits._
    val rnd2 = new scala.util.Random(17)
    val base = Seq.fill(30)(rnd2.alphanumeric.take(rnd2.nextInt(8) + 1).mkString).distinct
    val perms = (0 until 6).map(i => (i.toLong, rnd2.shuffle(base))).toDF("i", "toks")
    val hashes = perms
      .select(TextOps.simhash32(col("toks")).as("sh"))
      .collect().map(_.getLong(0)).toSet
    assert(hashes.size == 1, s"permutations hashed differently: $hashes")
  }

  test("md5Prefix60 stays in [0, 2^60) (safe as a long shuffle key)") {
    import spark.implicits._
    val strs = Seq.fill(500)(rnd.alphanumeric.take(rnd.nextInt(40)).mkString)
      .zipWithIndex.map(_.swap).toDF("i", "s")
    val vals = strs.select(TextOps.md5Prefix60(col("s")).as("h"))
      .collect().map(_.getLong(0))
    assert(vals.forall(h => h >= 0L && h < (1L << 60)))
  }

  test("md5Prefix60 equals conv(substring(md5, 1, 15), 16, 10)") {
    import spark.implicits._
    val strs = (Seq("", "a", "hello world") ++
      Seq.fill(50)(rnd.alphanumeric.take(rnd.nextInt(30) + 1).mkString))
      .zipWithIndex.map(_.swap).toDF("i", "s")
    val rows = strs.select(
      TextOps.md5Prefix60(col("s")).as("kernel"),
      conv(substring(md5(col("s")), 1, 15), 16, 10).cast("long").as("builtin"))
      .collect()
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }
}
