package graft

import graft.functions.{SimdSupport, TopKBuffer, VectorKernels}
import org.scalacheck.{Gen, Prop, Test => SCTest}
import org.scalatest.funsuite.AnyFunSuite

/** ScalaCheck property tests for the pure-JVM kernels. These are the
  * algebraic laws the distributed paths depend on — notably TopKBuffer's
  * partition-order invariance, which is what makes the SIMD gang's chunked
  * merge, the TypedImperativeAggregate's partial/final merge, and the
  * concurrent LocalIndex fallback scan all bitwise-equal to a sequential
  * pass. */
class KernelPropertiesSpec extends AnyFunSuite {

  private val params = SCTest.Parameters.default.withMinSuccessfulTests(200)

  private def check(name: String, p: Prop): Unit = {
    val res = SCTest.check(params, p)
    assert(res.passed, s"$name: $res")
  }

  private val pairGen: Gen[(Long, Double)] = for {
    id <- Gen.chooseNum(0L, 500L)
    s <- Gen.chooseNum(-1000.0, 1000.0)
  } yield (id, s)

  private def runSeq(pairs: List[(Long, Double)], k: Int): Seq[(Long, Double)] = {
    val b = new TopKBuffer(k)
    pairs.foreach { case (i, s) => b.insert(s, i) }
    (0 until b.size).map(j => (b.ids(j), b.scores(j)))
  }

  test("top-k buffer: any chunking + merge order equals the sequential pass") {
    check("chunk-merge", Prop.forAll(
      Gen.listOf(pairGen), Gen.chooseNum(1, 20), Gen.long) { (pairs, k, seed) =>
      val rnd = new scala.util.Random(seed)
      // random partition of the stream into chunks, merged in random order
      val chunks = rnd.shuffle(pairs).foldLeft(List(List.empty[(Long, Double)])) {
        case (acc, p) =>
          if (rnd.nextInt(4) == 0) List(p) :: acc
          else (p :: acc.head) :: acc.tail
      }
      val merged = new TopKBuffer(k)
      rnd.shuffle(chunks).foreach { c =>
        val b = new TopKBuffer(k)
        c.foreach { case (i, s) => b.insert(s, i) }
        merged.mergeFrom(b)
      }
      val got = (0 until merged.size).map(j => (merged.ids(j), merged.scores(j)))
      got == runSeq(pairs, k)
    })
  }

  test("top-k buffer equals sort-take on distinct-id streams") {
    val distinctPairs = Gen.listOf(pairGen).map(_.groupBy(_._1).map(_._2.head).toList)
    check("sort-take", Prop.forAll(distinctPairs, Gen.chooseNum(1, 20)) { (pairs, k) =>
      val expected = pairs.sortBy { case (i, s) => (-s, i) }.take(k)
      runSeq(pairs, k) == expected
    })
  }

  private val vecGen: Gen[Array[Float]] = for {
    dim <- Gen.chooseNum(1, 200)
    v <- Gen.listOfN(dim, Gen.chooseNum(-100.0f, 100.0f))
  } yield v.toArray

  test("quantize: components in [-128,127]; roundtrip error <= 1/127") {
    check("quantize", Prop.forAll(vecGen) { v =>
      val q = VectorKernels.quantize(v)
      val norm = math.sqrt(v.map(x => x.toDouble * x).sum)
      val bounds = q.forall(b => b >= -128 && b <= 127)
      val rt = if (norm < 1e-10) q.forall(_ == 0)
      else v.indices.forall { i =>
        math.abs(q(i) / 127.0 - v(i) / norm) <= 1.0 / 127.0 + 1e-12
      }
      bounds && rt
    })
  }

  test("cosine_int8: symmetric, self=1 for nonzero, range [-1,1]") {
    check("cosine", Prop.forAll(vecGen, vecGen) { (a0, b0) =>
      val dim = math.min(a0.length, b0.length)
      val a = VectorKernels.quantize(a0.take(dim))
      val b = VectorKernels.quantize(b0.take(dim))
      val ab = VectorKernels.cosineInt8(a, b)
      val ba = VectorKernels.cosineInt8(b, a)
      val self = VectorKernels.cosineInt8(a, a)
      val selfOk = if (a.forall(_ == 0)) self == 0.0 else math.abs(self - 1.0) < 1e-9
      ab == ba && ab >= -1.0 - 1e-12 && ab <= 1.0 + 1e-12 && selfOk
    })
  }

  test("SIMD scan equals scalar scan on random dims/sizes") {
    assume(SimdSupport.available)
    val caseGen = for {
      dim <- Gen.chooseNum(1, 160)
      n <- Gen.chooseNum(1, 120)
      k <- Gen.chooseNum(1, 15)
      seed <- Gen.long
    } yield (dim, n, k, seed)
    check("simd", Prop.forAll(caseGen) { case (dim, n, k, seed) =>
      val rnd = new scala.util.Random(seed)
      val data = Array.fill[Short](n * dim)((rnd.nextInt(256) - 128).toShort)
      val norms = Array.tabulate(n) { r =>
        (0 until dim).map(j => data(r * dim + j).toLong * data(r * dim + j)).sum
      }
      val ids = Array.tabulate(n)(_.toLong)
      val q = Array.fill[Short](dim)((rnd.nextInt(256) - 128).toShort)
      val nq = q.map(x => x.toLong * x).sum
      val a = new TopKBuffer(k)
      val b = new TopKBuffer(k)
      graft.functions.SimdKernels.scanTopK(data, norms, ids, 0, n, dim, q, nq, a)
      SimdSupport.scanTopKScalar(data, norms, ids, 0, n, dim, q, nq, b)
      // the same rows as int8 bytes: SIMD and scalar byte scans
      val bytes = data.map(_.toByte)
      val c = new TopKBuffer(k)
      val d = new TopKBuffer(k)
      graft.functions.SimdKernels.scanTopK(bytes, norms, ids, 0, n, dim, q, nq, c)
      SimdSupport.scanTopKScalar(bytes, norms, ids, 0, n, dim, q, nq, d)
      Seq(a, c, d).forall { x =>
        x.size == b.size && (0 until x.size).forall { j =>
          x.ids(j) == b.ids(j) &&
            java.lang.Double.doubleToLongBits(x.scores(j)) ==
              java.lang.Double.doubleToLongBits(b.scores(j))
        }
      }
    })
  }

  test("PQ: codes in range, encode/codes agree, self-ADC bounded by unit norms") {
    val m = 8
    val k = 16
    check("pq-laws", Prop.forAll(Gen.chooseNum(1L, Long.MaxValue)) { seed =>
      val rnd = new scala.util.Random(seed)
      val dim = m * (1 + rnd.nextInt(16)) // any multiple of m up to 128
      val subdim = dim / m
      val cb = Array.fill(m * k * subdim)(rnd.nextGaussian())
      val v = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val codes = VectorKernels.pqCodes(v, cb, m, k)
      val packed = VectorKernels.pqEncode(v, cb, m, k)
      val lut = VectorKernels.pqLut(v, cb, m, k)
      val self = VectorKernels.pqAdc(packed, lut, k)
      // <nv, recon> bounded by |recon| (Cauchy-Schwarz; nv is unit) —
      // recon is the concatenation of the selected centroids
      val reconNormSq = (0 until m).map { sub =>
        val off = (sub * k + codes(sub)) * subdim
        (0 until subdim).map(i => cb(off + i) * cb(off + i)).sum
      }.sum
      codes.forall(c => c >= 0 && c < k) &&
        packed.toSeq == codes.map(_.toByte).toSeq &&
        !self.isNaN &&
        math.abs(self) <= math.sqrt(reconNormSq) + 1e-9
    })
  }

  test("PQ: zero vector encodes deterministically and scores 0 against any LUT-free query") {
    val m = 8
    val k = 16
    check("pq-zero", Prop.forAll(Gen.chooseNum(1L, Long.MaxValue)) { seed =>
      val rnd = new scala.util.Random(seed)
      val dim = m * (1 + rnd.nextInt(16))
      val subdim = dim / m
      val cb = Array.fill(m * k * subdim)(rnd.nextGaussian())
      val zero = new Array[Float](dim)
      // zero-norm guard: normalizes to zeros, so every subspace picks the
      // centroid nearest the origin — same codes on repeat (determinism)
      val c1 = VectorKernels.pqCodes(zero, cb, m, k)
      val c2 = VectorKernels.pqCodes(zero, cb, m, k)
      // and the zero QUERY's LUT is all zeros -> every row scores 0.0
      val lutZ = VectorKernels.pqLut(zero, cb, m, k)
      val anyCodes = VectorKernels.pqEncode(
        Array.fill(dim)(rnd.nextGaussian().toFloat), cb, m, k)
      c1.toSeq == c2.toSeq &&
        lutZ.forall(_ == 0.0) &&
        VectorKernels.pqAdc(anyCodes, lutZ, k) == 0.0
    })
  }

  test("shingle3 kernel equals the HOF formulation it replaced") {
    // the codegen'd Shingle3Expr must reproduce array_distinct(transform(
    // sequence(0, n-3), i -> concat_ws(' ', t[i+1], t[i+2], t[i+3])))
    // exactly, including first-occurrence order
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val tokGen = Gen.listOf(Gen.oneOf("a", "b", "ab", "x", "yz", "q1"))
    check("shingle3", Prop.forAll(tokGen) { toks =>
      val arr = new GenericArrayData(
        toks.map(t => UTF8String.fromString(t)).toArray[Any])
      val got = graft.functions.TextKernels.shingle3(arr)
      val want: Seq[String] =
        if (toks.size < 3) Seq.empty
        else toks.sliding(3).map(_.mkString(" ")).toSeq.distinct
      (0 until got.numElements())
        .map(i => got.getUTF8String(i).toString) == want
    })
  }

  test("gramHash kernel equals md5Prefix60 over joined grams, both modes, k=1..9") {
    // the codegen'd GramHashExpr must reproduce, per position, exactly
    // md5Prefix60(concat_ws(' ', t[i..i+k-1])) — and in distinct mode the
    // array_distinct of that (dedup BY HASH, first-occurrence order)
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val tokGen = Gen.listOf(Gen.oneOf("a", "b", "ab", "x", "yz", "q1", ""))
    val kGen = Gen.chooseNum(1, 9)
    check("gramHash", Prop.forAll(tokGen, kGen) { (toks, k) =>
      val arr = new GenericArrayData(
        toks.map(t => UTF8String.fromString(t)).toArray[Any])
      val wantAll: Seq[Long] =
        if (toks.size < k) Seq.empty
        else toks.sliding(k).map(g => graft.functions.TextKernels
          .md5Prefix60(UTF8String.fromString(g.mkString(" ")))).toSeq
      val gotAll = graft.functions.TextKernels.gramHash(arr, k, distinct = false)
      val gotDist = graft.functions.TextKernels.gramHash(arr, k, distinct = true)
      gotAll.toLongArray().toSeq == wantAll &&
        gotDist.toLongArray().toSeq == wantAll.distinct
    })
  }

  test("grams kernel equals the sliding-window join reference") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val tokGen = Gen.listOf(Gen.oneOf("a", "b", "ab", "x", "yz", ""))
    val kGen = Gen.chooseNum(1, 5)
    check("grams", Prop.forAll(tokGen, kGen) { (toks, k) =>
      val arr = new GenericArrayData(
        toks.map(t => UTF8String.fromString(t)).toArray[Any])
      val got = graft.functions.TextKernels.grams(arr, k)
      val want: Seq[String] =
        if (toks.size < k) Seq.empty
        else toks.sliding(k).map(_.mkString(" ")).toSeq
      (0 until got.numElements())
        .map(i => got.getUTF8String(i).toString) == want
    })
  }

  test("termCounts kernel equals per-term filter counts") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val vocab = Seq("a", "b", "ab", "x", "yz", "")
    val tokGen = Gen.listOf(Gen.oneOf(vocab))
    val termsGen = Gen.nonEmptyListOf(Gen.oneOf(vocab ++ Seq("zz")))
    check("termCounts", Prop.forAll(tokGen, termsGen) { (toks, terms) =>
      val arr = new GenericArrayData(
        toks.map(t => UTF8String.fromString(t)).toArray[Any])
      val got = graft.functions.TextKernels.termCounts(arr,
        terms.map(UTF8String.fromString).toArray)
      got.toLongArray().toSeq ==
        terms.map(tm => toks.count(_ == tm).toLong)
    })
  }

  test("setFp kernel equals md5 of the sorted-distinct join") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val tokGen = Gen.listOf(Gen.oneOf("a", "b", "ab", "x", "yz", "q1", ""))
    check("setFp", Prop.forAll(tokGen) { toks =>
      val arr = new GenericArrayData(
        toks.map(t => UTF8String.fromString(t)).toArray[Any])
      val got = graft.functions.TextKernels.setFp(arr).toString
      val joined = toks.distinct.sorted.mkString(" ")
      val md = java.security.MessageDigest.getInstance("MD5")
      val want = md.digest(joined.getBytes("UTF-8"))
        .map(b => f"$b%02x").mkString
      got == want
    })
  }

  test("quantErr kernel equals the zip/abs/max reference") {
    val gen = Gen.listOf(Gen.chooseNum(-5.0f, 5.0f))
    check("quantErr", Prop.forAll(gen) { vs =>
      val v = vs.toArray
      val got = VectorKernels.quantErr(v)
      val nrm = VectorKernels.l2norm(v)
      val want =
        if (nrm < VectorKernels.ZeroNormEps) 0.0
        else {
          val q = VectorKernels.quantize(v)
          v.indices.foldLeft(0.0) { (acc, i) =>
            math.max(acc, math.abs(v(i).toDouble / nrm - q(i).toDouble / 127.0))
          }
        }
      java.lang.Double.doubleToLongBits(got) ==
        java.lang.Double.doubleToLongBits(want)
    })
  }

  test("repStats kernel equals the naive gram-count reference") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    // tiny alphabet so repeated grams actually occur
    val tokGen = Gen.listOf(Gen.oneOf("a", "b", "c", "ab"))
    check("repStats", Prop.forAll(tokGen) { toks =>
      val arr = new GenericArrayData(
        toks.map(t => UTF8String.fromString(t)).toArray[Any])
      val got = graft.functions.TextKernels.repStats(arr)
      def grams(n: Int): Seq[String] =
        if (toks.size < n) Seq.empty
        else toks.sliding(n).map(_.mkString(" ")).toSeq
      val c2 = grams(2).groupBy(identity).view.mapValues(_.size)
      val top2 = if (c2.isEmpty) 0L else c2.values.max.toLong
      val dup3 = grams(3).groupBy(identity).values
        .filter(_.size > 1).map(_.size.toLong).sum
      Seq(got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3)) ==
        Seq(top2, math.max(0, toks.size - 1).toLong, dup3,
          math.max(0, toks.size - 2).toLong)
    })
  }

  test("signPack kernel equals the bit-per-component reference; norm-invariant") {
    val gen = Gen.listOf(Gen.chooseNum(-5.0f, 5.0f))
    check("signPack", Prop.forAll(gen) { vs =>
      val v = vs.toArray
      val got = VectorKernels.signPack(v)
      val wantWords = (v.length + 63) / 64
      val want = new Array[Long](wantWords)
      v.indices.foreach { i =>
        if (v(i) > 0f) want(i / 64) |= 1L << (i % 64)
      }
      // sign of a component is invariant under positive scaling, so the
      // code of 2*v equals the code of v (the normalize-free property the
      // query relies on)
      val scaled = VectorKernels.signPack(v.map(_ * 2f))
      got.sameElements(want) && scaled.sameElements(want) &&
        got.length == wantWords
    })
  }

  test("hammingPacked equals the per-component sign-disagreement count") {
    val gen = for {
      n <- Gen.chooseNum(0, 200)
      a <- Gen.listOfN(n, Gen.chooseNum(-5.0f, 5.0f))
      b <- Gen.listOfN(n, Gen.chooseNum(-5.0f, 5.0f))
    } yield (a.toArray, b.toArray)
    check("hamming", Prop.forAll(gen) { case (a, b) =>
      val got = VectorKernels.hammingPacked(
        VectorKernels.signPack(a), VectorKernels.signPack(b))
      val want = a.indices.count(i => (a(i) > 0f) != (b(i) > 0f)).toLong
      got == want
    })
  }

  private val payloadGen: Gen[Array[Byte]] = for {
    n <- Gen.chooseNum(64, 512) // the >= 64 query-side domain
    bs <- Gen.listOfN(n, Gen.chooseNum(Byte.MinValue, Byte.MaxValue))
  } yield bs.toArray

  test("gridStats is exactly the fold of byteLumGrid (any payload)") {
    import graft.functions.MediaKernels
    check("gridStats", Prop.forAll(payloadGen) { p =>
      val grid = MediaKernels.byteLumGrid(p)
      val Array(sl, ss) = MediaKernels.gridStats(p)
      // mass conservation: grid cells partition the payload, so sl is
      // also the plain unsigned byte sum
      val byteSum = p.map(_ & 0xff).map(_.toLong).sum
      sl == grid.sum && ss == grid.map(x => x * x).sum && sl == byteSum
    })
  }

  test("frameEnergies matches the naive per-frame reference (any frameLen)") {
    import graft.functions.MediaKernels
    val gen = for {
      p <- payloadGen
      f <- Gen.chooseNum(1, 96)
      c <- Gen.chooseNum(0, 255)
    } yield (p, f, c)
    check("frameEnergies", Prop.forAll(gen) { case (p, f, c) =>
      val got = MediaKernels.frameEnergies(p, f, c)
      val nFrames = p.length / f
      val want = (0 until nFrames).map { fi =>
        (0 until f).map { j =>
          val d = (p(fi * f + j) & 0xff) - c; d.toLong * d
        }.sum
      }
      got.length == nFrames && got.toSeq == want
    })
  }
}
