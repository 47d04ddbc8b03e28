package graft

import graft.functions.VectorKernels
import graft.store.{LocalIvfBqIndex, LocalIvfPqIndex, QuantizedIndex}
import org.apache.spark.sql.functions._

/** The composed IVF+compression serving tiers (store/LocalIvfPqIndex,
  * store/LocalIvfBqIndex): pruning (scan a cell fraction) stacked on
  * compression (bytes/row) with an exact rescore. The equivalence chain:
  *
  *  1. full probe + full candK == the flat exact scan (EXTERNAL witness —
  *     routing and compression both drop out, so any scoring divergence
  *     in the pipeline shows);
  *  2. at ANY nprobe, search with candK >= probed rows == exactInProbe
  *     (the rescore-everything path) — the compressed candidate stage
  *     loses nothing when it keeps everything, and rescore scoring is the
  *     exact kernel;
  *  3. at tight candK the compressed ordering still recovers almost all
  *     of exactInProbe's top-10 (recall floor) — the stage actually ranks;
  *  4. recall floors vs the flat scan on a clustered corpus at small
  *     nprobe, and probedRows confirms the scan fraction is real.
  */
class LocalIvfQuantSpec extends SparkSpec {

  private val K = 10
  private val Dim = 32
  private val NClusters = 8
  private val N = 4000

  // Clustered like the LocalIvfSpec corpus but with sigma=1.0 WITHIN-
  // cluster spread (not 0.3): routing still separates the clusters
  // (centers ~24 apart in L2, noise norm ~5.7), while within a cell the
  // rows now differ enough that PQ/BQ codes vary — at sigma=0.3 every
  // cluster member compressed to near-identical codes and the candidate
  // stage measured exactly the random-overlap recall (0.095 at
  // candK=48/~500), which tests the fixture, not the tier.
  private lazy val (ids, vecs) = {
    val rnd = new scala.util.Random(3)
    val centers = Array.fill(NClusters)(Array.fill(Dim)(rnd.nextGaussian().toFloat * 3f))
    val vs = Array.tabulate(N) { i =>
      val c = centers(i % NClusters)
      Array.tabulate(Dim)(j => c(j) + rnd.nextGaussian().toFloat * 1.0f)
    }
    (Array.tabulate(N)(_.toLong), vs)
  }

  private lazy val codebook: Array[Double] = {
    import spark.implicits._
    graft.ops.PqQueries.trainCodebookOn(
      ids.zip(vecs).toSeq.toDF("vec_id", "embedding"))
  }

  private lazy val ivfPq: LocalIvfPqIndex =
    LocalIvfPqIndex.train(ids, vecs, numCells = NClusters,
      m = graft.ops.PqQueries.M, kSub = graft.ops.PqQueries.K, codebook, seed = 5)

  private lazy val ivfBq: LocalIvfBqIndex =
    LocalIvfBqIndex.train(ids, vecs, numCells = NClusters, seed = 5)

  private lazy val flat = {
    import spark.implicits._
    QuantizedIndex.build(
      ids.zip(vecs).toSeq.toDF("vec_id", "embedding"), Dim, numBlocks = 2).toLocal
  }

  private lazy val queryIdx: Seq[Int] = (0 until 20).map(_ * 97)

  test("ivf-pq: full probe + full candK equals the flat exact scan") {
    queryIdx.foreach { qi =>
      val q = vecs(qi)
      val exact = flat.search(VectorKernels.quantize(q), K)
      assert(ivfPq.search(q, K, nprobe = NClusters, candK = N) == exact)
      assert(ivfPq.exactInProbe(q, K, nprobe = NClusters) == exact)
    }
  }

  test("ivf-bq: full probe + full candK equals the flat exact scan") {
    queryIdx.foreach { qi =>
      val q = vecs(qi)
      val exact = flat.search(VectorKernels.quantize(q), K)
      assert(ivfBq.search(q, K, nprobe = NClusters, candK = N) == exact)
      assert(ivfBq.exactInProbe(q, K, nprobe = NClusters) == exact)
    }
  }

  test("rescored probe with covering candK equals the cell-restricted exact search") {
    for (nprobe <- Seq(1, 2, 3); qi <- queryIdx) {
      val q = vecs(qi)
      val pqCover = ivfPq.probedRows(q, nprobe)
      assert(ivfPq.search(q, K, nprobe, candK = pqCover) ==
        ivfPq.exactInProbe(q, K, nprobe),
        s"ivf-pq diverges from its cell-restricted exact search at nprobe=$nprobe, q=$qi")
      val bqCover = ivfBq.probedRows(q, nprobe)
      assert(ivfBq.search(q, K, nprobe, candK = bqCover) ==
        ivfBq.exactInProbe(q, K, nprobe),
        s"ivf-bq diverges from its cell-restricted exact search at nprobe=$nprobe, q=$qi")
    }
  }

  test("candidate-stage recall is monotone in candK and reaches 1.0 at cover") {
    def meanRecall(ix: String, candK: Int): Double = {
      val rs = queryIdx.map { qi =>
        val q = vecs(qi)
        val (got, truth) = ix match {
          case "pq" => (ivfPq.search(q, K, 2, candK), ivfPq.exactInProbe(q, K, 2))
          case _    => (ivfBq.search(q, K, 2, candK), ivfBq.exactInProbe(q, K, 2))
        }
        val t = truth.map(_._1).toSet
        got.map(_._1).count(t).toDouble / K
      }
      rs.sum / rs.length
    }
    val ladder = Seq(48, 100, 200, 400, 800)
    val curvePq = ladder.map(meanRecall("pq", _))
    val curveBq = ladder.map(meanRecall("bq", _))
    info(s"candidate-stage recall@10 vs exactInProbe by candK $ladder:")
    info(s"  pq: ${curvePq.map(r => f"$r%.3f").mkString(", ")}")
    info(s"  bq: ${curveBq.map(r => f"$r%.3f").mkString(", ")}")
    // weak-monotone with a small tolerance (the funnel keeps MORE rows,
    // so candidate recall can only improve up to measurement ties)
    Seq(curvePq, curveBq).foreach(_.sliding(2).foreach { case Seq(a, b) =>
      assert(b >= a - 0.05, s"candidate recall must grow with candK")
    })
    val cover = queryIdx.map(qi => ivfPq.probedRows(vecs(qi), 2)).max
    assert(meanRecall("pq", cover) == 1.0 && meanRecall("bq", cover) == 1.0,
      "covering candK must recover exactInProbe exactly")
    assert(curvePq.last >= 0.75, f"ivf-pq recall ${curvePq.last}%.3f at candK=800")
    assert(curveBq.last >= 0.75, f"ivf-bq recall ${curveBq.last}%.3f at candK=800")
  }

  test("end-to-end recall vs the flat scan on separable clusters, pruning real") {
    // candK sized to the funnel production actually runs on a tight
    // cluster (the probed cell holds ~1000 near-duplicate-direction rows;
    // within-cluster score gaps sit BELOW the code reconstruction error,
    // so a deep rescore is the honest operating point — that is what the
    // exact-rescore stage is FOR)
    val candK = 800
    val rs = queryIdx.map { qi =>
      val q = vecs(qi)
      val truth = flat.search(VectorKernels.quantize(q), K).map(_._1).toSet
      val gotPq = ivfPq.search(q, K, 2, candK).map(_._1).count(truth).toDouble / K
      val gotBq = ivfBq.search(q, K, 2, candK).map(_._1).count(truth).toDouble / K
      (gotPq, gotBq)
    }
    val mPq = rs.map(_._1).sum / rs.length
    val mBq = rs.map(_._2).sum / rs.length
    info(f"end-to-end recall@10 at nprobe=2/$NClusters, candK=$candK: pq $mPq%.3f, bq $mBq%.3f")
    assert(mPq >= 0.75, f"ivf-pq recall $mPq%.3f below floor")
    assert(mBq >= 0.75, f"ivf-bq recall $mBq%.3f below floor")
    // pruning is real: 2 of 8 roughly equal-mass cells
    val fracPq = ivfPq.probedRows(vecs(0), 2).toDouble / ivfPq.count
    val fracBq = ivfBq.probedRows(vecs(0), 2).toDouble / ivfBq.count
    assert(fracPq < 0.4 && fracBq < 0.4, f"scan fractions $fracPq%.2f / $fracBq%.2f")
  }

  test("gang path: exactness holds on a corpus large enough to engage the gang") {
    // the 4,000-row corpus above sizes the gang to 1 (count/2048 < 2) and
    // exercises only the sequential path; this corpus engages the
    // scan -> barrier-select -> rescore worker pipeline, whose result
    // must be bitwise the sequential semantics
    val rnd = new scala.util.Random(11)
    val nBig = 40000
    val centers = Array.fill(NClusters)(Array.fill(Dim)(rnd.nextGaussian().toFloat * 3f))
    val bigVecs = Array.tabulate(nBig) { i =>
      val c = centers(i % NClusters)
      Array.tabulate(Dim)(j => c(j) + rnd.nextGaussian().toFloat * 1.0f)
    }
    val bigIds = Array.tabulate(nBig)(_.toLong)
    val cb2 = {
      import spark.implicits._
      graft.ops.PqQueries.trainCodebookOn(
        bigIds.zip(bigVecs).toSeq.toDF("vec_id", "embedding"))
    }
    val pq = LocalIvfPqIndex.train(bigIds, bigVecs, numCells = NClusters,
      m = graft.ops.PqQueries.M, kSub = graft.ops.PqQueries.K, cb2, seed = 5)
    val bq = LocalIvfBqIndex.train(bigIds, bigVecs, numCells = NClusters, seed = 5)
    for (qi <- Seq(0, 977, 5003); nprobe <- Seq(2, 3)) {
      val q = bigVecs(qi)
      assert(pq.search(q, K, nprobe, candK = pq.probedRows(q, nprobe)) ==
        pq.exactInProbe(q, K, nprobe))
      assert(bq.search(q, K, nprobe, candK = bq.probedRows(q, nprobe)) ==
        bq.exactInProbe(q, K, nprobe))
      // a tight funnel through the gang path returns a SUBSET ranking
      // consistent with exactInProbe's top-1 (sanity, not a recall gate)
      assert(pq.search(q, K, nprobe, candK = 256).nonEmpty)
      assert(bq.search(q, K, nprobe, candK = 256).nonEmpty)
    }
  }

  test("fromAtRest replica serves an at-rest IvfPq layout on its frozen sidecars") {
    import graft.store.{IvfPqIndex, QuantizedIndex}
    val emb = Tables.embeddings(spark, sf001)
    val dir = tempDir("ivfpq-local")
    IvfPqIndex.build(emb, dir)
    val rep = LocalIvfPqIndex.fromAtRest(spark, dir, emb)
    assert(rep.count == emb.count())
    val flat64 = QuantizedIndex
      .build(emb.select(col("vec_id"), col("embedding")), dim = 64, numBlocks = 4)
      .toLocal
    val qs = emb.filter(col("vec_id") % 25 === 0)
      .select(col("vec_id"), col("embedding")).collect()
      .map(_.getSeq[Float](1).toArray)
    qs.foreach { q =>
      // full probe + covering candK recovers the flat exact scan — the
      // replica's routing, codes and rescore all line up with the layout
      val exact = flat64.search(VectorKernels.quantize(q), K)
      assert(rep.search(q, K, rep.numCells, candK = rep.count) == exact)
      // at a small nprobe the rescored probe equals the cell-restricted
      // exact search (same chain as the trained tiers)
      val cover = rep.probedRows(q, 2)
      assert(rep.search(q, K, 2, candK = cover) == rep.exactInProbe(q, K, 2))
    }
    // a rescore source missing indexed ids fails loudly
    intercept[IllegalArgumentException](
      LocalIvfPqIndex.fromAtRest(spark, dir, emb.filter(col("vec_id") < 100)))
    // an OPQ layout is refused (format-flag check)
    val dirOpq = tempDir("ivfpq-local-opq")
    IvfPqIndex.buildOpq(emb, dirOpq)
    intercept[IllegalArgumentException](
      LocalIvfPqIndex.fromAtRest(spark, dirOpq, emb))
    // and so is a residual-coded layout
    val dirRes = tempDir("ivfpq-local-res")
    IvfPqIndex.buildResidual(emb, dirRes)
    intercept[IllegalArgumentException](
      LocalIvfPqIndex.fromAtRest(spark, dirRes, emb))
  }

  test("fromAtRest replica serves an at-rest IvfBq layout on its frozen sidecars") {
    import graft.store.{IvfBqIndex, QuantizedIndex}
    val emb = Tables.embeddings(spark, sf001)
    val dir = tempDir("ivfbq-local")
    IvfBqIndex.build(emb, dir)
    val rep = LocalIvfBqIndex.fromAtRest(spark, dir, emb)
    assert(rep.count == emb.count())
    val flat64 = QuantizedIndex
      .build(emb.select(col("vec_id"), col("embedding")), dim = 64, numBlocks = 4)
      .toLocal
    val qs = emb.filter(col("vec_id") % 25 === 0)
      .select(col("embedding")).collect().map(_.getSeq[Float](0).toArray)
    qs.foreach { q =>
      val exact = flat64.search(VectorKernels.quantize(q), K)
      assert(rep.search(q, K, rep.numCells, candK = rep.count) == exact)
      val cover = rep.probedRows(q, 2)
      assert(rep.search(q, K, 2, candK = cover) == rep.exactInProbe(q, K, 2))
    }
    intercept[IllegalArgumentException](
      LocalIvfBqIndex.fromAtRest(spark, dir, emb.filter(col("vec_id") < 100)))
  }

  test("guards: dimension mismatch and candK < topK fail loudly") {
    intercept[IllegalArgumentException](ivfPq.search(new Array[Float](Dim + 1), K, 2, 100))
    intercept[IllegalArgumentException](ivfBq.search(new Array[Float](Dim + 1), K, 2, 100))
    intercept[IllegalArgumentException](ivfPq.search(vecs(0), K, 2, candK = K - 1))
    intercept[IllegalArgumentException](ivfBq.search(vecs(0), K, 2, candK = K - 1))
  }
}
