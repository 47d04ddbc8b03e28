package graft.ops

import graft.{OracleSql, Q, Tables}
import graft.functions.{VectorKernels, VectorOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Product quantization (PQ) — the compression step BEYOND int8 scalar
  * quantization on the 100 TB residency path. The reference engine stores
  * int8 rows (pythonvectordb.py:102-127: 1 byte/component, 4x over f32);
  * PQ codes each dim/M-component subspace as one byte against a trained
  * codebook, taking a dim-D float vector from 4*D bytes to M bytes (the
  * dim-64 testdata -> 32x; dim 128 -> 64x), and
  * scores compressed rows with an ADC lookup table — m table reads per row,
  * no per-row float math. This is the standard IVF-PQ residency design
  * (Jegou et al., "Product Quantization for Nearest Neighbor Search",
  * TPAMI 2011; same structure as FAISS's IndexPQ).
  *
  * Spark-first training: Lloyd's iterations run as ONE distributed job per
  * iteration covering ALL M subspaces — a bounded KMeansSumAgg buffer
  * per partition accumulates every (subspace, code, component) floor-
  * scaled sum and count in a single pass (no per-iteration explode or
  * wide shuffle; the partial is ~18 KiB regardless of sample size; the
  * superseded posexplode formulation is kept as lloydStepExplode for the
  * bit-parity assertion in PqSpec). No M-sequential model fits; the
  * per-iteration collect is the M*K*subdim centroid matrix (2 KiB here),
  * the same driver-side footprint MLlib KMeans uses for its centers.
  * Training reads a deterministic hash-ordered sample capped at
  * `TrainCap` rows — at 100 TB codebooks are trained on a sample by
  * design, never the full corpus.
  *
  * Oracle closure (q_pq_recall): the codebook is data-trained, so the
  * registry row reduces the PQ result to invariants DuckDB states
  * independently (the q_ivf_kmeans pattern): query count, completeness,
  * a recall@3-vs-exact floor (ADC top-CandK candidates, exact-rescored),
  * the constant compression ratio, and the exact brute-force mean-top3
  * companion summed via the 2^43 floor trick. A codebook/encode/ADC
  * regression drops recall below the floor and fails the hash-match.
  * Structure + recall are additionally asserted in PqSpec.
  */
object PqQueries {

  /** Subspaces: one code byte per dim/M components (the dim-64 testdata
    * -> 8-component subspaces). */
  final val M = 8

  /** Centroids per subspace (fits one byte with headroom; K=16 keeps the
    * codebook trainable at the smallest SF's 500-vector corpus). */
  final val K = 16

  final val Iters = 8
  final val TrainCap = 4096

  /** ADC candidates rescored exactly per query before taking top-3. */
  final val CandK = 128

  /** recall@3 floor stated by the q_pq_recall oracle invariant. Measured
    * (tools/PqProbe, M=8 K=16 CandK=128, hash-ordered init, 8 iterations,
    * order-independent means => bit-deterministic training) on the
    * near-random Gaussian fixture: 0.933 at sf0.001, 0.933 at sf0.01,
    * 0.700 at sf0.1 — the floor sits >= 6 hits (of 30) below the weakest
    * SF. Random high-dim data is PQ-adversarial (subspace distances
    * concentrate); on a clustered real corpus the same codebook budget
    * recalls far higher. */
  final val PqRecallFloor = 0.5

  /** q_bq_recall recall@3 floor. Measured (tools/BqProbe, CandK=128,
    * training-free so fully deterministic): 0.967 / 0.967 / 0.733 at
    * sf0.001 / 0.01 / 0.1 — at-or-above the trained PQ codebook's
    * 0.933 / 0.933 / 0.700 at every SF, the expected result on
    * near-isotropic Gaussian data where sign bits are as informative as
    * trained subspace centroids. The floor sits >= 7 hits (of 30) below
    * the weakest measurement. */
  final val BqRecallFloor = 0.5

  /** Train the flat [(sub*K + c)*subdim + i] codebook with distributed
    * Lloyd's over a deterministic sample. Empty clusters keep their
    * previous centroid (the standard guard). */
  def trainCodebook(spark: SparkSession, dir: String): Array[Double] =
    trainCodebookOn(Tables.embeddings(spark, dir))

  /** As trainCodebook, over any (vec_id, embedding) DataFrame — shared
    * with the at-rest IVF-PQ index (store/IvfPqIndex.scala). `iters`
    * overrides the Lloyd's iteration count; `init` warm-starts from an
    * existing codebook (the OPQ outer loop re-trains a few iterations
    * after each rotation update instead of re-seeding — Ge et al.'s
    * non-parametric alternation). */
  def trainCodebookOn(emb: DataFrame): Array[Double] =
    trainCodebookOn(emb, Iters, None)

  def trainCodebookOn(emb: DataFrame, iters: Int,
      init: Option[Array[Double]]): Array[Double] = {
    require(!emb.isEmpty, "PQ training requires a non-empty embeddings corpus")
    val dim = emb.select(size(col("embedding")).as("n")).head().getInt(0)
    require(dim % M == 0, s"dim $dim not divisible by M=$M")
    val subdim = dim / M

    val sample = emb
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(TrainCap)
      .select(col("embedding"))
      .cache()

    // init: the first K sampled vectors' normalized subvectors seed every
    // subspace (deterministic — hash order, not a random seed).
    var cb = init match {
      case Some(c0) =>
        require(c0.length == M * K * subdim,
          s"init codebook ${c0.length} != $M*$K*$subdim")
        c0.clone()
      case None =>
        val seedRows = sample.limit(K).collect()
        require(seedRows.length == K,
          s"PQ training needs at least $K vectors, got ${seedRows.length}")
        val c0 = new Array[Double](M * K * subdim)
        seedRows.zipWithIndex.foreach { case (r, c) =>
          val nv = VectorKernels.normalizeD(
            r.getSeq[Float](0).toArray)
          var sub = 0
          while (sub < M) {
            System.arraycopy(nv, sub * subdim, c0, (sub * K + c) * subdim, subdim)
            sub += 1
          }
        }
        c0
    }

    var it = 0
    while (it < iters) {
      cb = lloydStep(sample, cb, subdim)
      it += 1
    }
    sample.unpersist()
    cb
  }

  /** One Lloyd's update: the KMeansSumAgg sufficient statistics reduced
    * to new centroids — order-independent exact means (the 2^43 floor
    * trick, see Q.scala parity rules: plain avg(double) depends on
    * partial-merge arrival order, which would make the trained codebook —
    * and so the oracle-gated recall — wobble across runs). Empty clusters
    * keep their previous centroid (the standard guard). Bit-identical to
    * the posexplode + groupBy formulation it replaced (lloydStepExplode,
    * kept for the PqSpec parity assertion). */
  private[graft] def lloydStep(sample: DataFrame, cb: Array[Double],
      subdim: Int): Array[Double] = {
    val flat = sample
      .agg(VectorOps.kmeansSumFloor(col("embedding"), cb, M, K).as("s"))
      .head().getSeq[Long](0) // bounded: M*K*subdim + M*K longs (~18 KiB)
    val next = cb.clone()
    var sub = 0
    while (sub < M) {
      var c = 0
      while (c < K) {
        val cnt = flat(M * K * subdim + sub * K + c)
        if (cnt > 0L) {
          var i = 0
          while (i < subdim) {
            next((sub * K + c) * subdim + i) =
              flat((sub * K + c) * subdim + i).toDouble / P43 / cnt
            i += 1
          }
        }
        c += 1
      }
      sub += 1
    }
    next
  }

  /** The original one-job-per-iteration formulation (posexplode keyed by
    * (subspace, component) + decimal-routed groupBy means) — superseded by
    * lloydStep's bounded-buffer aggregate, retained so PqSpec can assert
    * the two produce BIT-IDENTICAL centroids on real data. */
  private[graft] def lloydStepExplode(sample: DataFrame, cb: Array[Double],
      subdim: Int): Array[Double] = {
    val means = sample
      .select(
        posexplode(VectorOps.normalize(col("embedding"))).as(Seq("i", "x")),
        VectorOps.pqAssign(col("embedding"), cb, M, K).as("cs"))
      .select(
        (col("i") / subdim).cast("int").as("sub"),
        (col("i") % subdim).cast("int").as("d"),
        col("x"),
        col("cs").getItem((col("i") / subdim).cast("int")).as("c"))
      .groupBy(col("sub"), col("c"), col("d"))
      .agg((sum(floor(col("x") * lit(P43)).cast(dec38))
        .cast("double") / lit(P43) / count(lit(1))).as("mu"))
      .collect()
    val next = cb.clone()
    means.foreach { r =>
      next((r.getInt(0) * K + r.getInt(1)) * subdim + r.getInt(2)) =
        r.getDouble(3)
    }
    next
  }

  /** ADC top-CandK candidates per query (vec_id < 10), exact-rescored,
    * top-3 — the raw PQ search result (asserted in PqSpec). The corpus
    * side carries only (vec_id, M-byte codes); queries broadcast with
    * their LUTs; TopKAgg keeps the post-scan shuffle at O(CandK) rows per
    * (query x partition). */
  def pqTop3(spark: SparkSession, dir: String): DataFrame = {
    val cb = trainCodebook(spark, dir)
    pqTop3WithCodebook(spark, dir, cb)
  }

  private[graft] def pqTop3WithCodebook(
      spark: SparkSession, dir: String, cb: Array[Double],
      rot: Option[Array[Double]] = None): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    // Under OPQ the stored codes and the query LUT both live in the
    // rotated space; the exact rescore below stays on the ORIGINAL
    // embeddings (cosine is rotation-invariant, and rescoring must be
    // bit-identical to the brute-force oracle).
    def inSpace(c: org.apache.spark.sql.Column) =
      rot.map(r => VectorOps.rotateMat(c, r)).getOrElse(c)
    val codes = emb.select(col("vec_id"),
      VectorOps.pqEncode(inSpace(col("embedding")), cb, M, K).as("codes"))
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"),
        VectorOps.pqLut(inSpace(col("embedding")), cb, M, K).as("lut"))
    val cand = codes
      .join(broadcast(queries), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        VectorOps.pqAdc(col("codes"), col("lut"), K).as("adc"))
      .groupBy(col("qid"))
      .agg(VectorOps.topK(col("adc"), col("vec_id"), CandK).as("top"))
      .select(col("qid"), explode(col("top")).as("t"))
      .select(col("qid"), col("t.vec_id").as("vec_id"))
    // exact rescore of the candidate set only
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val rescored = cand
      .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(q), "qid")
      .select(col("qid"), col("vec_id"),
        VectorOps.cosineFloat(col("qe"), col("embedding")).as("score"))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("vec_id"))
    rescored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select(col("qid"), col("vec_id"), col("score"))
  }

  /** Binary-quantization candidate generation + exact rescore — the
    * 1-bit end of the quantization family (int8 -> PQ/OPQ -> sign bits).
    * Codes are dim BITS (32x smaller than float32 at any dim; 8 bytes at
    * dim 64), distances are XOR+popcount — the cheap first-pass filter
    * RaBitQ/BQ serving stacks use before exact rescoring. Pipeline shape
    * is pqTop3's: the 10 query codes broadcast, ONE corpus scan computes
    * codegen'd Hamming per (row, query), the bounded TopKAgg keeps CandK
    * candidates per query (shuffle = queries x CandK, never corpus-sized),
    * then the exact float-cosine rescore runs on the bounded candidate
    * relation only. Hamming ties at the CandK boundary cut by vec_id ASC,
    * so candidates are deterministic. */
  def bqTop3(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val codes = emb.select(col("vec_id"),
      VectorOps.signPack(col("embedding")).as("code"))
    val queries = codes.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("code").as("qcode"))
    val cand = codes
      .join(broadcast(queries), col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        -VectorOps.hamming(col("code"), col("qcode")).cast("double"))
      .toDF("qid", "vec_id", "nham")
      .groupBy(col("qid"))
      .agg(VectorOps.topK(col("nham"), col("vec_id"), CandK).as("top"))
      .select(col("qid"), explode(col("top")).as("t"))
      .select(col("qid"), col("t.vec_id").as("vec_id"))
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val rescored = cand
      .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(q), "qid")
      .select(col("qid"), col("vec_id"),
        VectorOps.cosineFloat(col("qe"), col("embedding")).as("score"))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("vec_id"))
    rescored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select(col("qid"), col("vec_id"), col("score"))
  }

  // ---------------------------------------------------------------------
  // OPQ (Ge et al., "Optimized Product Quantization", CVPR 2013,
  // non-parametric variant; the same alternation FAISS's OPQMatrix runs):
  // learn an orthogonal dim x dim rotation R so the PQ subspace split
  // aligns with the data, alternating
  //   (1) fix R: a few distributed Lloyd's iterations on X.R (warm-
  //       started from the previous codebook),
  //   (2) fix the codebook: R <- Procrustes(X^T X^), the closed-form
  //       orthogonal minimizer of ||X.R - X^||_F via SVD of the d x d
  //       correlation matrix.
  // Every data-sized step is a Spark job (rotate/encode/reconstruct are
  // codegen'd row kernels; the correlation is an exact decimal-routed
  // groupBy over TrainCap rows); the driver only ever holds d x d
  // doubles (32 KiB at dim 64) and runs the 64x64 SVD — the MLlib-KMeans
  // driver-footprint pattern. Constant-cost at 100 TB by the same
  // TrainCap argument as PQ training.
  // ---------------------------------------------------------------------

  final val OpqOuter = 2
  final val OpqInnerFirst = 4
  final val OpqInner = 2

  /** Total Lloyd's budget of the OPQ schedule — the plain-PQ baseline in
    * q_opq_recall trains with the SAME budget so the error comparison
    * isolates the rotation's contribution. */
  final val OpqTotalIters: Int = OpqInnerFirst + (OpqOuter - 1) * OpqInner + OpqInner

  /** q_opq_recall recall@3 floor. Measured (tools/OpqProbe, deterministic
    * training, 8-iteration schedule): OPQ 0.967 / 0.967 / 0.800 at
    * sf0.001 / 0.01 / 0.1 — above the equal-budget plain-PQ
    * 0.933 / 0.933 / 0.700 at every SF. The floor sits >= 9 hits (of 30)
    * below the weakest measurement. */
  final val OpqRecallFloor = 0.5

  /** OPQ must not *hurt* quantization error vs the equal-budget PQ
    * baseline. Measured error ratio (tools/OpqProbe): 0.891 / 0.896 /
    * 0.968 across the three SFs — the rotation genuinely helps even on
    * this near-isotropic fixture. The invariant allows a hair of float
    * noise rather than demanding strict improvement. */
  final val OpqErrTol = 1.001

  /** q_opqp_recall floors/tolerances. Measured (tools/OpqProbe, same
    * deterministic protocol): parametric recall@3 0.900 / 0.900 / 0.800
    * across the three SFs — at or below the non-parametric
    * 0.967/0.967/0.800 (tying it at sf0.1) — and the Gaussian closed
    * form does not beat plain PQ's error here
    * (ratio vs PQ 1.014 / 1.007 / 1.008). That is Ge et al.'s own
    * finding (OPQ_NP >= OPQ_P; Table 2): on near-isotropic data the
    * covariance spectrum is flat, PCA directions are noise, and the
    * closed form buys nothing — its value is TRAINING COST (one
    * covariance pass + one eigendecomposition, no alternation; half the
    * distributed work of OPQ_NP), worth it only when the data is
    * actually anisotropic. The invariants gate what the math does
    * guarantee: an orthogonal rotation (recall stays well above the
    * random-candidate floor) and error within a small band of plain PQ
    * (the rotation cannot blow the codebook up). */
  final val OpqpRecallFloor = 0.5
  final val OpqpErrTol = 1.10

  private val P43 = 8796093022208.0 // 2^43
  private def dec38 = org.apache.spark.sql.types.DecimalType(38, 0)

  private[ops] def identityRotation(dim: Int): Array[Double] = {
    val r = new Array[Double](dim * dim)
    var i = 0
    while (i < dim) { r(i * dim + i) = 1.0; i += 1 }
    r
  }

  /** Closed-form Procrustes step: for correlation M = X^T X^ (row-major),
    * the orthogonal R maximizing tr(R^T M) is U V^T from M = U S V^T. */
  private[ops] def procrustes(corr: Array[Double], dim: Int): Array[Double] = {
    val mm = breeze.linalg.DenseMatrix.zeros[Double](dim, dim)
    var i = 0
    while (i < dim) {
      var j = 0
      while (j < dim) { mm(i, j) = corr(i * dim + j); j += 1 }
      i += 1
    }
    val res = breeze.linalg.svd(mm)
    val rm = res.U * res.Vt
    val out = new Array[Double](dim * dim)
    i = 0
    while (i < dim) {
      var j = 0
      while (j < dim) { out(i * dim + j) = rm(i, j); j += 1 }
      i += 1
    }
    out
  }

  /** Exact (floor-scaled, order-independent) correlation X^T X^ over the
    * training sample: X = normalized originals, X^ = PQ reconstructions of
    * the rotated rows. One OuterSumAgg pass — each partition accumulates a
    * single d x d long buffer of floor(x_i*y_j*2^43) terms and ships 32 KiB
    * of partials; the d^2 matrix never exists as rows (the posexplode
    * formulation fanned 4096 rows per vector through a d^2-key shuffle). */
  private def corrMatrix(sample: DataFrame, rot: Array[Double],
      cb: Array[Double], dim: Int): Array[Double] = {
    val flat = sample
      .select(
        VectorOps.normalize(col("embedding")).as("x"),
        VectorOps.pqReconstruct(
          VectorOps.rotateMat(col("embedding"), rot), cb, M, K).as("y"))
      .agg(VectorOps.outerSumFloor(col("x"), col("y"), dim).as("s"))
      .head().getSeq[Long](0)
    val out = new Array[Double](dim * dim)
    var i = 0
    while (i < out.length) { out(i) = flat(i).toDouble / P43; i += 1 }
    out
  }

  /** Train (rotation, codebook) with the non-parametric OPQ alternation.
    * Deterministic end-to-end: hash-ordered sample, floor-scaled exact
    * means and correlations, and a driver-side LAPACK SVD on one machine. */
  def trainOpq(spark: SparkSession, dir: String): (Array[Double], Array[Double]) =
    trainOpqOn(Tables.embeddings(spark, dir))

  /** As trainOpq, over any (vec_id, embedding) DataFrame — shared with
    * the at-rest OPQ index build (store/IvfPqIndex.buildOpq). */
  def trainOpqOn(emb: DataFrame): (Array[Double], Array[Double]) = {
    val dim = emb.select(size(col("embedding")).as("n")).head().getInt(0)
    val sample = emb
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(TrainCap)
      .select(col("vec_id"), col("embedding"))
      .cache()
    var rot = identityRotation(dim)
    var cb: Array[Double] = null
    var outer = 0
    while (outer < OpqOuter) {
      val rotated = sample.select(col("vec_id"),
        VectorOps.rotateMat(col("embedding"), rot).as("embedding"))
      cb = trainCodebookOn(rotated,
        if (outer == 0) OpqInnerFirst else OpqInner, Option(cb))
      rot = procrustes(corrMatrix(sample, rot, cb, dim), dim)
      outer += 1
    }
    // final codebook in the final rotation's space
    val rotatedF = sample.select(col("vec_id"),
      VectorOps.rotateMat(col("embedding"), rot).as("embedding"))
    cb = trainCodebookOn(rotatedF, OpqInner, Option(cb))
    sample.unpersist()
    (rot, cb)
  }

  // ---------------------------------------------------------------------
  // Parametric OPQ (Ge et al. CVPR 2013 §4, "OPQ_P"): under a Gaussian
  // data assumption the distortion-minimizing rotation is CLOSED-FORM —
  // PCA-decorrelate, then EIGENVALUE ALLOCATION: hand principal
  // directions to the M subspaces greedily balancing the PRODUCT of
  // eigenvalues per subspace (the paper's independence + balanced-
  // variance conditions). No alternation: ONE covariance pass (the same
  // bounded OuterSumAgg the Procrustes step uses, plus an exact per-dim
  // mean) and one driver-side d x d symmetric eigendecomposition; the
  // codebook then trains in the rotated space with the SAME total
  // Lloyd's budget as OPQ_NP / plain PQ, so the three-way comparison
  // isolates the rotation policy. Constant-cost at any corpus size by
  // the TrainCap argument.
  // ---------------------------------------------------------------------

  /** Train (rotation, codebook) with the parametric (Gaussian-assumption)
    * OPQ rotation. Deterministic: floor-scaled exact covariance inputs
    * and a driver-side LAPACK eigendecomposition (the trainOpq SVD
    * argument); allocation ties break on the lowest bucket index. */
  def trainOpqParametric(spark: SparkSession, dir: String): (Array[Double], Array[Double]) =
    trainOpqParametricOn(Tables.embeddings(spark, dir))

  def trainOpqParametricOn(emb: DataFrame): (Array[Double], Array[Double]) = {
    val dim = emb.select(size(col("embedding")).as("n")).head().getInt(0)
    // fail here with the clear message — without it, a non-divisible dim
    // truncates subdim and the allocation loop dies on empty.minBy once
    // all buckets fill early (and the cached sample would leak)
    require(dim % M == 0, s"dim $dim not divisible by M=$M")
    val subdim = dim / M
    val sample = emb
      .orderBy(xxhash64(col("vec_id")), col("vec_id"))
      .limit(TrainCap)
      .select(col("vec_id"), col("embedding"))
      .cache()
    val n = sample.count().toDouble
    // exact per-dim mean of the normalized sample (dim groups, the
    // floor-scaled decimal route — order-independent)
    val mu = new Array[Double](dim)
    sample
      .select(posexplode(VectorOps.normalize(col("embedding"))).as(Seq("i", "x")))
      .groupBy(col("i"))
      .agg((sum(floor(col("x") * lit(P43)).cast(dec38))
        .cast("double") / lit(P43) / count(lit(1))).as("mu"))
      .collect()
      .foreach(r => mu(r.getInt(0)) = r.getDouble(1))
    // exact second moment E[x x^T] via the bounded d x d outer-sum
    // aggregate (32 KiB of long partials per partition)
    val s2 = sample.select(VectorOps.normalize(col("embedding")).as("x"))
      .agg(VectorOps.outerSumFloor(col("x"), col("x"), dim).as("s"))
      .head().getSeq[Long](0)
    val cov = breeze.linalg.DenseMatrix.zeros[Double](dim, dim)
    var i = 0
    while (i < dim) {
      var j = 0
      while (j < dim) {
        cov(i, j) = s2(i * dim + j).toDouble / P43 / n - mu(i) * mu(j)
        j += 1
      }
      i += 1
    }
    val es = breeze.linalg.eigSym(cov) // eigenvalues ascending, vectors in columns
    // eigenvalue allocation: descending eigenvalues, each to the
    // non-full bucket with the smallest log-product so far
    val order = (0 until dim).sortBy(k => -es.eigenvalues(k))
    val bucketLog = new Array[Double](M)
    val bucketCnt = new Array[Int](M)
    val buckets = Array.fill(M)(scala.collection.mutable.ArrayBuffer.empty[Int])
    order.foreach { k =>
      val open = (0 until M).filter(b => bucketCnt(b) < subdim)
      val b = open.minBy(bucketLog(_))
      buckets(b) += k
      bucketCnt(b) += 1
      // clamp: float-noise eigenvalues of the near-isotropic fixture can
      // graze <= 0; the log only steers allocation, never the math
      bucketLog(b) += math.log(math.max(es.eigenvalues(k), 1e-12))
    }
    val perm = buckets.flatMap(_.toSeq)
    // row-vector convention (rotateFloat): output j = <x, column j of R>,
    // so column j is the eigenvector assigned to output position j
    val rot = new Array[Double](dim * dim)
    var j2 = 0
    while (j2 < dim) {
      var i2 = 0
      while (i2 < dim) {
        rot(i2 * dim + j2) = es.eigenvectors(i2, perm(j2))
        i2 += 1
      }
      j2 += 1
    }
    // codebook at the SAME total Lloyd's budget, in the rotated space
    val rotated = sample.select(col("vec_id"),
      VectorOps.rotateMat(col("embedding"), rot).as("embedding"))
    val cb = trainCodebookOn(rotated, OpqTotalIters, None)
    sample.unpersist()
    (rot, cb)
  }

  /** Mean squared quantization error over the training sample for a
    * (rotation, codebook) pair — decimal-routed exact mean. */
  private[graft] def meanPqError(emb: DataFrame, rot: Option[Array[Double]],
      cb: Array[Double]): DataFrame = {
    val v = rot.map(r => VectorOps.rotateMat(col("embedding"), r))
      .getOrElse(col("embedding"))
    emb.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(TrainCap)
      .select(VectorOps.pqError(v, cb, M, K).as("e"))
      .agg((sum(floor(col("e") * lit(P43)).cast(dec38))
        .cast("double") / lit(P43) / count(lit(1))).as("mean_err"))
  }

  /** The shared invariant scaffold of the three recall queries
    * (q_pq_recall / q_opq_recall / q_opqp_recall): exact brute-force
    * top-3 per query (vec_id < 10), completeness + recall-floor
    * booleans, an optional 1-row / 1-boolean-column error-band
    * invariant inserted after recall_ok, the compression constant, and
    * the decimal-exact mean-top3 companion that anchors the hash. One
    * copy — a fix to the exact oracle (the P43 route, the tie-break)
    * lands in all three queries at once. */
  private def recallInvariants(s: SparkSession, d: String, approx: DataFrame,
      recallFloor: Double, errInvariant: Option[DataFrame],
      codeBytes: Int => Long = _ => M.toLong): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val dim = emb.select(size(col("embedding")).as("n")).head().getInt(0)
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val sc = q.join(emb.select(col("vec_id"), col("embedding")),
        col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        VectorOps.cosineFloat(col("qe"), col("embedding")).as("score"))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("vec_id"))
    val exact = sc.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
    val exactAgg = exact.agg(
      count(lit(1)).as("n_exact"),
      (sum(floor(col("score") * lit(P43)).cast(dec38))
        .cast("double") / lit(P43) / count(lit(1))).as("exact_mean_top3"))
    val hits = exact.select(col("qid"), col("vec_id"))
      .join(approx, Seq("qid", "vec_id"), "left_semi")
      .agg(count(lit(1)).as("nhit"))
    val nres = approx.agg(
      countDistinct(col("qid")).as("n_queries"),
      count(lit(1)).as("n_results"))
    val joined0 = nres.crossJoin(hits).crossJoin(exactAgg)
    val joined = errInvariant.map(joined0.crossJoin).getOrElse(joined0)
    joined.select(Seq(
      col("n_queries"),
      (col("n_results") === col("n_exact")).cast("long").as("results_complete"),
      (col("nhit").cast("double") / col("n_exact").cast("double")
        >= lit(recallFloor)).cast("long").as("recall_ok")) ++
      errInvariant.toSeq.map(e => col(e.columns.head)) ++ Seq(
      lit(dim * 4L / codeBytes(dim)).as("compression_x"),
      col("exact_mean_top3")): _*)
  }

  /** Oracle twin of [[recallInvariants]] (constant-1 invariants + the
    * exact companions DuckDB recomputes). */
  private def recallOracleSql(extraInvariant: Option[String],
      codeBytesSql: String = M.toString): String = {
    val w = "row_number() OVER (PARTITION BY qid ORDER BY score DESC, vec_id)"
    val cols = Seq(
      "CAST(10 AS BIGINT) AS n_queries",
      "CAST(1 AS BIGINT) AS results_complete",
      "CAST(1 AS BIGINT) AS recall_ok") ++
      extraInvariant.map(n => s"CAST(1 AS BIGINT) AS $n") ++ Seq(
      // Integer division (//) matches Spark's Long truncation at ANY dim;
      // float `/` + CAST would round-to-nearest and diverge when dim*4 is
      // not an exact multiple of the code size (e.g. dim 70 @ 16 B: 17 vs 18).
      s"CAST((SELECT len(embedding) * 4 // ($codeBytesSql) FROM embeddings LIMIT 1) AS BIGINT) AS compression_x",
      "CAST(sum(CAST(floor(score * 8796093022208.0) AS DECIMAL(38,0))) AS DOUBLE) / 8796093022208.0 / count(*) AS exact_mean_top3")
    s"""WITH qq AS (
       |  SELECT vec_id AS qid, embedding AS qe FROM embeddings WHERE vec_id < 10),
       |sc AS (
       |  SELECT qq.qid, e.vec_id, ${OracleSql.floatCos("qq.qe", "e.embedding")} AS score
       |  FROM qq JOIN embeddings e ON e.vec_id <> qq.qid),
       |exact AS (
       |  SELECT qid, vec_id, score FROM (
       |    SELECT qid, vec_id, score, $w AS rn FROM sc) t WHERE rn <= 3)
       |SELECT ${cols.mkString(",\n       |  ")}
       |FROM exact""".stripMargin
  }

  /** Residual-PQ candidate generation — the actual FAISS IVF-PQ coding
    * (Jegou et al. 2011 §III-A): codes quantize the RESIDUAL
    * r = x - c(cell) from the coarse centroid instead of x itself.
    * Residuals have far smaller variance than raw vectors, so the same
    * M x K codebook budget spends its centroids on a tighter cloud and
    * the ADC approximation improves at identical code size. The
    * approximate score decomposes as q·x ~= q·c(cell) + ADC(codes,
    * lut(q)): the per-(query, cell) constant comes from a tiny
    * queries x cells relation (broadcast), the residual term from the
    * SAME global LUT machinery as plain PQ — per-row cost is unchanged.
    * Candidates are exact-rescored as in pqTop3. */
  def residualTop3(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val cent = graft.store.IvfLayout.labelCentroids(emb, "residualTop3")
    val asg = graft.store.IvfLayout.assignCells(emb, cent)
    val resid = asg.join(broadcast(cent), "cell")
      .select(col("vec_id"), col("cell"),
        zip_with(col("embedding"), col("centroid"),
          (x, c) => (x.cast("double") - c).cast("float")).as("embedding"))
      .localCheckpoint(true) // two consumers: training sample + encode
    val cb = trainCodebookOn(resid.select(col("vec_id"), col("embedding")))
    val codes = resid.select(col("vec_id"), col("cell"),
      VectorOps.pqEncode(col("embedding"), cb, M, K).as("codes"))
    val queries = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        VectorOps.pqLut(col("embedding"), cb, M, K).as("lut"))
    val qc = queries.select(col("qid"), col("qe")).crossJoin(broadcast(cent))
      .select(col("qid"), col("cell"),
        aggregate(zip_with(col("qe"), col("centroid"),
          (x, c) => x.cast("double") * c), lit(0.0), (a, x) => a + x).as("qc"))
    val cand = codes
      .join(broadcast(queries.select(col("qid"), col("lut"))),
        col("vec_id") =!= col("qid"))
      .join(broadcast(qc), Seq("qid", "cell"))
      .select(col("qid"), col("vec_id"),
        (col("qc") + VectorOps.pqAdc(col("codes"), col("lut"), K)).as("adc"))
      .groupBy(col("qid"))
      .agg(VectorOps.topK(col("adc"), col("vec_id"), CandK).as("top"))
      .select(col("qid"), explode(col("top")).as("t"))
      .select(col("qid"), col("t.vec_id").as("vec_id"))
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val rescored = cand
      .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(q), "qid")
      .select(col("qid"), col("vec_id"),
        VectorOps.cosineFloat(col("qe"), col("embedding")).as("score"))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("vec_id"))
    rescored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 3)
      .select(col("qid"), col("vec_id"), col("score"))
  }

  val all: Seq[Q] = Seq(
    Q("q_pq_recall",
      (s, d) => recallInvariants(s, d,
        pqTop3(s, d).select(col("qid"), col("vec_id")), PqRecallFloor, None),
      Some(recallOracleSql(None))),

    // Residual coding under the q_pq_recall oracle contract: same
    // invariant-reduced oracle (constant-1 invariants + the exact
    // companions DuckDB recomputes), gating the whole
    // assign->residual->train->encode->(q·c + ADC)->rescore path. The
    // recall floor matches PqRecallFloor — the claim residual coding
    // exists for (better approximation at the same code budget) is
    // asserted relative to plain PQ in PqSpec, where both paths run on
    // the same corpus and the residual candidates' recall must not
    // regress.
    Q("q_residual_recall",
      (s, d) => recallInvariants(s, d,
        residualTop3(s, d).select(col("qid"), col("vec_id")), PqRecallFloor, None),
      Some(recallOracleSql(None))),

    // OPQ: rotation-optimized PQ (Ge et al. 2013). Same invariant-reduced
    // oracle as q_pq_recall, plus the published property the rotation is
    // FOR: quantization error at equal Lloyd's budget must not regress vs
    // plain PQ (opq_err_ok). The recall/completeness invariants gate the
    // whole rotate->train->encode->ADC->rescore path; a broken Procrustes
    // step or mis-applied rotation collapses recall or blows the error
    // bound and fails the hash-match.
    Q("q_opq_recall",
      (s, d) => {
        val (rot, opqCb) = trainOpq(s, d)
        val approx = pqTop3WithCodebook(s, d, opqCb, Some(rot))
          .select(col("qid"), col("vec_id"))
        // equal-budget plain-PQ baseline for the error invariant
        val emb = Tables.embeddings(s, d)
        val pqCb = trainCodebookOn(emb, OpqTotalIters, None)
        val errOk = meanPqError(emb, None, pqCb).select(col("mean_err").as("pq_e"))
          .crossJoin(meanPqError(emb, Some(rot), opqCb)
            .select(col("mean_err").as("opq_e")))
          .select((col("opq_e") <= col("pq_e") * lit(OpqErrTol))
            .cast("long").as("opq_err_ok"))
        recallInvariants(s, d, approx, OpqRecallFloor, Some(errOk))
      },
      Some(recallOracleSql(Some("opq_err_ok")))),

    // Parametric OPQ (Ge et al. CVPR 2013 §4, OPQ_P): the CLOSED-FORM
    // rotation — PCA + balanced eigenvalue allocation — at the same
    // total Lloyd's budget. Same invariant-reduced oracle as
    // q_opq_recall. Measured honestly (see OpqpRecallFloor scaladoc):
    // on this near-isotropic fixture the Gaussian assumption buys
    // nothing over plain PQ (its published advantage is TRAINING COST —
    // one covariance pass + one eigendecomposition vs the alternation —
    // on data that is actually anisotropic), and OPQ_NP >= OPQ_P, the
    // paper's own Table-2 ordering. The invariants gate what the math
    // guarantees: orthogonality (recall above floor through the full
    // rotate->train->encode->ADC->rescore path) and error within a
    // small band of plain PQ.
    Q("q_opqp_recall",
      (s, d) => {
        val (rot, cbP) = trainOpqParametric(s, d)
        val approx = pqTop3WithCodebook(s, d, cbP, Some(rot))
          .select(col("qid"), col("vec_id"))
        // equal-budget plain-PQ baseline for the error band
        val emb = Tables.embeddings(s, d)
        val pqCb = trainCodebookOn(emb, OpqTotalIters, None)
        val errOk = meanPqError(emb, None, pqCb).select(col("mean_err").as("pq_e"))
          .crossJoin(meanPqError(emb, Some(rot), cbP)
            .select(col("mean_err").as("opqp_e")))
          .select((col("opqp_e") <= col("pq_e") * lit(OpqpErrTol))
            .cast("long").as("opqp_err_ok"))
        recallInvariants(s, d, approx, OpqpRecallFloor, Some(errOk))
      },
      Some(recallOracleSql(Some("opqp_err_ok")))),

    // Binary quantization (1-bit sign codes + Hamming candidate scan +
    // exact rescore): the extreme end of the compression/recall tradeoff
    // the PQ family spans — dim bits per vector, 32x over float32,
    // scan arithmetic a single XOR+popcount per word. No training at
    // all (the code of a vector is data-independent), so unlike
    // PQ/OPQ the oracle gates a deterministic, parameter-free path.
    // Same invariant-reduced oracle as q_pq_recall with the
    // compression constant restated for 1-bit codes.
    Q("q_bq_recall",
      (s, d) => recallInvariants(s, d,
        bqTop3(s, d).select(col("qid"), col("vec_id")), BqRecallFloor, None,
        codeBytes = dim => 8L * ((dim + 63) / 64)),
      Some(recallOracleSql(None,
        codeBytesSql = "8 * CAST(ceil(len(embedding)/64.0) AS BIGINT)"))))
}
