package graft.store

import graft.functions.VectorOps
import graft.ops.PqQueries
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** IVF-PQ AT REST — the two residency levers composed (the FAISS IVFPQ
  * design; Jegou et al. 2011): IvfIndex's hive-partitioned coarse cells
  * bound WHAT a probe reads (nprobe/num_cells of the files, pruned at
  * listing time), and PQ codes bound HOW BIG each read row is (M bytes vs
  * 4*dim — the dim-64 testdata compresses 32x). A 100 TB float corpus
  * becomes ~3 TB of cell-partitioned code files; one probe touches
  * nprobe/num_cells of THAT.
  *
  * Layout under `path`:
  *   data/cell=K/  — parquet (vec_id, codes binary)    [M bytes per row]
  *   centroids/    — parquet (cell, centroid)          [coarse quantizer]
  *   codebook/     — parquet (idx, v) flat PQ codebook [M*K*subdim rows]
  *
  * Probing is two-stage, both stages cheap by construction:
  *   1. ADC scan of the probed cells: per-query LUT (pqLut) broadcast,
  *      each row scored with M table reads (pqAdc) — no float math, no
  *      full-vector deserialization;
  *   2. optional exact rescore of the ADC top-candK against the caller's
  *      float corpus — a candK-row id equi-join, the standard
  *      refine step when float vectors are still available elsewhere.
  *
  * The PQ codebook is trained once at build time on the build corpus and
  * FROZEN — like IvfIndex.append's centroids, the production maintenance
  * contract: appends encode against the saved codebook, periodic rebuilds
  * refresh it.
  */
object IvfPqIndex {

  /** The PQ codec configuration: M-byte codes of the (OPQ-rotated, when
    * `rot` is given) embedding against the frozen codebook, which is
    * written — with the rotation — as the layout's vector sidecars. Cell
    * assignment uses the ORIGINAL embedding either way. */
  private def codec(cb: Array[Double], rot: Option[Array[Double]]): IvfLayout.Codec = {
    val coding = rot.fold(col("embedding"))(VectorOps.rotateMat(col("embedding"), _))
    IvfLayout.Codec(VectorOps.pqEncode(coding, cb, PqQueries.M, PqQueries.K).as("codes"),
      Seq("codebook" -> cb) ++ rot.map("rotation" -> _))
  }

  /** Coarse cells + PQ codes + both sidecars. `emb` needs
    * (vec_id, label, embedding) — cells are per-label means, matching
    * IvfIndex so the two layouts are directly comparable. */
  def build(emb: DataFrame, path: String): Unit = {
    val cb = PqQueries.trainCodebookOn(emb)
    val cent = IvfLayout.labelCentroids(emb, "IvfPqIndex.build")
    IvfLayout.build(IvfLayout.assignCells(emb, cent), codec(cb, None), cent, path)
  }

  /** As build, with the OPQ rotation (Ge et al. 2013 — see PqQueries.
    * trainOpq) learned at build time and FROZEN in a third sidecar.
    * Only the PQ coding space rotates: coarse cell assignment stays on
    * the original floats (cosine cell ranking is rotation-invariant, so
    * the centroids sidecar remains shared with the float IvfIndex and
    * existing cells stay comparable). Probes rotate the query before the
    * LUT; everything else — pruning, ADC, rescore — is unchanged. */
  def buildOpq(emb: DataFrame, path: String): Unit = {
    val (rot, cb) = PqQueries.trainOpqOn(emb)
    val cent = IvfLayout.labelCentroids(emb, "IvfPqIndex.buildOpq")
    IvfLayout.build(IvfLayout.assignCells(emb, cent), codec(cb, Some(rot)), cent, path)
  }

  /** As build, with RESIDUAL coding (the actual FAISS IVF-PQ design,
    * Jegou et al. 2011 SIII-A): codes quantize r = x - c(cell) instead
    * of x, so the M x K budget spends its centroids on the residual
    * cloud's far smaller variance — better ADC approximation at the
    * SAME code size and scan cost. A `residual/` marker sidecar is the
    * format flag (the rotation-dir pattern); probes add the
    * per-(query, cell) constant q·c back to the ADC score. Mutually
    * exclusive with the OPQ rotation. */
  def buildResidual(emb: DataFrame, path: String): Unit = {
    val cent = IvfLayout.labelCentroids(emb, "IvfPqIndex.buildResidual")
    val (resid, cb) = residualCoded(emb, cent)
    IvfLayout.build(resid, codec(cb, None), cent, path)
    IvfLayout.writeVector(emb.sparkSession, path, "residual", Array(1.0)) // presence is the flag
  }

  /** (vec_id, cell, embedding = x - c(cell) as float) — the residual
    * corpus both the codebook training and the encode consume. */
  private def residualsOf(emb: DataFrame, cent: DataFrame): DataFrame =
    IvfLayout.assignCells(emb, cent).join(broadcast(cent), "cell")
      .select(col("vec_id"), col("cell"),
        zip_with(col("embedding"), col("centroid"),
          (x, c) => (x.cast("double") - c).cast("float")).as("embedding"))

  /** The residual corpus against `cent` (checkpointed: training and encode
    * both read it) and the codebook trained on it. */
  private def residualCoded(emb: DataFrame, cent: DataFrame): (DataFrame, Array[Double]) = {
    val resid = residualsOf(emb, cent).localCheckpoint(true)
    (resid, PqQueries.trainCodebookOn(resid.select(col("vec_id"), col("embedding"))))
  }

  /** The residual format flag (presence of `residual/` — old indexes
    * read unchanged). */
  def isResidual(spark: SparkSession, path: String): Boolean =
    IvfLayout.has(spark, path, "residual")

  /** Incremental append: encode against the FROZEN saved codebook (and
    * rotation, if the index is OPQ-built), assign against the frozen
    * centroids, append to cell partitions (existing files untouched —
    * same contract as IvfIndex.append). A residual-built index encodes
    * the residual against the frozen centroids + codebook. */
  def append(emb: DataFrame, path: String): Unit = {
    if (emb.isEmpty) return
    val spark = emb.sparkSession
    append(emb, path,
      spark.read.parquet(s"$path/centroids"), readCodebook(spark, path))
  }

  /** As append, with the frozen sidecars already loaded — the streaming
    * maintenance path (StreamIndexIngest) reads them ONCE per stream, not
    * per micro-batch. */
  def append(emb: DataFrame, path: String,
             cent: DataFrame, cb: Array[Double]): Unit =
    append(emb, path, cent, cb, readRotation(emb.sparkSession, path))

  /** As above with the rotation sidecar also pre-loaded (None for a
    * plain-PQ index) — keeps the once-per-stream contract when the
    * caller holds all three frozen sidecars. */
  def append(emb: DataFrame, path: String, cent: DataFrame,
             cb: Array[Double], rot: Option[Array[Double]]): Unit = {
    if (emb.isEmpty) return
    val rows =
      if (!isResidual(emb.sparkSession, path)) IvfLayout.assignCells(emb, cent)
      else {
        require(rot.isEmpty, "residual and OPQ coding are mutually exclusive")
        residualsOf(emb, cent)
      }
    IvfLayout.writeCells(rows, codec(cb, rot).code, path, SaveMode.Append)
  }

  /** ADC probe: rank centroids, scan ONLY the top-`nprobe` cells' code
    * files (partition filter), score each row via the broadcast LUT —
    * approximate top-k, no float vector ever read. An OPQ-built index
    * rotates the query into coding space first; cell ranking stays on the
    * original query (the cells were assigned in original space). */
  def probe(spark: SparkSession, path: String, query: Array[Float],
            k: Int, nprobe: Int): DataFrame = {
    val cb = readCodebook(spark, path)
    val cells = probedCells(spark, path, query, nprobe)
    val codingQuery = readRotation(spark, path) match {
      case Some(rot) => graft.functions.VectorKernels.rotateFloat(query, rot)
      case None => query
    }
    val lut = graft.functions.VectorKernels.pqLut(codingQuery, cb,
      PqQueries.M, PqQueries.K)
    val adc =
      if (!isResidual(spark, path))
        VectorOps.pqAdc(col("codes"), typedLit(lut), PqQueries.K)
      else {
        // residual decomposition q·x ~= q·c(cell) + ADC: the per-cell
        // constant is nprobe dot products against the sidecar (driver
        // math on a bounded relation), folded in as a when-chain
        val consts = spark.read.parquet(s"$path/centroids")
          .filter(col("cell").isin(cells: _*)).collect()
          .map { r =>
            val c = r.getSeq[Double](1)
            var dot = 0.0
            var i = 0
            while (i < query.length) { dot += query(i).toDouble * c(i); i += 1 }
            r.getInt(0) -> dot
          }
        consts.foldLeft(lit(0.0)) { case (acc, (cell, qc)) =>
          when(col("cell") === cell, qc).otherwise(acc)
        } + VectorOps.pqAdc(col("codes"), typedLit(lut), PqQueries.K)
      }
    IvfLayout.scanCells(spark, path, cells)
      .select(col("vec_id"), adc.as("adc"))
      .orderBy(col("adc").desc, col("vec_id"))
      .limit(k)
  }

  /** Two-stage probe: ADC top-`candK` from the probed cells, then exact
    * cosine rescore against `floats` (vec_id, embedding) — a candK-row
    * equi-join — and the exact top-k of that. With candK >= the probed
    * cells' row count this EQUALS the cell-restricted exact search. */
  def probeRescored(spark: SparkSession, path: String, query: Array[Float],
                    floats: DataFrame, k: Int, candK: Int, nprobe: Int): DataFrame =
    IvfLayout.probeRescored(probe(spark, path, query, candK, nprobe), query, floats, k)

  /** Close the maintenance loop for the PQ tier: re-train the codebook
    * (and the OPQ rotation, when the index was OPQ-built — the presence
    * of the `rotation/` sidecar decides) and the coarse centroids on the
    * caller's CURRENT raw corpus `emb` (vec_id, label, embedding) — PQ
    * codes are LOSSY, so unlike IvfIndex.rebuild the raw vectors must
    * come from the lake, not the index — then re-encode and re-assign
    * everything, stage the new layout, version EVERY frozen sidecar
    * (`centroids_v<N>`, `codebook_v<N>`, `rotation_v<N>`), and swap.
    * Returns the archived version number. */
  def rebuild(emb: DataFrame, path: String): Int = {
    val spark = emb.sparkSession
    val wasOpq = IvfLayout.has(spark, path, "rotation")
    val cent = IvfLayout.labelCentroids(emb, "IvfPqIndex.rebuild")
    if (isResidual(spark, path)) {
      // residual tier: residuals against the NEW centroids, codebook
      // re-trained on them; the marker sidecar is format, not a frozen
      // artifact — it stays
      require(!wasOpq, "residual and OPQ coding are mutually exclusive")
      val (resid, cb) = residualCoded(emb, cent)
      IvfLayout.rebuild(resid, codec(cb, None), cent, path)
    } else {
      val (rot, cb) =
        if (wasOpq) { val (r, c) = PqQueries.trainOpqOn(emb); (Some(r), c) }
        else (None, PqQueries.trainCodebookOn(emb))
      IvfLayout.rebuild(IvfLayout.assignCells(emb, cent), codec(cb, rot), cent, path)
    }
  }

  /** The query's top-`nprobe` cells by centroid cosine (sidecar-sized) —
    * identical ranking to the float index's. */
  def probedCells(spark: SparkSession, path: String, query: Array[Float],
                  nprobe: Int): Seq[Int] =
    IvfLayout.probedCells(spark, path, query, nprobe)

  /** The frozen OPQ rotation sidecar; None for a plain-PQ index (the
    * presence of `rotation/` IS the format flag — old indexes read
    * unchanged). */
  def readRotation(spark: SparkSession, path: String): Option[Array[Double]] =
    Option.when(IvfLayout.has(spark, path, "rotation"))(IvfLayout.readVector(spark, path, "rotation"))

  /** The flat codebook sidecar (public: streaming maintenance loads it
    * once per stream instead of once per micro-batch). */
  def readCodebook(spark: SparkSession, path: String): Array[Double] =
    IvfLayout.readVector(spark, path, "codebook")
}
