package graft.store

import graft.functions.VectorOps
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** IVF-BQ AT REST — coarse cells composed with BINARY (1-bit sign)
  * quantization: IvfIndex's hive-partitioned cells bound WHAT a probe
  * reads (nprobe/num_cells of the files, pruned at listing time), and
  * sign codes bound each row to ceil(dim/64) longs — 8 bytes at the
  * dim-64 testdata, 32x under float32 at ANY dim, the same residency as
  * IVF-PQ but with NO trained artifact at all: the code of a vector is
  * data-independent (sign bits are invariant under positive scaling), so
  * there is no codebook sidecar to freeze, drift, or rebuild — appends
  * can never be stale with respect to a quantizer. The trade is scoring
  * fidelity: Hamming distance is the 1-bit LSH angle estimate (Charikar
  * 2002) rather than PQ's 8-bit reconstruction, recovered the usual way
  * by exact rescore of the candidate set (probeRescored).
  *
  * Layout under `path`:
  *   data/cell=K/  — parquet (vec_id, code array<bigint>) [8B/64 dims]
  *   centroids/    — parquet (cell, centroid)             [coarse quantizer]
  *
  * Probing is the IVF-PQ two-stage shape: (1) XOR+popcount scan of the
  * probed cells against the packed query code (codegen'd HammingExpr,
  * ascending distance, vec_id tie-break); (2) optional exact cosine
  * rescore of the top-candK against the caller's float corpus.
  */
object IvfBqIndex {

  // the BQ codec: packed sign words, no trained sidecar
  private val signs = IvfLayout.Codec(VectorOps.signPack(col("embedding")).as("code"))

  /** Coarse cells + packed sign codes. `emb` needs (vec_id, label,
    * embedding) — cells are per-label means, matching IvfIndex /
    * IvfPqIndex so the three layouts are directly comparable. */
  def build(emb: DataFrame, path: String): Unit = {
    val cent = IvfLayout.labelCentroids(emb, "IvfBqIndex.build")
    IvfLayout.build(IvfLayout.assignCells(emb, cent), signs, cent, path)
  }

  /** Incremental append: assign against the frozen centroids, append to
    * cell partitions (existing files untouched — the IvfIndex.append
    * contract). No quantizer to load: sign codes are training-free. */
  def append(emb: DataFrame, path: String): Unit = {
    if (emb.isEmpty) return
    append(emb, path, emb.sparkSession.read.parquet(s"$path/centroids"))
  }

  /** As append with the frozen centroids already loaded (the
    * once-per-stream maintenance path). */
  def append(emb: DataFrame, path: String, cent: DataFrame): Unit = {
    if (emb.isEmpty) return
    IvfLayout.writeCells(IvfLayout.assignCells(emb, cent), signs.code, path, SaveMode.Append)
  }

  /** Hamming probe: rank centroids, scan ONLY the top-`nprobe` cells'
    * code files (partition filter), score each row by XOR+popcount
    * against the packed query code — approximate top-k by ascending
    * Hamming distance, no float vector ever read. */
  def probe(spark: SparkSession, path: String, query: Array[Float],
            k: Int, nprobe: Int): DataFrame = {
    val qcode = graft.functions.VectorKernels.signPack(query)
    IvfLayout.scanCells(spark, path, probedCells(spark, path, query, nprobe))
      .select(col("vec_id"),
        VectorOps.hamming(col("code"), typedLit(qcode)).as("hamming"))
      .orderBy(col("hamming").asc, col("vec_id"))
      .limit(k)
  }

  /** Two-stage probe: Hamming top-`candK` from the probed cells, then
    * exact cosine rescore against `floats` (vec_id, embedding) — a
    * candK-row equi-join. With candK >= the probed cells' row count this
    * EQUALS the cell-restricted exact search. */
  def probeRescored(spark: SparkSession, path: String, query: Array[Float],
                    floats: DataFrame, k: Int, candK: Int, nprobe: Int): DataFrame =
    IvfLayout.probeRescored(probe(spark, path, query, candK, nprobe), query, floats, k)

  /** The query's top-`nprobe` cells by centroid cosine (sidecar-sized) —
    * identical ranking to the float and PQ indexes'. */
  def probedCells(spark: SparkSession, path: String, query: Array[Float],
                  nprobe: Int): Seq[Int] =
    IvfLayout.probedCells(spark, path, query, nprobe)

  /** Close the maintenance loop for the BQ tier: sign codes are
    * training-free, so the only drifting artifact is the coarse
    * quantizer — re-train the centroids on the caller's CURRENT raw
    * corpus `emb` (codes are lossy: raw vectors come from the lake),
    * re-assign + re-pack, stage, version `centroids_v<N>`, swap.
    * Returns the archived version number. */
  def rebuild(emb: DataFrame, path: String): Int = {
    val cent = IvfLayout.labelCentroids(emb, "IvfBqIndex.rebuild")
    IvfLayout.rebuild(IvfLayout.assignCells(emb, cent), signs, cent, path)
  }
}
