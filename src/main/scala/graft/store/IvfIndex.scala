package graft.store

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col

/** IVF index AT REST: the build pass assigns every vector to its nearest
  * coarse centroid and writes the corpus hive-partitioned by cell
  * (`.../data/cell=K/...`), plus a small centroids sidecar. A probe then
  * ranks centroids against the query and reads ONLY its `nprobe` cells —
  * the `cell` predicate is a PARTITION filter, so pruning happens at file
  * listing time and scan volume is nprobe/num_cells of the corpus.
  *
  * This is the at-rest analog of q_ivf_search's in-flight cell equi-join
  * (ops/SimilarityQueries.scala): same index structure, but persisted, so
  * repeated probes pay no assignment pass. At 100 TB the layout is the
  * point — a query-time filter on a partition column never touches the
  * other cells' files (IvfAtRestSpec asserts the scan's selected
  * partition count). Coarse centroids are per-label means, the same
  * quantizer the in-flight query uses; swap in k-means centroids without
  * changing the layout.
  */
object IvfIndex {

  // the float tier's codec: cells store the raw embeddings
  private val raw = IvfLayout.Codec(col("embedding"))

  /** Assignment + partitioned write. `emb` needs (vec_id, label, embedding). */
  def build(emb: DataFrame, path: String): Unit = {
    val cent = IvfLayout.labelCentroids(emb, "IvfIndex.build")
    IvfLayout.build(IvfLayout.assignCells(emb, cent), raw, cent, path)
  }

  /** Incremental maintenance: assign `emb` against the SAVED centroids
    * sidecar (frozen at build time — the production contract of IVF
    * append) and add the rows to their cell partitions with a partitioned
    * APPEND. Existing cell files are never rewritten; cost is the
    * O(|new| x num_cells) assignment plus the new rows' write — not a
    * corpus rebuild. Periodic `build` refreshes the centroids when drift
    * accumulates. Caller appends NEW vec_ids; ids are not deduplicated. */
  def append(emb: DataFrame, path: String): Unit = {
    if (emb.isEmpty) return
    val cent = IvfLayout.centroids(emb.sparkSession, path)
    IvfLayout.writeCells(IvfLayout.assignCells(emb, cent), raw.code, path, SaveMode.Append)
  }

  /** Close the maintenance loop q_index_drift measures: re-train the
    * coarse centroids on the CURRENT at-rest corpus (one spherical-Lloyd
    * refinement — new centroid = mean of the vectors currently in the
    * cell, which maximizes the cell's mean assignment cosine since
    * cos(x, mean) = cos(x, mean/|mean|)), re-assign every vector against
    * the refreshed centroids, rewrite the cell partitions, and VERSION
    * the sidecar: the previous quantizer is archived as
    * `centroids_v<N>/` so probes pinned to an old version stay
    * reproducible, and `centroids/` always serves the latest. Returns
    * the archived version number.
    *
    * The new layout is staged while the live layout keeps serving, then
    * swapped in (IvfLayout.rebuild) — the read-while-rebuild pattern a
    * 100 TB deployment needs. Unlike the PQ/BQ tiers, this index stores
    * RAW embeddings in its cells, so the rebuild is self-contained — no
    * side input. */
  def rebuild(spark: SparkSession, path: String): Int = {
    val data = spark.read.parquet(s"$path/data")
    val cent = IvfLayout.labelCentroids(
      data.select(col("cell").as("label"), col("embedding")), "IvfIndex.rebuild")
    IvfLayout.rebuild(IvfLayout.assignCells(data.select(col("vec_id"), col("embedding")), cent),
      raw, cent, path)
  }

  /** Retention for the rebuild() sidecar archive: drop every archived
    * `<name>_v<N>` sidecar generation under `path` except the newest
    * `keepLast` — the GC half of the maintenance loop rebuild() opened
    * (each rebuild archives a full quantizer generation: centroids, and
    * for the PQ tier codebook/rotation; without retention they accumulate
    * forever). The LIVE sidecars (`centroids/`, `codebook/`, ...) are
    * never touched, so current probes and replicas are unaffected;
    * probes pinned to a KEPT archived version stay reproducible. Works
    * for all three at-rest tiers (the version counter is shared).
    * Returns the dropped version numbers. */
  def vacuumVersions(spark: SparkSession, path: String, keepLast: Int): Seq[Int] =
    IvfLayout.vacuumVersions(spark, path, keepLast)

  /** Rank centroids against the query (the sidecar is num_cells rows —
    * tiny by construction), then scan only the top-`nprobe` cells. */
  def probe(spark: SparkSession, path: String, query: Array[Float],
            k: Int, nprobe: Int): DataFrame =
    IvfLayout.exactTop(
      IvfLayout.scanCells(spark, path, probedCells(spark, path, query, nprobe)), query, k)

  /** The query's top-`nprobe` cells by centroid cosine. */
  def probedCells(spark: SparkSession, path: String, query: Array[Float],
                  nprobe: Int): Seq[Int] =
    IvfLayout.probedCells(spark, path, query, nprobe)
}
