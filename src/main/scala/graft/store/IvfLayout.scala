package graft.store

import graft.functions.VectorOps
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The one at-rest IVF layout behind [[IvfIndex]], [[IvfPqIndex]] and
  * [[IvfBqIndex]]. Under `path`:
  *
  *   data/cell=K/  — parquet (vec_id, <code>), hive-partitioned by cell
  *   centroids/    — parquet (cell, centroid)  [coarse quantizer]
  *   <name>/       — parquet (idx, v)          [a codec's frozen vectors]
  *
  * The three tiers are codec configurations of it ([[IvfLayout.Codec]]):
  * the code column each row stores (raw floats, PQ codes, sign words) and
  * the frozen vector sidecars beside the centroids (PQ codebook, OPQ
  * rotation). Everything else is shared: per-label centroids, the
  * nearest-centroid assignment, the partitioned cell writer, the versioned
  * rebuild, cell pruning and the exact rescore of a probe's candidates.
  */
private[graft] object IvfLayout {

  /** A tier's codec: `code` is computed over the assigned rows (vec_id,
    * embedding, cell) and stored per row; `sidecars` are the (name,
    * vector) pairs frozen beside the centroids at build and versioned with
    * them by a rebuild. */
  final case class Codec(code: Column, sidecars: Seq[(String, Array[Double])] = Nil)

  /** Per-label mean centroids (cell, centroid) — the coarse quantizer of
    * every at-rest tier. The numCells rows are collected once (sidecar-sized)
    * and checked for null cells on the driver, and come back as ONE local
    * relation: the assignment and the sidecar write then read the same
    * quantizer bit for bit, and the corpus is aggregated once. `emb` needs
    * (label, embedding). */
  def labelCentroids(emb: DataFrame, caller: String): DataFrame = {
    // derive dim from the data instead of assuming the fixture's 64
    val first = emb.select(size(col("embedding"))).head(1)
    require(first.nonEmpty, s"$caller: empty corpus — nothing to index")
    val dim = first.head.getInt(0)
    val cent = emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "x")))
      .groupBy(col("label"), col("pos"))
      .agg(avg(col("x").cast("double")).as("c"))
      .groupBy(col("label"))
      .agg(map_from_entries(collect_list(struct(col("pos"), col("c")))).as("cm"))
      .select(col("label").cast("int").as("cell"),
        transform(sequence(lit(0), lit(dim - 1)), i => element_at(col("cm"), i)).as("centroid"))
    val rows = cent.collect()
    // a null cell (label not castable to int) would silently drop its
    // vectors from every probe — fail the build instead
    require(!rows.exists(_.isNullAt(0)), s"$caller: non-integer label produced a null cell id")
    emb.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), cent.schema)
  }

  /** Nearest-centroid assignment (broadcast centroids, deterministic
    * cell-id tie-break): (vec_id, embedding, cell). */
  def assignCells(emb: DataFrame, cent: DataFrame): DataFrame = {
    val cosQC = {
      val dot = aggregate(zip_with(col("embedding"), col("centroid"),
        (x, c) => x.cast("double") * c), lit(0.0), (a, x) => a + x)
      val na = aggregate(transform(col("embedding"),
        x => x.cast("double") * x.cast("double")), lit(0.0), (a, x) => a + x)
      val nb = aggregate(transform(col("centroid"), c => c * c),
        lit(0.0), (a, x) => a + x)
      when(na === 0.0 || nb === 0.0, 0.0).otherwise(dot / (sqrt(na) * sqrt(nb)))
    }
    val w = Window.partitionBy(col("vec_id")).orderBy(col("cs").desc, col("cell").asc)
    emb.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("embedding"), col("cell"), cosQC.as("cs"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("embedding"), col("cell"))
  }

  /** The partitioned cell writer: (vec_id, `code`) of the assigned `rows`
    * into `path/dataDir/cell=K/`. The rows are shuffled on cell first, so
    * each cell is written by one task (one file), not by every task that
    * holds some of its rows; REBALANCE rather than a hash repartition lets
    * AQE split a skewed cell (cells are per-label, so one can hold a large
    * share of the corpus). */
  def writeCells(rows: DataFrame, code: Column, path: String, mode: SaveMode,
      dataDir: String = "data"): Unit =
    rows.select(col("vec_id"), code, col("cell"))
      .hint("rebalance", col("cell"))
      .write.mode(mode).partitionBy("cell").parquet(s"$path/$dataDir")

  /** Write a fresh layout: the coded cells, the centroids and the codec's
    * sidecars. */
  def build(rows: DataFrame, codec: Codec, cent: DataFrame, path: String): Unit = {
    writeCells(rows, codec.code, path, SaveMode.Overwrite)
    writeSidecars(rows.sparkSession, path, cent, codec)
  }

  /** Replace the layout while it keeps serving: stage the re-coded cells
    * to `data_rebuild/`, archive the live centroids and codec sidecars as
    * version N (`<name>_v<N>`, so probes pinned to the old quantizer stay
    * reproducible), write the new ones live, and swap the staged cells in —
    * the filesystem analog of a table-pointer flip. Returns N. */
  def rebuild(rows: DataFrame, codec: Codec, cent: DataFrame, path: String): Int = {
    val spark = rows.sparkSession
    writeCells(rows, codec.code, path, SaveMode.Overwrite, "data_rebuild")
    val v = versionSidecars(spark, path, "centroids" +: codec.sidecars.map(_._1))
    writeSidecars(spark, path, cent, codec)
    val fs = fileSystem(spark, path)
    require(fs.delete(new Path(s"$path/data"), true),
      "rebuild: could not drop the previous layout")
    require(fs.rename(new Path(s"$path/data_rebuild"), new Path(s"$path/data")),
      "rebuild: could not swap in the staged layout")
    v
  }

  private def writeSidecars(spark: SparkSession, path: String, cent: DataFrame,
      codec: Codec): Unit = {
    cent.write.mode(SaveMode.Overwrite).parquet(s"$path/centroids")
    codec.sidecars.foreach { case (name, v) => writeVector(spark, path, name, v) }
  }

  /** Archived sidecar dirs `<name>_v<N>` under `path`: (N, name, dir). */
  private def archives(fs: FileSystem, path: String): Seq[(Int, String, Path)] =
    Option(fs.globStatus(new Path(s"$path/*_v*"))).getOrElse(Array.empty).toSeq
      .filter(_.isDirectory)
      .flatMap(s => "^(.+)_v(\\d+)$".r.findFirstMatchIn(s.getPath.getName)
        .map(m => (m.group(2).toInt, m.group(1), s.getPath)))

  /** Archive each live sidecar dir as `<name>_v<N>`, N one past the
    * highest surviving centroids archive (centroids is in every tier's
    * sidecar set, so the counter is shared). */
  private def versionSidecars(spark: SparkSession, path: String, sidecars: Seq[String]): Int = {
    val fs = fileSystem(spark, path)
    // allocate past the HIGHEST surviving archive, not the archive COUNT:
    // after a vacuumVersions the count is smaller than the max, and a
    // count-based allocator would reuse a dropped version number — a
    // probe pinned to that number would silently read a different
    // quantizer generation
    val v = archives(fs, path).collect { case (n, "centroids", _) => n }.foldLeft(0)(math.max) + 1
    sidecars.foreach { s =>
      require(fs.rename(new Path(s"$path/$s"), new Path(s"$path/${s}_v$v")),
        s"rebuild: could not archive ${s}_v$v")
    }
    v
  }

  /** See [[IvfIndex.vacuumVersions]]. */
  def vacuumVersions(spark: SparkSession, path: String, keepLast: Int): Seq[Int] = {
    // keepLast=0 would drop the HIGHEST archived version; versionSidecars
    // then allocates max-surviving+1 = 1 again, reusing dropped version
    // numbers — the exact pinned-probe hazard versionSidecars exists to
    // prevent. Same invariant VectorStore.vacuum guards.
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val fs = fileSystem(spark, path)
    val byVersion = archives(fs, path).groupBy(_._1)
    val drop = byVersion.keys.toSeq.sorted.dropRight(keepLast)
    drop.foreach { v =>
      byVersion(v).foreach { case (_, _, p) =>
        require(fs.delete(p, true), s"vacuumVersions: could not drop $p")
      }
    }
    drop
  }

  /** Write a vector sidecar as (idx, v) rows. */
  def writeVector(spark: SparkSession, path: String, name: String, v: Array[Double]): Unit = {
    import spark.implicits._
    v.toSeq.zipWithIndex.map { case (x, i) => (i, x) }
      .toDF("idx", "v")
      .coalesce(1).write.mode(SaveMode.Overwrite).parquet(s"$path/$name")
  }

  /** Read a vector sidecar (sidecar-sized by construction). */
  def readVector(spark: SparkSession, path: String, name: String): Array[Double] =
    spark.read.parquet(s"$path/$name").orderBy(col("idx")).collect().map(_.getDouble(1))

  /** Whether the sidecar `name` exists — the format flags (`rotation/`,
    * `residual/`) are presence checks, so older layouts read unchanged. */
  def has(spark: SparkSession, path: String, name: String): Boolean =
    fileSystem(spark, path).exists(new Path(s"$path/$name"))

  private def fileSystem(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The query's top-`nprobe` cells by centroid cosine (the sidecar is
    * num_cells rows — tiny by construction). */
  def probedCells(spark: SparkSession, path: String, query: Array[Float],
      nprobe: Int): Seq[Int] =
    spark.read.parquet(s"$path/centroids")
      .select(col("cell"),
        VectorOps.cosineFloat(typedLit(query), col("centroid").cast("array<float>")).as("cs"))
      .orderBy(col("cs").desc, col("cell"))
      .limit(nprobe)
      .collect().map(_.getInt(0)).toSeq

  /** The layout's rows in `cells` only: the cell predicate is a PARTITION
    * filter, so the scan lists and reads just those cells' files. */
  def scanCells(spark: SparkSession, path: String, cells: Seq[Int]): DataFrame =
    spark.read.parquet(s"$path/data").filter(col("cell").isin(cells: _*))

  /** Top-`k` (score DESC, vec_id ASC) of (vec_id, embedding) rows by exact
    * cosine to the query. */
  def exactTop(rows: DataFrame, query: Array[Float], k: Int): DataFrame =
    rows.select(col("vec_id"),
        VectorOps.cosineFloat(typedLit(query), col("embedding")).as("score"))
      .orderBy(col("score").desc, col("vec_id"))
      .limit(k)

  /** Two-stage probe's second stage: exact cosine rescore of the
    * candidates' vec_ids against `floats` (vec_id, embedding) — a
    * candK-row equi-join — and the exact top-k of that. With candidates
    * covering the probed cells this EQUALS the cell-restricted exact
    * search. */
  def probeRescored(candidates: DataFrame, query: Array[Float], floats: DataFrame,
      k: Int): DataFrame =
    exactTop(candidates.select("vec_id")
      .join(floats.select(col("vec_id"), col("embedding")), "vec_id"), query, k)
}
