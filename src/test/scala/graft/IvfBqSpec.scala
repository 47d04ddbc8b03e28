package graft

import graft.functions.{VectorKernels, VectorOps}
import graft.store.IvfBqIndex
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** IVF-BQ at rest: cell partition pruning composed with 1-bit sign codes.
  * Training-free (no quantizer sidecar at all), so the maintenance story
  * is pure cell assignment; the Hamming probe is cross-checked against a
  * driver-side kernel replay, and the two-stage rescored probe against
  * the cell-restricted exact search (same contracts as IvfPqSpec). */
class IvfBqSpec extends SparkSpec {

  private lazy val indexPath: String = {
    val dir = tempDir("ivfbq")
    IvfBqIndex.build(Tables.embeddings(spark, sf001), dir)
    dir
  }

  private def query0: Array[Float] =
    Tables.embeddings(spark, sf001).filter(col("vec_id") === 0)
      .select("embedding").collect().head.getSeq[Float](0).toArray

  private def fileScan(df: org.apache.spark.sql.DataFrame): FileSourceScanExec = {
    df.collect()
    val p = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    p.collectLeaves().collectFirst { case f: FileSourceScanExec => f }
      .getOrElse(fail(s"no file scan in plan:\n$p"))
  }

  test("build: every vector coded once, rows are ceil(dim/64) sign words, no floats at rest") {
    val data = spark.read.parquet(s"$indexPath/data")
    val emb = Tables.embeddings(spark, sf001)
    val n = emb.count()
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    assert(data.count() == n)
    assert(data.select("vec_id").distinct().count() == n)
    // data files carry ONLY (vec_id, code, cell) — compression is real
    assert(data.schema.fieldNames.sorted.toSeq == Seq("cell", "code", "vec_id"))
    val words = data.select(size(col("code"))).distinct().collect().map(_.getInt(0))
    assert(words.toSeq == Seq((dim + 63) / 64))
    assert(data.select("cell").distinct().count() >= 5)
    // no trained sidecar: centroids is the ONLY auxiliary state
    val fs = org.apache.hadoop.fs.FileSystem.getLocal(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$indexPath/codebook")))
  }

  test("Hamming probe scans only the probed cells' partitions") {
    val scan1 = fileScan(IvfBqIndex.probe(spark, indexPath, query0, k = 5, nprobe = 1))
    assert(scan1.toString.contains("PartitionFilters"))
    assert(scan1.selectedPartitions.partitionCount == 1)
    val scan3 = fileScan(IvfBqIndex.probe(spark, indexPath, query0, k = 5, nprobe = 3))
    assert(scan3.selectedPartitions.partitionCount == 3)
  }

  test("Hamming probe equals a driver-side kernel replay over the probed cells") {
    val q = query0
    val qcode = VectorKernels.signPack(q)
    val cells = IvfBqIndex.probedCells(spark, indexPath, q, nprobe = 2)
    val expected = spark.read.parquet(s"$indexPath/data")
      .filter(col("cell").isin(cells: _*))
      .select("vec_id", "code").collect()
      .map(r => (r.getLong(0),
        VectorKernels.hammingPacked(r.getSeq[Long](1).toArray, qcode)))
      .sortBy { case (id, ham) => (ham, id) }
      .take(5)
    val got = IvfBqIndex.probe(spark, indexPath, q, k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == expected.toSeq)
  }

  test("rescored probe with candK >= cell rows equals the cell-restricted exact search") {
    val q = query0
    val emb = Tables.embeddings(spark, sf001)
    val cells = IvfBqIndex.probedCells(spark, indexPath, q, nprobe = 2)
    val inCells = spark.read.parquet(s"$indexPath/data")
      .filter(col("cell").isin(cells: _*)).select("vec_id")
    val exact = emb.join(inCells, "vec_id")
      .select(col("vec_id"),
        VectorOps.cosineFloat(typedLit(q), col("embedding")).as("score"))
      .orderBy(col("score").desc, col("vec_id")).limit(5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val got = IvfBqIndex.probeRescored(spark, indexPath, q, emb,
        k = 5, candK = 100000, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == exact.toSeq)
  }

  test("streaming micro-batches maintain the index like batch appends (frozen centroids)") {
    val emb = Tables.embeddings(spark, sf001)
    val dir = tempDir("ivfbq-stream")
    val inDir = tempDir("ivfbq-feed")
    IvfBqIndex.build(emb.filter(col("vec_id") < 250), dir)
    // two staged files -> two micro-batches (maxFilesPerTrigger=1),
    // ordered via the Staged mtime contract
    graft.streaming.Staged.appendOrdered(inDir,
      emb.filter(col("vec_id") >= 250 && col("vec_id") < 375),
      emb.filter(col("vec_id") >= 375))
    val stream = spark.readStream
      .schema(graft.streaming.StreamIndexIngest.embSchema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val batches = graft.streaming.StreamIndexIngest.ingestOnceBq(stream, dir)
    assert(batches >= 2, s"expected >= 2 micro-batches, got $batches")
    val data = spark.read.parquet(s"$dir/data")
    assert(data.count() == emb.count())
    assert(data.select("vec_id").distinct().count() == emb.count())
    // a streamed row carries the data-independent sign code
    val v400 = emb.filter(col("vec_id") === 400)
      .select("embedding").collect().head.getSeq[Float](0).toArray
    val stored = data.filter(col("vec_id") === 400)
      .select("code").collect().head.getSeq[Long](0).toSeq
    assert(stored == VectorKernels.signPack(v400).toSeq)
    // probes over the streamed index still prune to their cells
    val scan = fileScan(IvfBqIndex.probe(spark, dir, v400, k = 3, nprobe = 1))
    assert(scan.selectedPartitions.partitionCount == 1)
  }

  test("rebuild re-trains the coarse quantizer (the tier's only drifting artifact)") {
    val emb = Tables.embeddings(spark, sf001)
    val dir = tempDir("ivfbq-rebuild")
    IvfBqIndex.build(emb.filter(col("vec_id") < 250), dir)
    IvfBqIndex.append(emb.filter(col("vec_id") >= 250), dir)

    val v = IvfBqIndex.rebuild(emb, dir)
    assert(v == 1)
    assert(new java.io.File(s"$dir/centroids_v1").exists())
    val data = spark.read.parquet(s"$dir/data")
    assert(data.count() == emb.count())
    assert(data.select("vec_id").distinct().count() == emb.count())
    // sign codes are training-free: the re-packed code of a vector is
    // IDENTICAL across rebuilds — only cell membership can move
    val v300 = emb.filter(col("vec_id") === 300)
      .select("embedding").collect().head.getSeq[Float](0).toArray
    assert(data.filter(col("vec_id") === 300)
      .select("code").collect().head.getSeq[Long](0).toSeq ==
      VectorKernels.signPack(v300).toSeq)
    // probe parity on the swapped layout: rescored equals the exact
    // cell-restricted search
    val q = v300
    val cells = IvfBqIndex.probedCells(spark, dir, q, nprobe = 2)
    val inCells = spark.read.parquet(s"$dir/data")
      .filter(col("cell").isin(cells: _*)).select("vec_id")
    val exact = emb.join(inCells, "vec_id")
      .select(col("vec_id"),
        VectorOps.cosineFloat(typedLit(q), col("embedding")).as("score"))
      .orderBy(col("score").desc, col("vec_id")).limit(5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val got = IvfBqIndex.probeRescored(spark, dir, q, emb,
        k = 5, candK = 100000, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == exact.toSeq)
    assert(IvfBqIndex.rebuild(emb, dir) == 2)
  }

  test("append assigns against frozen centroids and only adds files") {
    val emb = Tables.embeddings(spark, sf001)
    val dir = tempDir("ivfbq-app")
    IvfBqIndex.build(emb.filter(col("vec_id") < 400), dir)
    val before = spark.read.parquet(s"$dir/data")
      .select(input_file_name()).distinct().collect().map(_.getString(0)).toSet
    IvfBqIndex.append(emb.filter(col("vec_id") >= 400), dir)
    val after = spark.read.parquet(s"$dir/data")
      .select(input_file_name()).distinct().collect().map(_.getString(0)).toSet
    assert(before.subsetOf(after), "append must not rewrite existing files")
    assert(spark.read.parquet(s"$dir/data").count() == emb.count())
    // NOTE a split build+append does NOT probe identically to one full
    // build — the frozen centroids were trained on the build slice only,
    // which is the maintenance contract, not a bug. What must hold: an
    // appended row is probe-visible under its own embedding (its sign
    // code matches exactly, Hamming 0, and 0-distance ties cut by id).
    val appended = emb.filter(col("vec_id") === 450)
      .select("embedding").collect().head.getSeq[Float](0).toArray
    val nCells = spark.read.parquet(s"$dir/data")
      .select("cell").distinct().count().toInt
    val hits = IvfBqIndex.probe(spark, dir, appended, k = 50, nprobe = nCells)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(hits.exists { case (id, ham) => id == 450L && ham == 0L },
      s"appended vec 450 not probe-visible: ${hits.take(5).toSeq}")
  }
}
