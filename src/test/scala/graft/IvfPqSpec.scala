package graft

import graft.functions.{VectorKernels, VectorOps}
import graft.ops.PqQueries
import graft.store.IvfPqIndex
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** IVF-PQ at rest: cell partition pruning (what a probe reads) composed
  * with PQ row compression (how big each read row is). The ADC probe is
  * cross-checked against a driver-side kernel replay, and the two-stage
  * rescored probe against the cell-restricted exact search. */
class IvfPqSpec extends SparkSpec {

  private val M = PqQueries.M
  private val K = PqQueries.K

  private lazy val indexPath: String = {
    val dir = tempDir("ivfpq")
    IvfPqIndex.build(Tables.embeddings(spark, sf001), dir)
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

  test("build: every vector coded once, rows are M-byte codes, no floats at rest") {
    val data = spark.read.parquet(s"$indexPath/data")
    val n = Tables.embeddings(spark, sf001).count()
    assert(data.count() == n)
    assert(data.select("vec_id").distinct().count() == n)
    // the data files carry ONLY (vec_id, codes, cell) — compression is real
    assert(data.schema.fieldNames.sorted.toSeq == Seq("cell", "codes", "vec_id"))
    val lens = data.select(length(col("codes"))).distinct().collect().map(_.getInt(0))
    assert(lens.toSeq == Seq(M))
    assert(data.select("cell").distinct().count() >= 5)
  }

  test("ADC probe scans only the probed cells' partitions") {
    val scan1 = fileScan(IvfPqIndex.probe(spark, indexPath, query0, k = 5, nprobe = 1))
    assert(scan1.toString.contains("PartitionFilters"))
    assert(scan1.selectedPartitions.partitionCount == 1)
    val scan3 = fileScan(IvfPqIndex.probe(spark, indexPath, query0, k = 5, nprobe = 3))
    assert(scan3.selectedPartitions.partitionCount == 3)
  }

  test("ADC probe equals a driver-side kernel replay over the probed cells") {
    val q = query0
    val cb = spark.read.parquet(s"$indexPath/codebook")
      .orderBy("idx").collect().map(_.getDouble(1))
    val cells = IvfPqIndex.probedCells(spark, indexPath, q, nprobe = 2)
    val lut = VectorKernels.pqLut(q, cb, M, K)
    val expected = spark.read.parquet(s"$indexPath/data")
      .filter(col("cell").isin(cells: _*))
      .select("vec_id", "codes").collect()
      .map(r => (r.getLong(0), VectorKernels.pqAdc(r.getAs[Array[Byte]](1), lut, K)))
      .sortBy { case (id, adc) => (-adc, id) }
      .take(5)
    val got = IvfPqIndex.probe(spark, indexPath, q, k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == expected.toSeq)
  }

  test("rescored probe with candK >= cell rows equals the cell-restricted exact search") {
    val q = query0
    val emb = Tables.embeddings(spark, sf001)
    val cells = IvfPqIndex.probedCells(spark, indexPath, q, nprobe = 2)
    val inCells = spark.read.parquet(s"$indexPath/data")
      .filter(col("cell").isin(cells: _*)).select("vec_id")
    val exact = emb.join(inCells, "vec_id")
      .select(col("vec_id"),
        VectorOps.cosineFloat(typedLit(q), col("embedding")).as("score"))
      .orderBy(col("score").desc, col("vec_id")).limit(5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val got = IvfPqIndex.probeRescored(spark, indexPath, q, emb,
        k = 5, candK = 100000, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == exact.toSeq)
  }

  test("streaming micro-batches maintain the index like batch appends (frozen quantizers)") {
    val emb = Tables.embeddings(spark, sf001)
    val dir = tempDir("ivfpq-stream")
    val inDir = tempDir("ivfpq-feed")
    IvfPqIndex.build(emb.filter(col("vec_id") < 250), dir)
    val cbFrozen = spark.read.parquet(s"$dir/codebook")
      .orderBy("idx").collect().map(_.getDouble(1))
    // two staged files -> two micro-batches (maxFilesPerTrigger=1)
    emb.filter(col("vec_id") >= 250 && col("vec_id") < 375)
      .coalesce(1).write.mode("append").parquet(inDir)
    emb.filter(col("vec_id") >= 375)
      .coalesce(1).write.mode("append").parquet(inDir)
    val stream = spark.readStream
      .schema(graft.streaming.StreamIndexIngest.embSchema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    val batches = graft.streaming.StreamIndexIngest.ingestOnce(stream, dir)
    assert(batches >= 2, s"expected >= 2 micro-batches, got $batches")
    val data = spark.read.parquet(s"$dir/data")
    assert(data.count() == emb.count())
    assert(data.select("vec_id").distinct().count() == emb.count())
    // a streamed row carries codes from the BUILD-time codebook
    val v400 = emb.filter(col("vec_id") === 400)
      .select("embedding").collect().head.getSeq[Float](0).toArray
    val stored = data.filter(col("vec_id") === 400)
      .select("codes").collect().head.getAs[Array[Byte]](0).toSeq
    assert(stored == VectorKernels.pqEncode(v400, cbFrozen, M, K).toSeq)
    // probes over the streamed index still prune to their cells
    val scan = fileScan(IvfPqIndex.probe(spark, dir, v400, k = 3, nprobe = 1))
    assert(scan.selectedPartitions.partitionCount == 1)
  }

  test("append encodes against the frozen codebook and only adds files") {
    val emb = Tables.embeddings(spark, sf001)
    val dir = tempDir("ivfpq-append")
    IvfPqIndex.build(emb.filter(col("vec_id") < 250), dir)
    val cbBefore = spark.read.parquet(s"$dir/codebook")
      .orderBy("idx").collect().map(_.getDouble(1))
    def dataFiles(): Set[String] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk) else Seq(f)
      walk(new java.io.File(s"$dir/data")).map(_.getAbsolutePath)
        .filter(_.endsWith(".parquet")).toSet
    }
    val before = dataFiles()
    IvfPqIndex.append(emb.filter(col("vec_id") >= 250), dir)
    assert(before.subsetOf(dataFiles()), "append rewrote existing cell files")
    val data = spark.read.parquet(s"$dir/data")
    assert(data.count() == emb.count())
    // appended rows carry codes from the FROZEN codebook: re-encode one
    // appended vector driver-side against the saved codebook and compare
    val v300 = emb.filter(col("vec_id") === 300)
      .select("embedding").collect().head.getSeq[Float](0).toArray
    val expected = VectorKernels.pqEncode(v300, cbBefore, M, K).toSeq
    val stored = data.filter(col("vec_id") === 300)
      .select("codes").collect().head.getAs[Array[Byte]](0).toSeq
    assert(stored == expected)
  }

  test("residual-built index at rest: marker, frozen-encode append, probe replay, rebuild") {
    val emb = Tables.embeddings(spark, sf001)
    val dir = tempDir("ivfpq-residual")
    IvfPqIndex.buildResidual(emb.filter(col("vec_id") < 250), dir)
    assert(IvfPqIndex.isResidual(spark, dir))
    val cents = spark.read.parquet(s"$dir/centroids").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
    val cbFrozen = spark.read.parquet(s"$dir/codebook")
      .orderBy("idx").collect().map(_.getDouble(1))

    // append encodes the RESIDUAL against the frozen artifacts
    IvfPqIndex.append(emb.filter(col("vec_id") >= 250), dir)
    val data = spark.read.parquet(s"$dir/data")
    assert(data.count() == emb.count())
    val r300 = data.filter(col("vec_id") === 300)
      .select("codes", "cell").collect().head
    val v300 = emb.filter(col("vec_id") === 300)
      .select("embedding").collect().head.getSeq[Float](0).toArray
    val c300 = cents(r300.getInt(1))
    val resid300 = v300.indices.map(i => (v300(i) - c300(i)).toFloat).toArray
    assert(r300.getAs[Array[Byte]](0).toSeq ==
      VectorKernels.pqEncode(resid300, cbFrozen, M, K).toSeq)

    // probe = driver replay of q·c(cell) + ADC over the probed cells
    val q = v300
    val cells = IvfPqIndex.probedCells(spark, dir, q, nprobe = 2)
    val lut = VectorKernels.pqLut(q, cbFrozen, M, K)
    def dot(a: Array[Float], c: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { s += a(i).toDouble * c(i); i += 1 }; s
    }
    val expected = data.filter(col("cell").isin(cells: _*))
      .select("vec_id", "codes", "cell").collect()
      .map(r => (r.getLong(0),
        dot(q, cents(r.getInt(2))) + VectorKernels.pqAdc(r.getAs[Array[Byte]](1), lut, K)))
      .sortBy { case (id, adc) => (-adc, id) }
      .take(5)
    val got = IvfPqIndex.probe(spark, dir, q, k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq == expected.toSeq)

    // rescored two-stage equals the exact cell-restricted search
    val inCells = data.filter(col("cell").isin(cells: _*)).select("vec_id")
    val exact = emb.join(inCells, "vec_id")
      .select(col("vec_id"),
        VectorOps.cosineFloat(typedLit(q), col("embedding")).as("score"))
      .orderBy(col("score").desc, col("vec_id")).limit(5)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val rescored = IvfPqIndex.probeRescored(spark, dir, q, emb,
        k = 5, candK = 100000, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rescored.toSeq == exact.toSeq)

    // rebuild keeps the residual format, versions both trained sidecars
    assert(IvfPqIndex.rebuild(emb, dir) == 1)
    assert(IvfPqIndex.isResidual(spark, dir))
    assert(new java.io.File(s"$dir/codebook_v1").exists())
    assert(new java.io.File(s"$dir/centroids_v1").exists())
    assert(spark.read.parquet(s"$dir/data").count() == emb.count())
  }

  test("residual coding does not regress recall vs plain PQ at the same code budget") {
    // the property residual coding exists for (Jegou et al. 2011):
    // quantizing x - c(cell) spends the same M x K budget on a
    // lower-variance cloud. Both candidate paths run on the same corpus
    // against the same exact top-3; recall@3 of the residual path must
    // be >= plain PQ's minus a 1-hit slack (30 exact hits total).
    import org.apache.spark.sql.expressions.Window
    import graft.ops.PqQueries
    val emb = Tables.embeddings(spark, sf001)
    val q = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"))
    val sc = q.join(emb.select(col("vec_id"), col("embedding")),
        col("vec_id") =!= col("qid"))
      .select(col("qid"), col("vec_id"),
        graft.functions.VectorOps.cosineFloat(col("qe"), col("embedding")).as("score"))
    val w = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("vec_id"))
    val exact = sc.withColumn("rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("rn") <= 3).select(col("qid"), col("vec_id"))
    def hits(approx: org.apache.spark.sql.DataFrame): Long =
      exact.join(approx.select(col("qid"), col("vec_id")),
        Seq("qid", "vec_id"), "left_semi").count()
    val plain = hits(PqQueries.pqTop3(spark, sf001))
    val residual = hits(PqQueries.residualTop3(spark, sf001))
    assert(residual >= plain - 1,
      s"residual recall regressed: $residual vs plain $plain of ${exact.count()} hits")
  }

  test("rebuild re-trains codebook + centroids on the current corpus and versions both") {
    val emb = Tables.embeddings(spark, sf001)
    val dir = tempDir("ivfpq-rebuild")
    IvfPqIndex.build(emb.filter(col("vec_id") < 250), dir)
    IvfPqIndex.append(emb.filter(col("vec_id") >= 250), dir)
    val cbFrozen = spark.read.parquet(s"$dir/codebook")
      .orderBy("idx").collect().map(_.getDouble(1))

    val v = IvfPqIndex.rebuild(emb, dir)
    assert(v == 1)
    // EVERY frozen artifact of the tier is archived
    assert(new java.io.File(s"$dir/codebook_v1").exists())
    assert(new java.io.File(s"$dir/centroids_v1").exists())
    val data = spark.read.parquet(s"$dir/data")
    assert(data.count() == emb.count())
    assert(data.select("vec_id").distinct().count() == emb.count())

    // the quantizer really re-trained: full-corpus codebook differs from
    // the half-corpus one, and rows are re-encoded against the NEW one
    val cbNew = spark.read.parquet(s"$dir/codebook")
      .orderBy("idx").collect().map(_.getDouble(1))
    assert(cbNew.toSeq != cbFrozen.toSeq, "codebook did not re-train")
    val v300 = emb.filter(col("vec_id") === 300)
      .select("embedding").collect().head.getSeq[Float](0).toArray
    assert(data.filter(col("vec_id") === 300)
      .select("codes").collect().head.getAs[Array[Byte]](0).toSeq ==
      VectorKernels.pqEncode(v300, cbNew, M, K).toSeq)

    // probe parity on the swapped layout: ADC equals a kernel replay
    // with the NEW sidecars, and the rescored probe equals the exact
    // cell-restricted search
    val q = query0
    val cells = IvfPqIndex.probedCells(spark, dir, q, nprobe = 2)
    val lut = VectorKernels.pqLut(q, cbNew, M, K)
    val expected = spark.read.parquet(s"$dir/data")
      .filter(col("cell").isin(cells: _*))
      .select("vec_id", "codes").collect()
      .map(r => (r.getLong(0), VectorKernels.pqAdc(r.getAs[Array[Byte]](1), lut, K)))
      .sortBy { case (id, adc) => (-adc, id) }
      .take(5)
    assert(IvfPqIndex.probe(spark, dir, q, k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq == expected.toSeq)

    // versions stack
    assert(IvfPqIndex.rebuild(emb, dir) == 2)
    assert(new java.io.File(s"$dir/codebook_v2").exists())
  }

  test("rebuild of an OPQ-built index re-trains and versions the rotation too") {
    val emb = Tables.embeddings(spark, sf001)
    val dir = tempDir("ivfpq-opq-rebuild")
    IvfPqIndex.buildOpq(emb.filter(col("vec_id") < 250), dir)
    val rotFrozen = IvfPqIndex.readRotation(spark, dir).get
    IvfPqIndex.append(emb.filter(col("vec_id") >= 250), dir)

    assert(IvfPqIndex.rebuild(emb, dir) == 1)
    // the rotation sidecar is detected, re-trained AND archived
    assert(new java.io.File(s"$dir/rotation_v1").exists())
    assert(new java.io.File(s"$dir/codebook_v1").exists())
    val rotNew = IvfPqIndex.readRotation(spark, dir).get
    assert(rotNew.length == rotFrozen.length)
    assert(rotNew.toSeq != rotFrozen.toSeq, "rotation did not re-train")
    // codes live in the NEW coding space: re-encode one vector through
    // the new rotation + codebook and compare at-rest bytes
    val cbNew = spark.read.parquet(s"$dir/codebook")
      .orderBy("idx").collect().map(_.getDouble(1))
    val v300 = emb.filter(col("vec_id") === 300)
      .select("embedding").collect().head.getSeq[Float](0).toArray
    val rotated = VectorKernels.rotateFloat(v300, rotNew)
    assert(spark.read.parquet(s"$dir/data").filter(col("vec_id") === 300)
      .select("codes").collect().head.getAs[Array[Byte]](0).toSeq ==
      VectorKernels.pqEncode(rotated, cbNew, M, K).toSeq)
  }

  test("OPQ build: rotation sidecar roundtrips; codes and probe live in coding space") {
    val dir = tempDir("ivfpq-opq")
    val emb = Tables.embeddings(spark, sf001)
    IvfPqIndex.buildOpq(emb, dir)
    // sidecar roundtrip: the saved rotation equals the trained one
    val rot = IvfPqIndex.readRotation(spark, dir)
      .getOrElse(fail("OPQ index missing rotation sidecar"))
    val (trained, cb) = PqQueries.trainOpqOn(emb)
    assert(rot.toSeq == trained.toSeq)
    // stored codes are the ROTATED encodes against the frozen codebook
    val v0 = query0
    val expected = VectorKernels.pqEncode(
      VectorKernels.rotateFloat(v0, rot), cb, M, K).toSeq
    val stored = spark.read.parquet(s"$dir/data")
      .filter(col("vec_id") === 0)
      .select("codes").collect().head.getAs[Array[Byte]](0).toSeq
    assert(stored == expected)
    // ADC probe replay: rotate the query, LUT against the saved codebook,
    // score the probed cells' stored codes driver-side
    val nprobe = 2
    val got = IvfPqIndex.probe(spark, dir, v0, 10, nprobe)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val cells = IvfPqIndex.probedCells(spark, dir, v0, nprobe)
    val lut = VectorKernels.pqLut(
      VectorKernels.rotateFloat(v0, rot), IvfPqIndex.readCodebook(spark, dir), M, K)
    val replay = spark.read.parquet(s"$dir/data")
      .filter(col("cell").isin(cells: _*))
      .select("vec_id", "codes").collect()
      .map(r => (r.getLong(0), VectorKernels.pqAdc(r.getAs[Array[Byte]](1), lut, K)))
      .sortBy { case (id, s) => (-s, id) }.take(10).toSeq
    assert(got == replay)
    // a plain-PQ index has no rotation sidecar (format flag is absence)
    assert(IvfPqIndex.readRotation(spark, indexPath).isEmpty)
  }

  test("OPQ append encodes against the frozen rotation + codebook") {
    val dir = tempDir("ivfpq-opq-app")
    val emb = Tables.embeddings(spark, sf001)
    IvfPqIndex.buildOpq(emb.filter(col("vec_id") < 300), dir)
    val rot = IvfPqIndex.readRotation(spark, dir).get
    val cb = IvfPqIndex.readCodebook(spark, dir)
    IvfPqIndex.append(emb.filter(col("vec_id") >= 300), dir)
    val data = spark.read.parquet(s"$dir/data")
    assert(data.count() == emb.count())
    val v300 = emb.filter(col("vec_id") === 300)
      .select("embedding").collect().head.getSeq[Float](0).toArray
    val expected = VectorKernels.pqEncode(
      VectorKernels.rotateFloat(v300, rot), cb, M, K).toSeq
    val stored = data.filter(col("vec_id") === 300)
      .select("codes").collect().head.getAs[Array[Byte]](0).toSeq
    assert(stored == expected)
  }
}
