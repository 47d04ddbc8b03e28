package graft

import graft.store.VectorStore
import org.apache.spark.sql.functions._

/** Contract tests for the VectorStore façade, mirroring the reference's
  * validation raises (pythonvectordb.py:279-303, 347-360, 599-630) and the
  * *intended* delete semantics (SURVEY.md §2.2 T6). */
class VectorStoreSpec extends SparkSpec {

  import spark.implicits._

  private def mkRows(rows: Seq[(String, Seq[Float], Map[String, String])]) =
    rows.toDF("id", "embedding", "meta")

  private def freshStore(dim: Int = 4): VectorStore = {
    val st = VectorStore.create(spark, dim)
    st.addVectors(mkRows(Seq(
      ("a", Seq(1f, 0f, 0f, 0f), Map("g" -> "x")),
      ("b", Seq(0f, 1f, 0f, 0f), Map("g" -> "y")),
      ("c", Seq(0.9f, 0.1f, 0f, 0f), Map("g" -> "x")),
      ("d", Seq(-1f, 0f, 0f, 0f), Map("g" -> "y")))))
    st
  }

  test("create + add + count") {
    val st = freshStore()
    assert(st.count == 4)
  }

  test("create rejects non-positive dimension") {
    intercept[IllegalArgumentException](VectorStore.create(spark, 0))
    intercept[IllegalArgumentException](VectorStore.create(spark, -3))
  }

  test("addVectors validations: dim, finiteness, dup-in-batch, dup-existing") {
    val st = freshStore()
    intercept[IllegalArgumentException] {
      st.addVectors(mkRows(Seq(("e", Seq(1f, 2f), Map.empty[String, String]))))
    }
    intercept[IllegalArgumentException] {
      st.addVectors(mkRows(Seq(("e", Seq(Float.NaN, 0f, 0f, 0f), Map.empty[String, String]))))
    }
    intercept[IllegalArgumentException] {
      st.addVectors(mkRows(Seq(
        ("e", Seq(1f, 0f, 0f, 0f), Map.empty[String, String]),
        ("e", Seq(0f, 1f, 0f, 0f), Map.empty[String, String]))))
    }
    intercept[IllegalArgumentException] {
      st.addVectors(mkRows(Seq(("a", Seq(1f, 0f, 0f, 0f), Map.empty[String, String]))))
    }
    assert(st.count == 4) // failed batches insert nothing
  }

  test("addVectors rejects null ids with their own message") {
    val st = freshStore()
    val e = intercept[IllegalArgumentException] {
      st.addVectors(mkRows(Seq(
        (null, Seq(1f, 0f, 0f, 0f), Map.empty[String, String]),
        (null, Seq(0f, 1f, 0f, 0f), Map.empty[String, String]),
        ("e", Seq(0f, 0f, 1f, 0f), Map.empty[String, String]))))
    }
    assert(e.getMessage == "2 rows have a null id")
    assert(st.count == 4)
  }

  test("addVectors checks finiteness after the cast to float") {
    val st = freshStore()
    // 1e300 is a finite double but overflows float to Infinity: the
    // reference casts to float32 before isfinite (pythonvectordb.py:273,
    // 284-285)
    val e = intercept[IllegalArgumentException] {
      st.addVectors(Seq(("e", Seq(1e300, 0.0, 0.0, 0.0))).toDF("id", "embedding"))
    }
    assert(e.getMessage == "non-finite values in 1 rows")
    assert(st.count == 4)
    // an in-range double batch is stored as its float image
    st.addVectors(Seq(("f", Seq(0.0, 0.0, 0.6, 0.8))).toDF("id", "embedding"))
    assert(st.count == 5)
    assert(st.search(Array(0f, 0f, 0.6f, 0.8f), k = 1).collect().head.getString(0) == "f")
  }

  test("search returns descending scores with nearest first") {
    val st = freshStore()
    val res = st.search(Array(1f, 0f, 0f, 0f), k = 3).collect()
    assert(res.length == 3)
    assert(res.head.getAs[String]("id") == "a")
    assert(res.head.getAs[Double]("score") == 1.0)
    val scores = res.map(_.getAs[Double]("score")).toSeq
    assert(scores == scores.sorted.reverse)
    assert(res.last.getAs[String]("id") != "d") // opposite vector is last overall
  }

  test("search validations: k, dim, finiteness") {
    val st = freshStore()
    intercept[IllegalArgumentException](st.search(Array(1f, 0f, 0f, 0f), k = 0))
    intercept[IllegalArgumentException](st.search(Array(1f, 0f), k = 1))
    intercept[IllegalArgumentException](st.search(Array(Float.NaN, 0f, 0f, 0f), k = 1))
  }

  test("filtered search scores only matching rows (filter-before-score)") {
    val st = freshStore()
    val res = st.search(Array(1f, 0f, 0f, 0f), k = 10,
      filter = Some(element_at(col("meta"), "g") === "y")).collect()
    assert(res.map(_.getAs[String]("id")).toSet == Set("b", "d"))
  }

  test("delete excludes rows from search and lookup (intended semantics)") {
    val st = freshStore()
    assert(st.delete(Seq("a", "zzz")) == 1) // only existing ids count
    assert(st.count == 3)
    val res = st.search(Array(1f, 0f, 0f, 0f), k = 10).collect()
    assert(!res.map(_.getAs[String]("id")).contains("a"))
    assert(res.head.getAs[String]("id") == "c") // next-nearest takes over, id aligned
    assert(st.getVector("a").isEmpty)
    assert(st.getVector("b").isDefined)
  }

  test("compact folds tombstones and preserves results") {
    val st = freshStore()
    st.delete(Seq("b"))
    val before = st.search(Array(1f, 0f, 0f, 0f), k = 10).collect().map(_.getAs[String]("id")).toSeq
    st.compact()
    val after = st.search(Array(1f, 0f, 0f, 0f), k = 10).collect().map(_.getAs[String]("id")).toSeq
    assert(before == after)
    assert(st.stats("deleted_pending") == 0L)
  }

  // strengthens the reference's count-only integrity check
  // (benchmark_suite.py:313-319) to full result equality
  test("save/load roundtrip preserves full search results") {
    val st = freshStore()
    val dir = tempDir("vstore")
    val before = st.search(Array(0.5f, 0.5f, 0f, 0f), k = 4).collect().toSeq
    st.save(dir)
    val re = VectorStore.load(spark, dir)
    assert(re.dim == 4)
    val after = re.search(Array(0.5f, 0.5f, 0f, 0f), k = 4).collect().toSeq
    assert(before.map(r => (r.getString(0), r.getDouble(1))) ==
      after.map(r => (r.getString(0), r.getDouble(1))))
  }

  test("save partitions by id hash; at-rest point lookup scans ONE partition") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val st = VectorStore.create(spark, 4)
    // several adds, each of which lands in its own partitions
    (0 until 40).grouped(10).foreach(g => st.addVectors(mkRows(g.map(i =>
      (s"r$i", Seq(i.toFloat / 40, 1f, 0f, 0f), Map("g" -> (i % 3).toString))))))
    val dir = tempDir("vstore-bucketed")
    st.save(dir, numBuckets = 8)
    // the layout is hive-partitioned on the id hash
    val parts = new java.io.File(s"$dir/data").listFiles()
      .filter(f => f.isDirectory && f.getName.startsWith("id_bucket=")).map(_.getName).toSet
    assert(parts.size > 1, s"expected multiple id_bucket partitions, got $parts")
    // one file per bucket at most, however many partitions the adds made
    val files = parts.toSeq.flatMap(p => new java.io.File(s"$dir/data/$p").listFiles()
      .filter(_.getName.endsWith(".parquet")))
    assert(files.size <= 8, s"expected at most one parquet file per bucket, got ${files.size}")

    def scannedPartitions(df: org.apache.spark.sql.DataFrame): Int = {
      df.collect()
      val p = df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
      p.collectLeaves().collectFirst { case f: FileSourceScanExec => f }
        .getOrElse(fail(s"no file scan in plan:\n$p"))
        .selectedPartitions.partitionCount
    }
    // both the just-saved store and a fresh load prune to 1 partition
    assert(scannedPartitions(st.lookupFrame("r17")) == 1,
      "post-save lookup should scan exactly one id_bucket partition")
    val re = VectorStore.load(spark, dir)
    assert(scannedPartitions(re.lookupFrame("r17")) == 1,
      "post-load lookup should scan exactly one id_bucket partition")
    // and the pruned lookup still finds the row / rejects absent ids
    assert(re.getVector("r17").isDefined && re.getVector("r999").isEmpty)
    assert(re.count == 40)
  }

  test("versioned saves time-travel: historical versions stay readable and immutable") {
    val st = VectorStore.create(spark, 4)
    st.addVectors(mkRows(Seq(
      ("a", Seq(1f, 0f, 0f, 0f), Map("g" -> "0")),
      ("b", Seq(0f, 1f, 0f, 0f), Map.empty[String, String]))))
    val dir = tempDir("vstore-versions")
    assert(VectorStore.versions(spark, dir).isEmpty)
    assert(st.saveVersion(dir) == 0)
    // mutate: delete a row, add two more, commit v1
    st.delete(Seq("b"))
    st.addVectors(mkRows(Seq(
      ("c", Seq(0f, 0f, 1f, 0f), Map.empty[String, String]),
      ("d", Seq(0f, 0f, 0f, 1f), Map.empty[String, String]))))
    assert(st.saveVersion(dir) == 1)
    assert(VectorStore.versions(spark, dir) == Seq(0, 1))
    // latest: post-mutation state
    val latest = VectorStore.loadVersion(spark, dir)
    assert(latest.count == 3)
    assert(latest.getVector("b").isEmpty && latest.getVector("d").isDefined)
    // time travel to v0: the deleted row is back, the later rows absent
    val v0 = VectorStore.loadVersion(spark, dir, 0)
    assert(v0.count == 2)
    assert(v0.getVector("b").isDefined && v0.getVector("c").isEmpty)
    // metadata rode along into the historical snapshot
    assert(v0.search(Array(1f, 0f, 0f, 0f), k = 1).collect().head
      .getAs[Map[String, String]]("meta") == Map("g" -> "0"))
    // writing v1 must not have rewritten v0's files
    assert(VectorStore.loadVersion(spark, dir, 0).count == 2)
    // unknown version fails loudly
    intercept[IllegalArgumentException](VectorStore.loadVersion(spark, dir, 7))
  }

  test("vacuum keeps the newest versions, drops the rest, never reuses numbers") {
    val st = VectorStore.create(spark, 4)
    st.addVectors(mkRows(Seq(("a", Seq(1f, 0f, 0f, 0f), Map.empty[String, String]))))
    val dir = tempDir("vstore-vacuum")
    // stack four checkpoints, mutating between them so snapshots differ
    (0 until 4).foreach { i =>
      if (i > 0) st.addVectors(mkRows(Seq(
        (s"x$i", Seq(0f, 1f, 0f, 0f), Map.empty[String, String]))))
      assert(st.saveVersion(dir) == i)
    }
    assert(VectorStore.versions(spark, dir) == Seq(0, 1, 2, 3))
    // vacuum to the last two: v0/v1 gone, v2/v3 intact and loadable
    assert(VectorStore.vacuum(spark, dir, keepLast = 2) == Seq(0, 1))
    assert(VectorStore.versions(spark, dir) == Seq(2, 3))
    assert(VectorStore.loadVersion(spark, dir, 2).count == 3)
    assert(VectorStore.loadVersion(spark, dir).count == 4)
    intercept[IllegalArgumentException](VectorStore.loadVersion(spark, dir, 0))
    // the next checkpoint allocates past the survivors — numbers are
    // never reused, so a pinned "v3" reference can never silently point
    // at a different snapshot
    assert(st.saveVersion(dir) == 4)
    assert(VectorStore.versions(spark, dir) == Seq(2, 3, 4))
    // keepLast must retain at least one version; idempotent when nothing
    // is droppable
    intercept[IllegalArgumentException](VectorStore.vacuum(spark, dir, 0))
    assert(VectorStore.vacuum(spark, dir, keepLast = 5).isEmpty)
  }

  test("mutations invalidate the at-rest lookup path (no stale disk reads)") {
    val st = VectorStore.create(spark, 4)
    st.addVectors(mkRows(Seq(("a", Seq(1f, 0f, 0f, 0f), Map.empty[String, String]))))
    val dir = tempDir("vstore-stale")
    st.save(dir)
    val re = VectorStore.load(spark, dir)
    // a row added AFTER load must be visible (the disk path wouldn't have it)
    re.addVectors(mkRows(Seq(("b", Seq(0f, 1f, 0f, 0f), Map.empty[String, String]))))
    assert(re.getVector("b").isDefined)
    // a row deleted AFTER save must disappear (the disk path would keep it)
    re.delete(Seq("a"))
    assert(re.getVector("a").isEmpty)
  }

  test("concurrent mutations keep the store consistent (reference lock semantics)") {
    // the reference guards every mutation with an RLock
    // (pythonvectordb.py:233, 299, 439); without the store monitor the
    // base-var read-modify-write here loses batches under interleaving
    val st = VectorStore.create(spark, 4)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val ths = (0 until 4).map { w =>
      val t = new Thread(() =>
        try st.addVectors(mkRows((0 until 10).map(i =>
          (s"w${w}_$i", Seq(w.toFloat, i.toFloat, 0f, 1f), Map.empty[String, String]))))
        catch { case e: Throwable => errs.add(e) })
      t.start(); t
    }
    ths.foreach(_.join())
    assert(errs.isEmpty, s"concurrent addVectors raised: ${errs.peek()}")
    assert(st.count == 40, "a concurrent batch was lost")
    // interleaved deletes against reads stay consistent too
    val dels = (0 until 4).map { w =>
      val t = new Thread(() => st.delete(Seq(s"w${w}_0", s"w${w}_1")))
      t.start(); t
    }
    dels.foreach(_.join())
    assert(st.count == 32)
    assert(st.search(Array(1f, 0f, 0f, 1f), k = 40).collect().length == 32)
  }

  test("load rejects missing sidecar") {
    intercept[IllegalArgumentException](
      VectorStore.load(spark, "/tmp/definitely-not-a-store-xyz"))
  }

  test("getVector returns dequantized components") {
    val st = freshStore()
    val v = st.getVector("a").get
    assert(v.length == 4)
    assert(math.abs(v(0) - 1.0) <= 1.0 / 127 + 1e-9)
  }

  test("stats reports latency percentiles after searches") {
    val st = freshStore()
    (1 to 5).foreach(_ => st.search(Array(1f, 0f, 0f, 0f), k = 2).collect())
    val m = st.stats
    assert(m.contains("avg_search_ms") && m.contains("p99_search_ms"))
    assert(m("count") == 4L)
    assert(st.toString.contains("dim=4"))
  }

  test("normalize column function: unit norm + zero-norm guard") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val df = Seq(Seq(3f, 4f), Seq(0f, 0f)).toDF("v")
    val out = df.select(graft.functions.VectorOps.normalize(col("v")).as("n"))
      .collect().map(_.getSeq[Double](0))
    assert(out(0) == Seq(0.6, 0.8))
    assert(out(1) == Seq(0.0, 0.0))
  }

  test("re-adding a deleted id resurrects it (new row visible, old row gone)") {
    val st = freshStore()
    st.delete(Seq("a"))
    assert(st.getVector("a").isEmpty)
    st.addVectors(mkRows(Seq(("a", Seq(0f, 0f, 1f, 0f), Map("g" -> "z")))))
    assert(st.count == 4)
    val v = st.getVector("a").get
    assert(math.abs(v(2) - 1.0) <= 1.0 / 127 + 1e-9) // the NEW vector, not the old
    val res = st.search(Array(0f, 0f, 1f, 0f), k = 1).collect().head
    assert(res.getAs[String]("id") == "a")
    st.compact()
    assert(st.getVector("a").isDefined) // survives compaction
  }

  test("auto-generated ids stay monotonic across deletes (no collisions)") {
    val st = VectorStore.create(spark, 2)
    import org.apache.spark.sql.functions.col
    val noId = Seq(Seq(1f, 0f), Seq(0f, 1f), Seq(1f, 1f))
      .toDF("embedding")
    st.addVectors(noId)
    assert(st.count == 3)
    st.delete(Seq("vec_0"))
    // next autogen must not collide with live vec_1/vec_2 or dead vec_0
    st.addVectors(Seq(Seq(0.5f, 0.5f)).toDF("embedding"))
    assert(st.count == 3)
    assert(st.getVector("vec_3").isDefined)
  }

  test("addVectors rejects null embeddings (not silently counted valid)") {
    val st = freshStore()
    val withNull = mkRows(Seq(("e", Seq(1f, 0f, 0f, 0f), Map.empty[String, String])))
      .withColumn("embedding",
        when(col("id") === "e", lit(null)).otherwise(col("embedding"))
          .cast("array<float>"))
    intercept[IllegalArgumentException](st.addVectors(withNull))
    assert(st.count == 4)
  }

  test("search scores raw float query against dequantized store (asymmetric)") {
    val st = freshStore()
    // query with non-trivial direction: only the STORED side carries
    // quantization error, so the score equals cosineFloatInt8 exactly
    val q = Array(0.6f, 0.8f, 0f, 0f)
    val res = st.search(q, k = 4).collect()
    val qb = graft.functions.VectorKernels.quantize(Array(0.9f, 0.1f, 0f, 0f))
    val expectC = graft.functions.VectorKernels.cosineFloatInt8(q, qb)
    val cRow = res.find(_.getAs[String]("id") == "c").get
    assert(cRow.getAs[Double]("score") == expectC)
  }

  test("stats percentiles use np.percentile linear interpolation") {
    val st = freshStore()
    // feed a known latency history: 1..4 ms
    (1 to 4).foreach(i => st.recordSearchMillis(i.toDouble))
    val m = st.stats
    // np.percentile([1,2,3,4], 50) = 2.5 (interpolated, not nearest-rank 3)
    assert(m("p50_search_ms") == 2.5)
    assert(m("p95_search_ms") == 1.0 + 0.95 * 3.0)
  }

  test("search accepts an arbitrary FilterFunction[Row] (filter_fn escape hatch)") {
    val st = freshStore()
    // a predicate no Column could push down: closure over id + meta
    val fn = new org.apache.spark.api.java.function.FilterFunction[org.apache.spark.sql.Row] {
      override def call(r: org.apache.spark.sql.Row): Boolean = {
        val id = r.getAs[String]("id")
        val g = r.getAs[Map[String, String]]("meta").getOrElse("g", "")
        g == "y" && id != "d"
      }
    }
    val res = st.search(Array(1f, 0f, 0f, 0f), k = 10, fn).collect()
    assert(res.map(_.getAs[String]("id")).toSeq == Seq("b"))
  }

  test("stats reports qps = 1000/avg_ms over the rolling window") {
    val st = freshStore()
    Seq(2.0, 4.0).foreach(st.recordSearchMillis) // avg 3 ms
    val m = st.stats
    assert(m("qps") == 1000.0 / 3.0)
  }

  test("stats memory estimate includes id and metadata overhead") {
    val st = freshStore()
    val m = st.stats
    // payload: 4 rows x dim 4 = 16 B; ids: 4 x 1 B; meta: 4 x ("g"+1-char value)
    assert(m("memory_bytes") == (16L + 4L + 4L * 2L))
    // bytes_per_vector keeps the reference's payload-only semantics
    // (pythonvectordb.py:523: dim bytes of int8 per vector)
    assert(m("bytes_per_vector") == 4.0)
    assert(m("avg_row_bytes") == (16.0 + 4.0 + 8.0) / 4.0)
  }

  test("kernel dimension mismatch raises instead of silently truncating") {
    intercept[IllegalArgumentException](
      graft.functions.VectorKernels.cosineFloat(Array(1f, 2f), Array(1f, 2f, 3f)))
    intercept[IllegalArgumentException](
      graft.functions.VectorKernels.cosineInt8(Array[Byte](1, 2), Array[Byte](1)))
  }

  test("buildIndex bridges the store to the serving tier with id mapping") {
    val st = freshStore()
    val (idx, mapping) = st.buildIndex(numBlocks = 2)
    val local = idx.toLocal
    assert(local.count == 4)
    val q = graft.functions.VectorKernels.quantize(Array(1f, 0f, 0f, 0f))
    val top = local.search(q, 1).head
    val ids = mapping.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ids(top._1) == "a")
    assert(top._2 == 1.0)
  }
}
