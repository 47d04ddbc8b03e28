package graft.store

import graft.functions.{VectorKernels, VectorOps}
import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Spark-native vector collection — the re-expression of the reference's
  * `PythonVectorDB` class (reference: pythonvectordb.py:176-659) over
  * immutable DataFrames + parquet.
  *
  * Semantics map (SURVEY.md §2.2):
  *  - T1 constructor/DDL  -> `VectorStore.create(spark, dim)` (empty frame;
  *    preallocation/growth T2 is N/A under Spark's append model)
  *  - T3 add_vectors      -> `addVectors` (same five validations:
  *    pythonvectordb.py:279-303; id autogen `vec_{i}`)
  *  - T4 search           -> `search(query, k, filter)` — filter-before-score
  *    comes free from Catalyst predicate pushdown; top-k plans as
  *    TakeOrderedAndProject
  *  - T5 get_vector       -> `getVector` (dequantized read)
  *  - T6/T7 delete+compact-> `delete` adds the ids it hits to a driver-held
  *    tombstone set that every read filters out; `compact()` drops the
  *    tombstoned rows from the base frame — the *intended* semantics (ids
  *    stay aligned), not the reference's positional-shift bug
  *  - T8 stats            -> `stats`
  *  - T9/T10 save/load    -> parquet + sidecar schema/invariant assertions
  *  - T11 count           -> `count`
  *
  * State: one materialised base frame ⊕ at most one materialised delta
  * (the rows added since the last fold, in at most `defaultParallelism`
  * partitions of about the base's rows per partition) − the tombstone id
  * set — Krypton's write buffer in front of a materialised base. An add
  * rewrites the delta with its batch, unless the rows written into the
  * delta since the last fold would reach the base's row count: then the
  * delta and the batch fold into the base in one rewrite. Between two folds
  * the delta writes fewer rows than the base holds and the fold writes the
  * base once, so with batches of `a` rows into a base of `B` an add copies
  * about sqrt(2aB) rows amortised, below the `B` rows its live-id duplicate
  * check scans; a batch as large as the base folds at once. Re-adding a
  * deleted id also folds (its dead row leaves in the rewrite), and
  * `compact()` always folds. Deletes below `DeletedThreshold` only grow the
  * tombstone set. So the plan a read runs has the same shape after any
  * number of mutations — a scan of the base, a scan of the delta and, while
  * deletes are pending, one set-membership filter — and a search is one
  * Spark job.
  *
  * Scale: rows live in DataFrames partitioned by storage and all operators
  * are narrow scans, filters and projections (the add's duplicate checks —
  * a distinct count over the batch, a join against the batch — are the
  * only key operations), so the store inherits Spark's
  * horizontal scaling; the tombstone set stays under `DeletedThreshold` ids
  * on the driver, and `compact` is the periodic rewrite job (Delta-style)
  * that empties it.
  */
final class VectorStore private (
    val spark: SparkSession,
    val dim: Int,
    private var base: DataFrame,
    private var baseRows: Long) {

  import VectorStore._

  // rows added since the last fold (an empty frame when none are), the
  // rows written into the delta since the last fold (the sum of its sizes
  // after each add), and the ids deleted since the last compaction. Each
  // tombstoned id names exactly one row of base ∪ delta, so the live count
  // is baseRows + deltaRows − tombs.size.
  private var delta: DataFrame = emptyFrame(spark)
  private var deltaRows = 0L
  private var deltaWritten = 0L
  private var tombs = Set.empty[String]

  /** Active (non-deleted) rows: (id string, embedding array<float>,
    * qvec binary, meta map<string,string>) — base ∪ delta without the
    * tombstoned ids. The tombstone filter plans as one `InSet` over a
    * driver-built set, so no join, no `distinct` and no extra job.
    *
    * Thread-safety mirrors the reference's RLock (pythonvectordb.py:233,
    * held at :299/:362/:414/:439/:519/:566): every mutation runs under
    * the store monitor, and reads assemble their plan from a CONSISTENT
    * snapshot of (base, delta, tombstones) under the same monitor.
    * Unlike the reference, reads release the lock BEFORE executing the
    * Spark job — distributed searches from concurrent callers proceed in
    * parallel; only the var snapshot is serialized. */
  def active: DataFrame = synchronized {
    val all = base.unionByName(delta)
    if (tombs.isEmpty) all else all.filter(!col("id").isInCollection(tombs))
  }

  /** Live rows, from the row counts the mutations keep (no Spark job). */
  def count: Long = synchronized(baseRows + deltaRows - tombs.size)

  /** Rows in the delta (0 right after a fold): package-visible so the
    * bounds spec can check the fold rule. */
  private[graft] def deltaRowCount: Long = synchronized(deltaRows)

  // monotonic auto-id offset: NOT decremented on delete (matches the
  // reference's vector_count-based `vec_{start+i}` naming which also never
  // decrements, pythonvectordb.py:287-289) — avoids collisions with live or
  // tombstoned ids after deletes.
  private var nextAutoId: Long = 0L

  /** Bulk insert with the reference's five validations
    * (pythonvectordb.py:279-303). `rows` needs an `embedding` column
    * (array<float>, or any numeric array: it is cast to float first, and
    * the finiteness check reads the cast values, as the reference casts to
    * float32 before `isfinite`) and may carry `id` (string) and `meta`
    * (map<string,string>). Without an `id` column ids are auto-generated
    * as `vec_{offset+row_number}`; a null id is rejected.
    * Re-adding a previously deleted id is allowed (the reference's delete
    * fully removes the id, pythonvectordb.py:449-455): the tombstone is
    * retired and the old row is physically dropped first. */
  def addVectors(rows: DataFrame): Unit = synchronized {
    val cols = rows.columns.toSet
    require(cols.contains("embedding"), "embedding column required")
    val withId =
      if (!cols.contains("id"))
        // contiguous `vec_{offset+i}` ids without a global window funnel:
        // zipWithIndex assigns per-partition offsets (one lightweight count
        // job over all-but-last partitions), keeping the data distributed.
        zipIndex(rows, "__row_idx")
          .withColumn("id",
            concat(lit("vec_"), (col("__row_idx") + nextAutoId).cast("string")))
          .drop("__row_idx")
      else rows
    val withMeta =
      if (!cols.contains("meta"))
        withId.withColumn("meta",
          map().cast(MapType(StringType, StringType)))
      else withId
    // materialize once, after the cast and the quantize: the validations,
    // the duplicate checks and the insert all read these blocks, the same
    // int8 codes searches score. The row-local validations
    // (pythonvectordb.py:279-297) and the batch ids that re-add a
    // tombstoned id (at most tombs.size of them) are observed during the
    // materializing job, so they cost no job of their own. The batch keeps
    // its input's partitions: a bulk load becomes the base as it is, and
    // only the rewrites below coalesce.
    val emb = col("embedding").cast(ArrayType(FloatType))
    val checks = new Observation()
    val prepared = withMeta.select(
      col("id").cast(StringType).as("id"),
      emb.as("embedding"),
      VectorOps.quantizeInt8(emb).as("qvec"),
      col("meta").cast(MapType(StringType, StringType)).as("meta"))
      .observe(checks,
        org.apache.spark.sql.functions.count(lit(1)).as("n"),
        // null embeddings must count as invalid: size(null)/hasNonFinite(null)
        // evaluate to null, and count_if(null) would score them valid
        count_if(col("embedding").isNull || size(col("embedding")) =!= dim).as("bad_dim"),
        count_if(coalesce(VectorOps.hasNonFinite(col("embedding")), lit(false))).as("nonfinite"),
        count_if(col("id").isNull).as("null_ids"),
        collect_set(when(col("id").isInCollection(tombs), col("id"))).as("resurrect"))
      .localCheckpoint(eager = true)
    val v = checks.get
    def reject(c: Long, msg: Long => String): Unit =
      if (c > 0) throw new IllegalArgumentException(msg(c))
    val n = v("n").asInstanceOf[Long]
    reject(v("bad_dim").asInstanceOf[Long], c => s"dimension mismatch: $c rows != dim $dim")
    reject(v("nonfinite").asInstanceOf[Long], c => s"non-finite values in $c rows")
    reject(v("null_ids").asInstanceOf[Long], c => s"$c rows have a null id")
    // the distinct count as one RDD job: a distinct aggregate plans as
    // three adaptive-execution jobs
    reject(n - prepared.select("id").rdd.map(_.getString(0)).distinct().count(),
      c => s"$c duplicate ids in batch")
    // disjoint from existing LIVE rows (pythonvectordb.py:300-303): the
    // batch is the join's small side, and only matching ids come back
    if (count > 0) {
      val dupExisting = active.select("id")
        .join(prepared.select("id"), Seq("id"), "left_semi").collect().length
      reject(dupExisting, c => s"$c ids already exist")
    }

    val resurrect = v("resurrect").asInstanceOf[scala.collection.Seq[String]].toSet
    val merged = deltaRows + n
    if (resurrect.nonEmpty || deltaWritten + merged >= baseRows) {
      // fold: the delta and the batch join the base in one rewrite, which
      // also drops the dead rows of the ids being re-added
      val old = base.unionByName(delta)
      val kept = if (resurrect.isEmpty) old else old.filter(!col("id").isInCollection(resurrect))
      base =
        if (baseRows == 0 && deltaRows == 0) prepared
        else materialize(kept.unionByName(prepared),
          math.max(baseParts, prepared.rdd.getNumPartitions))
      baseRows += merged - resurrect.size
      clearDelta()
      tombs --= resurrect
    } else {
      delta =
        if (deltaRows == 0 && prepared.rdd.getNumPartitions <= defaultParts) prepared
        else materialize(delta.unionByName(prepared), deltaParts(merged))
      deltaRows = merged
      deltaWritten += merged
    }
    nextAutoId += n
    invalidateAtRest()
  }

  private def defaultParts: Int = spark.sparkContext.defaultParallelism

  /** Partitions of a rewritten base: as many as the base has, and at
    * least the cluster's parallelism. */
  private def baseParts: Int = math.max(defaultParts, base.rdd.getNumPartitions)

  /** Partitions of a delta of `rows` rows: about as many rows to a
    * partition as the base has, and at most the cluster's parallelism. */
  private def deltaParts(rows: Long): Int = {
    val perPart = math.max(1L, baseRows / math.max(1, base.rdd.getNumPartitions))
    math.min(defaultParts.toLong, (rows + perPart - 1) / perPart).toInt.max(1)
  }

  private def clearDelta(): Unit = {
    delta = emptyFrame(spark)
    deltaRows = 0
    deltaWritten = 0
  }

  // rolling search-latency telemetry, SEARCH_HISTORY_SIZE=100
  // (pythonvectordb.py:21, 234, 399-400)
  private val latencies = new java.util.ArrayDeque[Double](128)

  /** k-NN search (pythonvectordb.py:327-402): the RAW float query is scored
    * against the DEQUANTIZED stored vectors — the reference's asymmetric
    * scoring (pythonvectordb.py:25-67; only the stored side carries
    * quantization error). Optional Column predicate = the reference's
    * `filter_fn`, expressed pushdown-friendly. Returns (id, score, meta)
    * desc by score, id tiebreak.
    *
    * Executes EAGERLY (the reference returns a materialized list and times
    * the full scan+top-k, pythonvectordb.py:399-400): the k result rows are
    * collected, the true wall time lands in the latency history, and the
    * small local result is returned as a DataFrame. */
  def search(query: Array[Float], k: Int, filter: Option[Column] = None): DataFrame =
    searchImpl(query, k, corpus => filter.map(corpus.filter).getOrElse(corpus))

  /** Arbitrary-predicate escape hatch — the full-generality analog of the
    * reference's `filter_fn: Callable` (pythonvectordb.py:331, 368-372),
    * which accepts any closure over (id, metadata). The row passed to `fn`
    * has the store schema (id, embedding, qvec, meta).
    *
    * Prefer the `Column` overload: a black-box closure evaluates AFTER the
    * scan (no parquet predicate pushdown, no column pruning, no codegen of
    * the predicate), exactly the tradeoff SURVEY.md §4 documents. It still
    * runs distributed and BEFORE scoring/top-k, like the reference's
    * filtered path. */
  def search(query: Array[Float], k: Int,
      fn: org.apache.spark.api.java.function.FilterFunction[Row]): DataFrame =
    searchImpl(query, k, corpus => corpus.filter(fn))

  private def searchImpl(query: Array[Float], k: Int,
      prep: DataFrame => DataFrame): DataFrame = {
    require(k > 0, s"k must be positive, got $k") // pythonvectordb.py:347-348
    require(query.length == dim,
      s"query dimension ${query.length} != $dim") // pythonvectordb.py:354-357
    require(!VectorKernels.hasNonFinite(query),
      "query contains non-finite values") // pythonvectordb.py:359-360
    val corpus = prep(active)
    val t0 = System.nanoTime()
    val plan = corpus
      .select(col("id"),
        VectorOps.cosineFloatInt8(col("qvec"), typedLit(query)).as("score"),
        col("meta"))
      .orderBy(col("score").desc, col("id").asc)
      .limit(k)
    val rows = plan.collect() // TakeOrderedAndProject: k rows reach the driver
    // empty result == the reference's untimed early returns (empty table
    // :363-364, filter eliminated everything :375-376) — those never reach
    // the latency append at :399-400, so don't record a sample either
    if (rows.nonEmpty) recordLatency((System.nanoTime() - t0) / 1e6)
    spark.createDataFrame(
      java.util.Arrays.asList(rows: _*), plan.schema)
  }

  private def recordLatency(ms: Double): Unit = synchronized {
    if (latencies.size >= 100) latencies.pollFirst()
    latencies.addLast(ms)
  }

  /** Record an externally-observed search wall time (e.g. a caller timing a
    * batched plan it executes itself). */
  def recordSearchMillis(ms: Double): Unit = recordLatency(ms)

  /** Append a contiguous 0-based long index column without a global window:
    * RDD zipWithIndex computes per-partition offsets (one small count job),
    * so assignment stays distributed — no single-partition funnel. */
  private def zipIndex(df: DataFrame, name: String): DataFrame = {
    val out = StructType(df.schema.fields :+ StructField(name, LongType, nullable = false))
    val rdd = df.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ i) }
    spark.createDataFrame(rdd, out)
  }

  /** Build the packed serving index from the current active rows — the
    * bridge from the mutable facade to the batch/low-latency search tier
    * (QuantizedIndex / LocalIndex). String ids are dense-ranked to longs;
    * the mapping is returned alongside. */
  def buildIndex(numBlocks: Int): (QuantizedIndex, DataFrame) = {
    // dense 0..n-1 ids ordered by string id: distributed range-partitioned
    // sort + per-partition zipWithIndex offsets — no global-window funnel
    val withIdx = zipIndex(
      active.select(col("id"), col("embedding")).sort(col("id")), "vec_id")
    val mapping = withIdx.select(col("vec_id"), col("id"))
    (QuantizedIndex.build(withIdx.select(col("vec_id"), col("embedding")), dim, numBlocks),
      mapping)
  }

  // Set when the current rows are known to match an id-hash-partitioned
  // at-rest layout (after save() or load()); cleared by any mutation.
  // Point lookups then go to disk with a PARTITION filter — file-listing
  // level pruning, 1/numBuckets of the files touched (the IvfIndex.scala
  // pattern applied to the main store).
  private var atRest: Option[(String, Int)] = None
  private def invalidateAtRest(): Unit = atRest = None

  /** Point lookup, dequantized (pythonvectordb.py:404-423). On a store
    * whose rows are known-identical to an at-rest save (fresh load(), or
    * save() with no mutation since), the lookup scans ONLY the one
    * id-hash partition holding the id (VectorStoreSpec asserts the
    * 1-partition scan); otherwise it filters the in-memory lineage. */
  def getVector(id: String): Option[Array[Double]] =
    lookupFrame(id).collect().headOption
      .map(r => VectorKernels.dequantize(r.getAs[Array[Byte]](0)))

  /** The point-lookup plan `getVector` executes — package-visible so the
    * spec can assert the 1-partition scan on the at-rest path. */
  private[graft] def lookupFrame(id: String): DataFrame = synchronized {
    atRest match {
      case Some((path, buckets)) =>
        spark.read.parquet(s"$path/data")
          .filter(col("id_bucket") === idBucket(lit(id), buckets) && col("id") === id)
          .select(col("qvec"))
      case None =>
        active.filter(col("id") === id).select(col("qvec"))
    }
  }

  /** Lazy delete via tombstone set (pythonvectordb.py:425-463, with the
    * intended exclusion semantics — SURVEY.md §2.2 T6 documents the
    * reference's misalignment bug which we do NOT replicate): one job finds
    * which of `ids` are live, and those join the tombstone set. Returns
    * that count. Auto-compacts at `DeletedThreshold` like the reference
    * (pythonvectordb.py:460-461). */
  def delete(ids: Seq[String]): Long = synchronized {
    val hits = active.filter(col("id").isInCollection(ids))
      .select("id").collect().map(_.getString(0))
    if (hits.nonEmpty) {
      tombs ++= hits
      invalidateAtRest()
      if (tombs.size >= DeletedThreshold) compact()
    }
    hits.length.toLong
  }

  /** Fold the delta into the base and drop the tombstoned rows from it
    * (pythonvectordb.py:465-510's threshold compaction): one rewrite job,
    * after which the tombstone set is empty. */
  def compact(): Unit = synchronized {
    if (deltaRows > 0 || tombs.nonEmpty) {
      base = materialize(active, baseParts)
      baseRows += deltaRows - tombs.size
      clearDelta()
      tombs = Set.empty
    }
  }

  /** Engine stats (pythonvectordb.py:512-555): counts, memory estimate
    * (payload + id + metadata bytes, the analog of the reference's
    * getsizeof walk at pythonvectordb.py:520-530 — here ONE distributed
    * aggregate, not a driver loop), and — when search history exists —
    * avg/p50/p95/p99 latency plus `qps` = 1000/avg_ms over the last 100
    * searches (pythonvectordb.py:542-553).
    *
    * COST: each call runs one full distributed aggregate over the active
    * rows (a Spark job) — poll accordingly; it is telemetry, not a free
    * counter read. Keys: `bytes_per_vector` keeps the reference's
    * semantics (int8 payload = `dimension` bytes/vector,
    * pythonvectordb.py:523); `avg_row_bytes` is the measured average
    * INCLUDING id + metadata overhead. */
  def stats: Map[String, Any] = {
    // consistent var snapshot under the monitor; the aggregate job runs
    // outside it (concurrent searches keep flowing)
    val (corpus, deletedNow) = synchronized((active, tombs.size.toLong))
    val m = corpus.agg(
      org.apache.spark.sql.functions.count(lit(1)).as("n"),
      coalesce(sum(octet_length(col("id")).cast(LongType)), lit(0L)).as("id_bytes"),
      coalesce(sum(aggregate(map_entries(col("meta")), lit(0L),
        (acc, e) => acc + octet_length(e("key")) +
          coalesce(octet_length(e("value")), lit(0)))), lit(0L)).as("meta_bytes"))
      .collect().head
    val n = m.getAs[Long]("n")
    val memBytes = n * dim + m.getAs[Long]("id_bytes") + m.getAs[Long]("meta_bytes")
    val base = Map[String, Any](
      "count" -> n,
      "dimension" -> dim,
      "deleted_pending" -> deletedNow,
      "memory_bytes" -> memBytes,
      "bytes_per_vector" -> dim.toDouble,
      "avg_row_bytes" -> (if (n == 0) dim.toDouble else memBytes.toDouble / n))
    val lats = synchronized {
      import scala.jdk.CollectionConverters._
      latencies.iterator().asScala.toArray
    }
    if (lats.isEmpty) base
    else {
      val sorted = lats.sorted
      // np.percentile linear interpolation (pythonvectordb.py:546-549):
      // pos = p*(n-1); lower + frac*(higher-lower)
      def pct(p: Double) = {
        val pos = p * (sorted.length - 1)
        val lo = pos.toInt
        if (lo + 1 >= sorted.length) sorted.last
        else sorted(lo) + (pos - lo) * (sorted(lo + 1) - sorted(lo))
      }
      val avg = lats.sum / lats.length
      base ++ Map[String, Any](
        "avg_search_ms" -> avg,
        "p50_search_ms" -> pct(0.50),
        "p95_search_ms" -> pct(0.95),
        "p99_search_ms" -> pct(0.99),
        // pythonvectordb.py:549: qps = 1000/avg_ms over the rolling window
        "qps" -> (if (avg > 0) 1000.0 / avg else 0.0))
    }
  }

  override def toString: String =
    s"VectorStore(dim=$dim, count=$count, deleted_pending=${synchronized(tombs.size)})" // pythonvectordb.py:652-659

  /** Export to the reference engine's OWN `.npz` format
    * (pythonvectordb.py:572-582: version, dimension, int8 vectors,
    * vector_ids, pickled id_to_index + metadata, counts) — the reverse
    * half of the migration story: a store built here loads back into
    * PythonVectorDB unchanged (tools/check_npz_export.py replicates its
    * load steps, pythonvectordb.py:600-630, against the emitted file).
    * Compacts first like the reference's save (:568-569). An `.npz` is a
    * single-node artifact, so the rows are collected at the driver by
    * design — guarded the same way toLocal is. */
  def exportNpz(path: String, maxLocalBytes: Long = QuantizedIndex.DefaultMaxLocalBytes): Unit = synchronized {
    if (tombs.nonEmpty) compact()
    val n = count
    require(n * (5L * dim + 64L) <= maxLocalBytes,
      s"exportNpz refused: ~${n * (5L * dim + 64L)} driver bytes at peak " +
        s"(> $maxLocalBytes); an .npz is a single-node artifact — for " +
        "cluster-sized corpora use save() (parquet).")
    val rows = active.select(col("id"), col("qvec"), col("meta")).collect()
    val ids = rows.map(_.getString(0))
    val data = new Array[Byte](rows.length * dim)
    rows.zipWithIndex.foreach { case (r, i) =>
      System.arraycopy(r.getAs[Array[Byte]](1), 0, data, i * dim, dim)
    }
    // reference semantics: metadata holds entries only for rows that HAVE
    // metadata (pythonvectordb.py:317-323)
    val meta = rows.collect {
      case r if r.getAs[Map[String, String]](2) != null &&
        r.getAs[Map[String, String]](2).nonEmpty =>
        r.getString(0) -> r.getAs[Map[String, String]](2).toSeq.sortBy(_._1)
    }.toSeq
    val bytes = Npz.writeZip(Seq(
      "version" -> Npz.stringScalarBytes("1.0.0"),
      "dimension" -> Npz.longScalarBytes(dim.toLong),
      "vectors" -> Npz.int8MatrixBytes(rows.length, dim, data),
      "vector_ids" -> Npz.stringArrayBytes(ids),
      "id_to_index" -> Npz.objectScalarBytes(
        Pickle.strIntDictArray(ids.zipWithIndex.toSeq)),
      "metadata" -> Npz.objectScalarBytes(Pickle.strMapDictArray(meta)),
      "vector_count" -> Npz.longScalarBytes(rows.length.toLong),
      "deleted_count" -> Npz.longScalarBytes(0L)))
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(bytes) finally out.close()
  }

  /** Persist (pythonvectordb.py:557-582): compacts first, parquet + sidecar.
    * The sidecar goes through the Hadoop FileSystem API so hdfs://, s3a://
    * and file:// paths all work (same FS as the parquet data).
    *
    * The data is written hive-partitioned by `id_bucket` =
    * pmod(xxhash64(id), numBuckets): point lookups and id-filtered reads
    * on the loaded store carry a PARTITION filter, so they prune to one
    * bucket's files at listing time instead of scanning every file — at
    * 100 TB that is the difference between a point lookup touching
    * 1/numBuckets of the store and touching all of it. Size numBuckets so
    * one bucket's files stay scan-sized at the target corpus (the
    * default 64 suits the test scale; a 100 TB store wants thousands). */
  def save(path: String, numBuckets: Int = VectorStore.DefaultSaveBuckets): Unit = synchronized {
    require(numBuckets > 0, s"numBuckets must be positive, got $numBuckets")
    if (tombs.nonEmpty) compact() // pythonvectordb.py:568-569
    // one task per bucket: without the repartition every task writes one
    // file into every bucket it meets (partitions x buckets files)
    active.withColumn("id_bucket", idBucket(col("id"), numBuckets))
      .repartition(col("id_bucket"))
      .write.mode(SaveMode.Overwrite).partitionBy("id_bucket").parquet(s"$path/data")
    val meta = s"""{"version":1,"dimension":$dim,"id_buckets":$numBuckets}"""
    val p = new org.apache.hadoop.fs.Path(path, "store.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(meta.getBytes("UTF-8")) finally out.close()
    atRest = Some((path, numBuckets))
  }

  /** Time travel, write side: persist this store as the NEXT immutable
    * version under `path` (`v0`, `v1`, ... — each a complete `save`
    * snapshot, data + sidecar). Returns the version just written. Old
    * versions are never touched, so any historical version loads with the
    * ordinary `load` path (and keeps its own id-bucket pruning) — the
    * checkpoint/rollback contract a production store needs before risky
    * reprocessing. Full snapshots are the honest trade at this layer:
    * O(store) write cost buys zero-replay reads; a 100 TB deployment
    * layering a table format would swap in manifest-based incremental
    * commits without changing this API. */
  def saveVersion(path: String, numBuckets: Int = VectorStore.DefaultSaveBuckets): Int = synchronized {
    val next = VectorStore.versions(spark, path).lastOption.map(_ + 1).getOrElse(0)
    save(s"$path/v$next", numBuckets)
    next
  }
}

object VectorStore {

  /** Reference DELETED_THRESHOLD (pythonvectordb.py:22). */
  val DeletedThreshold = 1000

  /** Default id-hash partition count for `save` — sized for the test
    * scale; a production store picks numBuckets so one bucket's files
    * stay scan-sized. */
  val DefaultSaveBuckets = 64

  /** The at-rest partition key: pmod(xxhash64(id), n). Deterministic from
    * the id alone, so a point lookup reconstructs its partition without
    * any index read. */
  def idBucket(id: Column, n: Int): Column =
    pmod(xxhash64(id), lit(n.toLong)).cast(IntegerType)

  val schema: StructType = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("embedding", ArrayType(FloatType), nullable = false),
    StructField("qvec", BinaryType, nullable = false),
    StructField("meta", MapType(StringType, StringType), nullable = true)))

  private def emptyFrame(spark: SparkSession): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** Coalesce to `parts` partitions and pin in executor memory: the frame
    * becomes one in-memory scan, whatever plan built it. */
  private def materialize(df: DataFrame, parts: Int): DataFrame =
    df.coalesce(parts).localCheckpoint(eager = true)

  /** T1: declare schema, start empty. */
  def create(spark: SparkSession, dim: Int): VectorStore = {
    require(dim > 0, s"dimension must be positive, got $dim") // pythonvectordb.py:158-162
    new VectorStore(spark, dim, emptyFrame(spark), 0L)
  }

  /** Time travel, read side: the committed versions under `path`, sorted.
    * A version is a `v<N>` directory holding a complete save snapshot;
    * anything else under `path` is ignored. */
  def versions(spark: SparkSession, path: String): Seq[Int] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.filter(_.isDirectory)
      .flatMap(s => "^v(\\d+)$".r.findFirstMatchIn(s.getPath.getName)
        .map(_.group(1).toInt))
      .sorted
  }

  /** Retention for the time-travel layer: drop every version snapshot
    * under `path` except the newest `keepLast` — the GC half of the
    * saveVersion checkpoint loop (without it, full snapshots accumulate
    * forever: O(store) bytes per checkpoint). Kept versions are untouched
    * (still complete `save` snapshots, still `loadVersion`-able); version
    * NUMBERS are never reused, because `saveVersion` allocates from the
    * last surviving number. Returns the dropped version numbers. */
  def vacuum(spark: SparkSession, path: String, keepLast: Int): Seq[Int] = {
    require(keepLast >= 1, s"vacuum must keep at least one version, got $keepLast")
    val vs = versions(spark, path)
    val drop = vs.dropRight(keepLast)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    drop.foreach { v =>
      require(fs.delete(new org.apache.hadoop.fs.Path(s"$path/v$v"), true),
        s"vacuum: could not drop version v$v")
    }
    drop
  }

  /** Load a specific version written by `saveVersion` (default -1 =
    * latest). Historical versions are immutable full snapshots, so this
    * is the plain `load` pointed at the version directory — same
    * invariant checks, same id-bucket lookup pruning. */
  def loadVersion(spark: SparkSession, path: String, version: Int = -1): VectorStore = {
    val vs = versions(spark, path)
    require(vs.nonEmpty, s"no versions under $path (expected v0, v1, ...)")
    val v =
      if (version < 0) vs.last
      else {
        require(vs.contains(version),
          s"version $version not found under $path (have ${vs.mkString(",")})")
        version
      }
    load(spark, s"$path/v$v")
  }

  /** T10: load with invariant assertions (pythonvectordb.py:599-630). */
  def load(spark: SparkSession, path: String): VectorStore = {
    val p = new org.apache.hadoop.fs.Path(path, "store.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p))
      throw new IllegalArgumentException(s"missing $path/store.json")
    val metaJson = {
      val in = fs.open(p)
      try new String(org.apache.commons.io.IOUtils.toByteArray(in), "UTF-8")
      finally in.close()
    }
    val dim = """"dimension":(\d+)""".r.findFirstMatchIn(metaJson)
      .map(_.group(1).toInt)
      .getOrElse(throw new IllegalArgumentException("no dimension in sidecar"))
    require(dim > 0, "dimension must be positive")
    // id_buckets present since the partitioned-at-rest layout; absent on
    // older flat saves (still loadable, just without lookup pruning)
    val buckets = """"id_buckets":(\d+)""".r.findFirstMatchIn(metaJson)
      .map(_.group(1).toInt)
    val raw = spark.read.parquet(s"$path/data")
    val df = if (raw.columns.contains("id_bucket")) raw.drop("id_bucket") else raw
    require(df.schema.fieldNames.sorted.sameElements(schema.fieldNames.sorted),
      s"schema mismatch: ${df.schema.fieldNames.mkString(",")}")
    // one scan for the row count and the dimension check
    val m = df.agg(count(lit(1)), count_if(size(col("embedding")) =!= dim)).head()
    val badDim = m.getLong(1)
    require(badDim == 0, s"$badDim rows violate dimension $dim")
    val st = new VectorStore(spark, dim, df, m.getLong(0))
    st.nextAutoId = m.getLong(0) // reference rebuilds vector_count on load
    if (raw.columns.contains("id_bucket"))
      st.atRest = buckets.map(path -> _)
    st
  }

  /** Import a reference-engine `.npz` save (pythonvectordb.py:557-582) —
    * the migration entry point for existing PythonVectorDB data, with the
    * same invariant checks as the reference's own load
    * (pythonvectordb.py:617-630).
    *
    * The stored int8 rows become `qvec` VERBATIM, so `search` scores are
    * bit-identical to what the reference computes on the same file (both
    * engines score the int8 payload against the float query). `embedding`
    * is the dequantized reconstruction (b/127, the reference's own
    * get_vector view, pythonvectordb.py:422-423) — the original floats are
    * not in the file. The pickled `metadata` entry IS read
    * (Pickle.dictFromObjectArray — the bounded protocol-2/3/4 subset
    * numpy writes for dict payloads) and lands in the `meta` column, so a
    * reference user's metadata-filtered searches keep working after
    * migration; non-string metadata values are coerced with python
    * `str()` semantics (Pickle.pyStr). `id_to_index` stays skipped — it
    * is positional and the reference itself rebuilds it from row order on
    * load (pythonvectordb.py:640).
    *
    * An `.npz` is a single compressed file — the reference is a single-
    * node engine — so the import necessarily reads it at the driver, then
    * parallelizes immediately; at 100 TB the data would already live in
    * parquet, and this path exists only to move small single-node stores
    * into it. */
  def importNpz(spark: SparkSession, path: String): VectorStore = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = {
      val in = fs.open(p)
      try org.apache.commons.io.IOUtils.toByteArray(in) finally in.close()
    }
    val entries = Npz.read(bytes)
    def entry(name: String): Npz.Npy =
      entries.getOrElse(name,
        throw new IllegalArgumentException(s"npz missing entry '$name' (not a reference save?)"))
    val dim = Npz.longScalar(entry("dimension")).toInt
    require(dim > 0, s"Invalid dimension: $dim") // pythonvectordb.py:617-618
    val count = Npz.longScalar(entry("vector_count")).toInt
    require(count >= 0, s"Invalid vector_count: $count") // :620-621
    val (rows, cols, data) = Npz.int8Matrix(entry("vectors"))
    require(rows == count, "Vector count mismatch") // :623-624
    require(cols == dim, "Vector dimension mismatch") // :626-627
    val ids = Npz.stringArray(entry("vector_ids"))
    require(ids.length == count, "Vector IDs count mismatch") // :629-630
    // metadata: {id -> {key -> value}} for rows that have any
    // (pythonvectordb.py:317-323); absent/empty pickles to an empty dict
    val metaById: Map[String, Map[String, String]] =
      entries.get("metadata").map { npy =>
        Pickle.dictFromObjectArray(npy.data).map {
          case (id, m: scala.collection.Map[Any @unchecked, Any @unchecked]) =>
            id -> m.map { case (k, v) => k.toString -> Pickle.pyStr(v) }.toMap
          case (id, other) => sys.error(
            s"npz metadata for '$id' is not a dict: $other")
        }
      }.getOrElse(Map.empty)
    val parts = math.max(1, math.min(count / 4096,
      spark.sparkContext.defaultParallelism))
    val localRows: Seq[Row] = (0 until count).map { i =>
      val q = java.util.Arrays.copyOfRange(data, i * dim, (i + 1) * dim)
      val emb = new Array[Float](dim)
      var j = 0
      while (j < dim) { emb(j) = q(j) / 127.0f; j += 1 }
      Row(ids(i), emb.toSeq, q, metaById.getOrElse(ids(i), Map.empty[String, String]))
    }
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(localRows, parts), schema)
      .localCheckpoint(true)
    val st = new VectorStore(spark, dim, df, count)
    st.nextAutoId = count
    st
  }
}
