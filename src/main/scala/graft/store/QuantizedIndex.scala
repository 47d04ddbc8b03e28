package graft.store

import graft.functions.{TopKBuffer, VectorKernels}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** One partition's worth of quantized vectors, packed contiguously —
  * the distributed analog of the reference's dense int8 matrix
  * (pythonvectordb.py:225): ids positional, data row-major n x dim.
  *
  * `data` is the canonical int8 payload (1 B/component on the wire and in
  * any cache serialization); `engine` is the per-JVM lazy one-unit flat
  * [[ServingEngine]] a task scans the block with, built once per cached
  * block over `ids` and `data` themselves (it adds only the rows' squared
  * norms, 8 B/row). */
final case class VectorBlock(ids: Array[Long], data: Array[Byte], dim: Int) {
  def n: Int = ids.length

  // one scan unit: a task's search runs on the task thread and never takes
  // the process-wide scan gang
  @transient private[store] lazy val engine: ServingEngine[Int8Query] = {
    val norms = Array.tabulate(n)(r => Int8Codec.normSq(data, r * dim, dim))
    ServingEngine.flat(ids, new Int8Codec(data, norms, dim), chunks = 1)
  }
}

/** In-memory serving index for batch kNN: corpus packed into per-partition
  * int8 blocks and persisted; a search is ONE job — each task asks its
  * block's engine for every query's top-k, and the driver merges parts x k
  * candidates per query (REPOSE's partition -> local index -> global
  * top-k merge).
  *
  * Scale: blocks partition horizontally (any number of executors); queries
  * broadcast (m x dim bytes); per-search traffic = parts x m x k triples.
  * Scores are bitwise identical to the declarative cosine_int8 path (exact
  * integer dots + the same double expression).
  */
final class QuantizedIndex private (
    val blocks: RDD[VectorBlock],
    val dim: Int) extends Serializable {

  def count: Long = blocks.map(_.n.toLong).sum().toLong

  /** Batch search: returns (qid -> top-k (vec_id, score) desc). */
  def search(queries: Array[(Long, Array[Byte])], k: Int): Map[Long, Seq[(Long, Double)]] = {
    val sc = blocks.sparkContext
    val qb = sc.broadcast(queries)
    val partial: Array[Array[TopKBuffer]] = blocks.map { blk =>
      val e = blk.engine
      qb.value.map(q => e.top(e.allUnits, new Int8Query(q._2), null, k, 0))
    }.collect()
    // Release executor-side broadcast blocks WITHOUT blocking: destroy()
    // waits on a driver RPC round-trip per call, which throttled the batch
    // serving loop ~3x (BENCH_r04 ref_batch_qps_50k 1162->338). Async
    // unpersist keeps the loop hot; the ContextCleaner reclaims the
    // driver-side block once the Broadcast object is GC'd.
    qb.unpersist(blocking = false)
    // driver merge: parts x k rows per query
    val merged = Array.fill(queries.length) { new TopKBuffer(k) }
    partial.foreach { bufs =>
      var qi = 0
      while (qi < bufs.length) { merged(qi).mergeFrom(bufs(qi)); qi += 1 }
    }
    queries.indices.map { qi =>
      val b = merged(qi)
      queries(qi)._1 -> (0 until b.size).map(j => (b.ids(j), b.scores(j)))
    }.toMap
  }

  def persist(): this.type = { blocks.persist(StorageLevel.MEMORY_ONLY); this }
  def unpersist(): this.type = { blocks.unpersist(); this }

  /** Estimated resident bytes: ids (8B) + int8 payload (dim B) per vector —
    * the same `count x dim` payload accounting the reference reports
    * (pythonvectordb.py:520). NOTE: computed with a Spark job over the
    * blocks (a count-style aggregate); when the blocks aren't persisted
    * this rescans the source. */
  def estimatedBytes: Long = blocks.map(b => b.n.toLong * (8L + dim)).sum().toLong

  /** Driver-local replica for the low-latency serving tier: collects the
    * packed blocks once (count x (dim+8) bytes) and serves searches fully
    * in-process — the faithful analog of the reference's single-node prange
    * kernel (pythonvectordb.py:25-67). Use for corpora that fit one node;
    * the distributed path handles the rest.
    *
    * Guarded: refuses corpora whose DRIVER-PEAK footprint exceeds
    * `maxLocalBytes` (default 4 GiB) so a caller cannot OOM the driver by
    * pointing this at a cluster-sized corpus — misuse fails fast with the
    * distributed `search` named as the alternative. The peak is the
    * MATERIALIZED replica, not the packed payload: while building, the
    * collected byte blocks (dim+8 B/vector) coexist with the engine's
    * packed layout — int8 codes (dim), ids (8) and squared norms (8) —
    * ~2x the payload estimate; the guard accounts for all of it.
    * Computing the estimate runs one Spark job over the blocks. */
  def toLocal: LocalIndex = toLocal(QuantizedIndex.DefaultMaxLocalBytes)

  def toLocal(maxLocalBytes: Long): LocalIndex = {
    val n = blocks.map(_.n.toLong).sum().toLong
    // peak during LocalIndex construction: the packed layout plus the
    // collected blocks (dim+8 per vector)
    val peak = n * (Packer.bytesPerRow(dim) + dim + 8L)
    require(peak <= maxLocalBytes,
      s"toLocal refused: materializing this corpus needs ~$peak bytes of " +
        s"driver heap at peak (> limit $maxLocalBytes). Use the " +
        "distributed QuantizedIndex.search, or raise the limit explicitly " +
        "via toLocal(maxLocalBytes).")
    new LocalIndex(blocks.collect(), dim)
  }
}

object QuantizedIndex {

  /** Default ceiling for toLocal's driver-side collect: 4 GiB of packed
    * payload — generous for a single-node serving replica, far below any
    * corpus that belongs on the distributed path. */
  val DefaultMaxLocalBytes: Long = 4L << 30

  /** Build from a DataFrame with (vec_id: long, embedding: array<float>):
    * quantize + pack per partition. */
  def build(df: DataFrame, dim: Int, numBlocks: Int): QuantizedIndex = {
    val rows = df
      .repartition(numBlocks)
      .select(col("vec_id").cast("long"), col("embedding"))
      .rdd
    val blocks = rows.mapPartitions { it =>
      val ids = scala.collection.mutable.ArrayBuffer.empty[Long]
      val chunks = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
      it.foreach { r =>
        ids += r.getLong(0)
        val emb = r.getSeq[Float](1).toArray
        chunks += VectorKernels.quantize(emb)
      }
      if (ids.isEmpty) Iterator.empty
      else {
        val data = new Array[Byte](ids.length * dim)
        var i = 0
        while (i < chunks.length) {
          System.arraycopy(chunks(i), 0, data, i * dim, dim); i += 1
        }
        Iterator.single(VectorBlock(ids.toArray, data, dim))
      }
    }
    new QuantizedIndex(blocks, dim)
  }
}
