package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** Streaming heavy hitters — the ingestion-side twin of the batch
  * q_heavy_hitters (count-min sketch): a SPACE-SAVING (Misra-Gries
  * family) summary per token shard, maintained in keyed state. Where
  * the CMS answers point queries over an unbounded key domain, the
  * space-saving sketch maintains the candidate top set itself — the
  * thing a streaming "trending tokens" consumer actually reads.
  *
  * Scale shape: tokens shard by hash (`pmod(xxhash64(tok), shards)`),
  * so (a) a token's counts live in exactly ONE shard's state (per-token
  * counts are exact until its slot is evicted), (b) state is bounded at
  * shards x m entries TOTAL regardless of vocabulary size — the knob a
  * 100 TB deployment turns is shards (parallelism) x m (accuracy), not
  * memory-per-vocab, and (c) shard summaries merge at read time (the
  * standard mergeable-summary contract).
  *
  * Space-saving guarantees (per shard, n items seen, capacity m),
  * asserted against exact batch counts in StreamingSpec:
  *  - every sketched count OVERestimates: true <= cnt, and
  *    cnt - err <= true (err = the evicted predecessor's count);
  *  - any token with true count > n/m is IN the sketch;
  *  - with m >= the shard's distinct tokens nothing evicts: err = 0 and
  *    counts equal the batch groupBy EXACTLY, across any micro-batch
  *    split (state carries counts between triggers).
  *
  * Each trigger re-emits the shard's current summary stamped with
  * `n_seen` (items processed so far) in Update mode; readers take the
  * max-`n_seen` snapshot per shard — the same convention a compacted
  * changelog topic gives downstream consumers.
  *
  * State layout: state-v2 `transformWithState`, RocksDB-backed. Each
  * token's (count, error) slot is its own MAPSTATE entry and `n` a
  * ValueState, so the WRITES of a trigger are point writes for the
  * tokens that arrived (plus one removal per eviction) instead of
  * rewriting the shard's whole summary as one state value. The READS are
  * not point-only: every trigger scans all of the shard's slots twice —
  * once to count them (MapState has no O(1) size) and once to re-emit
  * the summary in Update mode — and each eviction scans them once more
  * for the (count, token) minimum. All three scans are bounded by m.
  * TimeMode.None — no timers, no TTL — so the query quiesces normally
  * under processAllAvailable.
  */
object StreamHeavyHitters {

  final case class TokRow(shard: Int, tok: String)
  final case class Slot(cnt: Long, err: Long)
  final case class HHRow(shard: Int, tok: String, cnt: Long, err: Long,
      n_seen: Long)

  /** Narrow tokenization (append-mode safe: no aggregation), mirroring
    * the batch q_heavy_hitters token stream. */
  def tokens(docs: DataFrame, numShards: Int): Dataset[TokRow] = {
    import docs.sparkSession.implicits._
    docs.select(explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .select(pmod(xxhash64(col("tok")), lit(numShards)).cast("int")
        .as("shard"), col("tok"))
      .as[TokRow]
  }

  /** The per-shard space-saving update. Eviction picks the (count, token)
    * minimum — the lexicographic tie-break keeps eviction deterministic
    * for a given arrival order. */
  class MGMapProcessor(m: Int) extends StatefulProcessor[Int, TokRow, HHRow] {
    @transient private var slots: MapState[String, Slot] = _
    @transient private var seen: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      slots = getHandle.getMapState[String, Slot]("slots",
        Encoders.STRING, Encoders.product[Slot], TTLConfig.NONE)
      seen = getHandle.getValueState[Long]("n",
        Encoders.scalaLong, TTLConfig.NONE)
    }

    override def handleInputRows(key: Int, rows: Iterator[TokRow],
        timerValues: TimerValues): Iterator[HHRow] = {
      // size is tracked locally per trigger (MapState has no O(1) size);
      // the map is bounded at m so the initial count scan is bounded too
      var size = 0
      val it0 = slots.iterator()
      while (it0.hasNext) { it0.next(); size += 1 }
      var n = if (seen.exists()) seen.get() else 0L
      rows.foreach { r =>
        n += 1
        if (slots.containsKey(r.tok)) {
          val s = slots.getValue(r.tok)
          slots.updateValue(r.tok, Slot(s.cnt + 1, s.err))
        } else if (size < m) {
          slots.updateValue(r.tok, Slot(1L, 0L))
          size += 1
        } else {
          // eviction: O(m) scan for the (count, token) minimum
          var evTok: String = null
          var evCnt = Long.MaxValue
          val it = slots.iterator()
          while (it.hasNext) {
            val e = it.next()
            if (e._2.cnt < evCnt ||
                (e._2.cnt == evCnt && e._1 < evTok)) {
              evTok = e._1; evCnt = e._2.cnt
            }
          }
          slots.removeKey(evTok)
          slots.updateValue(r.tok, Slot(evCnt + 1, evCnt))
        }
      }
      seen.update(n)
      val out = scala.collection.mutable.ArrayBuffer.empty[HHRow]
      val it2 = slots.iterator()
      while (it2.hasNext) {
        val e = it2.next()
        out += HHRow(key, e._1, e._2.cnt, e._2.err, n)
      }
      out.iterator
    }
  }

  /** The space-saving sketch over a (possibly streaming) document frame;
    * needs the RocksDB state store (`Staged.withRocksDb`). */
  def sketch(docs: DataFrame, numShards: Int = 8, m: Int = 64): Dataset[HHRow] = {
    import docs.sparkSession.implicits._
    tokens(docs, numShards)
      .groupByKey(_.shard)
      .transformWithState(new MGMapProcessor(m),
        TimeMode.None(), OutputMode.Update())
  }

  /** Test/demo driver: ingests the corpus in TWO micro-batches (even
    * doc_ids then odd) so the equivalence checks exercise state
    * carry-over between triggers, RocksDB-backed; returns the raw
    * Update-mode output (readers take the max-n_seen snapshot per shard). */
  def runOnce(spark: SparkSession, dir: String, queryName: String,
      numShards: Int = 8, m: Int = 64): DataFrame = {
    val docs = spark.read.schema(StreamDedup.rawSchema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    Staged.withRocksDb(spark) {
      Staged.run(spark, queryName, "update",
        docs.filter(col("doc_id") % 2 === 0),
        docs.filter(col("doc_id") % 2 === 1))(sketch(_, numShards, m))
    }
  }
}
