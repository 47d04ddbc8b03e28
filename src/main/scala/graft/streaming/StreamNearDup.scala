package graft.streaming

import graft.ops.TextQueries
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** Streaming near-duplicate candidate detection — the ingestion-side twin
  * of TextQueries.minhashPairs: every arriving document lands in its 4
  * LSH band buckets, each bucket's membership is keyed state, and a new
  * member emits a candidate pair against every earlier member of the same
  * bucket. The emitted DISTINCT pair set equals the batch pipeline's
  * output on the same corpus (StreamingSpec batch-equivalence).
  *
  * Two shapes matter at scale:
  *  - the minhash signature is computed NARROW (one md5 per distinct
  *    shingle inside a higher-order fold, no groupBy) — mandatory here,
  *    since a streaming aggregation would not run in append mode, and a
  *    better shape than a shuffle even in batch;
  *  - state shards by (band, bucket-signature), the same key the batch
  *    job joins on, so the bucket index partitions horizontally. A
  *    degenerate hot bucket accumulates O(members) state and output —
  *    the same quadratic failure the batch join has — so production
  *    deployments cap bucket membership / widen bands, and the cap is a
  *    parameter here.
  *
  * State layout: each bucket's membership is a state-v2 LISTSTATE member
  * log (`transformWithState`, RocksDB-backed). A bucket's membership is
  * append-only — a new member never mutates earlier entries — so
  * `ListState.appendValue` makes each admission a POINT APPEND: earlier
  * members are never re-serialized, where one Seq-valued state would be
  * rewritten whole on every trigger that touches the bucket. Reads still
  * scan the list (needed anyway to emit pairs against every earlier
  * member). TimeMode.None — no timers, no TTL — so the query quiesces
  * normally.
  */
object StreamNearDup {

  final case class BandRow(band: Int, key: String, doc_id: Long)
  final case class CandPair(doc_a: Long, doc_b: Long)

  /** (doc_id, b0..b3) via narrow HOFs — identical values to the batch
    * signature (one md5 per distinct shingle; minhash permutation j is
    * (h1*(2j+1) + h2*(13+j)) mod 2147483647, TextQueries.minhashPairs). */
  def bandCols(docs: DataFrame): DataFrame = {
    val t = split(col("text"), " ")
    // hash-pair array aliased ONCE so CollapseProject keeps the md5 fold
    // un-inlined (one digest per shingle, not one per permutation)
    val hs = transform(TextQueries.shingleArray(t), sh => {
      val h = md5(sh)
      struct(
        conv(substring(h, 1, 8), 16, 10).cast("long").as("h1"),
        conv(substring(h, 9, 8), 16, 10).cast("long").as("h2"))
    })
    def m(j: Int): Column = array_min(transform(col("hs"),
      h => (h("h1") * (2 * j + 1) + h("h2") * (13 + j)) % 2147483647L))
    docs
      .filter(size(t) >= 3) // under 3 tokens -> no shingles (batch parity)
      .select(col("doc_id"), hs.as("hs"))
      .select(col("doc_id"),
        concat_ws("|", m(0), m(1)).as("b0"),
        concat_ws("|", m(2), m(3)).as("b1"),
        concat_ws("|", m(4), m(5)).as("b2"),
        concat_ws("|", m(6), m(7)).as("b3"))
  }

  class BucketProcessor(maxBucket: Int)
      extends StatefulProcessor[(Int, String), BandRow, CandPair] {
    @transient private var members: ListState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      members = getHandle.getListState[Long]("members",
        Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: (Int, String), rows: Iterator[BandRow],
        timerValues: TimerValues): Iterator[CandPair] = {
      var cur = members.get().toSeq
      val out = Seq.newBuilder[CandPair]
      // deterministic intra-batch order; replays stay idempotent
      rows.map(_.doc_id).toSeq.distinct.sorted.foreach { d =>
        if (!cur.contains(d) && cur.size < maxBucket) {
          cur.foreach(o => out += CandPair(math.min(o, d), math.max(o, d)))
          members.appendValue(d) // point append — earlier members untouched
          cur = cur :+ d
        }
      }
      out.result().iterator
    }
  }

  /** Candidate pairs from a (possibly streaming) document frame; needs
    * the RocksDB state store (`Staged.withRocksDb`). `maxBucket` caps
    * per-bucket membership: a bucket past the cap stops emitting (and
    * logs nothing — the batch job is the backstop), the standard guard
    * against degenerate buckets flooding state. */
  def candidates(docs: DataFrame, maxBucket: Int = 1024): Dataset[CandPair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    bandCols(docs)
      .select(col("doc_id"),
        posexplode(array(col("b0"), col("b1"), col("b2"), col("b3")))
          .as(Seq("band", "key")))
      .as[BandRow]
      .groupByKey(r => (r.band, r.key))
      .transformWithState(new BucketProcessor(maxBucket),
        TimeMode.None(), OutputMode.Append())
  }

  /** Drive the detector over the documents fixture in two micro-batches
    * (doc_id < 250, then the rest), RocksDB-backed; returns the emitted
    * candidate pairs. */
  def runOnce(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    val docs = spark.read.schema(StreamDedup.rawSchema)
      .option("pathGlobFilter", "documents.parquet").parquet(dir)
    Staged.withRocksDb(spark) {
      Staged.run(spark, queryName, "append",
        docs.filter(col("doc_id") < 250),
        docs.filter(col("doc_id") >= 250))(candidates(_))
    }
  }
}
