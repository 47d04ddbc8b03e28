package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** CHAINED multi-stateful-operator pipeline on the Spark 4 state-v2 API:
  * exact dedup of retransmitted events -> watermark-sealed sessionization,
  * as TWO `transformWithState` operators in ONE streaming query — the
  * at-least-once ingestion front door (dedup) feeding the event-time
  * session ledger, without landing the intermediate.
  *
  * The Spark-4 caveats this demonstrates (each load-bearing, each pinned
  * by StreamingSpec):
  *
  *  1. **Watermark hand-off needs the `eventTimeColumnName` overload.**
  *     A stateful operator's output has no event-time column unless the
  *     processor DECLARES one — stage 1 runs
  *     `transformWithState(processor, "ts", Append)` so its emitted `ts`
  *     is re-marked as event time and stage 2 (event-time timers) can
  *     plan at all. With the plain TimeMode overload, planning the second
  *     stateful operator fails for want of a watermark.
  *  2. **Output rows must respect the inherited watermark.** The re-marked
  *     column is validated: stage 1 may only emit event times that are
  *     not late against its own watermark — satisfied here trivially
  *     because dedup passes each first sighting through unmodified.
  *  3. **Watermark propagation across chained stateful operators is
  *     DELAYED by one micro-batch** (the downstream operator evaluates
  *     against the PREVIOUS batch's upstream watermark — Spark's
  *     correctness rule for multiple stateful operators). A session whose
  *     seal timer lands between the delayed and current watermark emits
  *     one micro-batch later than it would unchained; on a finite stream
  *     the final emitted set is identical (the spec's equality check).
  *  4. **Both operators shard state independently** — dedup state by
  *     content hash, session state by user — so the chain costs exactly
  *     two keyed exchanges per micro-batch, same as running the stages as
  *     separate queries, minus the intermediate sink.
  *
  * Scale shape: dedup state is one boolean per distinct event hash (TTL
  * would bound it in production — StreamDedupTtl's contract; kept
  * unbounded here so the batch twin is an exact dropDuplicates), session
  * state is one fixed-size record + timer per active user. RocksDB-backed
  * (state-v2 requirement), both stores off-heap.
  */
object StreamPipeline {

  final case class EvIn(k: String, user_id: Long, ts: java.sql.Timestamp)
  final case class EvDeduped(user_id: Long, ts: java.sql.Timestamp)

  /** Stage 1: first sighting of an event identity passes through WITH its
    * event time; retransmits drop. Identity = md5(user, ts, type) — the
    * full logical event key of the fixture. */
  class EventDedupProcessor
      extends StatefulProcessor[String, EvIn, EvDeduped] {
    @transient private var seen: ValueState[Boolean] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      seen = getHandle.getValueState[Boolean]("seen", Encoders.scalaBoolean,
        TTLConfig.NONE)

    override def handleInputRows(key: String, rows: Iterator[EvIn],
        timerValues: TimerValues): Iterator[EvDeduped] = {
      if (seen.exists()) Iterator.empty
      else {
        seen.update(true)
        val r = rows.next() // same key => identical (user_id, ts); emit one
        Iterator.single(EvDeduped(r.user_id, r.ts))
      }
    }
  }

  /** The chained transform: watermarked raw events -> dedup (stage 1,
    * event time re-declared on the output) -> sessionize (stage 2,
    * event-time timers) — one streaming query, two state stores. */
  def dedupSessionize(events: DataFrame): Dataset[StreamSessions.SessionOut] = {
    import events.sparkSession.implicits._
    EventsStream.normalize(events)
      .withWatermark("ts", "30 minutes")
      .select(
        md5(concat_ws(":", col("user_id"), unix_micros(col("ts")),
          col("event_type"))).as("k"),
        col("user_id"), col("ts"))
      .as[EvIn]
      .groupByKey(_.k)
      // caveat 1: the String overload re-marks `ts` as the output's
      // event-time column so the downstream stateful operator can plan
      .transformWithState(new EventDedupProcessor, "ts", OutputMode.Append())
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[StreamSessions.EventRow]
      .groupByKey(_.user_id)
      .transformWithState(new StreamSessions.SessionProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Batch twin: dropDuplicates on the same event identity, then the
    * built-in session_window — the ground truth for the chained stream. */
  def batchDedupSessions(spark: SparkSession, dir: String): DataFrame = {
    val deduped = graft.Tables.events(spark, dir)
      .dropDuplicates("user_id", "ts", "event_type")
    deduped
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), unix_micros(col("sw.start")).as("s_start"),
        unix_micros(col("sw.end")).as("s_end"), col("n"))
  }

  /** Run the chained pipeline over the events fixture WITH INJECTED
    * RETRANSMITS (every third event duplicated — the at-least-once
    * failure mode stage 1 exists for), split into two ordered
    * micro-batches; RocksDB state store. Returns the sealed sessions. */
  def runOnce(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    val raw = EventsStream.normalize(
      spark.read.parquet(s"$dir/events.parquet"))
    val withRetrans = raw.unionAll(raw.filter(col("event_id") % 3 === 0))
    val cut = raw.agg(expr("percentile_approx(unix_micros(ts), 0.5)"))
      .collect().head.getLong(0)
    Staged.withRocksDb(spark) {
      Staged.run(spark, queryName, "append",
        withRetrans.filter(unix_micros(col("ts")) <= cut),
        withRetrans.filter(unix_micros(col("ts")) > cut))(dedupSessionize)
    }
  }
}
