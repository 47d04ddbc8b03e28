package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Streaming event transitions — the ingestion-side twin of the batch
  * q_transition_matrix: per-user keyed state holds ONLY the last event
  * type (one string per user), and each trigger emits the (from, to)
  * transition increments its new events produce. The matrix itself is a
  * downstream rollup of the emitted changelog — the standard
  * split between bounded per-key state and an unbounded mergeable
  * aggregate.
  *
  * Scale shape: state is O(users) x one string, independent of history
  * length; each trigger touches only its new rows; emitted volume is
  * exactly one row per consumed event after the first per user.
  * In-order contract as StreamEwma: rows sort by (ts, event_id) within a
  * trigger, and micro-batches split on an event-time boundary —
  * out-of-order repair is watermark territory, deliberately out of the
  * twin's scope.
  */
object StreamTransitions {

  final case class EvRow(user_id: Long, event_id: Long,
      ts: java.sql.Timestamp, event_type: String)
  final case class TransRow(user_id: Long, from_type: String, to_type: String)

  /** Per-user transition emission: state carries the last event type
    * across triggers so a user's cross-batch transition is not lost. */
  def transitions(events: DataFrame): Dataset[TransRow] = {
    import events.sparkSession.implicits._
    EventsStream.normalize(events)
      .select(col("user_id"), col("event_id"), col("ts"), col("event_type"))
      .as[EvRow]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (key: Long, it: Iterator[EvRow], state: GroupState[String]) =>
          val sorted = it.toIndexedSeq.sortBy(r => (r.ts.getTime, r.event_id))
          var last = state.getOption.orNull
          val out = Vector.newBuilder[TransRow]
          sorted.foreach { r =>
            if (last != null) out += TransRow(key, last, r.event_type)
            last = r.event_type
          }
          if (last != null) state.update(last)
          out.result().iterator
      }
  }

  /** The batch twin's matrix from the emitted changelog. */
  def matrix(trans: DataFrame): DataFrame =
    trans.groupBy(col("from_type"), col("to_type"))
      .agg(count(lit(1)).as("n"))

  /** Test/demo driver: two micro-batches split on the median event time
    * (cross-batch transitions must survive via state). The events are
    * normalized BEFORE splitting so the micro-batch files carry plain
    * TimestampType regardless of the fixture's physical representation,
    * and transitions()'s normalize is a no-op on the stream. */
  def runOnce(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    val raw = EventsStream.normalize(
      spark.read.parquet(s"$dir/events.parquet"))
    val cut = raw.agg(expr("percentile_approx(unix_micros(ts), 0.5)"))
      .collect().head.getLong(0)
    Staged.run(spark, queryName, "append",
      raw.filter(unix_micros(col("ts")) <= cut),
      raw.filter(unix_micros(col("ts")) > cut))(transitions)
  }
}
