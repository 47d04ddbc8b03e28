package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** Streaming sessionization on the Spark 4 state-v2 API
  * (`transformWithState` + `StatefulProcessor`): the ingestion-side twin
  * of the batch q_session_window (RelationalQueries) with EXPLICIT
  * event-time timers — the operator emits each user session exactly once,
  * when the watermark seals it (no event can extend it any more), instead
  * of re-scanning history per query.
  *
  * Semantics match `session_window(ts, 30 minutes)` bit-for-bit: a
  * session extends while the gap to the next event is < 30 min; its end
  * is last-event + 30 min (exclusive). Within a trigger, rows fold in
  * (ts, event order); a session closed by a later event in the same or a
  * later trigger emits inline from `handleInputRows`; a session closed by
  * TIME emits from `handleExpiredTimer` when the watermark passes
  * last + gap.
  *
  * Scale shape: state is ONE fixed-size record (start, last, n) + one
  * timer per active user — O(active users), independent of history
  * length, RocksDB-backed (the state-v2 requirement) so state spills off
  * heap. The only shuffle is the groupByKey exchange each micro-batch.
  *
  * Disorder contract (same as every twin here): arrivals may be
  * arbitrarily unordered WITHIN a trigger (sorted before folding) and
  * watermark-bounded across triggers; rows older than the watermark are
  * dropped by the operator, exactly like the built-in session_window
  * aggregation's late-data policy.
  */
object StreamSessions {

  /** 30 minutes, in microseconds (exact integer gap math). */
  final val GapMicros: Long = 30L * 60 * 1000000

  final case class EventRow(user_id: Long, ts_us: Long)
  final case class SessState(start: Long, last: Long, n: Long)
  final case class SessionOut(user_id: Long, s_start: Long, s_end: Long, n: Long)

  /** One open session per user; an event-time timer at last + gap
    * (ceil-ms — timers are millisecond-resolution) seals it. */
  class SessionProcessor extends StatefulProcessor[Long, EventRow, SessionOut] {
    @transient private var st: ValueState[SessState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[SessState]("session",
        Encoders.product[SessState], TTLConfig.NONE)

    private def timerMsOf(s: SessState): Long =
      (s.last + GapMicros + 999L) / 1000L

    override def handleInputRows(key: Long, rows: Iterator[EventRow],
        timerValues: TimerValues): Iterator[SessionOut] = {
      val sorted = rows.toIndexedSeq.sortBy(_.ts_us)
      if (sorted.isEmpty) return Iterator.empty
      val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
      var cur: Option[SessState] = if (st.exists()) Some(st.get()) else None
      val hadTimer = cur.map(timerMsOf)
      sorted.foreach { r =>
        cur match {
          case None =>
            cur = Some(SessState(r.ts_us, r.ts_us, 1L))
          case Some(s) if r.ts_us - s.last >= GapMicros =>
            out += SessionOut(key, s.start, s.last + GapMicros, s.n)
            cur = Some(SessState(r.ts_us, r.ts_us, 1L))
          case Some(s) =>
            cur = Some(SessState(s.start, math.max(s.last, r.ts_us), s.n + 1L))
        }
      }
      val s = cur.get
      st.update(s)
      // move the seal timer to the (possibly extended) session end
      val newTimer = timerMsOf(s)
      if (!hadTimer.contains(newTimer)) {
        hadTimer.foreach(getHandle.deleteTimer)
        getHandle.registerTimer(newTimer)
      }
      out.iterator
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[SessionOut] = {
      if (!st.exists()) return Iterator.empty
      val s = st.get()
      // a stale timer (session since extended) must not seal the session
      if (timerMsOf(s) != expiredTimerInfo.getExpiryTimeInMs) return Iterator.empty
      st.clear()
      Iterator.single(SessionOut(key, s.start, s.last + GapMicros, s.n))
    }
  }

  /** The shared transform: watermarked events -> sealed sessions. */
  def sessions(events: DataFrame): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    EventsStream.normalize(events)
      .withWatermark("ts", "30 minutes")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[EventRow]
      .groupByKey(_.user_id)
      .transformWithState(new SessionProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** All batch sessions (user_id, start/end micros, n) via the built-in
    * session_window — the ground truth the stream twin is checked
    * against. */
  def batchSessions(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.events(spark, dir)
      .groupBy(session_window(col("ts"), "30 minutes").as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), unix_micros(col("sw.start")).as("s_start"),
        unix_micros(col("sw.end")).as("s_end"), col("n"))

  /** Run the sessionizer over the events fixture split into two
    * micro-batches on the median event time, RocksDB state store (the
    * state-v2 requirement). Returns the sealed sessions the stream
    * emitted. */
  def runOnce(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    val raw = EventsStream.normalize(
      spark.read.parquet(s"$dir/events.parquet"))
    val cut = raw.agg(expr("percentile_approx(unix_micros(ts), 0.5)"))
      .collect().head.getLong(0)
    Staged.withRocksDb(spark) {
      Staged.run(spark, queryName, "append",
        raw.filter(unix_micros(col("ts")) <= cut),
        raw.filter(unix_micros(col("ts")) > cut))(sessions)
    }
  }
}
