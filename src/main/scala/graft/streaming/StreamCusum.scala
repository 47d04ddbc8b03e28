package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

/** Streaming CUSUM — the monitoring-side twin of the batch q_changepoint:
  * a per-key (event type) two-sided CUSUM folded forward in keyed state as
  * events arrive, with alert-crossing counts, instead of re-scanning the
  * series per evaluation. This is what a production drift monitor actually
  * deploys: the reference level mu0 is FROZEN from history at arm time
  * (here: the batch mean over the fixture, passed in as a per-key map —
  * the same frozen-parameter contract as the IVF tiers' centroids), and
  * the detector runs forward-only.
  *
  * Exactness contract (asserted in StreamingSpec): the whole state is
  * INTEGER (cents deviations, running cumsum and extremes, crossing
  * count), so the streamed fold is exactly — not approximately — equal to
  * the batch recursion s_t = max(0, s_{t-1} +- d_t) over the same ordered
  * history, across any micro-batch split. In-order contract as StreamEwma:
  * rows sort by (ts, event_id) within a trigger, micro-batches split on an
  * event-time boundary.
  *
  * Scale shape: state is O(keys) x five longs, independent of history
  * length; each trigger folds only its new rows. Alerts are counted on
  * UPWARD crossings of the decision interval h (re-arming when the
  * statistic falls back under), the standard alarm discipline.
  */
object StreamCusum {

  final case class Ev(event_type: String, event_id: Long,
      ts: java.sql.Timestamp, cents: Long)
  final case class CusumState(cum: Long, rmin: Long, rmax: Long,
      upArmed: Boolean, dnArmed: Boolean, nAlerts: Long, n: Long)
  final case class CusumRow(event_type: String, n_events: Long,
      cusum_up: Long, cusum_dn: Long, n_alerts: Long)

  /** One fold step over an ordered row; pure so the spec can replay it. */
  def step(st: CusumState, dev: Long, h: Long): CusumState = {
    val cum = st.cum + dev
    val rmin = math.min(st.rmin, cum)
    val rmax = math.max(st.rmax, cum)
    val up = cum - math.min(0L, rmin)
    val dn = math.max(0L, rmax) - cum
    var alerts = st.nAlerts
    var upArmed = st.upArmed
    var dnArmed = st.dnArmed
    if (up > h) { if (upArmed) { alerts += 1; upArmed = false } }
    else upArmed = true
    if (dn > h) { if (dnArmed) { alerts += 1; dnArmed = false } }
    else dnArmed = true
    CusumState(cum, rmin, rmax, upArmed, dnArmed, alerts, st.n + 1)
  }

  private def emptyState: CusumState =
    CusumState(0L, Long.MaxValue, Long.MinValue, upArmed = true,
      dnArmed = true, 0L, 0L)

  /** Per-type CUSUM over cents deviations from the FROZEN per-key
    * reference mean `mu0`; `h` is the per-key decision interval.
    *
    * Only ARMED keys (present in both `mu0` and `h`) are monitored:
    * unknown event types are filtered out before the stateful fold, so a
    * new key appearing mid-stream is ignored (until the next arm-time)
    * instead of crashing the whole monitor with a NoSuchElementException
    * inside mapGroupsWithState. */
  def cusum(events: DataFrame, mu0: Map[String, Long],
      h: Map[String, Long]): Dataset[CusumRow] = {
    import events.sparkSession.implicits._
    val armed = (mu0.keySet intersect h.keySet).toSeq.sorted
    require(armed.nonEmpty, "StreamCusum: no armed keys (mu0/h empty or disjoint)")
    EventsStream.normalize(events)
      .filter(col("event_type").isin(armed: _*))
      .select(col("event_type"), col("event_id"), col("ts"),
        floor(col("value") * lit(100.0)).cast("long").as("cents"))
      .as[Ev]
      .groupByKey(_.event_type)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (key: String, it: Iterator[Ev], state: GroupState[CusumState]) =>
          val sorted = it.toIndexedSeq.sortBy(r => (r.ts.getTime, r.event_id))
          val m = mu0(key)
          val hh = h(key)
          val folded = sorted.foldLeft(state.getOption.getOrElse(emptyState)) {
            (st, r) => step(st, r.cents - m, hh)
          }
          state.update(folded)
          CusumRow(key, folded.n,
            folded.cum - math.min(0L, folded.rmin),
            math.max(0L, folded.rmax) - folded.cum, folded.nAlerts)
      }
  }

  /** Frozen per-key reference means from the batch history (floored
    * integer division, the q_changepoint rule) — the arm-time pre-pass. */
  def referenceMeans(events: DataFrame): Map[String, Long] = {
    EventsStream.normalize(events)
      .select(col("event_type"),
        floor(col("value") * lit(100.0)).cast("long").as("cents"))
      .groupBy(col("event_type"))
      .agg(sum(col("cents")).as("sc"), count(lit(1)).as("n"))
      .collect() // event-type-sized (5 rows)
      .map(r => r.getString(0) -> r.getLong(1) / r.getLong(2)).toMap
  }

  /** Test/demo driver: two micro-batches split on the median event time. */
  def runOnce(spark: SparkSession, dir: String, queryName: String,
      mu0: Map[String, Long], h: Map[String, Long]): DataFrame = {
    val raw = EventsStream.normalize(
      spark.read.parquet(s"$dir/events.parquet"))
    val cut = raw.agg(expr("percentile_approx(unix_micros(ts), 0.5)"))
      .collect().head.getLong(0)
    Staged.run(spark, queryName, "update",
      raw.filter(unix_micros(col("ts")) <= cut),
      raw.filter(unix_micros(col("ts")) > cut))(cusum(_, mu0, h))
  }
}
