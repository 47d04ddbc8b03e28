package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** Streaming EWMA on the Spark 4 state-v2 API with SETTLED-KEY emission —
  * the `transformWithState` twin of StreamEwma, exercising the remaining
  * corner of the state-v2 surface: `TimerValues`-driven late-row policy
  * (the operator reads the current watermark from the per-trigger
  * TimerValues instead of trusting upstream filtering) and a MOVING timer
  * over a fold (each arrival re-registers the settle timer, vs
  * StreamSessions' seal-once session timer).
  *
  * Semantics: per-customer exponential smoothing (alpha = 1/2, the exact
  * power-of-two fold of batch `ewmaPerKey`) folded forward in event-time
  * order; a key's snapshot (n, ewma, last order micros) is emitted ONLY
  * when the key SETTLES — the event-time watermark passes its last order
  * date + [[SettleMicros]], so under the watermark's disorder bound no
  * in-flight row can extend that fold any more. A key that resumes
  * ordering after settling keeps folding from its retained state and
  * settles again later (an append-mode changelog of settled snapshots —
  * the max-n row per key is its latest settled fold).
  *
  * Scale shape: state is O(customers) — one 3-scalar record + at most one
  * timer per key, RocksDB-backed; each trigger folds only its own rows.
  * Late rows (at or under the watermark) are DROPPED explicitly, matching
  * the built-in watermark aggregates' policy; in-order arrival per key
  * across triggers is the same contract StreamEwma asserts (out-of-order
  * repair would be the re-fold-from-snapshot pattern, out of scope).
  */
object StreamEwmaV2 {

  /** Settle horizon: a key emits once the watermark passes its last order
    * + 30 days (microseconds — exact integer event-time math). */
  final val SettleMicros: Long = 30L * 24 * 3600 * 1000000L

  final case class OrderIn(o_custkey: Long, o_orderkey: Long,
      ts_us: Long, o_totalprice: Double)
  final case class EwmaState(ewma: Double, n: Long, last_us: Long)
  final case class Settled(o_custkey: Long, n_orders: Long, ewma: Double,
      last_us: Long)

  class EwmaProcessor extends StatefulProcessor[Long, OrderIn, Settled] {
    @transient private var st: ValueState[EwmaState] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[EwmaState]("ewma",
        Encoders.product[EwmaState], TTLConfig.NONE)

    private def timerMsOf(s: EwmaState): Long =
      (s.last_us + SettleMicros + 999L) / 1000L

    override def handleInputRows(key: Long, rows: Iterator[OrderIn],
        timerValues: TimerValues): Iterator[Settled] = {
      // TimerValues IS the late-row policy: rows at or under the current
      // event-time watermark are dropped, exactly like the built-in
      // watermark aggregates (no upstream filter to trust).
      val wmUs = timerValues.getCurrentWatermarkInMs() * 1000L
      val live = rows.filter(_.ts_us > wmUs).toIndexedSeq
        .sortBy(r => (r.ts_us, r.o_orderkey))
      if (live.isEmpty) return Iterator.empty
      val st0 = if (st.exists()) Some(st.get()) else None
      val hadTimer = st0.map(timerMsOf)
      val folded = live.foldLeft(st0.getOrElse(EwmaState(0.0, 0L, 0L))) {
        (s, r) =>
          if (s.n == 0L) EwmaState(r.o_totalprice, 1L, r.ts_us)
          else EwmaState(s.ewma * 0.5 + r.o_totalprice * 0.5, s.n + 1L,
            math.max(s.last_us, r.ts_us))
      }
      st.update(folded)
      // move the settle timer to the extended fold's horizon
      val newTimer = timerMsOf(folded)
      if (!hadTimer.contains(newTimer)) {
        hadTimer.foreach(getHandle.deleteTimer)
        getHandle.registerTimer(newTimer)
      }
      Iterator.empty
    }

    override def handleExpiredTimer(key: Long, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[Settled] = {
      if (!st.exists()) return Iterator.empty
      val s = st.get()
      // a stale timer (fold since extended) must not emit a snapshot
      if (timerMsOf(s) != expiredTimerInfo.getExpiryTimeInMs) return Iterator.empty
      // emit but KEEP the state: a key that orders again continues the
      // fold (clearing would silently restart its history)
      Iterator.single(Settled(key, s.n, s.ewma, s.last_us))
    }
  }

  /** Watermarked order stream -> settled EWMA snapshots. */
  def settled(orders: DataFrame): Dataset[Settled] = {
    import orders.sparkSession.implicits._
    orders
      .withWatermark("o_orderdate", "1 day")
      .select(col("o_custkey"), col("o_orderkey"),
        unix_micros(col("o_orderdate")).as("ts_us"), col("o_totalprice"))
      .as[OrderIn]
      .groupByKey(_.o_custkey)
      .transformWithState(new EwmaProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Run the settle pipeline over the orders fixture split into two
    * micro-batches on the median order date (in-order across the split,
    * the StreamEwma contract), RocksDB state store (state-v2
    * requirement). Returns every settled snapshot emitted. */
  def runOnce(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    val orders = spark.read.schema(StreamEwma.rawSchema)
      .option("pathGlobFilter", "orders.parquet").parquet(dir)
    val cut = orders.agg(expr("percentile_approx(o_orderdate, 0.5)"))
      .collect().head.getTimestamp(0)
    Staged.withRocksDb(spark) {
      Staged.run(spark, queryName, "append",
        orders.filter(col("o_orderdate") <= lit(cut)),
        orders.filter(col("o_orderdate") > lit(cut)))(settled)
    }
  }
}
