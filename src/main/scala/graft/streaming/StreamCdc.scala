package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}

import scala.math.Ordering.Implicits._

/** Streaming CDC snapshot maintenance (tier 26) — the batch q_cdc_compact
  * kept incrementally current as changelog rows arrive: what a
  * merge-on-read lake format's continuous compaction does, restated as a
  * keyed-state stream over the events changelog (signup = insert, error =
  * delete tombstone, other events = upserts, ordered per key by
  * (ts, event_id) — the batch query's tie-break).
  *
  * The design point this tier exists to demonstrate: the compaction state
  * is a COMMUTATIVE MONOID. "Final state = last upsert after the last
  * tombstone" depends only on max_(ts,id)(upserts), max_(ts,id)(tombstones)
  * and the op count — three max/count folds, every one order-insensitive.
  * So unlike every other twin in this package, StreamCdc needs NO
  * watermark, NO within-trigger sort and NO event-time split discipline:
  * rows may arrive in ANY order across ANY trigger boundary and the
  * snapshot is still exact. StreamingSpec exploits that — its two triggers
  * split the changelog by event_id PARITY (event time fully interleaved
  * across the split), the adversarial case the event-time twins must
  * avoid, and equality with batch still holds bitwise.
  *
  * State per key: two (ts, event_id) extremes + the winning upsert's
  * value + n_ops + an emission version — fixed-size, O(live keys)
  * regardless of changelog length. Emission: one snapshot row per touched
  * key per trigger (Update mode), `ver` incrementing per emission;
  * readers take the max-ver row per key. `alive=false` marks a key whose
  * log currently ends in a tombstone (the batch query drops these rows;
  * a downstream sink uses it as the delete marker).
  *
  * 100 TB shape: the only exchange per micro-batch is the groupByKey
  * shuffle of the arriving delta (never the accumulated log); state is
  * one fixed record per live key in the state store. Replaying history
  * through this operator IS the batch query — proven, not asserted.
  */
object StreamCdc {

  final case class CdcRow(user_id: Long, ts_us: Long, event_id: Long,
      value: Double, op: String)

  /** hasU/hasD gate the extremes (a key may have seen only tombstones or
    * only upserts); ver counts emissions for the max-ver read discipline. */
  final case class CdcState(hasU: Boolean, uTs: Long, uId: Long,
      uValue: Double, hasD: Boolean, dTs: Long, dId: Long,
      nOps: Long, ver: Long)

  final case class CdcSnapshot(user_id: Long, ver: Long, alive: Boolean,
      last_ts_us: Long, final_value: Double, n_ops: Long)

  /** Changelog projection: the batch query's op mapping on a normalized
    * events frame. */
  def changelog(events: DataFrame): DataFrame =
    EventsStream.normalize(events).select(
      col("user_id"), unix_micros(col("ts")).as("ts_us"), col("event_id"),
      col("value"),
      when(col("event_type") === "signup", "I")
        .when(col("event_type") === "error", "D")
        .otherwise("U").as("op"))

  /** The maintained snapshot stream. Pure max/count folds — no sort, no
    * ordering assumption on the iterator. */
  def snapshots(events: DataFrame): Dataset[CdcSnapshot] = {
    import events.sparkSession.implicits._
    changelog(events)
      .as[CdcRow]
      .groupByKey(_.user_id)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (key: Long, it: Iterator[CdcRow], state: GroupState[CdcState]) =>
          val st0 = state.getOption.getOrElse(
            CdcState(hasU = false, 0L, 0L, 0.0, hasD = false, 0L, 0L, 0L, 0L))
          val folded = it.foldLeft(st0) { (st, r) =>
            val s1 = st.copy(nOps = st.nOps + 1L)
            if (r.op == "D") {
              if (!s1.hasD || (r.ts_us, r.event_id) > ((s1.dTs, s1.dId)))
                s1.copy(hasD = true, dTs = r.ts_us, dId = r.event_id)
              else s1
            } else {
              if (!s1.hasU || (r.ts_us, r.event_id) > ((s1.uTs, s1.uId)))
                s1.copy(hasU = true, uTs = r.ts_us, uId = r.event_id,
                  uValue = r.value)
              else s1
            }
          }
          val next = folded.copy(ver = folded.ver + 1L)
          state.update(next)
          val alive = next.hasU &&
            (!next.hasD || (next.uTs, next.uId) > ((next.dTs, next.dId)))
          CdcSnapshot(key, next.ver, alive, next.uTs, next.uValue, next.nOps)
      }
  }

  /** The batch semantics on an arbitrary changelog subset — the SAME
    * plan as q_cdc_compact (ExtendedQueries), parameterized by input so
    * the spec can state prefix equality; the spec also pins this helper
    * to the registry query itself on the full fixture. */
  def batchCompact(events: DataFrame): DataFrame = {
    val ev = changelog(events)
    val lastD = ev.filter(col("op") === "D")
      .groupBy(col("user_id"))
      .agg(max(struct(col("ts_us"), col("event_id"))).as("dmax"))
    val live = ev.filter(col("op") =!= "D")
      .join(lastD, Seq("user_id"), "left")
      .filter(col("dmax").isNull ||
        struct(col("ts_us"), col("event_id")) > col("dmax"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id"))
      .orderBy(col("ts_us").desc, col("event_id").desc)
    val fin = live.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    val nops = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_ops"))
    fin.join(nops, "user_id")
      .select(col("user_id"), col("ts_us").as("last_ts_us"),
        col("value").as("final_value"), col("n_ops"))
  }

  /** Test/demo driver: the changelog arrives in TWO micro-batches split
    * by event_id PARITY — event time interleaves arbitrarily across the
    * split, which this operator (alone among the twins) tolerates by
    * construction. Returns the raw Update-mode emissions. */
  def runOnce(spark: SparkSession, dir: String,
      queryName: String): DataFrame = {
    val raw = spark.read.schema(EventsStream.rawSchema(spark, dir))
      .option("pathGlobFilter", "events.parquet").parquet(dir)
    Staged.run(spark, queryName, "update",
      raw.filter(col("event_id") % 2 === 0),
      raw.filter(col("event_id") % 2 === 1))(snapshots)
  }
}
