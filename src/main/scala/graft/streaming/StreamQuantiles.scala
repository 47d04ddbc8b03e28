package graft.streaming

import graft.functions.HistOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming quantile monitoring on the mergeable HistSketch — the
  * TypedImperativeAggregate twin of StreamMediaGate's codegen'd-
  * Expression proof: a custom object-buffer aggregate (hist_agg) is just
  * an aggregate, so it drops into a streaming groupBy unchanged, its
  * sparse binary buffer living in the aggregation state store and
  * merging count-additively across micro-batches. That makes streamed
  * per-key quantiles EXACTLY the batch sketch over the same rows at
  * every trigger — histogram merge is bitwise lossless (the
  * q_quantile_merge contract), so no watermark and no approximation
  * band is involved.
  *
  * The bin domain is FROZEN AT ARM TIME (`armDomain` over history) —
  * the StreamCusum reference-level discipline: a stream cannot run the
  * batch query's min/max domain pre-pass, and production pins the grid
  * when monitoring starts (values past the armed domain clamp into the
  * edge bins, exactly like the batch LEAST(...) guard).
  *
  * Scale shape: state is O(keys) sparse sketches (KBs each) regardless
  * of corpus size; the rank walk is a post-aggregation projection.
  */
object StreamQuantiles {

  val Bins = 4096

  /** Arm: the frozen (lo, width) grid from a history frame. */
  def armDomain(events: DataFrame): (Double, Double) = {
    val r = events.agg(min(col("value")), max(col("value"))).head()
    val lo = r.getDouble(0)
    val hi = r.getDouble(1)
    require(hi > lo, s"armDomain: degenerate domain [$lo, $hi]")
    (lo, (hi - lo) / Bins.toDouble)
  }

  /** Per-event-type streamed (or batch) sketch quantiles on the armed
    * grid: n, p50/p90 rank bins, and the 1e9-snapped value estimates. */
  def quantiles(events: DataFrame, lo: Double, width: Double): DataFrame = {
    val bin = least(greatest(
      floor((col("value") - lit(lo)) / lit(width)).cast("long"), lit(0L)),
      lit((Bins - 1).toLong))
    val est = (b: org.apache.spark.sql.Column) =>
      floor((lit(lo) + (b.cast("double") + lit(0.5)) * lit(width)) * lit(1e9)) / lit(1e9)
    events
      .select(col("event_type"), bin.as("bin"))
      .groupBy(col("event_type"))
      .agg(HistOps.histAgg(col("bin"), Bins).as("sk"),
        count(lit(1)).as("n"))
      .select(col("event_type"), col("n"),
        HistOps.histRankBin(col("sk"), 1L, 2L).as("bin_p50"),
        HistOps.histRankBin(col("sk"), 9L, 10L).as("bin_p90"))
      .select(col("event_type"), col("n"), col("bin_p50"), col("bin_p90"),
        est(col("bin_p50")).as("est_p50"), est(col("bin_p90")).as("est_p90"))
  }

  /** Test/demo driver: events split into two staged micro-batches on
    * event_id parity, armed on the full history (the monitoring shape:
    * domain from history, stream from now on); update-mode memory sink.
    * Returns (final snapshot, armed (lo, width)). */
  def runOnce(spark: SparkSession, dir: String,
      queryName: String): (DataFrame, (Double, Double)) = {
    val raw = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    val dom = armDomain(raw)
    val table = Staged.run(spark, queryName, "update",
      raw.filter(col("event_id") % 2 === 0),
      raw.filter(col("event_id") % 2 === 1))(quantiles(_, dom._1, dom._2))
    (table, dom)
  }
}
