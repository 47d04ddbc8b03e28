package graft.streaming

import graft.functions.HistOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming drift monitor — tier 23 (r13 verdict #3): production drift
  * detection runs at INGESTION, so this composes the three proven pieces
  * into one streaming query:
  *  - a REFERENCE HistSketch per key, armed on history and frozen into
  *    the plan as a map literal (the StreamCusum frozen-reference
  *    discipline — a monitor must not re-derive its baseline from the
  *    stream it is judging);
  *  - the LIVE per-key sketch as streaming aggregation state (the
  *    StreamQuantiles proof: HistAgg's sparse binary buffer lives in the
  *    state store and merges count-additively across micro-batches,
  *    bitwise lossless);
  *  - KS-sup and W1 per trigger, computed from the two sketches' bin
  *    counts by the EXACT integer walks of q_ks_test / q_wasserstein
  *    (ExtendedQueries), lifted into codegen'd binary expressions
  *    (HistKsE9Expr / HistW1E9Expr) — max/sum of |cumL*nR - cumR*nL|
  *    over the union of occupied bins, e9-scaled by one BigInt integral
  *    division. No doubles until the display columns.
  *
  * Because every stage is bitwise (frozen grid, lossless sketch merge,
  * integer walks), the streamed statistic at any trigger EQUALS the
  * batch computation over the same prefix — StreamingSpec proves it
  * across a 2-trigger split, the StreamQuantiles pattern.
  *
  * Scale shape: state is O(monitored keys) sparse sketches (KBs each);
  * the walk is a post-aggregation projection over <= nbins pairs; the
  * armed reference is a key-count-sized literal. Un-armed keys are
  * dropped (a monitor only judges keys it has a baseline for).
  */
object StreamDrift {

  val Bins: Int = StreamQuantiles.Bins

  /** Arm: per-key reference sketches over history on the frozen grid. */
  def armReference(history: DataFrame, lo: Double, width: Double)
      : Map[String, Array[Byte]] = {
    sketched(history, lo, width)
      .collect()
      .map(r => r.getString(0) -> r.getAs[Array[Byte]](1))
      .toMap
  }

  private def sketched(events: DataFrame, lo: Double, width: Double): DataFrame = {
    val bin = least(greatest(
      floor((col("value") - lit(lo)) / lit(width)).cast("long"), lit(0L)),
      lit((Bins - 1).toLong))
    events.select(col("event_type"), bin.as("bin"))
      .groupBy(col("event_type"))
      .agg(HistOps.histAgg(col("bin"), Bins).as("sk"),
        count(lit(1)).as("n"))
  }

  /** Per-key drift of a (streaming or batch) frame against the armed
    * reference: n, e9-scaled exact KS/W1/JSD (the complete batch drift
    * quartet minus PSI, whose binning convention q_psi_drift owns), and
    * display doubles (W1 in value units via the armed bin width; JSD in
    * nats). JSD rides the same post-aggregation projection as KS/W1 —
    * the bin counts were already in the state sketches, so tier 24 costs
    * one more codegen'd expression over <= nbins pairs per trigger. */
  def drift(events: DataFrame, lo: Double, width: Double,
      ref: Map[String, Array[Byte]]): DataFrame = {
    sketched(events, lo, width)
      .withColumn("ref", element_at(typedlit(ref), col("event_type")))
      .filter(col("ref").isNotNull)
      .select(col("event_type"), col("n"),
        HistOps.histKsE9(col("sk"), col("ref")).as("ks_e9"),
        HistOps.histW1E9(col("sk"), col("ref")).as("w1_bins_e9"),
        HistOps.histJsdE9(col("sk"), col("ref")).as("jsd_e9"))
      .select(col("event_type"), col("n"), col("ks_e9"), col("w1_bins_e9"),
        col("jsd_e9"),
        (col("ks_e9").cast("double") / lit(1e9)).as("ks"),
        (floor(col("w1_bins_e9").cast("double") / lit(1e9) * lit(width) * lit(1e9))
          / lit(1e9)).as("w1_value"),
        (col("jsd_e9").cast("double") / lit(1e9)).as("jsd_nats"))
  }

  /** Test/demo driver: arm on the event_id % 4 < 2 history half, stream
    * the other half in two staged micro-batches; update-mode memory sink.
    * Returns (final snapshot, (lo, width), ref, the streamed slice as a
    * batch frame for the equivalence proof). */
  def runOnce(spark: SparkSession, dir: String, queryName: String)
      : (DataFrame, (Double, Double), Map[String, Array[Byte]], DataFrame) = {
    val raw = graft.Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"))
    val dom = StreamQuantiles.armDomain(raw)
    val history = raw.filter(col("event_id") % 4 < 2)
    val live = raw.filter(col("event_id") % 4 >= 2)
    val ref = armReference(history, dom._1, dom._2)
    val table = Staged.run(spark, queryName, "update",
      live.filter(col("event_id") % 2 === 0),
      live.filter(col("event_id") % 2 === 1))(drift(_, dom._1, dom._2, ref))
    (table, dom, ref, live)
  }
}
