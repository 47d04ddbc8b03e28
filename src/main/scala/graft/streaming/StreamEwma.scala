package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types._

/** Streaming EWMA — the ingestion-side twin of the batch q_ewma
  * (RelationalQueries.ewmaPerKey): a per-customer exponential smoothing
  * state (alpha = 1/2) folded forward as order events arrive, instead of
  * re-sorting the full history per query.
  *
  * Scale shape: one keyed state per customer holding exactly TWO scalars
  * (running ewma, event count) — state is O(customers), independent of
  * order history length. Each trigger folds only its new rows; nothing
  * re-reads the past. This is the standard streaming rewrite of a
  * sequential per-key recursion: the batch query's
  * sort_array(collect_list(...)) + aggregate() fold becomes
  * mapGroupsWithState over time-ordered arrivals.
  *
  * Determinism contract (asserted in StreamingSpec): alpha = 1/2 makes
  * every fold step an exact power-of-two scaling, so as long as rows
  * arrive in (o_orderdate, o_orderkey) order — guaranteed here by
  * sorting WITHIN a trigger and splitting micro-batches on a date
  * boundary, and in production by the upstream log's event-time order —
  * the streamed ewma is BIT-EQUAL to the batch fold over the same
  * history, across any micro-batch split. Out-of-order arrivals would
  * need the usual watermark + re-fold-from-snapshot repair; this twin
  * asserts the in-order contract rather than hiding reordering.
  */
object StreamEwma {

  final case class OrderRow(o_custkey: Long, o_orderkey: Long,
      o_orderdate: java.sql.Timestamp, o_totalprice: Double)
  final case class EwmaState(ewma: Double, n: Long)
  final case class EwmaRow(o_custkey: Long, n_orders: Long, ewma: Double)

  val rawSchema: StructType = StructType(Seq(
    StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType),
    StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType),
    StructField("o_orderdate", TimestampType),
    StructField("o_orderpriority", StringType)))

  /** The per-customer fold. Rows within one trigger are sorted by
    * (o_orderdate, o_orderkey) before folding — the iterator is bounded
    * per (key, trigger) exactly like the batch query's per-group list. */
  def ewma(orders: DataFrame): Dataset[EwmaRow] = {
    import orders.sparkSession.implicits._
    orders
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"))
      .as[OrderRow]
      .groupByKey(_.o_custkey)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout()) {
        (key: Long, it: Iterator[OrderRow], state: GroupState[EwmaState]) =>
          val sorted = it.toIndexedSeq
            .sortBy(r => (r.o_orderdate.getTime, r.o_orderkey))
          val st0 = state.getOption.getOrElse(EwmaState(0.0, 0L))
          val folded = sorted.foldLeft(st0) { (st, r) =>
            if (st.n == 0L) EwmaState(r.o_totalprice, 1L)
            else EwmaState(st.ewma * 0.5 + r.o_totalprice * 0.5, st.n + 1L)
          }
          state.update(folded)
          EwmaRow(key, folded.n, folded.ewma)
      }
  }

  /** Test/demo driver: ingests orders in TWO micro-batches split on a
    * date boundary (all of batch 1 precedes batch 2 in event time, so
    * the in-order contract holds across the split) and returns the raw
    * Update-mode output; readers take the max-n_orders snapshot per key. */
  def runOnce(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    val orders = spark.read.schema(rawSchema)
      .option("pathGlobFilter", "orders.parquet").parquet(dir)
    val cut = orders.agg(expr("percentile_approx(o_orderdate, 0.5)"))
      .collect().head.getTimestamp(0)
    Staged.run(spark, queryName, "update",
      orders.filter(col("o_orderdate") <= lit(cut)),
      orders.filter(col("o_orderdate") > lit(cut)))(ewma)
  }
}
