package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming ingestion path (SURVEY.md §2.4 "streaming" — an
  * extension beyond the reference, which is batch-only): the events table
  * consumed as a file stream with event-time watermarking and windowed
  * aggregation. The same transform compiles against a batch DataFrame,
  * so correctness is checked against the batch result.
  */
object EventsStream {

  /** Raw schema of the events table, read from the parquet footer — the
    * fixture has carried both TIMESTAMP(NANOS) (→ LongType under
    * nanosAsLong=true) and timestamp[us] (→ TimestampNTZType) across rounds,
    * and the file stream needs an explicit schema, so derive it from the
    * actual file rather than pinning one representation. */
  def rawSchema(spark: SparkSession, dir: String): StructType =
    spark.read.parquet(s"$dir/events.parquet").schema

  /** Type-driven ts normalization shared with the batch path. */
  def normalize(df: DataFrame): DataFrame = graft.Tables.normalizeEventTs(df)

  /** The shared (stream-or-batch) transform: hourly tumbling-window counts
    * and value sums per event type, watermarked 30 minutes. */
  def windowedAgg(events: DataFrame): DataFrame =
    normalize(events)
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Streaming read of the events parquet. The file source wants a
    * directory, so stream the sf dir with a glob pinned to the events file. */
  def readStream(spark: SparkSession, dir: String): DataFrame =
    spark.readStream.schema(rawSchema(spark, dir))
      .option("pathGlobFilter", "events.parquet")
      .parquet(dir)

  /** Run the streaming aggregation to completion against the (static) file
    * source via the memory sink; returns the materialized result. */
  def runOnce(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    val q = windowedAgg(readStream(spark, dir))
      .writeStream.outputMode("complete")
      .format("memory").queryName(queryName)
      .start()
    q.processAllAvailable()
    q.stop()
    spark.table(queryName)
  }

  /** Batch twin of runOnce for equivalence checks. */
  def batch(spark: SparkSession, dir: String): DataFrame =
    windowedAgg(spark.read.parquet(s"$dir/events.parquet"))

  /** Sliding (hopping) event-time windows — the streaming twin of
    * q_hopping_windows (RelationalQueries): 4-hour windows hopping hourly,
    * each event assigned to its 4 covering windows. The value sum routes
    * through DECIMAL(25,6) exactly like the batch query's H.dsum, so the
    * total is order-independent and the stream result is BIT-equal to the
    * batch fold no matter how the rows split across micro-batches. */
  def hoppingAgg(events: DataFrame): DataFrame =
    normalize(events)
      .withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "4 hours", "1 hour"))
      .agg(count(lit(1)).as("n"), graft.ops.H.dsum(col("value")).as("sum_value"))
      .select(col("window.start").as("w_start"), col("n"), col("sum_value"))

  /** Run the hopping aggregation across TWO micro-batches split on the
    * median event time (complete mode — every window's final total is in
    * the last emitted snapshot). */
  def runOnceHopping(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    val raw = normalize(spark.read.parquet(s"$dir/events.parquet"))
    val cut = raw.agg(expr("percentile_approx(unix_micros(ts), 0.5)"))
      .collect().head.getLong(0)
    Staged.run(spark, queryName, "complete",
      raw.filter(unix_micros(col("ts")) <= cut),
      raw.filter(unix_micros(col("ts")) > cut))(hoppingAgg)
  }

  /** Batch twin of runOnceHopping. */
  def batchHopping(spark: SparkSession, dir: String): DataFrame =
    hoppingAgg(spark.read.parquet(s"$dir/events.parquet"))
}
