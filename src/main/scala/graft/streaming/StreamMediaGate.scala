package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming media-curation counters — the streaming twin of
  * q_media_funnel's QUALITY stage: media payloads arrive on a document
  * stream, each is featurized by the CODEGEN'D GridStatsExpr (the same
  * kernel the batch query runs — a custom Catalyst Expression is just an
  * expression, so it drops into a streaming projection unchanged, which
  * this operator exists to prove), flat/low-contrast assets are flagged
  * by the identical LENGTH-INVARIANT sl^2 > 200*vs cut, and per-source
  * ingest counters (n_in / n_flat / n_kept, plus the running contrast
  * mass) aggregate in update mode.
  *
  * The perceptual-DEDUP stage stays batch-side deliberately: the dHash
  * band join is a stream-stream self-join whose state grows with the
  * corpus — production runs it as the periodic batch/compaction pass
  * (q_media_funnel) while this monitor gives the real-time gate counts.
  *
  * Exactness contract (StreamingSpec): streaming aggregation state is
  * exact integer counts/sums keyed by source, so the final per-source
  * totals across ANY micro-batch split equal the batch quality-stage
  * aggregation over the same rows — no watermark is involved (counters
  * are monotone accumulators, not windows).
  *
  * Scale shape: the featurization is a stateless narrow projection
  * (per-asset O(bytes), inside WholeStageCodegen); state is O(sources) x
  * four longs regardless of corpus size.
  */
object StreamMediaGate {

  /** The gate aggregation over a (streaming or batch) documents frame. */
  def gate(docs: DataFrame): DataFrame = {
    val withStats = docs
      .filter(length(col("text")) >= 64)
      .withColumn("gs",
        graft.functions.TextOps.gridStats(encode(col("text"), "UTF-8")))
      .withColumn("sl", col("gs").getItem(0))
      .withColumn("vs",
        lit(64L) * col("gs").getItem(1) - col("sl") * col("sl"))
      .withColumn("flat",
        (col("sl") * col("sl") > lit(200L) * col("vs")).cast("long"))
    withStats.groupBy(col("source"))
      .agg(count(lit(1)).as("n_in"),
        sum(col("flat")).as("n_flat"),
        sum(lit(1L) - col("flat")).as("n_kept"),
        sum(col("vs")).as("sum_contrast"))
  }

  /** Test/demo driver: the documents fixture split into two staged
    * micro-batches on doc_id parity; update-mode memory sink. Returns the
    * final counter table (the memory sink retains only the latest update
    * snapshot of an aggregation; `Staged.run` checks the split gave two
    * triggers). */
  def runOnce(spark: SparkSession, dir: String,
      queryName: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/documents.parquet")
    Staged.run(spark, queryName, "update",
      raw.filter(col("doc_id") % 2 === 0),
      raw.filter(col("doc_id") % 2 === 1))(gate)
  }
}
