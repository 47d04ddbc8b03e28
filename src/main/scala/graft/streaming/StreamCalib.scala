package graft.streaming

import graft.ops.{MLQueries, PipelineQueries}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming calibration monitor (tier 28) — the batch q_calibration
  * reliability grid kept incrementally current as scored documents
  * arrive: what a production model monitor does between recalibrations
  * (a curation classifier whose scores drift off their probabilities is
  * silently re-weighting the corpus; Guo et al., ICML 2017).
  *
  * Two design points this tier demonstrates:
  *
  *  1. The SERVING-SIDE form of the classifier. The batch query scores a
  *     document by token explode -> groupBy(doc) — the right corpus
  *     shape (map-side combinable). A stream cannot chain that doc-level
  *     aggregate under the bin-level one, so the twin scores each
  *     arriving document ROW-LEVEL: one `aggregate` HOF folding the same
  *     md5-indexed weights over the same token split. Long addition
  *     commutes, so the per-doc integer score is IDENTICAL to the batch
  *     aggregation — asserted bitwise in StreamingSpec, not assumed.
  *
  *  2. The state is a COMMUTATIVE MONOID (the StreamCdc class): the
  *     reliability grid per bin is (n, sum_k, n_pos) — three additive
  *     counters. No watermark, no within-trigger sort, no event-time
  *     discipline; rows may arrive in any order across any trigger split
  *     and the grid is still exact. The spec's two triggers split the
  *     corpus by doc_id PARITY — no event time exists in this domain at
  *     all.
  *
  * The streamed aggregation is a PLAIN keyed streaming agg (Update
  * mode): state is exactly 10 bins x 3 longs in the state store — the
  * smallest state of any twin in this package. Emissions re-state a
  * bin's current counters whenever the bin is touched; n is strictly
  * monotone per bin, so the maintained snapshot is the max-n row per
  * bin (the version discipline, carried by the data itself). ECE and
  * the per-bin display columns derive from the snapshot by the SAME
  * integer-exact projection the batch query uses (`withEce`), so the
  * streamed reliability table equals q_calibration's output bitwise.
  *
  * 100 TB shape: the only exchange per micro-batch is the 10-key bin
  * shuffle of the arriving delta; the classifier pass is row-local
  * (narrow, codegen'd HOF over the token array); state is O(bins)
  * regardless of corpus size.
  */
object StreamCalib {

  private val BinW: Long = MLQueries.CalRange.toLong / 10L

  /** Row-level classifier score + calibration inputs: (doc_id, k, pos,
    * bin) — the serving-side form. Docs whose filtered token set is
    * empty are dropped, mirroring the batch explode (which emits no row
    * for them). */
  def scored(docs: DataFrame): DataFrame = {
    val toks = filter(split(col("text"), " "), t => t =!= lit(""))
    val score = aggregate(toks, lit(0L), (acc, t) =>
      acc + element_at(lit(PipelineQueries.QualityWeights),
        (graft.functions.TextOps.md5Prefix60(t) %
          PipelineQueries.QualityD).cast("int") + 1))
    val k = least(greatest(score + lit(MLQueries.CalShift), lit(0L)),
      lit(MLQueries.CalRange.toLong))
    docs
      .filter(size(filter(split(col("text"), " "), t => t =!= lit(""))) > 0)
      .select(col("doc_id"), k.as("k"),
        when(col("n_chars") > MLQueries.CalLabelChars, 1L).otherwise(0L)
          .as("pos"))
      .withColumn("bin", least(expr(s"k div $BinW"), lit(9L)))
  }

  /** The maintained reliability grid: one streaming aggregation keyed by
    * bin. Works identically on a batch frame (the spec's prefix oracle). */
  def grid(docs: DataFrame): DataFrame =
    scored(docs)
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        sum(col("pos")).as("n_pos"))

  /** q_calibration's display projection over a (bin, n, sum_k, n_pos)
    * grid: per-bin avg_pred / frac_pos / gap plus the corpus ECE — the
    * identical integer-exact op order, so applying this to the streamed
    * snapshot reproduces the registry output bitwise. */
  def withEce(grid: DataFrame): DataFrame = {
    val range = lit(MLQueries.CalRange.toDouble)
    val tot = grid.agg(
      sum(col("n")).as("nn"),
      sum(abs(col("sum_k") - lit(MLQueries.CalRange.toLong) * col("n_pos")))
        .as("err_num"))
      .select((col("err_num").cast("double") / range /
        col("nn").cast("double")).as("ece"))
    val avgPred: Column = col("sum_k").cast("double") / range /
      col("n").cast("double")
    val fracPos: Column = col("n_pos").cast("double") / col("n").cast("double")
    grid.crossJoin(tot)
      .select(col("bin"), col("n"), avgPred.as("avg_pred"),
        fracPos.as("frac_pos"), abs(avgPred - fracPos).as("gap"),
        col("ece"))
      .orderBy(col("bin"))
  }

  /** Test/demo driver: documents arrive in TWO micro-batches split by
    * doc_id PARITY (no event time in the domain — the monoid needs
    * none). Returns the raw Update-mode emissions; the maintained grid
    * is the max-n row per bin. */
  def runOnce(spark: SparkSession, dir: String,
      queryName: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/documents.parquet")
    Staged.run(spark, queryName, "update",
      raw.filter(col("doc_id") % 2 === 0),
      raw.filter(col("doc_id") % 2 === 1))(grid)
  }
}
