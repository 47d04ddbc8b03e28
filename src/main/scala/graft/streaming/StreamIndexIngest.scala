package graft.streaming

import graft.store.{IvfLayout, IvfPqIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

/** Structured-Streaming maintenance of the at-rest IVF-PQ index: each
  * micro-batch flows through the SAME IvfPqIndex.append used for batch
  * maintenance (frozen codebook + frozen centroids, cell partitions only
  * grow), via foreachBatch. This is the production shape for a vector
  * index that must absorb a continuous embedding feed without rebuilds:
  * the stream encodes against the build-time quantizers; a periodic
  * batch `build` refreshes them when drift accumulates.
  *
  * The index must already exist (built from a seed corpus) — appending
  * against frozen sidecars is only meaningful relative to a build.
  */
object StreamIndexIngest {

  val embSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** Drain `stream` (vec_id, embedding[, ...]) into the index at `path`;
    * one IvfPqIndex.append per micro-batch. The frozen sidecars
    * (centroids + codebook + OPQ rotation, if any) are read ONCE for the stream's lifetime —
    * they are immutable by the append contract, and re-reading them per
    * micro-batch would pay a driver-side parquet read + codebook collect
    * on every batch of a continuous feed. Returns the batch count for
    * the caller to assert on (AtomicLong: foreachBatch runs on the
    * stream-execution thread, the caller reads after stop()). */
  def ingestOnce(stream: DataFrame, path: String): Long = {
    val spark = stream.sparkSession
    val cent = IvfLayout.centroids(spark, path).localCheckpoint(true)
    val cb = IvfPqIndex.readCodebook(spark, path)
    val rot = IvfPqIndex.readRotation(spark, path)
    val batches = new java.util.concurrent.atomic.AtomicLong(0)
    val q = stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        IvfPqIndex.append(batch.select("vec_id", "embedding"), path, cent, cb, rot)
        batches.incrementAndGet()
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    batches.get()
  }

  /** The IVF-BQ twin: one IvfBqIndex.append per micro-batch. Only the
    * centroids sidecar exists (sign codes are training-free), read ONCE
    * for the stream's lifetime — an even simpler maintenance contract
    * than PQ's, since there is no quantizer that can drift between the
    * build and the feed. */
  def ingestOnceBq(stream: DataFrame, path: String): Long = {
    val spark = stream.sparkSession
    val cent = IvfLayout.centroids(spark, path).localCheckpoint(true)
    val batches = new java.util.concurrent.atomic.AtomicLong(0)
    val q = stream.writeStream
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        graft.store.IvfBqIndex.append(
          batch.select("vec_id", "embedding"), path, cent)
        batches.incrementAndGet()
        ()
      }
      .start()
    q.processAllAvailable()
    q.stop()
    batches.get()
  }

  /** Convenience: stream the embeddings fixture at `dir` into `path`. */
  def ingestFixture(spark: SparkSession, dir: String, path: String): Long = {
    val stream = spark.readStream.schema(embSchema)
      .option("pathGlobFilter", "embeddings.parquet")
      .parquet(dir)
    ingestOnce(stream, path)
  }
}
