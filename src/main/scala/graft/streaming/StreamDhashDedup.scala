package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming PERCEPTUAL near-duplicate detection — the q_media_funnel
  * dedup stage moved to ingestion time (r12 verdict item 5), built the
  * way StreamNearDup does text LSH: every arriving asset's 63-bit dHash
  * lands in its 3 x 21-bit Hamming-LSH band buckets, each bucket's
  * (doc_id, dhash) membership is keyed state, and a new member emits a
  * CONFIRMED pair (exact popcount Hamming <= 4, the batch threshold)
  * against every earlier member of its bucket. The emitted distinct pair
  * set equals the batch dhashPairs on the same corpus across any
  * micro-batch split (StreamingSpec batch-equivalence), because band
  * membership and the Hamming confirm are pure functions of the two
  * payloads — arrival order only changes which side EMITS the pair, and
  * the canonical (min, max) orientation erases that.
  *
  * Scale shape (same as the batch band join, same as StreamNearDup):
  * state shards by (band, band-value) — the key the batch job equi-joins
  * on — so the bucket index partitions horizontally; a degenerate bucket
  * accumulates O(members) state and output, so membership is capped
  * (tools/DhashBandProbe sizes the cap: measured candidate plateau
  * ~8.5e-4 of doc^2, largest sf0.1 bucket far below 1024). The dHash
  * itself is the codegen'd Dhash63Expr running unchanged inside the
  * streaming projection (the StreamMediaGate architectural proof).
  */
object StreamDhashDedup {

  final case class BandRow(band: Int, bv: Long, doc_id: Long, dhash: Long)
  final case class NearDupPair(doc_a: Long, doc_b: Long, hamming: Long)

  private val BANDS = 3
  private val BAND_BITS = 21
  private val MASK = (1L << BAND_BITS) - 1
  private val TH = 4L

  /** (doc_id, dhash, band, bv) rows — identical band values to the batch
    * dhashCandidates projection (MultimodalQueries.scala). */
  def bandRows(docs: DataFrame): DataFrame =
    docs
      .filter(octet_length(col("text")) >= 64)
      .select(col("doc_id"),
        graft.functions.TextOps.dhash63(encode(col("text"), "UTF-8"))
          .as("dhash"))
      .select(col("doc_id"), col("dhash"),
        explode(array((0 until BANDS).map(b =>
          struct(lit(b).as("band"),
            shiftright(col("dhash"), b * BAND_BITS).bitwiseAND(lit(MASK))
              .as("bv"))): _*)).as("x"))
      .select(col("x.band").as("band"), col("x.bv").as("bv"),
        col("doc_id"), col("dhash"))

  /** Confirmed near-dup pairs from a (possibly streaming) document frame.
    * `maxBucket` caps per-bucket membership — a bucket past the cap stops
    * emitting (the batch job is the backstop). */
  def pairs(docs: DataFrame, maxBucket: Int = 1024): Dataset[NearDupPair] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rows = bandRows(docs).as[BandRow]
    rows.groupByKey(r => (r.band, r.bv))
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (Int, Long), it: Iterator[BandRow], state: GroupState[Seq[(Long, Long)]]) =>
          val band = key._1
          var members = state.getOption.getOrElse(Seq.empty)
          val out = Seq.newBuilder[NearDupPair]
          // deterministic intra-batch order; replays stay idempotent
          it.map(r => (r.doc_id, r.dhash)).toSeq.distinct.sortBy(_._1)
            .foreach { case (d, h) =>
              if (!members.exists(_._1 == d) && members.size < maxBucket) {
                members.foreach { case (od, oh) =>
                  val ham = java.lang.Long.bitCount(h ^ oh).toLong
                  // emit only from the LOWEST band the two hashes collide
                  // in: a pair colliding in >1 band would otherwise be
                  // emitted once per band (both hashes are in hand, so
                  // every band's collision is recomputable here). Each
                  // lower band that collides is guaranteed to hold both
                  // docs in its bucket — band values are pure functions
                  // of the hash — so exactly one bucket owns the pair.
                  // (A capped-out lower bucket can drop its pair; the cap
                  // already means "stops emitting, batch is backstop".)
                  val lowest = (0 until band).forall(b =>
                    ((h >>> (b * BAND_BITS)) & MASK) != ((oh >>> (b * BAND_BITS)) & MASK))
                  if (ham <= TH && lowest)
                    out += NearDupPair(math.min(od, d), math.max(od, d), ham)
                }
                members = members :+ ((d, h))
              }
            }
          state.update(members)
          out.result().iterator
      }
  }

  /** Drive the streaming detector over the documents fixture in two
    * micro-batches (even doc_ids, then odd); returns the emitted pairs. */
  def runOnce(spark: SparkSession, dir: String, queryName: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/documents.parquet")
    Staged.run(spark, queryName, "append",
      raw.filter(col("doc_id") % 2 === 0),
      raw.filter(col("doc_id") % 2 === 1))(pairs(_))
  }
}
