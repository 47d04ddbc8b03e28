package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming._

/** Streaming entity matching (tier 27) — the batch q_fuzzy_join found at
  * INGESTION time: each arriving record is fuzzy-matched (Levenshtein
  * <= 1) against every earlier record of its block, via the same
  * symmetric-delete candidate structure the batch join uses, held as
  * keyed state. The StreamNearDup discipline over the edit-distance
  * domain: the stream is keyed by (block, deletion-variant) — exactly
  * the batch join's equi-join key — so a bucket's members are the
  * records whose variant sets contain that key, and a new member emits
  * verified pairs against the earlier members only (each unordered pair
  * is found when its LATER member arrives).
  *
  * Single-emit contract (the StreamDhashDedup rule): a pair sharing
  * SEVERAL deletion variants collides in several buckets; it is emitted
  * exactly once — from the lexicographically SMALLEST shared variant,
  * recomputable from both members' names alone, so no cross-bucket
  * coordination is needed and downstream consumers can count pairs
  * without a dropDuplicates.
  *
  * The variant explode in the streaming projection is the SAME Catalyst
  * expression tree the batch query plans (EntityQueries.variantRows) —
  * the proof that the batch candidate generation runs unchanged at
  * ingestion. Verification inside the state function uses the exact
  * integer Wagner–Fischer twin (EntityQueries.levRef) of Spark's
  * levenshtein.
  *
  * State: a ListState member log per (block, variant) bucket — point
  * appends, never a rewrite (the StreamNearDup rationale); bucket
  * population is the batch join's per-key bucket (~1–3 rows measured),
  * capped loudly at MaxBucket against degenerate keys. No event time
  * anywhere: arrivals may be split across triggers arbitrarily
  * (StreamingSpec splits by key PARITY) and the emitted pair set equals
  * the batch q_fuzzy_join relation exactly.
  */
object StreamFuzzy {

  /** Degenerate-bucket guard: the fixture's variant buckets hold 1–3
    * members; a bucket at the cap stops admitting and the spec asserts
    * the fixture never comes near it. */
  final val MaxBucket = 1024

  final case class VariantRow(nationkey: Long, v: String, custkey: Long,
      name: String)
  final case class Member(custkey: Long, name: String)
  final case class FuzzyPair(nationkey: Long, cust_a: Long, cust_b: Long,
      edit_dist: Long)

  class BucketProcessor
      extends StatefulProcessor[(Long, String), VariantRow, FuzzyPair] {
    @transient private var members: ListState[Member] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      members = getHandle.getListState[Member]("members",
        Encoders.product[Member], TTLConfig.NONE)

    override def handleInputRows(key: (Long, String),
        rows: Iterator[VariantRow],
        timerValues: TimerValues): Iterator[FuzzyPair] = {
      var cur = members.get().toSeq
      val out = Seq.newBuilder[FuzzyPair]
      // deterministic intra-batch order; replays stay idempotent
      rows.map(r => Member(r.custkey, r.name)).toSeq
        .distinctBy(_.custkey).sortBy(_.custkey).foreach { m =>
        if (!cur.exists(_.custkey == m.custkey) && cur.size < MaxBucket) {
          cur.foreach { o =>
            val dist =
              graft.ops.EntityQueries.levRef(o.name, m.name)
            // verify + single-emit: only the smallest shared variant
            // of the two names reports this pair
            if (dist <= graft.ops.EntityQueries.MaxEdits &&
              graft.ops.EntityQueries.minSharedVariant(o.name, m.name)
                .contains(key._2)) {
              out += FuzzyPair(key._1,
                math.min(o.custkey, m.custkey),
                math.max(o.custkey, m.custkey), dist.toLong)
            }
          }
          members.appendValue(m) // point append
          cur = cur :+ m
        }
      }
      out.result().iterator
    }
  }

  /** The shared transform: raw customer rows -> verified fuzzy pairs. */
  def pairs(customers: DataFrame): Dataset[FuzzyPair] = {
    import customers.sparkSession.implicits._
    graft.ops.EntityQueries.variantRows(customers)
      .as[VariantRow]
      .groupByKey(r => (r.nationkey, r.v))
      .transformWithState(new BucketProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** Test/demo driver: customers arrive in TWO micro-batches split by
    * custkey PARITY (no event time in this domain at all), RocksDB-backed;
    * returns the emitted pairs. */
  def runOnce(spark: SparkSession, dir: String,
      queryName: String): DataFrame = {
    val raw = spark.read.parquet(s"$dir/customer.parquet")
    Staged.withRocksDb(spark) {
      Staged.run(spark, queryName, "append",
        raw.filter(col("c_custkey") % 2 === 0),
        raw.filter(col("c_custkey") % 2 === 1))(pairs)
    }
  }
}
