package graft.streaming

import graft.functions.VectorKernels
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.streaming._

/** Streaming kNN-graph MAINTENANCE (tier 25) — the batch q_knn_join
  * relation kept incrementally current as vectors arrive.
  *
  * Composition of two proven disciplines: the batch kNN graph
  * (SimilarityQueries.knnJoinRelation — spill-cell routed candidates,
  * per-row top-k) and the streaming index family's frozen-quantizer
  * ingestion (StreamIndexIngest). Each arriving vector is assigned
  * against the FROZEN spill cells (the same full-corpus label centroids
  * the batch assignment trains, collected once — KB-scale), routed to
  * its 2 nearest cells as a PROBE and its primary cell as a BUILD
  * member, and candidate-scored inside keyed per-cell state:
  *
  *  - a new build member updates the top-k heap of every probe already
  *    resident in its cell (the neighbor lists of EARLIER arrivals stay
  *    current — the property a naive "score on arrival" stream lacks);
  *  - a new probe scores against all build members seen so far (old
  *    state + this trigger's arrivals) and starts its own heap.
  *
  * State per cell is O(cell members): a ListState build-member log
  * (append-only — the StreamNearDup rationale) and a MapState of
  * probe heaps (point reads/writes per changed probe). Every heap
  * change emits a versioned (qid, cell) update; the CURRENT graph is
  * the max-version row per (qid, cell) with the ≤2 per-cell heaps
  * merged by the batch tie-break (score DESC, nid ASC) — `finalLists`.
  *
  * EXACTNESS (StreamingSpec): because a vector's candidate set is the
  * union of its 2 cells' build members (disjoint — a build member has
  * ONE primary cell), per-cell top-k heaps merged at read time equal
  * the batch top-k over the union; scores ride VectorKernels.cosineFloat
  * (the bitwise Scala twin of the CosineFloatExpr the batch uses) and
  * cell assignment replays cellAssignmentsOn's fold-order cosine +
  * (cs DESC, cell ASC) tie-break against the SAME collected centroids —
  * so the streamed graph is BITWISE-EQUAL to batch q_knn_join over the
  * same prefix, across any trigger split, with no recomputation of
  * earlier rows. At 100 TB the cell id is the state-store partition key
  * (the same co-location the batch join uses), state is O(corpus) total
  * but sharded per cell, and a cells ∝ corpus policy bounds each cell's
  * member list (KnnJoinProbe `cells` mode measures the Σcell² candidate
  * fraction dropping ~1/k).
  */
object StreamKnn {

  /** One routed input row: vector `vec_id` in `cell` at assignment rank
    * `arn` (1 = primary — build side; 1..2 — probe side). */
  final case class CellEntry(cell: Int, arn: Int, vec_id: Long,
      embedding: Array[Float])

  /** A build member resident in a cell's state. */
  final case class Member(id: Long, emb: Array[Float])

  /** A probe's per-cell heap state: its embedding, a monotone version,
    * and the current top-k (parallel id/score arrays, (score DESC,
    * nid ASC) order). */
  final case class ProbeSt(emb: Array[Float], ver: Long,
      nids: Array[Long], scores: Array[Double])

  /** One emitted heap change for (qid, cell) at version `ver`. */
  final case class KnnUpdate(qid: Long, cell: Int, ver: Long,
      nids: Array[Long], scores: Array[Double])

  /** (score DESC, nid ASC) top-k — the TopKAgg / row_number tie-break. */
  private def topK(entries: Seq[(Long, Double)], k: Int): Seq[(Long, Double)] =
    entries.sortWith((a, b) =>
      a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)).take(k)

  /** Assign an embedding to its `keep` nearest frozen cells — the exact
    * Scala twin of cellAssignmentsOn's cosQC fold (dot/na/nb are each a
    * left fold in index order; fusing them into one loop preserves every
    * accumulator's operation order) and its (cs DESC, cell ASC)
    * tie-break. `cents` must be the collected (cell, centroid) rows. */
  private[graft] def assignCells(emb: Array[Float],
      cents: Array[(Int, Array[Double])], keep: Int): Seq[Int] = {
    val scored = cents.map { case (cell, c) =>
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < emb.length) {
        val x = emb(i).toDouble
        dot += x * c(i); na += x * x; nb += c(i) * c(i)
        i += 1
      }
      val cs = if (na == 0.0 || nb == 0.0) 0.0
      else dot / (math.sqrt(na) * math.sqrt(nb))
      (cell, cs)
    }
    scored.sortWith((a, b) =>
      a._2 > b._2 || (a._2 == b._2 && a._1 < b._1)).take(keep).map(_._1).toSeq
  }

  class CellKnnProcessor(k: Int)
      extends StatefulProcessor[Int, CellEntry, KnnUpdate] {
    @transient private var members: ListState[Member] = _
    @transient private var probes: MapState[Long, ProbeSt] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      members = getHandle.getListState[Member]("members",
        Encoders.product[Member], TTLConfig.NONE)
      probes = getHandle.getMapState[Long, ProbeSt]("probes",
        Encoders.scalaLong, Encoders.product[ProbeSt], TTLConfig.NONE)
    }

    override def handleInputRows(cell: Int, rows: Iterator[CellEntry],
        timerValues: TimerValues): Iterator[KnnUpdate] = {
      // a vec_id appears at most once per cell (one assignment rank per
      // (vector, cell)); sort for deterministic intra-batch order
      val arrivals = rows.toSeq.sortBy(_.vec_id)
      val newBuild = arrivals.filter(_.arn == 1)
        .map(r => Member(r.vec_id, r.embedding))
      val out = Seq.newBuilder[KnnUpdate]
      // snapshot BEFORE inserts: existing probes predate this trigger
      val existing = probes.iterator().toSeq.sortBy(_._1)
      val oldMembers = members.get().toSeq
      // 1. new build members refresh every resident probe's heap
      if (newBuild.nonEmpty) existing.foreach { case (qid, st) =>
        val cands = newBuild.filter(_.id != qid)
          .map(m => (m.id, VectorKernels.cosineFloat(st.emb, m.emb)))
        if (cands.nonEmpty) {
          val merged = topK(st.nids.zip(st.scores).toSeq ++ cands, k)
          // id-list equality suffices: a (qid, nid) score is a pure
          // function of the pair, so same ids => same scores
          if (merged.map(_._1) != st.nids.toSeq) {
            val st2 = ProbeSt(st.emb, st.ver + 1,
              merged.map(_._1).toArray, merged.map(_._2).toArray)
            probes.updateValue(qid, st2)
            out += KnnUpdate(qid, cell, st2.ver, st2.nids, st2.scores)
          }
        }
      }
      // 2. new probes score against everything seen so far
      arrivals.foreach { r =>
        val cands = (oldMembers ++ newBuild).filter(_.id != r.vec_id)
          .map(m => (m.id, VectorKernels.cosineFloat(r.embedding, m.emb)))
        val top = topK(cands, k)
        val st = ProbeSt(r.embedding, 1L,
          top.map(_._1).toArray, top.map(_._2).toArray)
        probes.updateValue(r.vec_id, st)
        if (top.nonEmpty)
          out += KnnUpdate(r.vec_id, cell, 1L, st.nids, st.scores)
      }
      // 3. append-only member log (point appends — StreamNearDup)
      newBuild.foreach(members.appendValue)
      out.result().iterator
    }
  }

  /** Versioned per-(qid, cell) heap updates for an embedding stream
    * (vec_id, embedding, label), routed against the frozen centroids. */
  def updates(stream: DataFrame, cents: Array[(Int, Array[Double])],
      k: Int = graft.ops.SimilarityQueries.KnnJoinK): Dataset[KnnUpdate] = {
    val spark = stream.sparkSession
    import spark.implicits._
    stream.selectExpr("vec_id", "embedding").as[(Long, Array[Float])]
      .flatMap { case (id, emb) =>
        assignCells(emb, cents, keep = 2).zipWithIndex.map {
          case (c, i) => CellEntry(c, i + 1, id, emb)
        }
      }
      .groupByKey(_.cell)
      .transformWithState(new CellKnnProcessor(k),
        TimeMode.None(), OutputMode.Append())
  }

  /** Reduce an update log to the CURRENT kNN graph: max version per
    * (qid, cell), per-cell heaps merged by the batch tie-break, global
    * top-k, 1-based rank — schema-identical to q_knn_join's relation
    * (qid, rank, nid, score). */
  def finalLists(updates: DataFrame,
      k: Int = graft.ops.SimilarityQueries.KnnJoinK): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val wCell = Window.partitionBy(col("qid"), col("cell"))
      .orderBy(col("ver").desc)
    val wQ = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("nid").asc)
    updates
      .withColumn("rn", row_number().over(wCell)).filter(col("rn") === 1)
      .select(col("qid"),
        explode(arrays_zip(col("nids"), col("scores"))).as("e"))
      .select(col("qid"), col("e.nids").as("nid"), col("e.scores").as("score"))
      .withColumn("rank", row_number().over(wQ).cast("long"))
      .filter(col("rank") <= k)
      .select(col("qid"), col("rank"), col("nid"), col("score"))
  }

  /** Collect the frozen full-corpus centroids for the fixture at `dir`
    * (the same relation cellAssignmentsSpill trains), cell-sorted. */
  def frozenCentroids(spark: SparkSession, dir: String)
      : Array[(Int, Array[Double])] =
    graft.ops.SimilarityQueries.cellCentroids(spark, dir)
      .collect()
      .map(r => (r.getInt(0), r.getSeq[Double](1).toArray))
      .sortBy(_._1)

  /** Two-micro-batch driver (vec_id split at `cut`), RocksDB-backed
    * (the state-v2 requirement). Returns the accumulated update log. */
  def runOnce(spark: SparkSession, dir: String, queryName: String,
      cut: Long = 250L): DataFrame = {
    import org.apache.spark.sql.functions.col
    val cents = frozenCentroids(spark, dir)
    val emb = spark.read.schema(StreamIndexIngest.embSchema)
      .option("pathGlobFilter", "embeddings.parquet").parquet(dir)
    Staged.withRocksDb(spark) {
      Staged.run(spark, queryName, "append",
        emb.filter(col("vec_id") < cut),
        emb.filter(col("vec_id") >= cut))(updates(_, cents))
    }
  }
}
