package graft

import org.apache.spark.sql.functions._

/** Pointer jumping vs plain propagation: output equivalence on an
  * arbitrary graph, and the round-count separation that is the whole
  * point — O(log n) vs O(n) on a chain. */
class GraphOpsSpec extends SparkSpec {
  import spark.implicits._

  /** Symmetric chain 0-1-2-…-(n-1). Diameter n-1: the propagation
    * worst case (one component, min label crawls one hop per round). */
  private def chain(n: Int) = {
    val fwd = (0 until n - 1).map(i => (i.toLong, (i + 1).toLong))
    (fwd ++ fwd.map(_.swap)).toDF("src", "dst")
  }

  test("doubling converges in O(log n) rounds where propagation needs O(n)") {
    val edges = chain(64).localCheckpoint(true)
    val (plab, prounds) = ops.GraphOps.propagationLabels(edges, maxIter = 80)
    val (dlab, drounds) = ops.GraphOps.doublingLabels(edges, maxIter = 12)
    // min label 0 reaches node 63 one hop per propagation round
    assert(prounds >= 60, s"propagation took $prounds rounds — not a chain?")
    assert(drounds <= 10, s"doubling took $drounds rounds — shortcut not biting")
    // identical labels: everything collapses to component-min 0
    assert(dlab.agg(max("label")).as[Long].head() === 0L)
    assert(plab.except(dlab).isEmpty && dlab.except(plab).isEmpty)
  }

  test("doubling matches propagation on a multi-component graph") {
    // two triangles + one 5-chain + an isolated edge
    val raw = Seq(
      (1L, 2L), (2L, 3L), (3L, 1L),
      (10L, 11L), (11L, 12L), (12L, 10L),
      (20L, 21L), (21L, 22L), (22L, 23L), (23L, 24L),
      (30L, 31L))
    val edges = (raw ++ raw.map(_.swap)).toDF("src", "dst").localCheckpoint(true)
    val (plab, _) = ops.GraphOps.propagationLabels(edges, maxIter = 20)
    val (dlab, _) = ops.GraphOps.doublingLabels(edges, maxIter = 12)
    assert(plab.except(dlab).isEmpty && dlab.except(plab).isEmpty)
    val comps = dlab.groupBy("label").count().orderBy("label")
      .as[(Long, Long)].collect().toSeq
    assert(comps === Seq((1L, 3L), (10L, 3L), (20L, 5L), (30L, 2L)))
  }

  // Spark jobs each labeler schedules on the graph below (measured in
  // this suite's local[4] session); more is a scheduling regression
  private val PropagationJobs = 381
  private val DoublingJobs = 47

  test("labelers agree on a chain plus cliques within their job counts") {
    // a 64-node chain (diameter 63, the propagation worst case) plus three
    // 40-node cliques (the dense near-dup regime), disjoint id ranges: at
    // bench scale the labeler consumers are dominated by per-job fixed
    // cost, so jobs per labeling is the number that predicts their time
    val chainEdges = (0L until 63L).map(i => (i, i + 1))
    val cliques = (0 until 3).flatMap { c =>
      val base = 1000L * (c + 1)
      for (i <- 0L until 40L; j <- (i + 1) until 40L) yield (base + i, base + j)
    }
    val und = (chainEdges ++ cliques).toDF("src", "dst")
    val sym = und.unionAll(und.select(col("dst").as("src"), col("src").as("dst")))
      .localCheckpoint(true)
    val ((plab, _), pjobs) = jobsDuring(ops.GraphOps.propagationLabels(sym, maxIter = 80))
    val ((dlab, _), djobs) = jobsDuring(ops.GraphOps.doublingLabels(sym, maxIter = 16))
    assert(plab.except(dlab).isEmpty && dlab.except(plab).isEmpty)
    assert(pjobs <= PropagationJobs, s"propagation ran $pjobs jobs")
    assert(djobs <= DoublingJobs, s"doubling ran $djobs jobs")
  }

  test("propagation fails loudly (not wrongly) when rounds run out") {
    val edges = chain(16).localCheckpoint(true)
    val ex = intercept[IllegalArgumentException] {
      ops.GraphOps.propagationLabels(edges, maxIter = 4)
    }
    assert(ex.getMessage.contains("did not converge"))
  }
}
