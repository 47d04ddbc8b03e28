package graft

import graft.store.VectorStore

/** The store's plan does not grow with its mutations: after a bulk load
  * and a run of adds and deletes that stay below `DeletedThreshold`, a
  * search is still one Spark job, the active rows span a bounded number of
  * partitions and the optimised plan of `active` keeps its size. */
class VectorStoreBoundsSpec extends SparkSpec {

  import spark.implicits._

  private val dim = 8

  private def rows(prefix: String, n: Int, seed: Long) = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (s"$prefix$i", Seq.fill(dim)(rnd.nextGaussian().toFloat),
      Map("g" -> (i % 3).toString))).toDF("id", "embedding", "meta")
  }

  private def planNodes(st: VectorStore): Int =
    st.active.queryExecution.optimizedPlan.collect { case n => n }.size

  test("search stays one job and the plan keeps its size over 12 adds with deletes pending") {
    val st = VectorStore.create(spark, dim)
    st.addVectors(rows("b", 2000, 1))
    val parallelism = spark.sparkContext.defaultParallelism
    var nodesAfter2 = -1
    (1 to 12).foreach { round =>
      st.addVectors(rows(s"a${round}_", 40, 100 + round))
      val (hit, deleteJobs) = jobsDuring(st.delete((0 until 20).map(i => s"b${round * 20 + i}")))
      assert(hit == 20)
      assert(deleteJobs == 1, s"round $round: delete ran $deleteJobs jobs")
      val (res, searchJobs) = jobsDuring(st.search(Array.fill(dim)(1f), 5).collect())
      assert(res.length == 5)
      assert(searchJobs == 1, s"round $round: search ran $searchJobs jobs with deletes pending")
      val parts = st.active.rdd.getNumPartitions
      assert(parts <= 2 * parallelism, s"round $round: active spans $parts partitions")
      if (round == 2) nodesAfter2 = planNodes(st)
    }
    assert(st.stats("deleted_pending") == 240L)
    assert(st.count == 2000 + 12 * 40 - 240)
    assert(planNodes(st) == nodesAfter2, "the plan of active grew with the mutations")
  }

  test("small adds fold before the rows written into the delta reach the base's size") {
    val st = VectorStore.create(spark, dim)
    st.addVectors(rows("b", 2000, 2))
    var written = 0L
    var folds = 0
    (1 to 40).foreach { round =>
      val baseRows = st.count - st.deltaRowCount
      st.addVectors(rows(s"s${round}_", 20, 200 + round))
      val d = st.deltaRowCount
      if (d == 0) folds += 1
      written = if (d == 0) 0 else written + d
      assert(written < baseRows,
        s"round $round: $written rows written into the delta over a base of $baseRows")
    }
    assert(folds >= 1)
    assert(st.count == 2000 + 40 * 20)
  }

  test("a bulk load keeps the partitions of its input") {
    val st = VectorStore.create(spark, dim)
    st.addVectors(rows("p", 1600, 3).repartition(16))
    assert(st.active.rdd.getNumPartitions == 16)
    st.addVectors(rows("q", 10, 4))
    assert(st.count == 1610)
  }
}
