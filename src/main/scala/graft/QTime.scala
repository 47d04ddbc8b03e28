package graft

import org.apache.spark.sql.SparkSession

/** Dev tool: time individual registered queries in isolation.
  * Usage: runMain graft.QTime <sfDir> <reps> <name> [<name> ...]
  * Prints per-rep seconds for each query (noop-sink materialization).
  *
  * r14: protocol aligned with Bench so an isolated reading is comparable
  * to a sweep reading — the dedup-label and basket-edge memos are
  * prebuilt UNTIMED (Bench builds them before the sweep, so a sweep
  * number for q_pagerank/q_dedup_components excludes the build), and
  * every rep is followed by untimed clearCache + System.gc (the
  * protocol-3 hygiene; without it a rep absorbs the previous rep's GC
  * debt). Each rep also reports HOST STEAL seconds (delta of the
  * /proc/stat steal column across the rep, summed over all CPUs): on a
  * shared hypervisor a 3x-inflated rep with ~2/3 of its wall in steal
  * is the HOST's epoch, not the plan — the attribution signal the
  * cross-round mover analysis needs.
  */
object QTime {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSet
    val spark = Sessions.fromEnv("32", appName = "graft-qtime")
    Tables.lineitem(spark, sfDir).count() // warm up

    // Untimed memo prebuilds (the Bench sweep contract: these are
    // reported as their own build lines, queries consume the index).
    graft.ops.TextQueries.componentLabels(spark, sfDir).count()
    graft.ops.ExtendedQueries.basketEdges(spark, sfDir).count()
    spark.catalog.clearCache()
    // NOTE: clearCache drops the memo DATAFRAMES' cached blocks only if
    // they were registered via persist; the memo objects themselves stay
    // valid (they re-materialize lazily). Re-prime so rep 1 is warm:
    graft.ops.ExtendedQueries.basketEdges(spark, sfDir).count()
    System.gc()

    SparkEntry.registry.filter(q => names.contains(q.name)).foreach { q =>
      val ts = (1 to reps).map(_ => Measure.queryRep(spark, sfDir, q, "qtime"))
      val repStr = ts.map { case (t, st) => f"$t%.2f(st=$st%.1f)" }.mkString(" ")
      println(f"QTIME ${q.name} $repStr min=${ts.map(_._1).min}%.2f")
    }
    spark.stop()
  }
}
