package enginebench

import graft.store.VectorStore
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

/** `store`: the PythonVectorDB API through `VectorStore`, writes beside
  * reads. A cycle bulk-loads a fresh store (untimed), then runs a fixed
  * script of rounds — `addVectors` of a batch, searches with and without a
  * `meta` filter (about 10% selectivity), `delete` of a batch — whose
  * deletes cross `VectorStore.DeletedThreshold`, so compaction happens
  * inside every cycle; a `save` + `load` + `count` closes it. Cycles repeat
  * until the measured window is used. Every output is checked against a
  * mirror of the live rows, vectors and metadata kept here. */
object Store {
  val Dim = 64
  val BulkRows = 10000
  val WarmRows = 2000
  val WarmCycles = 2
  // timed cycles per run at least. A run that fitted one cycle read its
  // medians from that cycle alone, 10-30% slower than those of a run that
  // fitted two; and a burst of host steal that slows a few seconds of the
  // timed phase moves a median over three cycles less than one over two
  val MinCycles = 3
  val AddRows = 250
  val DeleteRows = 250
  val Rounds = 4 // 4 x 250 deletes reach the 1,000 threshold in round 4
  val SearchesPerRound = 2 // one unfiltered, one filtered
  val K = 10
  val Categories = 10

  private val inSchema = StructType(Seq(
    StructField("id", StringType, nullable = false),
    StructField("embedding", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("meta", MapType(StringType, StringType), nullable = false)))

  /** Row `i` of a cycle's input stream: vector, and a category drawn so
    * that one category holds about a tenth of the rows. */
  private def row(seed: Long, stream: Long, i: Long): (Array[Float], String) = {
    val r = new java.util.Random(Gen.mix64(Gen.mix64(seed * 31 + stream) + i))
    (Array.fill(Dim)(r.nextGaussian().toFloat), (r.nextInt(Categories)).toString)
  }

  final class Live(val vec: Array[Float], val code: Array[Byte], val cat: String)

  final class Timings {
    val search, add, delete, persist, save, load = ArrayBuffer.empty[Double]
    val recall = ArrayBuffer.empty[Double]
    var searchSpark, addSpark, deleteSpark = SparkSnap.zero
    val planNodes, planMs = ArrayBuffer.empty[Double]
    val saveFiles = ArrayBuffer.empty[Double]
  }

  def run(o: Opts, res: Result, spark: SparkSession): Unit = {
    val counts = SparkCounts.register(spark.sparkContext)
    import spark.implicits._
    val tm = new Timings
    var firstTimed = -1.0
    var cycle = 0
    var steal0 = 0.0
    var started = 0L

    def runCycle(c: Int, timed: Boolean, bulkRows: Int, rounds: Int, deleteRows: Int,
        persist: Boolean): Unit = {
      val seed = o.seed
      val bulkStream = 1000L * c
      val bulk = spark.range(bulkRows).mapPartitions { it =>
        it.map { i =>
          val (v, cat) = row(seed, bulkStream, i)
          (s"b${c}_$i", v, Map("cat" -> cat))
        }
      }.toDF("id", "embedding", "meta")
      val store = VectorStore.create(spark, Dim)
      store.addVectors(bulk)
      val live = LinkedHashMap.empty[String, Live]
      (0L until bulkRows).foreach { i =>
        val (v, cat) = row(seed, bulkStream, i)
        live(s"b${c}_$i") = new Live(v, Exact.quantize(v), cat)
      }
      val rnd = new java.util.Random(Gen.mix64(seed + 17 * c))
      if (timed && firstTimed < 0) {
        firstTimed = (System.currentTimeMillis() - o.startMs) / 1000.0
        steal0 = Host.stealS()
        started = System.nanoTime()
      }

      def timedOp[T](kind: String, lat: ArrayBuffer[Double], agg: SparkSnap => Unit)(f: => T): Option[T] = {
        val s0 = if (o.trace) counts.snap() else SparkSnap.zero
        val t0 = System.nanoTime()
        val out = try Some(Trace.span(s"store.$kind")(f))
        catch { case e: Throwable => res.opFailed(s"store $kind (cycle $c)", e); None }
        val dt = (System.nanoTime() - t0) / 1e6
        if (timed && out.isDefined) {
          lat += dt
          if (o.trace) agg(counts.snap() - s0)
        }
        out
      }

      def check(ok: Boolean, what: => String): Unit =
        if (timed) res.op(ok, what) else res.setupCheck(ok, what)

      def search(tag: String, q: Array[Float], cat: Option[String]): Unit = {
        if (o.trace && timed) {
          val a = store.active
          val t0 = System.nanoTime()
          a.queryExecution.executedPlan
          tm.planMs += (System.nanoTime() - t0) / 1e6
          tm.planNodes += a.queryExecution.optimizedPlan.collect { case n => n }.size.toDouble
        }
        val filter = cat.map(x => col("meta")("cat") === x)
        timedOp("search", tm.search, s => tm.searchSpark += s) {
          store.search(q, K, filter).collect()
        }.foreach { rows =>
          check(matches(rows, q, cat, live), s"search $tag (cycle $c) differs from the mirror")
          if (timed) tm.recall += recall(rows, q, cat, live)
        }
      }

      (0 until rounds).foreach { r =>
        val stream = bulkStream + 1 + r
        val batch = (0 until AddRows).map { i =>
          val (v, cat) = row(seed, stream, i)
          (s"a${c}_${r}_$i", v, cat)
        }
        val df = spark.createDataFrame(
          java.util.Arrays.asList(batch.map { case (id, v, cat) => Row(id, v.toSeq, Map("cat" -> cat)) }: _*),
          inSchema)
        // an add's output is the store the following searches check
        timedOp("add", tm.add, s => tm.addSpark += s)(store.addVectors(df)).foreach { _ =>
          check(true, "")
          batch.foreach { case (id, v, cat) => live(id) = new Live(v, Exact.quantize(v), cat) }
        }
        (0 until SearchesPerRound).foreach { s =>
          val q = row(seed, stream + 500, s)._1
          search(s"$r.$s", q, if (s % 2 == 1) Some(rnd.nextInt(Categories).toString) else None)
        }
        val keys = live.keysIterator.toArray
        // distinct live ids, so every round's deletes count toward the threshold
        (0 until deleteRows).foreach { i =>
          val j = i + rnd.nextInt(keys.length - i)
          val t = keys(i); keys(i) = keys(j); keys(j) = t
        }
        val victims = keys.take(deleteRows).toSeq
        timedOp("delete", tm.delete, s => tm.deleteSpark += s)(store.delete(victims)).foreach { hit =>
          check(hit == victims.length, s"delete (cycle $c round $r) removed $hit of ${victims.length}")
          victims.foreach(live.remove)
        }
      }
      // persist: save, load and count the reloaded store
      if (persist) {
        val path = s"${o.work}/store-save-$c"
        var loaded: VectorStore = null
        val persisted = timedOp("persist", tm.persist, _ => ()) {
          val s0 = System.nanoTime()
          store.save(path) // the default id buckets, as callers save
          val s1 = System.nanoTime()
          loaded = VectorStore.load(spark, path)
          val n = loaded.count
          val s2 = System.nanoTime()
          if (timed) { tm.save += (s1 - s0) / 1e9; tm.load += (s2 - s1) / 1e9 }
          n
        }
        persisted.foreach { n =>
          check(n == live.size, s"reloaded store (cycle $c) counts $n rows, mirror ${live.size}")
          if (timed) tm.saveFiles += countFiles(new java.io.File(path), ".parquet")
          // the reloaded store answers like the mirror, filtered and not
          val q = row(seed, bulkStream + 999, 0)._1
          val rows = loaded.search(q, K).collect()
          check(matches(rows, q, None, live), s"reloaded store search (cycle $c) differs from the mirror")
          val rowsF = loaded.search(q, K, Some(col("meta")("cat") === "0")).collect()
          check(matches(rowsF, q, Some("0"), live), s"reloaded store filtered search (cycle $c) differs from the mirror")
        }
        deleteRecursively(new java.io.File(path))
      }
      spark.catalog.clearCache()
    }

    // untimed cycles on a smaller store pay class loading, JIT and codegen
    // on every path: the first, whose delete reaches the compaction
    // threshold at once, also saves and reloads; operations keep getting
    // faster over the next (a timed cycle after only the first read
    // 25-45% slower than the fourth). A probe warms with the first alone,
    // and saves and reloads in its timed cycle only
    runCycle(-1, timed = false, WarmRows, 1, VectorStore.DeletedThreshold, persist = !o.probe)
    (2 to (if (o.probe) 1 else WarmCycles)).foreach { c =>
      runCycle(-c, timed = false, WarmRows, Rounds, DeleteRows, persist = false)
    }
    System.gc()
    Host.phase("store: warm-up cycles done")
    val windowNs = (o.seconds * 1e9).toLong
    do {
      val (s0, a0, d0) = (tm.search.size, tm.add.size, tm.delete.size)
      // save + load is measured per layer only, in the first timed cycle of
      // a traced run; untraced runs check the reloaded store in the first
      // warm-up cycle
      // a probe (in a serve traced run) times one cycle on the smaller
      // store, so that the traced run ends in time
      runCycle(cycle, timed = true, if (o.probe) WarmRows else BulkRows, Rounds, DeleteRows,
        persist = o.trace && cycle == 0)
      cycle += 1
      Host.phase(f"store: cycle $cycle done, p50 search ${Stats.median(tm.search.drop(s0))}%.0f ms, " +
        f"add ${Stats.median(tm.add.drop(a0))}%.0f ms, delete ${Stats.median(tm.delete.drop(d0))}%.0f ms")
    } while (System.nanoTime() - started < windowNs || cycle < (if (o.probe) 1 else MinCycles))
    val stealS = Host.stealS() - steal0
    val heapMb = Host.heapMbAfterGc()

    val nSearch = tm.search.size.toDouble
    val nAdd = tm.add.size.toDouble
    val nDelete = tm.delete.size.toDouble
    res.putEndToEnd("setup_s", firstTimed, "s")
    res.putEndToEnd("heap_mb", heapMb, "MB")
    // the operation slots every workload reports: here op1, op2 and op3
    // are search, addVectors and delete
    res.putEndToEnd("op1_p50_ms", Stats.median(tm.search), "ms")
    res.putEndToEnd("op2_p50_ms", Stats.median(tm.add), "ms")
    res.putEndToEnd("op3_p50_ms", Stats.median(tm.delete), "ms")
    res.putEndToEnd("recall_at_10", Stats.mean(tm.recall), "ratio")
    if (o.trace) {
      res.put("store.search_jobs", tm.searchSpark.jobs / nSearch, "count")
      res.put("store.search_stages", tm.searchSpark.stages / nSearch, "count")
      res.put("store.search_tasks", tm.searchSpark.tasks / nSearch, "count")
      res.put("store.plan_nodes", Stats.mean(tm.planNodes), "count")
      res.put("store.plan_ms", Stats.median(tm.planMs), "ms")
      res.put("store.search_p90_ms", Stats.quantile(tm.search, 0.9), "ms")
      res.put("store.add_jobs", tm.addSpark.jobs / nAdd, "count")
      res.put("store.add_tasks", tm.addSpark.tasks / nAdd, "count")
      res.put("store.delete_jobs", tm.deleteSpark.jobs / nDelete, "count")
      res.put("store.persist_s", Stats.median(tm.persist) / 1e3, "s")
      res.put("store.save_files", Stats.median(tm.saveFiles), "count")
      res.put("store.save_s", Stats.median(tm.save), "s")
      res.put("store.load_s", Stats.median(tm.load), "s")
      res.put("host.steal_s", stealS, "s")
    }
  }

  /** Whether a search's rows equal the mirror's exact top-k: ids, scores
    * (bitwise) and metadata, in rank order. */
  def matches(rows: Array[Row], q: Array[Float], cat: Option[String],
      live: scala.collection.Map[String, Live]): Boolean = {
    val want = exactTop(q, cat, live)
    rows.length == want.length && rows.zip(want).forall { case (r, (id, s)) =>
      r.getString(0) == id &&
        java.lang.Double.compare(r.getDouble(1), s) == 0 &&
        r.getMap[String, String](2).get("cat").contains(live(id).cat)
    }
  }

  /** Share of the mirror's exact top-k ids among a search's rows. */
  def recall(rows: Array[Row], q: Array[Float], cat: Option[String],
      live: scala.collection.Map[String, Live]): Double = {
    val want = exactTop(q, cat, live).map(_._1).toSet
    if (want.isEmpty) 1.0 else rows.count(r => want(r.getString(0))).toDouble / want.size
  }

  /** The mirror's exact top-k: (id, score) of the live rows that pass the
    * filter, best first. */
  private def exactTop(q: Array[Float], cat: Option[String],
      live: scala.collection.Map[String, Live]): Seq[(String, Double)] =
    Exact.topK(live.iterator.collect {
      case (id, l) if cat.forall(_ == l.cat) => (Exact.cosFloatInt8(q, l.code), id)
    }, K)

  private def countFiles(dir: java.io.File, suffix: String): Double = {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
      else if (f.getName.endsWith(suffix)) 1L else 0L
    walk(dir).toDouble
  }

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }
}
