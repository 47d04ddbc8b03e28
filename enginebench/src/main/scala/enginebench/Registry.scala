package enginebench

import graft.{Q, SparkEntry, Tables}
import org.apache.spark.sql.{Row, SparkSession}

import scala.collection.mutable.ArrayBuffer

/** `registry`: oracle-gated `SparkEntry.registry` queries on the seeded
  * fixture, in two fixed groups — `short`, where per-query fixed cost
  * (table reads and schema inference, job scheduling, planning) dominates,
  * and `iter`, a multi-job iterative query where jobs, checkpoints and
  * shuffle dominate. Measured per layer only, by every traced run: two
  * untimed passes pay JIT and codegen, the first also writing each result
  * for run.py's DuckDB oracle check; a fixed number of rounds of one
  * `short` pass and one `iter` pass follow, and every one of their results
  * must equal the oracle-checked one. */
object Registry {
  val Short: Seq[String] = Seq("q_mips", "q_knn_filtered", "q_anova", "q_chunk_windows")
  val Iter: Seq[String] = Seq("q_cc_doubling")
  val Rounds = 2

  private lazy val byName: Map[String, Q] = SparkEntry.registry.map(q => q.name -> q).toMap

  def groups: Seq[(String, Seq[Q])] = Seq("short" -> Short.map(byName), "iter" -> Iter.map(byName))

  /** A result's canonical text: its rows in order, each as Spark prints it. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r.toString + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /** A query's rows, as parquet, for run.py's oracle check. */
  def writeResult(spark: SparkSession, work: String, name: String, rows: Array[Row],
      schema: org.apache.spark.sql.types.StructType): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .coalesce(1).write.mode("overwrite").parquet(s"$work/results/$name")

  /** The oracle SQL of the given queries, and zero timed executions unless
    * the caller writes its own counts afterwards. */
  def writeOracle(work: String, names: Seq[String]): Unit = {
    writeJson(s"$work/results/oracle_sql.json", names.map(n => n -> Json.str(SparkEntry.oracleSql(n))))
    writeJson(s"$work/results/executions.json", names.map(_ -> "0"))
  }

  private def writeJson(path: String, kv: Iterable[(String, String)]): Unit = {
    val w = new java.io.PrintWriter(path, "UTF-8")
    try w.print(kv.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}"))
    finally w.close()
  }

  final class Group(val name: String, val qs: Seq[Q]) {
    val passS = ArrayBuffer.empty[Double]
    var build, plan, exec = 0.0
    var spark = SparkSnap.zero
    var buildJobs = 0L
    var passes = 0
  }

  def run(o: Opts, res: Result, spark: SparkSession): Unit = {
    val counts = SparkCounts.register(spark.sparkContext)
    val dir = o.fixture
    val gs = groups.map { case (n, qs) => new Group(n, qs) }
    val all = gs.flatMap(_.qs)
    val executions = scala.collection.mutable.LinkedHashMap.empty[String, Long]
    val cached0 = spark.sparkContext.getPersistentRDDs.size

    // untimed first pass: warm-up, and the results the oracle checks
    val reference = all.map { q =>
      val df = q.fn(spark, dir)
      val rows = df.collect()
      writeResult(spark, o.work, q.name, rows, df.schema)
      executions(q.name) = 0L
      q.name -> digest(rows)
    }.toMap
    writeOracle(o.work, all.map(_.name))
    // a second untimed pass: the first leaves parts of the plans still
    // compiling, and timed rounds would otherwise read faster the later
    // they come
    all.foreach(q => q.fn(spark, dir).collect())
    spark.catalog.clearCache()
    System.gc()
    Host.phase("registry: warm-up passes done")

    val steal0 = Host.stealS()
    (0 until Rounds).foreach { _ =>
      gs.foreach { g =>
        val s0 = counts.snap()
        val p0 = System.nanoTime()
        g.qs.foreach { q =>
          try Trace.span(s"registry.${g.name}.${q.name}") {
            val t0 = System.nanoTime()
            val j0 = counts.snap().jobs
            val df = Trace.span("registry.build")(q.fn(spark, dir))
            val t1 = System.nanoTime()
            g.buildJobs += counts.snap().jobs - j0
            Trace.span("registry.plan")(df.queryExecution.executedPlan)
            val t2 = System.nanoTime()
            val rows = Trace.span("registry.exec")(df.collect())
            val t3 = System.nanoTime()
            g.build += (t1 - t0) / 1e9; g.plan += (t2 - t1) / 1e9; g.exec += (t3 - t2) / 1e9
            executions(q.name) += 1
            res.op(digest(rows) == reference(q.name),
              s"${q.name} differs from its oracle-checked first result")
          } catch { case e: Throwable => res.opFailed(q.name, e) }
        }
        g.passS += (System.nanoTime() - p0) / 1e9
        g.passes += 1
        g.spark += counts.snap() - s0
        Host.phase(f"registry: ${g.name} pass ${g.passS.last}%.2f s")
      }
    }
    val stealS = Host.stealS() - steal0
    // RDDs the passes left persisted (other parts of the run may leave some)
    val cached = spark.sparkContext.getPersistentRDDs.size - cached0

    writeJson(s"${o.work}/results/executions.json", executions.map { case (k, v) => k -> v.toString })

    gs.foreach { g =>
      val p = g.passes.toDouble
      val pre = s"registry.${g.name}"
      val wall = g.passS.sum
      res.put(s"$pre.build_s", g.build / p, "s")
      res.put(s"$pre.plan_s", g.plan / p, "s")
      res.put(s"$pre.exec_s", g.exec / p, "s")
      res.put(s"$pre.jobs", g.spark.jobs / p, "count")
      res.put(s"$pre.build_jobs", g.buildJobs / p, "count")
      res.put(s"$pre.stages", g.spark.stages / p, "count")
      res.put(s"$pre.tasks", g.spark.tasks / p, "count")
      res.put(s"$pre.task_cpu_s", g.spark.taskCpuNs / 1e9 / p, "s")
      res.put(s"$pre.shuffle_mb", g.spark.shuffleBytes / 1048576.0 / p, "MB")
      res.put(s"$pre.spill_mb", g.spark.spillBytes / 1048576.0 / p, "MB")
      res.put(s"$pre.gc_s", g.spark.gcMs / 1e3 / p, "s")
      res.put(s"$pre.cpu_util", g.spark.taskCpuNs / 1e9 / (wall * Host.cores), "ratio")
    }
    res.put("registry.cached_rdds_after", cached.toDouble, "count")
    // a bare Tables.read per fixture table: schema inference and listing
    val tables = Seq("region", "nation", "supplier", "customer", "part", "orders",
      "lineitem", "documents", "embeddings", "events")
    val reads = tables.map { t =>
      val s0 = counts.snap()
      val t0 = System.nanoTime()
      Trace.span(s"tables.read.$t")(Tables.read(spark, dir, t))
      val ms = (System.nanoTime() - t0) / 1e6
      (ms, (counts.snap() - s0).jobs)
    }
    res.put("tables.read_ms", Stats.mean(reads.map(_._1)), "ms")
    res.put("tables.read_jobs", Stats.mean(reads.map(_._2.toDouble)), "count")
    res.put("host.steal_s", stealS, "s")
  }
}
