package graft

import org.apache.spark.sql.SparkSession

/** Deterministic per-row clustered-corpus generator shared by the serving
  * blocks: vector i = centers(i % nCenters) + unit Gaussian noise seeded by
  * splitmix64(i). Per-row seeding (not a sequential stream) is what lets the
  * SAME corpus be materialized executor-side (spark.range → mapPartitions,
  * nothing row-scale ships from the driver — the r15 toSeq.toDF path shipped
  * 8.6–17.7 MB tasks) AND driver-side (the in-process Local* serving replicas
  * under test), bit-identical. Serializable: the generator rides in task
  * closures. */
object CorpusGen extends Serializable {
  /** splitmix64 finalizer (public-domain constants; same mixer as
    * CpuCanary's table fill). */
  def mix64(i: Long): Long = {
    var z = i + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  /** Clustered vector i: center (i % nCenters) + N(0,1) noise from a
    * per-row-seeded java.util.Random — deterministic given i alone. */
  def clusteredVec(centers: Array[Array[Float]], i: Long): Array[Float] = {
    val c = centers((i % centers.length).toInt)
    val r = new java.util.Random(mix64(i))
    Array.tabulate(c.length)(j => c(j) + r.nextGaussian().toFloat)
  }
}

/** Benchmark main: times every registered query at SPARK_GRAFT_SF_DIR and
  * prints the artifact JSON line {"metric","value","unit","queries","sf"}.
  * Every timing, steal and canary reading goes through graft.Measure.
  *
  * Materialization uses the noop sink (full plan execution incl. projections
  * that a count() would prune away), after a warm-up action to amortize JVM/
  * codegen startup out of the first-measured query.
  *
  *  - WALL-CLOCK BUDGET: elapsed time is checked against
  *    SPARK_GRAFT_BENCH_BUDGET_MIN (default 50) before every sweep retry,
  *    every one-shot-block retry and the optional scale blocks; a skipped
  *    step is recorded in "skipped_budget" instead of running into the kill.
  *  - INCREMENTAL EMISSION: the full artifact object (metric "total",
  *    "partial":true) is printed after the sweep+movers section and again
  *    after every serving block, so a kill at ANY point leaves the driver's
  *    tail capture a complete parseable line; the final emission carries
  *    "partial":false. bench_last.json is rewritten at each emission.
  *  - SEGMENT-LEVEL SWEEP ACCEPTANCE (NOTES_r15 §10): steal on this host is
  *    bursty (clean 1–5-minute gaps between 100+ CPU-s bursts), so a full
  *    ~5-minute sweep almost never certifies end-to-end even when most
  *    queries ran clean. The registry is split into NSeg contiguous segments
  *    with steal + canary sampled at every boundary; acceptance is PER
  *    SEGMENT, and each query's statistics come from the sweeps whose
  *    segment was clean.
  */
object Bench {
  // ---- wall-clock budget (r15 verdict item 1a) ----
  // Default 50 min: the r14 graded run (same protocol, no retries)
  // completed in 48:38 INCLUDING sbt startup, and the r15 kill came only
  // after ~75+ min of retries — so 50 covers the normal path with margin
  // while the per-step gates below degrade the expensive extras
  // (movers children, 500k/1m, retries) first when a slow epoch eats
  // the window. Priority under pressure mirrors the r15 verdict:
  // complete artifact > serving_4m (the open claim) > 500k/1m > movers
  // child A/Bs.
  private var benchT0: Long = 0L
  private var budgetMin: Double = 50.0
  private def elapsedMin: Double = (System.nanoTime() - benchT0) / 6e10
  private def budgetLeft: Double = budgetMin - elapsedMin
  private val skippedBudget =
    scala.collection.mutable.ArrayBuffer.empty[String]
  private def budgetOk(step: String, needMin: Double): Boolean = {
    val ok = budgetLeft > needMin
    if (!ok) {
      skippedBudget += step
      System.err.println(
        f"[bench-budget] SKIP $step: ${budgetLeft}%.1f min left < $needMin%.1f needed (elapsed ${elapsedMin}%.1f of $budgetMin%.1f)")
    }
    ok
  }

  // The sweep/session gate uses a looser gather bound than CpuCanary's
  // fresh-child-JVM verdict: a canary read seconds after a 32-thread Spark
  // stage (or this JVM's own serving scans) finishes sees the JVM's own
  // residual LLC/TLB traffic (measured: sweep-adjacent gather 1.4-2.4 while
  // a quiesced fresh JVM reads 1.0-1.2 in the same epoch), so 1.4 would
  // reject windows for self-inflicted cache state — r15's iso-rep filter
  // did exactly that (ADVICE r16 medium: spuriously dirty iso reps ⇒
  // iso_min_clean null ⇒ the child-JVM A/B never fired in the one case it
  // was built for). ALU and steal keep their tight bounds — they are not
  // self-confounded. Child-JVM epochs (Serving4m) keep the tight 1.4.
  private val SessionGatherClean = 2.0

  // Min-of-3 per query over INTERLEAVED full sweeps (sweep 1 runs every
  // query once, then sweep 2, then sweep 3): the min is the variance-robust
  // statistic for "cost of this plan" (a real regression moves the min
  // too), and interleaving samples each query's reps from three epochs
  // minutes apart, so machine-heat drift cancels per query instead of
  // biasing whole sweeps (NOTES_r6 isolation table, r12 verdict item 1).
  private val REPS = 3
  // Sweep epoch gate (NOTES_r15 §10): a (sweep, segment) is accepted when
  // the segment's steal is within its share of the sweep budget and both
  // bounding canaries are clean. "epoch_dirty" means some segment never
  // collected REPS clean samples; beyond REPS, at most MaxSweeps sweeps.
  private val NSeg = 4
  private val MaxSweeps = 5
  private val SweepStealBudget = 50.0
  private val SegBounds = Measure.Bounds(SweepStealBudget / NSeg, SessionGatherClean)
  // one-shot serving blocks (serving_isolated, serving_500k/1m)
  private val BlockBounds = Measure.Bounds(10.0, SessionGatherClean)
  // single query reps: isolated mover reps and the steal_suspect flag
  // (empirically clean reps carry <= 0.9 CPU-s of steal, poisoned >= 8)
  private val RepBounds = Measure.Bounds(2.0, SessionGatherClean)

  /** The 50k serving protocols, in artifact order (ref_<tier>_qps_50k). */
  private val RefTiers =
    Seq("search", "batch", "concurrent", "pq", "bq", "ivf", "ivfpq", "ivfbq")

  def main(args: Array[String]): Unit = {
    benchT0 = System.nanoTime()
    budgetMin = sys.env.get("SPARK_GRAFT_BENCH_BUDGET_MIN")
      .flatMap(s => scala.util.Try(s.toDouble).toOption).getOrElse(50.0)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.fromEnv("32", appName = "graft-bench")

    // Warm up: JVM + parquet footer reads.
    Tables.lineitem(spark, sfDir).count()

    // The reference search protocol at its published operating point,
    // measured FIRST (clean JVM — the cold readings). Per-rep QPS is kept
    // so the artifact carries its own variance annotation.
    // SPARK_GRAFT_SKIP_SERVING=1 runs the sweep without the serving
    // protocols — the A/B lever for attributing sweep-wide shifts to
    // serving-side state (broadcast blocks, heap pressure) vs the queries.
    val skipServing = sys.env.get("SPARK_GRAFT_SKIP_SERVING").contains("1")
    val servingReps =
      if (skipServing) Map.empty[String, Seq[Double]] else servingProtocols(spark)
    // decouple the sweep from serving-section heap state: drop dangling
    // broadcast/block refs before the first measured query (untimed)
    System.gc()

    // The memo builds, each reported as its OWN line: the dedup-label
    // index (q_dedup_components / q_dedup_keepers consume it) and the
    // basket edge set (q_triangles / q_triangles_sampled / q_pagerank).
    // Cleared first so the build is actually measured here; the sweep's
    // per-query numbers are then the serving cost.
    val labelsBuildSec = memoBuildSec(graft.ops.TextQueries.clearComponentLabels(spark))(
      graft.ops.TextQueries.componentLabels(spark, sfDir).count())
    val edgesBuildSec = memoBuildSec(graft.ops.ExtendedQueries.clearBasketEdges(spark))(
      graft.ops.ExtendedQueries.basketEdges(spark, sfDir).count())

    val board = sweepBoard(spark, sfDir)
    val (moversJson, movers) = diffMovers(board.mins)
    val moverIso = moversIsolated(spark, sfDir, movers)

    val art = new Artifact(sfDir, board, labelsBuildSec, edgesBuildSec,
      servingReps, moversJson, moverIso)
    art.emit(partial = true)

    System.gc()
    if (!skipServing) {
      art.servingIso = servingIsolated(spark)
      art.emit(partial = true)
    }
    System.gc()
    // the 500k serving point (run once, after the isolated block — its
    // own builds are heavyweight and must not heat the 50k readings)
    if (!skipServing && budgetOk("serving_500k", 22.0)) {
      art.s500 = servingClustered(spark, "serving_500k", n = 500000,
        nCenters = 1000, retryBudgetMin = 20.0)
      art.emit(partial = true)
    }
    System.gc()
    // the 1M crossover point (r13 verdict item 2): same cells/nprobe (scan
    // fraction constant) so doubling the corpus doubles each query's scan
    // work: IVF's scan grows at 128 int8 B/row, IVFPQ's at 8 B/row,
    // IVFBQ's at 16 B/row. serving_4m carries the one open claim, so 1m
    // requires enough budget for BOTH (its own ~7 min plus the 4m reserve).
    if (!skipServing && budgetOk("serving_1m", 18.0)) {
      art.s1m = servingClustered(spark, "serving_1m", n = 1000000,
        nCenters = 2000, retryBudgetMin = 18.0)
      art.emit(partial = true)
    }
    System.gc()
    // the 4M CROSSOVER point, run last (heaviest build). Entry gate 10:
    // the child's 4M build alone is ~5 min, so a clamped timeout under
    // ~9 min is guaranteed waste — skip instead.
    if (!skipServing && budgetOk("serving_4m", 10.0)) art.s4m = serving4m(spark)
    System.gc()
    art.emit(partial = false)
    spark.stop()
  }

  /** The artifact under construction (r15 verdict item 1b): the sweep
    * side is fixed, the serving-block payloads start as nulls and are
    * filled in as blocks complete; emit(partial=true) prints the CURRENT
    * full object after every block so a driver kill at any point still
    * leaves a complete parseable line in the tail. Exactly the final
    * emission carries "partial":false. */
  private final class Artifact(sfDir: String, board: Board,
      labelsBuildSec: Double, edgesBuildSec: Double,
      servingReps: Map[String, Seq[Double]], moversJson: String, moverIso: String) {
    var servingIso =
      """"serving_isolated":null,"serving_isolated_dirty":false"""
    var s500 = """"serving_500k":null"""
    var s1m = """"serving_1m":null"""
    var s4m = """"serving_4m":null"""
    private val servingVar =
      if (servingReps.isEmpty) """"serving_variance":null"""
      else s""""serving_variance":${qpsRanges(servingReps)}"""
    private val refQps = RefTiers.map { k =>
      f""""ref_${k}_qps_50k":${servingReps.get(k).fold(0.0)(_.max)}%.0f"""
    }.mkString(",")
    private val total = board.total
    private val nQueries = board.results.size
    private def skippedJson: String =
      skippedBudget.map("\"" + _ + "\"").mkString("[", ",", "]")
    private def fullLine(partial: Boolean): String =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","protocol":3,"reps":$REPS,"stat":"min","interleaved":true,"partial":$partial,"budget_min":$budgetMin%.1f,"elapsed_min":$elapsedMin%.1f,"skipped_budget":$skippedJson,"n_queries":$nQueries,"total_median":${board.totalMedian}%.3f,"labels_build_sec":$labelsBuildSec%.3f,"edges_build_sec":$edgesBuildSec%.3f,"queries":${board.queriesJson},$refQps,"baseline_ref_qps_50k":1100,"serving_cold_jvm":true,$servingVar,$servingIso,$s500,$s1m,$s4m,$moversJson,$moverIso,${board.stealJson},"sf":"$sfDir"}"""
    // Compact MICRO headline, printed LAST at every emission. The driver
    // keeps only a ~2,000-char TAIL of stdout and parses a complete JSON
    // line found inside it, so the last printed line must stay small:
    // scalar summaries only (per-block numbers extracted from the block
    // payloads; the full object lives in bench_last.json and in the
    // preceding stdout line). Metric stays "total_headline"/"headline":
    // true so a full-object consumer cannot mistake it for the object.
    private def extractNum(json: String, key: String): String =
      ("\"" + key + "\":(-?[0-9.]+|true|false)").r
        .findFirstMatchIn(json).map(_.group(1)).getOrElse("null")
    private def blockSum(json: String, label: String): String =
      if (!json.contains(s""""$label":{""")) s""""${label}_sum":null"""
      else s""""${label}_sum":{"flat_qps":${extractNum(json, "flat_qps")},"ivf_qps":${extractNum(json, "ivf_qps")},"ivfpq_qps":${extractNum(json, "ivfpq_qps")},"ivfbq_qps":${extractNum(json, "ivfbq_qps")},"ivfpq_vs_ivf":${extractNum(json, "ivfpq_vs_ivf")},"clean_epochs":${extractNum(json, "clean_epochs")},"epoch_dirty":${extractNum(json, "epoch_dirty")}}"""
    private def micro(partial: Boolean): String =
      f"""{"metric":"total_headline","value":$total%.3f,"unit":"sec","protocol":3,"reps":$REPS,"stat":"min","interleaved":true,"partial":$partial,"headline":true,"budget_min":$budgetMin%.1f,"elapsed_min":$elapsedMin%.1f,"skipped_budget":$skippedJson,"n_queries":$nQueries,"epoch_dirty":${board.epochDirty},"segment_clean":${board.segClean.mkString("[", ",", "]")},"sweeps_run":${board.sweepsRun},"labels_build_sec":$labelsBuildSec%.3f,"edges_build_sec":$edgesBuildSec%.3f,$refQps,"baseline_ref_qps_50k":1100,"serving_cold_jvm":true,$servingIso,${blockSum(s500, "serving_500k")},${blockSum(s1m, "serving_1m")},${blockSum(s4m, "serving_4m")},"sf":"$sfDir"}"""
    def emit(partial: Boolean): Unit = {
      val line = fullLine(partial)
      println(line)
      val m = micro(partial)
      println(m)
      if (m.length > 1900) System.err.println(
        s"[bench] WARNING: micro headline ${m.length} chars — may outgrow the driver's 2,000-char tail window")
      // persisted at EVERY emission so a driver kill leaves the newest
      // partial object where the round artifacts live
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("bench_last.json"), line + "\n")
      catch { case e: Throwable => System.err.println(s"[bench] sidecar write failed: $e") }
    }
  }

  private def arr(xs: Iterable[Double], fmt: String): String =
    xs.map(fmt.format(_)).mkString("[", ",", "]")

  /** {"tier":[worst,best],...} QPS per protocol, keys sorted. */
  private def qpsRanges(reps: Map[String, Seq[Double]]): String =
    reps.toSeq.sortBy(_._1).map { case (k, r) =>
      f""""$k":[${r.min}%.0f,${r.max}%.0f]"""
    }.mkString("{", ",", "}")

  /** One memo build, timed after clearing it; untimed GC after. */
  private def memoBuildSec(clear: => Unit)(build: => Unit): Double = {
    clear
    val sec = Measure.seconds(build)
    System.gc()
    sec
  }

  /** One sweep over the registry: epoch s runs segment s's queries. */
  private final case class SweepRec(
      ep: Measure.Epochs[Seq[(String, (Double, Double))]]) {
    val reps: Map[String, (Double, Double)] = ep.values.flatten.toMap
    val segAcc: Vector[Boolean] = ep.steal.indices.map(ep.clean(SegBounds, _)).toVector
    def total: Double = reps.values.map(_._1).sum
  }

  /** The sweep board: per query (min, median) over its accepted reps, and
    * the artifact fragment carrying every attempt's steal + canary
    * evidence. */
  private final case class Board(results: Seq[(String, (Double, Double))],
      stealJson: String, epochDirty: Boolean, segClean: Seq[Int], sweepsRun: Int) {
    def mins: Map[String, Double] = results.map { case (k, (v, _)) => k -> v }.toMap
    def total: Double = results.map(_._2._1).sum
    def totalMedian: Double = results.map(_._2._2).sum
    def queriesJson: String = results
      .map { case (k, (v, _)) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
  }

  private def sweepBoard(spark: SparkSession, sfDir: String): Board = {
    val names = SparkEntry.registry
    def segOf(qi: Int): Int = (qi * NSeg) / names.length
    val segments = (0 until NSeg).map(s => names.indices.filter(segOf(_) == s).map(names))
    val (calAlu, calGather) = CpuCanary.calibrate()
    val sweeps = scala.collection.mutable.ArrayBuffer.empty[SweepRec]
    def segCleanCount(s: Int): Int = sweeps.count(_.segAcc(s))
    def allSegsSatisfied: Boolean =
      (0 until NSeg).forall(s => segCleanCount(s) >= REPS)
    var continueSweeps = true
    while (continueSweeps && sweeps.length < MaxSweeps &&
        (sweeps.length < REPS || !allSegsSatisfied)) {
      // beyond the mandatory REPS sweeps, a retry must fit the budget
      // with room for the serving blocks (~30 min of reserve)
      if (sweeps.length >= REPS &&
          !budgetOk("sweep_retry", sweeps.last.total / 60.0 * 1.2 + 28.0))
        continueSweeps = false
      if (continueSweeps) {
        val s = SweepRec(Measure.epochs(NSeg) { seg =>
          segments(seg).map(q => q.name -> Measure.queryRep(spark, sfDir, q, "bench"))
        })
        sweeps += s
        System.err.println(f"[bench] sweep ${sweeps.length}/$MaxSweeps done: " +
          f"${s.total}%.1f s (steal ${s.ep.totalSteal}%.0f cpu-s, " +
          s"seg_steal ${arr(s.ep.steal, "%.0f")}, " +
          s"seg_accepted ${s.segAcc.mkString("[", ",", "]")}, gather " +
          s"${arr(s.ep.canaries.map(_._2), "%.2f")}; " +
          s"seg_clean ${(0 until NSeg).map(segCleanCount).mkString("[", ",", "]")}/$REPS)")
      }
    }
    val segClean = (0 until NSeg).map(segCleanCount)
    // per-query (seconds, steal) reps: sweeps whose SEGMENT was clean;
    // fallback to all sweeps when a segment never certified (loud via
    // segment_clean)
    val repsByQ = names.zipWithIndex.map { case (q, qi) =>
      val acc = sweeps.filter(_.segAcc(segOf(qi)))
      q.name -> (if (acc.nonEmpty) acc else sweeps).map(_.reps(q.name)).toVector
    }
    val results = repsByQ.map { case (k, reps) =>
      val ts = reps.map(_._1)
      k -> (ts.min, ts.sorted.apply(ts.length / 2))
    }
    // queries whose CHOSEN (min) rep carried heavy steal — their sweep
    // reading is flagged as host-epoch-contaminated in the artifact
    val stealSuspect = repsByQ.flatMap { case (k, reps) =>
      val st = reps.minBy(_._1)._2
      if (RepBounds.clean(st)) None else Some(k -> st)
    }
    val suspects = stealSuspect
      .map { case (k, s) => f""""$k":$s%.1f""" }.mkString("{", ",", "}")
    // every attempt, accepted or not, with its steal + canary evidence
    // (the canary arrays carry the NSeg+1 segment-boundary readings)
    val attempts = sweeps.map { s =>
      f"""{"total":${s.total}%.1f,"steal":${s.ep.totalSteal}%.0f,""" +
        s""""seg_steal":${arr(s.ep.steal, "%.0f")},""" +
        s""""seg_accepted":${s.segAcc.mkString("[", ",", "]")},""" +
        s""""canary_alu":${arr(s.ep.canaries.map(_._1), "%.2f")},""" +
        s""""canary_gather":${arr(s.ep.canaries.map(_._2), "%.2f")},""" +
        s""""accepted":${s.segAcc.forall(identity)}}"""
    }.mkString("[", ",", "]")
    val epochDirty = !allSegsSatisfied
    val stealJson =
      s""""sweep_steal_sec":${arr(sweeps.map(_.ep.totalSteal), "%.0f")},"steal_suspect":$suspects,""" +
        s""""sweep_attempts":$attempts,"sweeps_used":${sweeps.length},""" +
        s""""segments":$NSeg,"segment_clean":${segClean.mkString("[", ",", "]")},""" +
        f""""epoch_dirty":$epochDirty,"canary_cal":[$calAlu%.4f,$calGather%.4f]"""
    Board(results, stealJson, epochDirty, segClean, sweeps.length)
  }

  /** Cross-run mover flagging: diffs this run's per-query mins against the
    * previous bench_last.json (before it is overwritten), reports board
    * shrink — a DROPPED query is a finding — and the queries past the
    * relative+absolute threshold, on stderr and as the artifact's
    * "movers"/"board_dropped" fragment. Returns the fragment and the
    * movers (query, prev, now). */
  private def diffMovers(minsNow: Map[String, Double])
      : (String, Seq[(String, Double, Double)]) = {
    val prevPath = java.nio.file.Paths.get("bench_last.json")
    val diff = try {
      Option.when(java.nio.file.Files.exists(prevPath))(
        new com.fasterxml.jackson.databind.ObjectMapper()
          .readTree(java.nio.file.Files.readString(prevPath)))
        .flatMap(prev => Option(prev.get("queries"))).map { pq =>
          val prevMins = pq.properties().iterator()
          val pm = scala.collection.mutable.Map.empty[String, Double]
          while (prevMins.hasNext) {
            val e = prevMins.next(); pm(e.getKey) = e.getValue.asDouble()
          }
          val dropped = pm.keySet.diff(minsNow.keySet).toSeq.sorted
          val added = minsNow.keySet.diff(pm.keySet).toSeq.sorted
          if (dropped.nonEmpty)
            System.err.println(s"[bench-diff] DROPPED from board: ${dropped.mkString(", ")}")
          if (added.nonEmpty)
            System.err.println(s"[bench-diff] added: ${added.mkString(", ")}")
          val shared = pm.keySet.intersect(minsNow.keySet)
          val os = shared.toSeq.map(pm).sum
          val ns = shared.toSeq.map(minsNow).sum
          System.err.println(
            f"[bench-diff] shared ${shared.size} queries: $os%.1fs -> $ns%.1fs (${(ns / math.max(os, 1e-9) - 1) * 100}%+.0f%%)")
          val movers = shared.toSeq
            .map(k => (k, pm(k), minsNow(k)))
            .filter { case (_, o, n) => math.abs(n - o) > 0.4 && n / math.max(o, 1e-9) > 1.3 || o / math.max(n, 1e-9) > 1.3 && math.abs(n - o) > 0.4 }
            .sortBy { case (_, o, n) => -(math.abs(n - o)) }
            .take(10)
          movers.foreach { case (k, o, n) =>
            System.err.println(f"[bench-diff]   MOVER $k%-28s $o%.3f -> $n%.3f (${n - o}%+.2fs)")
          }
          val moversArr = movers
            .map { case (k, o, n) => f"""{"q":"$k","prev":$o%.3f,"now":$n%.3f}""" }
            .mkString("[", ",", "]")
          val droppedArr = dropped.map("\"" + _ + "\"").mkString("[", ",", "]")
          (s""""movers":$moversArr,"board_dropped":$droppedArr""", movers)
        }
    } catch { case e: Throwable => System.err.println(s"[bench-diff] skipped: $e"); None }
    diff.getOrElse((""""movers":null,"board_dropped":null""", Seq.empty))
  }

  /** Isolated A/B for this run's own movers (the QTime protocol: 4 reps,
    * min, untimed clearCache+GC between reps), so the artifact carries its
    * own attribution ("movers_isolated"). Sub-second movers are the
    * documented noise class (NOTES_r12 §4) — only movers whose prev or
    * sweep reading is >= 1 s are re-measured. iso_min ~ prev means the
    * sweep reading was epoch state (heat/GC/registry growth), iso_min ~
    * sweep(now) means the plan itself moved. */
  private def moversIsolated(spark: SparkSession, sfDir: String,
      movers: Seq[(String, Double, Double)]): String = {
    val isoTargets = movers.filter { case (_, o, n) => math.max(o, n) >= 1.0 }
    if (isoTargets.isEmpty) """"movers_isolated":null""" else {
    // at most 3 child-JVM re-measures per run (each spawns a fresh Spark
    // session — minutes, not seconds)
    var childBudget = 3
    System.gc()
    // per-mover budget gate: the serving blocks downstream need ~16 min
    // of reserve — once a mover would eat into it, the REST of the mover
    // list is skipped (recorded), not just this one (elapsed only grows)
    var moversBudgetOk = true
    val isoJson = isoTargets.flatMap { case (k, o, n) =>
      if (moversBudgetOk && !budgetOk(s"movers_iso:$k", 18.0))
        moversBudgetOk = false
      if (!moversBudgetOk) None
      else Some {
        val q = SparkEntry.registry.find(_.name == k).get
        // the canary BEFORE each rep decides it with the rep's steal: a
        // rep is clean only if the window could deliver calibrated
        // throughput (steal alone is one-sided)
        val ep = Measure.epochs(4)(_ => Measure.queryRep(spark, sfDir, q, "bench-iso"))
        val reps = ep.values
        val pre = ep.canaries.init
        // the steal- AND canary-clean minimum is THE attribution number.
        // The gather bound here is the SESSION bound: these reps run
        // seconds after 3+ full sweeps and the canary sees this JVM's own
        // residual cache state.
        val clean = reps.indices.filter(i => RepBounds.clean(reps(i)._2, pre(i))).map(reps(_)._1)
        val stealClean = reps.filter(r => RepBounds.clean(r._2)).map(_._1)
        val cleanMin = if (clean.nonEmpty) f"${clean.min}%.3f" else "null"
        // when the clean reading STILL sits >1.3x prev, the remaining
        // suspect is this JVM's own JIT/code-cache state after 3+ sweeps
        // of codegen'd queries — re-measure once in a fresh child JVM;
        // child_min ~ prev convicts the session JVM, child_min ~ sweep
        // convicts the plan. Also fires when NO rep was canary-clean but
        // the steal-clean ones sit >1.3x prev (the degraded-session case).
        val childTrigger =
          (clean.nonEmpty && clean.min > o * 1.3) ||
            (clean.isEmpty && stealClean.nonEmpty && stealClean.min > o * 1.3)
        val childMin =
          if (childTrigger && childBudget > 0 && budgetOk(s"qtime_child:$k", 28.0)) {
            childBudget -= 1
            qtimeChildMin(k, sfDir).map(v => f"$v%.3f").getOrElse("null")
          } else "null"
        val isoMin = reps.map(_._1).min
        System.err.println(f"[bench-iso] $k%-24s prev=$o%.2f sweep=$n%.2f iso_min=$isoMin%.2f iso_min_clean=$cleanMin child_min=$childMin")
        f""""$k":{"prev":$o%.3f,"sweep":$n%.3f,"iso_min":$isoMin%.3f,"iso_min_clean":$cleanMin,"child_min":$childMin,"iso_reps":[${reps.map(t => f"${t._1}%.3f").mkString(",")}],"iso_steal":[${reps.map(t => f"${t._2}%.1f").mkString(",")}],"iso_canary_alu":[${pre.map(c => f"${c._1}%.2f").mkString(",")}],"iso_canary_gather":[${pre.map(c => f"${c._2}%.2f").mkString(",")}]}"""
      }
    }.mkString("{", ",", "}")
    s""""movers_isolated":$isoJson"""
    }
  }

  /** Post-sweep isolated serving re-measure: the pre-sweep run is the
    * cold/clean-JVM reading (its first reps sit below baseline before JIT
    * warm-up), this one is fully JIT-warmed and uncontended, so the
    * artifact carries an unambiguous cold/hot pair. It is the
    * 2x-vs-baseline gate number, so it carries a steal + canary verdict
    * and re-runs once if its window was dirty; [worst, best] QPS across
    * its reps — the worst WARM reading is the number the gate should be
    * judged on. */
  private def servingIsolated(spark: SparkSession): String = {
    val w = Measure.retryOnce[Measure.Epochs[Map[String, Seq[Double]]]](
      "serving_isolated", !_.clean(BlockBounds, 0),
      budgetOk("serving_isolated_retry", 26.0))(
      Some(Measure.window(servingProtocols(spark)))).get
    val (pre, post) = (w.canaries(0), w.canaries(1))
    f""""serving_isolated":${qpsRanges(w.values(0))},"serving_isolated_dirty":${!w.clean(BlockBounds, 0)},"serving_isolated_steal":${w.steal(0)}%.0f,"serving_isolated_canary_alu":[${pre._1}%.2f,${post._1}%.2f],"serving_isolated_canary_gather":[${pre._2}%.2f,${post._2}%.2f]"""
  }

  /** Warm on the first 10 queries, then 5 timed passes over all of them. */
  private def queryPasses[A](qs: Array[A])(search: A => Unit): IndexedSeq[Double] =
    Measure.timedReps(5)(qs.take(10).foreach(search))(qs.foreach(search))

  /** The eight serving protocols (int8 SIMD sequential search, batch Spark
    * job, 10-thread concurrent, PQ ADC scan, 1-bit BQ scan, IVF-pruned
    * routed scan, and the composed IVF+PQ / IVF+BQ rescored tiers)
    * at the published 50k x dim-128 operating point
    * (benchmark_suite.py:105-121, :197-224; BASELINE.md ~1,100 QPS).
    * Returns per-rep QPS per protocol (RefTiers keys). Called TWICE per
    * bench run: once before the sweep (clean JVM — the cold readings,
    * comparable to the reference's own protocol) and once after
    * (serving_isolated — fully JIT-warmed, uncontended). */
  private def servingProtocols(spark: SparkSession): Map[String, Seq[Double]] = {
    import spark.implicits._
    val dim = 128
    val rnd = new scala.util.Random(42)
    val embDf = (0 until 50000).map(i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val index = graft.store.QuantizedIndex.build(embDf, dim, numBlocks = 32).persist()
    index.count
    val qrnd = new scala.util.Random(7)
    val queries = (0 until 100).map(i => (i.toLong,
      graft.functions.VectorKernels.quantize(Array.fill(dim)(qrnd.nextGaussian().toFloat)))).toArray
    // local: 100 SEQUENTIAL searches on the in-process serving replica —
    // the faithful analog of the reference's single-node query loop and
    // the number comparable to its ~1,100 QPS (warm-ups:
    // benchmark_suite.py:109)
    val local = index.toLocal
    val repsLocal = queryPasses(queries)(q => local.search(q._2, 10))
    // batch: all 100 queries in ONE Spark job over the distributed blocks
    val repsBatch = Measure.timedReps(5)(index.search(queries, 10))(index.search(queries, 10))
    // concurrent serving: 10 threads x 50 queries against the shared
    // local replica (benchmark_suite.py:197-224 protocol at 50k) —
    // overlapping callers scan on their own threads (LocalIndex
    // concurrency model), so this measures scaling, not lock queueing
    val repsConc = Measure.timedReps(3)(()) {
      val ths = (0 until 10).map { w =>
        val th = new Thread(() =>
          (0 until 50).foreach(i => local.search(queries((w * 50 + i) % 100)._2, 10)))
        th.start(); th
      }
      ths.foreach(_.join())
    }
    // PQ ADC serving twin (LocalPqIndex): same 50k corpus compressed to
    // M bytes/row, scored via LUT reads — the residency tier's scan
    // throughput next to the int8 SIMD number. Float queries regenerate
    // the exact draw sequence the quantized queries came from (seed 7).
    val pqM = graft.ops.PqQueries.M
    val pqK = graft.ops.PqQueries.K
    val cb = graft.ops.PqQueries.trainCodebookOn(embDf)
    val codeRows = embDf.select(embDf("vec_id"),
      graft.functions.VectorOps.pqEncode(embDf("embedding"), cb, pqM, pqK).as("c"))
      .collect() // serving replica: bounded like toLocal (50k x 8 B)
    val pqIds = new Array[Long](codeRows.length)
    val pqCodes = new Array[Byte](codeRows.length * pqM)
    var ri = 0
    while (ri < codeRows.length) {
      pqIds(ri) = codeRows(ri).getLong(0)
      System.arraycopy(codeRows(ri).getAs[Array[Byte]](1), 0, pqCodes, ri * pqM, pqM)
      ri += 1
    }
    val pq = new graft.store.LocalPqIndex(pqIds, pqCodes, pqM, pqK, cb)
    val qFloats = {
      val r = new scala.util.Random(7)
      (0 until 100).map(_ => Array.fill(dim)(r.nextGaussian().toFloat)).toArray
    }
    val repsPq = queryPasses(qFloats)(q => pq.search(q, 10))
    // Binary-quantization serving twin (LocalBqIndex): same 50k corpus
    // as ONE sign-bit word pair per row (16 B at dim 128 — 800 KB
    // total, L2-resident), scored by XOR+popcount. Queries pre-pack
    // outside the timed loop (packing is per-query constant work the
    // int8 tier also does untimed via its quantized query set).
    val bqVecRows = embDf.collect() // bounded serving replica, like toLocal
    val bqIds = bqVecRows.map(_.getLong(0))
    val bqVecs = bqVecRows.map(_.getSeq[Float](1).toArray)
    val bq = graft.store.LocalBqIndex.build(bqIds, bqVecs)
    val qCodes = qFloats.map(graft.functions.VectorKernels.signPack)
    val repsBq = queryPasses(qCodes)(q => bq.search(q, 10))
    // IVF-pruned serving tier (LocalIvfIndex): the SAME 50k corpus behind
    // a 64-cell coarse quantizer, probed at nprobe=8 — scan fraction
    // 8/64 = 12.5% of the corpus per query plus the 64-dot routing cost.
    // Routing quality is spec-gated (LocalIvfSpec recall curve); this
    // tier reports the throughput of the pruned scan.
    val ivfCells = 64
    val ivfNprobe = 8
    val ivf = graft.store.LocalIvfIndex.train(bqIds, bqVecs, numCells = ivfCells)
    val repsIvf = queryPasses(queries)(q => ivf.search(q._2, 10, ivfNprobe))
    // IVF+PQ composed tier (LocalIvfPqIndex): route on the same 64-cell
    // coarse quantizer, ADC-scan the probed cells' 8-byte codes, exact-
    // rescore the top candK=512 — pruning STACKED on compression, the
    // FAISS production serving shape (LocalIvfQuantSpec owns correctness).
    val ivfCandK = 512
    val ivfpq = graft.store.LocalIvfPqIndex.train(
      bqIds, bqVecs, numCells = ivfCells, m = pqM, kSub = pqK, cb)
    val repsIvfPq = queryPasses(qFloats)(q => ivfpq.search(q, 10, ivfNprobe, ivfCandK))
    // IVF+BQ composed tier (LocalIvfBqIndex): same routing, XOR+popcount
    // scan of the probed cells' sign bits, exact rescore of candK=512.
    val ivfbq = graft.store.LocalIvfBqIndex.train(bqIds, bqVecs, numCells = ivfCells)
    val repsIvfBq = queryPasses(qFloats)(q => ivfbq.search(q, 10, ivfNprobe, ivfCandK))
    index.unpersist()
    Map("search" -> repsLocal.map(100.0 / _),
      "batch" -> repsBatch.map(100.0 / _),
      "concurrent" -> repsConc.map(500.0 / _),
      "pq" -> repsPq.map(100.0 / _),
      "bq" -> repsBq.map(100.0 / _),
      "ivf" -> repsIvf.map(100.0 / _),
      "ivfpq" -> repsIvfPq.map(100.0 / _),
      "ivfbq" -> repsIvfBq.map(100.0 / _))
  }

  /** The 500k and 1m serving points (r12 verdict item 2): the operating
    * points where IVF pruning actually SHOWS. At 50k vectors the ~150 us
    * fixed per-query cost dominates both flat and pruned scans (enginebench
    * `serve`, NOTES_r12 §3) — at 500k the flat scan is 10x the work while
    * the pruned scan grows only with nprobe/numCells of it, so the pruning
    * multiple becomes measurable. The corpus is CLUSTERED (n/500 centers,
    * the natural extension of benchmark_suite.py:96's size ladder to a
    * routable distribution — IVF on an isotropic Gaussian has nothing to
    * route on), and the artifact records recall@10 vs the flat scan
    * BESIDE each pruned tier's QPS so the throughput multiple is read at
    * a known recall, never for free.
    *
    * Reported: flat / ivf / ivfpq / ivfbq QPS + recall@10 at
    * nprobe=8/128, candK=512, inside one canary-bracketed window with its
    * block steal: these one-shot scale points are the bench's most
    * steal-vulnerable sections (the r14 close attempt 1 read ivfpq at 38
    * QPS during a 485-cpu-s steal burst, vs 2.6k clean). A dirty window
    * re-runs once if the budget allows; the JSON always carries its own
    * epoch_dirty verdict. */
  private def servingClustered(spark: SparkSession, label: String,
      n: Int, nCenters: Int, retryBudgetMin: Double): String = {
    val cells = 128
    val nprobe = 8
    // the recall-1.0 knee on this corpus (candK 256 -> 0.68/0.75, candK
    // 512 -> 1.000/1.000; enginebench `serve` runs candK 512 and reports
    // each tier's recall_at_10 on its own clustered corpus): the rescore
    // funnel is corpus-size-INDEPENDENT work, so the composed tiers sit at
    // IVF-flat parity at 500k and pull ahead as the scan term grows
    val candK = 512
    def run(): String = {
      val dim = 128
      val rnd = new scala.util.Random(97)
      val centers = Array.fill(nCenters)(Array.fill(dim)(rnd.nextGaussian().toFloat * 3f))
      // the corpus DF is generated EXECUTOR-side from the per-row-seeded
      // CorpusGen recipe (a driver-built toSeq.toDF shipped 8.6-17.7 MB
      // tasks); the driver keeps only the Local* tier replicas under
      // test, built from the SAME per-row recipe.
      val vecs = Array.tabulate(n)(i => CorpusGen.clusteredVec(centers, i.toLong))
      val ids = Array.tabulate(n)(_.toLong)
      import spark.implicits._
      val bcCenters = spark.sparkContext.broadcast(centers)
      val embDf = spark.range(n).mapPartitions { it =>
        val cs = bcCenters.value
        it.map { jl => val i: Long = jl; (i, CorpusGen.clusteredVec(cs, i)) }
      }.toDF("vec_id", "embedding")
      val index = graft.store.QuantizedIndex.build(embDf, dim, numBlocks = 32).persist()
      index.count
      val flat = index.toLocal
      // queries = corpus points + fresh noise (the serving distribution),
      // seeded independently of the corpus recipe
      val qrnd = new scala.util.Random(7 + n)
      val queries = (0 until 100).map { _ =>
        val c = centers(qrnd.nextInt(nCenters))
        Array.tabulate(dim)(j => c(j) + qrnd.nextGaussian().toFloat * 1.0f)
      }.toArray
      val qBytes = queries.map(graft.functions.VectorKernels.quantize)
      val repsFlat = queryPasses(qBytes)(q => flat.search(q, 10))
      val truth = qBytes.map(q => flat.search(q, 10).map(_._1).toSet)
      def recall(got: Array[Seq[(Long, Double)]]): Double =
        got.zip(truth).map { case (g, t) => g.map(_._1).count(t).toDouble / 10 }
          .sum / truth.length
      val ivf = graft.store.LocalIvfIndex.train(ids, vecs, numCells = cells)
      val repsIvf = queryPasses(qBytes)(q => ivf.search(q, 10, nprobe))
      val recIvf = recall(qBytes.map(q => ivf.search(q, 10, nprobe)))
      val scanFrac = qBytes.map(q => ivf.probedRows(q, nprobe).toDouble / n).sum / qBytes.length
      val cb = graft.ops.PqQueries.trainCodebookOn(embDf)
      val ivfpq = graft.store.LocalIvfPqIndex.train(ids, vecs, numCells = cells,
        m = graft.ops.PqQueries.M, kSub = graft.ops.PqQueries.K, cb)
      val repsIvfPq = queryPasses(queries)(q => ivfpq.search(q, 10, nprobe, candK))
      val recIvfPq = recall(queries.map(q => ivfpq.search(q, 10, nprobe, candK)))
      val ivfbq = graft.store.LocalIvfBqIndex.train(ids, vecs, numCells = cells)
      val repsIvfBq = queryPasses(queries)(q => ivfbq.search(q, 10, nprobe, candK))
      val recIvfBq = recall(queries.map(q => ivfbq.search(q, 10, nprobe, candK)))
      index.unpersist()
      bcCenters.destroy()
      val flatQps = 100.0 / repsFlat.min
      val ivfQps = 100.0 / repsIvf.min
      f""""mean_scan_frac":$scanFrac%.4f,"flat_qps":$flatQps%.0f,"ivf_qps":$ivfQps%.0f,"ivf_recall10":$recIvf%.3f,"ivf_speedup":${ivfQps / flatQps}%.2f,"ivfpq_qps":${100.0 / repsIvfPq.min}%.0f,"ivfpq_recall10":$recIvfPq%.3f,"ivfbq_qps":${100.0 / repsIvfBq.min}%.0f,"ivfbq_recall10":$recIvfBq%.3f"""
    }
    val w = Measure.retryOnce[Measure.Epochs[String]](label, !_.clean(BlockBounds, 0),
      budgetOk(s"${label}_retry", retryBudgetMin))(Some(Measure.window(run()))).get
    val (pre, post) = (w.canaries(0), w.canaries(1))
    f""""$label":{"corpus":$n,"cells":$cells,"nprobe":$nprobe,"cand_k":$candK,"steal_cpu_s":${w.steal(0)}%.0f,"canary_alu":[${pre._1}%.2f,${post._1}%.2f],"canary_gather":[${pre._2}%.2f,${post._2}%.2f],"epoch_dirty":${!w.clean(BlockBounds, 0)},${w.values(0)}}"""
  }

  /** The 4M crossover point (closes the r13 verdict item 2): at 500k-1M
    * the composed tiers sit at IVF-flat parity because every probed scan
    * fits in cache and (after the r14 4-chain ADC unroll) the per-row
    * costs match (~4-5 ns for both the SIMD int8-128 dot and the m=8
    * LUT accumulation). At 4M x dim 128 x nprobe/cells = 1/16, IVF's
    * probed working set is ~250k rows x 128 B = 32 MB per query — past
    * LLC, DRAM-bandwidth-bound — while IVFPQ's is ~250k x 8 B = 2 MB,
    * cache-resident: measured ivfpq ~3x ivf QPS at IDENTICAL recall@10
    * (both route on the same centroids; candK=512 loses nothing vs the
    * exact in-probe scan here). This is the honest answer to "where is
    * the crossover": compression stacked on pruning wins exactly when
    * the pruned int8 scan no longer fits in cache — below that point it
    * buys residency (16x smaller scan arrays), not throughput.
    *
    * Corpus generated in-process (a 4M-row Spark DF adds minutes of
    * build for nothing — the tiers under test are the in-process
    * replicas); PQ codebook trained on a 100k-row sample (the standard
    * practice for PQ training); truth = the spec-gated full-probe path
    * (nprobe = numCells == the flat exact scan). */
  private def serving4m(spark: SparkSession): String =
    try serving4mChild(spark) catch {
      // an OOM or build failure degrades to null instead of losing the
      // whole artifact
      case e: Throwable =>
        System.err.println(s"[bench] serving_4m failed: $e")
        """"serving_4m":null"""
    }

  private def serving4mChild(spark: SparkSession): String = {
    import spark.implicits._
    // The measurement itself runs in a CLEAN CHILD JVM (tools/Serving4m):
    // two close attempts measured the in-bench 4M ADC scan at 141-452
    // QPS while a fresh JVM reproduces 754-805 (~3x IVF) every time —
    // after three sweeps of 224 codegen'd queries the close JVM's
    // JIT/code-cache state degrades this one hot loop, and a number
    // that depends on how much unrelated work the JVM did first is not
    // a measurement of the index. The parent contributes the one
    // Spark-dependent input: the PQ codebook, trained on the corpus
    // recipe's first 100k vectors (same seed stream, so the sample is
    // bit-identical to the child's first 100k rows).
    // NOTE: this corpus keeps the r14/r15 SEQUENTIAL-seed recipe (two
    // certified-clean crossover runs are pinned to it) — do not switch
    // it to CorpusGen without re-validating the crossover numbers.
    val dim = 128; val n = 4000000
    val nCenters = n / 500
    val rnd = new scala.util.Random(97)
    val centers = Array.fill(nCenters)(Array.fill(dim)(rnd.nextGaussian().toFloat * 3f))
    val sampleVecs = Array.tabulate(100000) { i =>
      val c = centers(i % nCenters)
      Array.tabulate(dim)(j => c(j) + rnd.nextGaussian().toFloat * 1.0f)
    }
    val sample = Array.tabulate(100000)(_.toLong).zip(sampleVecs).toSeq
      .toDF("vec_id", "embedding")
    val cb = graft.ops.PqQueries.trainCodebookOn(sample)
    val cbPath = java.nio.file.Files.createTempFile("graft-cb", ".bin")
    val out = new java.io.DataOutputStream(new java.io.BufferedOutputStream(
      java.nio.file.Files.newOutputStream(cbPath)))
    try { out.writeInt(cb.length); cb.foreach(out.writeDouble) }
    finally out.close()
    try {
      // one shot + one retry if the child reports its own epoch dirty
      // (no interleaved epoch was steal- AND canary-clean): the artifact
      // carries a certified-clean reading or says it could not get one.
      // The child's hard timeout is clamped to the remaining wall-clock
      // budget (r15 rc-124 fix).
      def attempt(): Option[String] = {
        val tmo = math.max(9L, math.min(30L, (budgetLeft - 1.0).toLong))
        runChild("graft.tools.Serving4m",
          Seq(cbPath.toString, graft.ops.PqQueries.M.toString,
            graft.ops.PqQueries.K.toString, n.toString),
          timeoutMin = tmo, heap = "12g")
          .flatMap(_.find(_.startsWith("{\"corpus\"")))
      }
      Measure.retryOnce[String]("serving_4m", _.contains("\"epoch_dirty\":true"),
        budgetOk("serving_4m_retry", 10.0))(attempt()) match {
        case Some(json) => s""""serving_4m":$json"""
        case None =>
          System.err.println("[bench] serving_4m child produced no JSON")
          """"serving_4m":null"""
      }
    } finally java.nio.file.Files.deleteIfExists(cbPath)
  }

  /** Spawn a child JVM inheriting this JVM's module/system flags and
    * classpath, run `mainClass args`, and return its stdout lines —
    * None on timeout (child force-killed). stderr is INHERITED: an
    * undrained pipe blocks the child after ~64 KB and a blocked child
    * hangs waitFor forever. stdout is read on its own thread so the
    * main thread can enforce the hard timeout. */
  private def runChild(mainClass: String, args: Seq[String],
      timeoutMin: Long, heap: String): Option[List[String]] = {
    try {
      val javaBin = System.getProperty("java.home") + "/bin/java"
      // re-assemble this JVM's module flags (--add-opens comes through
      // the runtime MXBean as two consecutive entries)
      val raw = _root_.java.lang.management.ManagementFactory
        .getRuntimeMXBean.getInputArguments
      val it = raw.iterator()
      val jvmArgs = scala.collection.mutable.ArrayBuffer.empty[String]
      while (it.hasNext) {
        val a = it.next()
        if (a == "--add-opens" || a == "--add-modules" || a == "--add-exports") {
          jvmArgs += a
          if (it.hasNext) jvmArgs += it.next()
        } else if (a.startsWith("--add-opens") || a.startsWith("--add-modules") ||
          a.startsWith("--add-exports") || a.startsWith("-D")) jvmArgs += a
      }
      if (!jvmArgs.exists(_.contains("jdk.incubator.vector"))) {
        jvmArgs += "--add-modules"; jvmArgs += "jdk.incubator.vector"
      }
      jvmArgs += s"-Xmx$heap"
      val cmd = Seq(javaBin) ++ jvmArgs.toSeq ++
        Seq("-cp", System.getProperty("java.class.path"), mainClass) ++ args
      val pb = new ProcessBuilder(cmd: _*)
      pb.redirectError(ProcessBuilder.Redirect.INHERIT)
      val proc = pb.start()
      val outBuf = new _root_.java.util.concurrent.atomic
        .AtomicReference[List[String]](Nil)
      val reader = new Thread(() =>
        try outBuf.set(scala.io.Source.fromInputStream(proc.getInputStream)
          .getLines().toList)
        catch { case e: Throwable =>
          System.err.println(s"[bench] $mainClass stdout read: $e") })
      reader.setDaemon(true)
      reader.start()
      val done = proc.waitFor(timeoutMin,
        _root_.java.util.concurrent.TimeUnit.MINUTES)
      if (!done) {
        System.err.println(s"[bench] $mainClass child timed out after $timeoutMin min — killed")
        proc.destroyForcibly()
        proc.waitFor(10, _root_.java.util.concurrent.TimeUnit.SECONDS)
      }
      reader.join(10000)
      if (done) Some(outBuf.get()) else None
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] $mainClass child failed: $e")
        None
    }
  }

  /** Re-measure one registry query in a FRESH child JVM (the QTime
    * protocol, 2 reps): after 3+ sweeps of 225 codegen'd queries the
    * session JVM's JIT/code-cache state measurably degrades hot loops
    * (tools/Serving4m.scala documents the 4M ADC case) — so when a
    * mover's isolated reps are steal- and canary-clean yet still sit
    * >1.3x prev, the last suspect is THIS JVM and the A/B must leave
    * it. Returns the child's min, or None on spawn/parse failure. */
  private def qtimeChildMin(q: String, sfDir: String): Option[Double] = {
    runChild("graft.QTime", Seq(sfDir, "2", q), timeoutMin = 10,
      heap = "16g").flatMap { lines =>
      val re = """min=([0-9.]+)""".r
      lines.find(_.startsWith(s"QTIME $q"))
        .flatMap(l => re.findFirstMatchIn(l).map(_.group(1).toDouble))
    }
  }
}
