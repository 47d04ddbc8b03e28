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
  *
  * Materialization uses the noop sink (full plan execution incl. projections
  * that a count() would prune away), after a warm-up action to amortize JVM/
  * codegen startup out of the first-measured query.
  *
  * r16 (the r15 verdict item 1 — the graded r15 run was killed at the
  * driver's wall-clock limit BEFORE printing its single JSON line, leaving
  * rc 124 / parsed null):
  *  - WALL-CLOCK BUDGET: elapsed time is checked against
  *    SPARK_GRAFT_BENCH_BUDGET_MIN (default 45) before every sweep retry,
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
  *    queries ran clean — r15 rejected 15/15 sweeps across three close
  *    attempts. The registry is split into NSeg contiguous segments with
  *    steal + canary sampled at every boundary; acceptance is PER SEGMENT,
  *    and each query's statistics come from the sweeps whose segment was
  *    clean. Most of the board then certifies from clean sub-windows, and
  *    the all-or-nothing 5-sweep retry waste that blew the r15 budget is
  *    gone.
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
  private def sessionCanaryOk(c: (Double, Double)): Boolean =
    c._1 <= CpuCanary.AluClean && c._2 <= SessionGatherClean

  def main(args: Array[String]): Unit = {
    benchT0 = System.nanoTime()
    budgetMin = sys.env.get("SPARK_GRAFT_BENCH_BUDGET_MIN")
      .flatMap(s => scala.util.Try(s.toDouble).toOption).getOrElse(50.0)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.fromEnv("32", appName = "graft-bench")

    // Warm up: JVM + parquet footer reads.
    Tables.lineitem(spark, sfDir).count()

    // Reference search protocol at its published operating point (BASELINE.md:
    // ~1,100 QPS at 50k vectors, dim 128, k=10, 100 searches after warm-up).
    // Two modes, both on the packed int8 index, measured FIRST (clean JVM):
    //  - local: 100 SEQUENTIAL searches on the in-process serving replica
    //    (LocalIndex, SIMD scan) — the faithful analog of the reference's
    //    single-node query loop (benchmark_suite.py:105-121), and the number
    //    comparable to its ~1,100 QPS;
    //  - batch: all 100 queries in ONE Spark job over the distributed
    //    blocks — the cluster serving path.
    // Best of 5 each.
    // SPARK_GRAFT_SKIP_SERVING=1 runs the sweep without the serving
    // protocols — the A/B lever for attributing sweep-wide shifts to
    // serving-side state (broadcast blocks, heap pressure) vs the queries.
    val skipServing = sys.env.get("SPARK_GRAFT_SKIP_SERVING").contains("1")
    // per-rep serving times, kept so the emitted JSON can carry a
    // variance annotation (serving QPS has measured ±2x cross-session
    // drift — the artifact should say so itself instead of forcing each
    // round's review to reconcile prose numbers)
    val (firstServing, servingReps) =
      if (skipServing) (Map.empty[String, Double], Map.empty[String, Seq[Double]])
      else servingProtocols(spark)
    val refQpsLocal = firstServing.getOrElse("search", 0.0)
    val refQpsBatch = firstServing.getOrElse("batch", 0.0)
    val refQpsConc = firstServing.getOrElse("concurrent", 0.0)
    val refQpsPq = firstServing.getOrElse("pq", 0.0)
    val refQpsBq = firstServing.getOrElse("bq", 0.0)
    val refQpsIvf = firstServing.getOrElse("ivf", 0.0)
    val refQpsIvfPq = firstServing.getOrElse("ivfpq", 0.0)
    val refQpsIvfBq = firstServing.getOrElse("ivfbq", 0.0)
    // decouple the sweep from serving-section heap state: drop dangling
    // broadcast/block refs before the first measured query (untimed)
    System.gc()


    // The dedup-label index build, reported as its OWN line: the labels
    // memo (TextQueries.componentLabels) means q_dedup_components and
    // q_dedup_keepers consume a prebuilt index during the sweep — their
    // per-query numbers are the serving cost, this number is the build
    // cost. Cleared first so the build is actually measured here.
    graft.ops.TextQueries.clearComponentLabels(spark)
    val labelsBuildSec = {
      val t0 = System.nanoTime()
      graft.ops.TextQueries.componentLabels(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    System.gc()

    // The basket edge-set build, same contract: the edges memo
    // (ExtendedQueries.basketEdges) means the three graph queries
    // (q_triangles / q_triangles_sampled / q_pagerank) consume a
    // prebuilt index during the sweep — this line is the build cost.
    graft.ops.ExtendedQueries.clearBasketEdges(spark)
    val edgesBuildSec = {
      val t0 = System.nanoTime()
      graft.ops.ExtendedQueries.basketEdges(spark, sfDir).count()
      (System.nanoTime() - t0) / 1e9
    }
    System.gc()

    // Min-of-3 per query: the r4->r5 sweep comparison showed ±2-4x
    // POSITIONAL variance on unchanged plans (q_rollup 2.1->5.6->2.2s,
    // q_ntile 0.8->2.3->0.4s across three rounds of identical code —
    // NOTES_r6 isolation table), which a median still inherits when two
    // of three reps run under a neighbor's GC debt. The min is the
    // variance-robust statistic for "cost of this plan" (the reference's
    // protocol, benchmark_suite.py:105-121, also reports best-case
    // throughput); a real regression moves the min too.
    // r13 protocol 3: the REPS are INTERLEAVED full sweeps (sweep 1 runs
    // every query once, then sweep 2, then sweep 3) instead of 3
    // back-to-back reps per query. Rationale (r12 verdict item 1): five
    // r12 close sweeps on identical code spanned 152-180 s of pure
    // machine-heat drift, and with CONSECUTIVE reps that drift biases
    // every one of a query's reps the same way — whole sweeps ran hot or
    // cool, so cross-round per-query diffs measured the thermal epoch,
    // not the plan. Interleaving samples each query's reps from three
    // epochs ~3 minutes apart, so a per-query min rides the coolest of
    // three DIFFERENT thermal states and heat drift cancels per-query
    // instead of biasing whole sweeps.
    // r14: every measurement also samples the host-steal counter
    // (HostSteal.stealSeconds — see that file for the measured evidence
    // that steal bursts, not plans, produced the r13 "monotone drift").
    // The per-query statistic stays the min (a steal-poisoned rep is
    // strictly slower, so the min self-selects the cleanest rep when one
    // exists); the artifact additionally carries per-sweep steal totals
    // and the queries whose MIN rep was itself steal-poisoned (> 2 CPU-s
    // — empirically clean reps carry <= 0.9, poisoned >= 8).
    val REPS = 3
    val names = SparkEntry.registry
    // r16 segment-level epoch gate (r15 verdict item 1c / NOTES_r15 §10):
    // the registry is split into NSeg contiguous segments; steal + canary
    // are sampled at every segment BOUNDARY, and acceptance is per
    // (sweep, segment): segment steal within its share of the budget AND
    // both bounding canaries clean. A query's statistics come from the
    // sweeps whose segment was accepted (fallback: all sweeps, and that
    // segment reports dirty). "epoch_dirty" now means: some segment never
    // collected REPS clean samples.
    val NSeg = 4
    val MaxSweeps = 5
    val SweepStealBudget = 50.0
    val SegStealBudget = SweepStealBudget / NSeg
    def segOf(qi: Int): Int = (qi * NSeg) / names.length
    val (calAlu, calGather) = CpuCanary.calibrate()
    case class SweepRec(times: Map[String, Double],
        steals: Map[String, Double], stealTotal: Double,
        cans: Vector[(Double, Double)], segSteal: Vector[Double],
        segAcc: Vector[Boolean]) {
      def accepted: Boolean = segAcc.forall(identity)
    }
    val sweeps = scala.collection.mutable.ArrayBuffer.empty[SweepRec]
    def segCleanCount(s: Int): Int = sweeps.count(_.segAcc(s))
    def allSegsSatisfied: Boolean =
      (0 until NSeg).forall(s => segCleanCount(s) >= REPS)
    var continueSweeps = true
    while (continueSweeps && sweeps.length < MaxSweeps &&
        (sweeps.length < REPS || !allSegsSatisfied)) {
      // beyond the mandatory REPS sweeps, a retry must fit the budget
      // with room for the serving blocks (~30 min of reserve)
      if (sweeps.length >= REPS) {
        val lastSweepMin =
          sweeps.lastOption.map(_.times.values.sum / 60.0).getOrElse(5.0)
        if (!budgetOk("sweep_retry", lastSweepMin * 1.2 + 28.0))
          continueSweeps = false
      }
      if (continueSweeps) {
        val cans = new Array[(Double, Double)](NSeg + 1)
        val segSteal = new Array[Double](NSeg)
        cans(0) = CpuCanary.reading()
        val sweepSteal0 = HostSteal.stealSeconds()
        var segStart = sweepSteal0
        val times = scala.collection.mutable.Map.empty[String, Double]
        val steals = scala.collection.mutable.Map.empty[String, Double]
        var qi = 0
        names.foreach { q =>
          val st0 = HostSteal.stealSeconds()
          val t0 = System.nanoTime()
          try q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          catch { case e: Throwable => System.err.println(s"[bench] ${q.name}: $e") }
          val sec = (System.nanoTime() - t0) / 1e9
          val steal = if (st0 < 0) -1.0 else HostSteal.stealSeconds() - st0
          // hygiene between measurements (untimed): drop any cached blocks
          // a query pinned and collect BEFORE the next measurement, so
          // every rep starts from a collected heap — for the ~150 sub-
          // second queries a single young-GC pause landing inside the rep
          // is 50-100% of the reading, and the first protocol-3 cut (GC
          // only after >0.3s reps) measurably widened their run-to-run
          // spread
          spark.catalog.clearCache()
          System.gc()
          times(q.name) = sec
          steals(q.name) = steal
          val seg = segOf(qi)
          qi += 1
          if (qi == names.length || segOf(qi) != seg) {
            val now = HostSteal.stealSeconds()
            segSteal(seg) =
              if (segStart < 0 || now < 0) -1.0 else now - segStart
            segStart = now
            cans(seg + 1) = CpuCanary.reading()
          }
        }
        val stealTotal =
          if (sweepSteal0 < 0) -1.0 else HostSteal.stealSeconds() - sweepSteal0
        val segAcc = (0 until NSeg).map { s =>
          (segSteal(s) < 0 || segSteal(s) <= SegStealBudget) &&
            sessionCanaryOk(cans(s)) && sessionCanaryOk(cans(s + 1))
        }.toVector
        sweeps += SweepRec(times.toMap, steals.toMap, stealTotal,
          cans.toVector, segSteal.toVector, segAcc)
        System.err.println(f"[bench] sweep ${sweeps.length}/$MaxSweeps done: " +
          f"${times.values.sum}%.1f s (steal $stealTotal%.0f cpu-s, " +
          f"seg_steal ${segSteal.map(s => f"$s%.0f").mkString("[", ",", "]")}, " +
          f"seg_accepted ${segAcc.mkString("[", ",", "]")}, gather " +
          f"${cans.map(c => f"${c._2}%.2f").mkString("[", ",", "]")}; " +
          f"seg_clean ${(0 until NSeg).map(segCleanCount).mkString("[", ",", "]")}/$REPS)")
      }
    }
    val segClean = (0 until NSeg).map(segCleanCount)
    val epochDirty = !allSegsSatisfied
    // per-query rep vectors: sweeps whose SEGMENT was clean; fallback to
    // all sweeps when a segment never certified (loud via segment_clean)
    val usedByQ = names.zipWithIndex.map { case (q, qi) =>
      val s = segOf(qi)
      val acc = sweeps.filter(_.segAcc(s)).toVector
      q.name -> (if (acc.nonEmpty) acc else sweeps.toVector)
    }.toMap
    val timesByQ = names.map(q => q.name -> usedByQ(q.name).map(_.times(q.name))).toMap
    val stealByQ = names.map(q => q.name -> usedByQ(q.name).map(_.steals(q.name))).toMap
    val sweepSteal = sweeps.map(_.stealTotal)
    val results = names.map { q =>
      val ts = timesByQ(q.name)
      q.name -> (ts.min, ts.sorted.apply(ts.length / 2))
    }
    // queries whose CHOSEN (min) rep carried heavy steal — their sweep
    // reading is flagged as host-epoch-contaminated in the artifact
    val stealSuspect = names.flatMap { q =>
      val ts = timesByQ(q.name)
      val minIdx = ts.indexOf(ts.min)
      val st = stealByQ(q.name)(minIdx)
      if (st > 2.0) Some(q.name -> st) else None
    }
    val stealJson = {
      val sweepsArr = sweepSteal.map(s => f"$s%.0f").mkString("[", ",", "]")
      val suspects = stealSuspect
        .map { case (k, s) => f""""$k":$s%.1f""" }.mkString("{", ",", "}")
      // every attempt, accepted or not, with its steal + canary evidence
      // (canary arrays now carry the NSeg+1 segment-boundary readings)
      val attempts = sweeps.map { s =>
        f"""{"total":${s.times.values.sum}%.1f,"steal":${s.stealTotal}%.0f,""" +
          s""""seg_steal":${s.segSteal.map(v => f"$v%.0f").mkString("[", ",", "]")},""" +
          s""""seg_accepted":${s.segAcc.mkString("[", ",", "]")},""" +
          s""""canary_alu":${s.cans.map(c => f"${c._1}%.2f").mkString("[", ",", "]")},""" +
          s""""canary_gather":${s.cans.map(c => f"${c._2}%.2f").mkString("[", ",", "]")},""" +
          s""""accepted":${s.accepted}}"""
      }.mkString("[", ",", "]")
      s""""sweep_steal_sec":$sweepsArr,"steal_suspect":$suspects,""" +
        s""""sweep_attempts":$attempts,"sweeps_used":${sweeps.length},""" +
        s""""segments":$NSeg,"segment_clean":${segClean.mkString("[", ",", "]")},""" +
        f""""epoch_dirty":$epochDirty,"canary_cal":[$calAlu%.4f,$calGather%.4f]"""
    }
    val qs = results
      .map { case (k, (v, _)) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2._1).sum
    val totalMedian = results.map(_._2._2).sum
    // protocol versions the line for cross-round tooling: 1 = r<=5
    // (value = sum of per-query MEDIANS, labels build folded into the
    // dedup queries), 2 = r6+ (value = sum of per-query MINS with untimed
    // inter-query GC; total_median kept for v1 comparisons; labels build
    // reported separately). Compare like with like across rounds.
    // Cross-run mover flagging (the bench_diff.py analysis, automated in
    // the run itself): before overwriting the sidecar, diff this run's
    // per-query mins against the previous one and report board shrink —
    // a DROPPED query is a finding — plus queries past the
    // relative+absolute threshold. Printed to STDERR before the JSON
    // line so the driver's stdout tail capture still ends with the
    // machine-readable object.
    val minsNow = results.map { case (k, (v, _)) => k -> v }.toMap
    // the same diff, carried INTO the artifact ("movers"/"board_dropped"
    // fields) so each round's JSON self-reports its cross-run movers
    // instead of leaving them on stderr
    var moversJson = """"movers":null,"board_dropped":null"""
    // r14 (structural mover attribution, r13 verdict item 1): the movers
    // list escapes the diff block so each >1.3x cross-round mover above
    // ~1 s gets an ISOLATED re-measure in this same run — the artifact
    // then carries its own A/B ("movers_isolated") instead of leaving
    // the next round an investigation.
    var moverList: Seq[(String, Double, Double)] = Seq.empty
    try {
      val prevPath = java.nio.file.Paths.get("bench_last.json")
      if (java.nio.file.Files.exists(prevPath)) {
        val om = new com.fasterxml.jackson.databind.ObjectMapper()
        val prev = om.readTree(java.nio.file.Files.readString(prevPath))
        val pq = prev.get("queries")
        if (pq != null) {
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
          moversJson = s""""movers":$moversArr,"board_dropped":$droppedArr"""
          moverList = movers
        }
      }
    } catch { case e: Throwable => System.err.println(s"[bench-diff] skipped: $e") }
    // Isolated A/B for this run's own movers (the QTime protocol inlined:
    // 4 reps, min, untimed clearCache+GC between reps). Sub-second movers
    // are the documented noise class (NOTES_r12 §4) — only movers whose
    // prev or sweep reading is >= 1 s are re-measured. The interpretation
    // contract: iso_min ~ prev means the sweep reading was epoch state
    // (heat/GC/registry growth), iso_min ~ sweep(now) means the plan
    // itself moved and needs a code-level explanation.
    var moverIso = """"movers_isolated":null"""
    val isoTargets = moverList.filter { case (_, o, n) => math.max(o, n) >= 1.0 }
    // at most 3 child-JVM re-measures per run (each spawns a fresh Spark
    // session — minutes, not seconds)
    var childBudget = 3
    if (isoTargets.nonEmpty) {
      System.gc()
      // per-mover budget gate: the serving blocks downstream (isolated +
      // 4m carry the gate number and the open crossover claim) need ~16
      // min of reserve — once a mover would eat into it, the REST of the
      // mover list is skipped (recorded), not just this one (elapsed
      // only grows)
      var moversBudgetOk = true
      val isoJson = isoTargets.flatMap { case (k, o, n) =>
        if (moversBudgetOk && !budgetOk(s"movers_iso:$k", 18.0))
          moversBudgetOk = false
        if (!moversBudgetOk) None
        else Some {
        val q = names.find(_.name == k).get
        val reps = (1 to 4).map { _ =>
          // canary BEFORE the rep: a rep is clean only if the window
          // could deliver calibrated throughput (r14 verdict item 2 —
          // three movers carried "clean" steal at 1.6-2.9x their r13
          // values; steal alone is one-sided)
          val c = CpuCanary.reading()
          val st0 = HostSteal.stealSeconds()
          val t0 = System.nanoTime()
          try q.fn(spark, sfDir).write.format("noop").mode("overwrite").save()
          catch { case e: Throwable => System.err.println(s"[bench-iso] $k: $e") }
          val sec = (System.nanoTime() - t0) / 1e9
          val steal = if (st0 < 0) -1.0 else HostSteal.stealSeconds() - st0
          spark.catalog.clearCache(); System.gc()
          (sec, steal, c)
        }
        // the steal- AND canary-clean minimum is THE attribution number:
        // ~prev means the sweep mover was host epoch, ~sweep means the
        // plan moved (or this JVM degraded — see child_min below).
        // The gather bound here is the SESSION bound (2.0), not
        // CpuCanary's fresh-JVM 1.4: these reps run seconds after 3+
        // full sweeps and the canary sees this JVM's own residual cache
        // state (ADVICE r16 medium — the 1.4 bound spuriously dirtied
        // iso reps and starved the child A/B).
        val clean = reps.filter(r => r._2 <= 2.0 && sessionCanaryOk(r._3))
          .map(_._1)
        val stealClean = reps.filter(_._2 <= 2.0).map(_._1)
        val cleanMin = if (clean.nonEmpty) f"${clean.min}%.3f" else "null"
        // when the clean reading STILL sits >1.3x prev, the remaining
        // suspect is this JVM's own JIT/code-cache state after 3+
        // sweeps of 225 codegen'd queries (the mechanism Serving4m
        // documents for the ADC loop) — re-measure once in a fresh
        // child JVM; child_min ~ prev convicts the session JVM,
        // child_min ~ sweep convicts the plan. Also fires when NO rep
        // was canary-clean but the steal-clean ones sit >1.3x prev —
        // exactly the degraded-session case the child A/B exists for
        // (ADVICE r16 medium).
        val childTrigger =
          (clean.nonEmpty && clean.min > o * 1.3) ||
            (clean.isEmpty && stealClean.nonEmpty && stealClean.min > o * 1.3)
        val childMin =
          if (childTrigger && childBudget > 0 && budgetOk(s"qtime_child:$k", 28.0)) {
            childBudget -= 1
            qtimeChildMin(k, sfDir).map(v => f"$v%.3f").getOrElse("null")
          } else "null"
        System.err.println(f"[bench-iso] $k%-24s prev=$o%.2f sweep=$n%.2f iso_min=${reps.map(_._1).min}%.2f iso_min_clean=$cleanMin child_min=$childMin")
        f""""$k":{"prev":$o%.3f,"sweep":$n%.3f,"iso_min":${reps.map(_._1).min}%.3f,"iso_min_clean":$cleanMin,"child_min":$childMin,"iso_reps":[${reps.map(t => f"${t._1}%.3f").mkString(",")}],"iso_steal":[${reps.map(t => f"${t._2}%.1f").mkString(",")}],"iso_canary_alu":[${reps.map(t => f"${t._3._1}%.2f").mkString(",")}],"iso_canary_gather":[${reps.map(t => f"${t._3._2}%.2f").mkString(",")}]}"""
        }
      }.mkString("{", ",", "}")
      moverIso = s""""movers_isolated":$isoJson"""
    }

    // ---- incremental artifact emission (r15 verdict item 1b) ----
    // Serving-block payloads start as nulls and are filled in as blocks
    // complete; emit(partial=true) prints the CURRENT full object after
    // every block so a driver kill at any point still leaves a complete
    // parseable line in the tail. Exactly the final emission carries
    // "partial":false.
    var servingIso =
      """"serving_isolated":null,"serving_isolated_dirty":false"""
    var s500 = """"serving_500k":null"""
    var s1m = """"serving_1m":null"""
    var s4m = """"serving_4m":null"""
    val servingVar =
      if (servingReps.isEmpty) """"serving_variance":null"""
      else servingReps.toSeq.sortBy(_._1).map { case (k, reps) =>
        f""""$k":[${reps.min}%.0f,${reps.max}%.0f]"""
      }.mkString(""""serving_variance":{""", ",", "}")
    def skippedJson: String =
      skippedBudget.map("\"" + _ + "\"").mkString("[", ",", "]")
    def fullLine(partial: Boolean): String =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","protocol":3,"reps":$REPS,"stat":"min","interleaved":true,"partial":$partial,"budget_min":$budgetMin%.1f,"elapsed_min":$elapsedMin%.1f,"skipped_budget":$skippedJson,"n_queries":${results.size},"total_median":$totalMedian%.3f,"labels_build_sec":$labelsBuildSec%.3f,"edges_build_sec":$edgesBuildSec%.3f,"queries":$qs,"ref_search_qps_50k":$refQpsLocal%.0f,"ref_batch_qps_50k":$refQpsBatch%.0f,"ref_concurrent_qps_50k":$refQpsConc%.0f,"ref_pq_qps_50k":$refQpsPq%.0f,"ref_bq_qps_50k":$refQpsBq%.0f,"ref_ivf_qps_50k":$refQpsIvf%.0f,"ref_ivfpq_qps_50k":$refQpsIvfPq%.0f,"ref_ivfbq_qps_50k":$refQpsIvfBq%.0f,"baseline_ref_qps_50k":1100,"serving_cold_jvm":true,$servingVar,$servingIso,$s500,$s1m,$s4m,$moversJson,$moverIso,$stealJson,"sf":"$sfDir"}"""
    // Compact MICRO headline, printed LAST at every emission. The driver
    // keeps only a ~2,000-char TAIL of stdout and parses a complete JSON
    // line found inside it: rounds 10-13 parsed because the then-headline
    // fit; r14 grew it (movers_isolated) past 2,000 chars and parsed went
    // null even on a CLEAN run. So the last printed line must stay small —
    // this one carries only scalar summaries (per-block numbers extracted
    // from the block payloads; the full object with queries/movers/steal
    // lives in bench_last.json, rewritten at every emission, and in the
    // preceding stdout line). Metric stays "total_headline"/"headline":
    // true so a full-object consumer cannot mistake it for the object.
    def extractNum(json: String, key: String): String =
      ("\"" + key + "\":(-?[0-9.]+|true|false)").r
        .findFirstMatchIn(json).map(_.group(1)).getOrElse("null")
    def blockSum(json: String, label: String): String =
      if (!json.contains(s""""$label":{""")) s""""${label}_sum":null"""
      else s""""${label}_sum":{"flat_qps":${extractNum(json, "flat_qps")},"ivf_qps":${extractNum(json, "ivf_qps")},"ivfpq_qps":${extractNum(json, "ivfpq_qps")},"ivfbq_qps":${extractNum(json, "ivfbq_qps")},"ivfpq_vs_ivf":${extractNum(json, "ivfpq_vs_ivf")},"clean_epochs":${extractNum(json, "clean_epochs")},"epoch_dirty":${extractNum(json, "epoch_dirty")}}"""
    def micro(partial: Boolean): String =
      f"""{"metric":"total_headline","value":$total%.3f,"unit":"sec","protocol":3,"reps":$REPS,"stat":"min","interleaved":true,"partial":$partial,"headline":true,"budget_min":$budgetMin%.1f,"elapsed_min":$elapsedMin%.1f,"skipped_budget":$skippedJson,"n_queries":${results.size},"epoch_dirty":$epochDirty,"segment_clean":${segClean.mkString("[", ",", "]")},"sweeps_run":${sweeps.length},"labels_build_sec":$labelsBuildSec%.3f,"edges_build_sec":$edgesBuildSec%.3f,"ref_search_qps_50k":$refQpsLocal%.0f,"ref_batch_qps_50k":$refQpsBatch%.0f,"ref_concurrent_qps_50k":$refQpsConc%.0f,"ref_pq_qps_50k":$refQpsPq%.0f,"ref_bq_qps_50k":$refQpsBq%.0f,"ref_ivf_qps_50k":$refQpsIvf%.0f,"ref_ivfpq_qps_50k":$refQpsIvfPq%.0f,"ref_ivfbq_qps_50k":$refQpsIvfBq%.0f,"baseline_ref_qps_50k":1100,"serving_cold_jvm":true,$servingIso,${blockSum(s500, "serving_500k")},${blockSum(s1m, "serving_1m")},${blockSum(s4m, "serving_4m")},"sf":"$sfDir"}"""
    def emit(partial: Boolean): Unit = {
      val line = fullLine(partial)
      println(line)
      val m = micro(partial)
      println(m)
      if (m.length > 1900) System.err.println(
        s"[bench] WARNING: micro headline ${m.length} chars — may outgrow the driver's 2,000-char tail window")
      // The stdout line outgrew the driver's capture window in r7 (the
      // board kept only the tail, losing total/protocol/30 timings) —
      // also persist the newest object where the round artifacts live.
      // Written at EVERY emission so a driver kill leaves the newest
      // partial object instead of nothing (the r15 rc-124 hole).
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("bench_last.json"), line + "\n")
      catch { case e: Throwable => System.err.println(s"[bench] sidecar write failed: $e") }
    }
    emit(partial = true)

    // Post-sweep isolated serving re-measure (round-10 verdict item 1):
    // the pre-sweep run is the cold/clean-JVM reading (its first reps sit
    // below baseline before JIT warm-up — BENCH_r10's in-run spread was
    // [856, 11688] QPS); this second run is fully JIT-warmed and
    // uncontended, so the artifact carries an unambiguous cold/hot pair
    // instead of asking the review to reason about best-of-reps.
    System.gc()
    // r15: the isolated serving block is the 2x-vs-baseline gate number
    // — it now carries a steal + canary verdict and re-runs once if its
    // window was dirty (the r14 graded floor of 2,563 QPS vs the
    // builder's 7,285+ was a contended one-shot)
    // (steal, canary pre, canary post) ride beside the verdict: a
    // mid-block burst that dodges the edge canaries still shows as an
    // in-artifact rep spread, and the evidence says what the edges saw.
    // Canary verdicts use the SESSION gather bound — these readings are
    // taken inside a JVM that just ran 3+ sweeps (or this block's own
    // 50k scans) and see its residual cache state.
    def isoServingRun(): (Map[String, Double], Map[String, Seq[Double]],
        Boolean, Double, (Double, Double), (Double, Double)) = {
      val cPre = CpuCanary.reading()
      val st0 = HostSteal.stealSeconds()
      val (best, reps) = servingProtocols(spark)
      val steal = if (st0 < 0) -1.0 else HostSteal.stealSeconds() - st0
      val cPost = CpuCanary.reading()
      val dirty = steal > 10.0 ||
        !sessionCanaryOk(cPre) || !sessionCanaryOk(cPost)
      (best, reps, dirty, steal, cPre, cPost)
    }
    val (isoServing, isoReps, isoDirty, isoSteal, isoCPre, isoCPost) =
      if (skipServing)
        (Map.empty[String, Double], Map.empty[String, Seq[Double]], false,
          0.0, (0.0, 0.0), (0.0, 0.0))
      else {
        val a1 = isoServingRun()
        if (!a1._3 || !budgetOk("serving_isolated_retry", 26.0)) a1
        else {
          System.err.println("[bench] serving_isolated epoch dirty — one retry")
          System.gc()
          isoServingRun()
        }
      }
    // [worst, best] QPS across the isolated reps — the worst WARM reading
    // is the number the 2x-vs-baseline gate should be judged on.
    if (isoServing.nonEmpty) {
      servingIso = isoReps.toSeq.sortBy(_._1).map { case (k, reps) =>
        f""""$k":[${reps.min}%.0f,${reps.max}%.0f]"""
      }.mkString(""""serving_isolated":{""", ",",
        f"""},"serving_isolated_dirty":$isoDirty,"serving_isolated_steal":$isoSteal%.0f,"serving_isolated_canary_alu":[${isoCPre._1}%.2f,${isoCPost._1}%.2f],"serving_isolated_canary_gather":[${isoCPre._2}%.2f,${isoCPost._2}%.2f]""")
      emit(partial = true)
    }
    System.gc()
    // the 500k serving point (run once, after the isolated block — its
    // own builds are heavyweight and must not heat the 50k readings)
    if (!skipServing && budgetOk("serving_500k", 22.0)) {
      s500 = servingClusteredGated(spark, "serving_500k", n = 500000,
        nCenters = 1000, retryBudgetMin = 20.0)
      emit(partial = true)
    }
    System.gc()
    // the 1M crossover point (r13 verdict item 2): at 500k the composed
    // tiers sit at or below flat-IVF QPS — the corpus-size-INDEPENDENT
    // candK rescore still rivals the scan term. Same cells/nprobe (scan
    // fraction constant) so doubling the corpus doubles each query's
    // scan work: IVF's scan grows at 128 int8 B/row, IVFPQ's at 8 B/row,
    // IVFBQ's at 16 B/row — the point where compression stacked on
    // pruning must pull ahead, or the artifact honestly shows it doesn't.
    // Budget preference (r15 verdict item 2): serving_4m carries the one
    // open claim, so 1m requires enough budget for BOTH (its own ~7 min
    // plus the 4m reserve) — when the window is tight, 1m is skipped and
    // the remaining budget goes to 4m.
    if (!skipServing && budgetOk("serving_1m", 18.0)) {
      s1m = servingClusteredGated(spark, "serving_1m", n = 1000000,
        nCenters = 2000, retryBudgetMin = 18.0)
      emit(partial = true)
    }
    System.gc()
    // the 4M CROSSOVER point, run last (heaviest build; try/catch so an
    // OOM or build failure degrades to null instead of losing the whole
    // artifact). The child's hard timeout is clamped to the remaining
    // budget so it cannot outlive the driver's window.
    // entry gate 10: the child's 4M build alone is ~5 min, so a clamped
    // timeout under ~9 min is guaranteed waste — skip (with the marker)
    // rather than launch a child that cannot finish
    if (!skipServing && budgetOk("serving_4m", 10.0)) {
      s4m = try serving4m(spark) catch {
        case e: Throwable =>
          System.err.println(s"[bench] serving_4m failed: $e")
          """"serving_4m":null"""
      }
    }
    System.gc()
    emit(partial = false)
    spark.stop()
  }
  /** The eight serving protocols (int8 SIMD sequential search, batch Spark
    * job, 10-thread concurrent, PQ ADC scan, 1-bit BQ scan, IVF-pruned
    * routed scan, and the composed IVF+PQ / IVF+BQ rescored tiers)
    * at the published 50k x dim-128 operating point
    * (benchmark_suite.py:105-121, :197-224; BASELINE.md ~1,100 QPS).
    * Returns (best QPS per protocol, per-rep QPS per protocol). Called
    * TWICE per bench run: once before the sweep (clean JVM — the cold
    * readings, comparable to the reference's own protocol) and once
    * after (serving_isolated — fully JIT-warmed, uncontended, so the
    * artifact carries its own cold/hot pair and the 2x gate does not
    * ride best-of-reps over an order-of-magnitude in-run spread). */
  private def servingProtocols(spark: SparkSession)
      : (Map[String, Double], Map[String, Seq[Double]]) = {
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
    val local = index.toLocal
    (0 until 10).foreach(i => local.search(queries(i)._2, 10)) // warm-ups (benchmark_suite.py:109)
    // untimed: pay the 50k index-build/broadcast allocation debt here —
    // otherwise one timed rep absorbs a full GC and the variance block
    // reports a 911-QPS floor that is heap history, not scan cost
    System.gc()
    val repsLocal = (0 until 5).map { _ =>
      val t = System.nanoTime()
      queries.foreach(q => local.search(q._2, 10))
      (System.nanoTime() - t) / 1e9
    }
    val bestLocal = repsLocal.min
    index.search(queries, 10) // warm-up
    val repsBatch = (0 until 5).map { _ =>
      val t = System.nanoTime()
      index.search(queries, 10)
      (System.nanoTime() - t) / 1e9
    }
    val bestBatch = repsBatch.min
    // concurrent serving: 10 threads x 50 queries against the shared
    // local replica (benchmark_suite.py:197-224 protocol at 50k) —
    // overlapping callers scan on their own threads (LocalIndex
    // concurrency model), so this measures scaling, not lock queueing
    val repsConc = (0 until 3).map { _ =>
      val t = System.nanoTime()
      val ths = (0 until 10).map { w =>
        val th = new Thread(() =>
          (0 until 50).foreach(i => local.search(queries((w * 50 + i) % 100)._2, 10)))
        th.start(); th
      }
      ths.foreach(_.join())
      (System.nanoTime() - t) / 1e9
    }
    val bestConc = repsConc.min
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
    (0 until 10).foreach(i => pq.search(qFloats(i), 10))
    val repsPq = (0 until 5).map { _ =>
      val t = System.nanoTime()
      qFloats.foreach(q => pq.search(q, 10))
      (System.nanoTime() - t) / 1e9
    }
    val bestPq = repsPq.min
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
    (0 until 10).foreach(i => bq.search(qCodes(i), 10))
    val repsBq = (0 until 5).map { _ =>
      val t = System.nanoTime()
      qCodes.foreach(q => bq.search(q, 10))
      (System.nanoTime() - t) / 1e9
    }
    val bestBq = repsBq.min
    // IVF-pruned serving tier (LocalIvfIndex): the SAME 50k corpus behind
    // a 64-cell coarse quantizer, probed at nprobe=8 — scan fraction
    // 8/64 = 12.5% of the corpus per query plus the 64-dot routing cost.
    // This is the serving shape that matters past ~1M vectors: every
    // other local tier scans ALL rows per query. Routing quality is
    // spec-gated (LocalIvfSpec recall curve); this tier reports the
    // throughput of the pruned scan at the bench operating point.
    val ivfCells = 64
    val ivfNprobe = 8
    val ivf = graft.store.LocalIvfIndex.train(bqIds, bqVecs, numCells = ivfCells)
    (0 until 10).foreach(i => ivf.search(queries(i)._2, 10, ivfNprobe))
    System.gc()
    val repsIvf = (0 until 5).map { _ =>
      val t = System.nanoTime()
      queries.foreach(q => ivf.search(q._2, 10, ivfNprobe))
      (System.nanoTime() - t) / 1e9
    }
    val bestIvf = repsIvf.min
    // IVF+PQ composed tier (LocalIvfPqIndex): route on the same 64-cell
    // coarse quantizer, ADC-scan the probed cells' 8-byte codes, exact-
    // rescore the top candK=512 — pruning STACKED on compression, the
    // FAISS production serving shape (LocalIvfQuantSpec owns correctness).
    val ivfCandK = 512
    val ivfpq = graft.store.LocalIvfPqIndex.train(
      bqIds, bqVecs, numCells = ivfCells, m = pqM, kSub = pqK, cb)
    (0 until 10).foreach(i => ivfpq.search(qFloats(i), 10, ivfNprobe, ivfCandK))
    System.gc()
    val repsIvfPq = (0 until 5).map { _ =>
      val t = System.nanoTime()
      qFloats.foreach(q => ivfpq.search(q, 10, ivfNprobe, ivfCandK))
      (System.nanoTime() - t) / 1e9
    }
    val bestIvfPq = repsIvfPq.min
    // IVF+BQ composed tier (LocalIvfBqIndex): same routing, XOR+popcount
    // scan of the probed cells' sign bits, exact rescore of candK=512.
    val ivfbq = graft.store.LocalIvfBqIndex.train(bqIds, bqVecs, numCells = ivfCells)
    (0 until 10).foreach(i => ivfbq.search(qFloats(i), 10, ivfNprobe, ivfCandK))
    System.gc()
    val repsIvfBq = (0 until 5).map { _ =>
      val t = System.nanoTime()
      qFloats.foreach(q => ivfbq.search(q, 10, ivfNprobe, ivfCandK))
      (System.nanoTime() - t) / 1e9
    }
    val bestIvfBq = repsIvfBq.min
    index.unpersist()
    val reps = Map("search" -> repsLocal.map(100.0 / _),
      "batch" -> repsBatch.map(100.0 / _),
      "concurrent" -> repsConc.map(500.0 / _),
      "pq" -> repsPq.map(100.0 / _),
      "bq" -> repsBq.map(100.0 / _),
      "ivf" -> repsIvf.map(100.0 / _),
      "ivfpq" -> repsIvfPq.map(100.0 / _),
      "ivfbq" -> repsIvfBq.map(100.0 / _))
    (Map("search" -> 100.0 / bestLocal, "batch" -> 100.0 / bestBatch,
      "concurrent" -> 500.0 / bestConc, "pq" -> 100.0 / bestPq,
      "bq" -> 100.0 / bestBq, "ivf" -> 100.0 / bestIvf,
      "ivfpq" -> 100.0 / bestIvfPq, "ivfbq" -> 100.0 / bestIvfBq), reps)
  }

  /** The 500k serving point (r12 verdict item 2): the operating point
    * where IVF pruning actually SHOWS. At 50k vectors the ~150 us fixed
    * per-query cost dominates both flat and pruned scans (enginebench
    * `serve`, NOTES_r12 §3) — at 500k the flat scan is 10x the work while the
    * pruned scan grows only with nprobe/numCells of it, so the pruning
    * multiple becomes measurable. The corpus is CLUSTERED (1,000 centers,
    * the natural extension of benchmark_suite.py:96's size ladder to a
    * routable distribution — IVF on an isotropic Gaussian has nothing to
    * route on), and the artifact records recall@10 vs the flat scan
    * BESIDE each pruned tier's QPS so the throughput multiple is read at
    * a known recall, never for free.
    *
    * Reported: flat / ivf / ivfpq / ivfbq QPS + recall@10 at
    * nprobe=8/128, candK=1024. */
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
  private def serving4m(spark: SparkSession): String = {
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
      // (no interleaved epoch was steal- AND canary-clean) — the r14
      // verdict's "a claim that flips between clean-LOOKING runs isn't
      // a measurement" demands the artifact carry a certified-clean
      // reading or say it could not get one. The child's hard timeout
      // is clamped to the remaining wall-clock budget (r15 rc-124 fix).
      def attempt(): Option[String] = {
        val tmo = math.max(9L, math.min(30L, (budgetLeft - 1.0).toLong))
        runChild("graft.tools.Serving4m",
          Seq(cbPath.toString, graft.ops.PqQueries.M.toString,
            graft.ops.PqQueries.K.toString, n.toString),
          timeoutMin = tmo, heap = "12g")
          .flatMap(_.find(_.startsWith("{\"corpus\"")))
      }
      attempt() match {
        case None =>
          System.err.println("[bench] serving_4m child produced no JSON")
          """"serving_4m":null"""
        case Some(json) if json.contains("\"epoch_dirty\":true") &&
            budgetOk("serving_4m_retry", 10.0) =>
          System.err.println("[bench] serving_4m epoch dirty — one retry")
          System.gc()
          attempt() match {
            case Some(j2) => s""""serving_4m":$j2"""
            case None => s""""serving_4m":$json"""
          }
        case Some(json) => s""""serving_4m":$json"""
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

  /** servingClustered with the r15 one-shot-block epoch gate: if the
    * block's steal or canary readings say the window was dirty, re-run
    * it ONCE (the builds are minutes — one retry bounds the cost, and
    * the retry itself must fit the remaining wall-clock budget); the
    * emitted JSON always carries its own epoch_dirty verdict either
    * way, so a reading that never got a clean window says so. */
  private def servingClusteredGated(spark: SparkSession, label: String,
      n: Int, nCenters: Int, retryBudgetMin: Double): String = {
    val first = servingClustered(spark, label, n, nCenters)
    if (!first.contains("\"epoch_dirty\":true") ||
      !budgetOk(s"${label}_retry", retryBudgetMin)) first
    else {
      System.err.println(s"[bench] $label epoch dirty — one retry")
      System.gc()
      servingClustered(spark, label, n, nCenters)
    }
  }

  private def servingClustered(spark: SparkSession, label: String,
      n: Int, nCenters: Int): String = {
    // block-level host-steal delta carried in the JSON: these one-shot
    // scale points are the bench's most steal-vulnerable sections (the
    // r14 close attempt 1 read ivfpq at 38 QPS during a 485-cpu-s steal
    // burst, vs 2.6k clean) — the artifact must say when that happened.
    // r15: bounding canary readings beside it (two-sided; session gather
    // bound — this JVM's own build stages precede the post reading).
    val cPre = CpuCanary.reading()
    val stBlock0 = HostSteal.stealSeconds()
    val dim = 128
    val rnd = new scala.util.Random(97)
    val centers = Array.fill(nCenters)(Array.fill(dim)(rnd.nextGaussian().toFloat * 3f))
    // r16 (r15 verdict item 3): the corpus DF is generated EXECUTOR-side
    // from the per-row-seeded CorpusGen recipe — the r15 driver-built
    // ids.zip(vecs).toSeq.toDF shipped 8.6-17.7 MB tasks ("task of very
    // large size" warnings in the graded tail) and minutes of driver
    // allocation. The driver keeps only the Local* tier replicas (the
    // in-process indexes under test — bounded, same as toLocal), built
    // from the SAME per-row recipe so both sides see identical vectors.
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
    // queries = corpus points + fresh noise (the serving distribution);
    // seeded independently of the corpus recipe (per-row now, not a
    // shared sequential stream)
    val qrnd = new scala.util.Random(7 + n)
    val queries = (0 until 100).map { _ =>
      val c = centers(qrnd.nextInt(nCenters))
      Array.tabulate(dim)(j => c(j) + qrnd.nextGaussian().toFloat * 1.0f)
    }.toArray
    val qBytes = queries.map(graft.functions.VectorKernels.quantize)
    (0 until 10).foreach(i => flat.search(qBytes(i), 10))
    System.gc()
    val repsFlat = (0 until 5).map { _ =>
      val t = System.nanoTime()
      qBytes.foreach(q => flat.search(q, 10))
      (System.nanoTime() - t) / 1e9
    }
    val truth = qBytes.map(q => flat.search(q, 10).map(_._1).toSet)
    def recall(got: Array[Seq[(Long, Double)]]): Double =
      got.zip(truth).map { case (g, t) => g.map(_._1).count(t).toDouble / 10 }
        .sum / truth.length
    val cells = 128
    val nprobe = 8
    // the recall-1.0 knee on this corpus (candK 256 -> 0.68/0.75, candK
    // 512 -> 1.000/1.000; enginebench `serve` runs candK 512 and reports
    // each tier's recall_at_10 on its own clustered corpus): the rescore funnel is
    // corpus-size-INDEPENDENT work, so the composed tiers sit at IVF-flat
    // parity at 500k and pull ahead as the scan term grows with corpus
    val candK = 512
    val ivf = graft.store.LocalIvfIndex.train(ids, vecs, numCells = cells)
    (0 until 10).foreach(i => ivf.search(qBytes(i), 10, nprobe))
    System.gc()
    val repsIvf = (0 until 5).map { _ =>
      val t = System.nanoTime()
      qBytes.foreach(q => ivf.search(q, 10, nprobe))
      (System.nanoTime() - t) / 1e9
    }
    val recIvf = recall(qBytes.map(q => ivf.search(q, 10, nprobe)))
    val scanFrac = qBytes.map(q => ivf.probedRows(q, nprobe).toDouble / n).sum / qBytes.length
    val cb = graft.ops.PqQueries.trainCodebookOn(embDf)
    val ivfpq = graft.store.LocalIvfPqIndex.train(ids, vecs, numCells = cells,
      m = graft.ops.PqQueries.M, kSub = graft.ops.PqQueries.K, cb)
    (0 until 10).foreach(i => ivfpq.search(queries(i), 10, nprobe, candK))
    System.gc()
    val repsIvfPq = (0 until 5).map { _ =>
      val t = System.nanoTime()
      queries.foreach(q => ivfpq.search(q, 10, nprobe, candK))
      (System.nanoTime() - t) / 1e9
    }
    val recIvfPq = recall(queries.map(q => ivfpq.search(q, 10, nprobe, candK)))
    val ivfbq = graft.store.LocalIvfBqIndex.train(ids, vecs, numCells = cells)
    (0 until 10).foreach(i => ivfbq.search(queries(i), 10, nprobe, candK))
    System.gc()
    val repsIvfBq = (0 until 5).map { _ =>
      val t = System.nanoTime()
      queries.foreach(q => ivfbq.search(q, 10, nprobe, candK))
      (System.nanoTime() - t) / 1e9
    }
    val recIvfBq = recall(queries.map(q => ivfbq.search(q, 10, nprobe, candK)))
    index.unpersist()
    bcCenters.destroy()
    val flatQps = 100.0 / repsFlat.min
    val ivfQps = 100.0 / repsIvf.min
    // -1 sentinel when /proc/stat is unreadable (both reads -1): a raw
    // difference would report 0, which reads as "clean" instead of
    // "unknown" — mirror every other call site's guard
    val blockSteal = if (stBlock0 < 0) -1.0 else HostSteal.stealSeconds() - stBlock0
    val cPost = CpuCanary.reading()
    val dirty = blockSteal > 10.0 ||
      !sessionCanaryOk(cPre) || !sessionCanaryOk(cPost)
    f""""$label":{"corpus":$n,"cells":$cells,"nprobe":$nprobe,"cand_k":$candK,"steal_cpu_s":$blockSteal%.0f,"canary_alu":[${cPre._1}%.2f,${cPost._1}%.2f],"canary_gather":[${cPre._2}%.2f,${cPost._2}%.2f],"epoch_dirty":$dirty,"mean_scan_frac":$scanFrac%.4f,"flat_qps":$flatQps%.0f,"ivf_qps":$ivfQps%.0f,"ivf_recall10":$recIvf%.3f,"ivf_speedup":${ivfQps / flatQps}%.2f,"ivfpq_qps":${100.0 / repsIvfPq.min}%.0f,"ivfpq_recall10":$recIvfPq%.3f,"ivfbq_qps":${100.0 / repsIvfBq.min}%.0f,"ivfbq_recall10":$recIvfBq%.3f}"""
  }
}
