package graft

import graft.ops.SelectionQueries
import org.apache.spark.sql.functions._

/** Property tests for the data-selection operators (SelectionQueries):
  * prefix-filter LOSSLESSNESS proven against a brute-force twin, priority
  * sampling's unbiased-estimator contract, and DSIR's target enrichment.
  * (The DuckDB oracle gate separately pins the exact values at all SFs.) */
class SelectionSpec extends SparkSpec {

  /** Brute-force exact-Jaccard join over the SAME hashed shingle sets —
    * the oracle's formulation, here as a Spark cross-check. */
  private def bruteJaccard(d: String) = {
    val docs = Tables.documents(spark, d)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= SelectionQueries.PjK)
      .select(col("doc_id"),
        array_distinct(transform(
          sequence(lit(0), size(col("t")) - SelectionQueries.PjK),
          i => graft.functions.TextOps.md5Prefix60(concat_ws(" ",
            (0 until SelectionQueries.PjK)
              .map(o => element_at(col("t"), i + o + 1)): _*)))).as("g"))
    val a = docs.select(col("doc_id").as("doc_a"), col("g").as("ga"))
    val b = docs.select(col("doc_id").as("doc_b"), col("g").as("gb"))
    a.crossJoin(b).filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("ga"), col("gb"))).cast("long").as("ni"),
        (size(col("ga")) + size(col("gb"))).cast("long").as("s_ab"))
      .filter(col("ni").cast("double") /
        (col("s_ab") - col("ni")).cast("double") >= SelectionQueries.PjT)
      .select(col("doc_a"), col("doc_b"))
  }

  test("q_prefix_join is LOSSLESS: equals brute-force qualifying pairs (sf0.001)") {
    val got = SparkEntry.queries("q_prefix_join")(spark, sf001)
      .select(col("doc_a"), col("doc_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val brute = bruteJaccard(sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == brute,
      s"prefix join diverged: missing=${brute -- got}, extra=${got -- brute}")
    assert(got.nonEmpty, "fixture should contain qualifying near-dup pairs")
  }

  test("q_priority_sample: N rows, descending priorities, estimator near truth") {
    val rows = SparkEntry.queries("q_priority_sample")(spark, sf001).collect()
    assert(rows.length == SelectionQueries.PrioN)
    val prios = rows.map(_.getAs[Double]("priority"))
    assert(prios.zip(prios.tail).forall { case (a, b) => a >= b },
      "sample must be ordered by descending priority")
    val tau = rows.head.getAs[Double]("tau")
    assert(prios.forall(_ >= tau), "every sampled priority must be >= tau")
    // est_w = max(w, tau) by construction
    rows.foreach { r =>
      assert(r.getAs[Double]("est_w") ==
        math.max(r.getAs[Long]("w").toDouble, tau))
    }
    // Unbiased subset-sum estimator: a 10%-of-corpus sample concentrates
    // tightly (measured 0.895-0.957 across the three SFs)
    val ratio = rows.head.getAs[Double]("est_total") /
      rows.head.getAs[Long]("true_total").toDouble
    assert(ratio > 0.7 && ratio < 1.3, s"estimator ratio $ratio out of range")
  }

  test("q_priority_sample small-corpus fallback: <= N rows -> tau=0, full sample, exact estimator") {
    // with fewer than PrioN+1 rows there is no (N+1)-th priority; the DLT
    // fallback is tau=0, the "sample" is the whole corpus, est_w = w, and
    // the estimator is EXACT (ADVICE r8: the former 0-or-1-row tau
    // relation annihilated the sample via the cross join)
    import spark.implicits._
    val dir = tempDir("prio-small")
    (1L to 10L).map(i => (i, s"tok$i text", "en", "t", 10L + i))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = SparkEntry.queries("q_priority_sample")(spark, dir).collect()
    assert(rows.length == 10, s"expected the whole 10-row corpus, got ${rows.length}")
    assert(rows.forall(_.getAs[Double]("tau") == 0.0), "tau must fall back to 0")
    rows.foreach(r => assert(r.getAs[Double]("est_w") ==
      r.getAs[Long]("w").toDouble, "est_w must equal w when tau=0"))
    val est = rows.head.getAs[Double]("est_total")
    val truth = rows.head.getAs[Long]("true_total")
    assert(est == truth.toDouble,
      s"estimator must be exact on a full sample: $est vs $truth")
  }

  test("q_dsir_select enriches the target domain and is deterministic") {
    val rows = SparkEntry.queries("q_dsir_select")(spark, sf001).collect()
    assert(rows.length == SelectionQueries.DsirN)
    val nEn = rows.count(_.getAs[String]("lang") == "en")
    // corpus is ~44% en; the LLR selection should be overwhelmingly en
    // (measured 25/25, 24/25, 19/25 across the three SFs)
    assert(nEn >= 15, s"expected en-enriched selection, got $nEn/25 en")
    val again = SparkEntry.queries("q_dsir_select")(spark, sf001).collect()
    assert(rows.map(_.toString).toSeq == again.map(_.toString).toSeq,
      "selection must be deterministic across runs")
  }

  test("prefix-join losslessness holds on random set corpora (seeded property sweep)") {
    import spark.implicits._
    // the fixture exercises one data shape; the prefix-length bound
    // (s - ceil(T*s) + 1) must hold for ARBITRARY sets — especially tiny
    // ones where the ceil arithmetic has edge cases (s = 1, 2, 3...),
    // identical sets, subsets, and high-collision universes
    val rnd = new scala.util.Random(20260814L)
    (1 to 10).foreach { trial =>
      val universe = 1 + rnd.nextInt(30)
      val nDocs = 5 + rnd.nextInt(25)
      val docs = (0 until nDocs).map { i =>
        val sz = 1 + rnd.nextInt(12)
        (i.toLong, Seq.fill(sz)(rnd.nextInt(universe).toLong).distinct)
      }
      val got = graft.ops.SelectionQueries.prefixJoin(docs.toDF("doc_id", "g"))
        .select(col("doc_a"), col("doc_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val sets = docs.map { case (id, g) => id -> g.toSet }.toMap
      val brute = (for {
        a <- sets.keys; b <- sets.keys if a < b
        inter = (sets(a) & sets(b)).size
        uni = sets(a).size + sets(b).size - inter
        if inter.toDouble / uni >= SelectionQueries.PjT
      } yield (a, b)).toSet
      assert(got == brute,
        s"trial $trial (universe=$universe, docs=$nDocs): " +
          s"missing=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
    }
  }

  test("containment-join losslessness holds on random set corpora (seeded property sweep)") {
    import spark.implicits._
    // the asymmetric prefix bound (s - ceil(T*s) + 1 rarest shingles of
    // the CONTAINED side vs the full posting relation) must be lossless
    // for arbitrary sets — subsets, identical sets, singletons, and
    // high-collision universes where the rarity order is degenerate
    val rnd = new scala.util.Random(20260814L)
    (1 to 10).foreach { trial =>
      val universe = 1 + rnd.nextInt(30)
      val nDocs = 5 + rnd.nextInt(25)
      val docs = (0 until nDocs).map { i =>
        val sz = 1 + rnd.nextInt(12)
        (i.toLong, Seq.fill(sz)(rnd.nextInt(universe).toLong).distinct)
      }
      val got = graft.ops.SelectionQueries.containmentJoin(docs.toDF("doc_id", "g"))
        .select(col("doc_a"), col("doc_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      val sets = docs.map { case (id, g) => id -> g.toSet }.toMap
      val brute = (for {
        a <- sets.keys; b <- sets.keys if a != b
        inter = (sets(a) & sets(b)).size
        if inter.toDouble / sets(a).size >= SelectionQueries.CjT
      } yield (a, b)).toSet
      assert(got == brute,
        s"trial $trial (universe=$universe, docs=$nDocs): " +
          s"missing=${(brute -- got).take(5)} extra=${(got -- brute).take(5)}")
    }
  }

  test("q_kcenter_coreset: greedy invariants (distinct, non-increasing, radius bound)") {
    val rows = SparkEntry.queries("q_kcenter_coreset")(spark, sf001).collect()
    assert(rows.length == SelectionQueries.KcK)
    val ids = rows.map(_.getAs[Long]("vec_id"))
    assert(ids.distinct.length == ids.length, "centers must be distinct")
    // greedy selection distances are non-increasing: each pick is the
    // farthest point from a SUPERSET of the previous pick's center set
    val dists = rows.sortBy(_.getAs[Long]("t")).drop(1)
      .map(_.getAs[Double]("pick_dist"))
    assert(dists.zip(dists.tail).forall { case (a, b) => a >= b },
      s"selection distances must be non-increasing: ${dists.toSeq}")
    assert(dists.forall(d => d >= 0.0 && d <= 2.0), "cosine distance range")
    // after K picks every point is within final_radius of a center, and
    // the next pick would be at exactly final_radius <= the last pick
    val radius = rows.head.getAs[Double]("final_radius")
    assert(radius <= dists.last, s"radius $radius > last pick ${dists.last}")
    assert(radius > 0.0, "degenerate coreset: radius 0")
  }

  test("q_group_sample: exactly k per stratum, the k smallest priorities, no corpus sort") {
    import org.apache.spark.sql.functions.{col, min => smin}
    val rows = SparkEntry.queries("q_group_sample")(spark, sf001).collect()
    val perLang = rows.groupBy(_.getAs[String]("lang"))
    assert(perLang.size == 5)
    perLang.foreach { case (l, rs) =>
      assert(rs.length == SelectionQueries.GsK, s"$l: ${rs.length} rows")
      val prs = rs.sortBy(_.getAs[Long]("rn")).map(_.getAs[Long]("pr"))
      assert(prs.zip(prs.tail).forall { case (a, b) => a <= b },
        s"$l: priorities not ascending with rank")
    }
    // the kept set really is the k smallest per stratum: no unsampled doc
    // may have a smaller priority than its stratum's max kept priority
    val kept = perLang.map { case (l, rs) => l -> rs.map(_.getAs[Long]("pr")).max }
    val docs = Tables.documents(spark, sf001)
      .select(col("lang"), col("doc_id"),
        (graft.functions.TextOps.md5Prefix60(org.apache.spark.sql.functions
          .concat(org.apache.spark.sql.functions.lit("gsamp:"),
            col("doc_id").cast("string"))) % SelectionQueries.GsMod).as("pr"))
    val keptIds = rows.map(_.getAs[Long]("doc_id")).toSet
    val violations = docs.collect().filter { r =>
      !keptIds.contains(r.getAs[Long]("doc_id")) &&
        r.getAs[Long]("pr") < kept(r.getAs[String]("lang"))
    }
    assert(violations.isEmpty, s"unsampled docs beat the kept set: ${violations.take(3).toSeq}")
    // plan: the aggregate path must not sort the corpus (no Window/global Sort below the agg)
    val plan = SparkEntry.queries("q_group_sample")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("WindowExec"), "per-group sampling must not use a corpus window")
  }

  test("prefix filter actually prunes: prefix tokens are a strict subset of shingles") {
    // structural sanity on the fixture: candidate generation reads fewer
    // (doc, shingle) rows than the full shingle relation would
    val docs = Tables.documents(spark, sf001)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= SelectionQueries.PjK)
      .select(size(array_distinct(transform(
        sequence(lit(0), size(col("t")) - SelectionQueries.PjK),
        i => graft.functions.TextOps.md5Prefix60(concat_ws(" ",
          (0 until SelectionQueries.PjK)
            .map(o => element_at(col("t"), i + o + 1)): _*))))).as("s"))
    val full = docs.agg(sum(col("s"))).collect()(0).getLong(0)
    val prefix = docs
      .select((col("s") - expr("(s + 1) div 2")).as("p"))
      .agg(sum(col("p") + 1)).collect()(0).getLong(0)
    assert(prefix < full / 2 + docs.count(),
      s"prefix relation ($prefix) should be about half the full relation ($full)")
  }
}
