package graft

import org.apache.spark.sql.functions._

/** The 100 TB join-layout claim from SCALE.md, proven locally: bucketing
  * both fact tables on the join key removes the shuffle entirely — the
  * joined plan contains no ShuffleExchange. */
class BucketingSpec extends SparkSpec {

  test("bucketed fact-fact join plans without a shuffle exchange") {
    val li = Tables.lineitem(spark, sf001)
    val ord = Tables.orders(spark, sf001)
    li.write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey").saveAsTable("li_bucketed")
    ord.write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey").saveAsTable("ord_bucketed")

    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      val joined = spark.table("li_bucketed")
        .join(spark.table("ord_bucketed"),
          col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"))
      assert(plan.contains("Bucketed: true"))
      // no exchange on the JOIN keys (the agg's group-key exchange is fine)
      assert(!plan.contains("Exchange hashpartitioning(l_orderkey") &&
        !plan.contains("Exchange hashpartitioning(o_orderkey"),
        s"unexpected join-key shuffle:\n$plan")

      // same join over the raw (unbucketed) parquet DOES shuffle
      val unbucketed = li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      unbucketed.collect()
      val uplan = unbucketed.queryExecution.executedPlan.toString
      assert(uplan.contains("Exchange hashpartitioning(l_orderkey") ||
        uplan.contains("Exchange hashpartitioning(o_orderkey"),
        "control: unbucketed join should shuffle on the join key")

      // results identical
      val a = joined.collect().map(r => (r.getString(0), r.getLong(1))).toMap
      val b = unbucketed.collect().map(r => (r.getString(0), r.getLong(1))).toMap
      assert(a == b)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS li_bucketed")
      spark.sql("DROP TABLE IF EXISTS ord_bucketed")
    }
  }

  test("dynamic partition pruning: a dim filter prunes the partitioned fact at runtime") {
    // The join-driven half of partition pruning (IvfAtRestSpec covers the
    // static half): the fact is partitioned on the join key, the filter
    // lives on the DIM side only, and Spark injects a dynamic pruning
    // subquery into the fact scan — at 100 TB this is what keeps a
    // star join from scanning every date/tenant partition.
    val dir = tempDir("dpp-fact")
    val li = Tables.lineitem(spark, sf001)
    li.write.mode("overwrite").partitionBy("l_returnflag").parquet(dir)
    val totalParts = spark.read.parquet(dir)
      .select("l_returnflag").distinct().count()
    assert(totalParts >= 2)

    import spark.implicits._
    // the dim must be a real datasource: a Filter over an in-memory
    // LocalRelation is constant-folded away by ConvertToLocalRelation,
    // erasing the selective-predicate signal DPP keys on
    val dimDir = tempDir("dpp-dim")
    Seq(("A", "accepted"), ("R", "returned"), ("N", "neutral"))
      .toDF("flag", "label").write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // DPP fires for broadcast joins by default; keep the dim broadcast
      val joined = spark.read.parquet(dir)
        .join(dim.filter(col("label") === "returned"),
          col("l_returnflag") === col("flag"))
        .groupBy(col("flag")).agg(count(lit(1)).as("n"))
      val rows = joined.collect()
      assert(rows.length == 1 && rows.head.getString(0) == "R")
      val scan = joined.queryExecution.executedPlan.toString
      assert(scan.contains("dynamicpruningexpression"),
        s"no dynamic pruning subquery in the fact scan:\n${scan.take(1500)}")
      // control: value-identical result from a static filter
      val static = spark.read.parquet(dir)
        .filter(col("l_returnflag") === "R").count()
      assert(rows.head.getLong(1) == static)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("AQE splits a skewed join partition (the runtime half of SCALE.md)") {
    import spark.implicits._
    // one hot key carrying ~all rows on the left, joined to a small-but-
    // not-broadcastable right side
    val left = (0 until 120000).map(i => (if (i % 100 == 0) i.toLong else 7L, i))
      .toDF("k", "v")
    val right = (0L until 5000L).map(k => (k, s"r$k")).toDF("k", "name")
    val prev = Map(
      "spark.sql.autoBroadcastJoinThreshold" ->
        spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" ->
        spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionFactor"),
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" ->
        spark.conf.get("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"),
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" ->
        spark.conf.get("spark.sql.adaptive.advisoryPartitionSizeInBytes"))
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ
      // thresholds low enough that the hot partition qualifies at this size
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64KB")
      val joined = left.join(right, "k")
      // collect() drives joined's OWN QueryExecution, so AQE finalizes the
      // plan we inspect (count()/write wrap it in a new execution)
      // hot key 7: 118800 rows; distinct keys i%100==0 under 5000: 50 rows
      assert(joined.collect().length == 118850)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skewed join:\n${plan.take(2000)}")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }
}
