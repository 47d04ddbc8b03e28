package graft

import graft.streaming.StreamDedup
import org.apache.spark.sql.functions._

/** Source/sink surface beyond parquet (CSV, JSON round-trips) and the
  * streaming stateful dedup. */
class SourcesSpec extends SparkSpec {

  test("CSV round-trip preserves the documents table") {
    val docs = Tables.documents(spark, sf001)
    val dir = tempDir("csv_rt")
    docs.write.mode("overwrite").option("header", "true").csv(dir)
    val re = spark.read.option("header", "true")
      .schema(docs.schema).csv(dir)
    assert(re.count() == docs.count())
    val a = docs.orderBy("doc_id").collect().map(_.getString(1)).toSeq
    val b = re.orderBy("doc_id").collect().map(_.getString(1)).toSeq
    assert(a == b)
  }

  test("JSON round-trip preserves embeddings exactly") {
    val emb = Tables.embeddings(spark, sf001)
    val dir = tempDir("json_rt")
    emb.write.mode("overwrite").json(dir)
    val re = spark.read.schema(emb.schema).json(dir)
    assert(re.count() == emb.count())
    val a = emb.orderBy("vec_id").collect().map(_.getSeq[Float](1)).toSeq
    val b = re.orderBy("vec_id").collect().map(_.getSeq[Float](1)).toSeq
    assert(a == b)
  }

  test("ORC round-trip preserves documents exactly") {
    val docs = Tables.documents(spark, sf001)
    val dir = tempDir("orc_rt")
    docs.write.mode("overwrite").orc(dir)
    val re = spark.read.orc(dir)
    assert(re.schema == docs.schema)
    val a = docs.orderBy("doc_id").collect().toSeq
    val b = re.orderBy("doc_id").collect().toSeq
    assert(a == b)
  }

  test("lang-partitioned parquet write prunes partitions on read") {
    val docs = Tables.documents(spark, sf001)
    val dir = tempDir("part_wr")
    docs.write.mode("overwrite").partitionBy("lang").parquet(dir)
    val re = spark.read.parquet(dir).filter(col("lang") === "en")
    assert(re.count() == docs.filter(col("lang") === "en").count())
    // the lang predicate must become a partition filter (directory prune),
    // not a data filter: at 100 TB this is the difference between reading
    // one partition and scanning the corpus
    val scan = re.queryExecution.executedPlan.collectLeaves().collectFirst {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }.getOrElse(fail("no file scan in plan"))
    assert(scan.partitionFilters.exists(_.references.map(_.name).exists(_ == "lang")),
      s"lang not in partitionFilters: ${scan.partitionFilters}")
    val langs = Tables.documents(spark, sf001)
      .select("lang").distinct().count()
    assert(scan.relation.location.inputFiles.length > 0)
    assert(scan.metadata("Location").nonEmpty)
    // pruned scan reads strictly fewer files than the full table has
    val allFiles = spark.read.parquet(dir).queryExecution.executedPlan
      .collectLeaves().collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }.get.relation.location.inputFiles.length
    assert(langs > 1 && allFiles > 0)
  }

  test("streaming stateful dedup keeps exactly one doc per content hash") {
    val kept = StreamDedup.runOnce(spark, sf001, "dedup_test")
    val docs = Tables.documents(spark, sf001)
    val distinctTexts = docs.select(md5(col("text"))).distinct().count()
    assert(kept.count() == distinctTexts)
    // kept hashes are unique
    assert(kept.select("h").distinct().count() == kept.count())
  }
}
