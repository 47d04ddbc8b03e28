package enginebench

import graft.store.{LocalIndex, VectorBlock, VectorStore}
import org.apache.spark.sql.{Row, SparkSession}

/** Self-test of the benchmark's checks: each check is fed a clean output,
  * which must pass, and a deliberately corrupted one, which must be counted
  * as a failed operation. The registry check's DuckDB half is exercised by
  * run.py --selftest. */
object SelfTest {
  def run(o: Opts, res: Result, spark: SparkSession): Unit = {
    // serve: a swapped id in a top-10
    val dim = 32
    val n = 3000
    val centers = Gen.centers(o.seed, 20, dim, 3f)
    val vecs = Array.tabulate(n)(i => Gen.clustered(centers, o.seed, i.toLong))
    val ids = Array.tabulate(n)(_.toLong)
    val codes = vecs.flatMap(Exact.quantize)
    val q = Exact.quantize(Gen.clustered(centers, o.seed + 1, 0L))
    val truth = Exact.bruteForce(codes, ids, dim, Array(q), 10, 2)(0)
    val flat = new LocalIndex(Array(VectorBlock(ids, codes, dim)), dim)
    val got = flat.search(q, 10)
    val swapped = got.updated(3, (got(7)._1, got(3)._2))
    expect(res, "serve top-10", Serve.sameAnswer(got, truth), Serve.sameAnswer(swapped, truth))

    // store: a tombstoned id returned by VectorStore.search
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id string, embedding array<float>, meta map<string,string>")
    val rows = (0 until 200).map { i =>
      Row(s"v$i", Gen.clustered(centers, o.seed, i.toLong).take(dim).toSeq, Map("cat" -> (i % 10).toString))
    }
    val store = VectorStore.create(spark, dim)
    store.addVectors(spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema))
    val live = scala.collection.mutable.LinkedHashMap.empty[String, Store.Live]
    rows.foreach { r =>
      val v = r.getSeq[Float](1).toArray
      live(r.getString(0)) = new Store.Live(v, Exact.quantize(v), r.getMap[String, String](2)("cat"))
    }
    val query = vecs(5)
    val dead = store.search(query, 10).collect()(0).getString(0)
    store.delete(Seq(dead))
    live.remove(dead)
    val clean = store.search(query, 10).collect()
    // the deleted row put back in first place, as a search that ignored the
    // tombstone would return it
    val deadVec = rows.find(_.getString(0) == dead).get.getSeq[Float](1).toArray
    val leaked = Row(dead, Exact.cosFloatInt8(query, Exact.quantize(deadVec)),
      Map("cat" -> "0")) +: clean.init
    expect(res, "store search", Store.matches(clean, query, None, live),
      Store.matches(leaked, query, None, live))

    // registry: a dropped row changes the result's digest
    val df = graft.SparkEntry.registry.find(_.name == "q_mips").get.fn(spark, o.fixture)
    val result = df.collect()
    Registry.writeResult(spark, o.work, "q_mips", result, df.schema)
    Registry.writeOracle(o.work, Seq("q_mips"))
    val ref = Registry.digest(result)
    expect(res, "registry result", Registry.digest(df.collect()) == ref,
      Registry.digest(result.drop(1)) == ref)
  }

  /** The clean output passes and the corrupted one is a failed operation. */
  private def expect(res: Result, what: String, clean: Boolean, corrupted: Boolean): Unit = {
    val f0 = res.failed
    res.op(clean, s"$what: clean output rejected")
    val cleanPassed = res.failed == f0
    res.op(corrupted, s"$what: corrupted output (counted as failed, as it must be)")
    val caught = res.failed == f0 + 1
    res.expectedFailures += 1
    println(s"SELFTEST $what: clean ${if (cleanPassed) "passed" else "REJECTED"}, " +
      s"corrupted ${if (caught) "counted as failed" else "NOT CAUGHT"}")
    res.setupCheck(cleanPassed && caught, s"$what check did not behave")
  }
}
