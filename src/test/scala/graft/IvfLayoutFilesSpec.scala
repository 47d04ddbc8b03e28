package graft

import graft.store.{IvfBqIndex, IvfIndex, IvfPqIndex}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The at-rest cell writer shuffles on cell before its partitioned write,
  * so every build, append and rebuild of the three IVF tiers writes one
  * parquet file per `cell=` directory, not one per (task, cell) pair.
  * AQE partition coalescing is switched off inside each test: the
  * assignment's window shuffle then spreads every cell over all shuffle
  * partitions, as it does on a corpus too large to coalesce. */
class IvfLayoutFilesSpec extends SparkSpec {

  private def uncoalesced[T](f: => T): T = {
    val key = "spark.sql.adaptive.coalescePartitions.enabled"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try f finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  /** cell dir name -> its parquet files. */
  private def filesPerCell(dir: String): Map[String, Set[String]] =
    new java.io.File(s"$dir/data").listFiles().toSeq
      .filter(f => f.isDirectory && f.getName.startsWith("cell="))
      .map(d => d.getName -> d.listFiles().map(_.getName).filter(_.endsWith(".parquet")).toSet)
      .toMap

  private def assertOnePerCell(dir: String, what: String): Unit = {
    val files = filesPerCell(dir)
    assert(files.size >= 5, s"$what: only ${files.size} cells")
    files.foreach { case (cell, fs) =>
      assert(fs.size == 1, s"$what: $cell holds ${fs.size} files")
    }
  }

  private type Op = (DataFrame, String) => Unit
  private val tiers: Seq[(String, Op, Op, Op)] = Seq(
    ("IvfIndex", (e, d) => IvfIndex.build(e, d), (e, d) => IvfIndex.append(e, d),
      (_, d) => IvfIndex.rebuild(spark, d)),
    ("IvfPqIndex", (e, d) => IvfPqIndex.build(e, d), (e, d) => IvfPqIndex.append(e, d),
      (e, d) => IvfPqIndex.rebuild(e, d)),
    ("IvfPqIndex residual", (e, d) => IvfPqIndex.buildResidual(e, d),
      (e, d) => IvfPqIndex.append(e, d), (e, d) => IvfPqIndex.rebuild(e, d)),
    ("IvfBqIndex", (e, d) => IvfBqIndex.build(e, d), (e, d) => IvfBqIndex.append(e, d),
      (e, d) => IvfBqIndex.rebuild(e, d)))

  tiers.foreach { case (name, build, append, rebuild) =>
    test(s"$name: build, append and rebuild write one file per cell") {
      uncoalesced {
        val emb = Tables.embeddings(spark, sf001)
        val dir = tempDir("ivf-files")
        build(emb.filter(col("vec_id") < 250), dir)
        assertOnePerCell(dir, "build")

        val before = filesPerCell(dir)
        append(emb.filter(col("vec_id") >= 250), dir)
        val added = filesPerCell(dir).map { case (cell, fs) =>
          cell -> (fs -- before.getOrElse(cell, Set.empty)) }
        assert(added.values.exists(_.nonEmpty), "append wrote no file")
        added.foreach { case (cell, fs) =>
          assert(fs.size <= 1, s"append: ${fs.size} new files in $cell")
        }

        rebuild(emb, dir)
        assertOnePerCell(dir, "rebuild")
        assert(spark.read.parquet(s"$dir/data").count() == emb.count())
      }
    }
  }
}
