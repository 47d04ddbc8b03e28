package graft.streaming

import java.nio.file.{Files, Path}
import java.util.Comparator

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

/** The staged micro-batch harness behind the streaming batch-equivalence
  * twins.
  *
  * Each twin splits a fixture into micro-batches by writing part-files into
  * one watched directory and relies on the file source processing them in
  * write order. FileStreamSource orders new files by MODIFICATION TIME, so
  * an mtime tie on a coarse-granularity filesystem could process batch 2
  * first — making every batch-1 row late, silently dropped by the
  * watermark, and the "streamed == batch prefix fold" equivalence wrong.
  * `appendOrdered` removes the race: after each batch's write it stamps the
  * batch's fresh files with a strictly increasing mtime (one minute apart,
  * anchored in the near past so the source's max-file-age window is never
  * at risk), so trigger order is guaranteed on any filesystem.
  */
object Staged {
  def appendOrdered(dir: String, batches: DataFrame*): Unit = {
    val d = new java.io.File(dir)
    // _SUCCESS / .crc sidecars are hidden to the file source; only stamp
    // the data files it will actually list.
    def dataFiles(): Set[java.io.File] =
      Option(d.listFiles()).getOrElse(Array.empty[java.io.File])
        .filter(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))
        .toSet
    val base = System.currentTimeMillis() - (batches.size + 1) * 60000L
    var seen = dataFiles()
    batches.zipWithIndex.foreach { case (b, i) =>
      b.coalesce(1).write.mode("append").parquet(dir)
      val fresh = dataFiles() -- seen
      fresh.foreach { f =>
        if (!f.setLastModified(base + i * 60000L))
          throw new IllegalStateException(
            s"could not stamp micro-batch order on $f")
      }
      seen ++= fresh
    }
  }

  /** Run `op` as a streaming query over `batches`, one trigger per batch:
    * each batch is staged as one file in a fresh temp dir, the files are
    * streamed with the first batch's schema and `maxFilesPerTrigger` 1,
    * and `op`'s output runs into the memory sink `queryName` until all
    * input is processed. Returns the sink table.
    *
    * Throws IllegalStateException unless exactly `batches.size` triggers
    * read rows: a run that did not give one trigger per batch (an empty
    * batch, or batches merged into one trigger) does not test carrying
    * state across triggers, which is what every twin's equivalence claim
    * rests on. */
  def run(spark: SparkSession, queryName: String, outputMode: String,
      batches: DataFrame*)(op: DataFrame => Dataset[_]): DataFrame = {
    val inPath = Files.createTempDirectory("staged-in")
    try {
      appendOrdered(inPath.toString, batches: _*)
      val stream = spark.readStream.schema(batches.head.schema)
        .option("maxFilesPerTrigger", 1).parquet(inPath.toString)
      val q = op(stream).toDF()
        .writeStream.outputMode(outputMode)
        .format("memory").queryName(queryName)
        .start()
      try q.processAllAvailable() finally q.stop()
      val triggers = q.recentProgress.count(_.numInputRows > 0)
      if (triggers != batches.size)
        throw new IllegalStateException(
          s"$queryName: ${batches.size} staged batches ran as $triggers " +
            "non-empty triggers")
      spark.table(queryName)
    } finally deleteTree(inPath)
  }

  /** Run `body` with the RocksDB state store (the state-v2 API's
    * requirement), restoring the session's previous provider afterwards.
    * The provider is read when a query starts, so `body` must start its
    * query inside this call. */
  def withRocksDb[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body
    finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** Delete `root` and everything under it, children first. Throws if a
    * file cannot be deleted. */
  def deleteTree(root: Path): Unit = {
    val walk = Files.walk(root)
    try walk.sorted(Comparator.reverseOrder[Path]())
      .forEach(p => Files.deleteIfExists(p))
    finally walk.close()
  }
}
