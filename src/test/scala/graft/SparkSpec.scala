package graft

import graft.streaming.Staged
import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}
import scala.util.Try

/** Shared session base: one lazy SparkSession per suite. */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf001 = "/root/testdata/sf0.001"

  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[Path]

  /** A fresh temp directory named after `prefix`, deleted when this suite
    * ends (suite scope: several suites share one built index across their
    * tests). Deletion is best effort — a RocksDB checkpoint can still be
    * written after its query stops, and cleanup must not fail the suite. */
  def tempDir(prefix: String): String = synchronized {
    val d = Files.createTempDirectory(prefix)
    tempDirs += d
    d.toString
  }

  override protected def afterAll(): Unit =
    try tempDirs.foreach(d => Try(Staged.deleteTree(d)))
    finally super.afterAll()

  /** Runs `f` and returns its result with the number of Spark jobs it
    * started: the listener bus is drained before and after, so the count
    * holds exactly the jobs `f` submitted. */
  def jobsDuring[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val out = f
      TestListenerBus.drain(sc)
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val warehouse = Files.createTempDirectory("graft-wh")
    sys.addShutdownHook(Try(Staged.deleteTree(warehouse)))
    Sessions.local("4", appName = "graft-test",
      extra = Map("spark.sql.warehouse.dir" -> warehouse.toString))
  }
}
