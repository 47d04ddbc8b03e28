package enginebench

import org.apache.spark.sql.SparkSession

/** JVM side of the benchmark. run.py builds the classpath, prepares the
  * run's scratch directory and launches
  *
  *   enginebench.Main <workload> <seed> <seconds> <trace 0|1> <startMs> <workDir> [fixtureDir]
  *
  * The last line of standard output is `BENCH_RESULT <json>`. A traced
  * run needs the registry fixture directory too. */
object Main {
  def main(args: Array[String]): Unit = {
    val o = Opts(args(0), args(1).toLong, args(2).toDouble, args(3) == "1",
      args(4).toLong, args(5), if (args.length > 6) args(6) else "")
    Trace.enabled = o.trace
    val res = new Result
    res.traced = o.trace
    val spark = session(o)
    try {
      part(o.workload)(o, res, spark)
      if (o.trace) {
        // every traced run reports every per-layer metric: after the
        // workload's own traced phase, the layers it does not time are
        // measured by a short pass of the other parts (a probe), whose
        // readings never replace the workload's own
        res.probing = true
        Parts.filter(_ != o.workload).foreach { p =>
          Host.phase(s"probe: $p")
          part(p)(o.copy(seconds = ProbeSeconds, probe = true), res, spark)
        }
        val path = s"${o.work}/trace-${o.workload}-${o.seed}.jsonl"
        Trace.write(path)
        System.err.println(s"[enginebench] ${Trace.count} spans written to $path")
      }
    } finally spark.stop()
    println("BENCH_RESULT " + res.json)
  }

  /** The parts a traced run measures, in order: the two workloads and the
    * query registry, which is measured per layer only. */
  val Parts: Seq[String] = Seq("serve", "store", "registry")
  // the timed window of a probe; serve's rotation of whole blocks and the
  // store's one cycle run past it
  val ProbeSeconds = 2.0

  def part(name: String): (Opts, Result, SparkSession) => Unit = name match {
    case "serve" => Serve.run
    case "store" => Store.run
    case "registry" => Registry.run
    case "selftest" => SelfTest.run
    case w => throw new IllegalArgumentException(s"unknown workload $w")
  }

  /** The engine's own session factory, with shuffle, scratch and warehouse
    * directories kept inside the run's scratch directory. */
  def session(o: Opts): SparkSession =
    graft.Sessions.local(Host.cores.toString, appName = s"enginebench-${o.workload}",
      logLevel = "ERROR",
      extra = Map(
        "spark.local.dir" -> s"${o.work}/spark-local",
        "spark.sql.warehouse.dir" -> s"${o.work}/warehouse",
        "spark.driver.host" -> "localhost",
        "spark.driver.bindAddress" -> "127.0.0.1"))
}
