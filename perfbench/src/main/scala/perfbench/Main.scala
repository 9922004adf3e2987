package perfbench

import java.nio.file.{Files, Paths}

/** One benchmark run inside a fresh JVM, started by run.py:
  *
  * {{{
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir> <fixtures dir>
  * }}}
  *
  * Writes `result.json` (and `spans.jsonl` when traced) into the work dir.
  * Every other file it makes lives under the work dir too, which run.py
  * removes afterwards. */
object Main {
  def main(args: Array[String]): Unit = {
    val Array(workload, seedArg, secondsArg, traceArg, workArg, fixtures) = args
    val seed = seedArg.toLong
    val seconds = secondsArg.toInt
    val work = Paths.get(workArg).toAbsolutePath
    val cpus = Runtime.getRuntime.availableProcessors
    val rep = new Report
    rep.ledgerQueries = Ledger.Queries
    rep.scalar("cpus", cpus)

    val t0 = System.nanoTime()
    // master and shuffle partitions are explicit: Graft.session's defaults
    // follow SPARK_GRAFT_CPUS, not the machine.
    val spark = graft.Graft.session("perfbench", s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("ERROR")
    rep.scalar("session_s", (System.nanoTime() - t0) / 1e9)
    val tracer = if (traceArg == "1") Some(new Tracer(spark)) else None
    try {
      workload match {
        case "lake_serve" =>
          LakeServe.run(spark, seed, seconds, math.min(4, cpus), tracer, work, rep)
        case "ledger" =>
          Ledger.run(spark, seed, seconds, fixtures,
            Files.createDirectories(work.resolve("results")), tracer, rep)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      tracer.foreach(_.write(work.resolve("spans.jsonl")))
      rep.scalar("peak_rss_mb", peakRssMb())
      Files.writeString(work.resolve("result.json"), rep.json)
    } finally {
      graft.operators.Similarity.clearSharedGraphs(spark)
      spark.stop()
    }
  }

  /** The JVM's peak resident set (VmHWM), in MiB. */
  private def peakRssMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
      .map(_.toString).find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024
  }
}
