package perfbench

import scala.collection.mutable

/** What one run observed, written as JSON for run.py to turn into metrics:
  * raw samples (so percentiles and their sample counts are computed in one
  * place), scalars, layer counts, and every failed or wrong operation. */
final class Report {
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val scalars = mutable.LinkedHashMap.empty[String, Double]
  private val errors = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failed = 0L
  /** The ledger's queries: every traced run reports per-query metrics for
    * them, zero when the workload runs none. */
  var ledgerQueries: Seq[String] = Nil

  def sample(name: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += v
  }
  def scalar(name: String, v: Double): Unit = synchronized { scalars(name) = v }

  /** Runs a full collection and samples `live_mb`: heap and non-heap memory
    * still in use after it, in MiB. The workloads call this between phases,
    * outside every timed span, so the largest sample is the most memory
    * the program held at any phase boundary. The first collection lets
    * Spark's ContextCleaner see which broadcasts and shuffles the program
    * dropped; the pause lets it remove them, and the second collection
    * frees what they held. */
  def liveMemory(): Unit = {
    System.gc()
    Thread.sleep(100)
    System.gc()
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    sample("live_mb", (m.getHeapMemoryUsage.getUsed +
      m.getNonHeapMemoryUsage.getUsed) / 1048576.0)
  }

  /** Counts one operation; `problem` is None when its output was right. */
  def op(problem: Option[String]): Unit = synchronized {
    attempted += 1
    problem.foreach { p =>
      failed += 1
      if (errors.size < 20) errors += p
    }
  }

  def json: String = synchronized {
    Json.obj("attempted" -> attempted, "failed" -> failed,
      "errors" -> errors.toSeq,
      "samples" -> samples.map { case (k, v) => k -> v.toSeq }.toMap,
      "scalars" -> scalars.toMap, "ledger_queries" -> ledgerQueries)
  }
}
