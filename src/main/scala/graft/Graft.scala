package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory with scale-oriented defaults, and the only
  * `SparkSession` builder in the engine: the harnesses, the test fixture
  * and the benchmark all take their session from [[Graft.session]], so
  * every session installs the `graft_*` SQL functions
  * ([[graft.functions.GraftExtensions]]).
  *
  * The engine is designed for a multi-executor cluster reading ~100 TB; these
  * defaults are the local[N] test-rig equivalents of that posture:
  *   - AQE on (runtime shuffle coalescing, skew-join splitting, broadcast
  *     conversion from runtime stats),
  *   - shuffle partitions sized to the rig (cluster deployments override to
  *     ~2-3x total cores),
  *   - UTC session time zone (the reference stamps zoneless
  *     `LocalDateTime.now()`, /root/reference Main.java:105 — pinning UTC
  *     makes TimestampType coincide with it IFF the reference host also runs
  *     in UTC; for other host zones the partition labels differ by the zone
  *     offset. Correctness tests must not rely on cross-zone equality.).
  *
  * The session starts at log level WARN; a caller whose output must stay
  * quiet (Bench, JobProbe, perfbench) sets ERROR itself.
  */
object Graft {

  /** Cores of the local rig: `SPARK_GRAFT_CPUS`, else the machine's. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def session(
      appName: String = "graft",
      master: String = s"local[$cpus]",
      shufflePartitions: Int = cpus
  ): SparkSession = {
    val spark = SparkSession
      .builder()
      .appName(appName)
      .master(master)
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** How a harness (Bench, Verify, JobProbe, Explain) runs ledger queries:
  * which ones, how a result is forced, and the session around them. */
object LedgerRunner {

  /** The `SPARK_GRAFT_ONLY` allowlist, for focused runs; absent, every
    * query runs. */
  val only: Option[String] = sys.env.get("SPARK_GRAFT_ONLY")

  /** The ledger entries named in the comma-separated `allowlist` (blanks
    * trimmed, unknown names dropped), or all of them, in ledger order. */
  def select(allowlist: Option[String])
      : Seq[(String, (SparkSession, String) => DataFrame)] = {
    val names = allowlist.map(_.split(",").map(_.trim).toSet)
    SparkEntry.queries.toSeq.filter { case (k, _) => names.forall(_(k)) }
  }

  /** Evaluate every output column and keep nothing: the noop sink forces
    * FULL evaluation, where a bare count() would let Catalyst prune
    * projection-only work to nothing. */
  def noop(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  /** Run `body` on a fresh [[Graft.session]], then drop the shared
    * similarity graphs and stop the session. */
  def run(appName: String)(body: SparkSession => Unit): Unit = {
    val spark = Graft.session(appName)
    try body(spark)
    finally {
      graft.operators.Similarity.clearSharedGraphs(spark)
      spark.stop()
    }
  }
}
