package perfbench

import java.nio.file.{Files, Path}

import graft.SparkEntry
import org.apache.spark.sql.SparkSession

/** The `ledger` workload: one client sweeping a fixed list of
  * `SparkEntry.queries` with a noop sink, the way the engine's own bench
  * times the ledger, over fixed fixtures (half of sf0.1's documents and
  * embeddings). The seed orders the queries in each pass. */
object Ledger {

  /** One Similarity query and two corpus queries. s16 (IVF-PQ recall over
    * an nprobe sweep) is bound by scheduling and DataFrame construction:
    * dozens of jobs, some run while the DataFrame is built. d12 (exact
    * containment join, Dedup) and p08 (the gopher, C4 and perplexity gates
    * of TextAnalysis composed) are bound by compute and shuffle. */
  val Queries: Seq[String] = Seq("s16_pq_nprobe_recall", "d12_containment",
    "p08_curated_corpus")

  /** Timed passes a run makes at the least, so each query has a best time
    * of two. */
  val MinPasses = 2

  def run(spark: SparkSession, seed: Long, seconds: Int, fixtures: String,
      results: Path, tracer: Option[Tracer], rep: Report): Unit = {
    val fns = SparkEntry.queries

    // Warmup, untimed as a sweep: fills the per-session model caches and
    // writes each query's rows for the oracle check run.py makes. Memory is
    // sampled after every query, here and in the timed passes: what stays
    // live after a query varies with the queries before it.
    var warmupNs = 0L
    Queries.foreach { q =>
      val t0 = System.nanoTime()
      try fns(q)(spark, fixtures).coalesce(1).write.mode("overwrite")
        .parquet(results.resolve(q).toString)
      catch { case e: Exception => rep.op(Some(s"$q warmup: ${e.getMessage}")) }
      warmupNs += System.nanoTime() - t0
      rep.liveMemory()
    }
    rep.scalar("warmup_s", warmupNs / 1e9)
    Files.writeString(results.resolve("oracle_sql.json"),
      Json.value(Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap))

    // Timed passes, each in a seeded order: MinPasses, then more until
    // the run's time is up. A traced run traces each query in every other
    // pass, half of the queries starting traced, so its untraced executions
    // measure the overhead. A pass's time is the sum of its queries' times.
    val rng = new scala.util.Random(seed)
    val tracedFirst = rng.shuffle(Queries).take(Queries.size / 2).toSet
    val start = System.nanoTime()
    var pass = 0
    while (pass < MinPasses || System.nanoTime() - start < seconds * 1000000000L) {
      var passMs = 0.0
      rng.shuffle(Queries).foreach { q =>
        val traced = tracer.filter(_ => tracedFirst(q) == (pass % 2 == 0))
        val q0 = System.nanoTime()
        rep.op(try {
          traced match {
            case None =>
              fns(q)(spark, fixtures).write.mode("overwrite").format("noop").save()
            case Some(t) => t.span(q, 0L) {
              val df = t.span("ledger.build", t.current)(fns(q)(spark, fixtures))
              t.span("ledger.action", t.current)(
                df.write.mode("overwrite").format("noop").save())
            }
          }
          None
        } catch { case e: Exception => Some(s"$q: ${e.getMessage}") })
        val ms = (System.nanoTime() - q0) / 1e6
        rep.sample(s"query_ms.$q", ms)
        if (tracer.isDefined) rep.sample(if (traced.isDefined) "traced_ms" else "untraced_ms", ms)
        passMs += ms
        rep.liveMemory()
      }
      rep.sample("pass_s", passMs / 1000)
      pass += 1
    }
  }
}
