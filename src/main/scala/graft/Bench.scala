package graft
import org.apache.spark.sql.SparkSession

object Bench {

  /** Short id for the driver line ("q01" for "q01_pricing_summary") —
    * uniqueness across the ledger is guarded by EntrySpec. */
  private def shortId(name: String): String = name.takeWhile(_ != '_')

  /** Min of the successful passes, or -1 when every pass failed. The MIN
    * (not mean) is the jitter-proofing: co-load on the rig can only ever
    * slow a pass down, so the fastest observed run is the closest sample
    * to the query's true cost — a transient spike would have to hit the
    * same query in BOTH sweeps to distort the reported number (the r9
    * failure mode: single-shot timing under driver co-load faked a 28%
    * regression and a 6.8x outlier on untouched code). */
  def minOfPasses(passes: Seq[Double]): Double = {
    val ok = passes.filter(_ >= 0)
    if (ok.isEmpty) -1.0 else ok.min
  }

  /** Render the ONE stdout JSON line the driver tail-captures. Every byte
    * counts against a 2000-byte window (the r4 failure mode: a full
    * per-query map outgrew it and the round's bench parsed null), so the
    * line carries the total, the query count, and only the TEN slowest
    * queries in integer milliseconds — its length is ~constant no matter
    * how far the ledger grows (EntrySpec asserts < 1600 bytes even at
    * +40 queries). Values are min-of-passes; the full per-pass map goes
    * to [[fullMapJson]]. Formatting pins Locale.ROOT: under a
    * comma-decimal default locale an f-interpolated total would emit
    * `"value":149,500` and the sole line the driver parses would be
    * invalid JSON. */
  def renderLine(results: Seq[(String, Double)], sfName: String): String = {
    val ok = results.filter(_._2 >= 0)
    val total = String.format(java.util.Locale.ROOT, "%.3f",
      Double.box(ok.map(_._2).sum))
    val failed = results.filterNot(_._2 >= 0).map(_._1)
    val slow = ok.sortBy(-_._2).take(10)
      .map { case (k, v) => "\"" + shortId(k) + "\":" + math.round(v * 1000) }
      .mkString("{", ",", "}")
    val failedPart =
      if (failed.isEmpty) ""
      else failed.map("\"" + shortId(_) + "\"").mkString(""","failed":[""", ",", "]")
    s"""{"metric":"total","value":$total,"unit":"sec","n":${results.size},"slowest_ms":$slow$failedPart,"queries_file":"BENCH_QUERIES.json","sf":"$sfName"}"""
  }

  /** Full per-query timings written to BENCH_QUERIES.json in the working
    * dir — the driver's round-end commit picks it up, so per-query history
    * survives without spending stdout-line bytes on it. EVERY timed pass
    * is persisted (integer ms, full names; -1 = failed) alongside the min
    * the driver line reports, so jitter is visible in the artifact itself:
    * a pass-1/pass-2 spread is co-load, a min that moved is a real
    * plan/code change. */
  def fullMapJson(results: Seq[(String, Seq[Double])], sfName: String): String = {
    def ms(v: Double): Long = if (v >= 0) math.round(v * 1000) else -1L
    val qs = results
      .map { case (k, passes) =>
        val arr = passes.map(ms).mkString("[", ",", "]")
        "\"" + k + "\":{\"passes_ms\":" + arr +
          ",\"min_ms\":" + ms(minOfPasses(passes)) + "}"
      }
      .mkString("{", ",", "}")
    s"""{"unit":"ms","sf":"$sfName","passes":2,"queries":$qs}"""
  }

  /** Where the per-query map is written. An explicit
    * `SPARK_GRAFT_BENCH_FULL` path is always written, alone. Otherwise a
    * full sweep writes `BENCH_QUERIES.json` plus a core-suffixed copy
    * (when benching at two core counts, the second run overwrites the
    * first's default file), and a focused run (`SPARK_GRAFT_ONLY` set)
    * writes nothing, so its partial map never clobbers the committed
    * full-sweep artifacts. */
  private[graft] def artifactPaths(explicit: Option[String],
      focused: Boolean, cpus: String): Seq[String] =
    explicit.map(Seq(_)).getOrElse(
      if (focused) Nil
      else Seq("BENCH_QUERIES.json", s"BENCH_QUERIES_c$cpus.json"))

  def main(args: Array[String]): Unit =
    LedgerRunner.run("graft-bench")(sweep)

  private def sweep(spark: SparkSession): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val queries = LedgerRunner.select(LedgerRunner.only)
    // ERROR-only logs: the bench's published surface is one JSON line,
    // and the driver's 2000-byte tail capture must hold it — WARN
    // noise (localCheckpoint reliability notes, AQE chatter) was
    // drowning it. Real failures still surface: the sweep catches and
    // prints [bench] lines per query at stderr.
    spark.sparkContext.setLogLevel("ERROR")
    // No checkpoint dir here, DELIBERATELY: Anchor.cut then takes
    // localCheckpoint, so timed queries measure their PLANS, not the
    // checkpoint store. The r18 experiment that pointed the bench at a
    // reliable (tmpfs-backed) checkpoint dir re-priced every
    // anchor-heavy query by its checkpoint-file round trips — the five
    // kNN-graph consumers drifted 1.6–3.0× with zero plan change, pure
    // harness-environment cost. The reliable path is still exercised
    // where it belongs: Verify (the untimed correctness surface) sets
    // a checkpoint dir for every anchored query, and AnchorSpec covers
    // the persist+checkpoint+release mechanics directly.
    // Untimed warmup: one full pass builds file indexes and lets the JIT
    // compile every query's generated code, so timed numbers reflect
    // steady state rather than which query happened to run first cold.
    queries.foreach { case (_, fn) =>
      try LedgerRunner.noop(fn(spark, sfDir))
      catch { case _: Throwable => () }
    }
    // Failures record -1 so the output distinguishes a broken query from
    // a fast one.
    def timedSweep(): Seq[(String, Double)] = queries.map {
      case (name, fn) =>
        val t0 = System.nanoTime()
        val elapsed =
          try {
            LedgerRunner.noop(fn(spark, sfDir))
            (System.nanoTime() - t0) / 1e9
          } catch {
            case e: Throwable =>
              System.err.println(s"[bench] $name failed: ${e.getMessage}")
              -1.0
          }
        name -> elapsed
    }
    // TWO full timed sweeps (not back-to-back per query): a transient
    // co-load spike at any moment lands in pass 1 of some queries and
    // pass 2 of others, so the per-query min dodges it; per-query
    // double-timing would put both samples inside the same spike.
    val pass1 = timedSweep()
    val pass2 = timedSweep().toMap
    val passes = pass1.map { case (name, p1) =>
      name -> Seq(p1, pass2.getOrElse(name, -1.0))
    }
    val results = passes.map { case (name, ps) => name -> minOfPasses(ps) }
    // basename only ("sf0.1"), not the full path
    val sfName = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)
    artifactPaths(sys.env.get("SPARK_GRAFT_BENCH_FULL"),
        LedgerRunner.only.isDefined, Graft.cpus.toString).foreach { path =>
      try {
        java.nio.file.Files.write(java.nio.file.Paths.get(path),
          (fullMapJson(passes, sfName) + "\n")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] could not write $path: ${e.getMessage}")
      }
    }
    println(renderLine(results, sfName))
  }
}
