package graft

/** Driver-contract smoke: entry() must return rows on sf0.001, and every
  * declared query must have either an oracle or a documented exemption. */
class EntrySpec extends SparkSpec {

  test("entry() flagship returns rows on the smoke fixture") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every query has an oracle unless approximate by design") {
    val exempt = Set("q18_approx_distinct") // HLL sketch: rows-only check
    val missing = SparkEntry.queries.keySet --
      SparkEntry.oracleSql.keySet -- exempt
    assert(missing.isEmpty, s"queries without oracle: $missing")
    val orphaned = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphaned.isEmpty, s"oracles without query: $orphaned")
  }

  test("bench short ids (prefix before first '_') are unique") {
    // Bench.scala emits timings under these prefixes to stay inside the
    // driver's 2000-byte tail capture; a collision silently falls back to
    // full names and re-inflates the line past the window (the r4
    // failure). Fail here instead of discovering it in BENCH_r{N}.json.
    val byPrefix = SparkEntry.queries.keySet.groupBy(_.takeWhile(_ != '_'))
    val clashes = byPrefix.filter(_._2.size > 1)
    assert(clashes.isEmpty, s"colliding bench short ids: $clashes")
  }

  test("bench stdout line stays inside the driver tail window at +40 queries") {
    // The driver captures only the last 2000 bytes of stdout; r4's bench
    // line outgrew it and the round's numbers parsed null. The line now
    // carries only total + slowest-10, so its length must stay ~constant:
    // project it with 40 EXTRA worst-case queries (long names, 6-digit
    // ms) and assert comfortable headroom, not just bare fit.
    val grown = SparkEntry.queries.keys.toSeq.map(_ -> 99.999) ++
      (1 to 40).map(i => f"zz$i%02d_future_query_with_a_long_name" -> 99.999)
    val line = Bench.renderLine(grown, "sf0.1")
    assert(line.length < 1600,
      s"bench line ${line.length} bytes — headroom gone: $line")
  }

  test("bench artifact carries every timed pass plus the reported min") {
    // r9's co-load distortion is only auditable if the artifact itself
    // shows the pass spread: both sweeps' times must be present verbatim
    // alongside the min the driver line reports, and a query whose first
    // pass failed must still report the surviving pass as its min.
    val json = Bench.fullMapJson(
      Seq("q01_x" -> Seq(1.234, 0.5), "q02_y" -> Seq(-1.0, 2.0)), "sf0.1")
    assert(json.contains(""""q01_x":{"passes_ms":[1234,500],"min_ms":500}"""),
      json)
    assert(json.contains(""""q02_y":{"passes_ms":[-1,2000],"min_ms":2000}"""),
      json)
    assert(json.contains(""""passes":2"""), json)
    assert(Bench.minOfPasses(Seq(-1.0, -1.0)) == -1.0)
  }

  test("bench artifact carries one layers record per pass, a failed one too") {
    // the record's fields and their order are the artifact's schema;
    // a pass whose build threw reads -1 for both phases' wall ms
    val ok = Bench.LayerFields.zipWithIndex
      .map { case (f, i) => f -> (i + 1).toLong }.toMap
    val failed = Bench.Layers.layer("never-timed#1")
    val json = Bench.fullMapJson(Seq("q01_x" -> Seq(1.234, -1.0),
      "q02_y" -> Seq(0.5, 0.4)), "sf0.1", Map("q01_x" -> Seq(ok, failed)))
    assert(json.contains(""""q01_x":{"passes_ms":[1234,-1],"min_ms":1234,""" +
      """"layers":[{"build_ms":1,"action_ms":2,"build_jobs":3,""" +
      """"action_jobs":4,"stages":5,"tasks":6,"task_ms":7,"job_wall_ms":8,""" +
      """"shuffle_read_bytes":9,"shuffle_write_bytes":10,"spill_bytes":11,""" +
      """"input_bytes":12,"peak_exec_bytes":13},""" +
      """{"build_ms":-1,"action_ms":-1,"build_jobs":0,"action_jobs":0,""" +
      """"stages":0,"tasks":0,"task_ms":0,"job_wall_ms":0,""" +
      """"shuffle_read_bytes":0,"shuffle_write_bytes":0,"spill_bytes":0,""" +
      """"input_bytes":0,"peak_exec_bytes":0}]}"""), json)
    // a query without records keeps the layers-free shape
    assert(json.contains(""""q02_y":{"passes_ms":[500,400],"min_ms":400}"""),
      json)
  }

  test("a focused bench run writes no default per-query artifact") {
    // SPARK_GRAFT_ONLY runs carry a partial map: writing it to the
    // default or core-suffixed file would clobber the committed
    // full-sweep artifacts the round-over-round comparison reads
    assert(Bench.artifactPaths(None, focused = true, "8").isEmpty)
    assert(Bench.artifactPaths(None, focused = false, "8") ==
      Seq("BENCH_QUERIES.json", "BENCH_QUERIES_c8.json"))
    // an explicit path is the caller's choice, focused or not
    Seq(true, false).foreach { focused =>
      assert(Bench.artifactPaths(Some("/tmp/x.json"), focused, "8") ==
        Seq("/tmp/x.json"))
    }
  }

  test("bench line total is locale-proof JSON") {
    // renderLine is the sole line the driver parses; under a comma-decimal
    // default locale an f"%.3f" would emit "value":1,500 — invalid JSON.
    SparkSpec.localeLock.synchronized {
      val prev = java.util.Locale.getDefault
      try {
        java.util.Locale.setDefault(java.util.Locale.GERMANY)
        val line = Bench.renderLine(Seq("q01_x" -> 1.5), "sf0.1")
        assert(line.contains(""""value":1.500"""), line)
      } finally java.util.Locale.setDefault(prev)
    }
  }

  test("all queries execute on the smoke fixture (sf0.001)") {
    SparkEntry.queries.foreach { case (name, fn) =>
      val n = fn(spark, "/root/testdata/sf0.001").count()
      assert(n >= 0, s"$name failed")
    }
  }
}
