package graft

/** Bench's per-query routine ([[Bench.timed]]) on the shared session: each
  * timed pass's `layers` record counts the jobs, stages and tasks that its
  * own build and noop write started, and nothing of any other pass. */
class BenchLayersSpec extends SparkSpec {

  // a record sums every job under its key, so each test's keys are new
  private def fresh = java.util.UUID.randomUUID().toString

  test("a pass counts its own build and action jobs, and no other pass's") {
    Bench.Layers.setup(spark)
    Bench.Layers.setup(spark) // a second listener would double every count
    // collects at construction: a 2-task build job, then a 3-task write
    def collects = {
      val n = spark.range(0, 10, 1, 2).collect().length
      spark.range(0, n.toLong, 1, 3).toDF()
    }
    // lazy: no job before its 7-task write
    def stays = spark.range(0, 100, 1, 7).toDF()
    val id = fresh
    for (pass <- 1 to 2) {
      assert(Bench.timed(spark, "collects", s"collects#$id#$pass")(collects) >= 0)
      assert(Bench.timed(spark, "stays", s"stays#$id#$pass")(stays) >= 0)
    }
    // an untimed job, like the warmup's, counts in no record
    spark.range(0, 10, 1, 11).count()
    Bench.Layers.drain(spark.sparkContext)
    for (pass <- 1 to 2) {
      val c = Bench.Layers.layer(s"collects#$id#$pass")
      val s = Bench.Layers.layer(s"stays#$id#$pass")
      assert(c("build_jobs") == 1 && c("action_jobs") >= 1, c)
      assert(s("build_jobs") == 0 && s("action_jobs") >= 1, s)
      // each record holds exactly its own entry's tasks and stages
      assert(c("tasks") == 2 + 3 && c("stages") == 2, c)
      assert(s("tasks") == 7 && s("stages") == 1, s)
      Seq(c, s).foreach { l =>
        assert(l("build_ms") >= 0 && l("action_ms") >= 0, l)
        assert(l("task_ms") >= 0 && l("job_wall_ms") >= 0, l)
        assert(l.keySet == Bench.LayerFields.toSet, l)
      }
    }
  }

  test("a pass whose build throws keeps its jobs and reads -1") {
    Bench.Layers.setup(spark)
    val key = s"fails#$fresh#1"
    val elapsed = Bench.timed(spark, "fails", key) {
      spark.range(0, 4, 1, 4).collect()
      throw new IllegalStateException("stand-in failure")
    }
    assert(elapsed == -1.0)
    Bench.Layers.drain(spark.sparkContext)
    val l = Bench.Layers.layer(key)
    assert(l("build_ms") == -1 && l("action_ms") == -1, l)
    assert(l("build_jobs") == 1 && l("action_jobs") == 0 && l("tasks") == 4, l)
  }
}
