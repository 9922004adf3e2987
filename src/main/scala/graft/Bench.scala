package graft

import java.util.concurrent.{ConcurrentHashMap, TimeUnit}

import scala.util.chaining._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

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
    * plan/code change. With `layers`, each query also carries one
    * [[Layer]] record per pass, in pass order. */
  def fullMapJson(results: Seq[(String, Seq[Double])], sfName: String,
      layers: Map[String, Seq[Layer]] = Map.empty): String = {
    def ms(v: Double): Long = if (v >= 0) math.round(v * 1000) else -1L
    val qs = results
      .map { case (k, passes) =>
        val arr = passes.map(ms).mkString("[", ",", "]")
        "\"" + k + "\":{\"passes_ms\":" + arr +
          ",\"min_ms\":" + ms(minOfPasses(passes)) +
          layers.get(k).fold("")(ls => ",\"layers\":" + ls.map(l =>
            LayerFields.map(f => "\"" + f + "\":" + l(f)).mkString("{", ",", "}"))
            .mkString("[", ",", "]")) + "}"
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

  /** One timed pass's `layers` record, keyed by [[LayerFields]]. */
  type Layer = Map[String, Long]

  /** A `layers` record's fields, in artifact order: the wall ms of the
    * frame's build and of its noop write (-1 for a phase that threw), the
    * jobs each phase started, then both phases' stages, tasks, task time
    * (launch to finish), job time (submit to end), shuffle bytes, bytes
    * spilled to disk and read from input, and the largest task's peak
    * execution memory. */
  val LayerFields: Seq[String] = Seq("build_ms", "action_ms", "build_jobs",
    "action_jobs", "stages", "tasks", "task_ms", "job_wall_ms", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "input_bytes", "peak_exec_bytes")

  /** Counts the Spark work of each timed pass. The pass's key and phase
    * ride in the `graft.bench.layer` job property, which Spark copies
    * from the submitting thread into every job the phase starts,
    * broadcast and subquery jobs included; jobs without it (the warmup,
    * any other caller) are not counted. Events arrive asynchronously:
    * read a record after [[drain]]. */
  private[graft] object Layers extends SparkListener {
    private val Prop = "graft.bench.layer"
    private val contexts = java.util.Collections.newSetFromMap(
      new java.util.WeakHashMap[SparkContext, java.lang.Boolean]())
    private val counts = new ConcurrentHashMap[(String, String), java.lang.Long]()
    private val jobs = new ConcurrentHashMap[Int, (String, Long)]()
    private val stages = new ConcurrentHashMap[Int, String]()

    /** Listens on `spark`'s context from the first call on. */
    def setup(spark: SparkSession): Unit = contexts.synchronized {
      if (contexts.add(spark.sparkContext)) spark.sparkContext.addSparkListener(this)
    }

    private def add(key: String, kv: (String, Long)*): Unit = kv.foreach { case (k, v) =>
      counts.merge((key, k), v, (a, b) => if (k.startsWith("peak")) math.max(a, b) else a + b)
    }

    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(Prop))).foreach { p =>
        val (key, phase) = p.splitAt(p.lastIndexOf('/'))
        add(key, s"${phase.tail}_jobs" -> 1L)
        jobs.put(e.jobId, (key, e.time))
        // a stage that an earlier job ran and this one skips stays with
        // the job whose tasks it ran
        e.stageIds.foreach(stages.putIfAbsent(_, key))
      }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobs.remove(e.jobId))
      .foreach { case (key, t0) => add(key, "job_wall_ms" -> (e.time - t0)) }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stages.get(e.stageInfo.stageId)).foreach(add(_, "stages" -> 1L))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stages.get(e.stageId)).foreach { key =>
        add(key, "tasks" -> 1L,
          "task_ms" -> (e.taskInfo.finishTime - e.taskInfo.launchTime))
        Option(e.taskMetrics).foreach(m => add(key,
          "shuffle_read_bytes" -> m.shuffleReadMetrics.totalBytesRead,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
          "spill_bytes" -> m.diskBytesSpilled, "input_bytes" -> m.inputMetrics.bytesRead,
          "peak_exec_bytes" -> m.peakExecutionMemory))
      }

    /** Runs `f` with its jobs counted as phase `name` of the pass `key`,
      * and keeps its wall ms there if it returns. */
    def phase[T](sc: SparkContext, key: String, name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      sc.setLocalProperty(Prop, s"$key/$name")
      try f.tap(_ =>
        add(key, s"${name}_ms" -> math.round((System.nanoTime() - t0) / 1e6)))
      finally sc.setLocalProperty(Prop, null)
    }

    /** Returns once every event posted before the call has reached this
      * listener (a minute at most, should events be dropped): the bus
      * delivers in order, and a marker job's end comes after them all. */
    def drain(sc: SparkContext): Unit = {
      val marker = s"drain-${java.util.UUID.randomUUID()}"
      phase(sc, marker, "drain")(sc.parallelize(Seq(1), 1).count())
      val deadline = System.nanoTime() + TimeUnit.MINUTES.toNanos(1)
      while (!counts.containsKey((marker, "job_wall_ms")) &&
        System.nanoTime() < deadline) Thread.sleep(5)
    }

    /** The record of the pass timed under `key`. */
    def layer(key: String): Layer = LayerFields.map(f => f ->
      Option(counts.get((key, f))).fold(
        if (f == "build_ms" || f == "action_ms") -1L else 0L)(_.longValue)).toMap
  }

  /** One timed pass of one query, the unit of the sweep: the clock starts
    * before the frame is built and stops after its noop write; -1 when
    * either throws. Once [[Layers.setup]] has run on `spark`, its record
    * is `Layers.layer(key)`; `key` must be new to [[Layers]]. */
  private[graft] def timed(spark: SparkSession, name: String, key: String)(
      build: => DataFrame): Double = {
    val t0 = System.nanoTime()
    try {
      val df = Layers.phase(spark.sparkContext, key, "build")(build)
      Layers.phase(spark.sparkContext, key, "action")(LedgerRunner.noop(df))
      (System.nanoTime() - t0) / 1e9
    } catch {
      case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        -1.0
    }
  }

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
      try LedgerRunner.noop(fn(spark, sfDir)) catch { case _: Throwable => () }
    }
    // Failures record -1 so the output distinguishes a broken query from
    // a fast one.
    Layers.setup(spark)
    def timedSweep(pass: Int): Seq[Double] = queries.map {
      case (name, fn) => timed(spark, name, s"$name#$pass")(fn(spark, sfDir))
    }
    // TWO full timed sweeps (not back-to-back per query): a transient
    // co-load spike at any moment lands in pass 1 of some queries and
    // pass 2 of others, so the per-query min dodges it; per-query
    // double-timing would put both samples inside the same spike.
    val (pass1, pass2) = (timedSweep(1), timedSweep(2))
    val passes = queries.map(_._1).zip(pass1.zip(pass2))
      .map { case (name, (p1, p2)) => name -> Seq(p1, p2) }
    val results = passes.map { case (name, ps) => name -> minOfPasses(ps) }
    // basename only ("sf0.1"), not the full path
    val sfName = sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)
    val paths = artifactPaths(sys.env.get("SPARK_GRAFT_BENCH_FULL"),
      LedgerRunner.only.isDefined, Graft.cpus.toString)
    if (paths.nonEmpty) Layers.drain(spark.sparkContext)
    lazy val json = fullMapJson(passes, sfName, queries.map(_._1).map(name =>
      name -> Seq(1, 2).map(pass => Layers.layer(s"$name#$pass"))).toMap)
    paths.foreach { path =>
      try {
        java.nio.file.Files.writeString(java.nio.file.Paths.get(path), json + "\n")
      } catch {
        case e: Throwable =>
          System.err.println(s"[bench] could not write $path: ${e.getMessage}")
      }
    }
    println(renderLine(results, sfName))
  }
}
