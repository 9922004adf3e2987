package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}

/** Scheduling-overhead profiler: runs selected queries with a
  * SparkListener attached and prints, per query, wall-clock beside the
  * JOB/STAGE/TASK counts and the summed task time. The diagnostic the
  * optimization loop needs for queries whose price is scale-independent
  * (the r19 s16 adjudication: ~85% of its cost was per-job scheduling,
  * invisible in the plan) — a query whose wall-clock far exceeds its
  * summed task time is paying driver-side scheduling, not compute.
  *
  * Usage: runMain graft.JobProbe [sfDir] [query ...]   (all by default)
  * Env: SPARK_GRAFT_CPUS (default: the machine's cores).
  */
object JobProbe {

  /** Counters snapshot; deltas between snapshots bracket one query. */
  final class Counts {
    @volatile var jobs = 0L
    @volatile var stages = 0L
    @volatile var tasks = 0L
    @volatile var taskMs = 0L
    @volatile var jobGapMs = 0L // wall time from job submit to job end, summed
    def snapshot: (Long, Long, Long, Long, Long) =
      (jobs, stages, tasks, taskMs, jobGapMs)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    LedgerRunner.run("graft-jobprobe") { spark =>
      spark.sparkContext.setLogLevel("ERROR")
      val c = new Counts
      val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
      spark.sparkContext.addSparkListener(new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit = {
          c.jobs += 1
          jobStart.put(e.jobId, System.nanoTime())
        }
        override def onJobEnd(e: SparkListenerJobEnd): Unit = {
          val t0 = jobStart.remove(e.jobId)
          if (t0 != 0L) c.jobGapMs += (System.nanoTime() - t0) / 1000000L
        }
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
          c.stages += 1
        override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
          c.tasks += 1
          if (e.taskInfo != null)
            c.taskMs += (e.taskInfo.finishTime - e.taskInfo.launchTime)
        }
      })
      println("query,wall_ms,jobs,stages,tasks,task_ms,job_wall_ms")
      names.foreach { name =>
        SparkEntry.queries.get(name) match {
          case Some(fn) =>
            // untimed warmup: file indexes + JIT, the Bench discipline
            try LedgerRunner.noop(fn(spark, sfDir))
            catch { case _: Throwable => () }
            Thread.sleep(300) // let the async listener bus drain
            val before = c.snapshot
            val t0 = System.nanoTime()
            val ok =
              try {
                LedgerRunner.noop(fn(spark, sfDir))
                true
              } catch {
                case e: Throwable =>
                  System.err.println(s"[probe] $name failed: ${e.getMessage}")
                  false
              }
            val wallMs = (System.nanoTime() - t0) / 1000000L
            Thread.sleep(300) // let the async listener bus drain
            val after = c.snapshot
            if (ok) println(s"$name,$wallMs,${after._1 - before._1}," +
              s"${after._2 - before._2},${after._3 - before._3}," +
              s"${after._4 - before._4},${after._5 - before._5}")
          case None => System.err.println(s"[probe] unknown query: $name")
        }
      }
    }
  }
}
