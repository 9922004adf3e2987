package graft.lake

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession

/** The Spark jobs a block starts, by job description. Run nothing else on
  * the session meanwhile: every job start is counted. */
object SparkJobs {
  def started(spark: SparkSession)(body: => Unit): Seq[String] = {
    // the listener bus is asynchronous: record every job start, then run
    // a marked job and wait for it, so all earlier starts have arrived
    val sc = spark.sparkContext
    val starts = new LinkedBlockingQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        starts.add(Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse(""))
    }
    def jobsUntilMarker(): Seq[String] = {
      val marker = s"marker-${java.util.UUID.randomUUID()}"
      sc.setJobDescription(marker)
      // an RDD action: exactly one job (a SQL count may run two)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      Iterator.continually(starts.poll(60, TimeUnit.SECONDS))
        .takeWhile(d => d != null && d != marker).toSeq
    }
    sc.addSparkListener(listener)
    try {
      jobsUntilMarker()
      body
      jobsUntilMarker()
    } finally sc.removeSparkListener(listener)
  }
}
