package perfbench

import java.time.LocalDateTime
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.lake.{DocumentFetcher, IngestService, LakeStorage}
import org.apache.spark.TaskContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** One timed interval at a layer boundary. `trace` groups the spans of one
  * request or query; `parent` is 0 for a root. Times are epoch microseconds
  * so they line up with the scheduler's job times. */
final case class Span(id: Long, parent: Long, trace: Long, name: String,
    startUs: Long, endUs: Long)

/** In-memory span store plus the scheduler listener of a traced run.
  *
  * Spark jobs become spans too: the code that submits them puts its own span
  * id in the thread's `perfbench.span` local property, which Spark copies
  * into each job's properties and each task's context. Nothing is written
  * until [[write]] at the end of the run. */
final class Tracer(spark: SparkSession) {
  import Tracer._

  private val spans = new ConcurrentLinkedQueue[Span]()
  private val traceOf = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()

  spark.sparkContext.addSparkListener(new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val parent = Option(e.properties).flatMap(p =>
        Option(p.getProperty(Prop))).map(_.toLong).getOrElse(0L)
      jobs.put(e.jobId, new JobRec(parent, e.time * 1000))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endUs = e.time * 1000)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
        .foreach { j =>
          j.synchronized {
            j.tasks += 1
            val m = e.taskMetrics
            if (m != null) {
              j.taskMs += m.executorRunTime
              j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
              j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
            }
          }
        }
  })

  private def open(parent: Long): (Long, Long) = {
    val id = ids.incrementAndGet()
    val trace = if (parent == 0L) id else traceOf.getOrDefault(parent, parent)
    traceOf.put(id, trace)
    (id, trace)
  }

  /** Opens a span under `parent` (0 = a new trace), runs `f` with the span
    * id in the thread's local property, and restores the previous one. */
  def spanWithId[T](name: String, parent: Long)(f: Long => T): T = {
    val (id, trace) = open(parent)
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(Prop)
    sc.setLocalProperty(Prop, id.toString)
    val t0 = nowUs()
    try f(id)
    finally {
      spans.add(Span(id, parent, trace, name, t0, nowUs()))
      sc.setLocalProperty(Prop, prev)
    }
  }

  def span[T](name: String, parent: Long)(f: => T): T =
    spanWithId(name, parent)(_ => f)

  /** Records an already timed child of `parent`. */
  def child(name: String, parent: Long, startUs: Long, endUs: Long): Unit = {
    val (id, trace) = open(parent)
    spans.add(Span(id, parent, trace, name, startUs, endUs))
  }

  /** The span id the calling thread runs under, or 0. */
  def current: Long =
    Option(spark.sparkContext.getLocalProperty(Prop)).map(_.toLong).getOrElse(0L)

  /** Spans plus one `spark.job` span per finished job, written as JSON
    * lines; each job line also carries its tasks, task time, shuffle bytes
    * written and bytes spilled. */
  def write(path: java.nio.file.Path): Unit = {
    org.apache.spark.perfbench.ListenerBus.drain(spark.sparkContext)
    val w = java.nio.file.Files.newBufferedWriter(path)
    try {
      def line(fields: (String, Any)*): Unit = {
        w.write(Json.obj(fields: _*)); w.write('\n')
      }
      spans.asScala.foreach(s => line("id" -> s.id, "parent" -> s.parent,
        "trace" -> s.trace, "name" -> s.name, "start_us" -> s.startUs,
        "end_us" -> s.endUs))
      jobs.asScala.toSeq.sortBy(_._1).foreach { case (jobId, j) =>
        if (j.endUs > 0) j.synchronized {
          line("id" -> -(jobId + 1L), "parent" -> j.parent,
            "trace" -> traceOf.getOrDefault(j.parent, j.parent),
            "name" -> "spark.job", "start_us" -> j.startUs, "end_us" -> j.endUs,
            "tasks" -> j.tasks, "task_ms" -> j.taskMs,
            "shuffle_write_bytes" -> j.shuffleWrite, "spill_bytes" -> j.spill)
        }
      }
    } finally w.close()
  }
}

object Tracer {
  val Prop = "perfbench.span"
  private val ids = new AtomicLong()
  private val offsetUs =
    System.currentTimeMillis() * 1000 - System.nanoTime() / 1000

  def nowUs(): Long = offsetUs + System.nanoTime() / 1000

  private final class JobRec(val parent: Long, val startUs: Long) {
    @volatile var endUs = 0L
    var tasks = 0L
    var taskMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
  }

  /** Hands each traced client request's span id to the storage or service
    * call the HTTP server makes for it. The server passes no request
    * context through, so calls are matched on (route, book id): the client
    * registers before sending, the decorator takes the oldest match. */
  final class Pending {
    private val waiting =
      new java.util.concurrent.ConcurrentHashMap[(String, Long), ConcurrentLinkedQueue[Long]]()
    def put(route: String, key: Long, span: Long): Unit =
      waiting.computeIfAbsent((route, key), _ => new ConcurrentLinkedQueue[Long]())
        .add(span)
    def take(route: String, key: Long): Long =
      Option(waiting.get((route, key))).flatMap(q => Option(q.poll()))
        .map(_.longValue).getOrElse(0L)
  }
}

/** Times every port call. Calls made for a traced HTTP request become
  * children of that request's span; other calls made inside a traced span
  * (the bulk load) become children of that span. */
final class TracedStorage(inner: LakeStorage, tracer: Tracer,
    pending: Tracer.Pending) extends LakeStorage {

  private def parentFor(route: String, key: Long): Long = {
    val p = pending.take(route, key)
    if (p != 0L) p else tracer.current
  }

  private def traced[T](name: String, parent: Long)(f: => T): T =
    if (parent == 0L) f else tracer.span(name, parent)(f)

  override def saveBooks(books: DataFrame, ts: LocalDateTime): Unit =
    traced("lake.storage.save", tracer.current)(inner.saveBooks(books, ts))
  override def exists(bookId: Long): Boolean =
    traced("lake.storage.exists", parentFor("status", bookId))(inner.exists(bookId))
  override def listBooks(): Seq[Long] =
    traced("lake.storage.list", parentFor("list", 0L))(inner.listBooks())
  override def relativePathFor(bookId: Long, ts: LocalDateTime): String =
    inner.relativePathFor(bookId, ts)
  override def listBooksDF: DataFrame = inner.listBooksDF
  override def lake: DataFrame = inner.lake
  override def health: Map[String, String] = inner.health
}

/** [[IngestService]] whose `ingest` runs inside a span: the request's span
  * for a traced POST, otherwise the caller's current span. */
final class TracedService(spark: SparkSession, storage: LakeStorage,
    fetcher: DocumentFetcher, tracer: Tracer, pending: Tracer.Pending)
    extends IngestService(spark, storage, fetcher) {

  override def ingest(ids: Seq[Long], ts: LocalDateTime): DataFrame = {
    val p = if (ids.size == 1) pending.take("ingest", ids.head) else 0L
    val parent = if (p != 0L) p else tracer.current
    if (parent == 0L) super.ingest(ids, ts)
    else tracer.span("lake.service.ingest", parent)(super.ingest(ids, ts))
  }
}

/** Times each fetch inside the task that makes it, as a child of the span
  * that submitted the job (read from the task's local properties). Spans
  * reach the run's tracer through [[TracedFetcher.sink]]: in local mode
  * tasks run in the same JVM. */
final case class TracedFetcher(inner: DocumentFetcher) extends DocumentFetcher {
  override def fetch(id: Long): Option[String] = {
    val parent = Option(TaskContext.get()).flatMap(tc =>
      Option(tc.getLocalProperty(Tracer.Prop))).map(_.toLong).getOrElse(0L)
    val t0 = Tracer.nowUs()
    try inner.fetch(id)
    finally if (parent != 0L)
      TracedFetcher.sink.foreach(_.child("lake.fetch", parent, t0, Tracer.nowUs()))
  }
}

object TracedFetcher {
  @volatile var sink: Option[Tracer] = None
}
