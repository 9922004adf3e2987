package graft.lake

import java.time.LocalDateTime

import graft.SparkSpec

/** E1 end-to-end (fetch -> split -> save) with a fixture fetcher standing
  * in for gutenberg.org (the reference's HTTP source,
  * IngestionService.java:43-53) — SURVEY §5's t1 vertical slice. */
/** Top-level (not nested in the suite): fetchers ship to executors, and a
  * nested object would drag the non-serializable suite along as $outer. */
object FixtureFetcher extends DocumentFetcher {
  private val The = MarkerSplit.StartMarkers(0)
  private val EndThe = MarkerSplit.EndMarkers(0)
  override def fetch(id: Long): Option[String] = id match {
    case 1L => Some(s"Title One\n$The ***\nbody one\n$EndThe ***\nfin")
    case 2L => Some(s"Title Two\n$The ***\nbody two\n$EndThe ***\nfin")
    case 3L => Some("malformed - no markers")
    case _  => None // download failure
  }
}

/** Serves every positive id with a well-formed book. */
object NumberedFetcher extends DocumentFetcher {
  private val The = MarkerSplit.StartMarkers(0)
  private val EndThe = MarkerSplit.EndMarkers(0)
  override def fetch(id: Long): Option[String] =
    if (id > 0) Some(s"Title $id\n$The ***\nbody $id\n$EndThe ***\nfin")
    else None
}

/** [[FixtureFetcher]] that records the partition of every fetch task
  * (local mode: the tasks share this JVM's object). */
object TaskRecordingFetcher extends DocumentFetcher {
  val partitions: java.util.Set[Integer] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Integer]()
  override def fetch(id: Long): Option[String] = {
    partitions.add(org.apache.spark.TaskContext.getPartitionId())
    FixtureFetcher.fetch(id)
  }
}

/** Fails the first fetch of each id, then serves [[NumberedFetcher]]'s
  * book, counting the calls (local mode: the tasks share this JVM's
  * object). */
object FlakyFetcher extends DocumentFetcher {
  val calls = new java.util.concurrent.ConcurrentHashMap[Long, Integer]()
  override def fetch(id: Long): Option[String] =
    if (calls.merge(id, 1, (a: Integer, b: Integer) => a + b) == 1) None
    else NumberedFetcher.fetch(id)
}

class IngestServiceSpec extends SparkSpec {

  private val ts = LocalDateTime.of(2026, 5, 1, 12, 0, 0)

  test("ingest: valid docs land in the lake, failures get statuses") {
    val storage = new InMemoryLakeStorage(spark)
    val service = new IngestService(spark, storage, FixtureFetcher)
    val report = service.ingest(Seq(-5L, 1L, 2L, 3L, 42L), ts)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap

    assert(report == Map(
      -5L -> "invalid_book_id",
      1L -> "downloaded",
      2L -> "downloaded",
      3L -> "marker_split_failed",
      42L -> "download_failed"))

    assert(storage.listBooks() == Seq(1L, 2L))
    assert(storage.exists(1L) && !storage.exists(3L) && !storage.exists(42L))
    val body1 = storage.lake.filter("book_id = 1 and kind = 'body'")
      .select("text").head().getString(0)
    assert(body1 == "***\nbody one")
  }

  test("gutenberg URL shape matches the reference (IngestionService.java:46)") {
    assert(GutenbergFetcher.url(1342) ==
      "https://www.gutenberg.org/cache/epub/1342/pg1342.txt")
  }

  test("datalake move failure surfaces the reference's 500 status " +
    "(Main.java:107-110); per-row failures keep their own codes") {
    val storage = new InMemoryLakeStorage(spark) {
      override def saveBooks(books: org.apache.spark.sql.DataFrame,
          at: LocalDateTime): Unit =
        throw new RuntimeException("simulated datalake outage")
    }
    val service = new IngestService(spark, storage, FixtureFetcher)
    val report = service.ingest(Seq(-5L, 1L, 3L, 42L), ts)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(report == Map(
      -5L -> "invalid_book_id",
      1L -> "datalake_move_failed",
      3L -> "marker_split_failed",
      42L -> "download_failed"))
    assert(storage.listBooks().isEmpty)
  }

  test("a one-id ingest whose save fails before any job keeps each " +
      "book's own failure status, and returns") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.DurationInt
    val storage = new InMemoryLakeStorage(spark) {
      override def saveBooks(books: org.apache.spark.sql.DataFrame,
          at: LocalDateTime): Unit =
        throw new RuntimeException("simulated datalake outage")
    }
    val service = new IngestService(spark, storage, FixtureFetcher)
    implicit val ec: ExecutionContext = ExecutionContext.global
    val report = Await.result(Future(Seq(42L, 1L, 3L).flatMap(id =>
      service.ingest(Seq(id), ts).collect()
        .map(r => r.getLong(0) -> r.getString(1)))), 60.seconds)
    assert(report == Seq(42L -> "download_failed",
      1L -> "datalake_move_failed", 3L -> "marker_split_failed"))
    assert(storage.listBooks().isEmpty)
  }

  test("a one-id ingest runs no Spark job and fetches once: the status " +
      "and the save use the same fetch") {
    val storage = new SparkLakeStorage(spark,
      "file:" + tempDir("graft-one-fetch").toString)
    val service = new IngestService(spark, storage, FlakyFetcher)
    var report = Seq.empty[(Long, String)]
    val jobs = SparkJobs.started(spark) {
      report = service.ingest(Seq(77L), ts).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toSeq
    }
    assert(jobs.isEmpty, s"a one-id ingest ran ${jobs.size} jobs: $jobs")
    // the fetch failed: the book is not stored, and a second fetch (which
    // would succeed) must not decide its status
    assert(report == Seq(77L -> "download_failed"))
    assert(storage.listBooks().isEmpty)
    assert(FlakyFetcher.calls.get(77L) == 1)
    // the next ingest of the id fetches it once more, and stores it
    val stored = SparkJobs.started(spark) {
      report = service.ingest(Seq(77L), ts).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toSeq
    }
    assert(stored.isEmpty, s"a one-id ingest ran ${stored.size} jobs: $stored")
    assert(report == Seq(77L -> "downloaded"))
    assert(storage.listBooks() == Seq(77L))
    assert(FlakyFetcher.calls.get(77L) == 2)
  }

  test("a one-id ingest reports what a multi-id ingest reports, as a " +
      "local relation") {
    val service =
      new IngestService(spark, new InMemoryLakeStorage(spark), FixtureFetcher)
    val ids = Seq(-5L, 1L, 2L, 3L, 42L)
    val many = service.ingest(ids, ts).collect().toSeq
    val one = ids.map(id => service.ingest(Seq(id), ts))
    assert(one.forall(_.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]))
    assert(one.flatMap(_.collect()) == many)
    assert(one.head.schema == service.ingest(ids, ts).schema)
  }

  test("status report covers the reference's full vocabulary " +
    "(Main.java:100-123) and is computed without a driver collect") {
    val service =
      new IngestService(spark, new InMemoryLakeStorage(spark), FixtureFetcher)
    val report = service.ingest(Seq(42L, 3L, -5L, 1L), ts)
    // still a DataFrame: usable as a distributed input downstream
    assert(report.columns.toSeq == Seq("book_id", "status"))
    // ordered by book_id
    assert(report.collect().map(_.getLong(0)).toSeq == Seq(-5L, 1L, 3L, 42L))
    val statuses = report.select("status").distinct()
      .collect().map(_.getString(0)).toSet
    assert(statuses == Set("invalid_book_id", "downloaded",
      "marker_split_failed", "download_failed"))
  }

  test("a fetch of n ids runs min(n, 32) fetch tasks and no shuffle") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // every exchange of a plan, inside cached relations and AQE stages too
    def shuffles(p: SparkPlan): Seq[SparkPlan] = p match {
      case s: ShuffleExchangeExec => s +: shuffles(s.child)
      case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
      case q: QueryStageExec => shuffles(q.plan)
      case m: InMemoryTableScanExec => shuffles(m.relation.cachedPlan)
      case other => other.children.flatMap(shuffles)
    }
    for (n <- Seq(5, 40)) {
      var saved: Option[SparkPlan] = None
      // `books` is a projection of the persisted split
      val storage = new InMemoryLakeStorage(spark) {
        override def saveBooks(books: org.apache.spark.sql.DataFrame,
            at: LocalDateTime): Unit = {
          saved = Some(books.queryExecution.executedPlan)
          super.saveBooks(books, at)
        }
      }
      TaskRecordingFetcher.partitions.clear()
      new IngestService(spark, storage, TaskRecordingFetcher)
        .ingest((1L to n.toLong).reverse, ts).collect()
      assert(TaskRecordingFetcher.partitions.size == math.min(n, 32),
        s"n=$n fetch tasks: ${TaskRecordingFetcher.partitions}")
      val plan = saved.getOrElse(fail("saveBooks was not called"))
      assert(plan.collectFirst { case _: InMemoryTableScanExec => () }
        .nonEmpty, s"no persisted split in the plan:\n$plan")
      assert(shuffles(plan).isEmpty, s"n=$n split plan shuffles:\n$plan")
    }
  }
}
