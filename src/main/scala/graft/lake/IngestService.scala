package graft.lake

import java.time.LocalDateTime

import scala.concurrent.Await
import scala.concurrent.duration.DurationInt
import scala.util.Try

import org.apache.spark.sql.{Column, DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

/** Document-source contract: fetch the raw text of a document by id, or
  * None on any failure (the reference folds HTTP != 200 and exceptions to
  * `false`, IngestionService.java:52,74-76 — here failures become skipped
  * rows routed to the status report instead of silently dropped). Must be
  * Serializable: it is shipped to executors. */
trait DocumentFetcher extends Serializable {
  def fetch(id: Long): Option[String]
}

/** The reference's real source: Project Gutenberg over HTTP
  * (IngestionService.java:43-53 — URL shape :46, 10 s connect / 30 s
  * request timeouts :28,48, UA header :49, status check :52). One
  * `HttpClient` per JVM; called from executor tasks so a fleet of
  * executors fans the ingest out — the reference's Javalin thread-pool
  * concurrency (Main.java:39) becomes task parallelism. */
object GutenbergFetcher extends DocumentFetcher {
  @transient private lazy val http = java.net.http.HttpClient.newBuilder()
    .followRedirects(java.net.http.HttpClient.Redirect.NORMAL)
    .connectTimeout(java.time.Duration.ofSeconds(10))
    .build()

  def url(id: Long): String =
    s"https://www.gutenberg.org/cache/epub/$id/pg$id.txt"

  override def fetch(id: Long): Option[String] =
    try {
      val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(url(id)))
        .timeout(java.time.Duration.ofSeconds(30))
        .header("User-Agent", "graft-ingestion/1.0")
        .build()
      val res = http.send(req,
        java.net.http.HttpResponse.BodyHandlers.ofString(
          java.nio.charset.StandardCharsets.UTF_8))
      if (res.statusCode() == 200) Some(res.body()) else None
    } catch { case _: Exception => None }
}

/** End-to-end ingest pipeline (the reference's E1 write path,
  * Main.java:93-124):
  *
  *   ids → mapPartitions(fetch) → marker split → filter valid →
  *   saveBooks(partitioned write)
  *
  * vs the reference's per-request sequence of download → staging files →
  * atomic rename → 2 S3 puts → staging cleanup (IngestionService.java:43-86,
  * S3DatalakeStorage.java:33-62). Validation mirrors `parseBookId`
  * (Main.java:147-160): non-positive ids are rejected up front.
  *
  * The report takes one of two forms:
  *  - One id (the HTTP POST): the fetch and the split run inside the
  *    storage's write. `Dataset.observe` counts that write's
  *    `download_failed` and `marker_split_failed` rows, and the counts
  *    alone fix the id's status, so the report is a one-row local
  *    relation: reading it runs no Spark job, and on the parquet adapter
  *    the whole ingest is that one write. The counts are read only after
  *    `saveBooks` returns. A save that returned ran its job, so they are
  *    waited for, up to a minute: they come through Spark's listener bus,
  *    late on a busy one, and the status must report the fetch that the
  *    write used. A save that threw may have failed before its job and
  *    never delivers them, so they are only peeked at. Without counts the
  *    status comes from one more job over the split, which fetches again;
  *    after a failed save every status it can give is a failure. A book
  *    that failed to download or split keeps that status also when the
  *    save failed.
  *  - More ids: the split is persisted, so the write and the report
  *    share one fetch, and the report is cut from it distributed
  *    ([[graft.operators.Anchor.cut]]): a billion-id ingest reports
  *    without a driver collect.
  */
class IngestService(spark: SparkSession, storage: LakeStorage,
    fetcher: DocumentFetcher) {

  import IngestService.{ObservationWait, ReportSchema, failure, status}

  /** Ingest `ids` at timestamp `ts`; returns a status report
    * (book_id, status ∈ invalid_book_id | download_failed |
    * marker_split_failed | datalake_move_failed | downloaded), ordered by
    * book_id, mirroring the reference's full response vocabulary
    * (Main.java:100-123 — `datalake_move_failed` is its 500 when
    * `moveToDatalake` fails, Main.java:107-110). */
  def ingest(ids: Seq[Long], ts: LocalDateTime): DataFrame =
    if (ids.size == 1) ingestOne(ids.head, ts) else ingestMany(ids, ts)

  private def ingestOne(id: Long, ts: LocalDateTime): DataFrame = {
    val counts = Observation()
    // The fallback job below runs this observed plan too: a job that
    // ends completes the observation, which Spark holds until then.
    val split = MarkerSplit.withSplit(fetched(Seq(id))).observe(counts,
      count_if(failure === "download_failed").as("download_failed"),
      count_if(failure === "marker_split_failed").as("marker_split_failed"))
    val moved = save(split, ts)
    // A save that returned ran a job over the observed plan, so its counts
    // come and are waited for; one that threw may have run none, and is
    // only peeked at. A failed job delivers an empty row.
    val observed =
      if (moved) Try(Await.result(counts.future, ObservationWait)).toOption
      else counts.future.value.flatMap(_.toOption)
    val st =
      if (id <= 0) "invalid_book_id"
      else observed.filter(_.length > 0) match {
        case None => split.select(status(moved)).head().getString(0)
        case Some(c) => Seq("download_failed", "marker_split_failed")
          .find(c.getAs[Long](_) != 0L)
          .getOrElse(if (moved) "downloaded" else "datalake_move_failed")
      }
    spark.createDataFrame(java.util.List.of(Row(id, st)), ReportSchema)
  }

  private def ingestMany(ids: Seq[Long], ts: LocalDateTime): DataFrame = {
    // Persist: both the lake write and the status report consume the split,
    // and without a materialization barrier the second action would re-run
    // the fetch (re-downloading every document).
    val split = MarkerSplit.withSplit(fetched(ids)).persist()
    try {
      val moved = save(split, ts)
      // Materialize distributed and cut lineage (Anchor.cut — reliable
      // when a checkpoint dir is set): once `split` unpersists, a lazy
      // report would re-run the whole fetch on first use.
      graft.operators.Anchor.cut(split.select(col("book_id"), status(moved))
        .orderBy(col("book_id")))
    } finally split.unpersist()
  }

  /** (book_id, text): the documents of `ids`, text null where the fetch
    * failed or the id is invalid. */
  private def fetched(ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    val f = fetcher
    // Sliced by parallelize, not repartitioned: no exchange (AQE would run
    // its map stage as a job of its own) and no id list in the plan.
    spark.createDataset(
        spark.sparkContext.parallelize(ids, math.min(ids.size, 32).max(1)))
      .mapPartitions(_.map(id =>
        (id, if (id > 0) f.fetch(id).orNull else null)))
      .toDF("book_id", "text")
  }

  /** Save the split's valid books; false if the storage failed. */
  private def save(split: DataFrame, ts: LocalDateTime): Boolean =
    try {
      storage.saveBooks(split.filter(col("split_ok"))
        .select(col("book_id"), col("header"), col("body")), ts)
      true
    } catch { case scala.util.control.NonFatal(_) => false }
}

object IngestService {
  /** How long a one-id ingest whose save returned waits for the observed
    * counts, which Spark's listener bus delivers after the save's job. */
  private val ObservationWait = 1.minute

  private val ReportSchema = StructType(Seq(
    StructField("book_id", LongType, nullable = false),
    StructField("status", StringType, nullable = false)))

  /** A split row's failure status, null for a valid book. */
  private val failure: Column =
    when(col("book_id") <= 0, "invalid_book_id")
      .when(col("text").isNull, "download_failed")
      .when(!col("split_ok"), "marker_split_failed")

  /** A split row's status, given whether the lake write succeeded. */
  private def status(moved: Boolean): Column =
    coalesce(failure, lit(if (moved) "downloaded" else "datalake_move_failed"))
      .as("status")
}
