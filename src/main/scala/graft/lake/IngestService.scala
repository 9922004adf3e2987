package graft.lake

import java.time.LocalDateTime

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
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
  *  - One id (the HTTP POST): the reference's per-request path, with no
  *    Spark job. The driver fetches the document and splits it as a
  *    one-row local relation; the optimizer folds that projection into a
  *    local relation (`ConvertToLocalRelation`), so collecting the status
  *    runs no job, and the save gets the rows the driver already holds
  *    (the parquet adapter writes them on the driver). One fetch serves
  *    the status and the save, and a book that failed to download or
  *    split is not saved. The report is a one-row local relation too.
  *  - More ids: the fetch runs in tasks and the split is persisted, so the
  *    write and the report share one fetch, and the report is cut from it
  *    distributed ([[graft.operators.Anchor.cut]]): a billion-id ingest
  *    reports without a driver collect.
  */
class IngestService(spark: SparkSession, storage: LakeStorage,
    fetcher: DocumentFetcher) {

  import IngestService.{DocSchema, ReportSchema, failure, status}

  /** Ingest `ids` at timestamp `ts`; returns a status report
    * (book_id, status ∈ invalid_book_id | download_failed |
    * marker_split_failed | datalake_move_failed | downloaded), ordered by
    * book_id, mirroring the reference's full response vocabulary
    * (Main.java:100-123 — `datalake_move_failed` is its 500 when
    * `moveToDatalake` fails, Main.java:107-110). */
  def ingest(ids: Seq[Long], ts: LocalDateTime): DataFrame =
    if (ids.size == 1) ingestOne(ids.head, ts) else ingestMany(ids, ts)

  private def ingestOne(id: Long, ts: LocalDateTime): DataFrame = {
    val doc = spark.createDataFrame(java.util.List.of(
      Row(id, if (id > 0) fetcher.fetch(id).orNull else null)), DocSchema)
    val split = MarkerSplit.withSplit(doc)
    val st = Option(split.select(failure).head().getString(0))
      .getOrElse(if (save(split, ts)) "downloaded" else "datalake_move_failed")
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
  /** A fetched document, as `fetched` types it. */
  private val DocSchema = StructType(Seq(
    StructField("book_id", LongType, nullable = false),
    StructField("text", StringType)))

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
