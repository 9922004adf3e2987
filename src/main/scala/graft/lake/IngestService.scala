package graft.lake

import java.time.LocalDateTime

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

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
  * Main.java:93-124, as ONE Spark job):
  *
  *   ids → mapPartitions(fetch) → marker split → filter valid →
  *   saveBooks(partitioned write)
  *
  * vs the reference's per-request sequence of download → staging files →
  * atomic rename → 2 S3 puts → staging cleanup (IngestionService.java:43-86,
  * S3DatalakeStorage.java:33-62). Validation mirrors `parseBookId`
  * (Main.java:147-160): non-positive ids are rejected up front.
  */
class IngestService(spark: SparkSession, storage: LakeStorage,
    fetcher: DocumentFetcher) {

  /** Ingest `ids` at timestamp `ts`; returns a status report
    * (book_id, status ∈ invalid_book_id | download_failed |
    * marker_split_failed | datalake_move_failed | downloaded) mirroring
    * the reference's full response vocabulary (Main.java:100-123 —
    * `datalake_move_failed` is its 500 when `moveToDatalake` fails,
    * Main.java:107-110). The report stays a DataFrame end to end — no
    * driver-side collect, so a billion-id ingest reports at scale. */
  def ingest(ids: Seq[Long], ts: LocalDateTime): DataFrame = {
    import spark.implicits._
    val f = fetcher
    // Sliced by parallelize, not repartitioned: no exchange (AQE would run
    // its map stage as a job of its own) and no id list in the plan.
    val fetched = spark.createDataset(
        spark.sparkContext.parallelize(ids, math.min(ids.size, 32).max(1)))
      .mapPartitions(_.map(id =>
        (id, if (id > 0) f.fetch(id).orNull else null)))
      .toDF("book_id", "text")
    // Persist: both the lake write and the status report consume the split,
    // and without a materialization barrier the second action would re-run
    // the fetch (re-downloading every document).
    val split = MarkerSplit.withSplit(fetched).persist()
    try {
      val ok = split.filter(col("split_ok"))
        .select(col("book_id"), col("header"), col("body"))
      val moved =
        try { storage.saveBooks(ok, ts); true }
        catch { case scala.util.control.NonFatal(_) => false }
      // Materialize distributed and cut lineage (Anchor.cut — reliable
      // when a checkpoint dir is set): once `split` unpersists, a lazy
      // report would re-run the whole fetch on first use.
      graft.operators.Anchor.cut(split.select(col("book_id"),
        when(col("book_id") <= 0, "invalid_book_id")
          .when(col("text").isNull, "download_failed")
          .when(!col("split_ok"), "marker_split_failed")
          .otherwise(if (moved) "downloaded" else "datalake_move_failed")
          .as("status"))
        .orderBy(col("book_id")))
    } finally split.unpersist()
  }
}
