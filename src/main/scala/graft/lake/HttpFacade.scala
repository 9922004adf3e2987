package graft.lake

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.time.LocalDateTime

import com.sun.net.httpserver.{HttpExchange, HttpServer}

import graft.operators.Anchor

/** The reference's HTTP contract (Main.java:47-169) over the library port
  * — the last reference-visible surface, so a client written against the
  * reference runs unchanged against this engine. JDK-builtin
  * `com.sun.net.httpserver` (the rig is offline; no server framework
  * resolves), hand-rolled JSON (values are flat maps and long arrays).
  *
  * Endpoint / shape parity with Main.java:
  *  - `GET /health` → 200, the adapter's health map (Main.java:57-62;
  *    `region`/`bucket` are S3-adapter config — the port's `location`
  *    plays that role, documented deviation).
  *  - `POST /ingest/{book_id}` → 200 `{book_id, status:"downloaded",
  *    path, date, hour, backend}` (Main.java:116-123); failures map to
  *    the reference's two error responses: staging failures (download OR
  *    marker split, both `false` from `downloadBookToStaging`,
  *    IngestionService.java:43-62) → 400 `download_failed` with its
  *    exact message, lake-write failure → 500 `datalake_move_failed`
  *    (Main.java:100-110).
  *  - `GET /ingest/status/{book_id}` → `{book_id, status:
  *    "available"|"not_found", backend}` (Main.java:126-136).
  *  - `GET /ingest/list` → `{count, books, backend}` (Main.java:138-145).
  *  - id parsing (Main.java:147-160): non-numeric → 400 `invalid_book_id`
  *    "book_id must be an integer"; non-positive → 400 "book_id must be a
  *    positive integer". Ids are Long here (the port's widening).
  *  - any handler exception → 500 `{error:{code:"internal_error",
  *    message}}` (Main.java:186-189).
  *
  * Error envelope everywhere: `{"error":{"code":…,"message":…}}`
  * (Main.java:162-169).
  *
  * Sockets run with TCP_NODELAY: the companion sets
  * `sun.net.httpserver.nodelay=true`, when unset, before the first server
  * is created, since the JDK reads it once per JVM. Without it every
  * response's body waits about 40 ms for the client's delayed ACK.
  *
  * Scale note: the facade is a control-plane veneer — each POST drives
  * ONE id through the batched [[IngestService.ingest]] pipeline, and
  * concurrent POSTs run their Spark jobs in parallel (no write gate; see
  * [[SparkLakeStorage]]'s publish protocol). On the parquet adapter a
  * POST runs four Spark jobs: the payload and manifest writes, the
  * report's checkpoint and the facade's read of it. The fetch does not
  * shuffle, and once warm no code is compiled for a POST's id or time.
  * The facade releases the report's anchor once it has read its row.
  * Status and list answer from the parquet adapter's manifest index
  * without a Spark job, also right after a save. Bulk ingest should still
  * call the library with the full id list (one Spark job, fan-out = task
  * parallelism), not loop over POSTs; the facade exists for client
  * compatibility, not bulk throughput.
  */
class IngestHttpServer(service: IngestService, storage: LakeStorage,
    port: Int, clock: () => LocalDateTime = () => LocalDateTime.now()) {

  import IngestHttpServer.{jstr, obj}

  private val server = IngestHttpServer.bind(port)
  server.createContext("/", (ex: HttpExchange) => route(ex))
  // The reference serves requests concurrently (Javalin's pool,
  // Main.java:39); the JDK server's default executor is the dispatch
  // thread — serial. A small fixed pool restores the contract; Spark
  // handles concurrent job submission from multiple threads natively,
  // so parallel status/list/ingest requests are safe.
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(8,
    (r: Runnable) => {
      val t = new Thread(r, "graft-http")
      t.setDaemon(true)
      t
    })
  server.setExecutor(pool)

  private def backend: String = storage.health.getOrElse("backend", "spark")

  /** Actual bound port (ephemeral when constructed with port 0). */
  def boundPort: Int = server.getAddress.getPort

  def start(): Unit = server.start()

  def stop(): Unit = {
    server.stop(0)
    pool.shutdown()
  }

  // ---- routing ------------------------------------------------------

  private def route(ex: HttpExchange): Unit =
    try {
      val path = ex.getRequestURI.getPath.stripSuffix("/")
      (ex.getRequestMethod, path) match {
        case ("GET", "/health") => health(ex)
        case ("GET", "/ingest/list") => list(ex)
        case ("GET", p) if p.startsWith("/ingest/status/") =>
          withBookId(ex, p.stripPrefix("/ingest/status/"))(status(ex, _))
        // the status/list sub-paths must NOT be captured as ingest ids:
        // the reference's router 404s a method+route mismatch (POST
        // /ingest/status/5 is no route in Main.java:47-55), it does not
        // try to ingest "status/5"
        case ("POST", p) if p.startsWith("/ingest/") &&
            !p.startsWith("/ingest/status") && p != "/ingest/list" =>
          withBookId(ex, p.stripPrefix("/ingest/"))(ingest(ex, _))
        case _ =>
          error(ex, 404, "not_found", "Endpoint not found")
      }
    } catch {
      case e: Exception =>
        error(ex, 500, "internal_error", String.valueOf(e.getMessage))
    } finally ex.close()

  private def health(ex: HttpExchange): Unit =
    respond(ex, 200, obj(storage.health.toSeq.sortBy(_._1)
      .map { case (k, v) => k -> jstr(v) }: _*))

  private def ingest(ex: HttpExchange, bookId: Long): Unit = {
    val ts = clock()
    // The row is picked on the driver: a `book_id === bookId` filter would
    // inline the id into generated code and compile it on every POST.
    val report = service.ingest(Seq(bookId), ts)
    val st =
      try report.collect().find(_.getAs[Long]("book_id") == bookId).get
        .getAs[String]("status")
      finally Anchor.release(report)
    st match {
      case "downloaded" =>
        respond(ex, 200, obj(
          "book_id" -> bookId.toString,
          "status" -> jstr("downloaded"),
          "path" -> jstr(storage.relativePathFor(bookId, ts)),
          "date" -> jstr(LakePaths.day(ts)),
          "hour" -> jstr(LakePaths.hour(ts)),
          "backend" -> jstr(backend)))
      case "datalake_move_failed" =>
        error(ex, 500, "datalake_move_failed",
          "Failed to move files to datalake")
      case _ => // download_failed | marker_split_failed | invalid_book_id
        error(ex, 400, "download_failed", "Download failed or invalid book")
    }
  }

  private def status(ex: HttpExchange, bookId: Long): Unit =
    respond(ex, 200, obj(
      "book_id" -> bookId.toString,
      "status" -> jstr(if (storage.exists(bookId)) "available"
        else "not_found"),
      "backend" -> jstr(backend)))

  private def list(ex: HttpExchange): Unit = {
    val books = storage.listBooks()
    respond(ex, 200, obj(
      "count" -> books.size.toString,
      "books" -> books.mkString("[", ",", "]"),
      "backend" -> jstr(backend)))
  }

  private def withBookId(ex: HttpExchange, raw: String)(
      f: Long => Unit): Unit =
    raw.toLongOption match {
      case None =>
        error(ex, 400, "invalid_book_id", "book_id must be an integer")
      case Some(id) if id <= 0 =>
        error(ex, 400, "invalid_book_id",
          "book_id must be a positive integer")
      case Some(id) => f(id)
    }

  // ---- json (emitters live in the companion; spec property-tests them)

  private def error(ex: HttpExchange, code: Int, errCode: String,
      message: String): Unit =
    respond(ex, code, obj("error" ->
      obj("code" -> jstr(errCode), "message" -> jstr(message))))

  private def respond(ex: HttpExchange, code: Int, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length)
    val os = ex.getResponseBody
    try os.write(bytes) finally os.close()
  }
}

object IngestHttpServer {

  // The JDK server writes a response's headers and body as two TCP
  // segments; with Nagle's algorithm on, the body waits for the client's
  // delayed ACK of the headers, about 40 ms on every response. The JDK
  // reads `sun.net.httpserver.nodelay` once, when its ServerConfig class
  // initializes (at the JVM's first `HttpServer.create`), so it is set
  // here, before [[bind]] creates any server, unless already set.
  if (System.getProperty("sun.net.httpserver.nodelay") == null)
    System.setProperty("sun.net.httpserver.nodelay", "true")

  private def bind(port: Int): HttpServer =
    HttpServer.create(new InetSocketAddress(port), 0)

  /** JSON string literal with full escaping. The reference's envelope is
    * produced by Jackson (Main.java:162-169); HttpFacadeSpec holds this
    * hand-rolled emitter to the same bar with a Jackson round-trip
    * property over adversarial inputs. Verify writes oracle_sql.json
    * with it, where one unescaped tab in a query's SQL would fail the
    * whole file's parse. */
  private[graft] def jstr(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** Values arrive pre-rendered (numbers/arrays raw, strings via
    * [[jstr]]). */
  private[lake] def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => jstr(k) + ":" + v }.mkString("{", ",", "}")

  /** `PORT` env config with the reference's semantics (Main.java:33,
    * 176-184: blank or non-numeric falls back to 7070). */
  val PortEnv = "PORT"
  val DefaultPort = 7070

  def portFromEnv(env: Map[String, String] = sys.env): Int =
    env.get(PortEnv).map(_.trim).filter(_.nonEmpty)
      .flatMap(_.toIntOption).getOrElse(DefaultPort)

  def fromEnv(service: IngestService, storage: LakeStorage,
      env: Map[String, String] = sys.env): IngestHttpServer =
    new IngestHttpServer(service, storage, portFromEnv(env))
}
