package graft.lake

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.time.LocalDateTime
import java.util.concurrent.atomic.LongAdder

import com.sun.net.httpserver.{HttpExchange, HttpServer}

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
  *  - `GET /metrics` (not in the reference) → one flat JSON object of
  *    counters since the server started: requests per route
  *    (`requests.<route>`), responses per status code
  *    (`responses.<code>`), a cumulative latency histogram over fixed
  *    bounds (`latency_ms.le_<bound>`, `latency_ms.le_inf` = all
  *    requests) and the ingest statuses the service reported
  *    (`ingest.<status>`). A request is counted before its response is
  *    sent, so a client's later GET /metrics sees it; the response of
  *    /metrics itself excludes its own request. The counters are
  *    `LongAdder`s: counting takes no lock.
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
  * ONE id through [[IngestService.ingest]], whose one-id path is the
  * reference's per-request one: the driver fetches the book, splits it
  * as a local relation and, on the parquet adapter, writes its two rows
  * itself. A POST runs no Spark job, and its report is a local relation
  * that the facade reads without one; concurrent POSTs write in parallel
  * (no write gate; see [[SparkLakeStorage]]'s publish protocol), and once
  * warm no code is compiled for a POST's id or time. Status and list
  * answer from the parquet adapter's manifest index without a Spark job,
  * also right after a save. Bulk ingest should still call the library
  * with the full id list (fetched in tasks, one Spark write, fan-out =
  * task parallelism), not loop over POSTs; the facade exists for client
  * compatibility, not bulk throughput.
  */
class IngestHttpServer(service: IngestService, storage: LakeStorage,
    port: Int, clock: () => LocalDateTime = () => LocalDateTime.now()) {

  import IngestHttpServer.{Metrics, Response, jstr, obj}

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

  private val metrics = new Metrics

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
      val t0 = System.nanoTime()
      val path = ex.getRequestURI.getPath.stripSuffix("/")
      val (name, handle) = (ex.getRequestMethod, path) match {
        case ("GET", "/health") => ("health", () => health)
        case ("GET", "/metrics") => ("metrics", () => 200 -> metrics.render)
        case ("GET", "/ingest/list") => ("list", () => list)
        case ("GET", p) if p.startsWith("/ingest/status/") =>
          ("status", () => withBookId(p.stripPrefix("/ingest/status/"))(status))
        // the status/list sub-paths must NOT be captured as ingest ids:
        // the reference's router 404s a method+route mismatch (POST
        // /ingest/status/5 is no route in Main.java:47-55), it does not
        // try to ingest "status/5"
        case ("POST", p) if p.startsWith("/ingest/") &&
            !p.startsWith("/ingest/status") && p != "/ingest/list" =>
          ("ingest", () => withBookId(p.stripPrefix("/ingest/"))(ingest))
        case _ =>
          ("other", () => error(404, "not_found", "Endpoint not found"))
      }
      val (code, body) =
        try handle()
        catch {
          case e: Exception =>
            error(500, "internal_error", String.valueOf(e.getMessage))
        }
      metrics.request(name, code, System.nanoTime() - t0)
      respond(ex, code, body)
    } finally ex.close()

  private def health: Response =
    200 -> obj(storage.health.toSeq.sortBy(_._1)
      .map { case (k, v) => k -> jstr(v) }: _*)

  private def ingest(bookId: Long): Response = {
    val ts = clock()
    // The row is picked on the driver: a `book_id === bookId` filter would
    // inline the id into generated code and compile it on every POST.
    val st = service.ingest(Seq(bookId), ts).collect()
      .find(_.getAs[Long]("book_id") == bookId).get.getAs[String]("status")
    metrics.ingest(st)
    st match {
      case "downloaded" =>
        200 -> obj(
          "book_id" -> bookId.toString,
          "status" -> jstr("downloaded"),
          "path" -> jstr(storage.relativePathFor(bookId, ts)),
          "date" -> jstr(LakePaths.day(ts)),
          "hour" -> jstr(LakePaths.hour(ts)),
          "backend" -> jstr(backend))
      case "datalake_move_failed" =>
        error(500, "datalake_move_failed", "Failed to move files to datalake")
      case _ => // download_failed | marker_split_failed | invalid_book_id
        error(400, "download_failed", "Download failed or invalid book")
    }
  }

  private def status(bookId: Long): Response =
    200 -> obj(
      "book_id" -> bookId.toString,
      "status" -> jstr(if (storage.exists(bookId)) "available"
        else "not_found"),
      "backend" -> jstr(backend))

  private def list: Response = {
    val books = storage.listBooks()
    200 -> obj(
      "count" -> books.size.toString,
      "books" -> books.mkString("[", ",", "]"),
      "backend" -> jstr(backend))
  }

  private def withBookId(raw: String)(f: Long => Response): Response =
    raw.toLongOption match {
      case None =>
        error(400, "invalid_book_id", "book_id must be an integer")
      case Some(id) if id <= 0 =>
        error(400, "invalid_book_id", "book_id must be a positive integer")
      case Some(id) => f(id)
    }

  // ---- json (emitters live in the companion; spec property-tests them)

  private def error(code: Int, errCode: String, message: String): Response =
    code -> obj("error" ->
      obj("code" -> jstr(errCode), "message" -> jstr(message)))

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

  /** A handler's status code and JSON body. */
  private type Response = (Int, String)

  private val Routes =
    Seq("health", "metrics", "list", "status", "ingest", "other")
  private val Codes = Seq("200", "400", "404", "500")
  private val LatencyBoundsMs =
    Seq(1L, 2L, 5L, 10L, 20L, 50L, 100L, 200L, 500L, 1000L, 2000L, 5000L)
  private val Statuses = Seq("downloaded", "download_failed",
    "marker_split_failed", "datalake_move_failed", "invalid_book_id")

  /** The counters GET /metrics renders; see the class doc. */
  private final class Metrics {
    private def adders(keys: Seq[String]): Seq[(String, LongAdder)] =
      keys.map(_ -> new LongAdder)
    private val requests = adders(Routes)
    private val responses = adders(Codes :+ "other")
    // one per bound, then one above every bound; rendered cumulative
    private val latency = Array.fill(LatencyBoundsMs.size + 1)(new LongAdder)
    private val ingests = adders(Statuses)

    private def find(counters: Seq[(String, LongAdder)], key: String) =
      counters.collectFirst { case (k, a) if k == key => a }

    def request(route: String, code: Int, nanos: Long): Unit = {
      find(requests, route).foreach(_.increment())
      find(responses, code.toString)
        .getOrElse(responses.last._2).increment()
      val bucket = LatencyBoundsMs.indexWhere(nanos <= _ * 1000000L)
      latency(if (bucket < 0) LatencyBoundsMs.size else bucket).increment()
    }

    def ingest(status: String): Unit = find(ingests, status).foreach(_.increment())

    def render: String = {
      def fields(prefix: String, counters: Seq[(String, LongAdder)]) =
        counters.map { case (k, a) => s"$prefix.$k" -> a.sum.toString }
      val bounds = LatencyBoundsMs.map(b => s"le_$b") :+ "le_inf"
      val cumulative = latency.map(_.sum).scanLeft(0L)(_ + _).tail
      obj(fields("requests", requests) ++ fields("responses", responses) ++
        bounds.zip(cumulative).map { case (b, n) => s"latency_ms.$b" -> n.toString } ++
        fields("ingest", ingests): _*)
    }
  }

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
