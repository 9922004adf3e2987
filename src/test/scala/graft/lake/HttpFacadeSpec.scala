package graft.lake

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.time.LocalDateTime

import graft.SparkSpec

/** Boots the JDK-http facade on an ephemeral port against BOTH adapters
  * and asserts response-shape parity with the reference's endpoints
  * (Main.java:47-169): success shapes, error envelope, status vocabulary,
  * id-parse messages, and PORT env semantics. */
class HttpFacadeSpec extends SparkSpec {

  private val http = HttpClient.newHttpClient()

  private case class Resp(code: Int, body: String)

  private def get(port: Int, path: String): Resp = {
    val r = http.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .GET().build(),
      HttpResponse.BodyHandlers.ofString())
    Resp(r.statusCode(), r.body())
  }

  private def post(port: Int, path: String): Resp = {
    val r = http.send(
      HttpRequest.newBuilder(URI.create(s"http://127.0.0.1:$port$path"))
        .POST(HttpRequest.BodyPublishers.noBody()).build(),
      HttpResponse.BodyHandlers.ofString())
    Resp(r.statusCode(), r.body())
  }

  private val ts = LocalDateTime.of(2026, 5, 1, 12, 0, 0)

  private def withServer(storage: LakeStorage)(f: Int => Unit): Unit = {
    val service = new IngestService(spark, storage, FixtureFetcher)
    val server = new IngestHttpServer(service, storage, 0, () => ts)
    server.start()
    try f(server.boundPort) finally server.stop()
  }

  private def adapters: Seq[(String, () => LakeStorage)] = Seq(
    "memory" -> (() => new InMemoryLakeStorage(spark)),
    "spark-parquet" -> { () =>
      val dir = tempDir("graft-http-lake").toString
      new SparkLakeStorage(spark, s"file:$dir")
    })

  test("full endpoint parity on both adapters (Main.java:47-169)") {
    for ((backendName, mk) <- adapters) withServer(mk()) { port =>
      // health: adapter health map, status ok (Main.java:57-62)
      val h = get(port, "/health")
      assert(h.code == 200 && h.body.contains("\"status\":\"ok\"") &&
        h.body.contains(s""""backend":"$backendName""""),
        s"$backendName health: $h")

      // ingest success shape (Main.java:116-123)
      val ok = post(port, "/ingest/1")
      assert(ok.code == 200, s"$backendName ingest: $ok")
      assert(ok.body.contains("\"book_id\":1") &&
        ok.body.contains("\"status\":\"downloaded\"") &&
        ok.body.contains("\"date\":\"20260501\"") &&
        ok.body.contains("\"hour\":\"12\"") &&
        ok.body.contains("\"path\":\"" +
          LakePaths.relativePathFor(1L, ts) + "\""), ok.body)

      // staging failures → 400 download_failed, reference message
      // (Main.java:100-103; marker-split failure folds in too,
      // IngestionService.java:43-62)
      for (bad <- Seq("/ingest/42", "/ingest/3")) {
        val r = post(port, bad)
        assert(r.code == 400 && r.body ==
          """{"error":{"code":"download_failed","message":"Download failed or invalid book"}}""",
          s"$backendName $bad: $r")
      }

      // id-parse errors, exact messages (Main.java:147-160)
      val neg = post(port, "/ingest/-7")
      assert(neg.code == 400 &&
        neg.body.contains("\"code\":\"invalid_book_id\"") &&
        neg.body.contains("book_id must be a positive integer"), neg.body)
      val nan = post(port, "/ingest/abc")
      assert(nan.code == 400 &&
        nan.body.contains("\"code\":\"invalid_book_id\"") &&
        nan.body.contains("\"message\":\"book_id must be an integer\""),
        nan.body)
      // same parse on the status route
      assert(get(port, "/ingest/status/abc").code == 400)

      // status vocabulary (Main.java:126-136)
      val avail = get(port, "/ingest/status/1")
      assert(avail.code == 200 &&
        avail.body.contains("\"status\":\"available\""), avail.body)
      val miss = get(port, "/ingest/status/999")
      assert(miss.code == 200 &&
        miss.body.contains("\"status\":\"not_found\""), miss.body)

      // list shape (Main.java:138-145)
      val ls = get(port, "/ingest/list")
      assert(ls.code == 200 && ls.body.contains("\"count\":1") &&
        ls.body.contains("\"books\":[1]"), ls.body)

      // unknown route → 404 in the same error envelope
      val nf = get(port, "/nope")
      assert(nf.code == 404 && nf.body.contains("\"code\":\"not_found\""),
        nf.body)
    }
  }

  test("datalake outage surfaces the reference's 500 (Main.java:107-110)") {
    val broken = new InMemoryLakeStorage(spark) {
      override def saveBooks(books: org.apache.spark.sql.DataFrame,
          at: LocalDateTime): Unit =
        throw new RuntimeException("simulated datalake outage")
    }
    withServer(broken) { port =>
      val r = post(port, "/ingest/1")
      assert(r.code == 500 && r.body ==
        """{"error":{"code":"datalake_move_failed","message":"Failed to move files to datalake"}}""",
        r.toString)
    }
  }

  test("handler exceptions map to 500 internal_error (Main.java:186-189)") {
    val exploding = new InMemoryLakeStorage(spark) {
      override def listBooks(): Seq[Long] =
        throw new IllegalStateException("boom")
    }
    withServer(exploding) { port =>
      val r = get(port, "/ingest/list")
      assert(r.code == 500 &&
        r.body.contains("\"code\":\"internal_error\"") &&
        r.body.contains("boom"), r.toString)
    }
  }

  test("method+route mismatches fall through to 404, not ingest " +
      "(Javalin router parity)") {
    withServer(new InMemoryLakeStorage(spark)) { port =>
      // POST against the status/list routes must NOT be parsed as an
      // ingest of "status/5" (the reference's router has no such route,
      // Main.java:47-55) — nor may GET hit the POST-only ingest route
      for (r <- Seq(post(port, "/ingest/status/5"),
          post(port, "/ingest/status"), post(port, "/ingest/list"),
          get(port, "/ingest/5"))) {
        assert(r.code == 404 && r.body.contains("\"code\":\"not_found\""),
          r.toString)
      }
    }
  }

  test("hand-rolled JSON survives a Jackson round-trip on adversarial " +
      "strings (envelope parity with Main.java:162-169)") {
    // the reference's envelope is Jackson-produced; parser-verified
    // parity is the bar for our hand-rolled emitter. Property: any
    // key/value pair — quotes, backslashes, control chars, non-ASCII —
    // rendered by obj/jstr parses back to the identical string under a
    // real JSON parser (jackson-databind, on the Spark classpath).
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    // lone surrogates excluded: they are not valid in any UTF-8 JSON
    // document and no facade input (paths, messages, env) contains them
    val nasty: Gen[String] = Gen.listOf(Gen.frequency(
      4 -> Gen.asciiPrintableChar,
      2 -> Gen.oneOf('"', '\\', '\n', '\r', '\t', '\u0000', '\b',
        '\f', '\u001f'),
      1 -> Gen.choose('\u0080', '\ud7ff'))).map(_.mkString)
    val prop = Prop.forAll(nasty, nasty) { (k: String, v: String) =>
      val node = mapper.readTree(
        IngestHttpServer.obj(k -> IngestHttpServer.jstr(v)))
      node.size() == 1 && node.has(k) && node.get(k).textValue() == v
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(500), prop)
    assert(res.passed, s"JSON round-trip property failed: ${res.status}")
  }

  test("concurrent requests all serve (pooled like Javalin, Main.java:39)") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.DurationInt
    withServer(new InMemoryLakeStorage(spark)) { port =>
      assert(post(port, "/ingest/1").code == 200)
      val exec = java.util.concurrent.Executors.newFixedThreadPool(16)
      implicit val ec: ExecutionContext =
        ExecutionContext.fromExecutor(exec)
      try {
        // 32 in-flight requests across all three GET routes: every one
        // must answer 200 with its correct body — the JDK server's
        // default SERIAL executor would still pass this (slowly), so the
        // real assertion is no deadlock/error when handlers drive Spark
        // jobs from 8 pool threads at once
        val futs = (1 to 32).map { i =>
          Future(i % 3 match {
            case 0 => ("list", get(port, "/ingest/list"))
            case 1 => ("status", get(port, "/ingest/status/1"))
            case _ => ("health", get(port, "/health"))
          })
        }
        val rs = Await.result(Future.sequence(futs), 120.seconds)
        for ((kind, r) <- rs) {
          assert(r.code == 200, s"$kind: $r")
          kind match {
            case "list" => assert(r.body.contains("\"books\":[1]"), r.body)
            case "status" =>
              assert(r.body.contains("\"status\":\"available\""), r.body)
            case _ => assert(r.body.contains("\"status\":\"ok\""), r.body)
          }
        }
      } finally exec.shutdown()
    }
  }

  test("concurrent INGEST under read contention: parallel writes land " +
      "exactly once, reads stay consistent (Main.java:39 port contract)") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.DurationInt
    // FixtureFetcher only serves ids 1-2; contention needs 12 distinct
    // landable books
    for ((name, mk) <- adapters) {
      val storage = mk()
      val service = new IngestService(spark, storage, NumberedFetcher)
      val server = new IngestHttpServer(service, storage, 0, () => ts)
      server.start()
      try {
        val port = server.boundPort
        val exec = java.util.concurrent.Executors.newFixedThreadPool(12)
        implicit val ec: ExecutionContext =
          ExecutionContext.fromExecutor(exec)
        try {
          // 12 distinct ingests + 2 invalid ids + interleaved reads,
          // all in flight at once against the SHARED storage — the
          // reference serves exactly this mix from Javalin's pool
          val writes = (1L to 12L).map { i =>
            Future(("ingest", i, post(port, s"/ingest/$i")))
          }
          val bad = Seq(-1L, 0L).map { i =>
            Future(("bad", i, post(port, s"/ingest/$i")))
          }
          val reads = (1 to 8).map { i =>
            Future(("read", i.toLong, if (i % 2 == 0)
              get(port, "/ingest/list")
            else get(port, s"/ingest/status/${i % 12 + 1}")))
          }
          val rs = Await.result(
            Future.sequence(writes ++ bad ++ reads), 180.seconds)
          for ((kind, id, r) <- rs) kind match {
            case "ingest" =>
              assert(r.code == 200, s"$name ingest $id: $r")
              assert(r.body.contains("\"status\":\"downloaded\""),
                s"$name ingest $id: ${r.body}")
            case "bad" =>
              assert(r.code == 400, s"$name bad $id: $r")
            case _ =>
              // reads raced the writes: any 200 body is valid mid-race
              assert(r.code == 200, s"$name read: $r")
          }
          // quiescent state: every id landed exactly once, all readable
          val list = get(port, "/ingest/list")
          assert(list.code == 200)
          assert(list.body.contains("\"count\":12"), list.body)
          assert(list.body.contains(
            (1L to 12L).mkString("\"books\":[", ",", "]")), list.body)
          for (i <- 1L to 12L)
            assert(get(port, s"/ingest/status/$i").body
              .contains("\"status\":\"available\""), s"$name status $i")
          // exactly once at the payload too: one header and one body row
          // per id, no duplicate or lost part file
          if (name == "spark-parquet") {
            val rows = storage.lake.select("book_id", "kind").collect()
              .map(r => (r.getLong(0), r.getString(1)))
            assert(rows.length == 24, s"$name lake rows: ${rows.length}")
            assert(rows.toSet == (1L to 12L).flatMap(i =>
              Seq((i, "header"), (i, "body"))).toSet, s"$name lake rows")
          }
        } finally exec.shutdown()
      } finally server.stop()
    }
  }

  test("once warm, a one-book POST compiles no code, whatever its id " +
      "and time") {
    import org.apache.spark.metrics.source.CodegenMetrics
    val storage = new SparkLakeStorage(spark, "file:" +
      tempDir("graft-http-codegen").toString)
    val service = new IngestService(spark, storage, NumberedFetcher)
    val now = new java.util.concurrent.atomic.AtomicReference(ts)
    val server = new IngestHttpServer(service, storage, 0, () => now.get)
    server.start()
    try {
      val port = server.boundPort
      service.ingest(Seq(100L), ts.minusDays(1)).collect()
      assert(post(port, "/ingest/101").code == 200)
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      for ((id, i) <- Seq(102L, 103L, 104L).zipWithIndex) {
        now.set(ts.plusHours(i + 1L).plusMinutes(7L * i).plusSeconds(i + 1L))
        val r = post(port, s"/ingest/$id")
        assert(r.code == 200 && r.body.contains("\"status\":\"downloaded\""),
          s"ingest $id: $r")
      }
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
      assert(compiles == 0, s"3 warm POSTs compiled $compiles classes")
      assert(storage.listBooks() == Seq(100L, 101L, 102L, 103L, 104L))
    } finally server.stop()
  }

  test("a one-book POST on the parquet adapter runs no Spark job, " +
      "service and facade together") {
    val storage = new SparkLakeStorage(spark, "file:" +
      tempDir("graft-http-jobs").toString)
    withServer(storage) { port =>
      assert(post(port, "/ingest/1").code == 200) // warm
      // a stored book, a failed download, a failed marker split: the
      // driver fetches, splits and writes each book it holds
      for ((id, code) <- Seq(2L -> 200, 42L -> 400, 3L -> 400)) {
        var r: Resp = null
        val jobs = SparkJobs.started(spark) { r = post(port, s"/ingest/$id") }
        assert(r.code == code, s"ingest $id: $r")
        assert(jobs.isEmpty, s"ingest $id ran ${jobs.size} jobs: $jobs")
      }
      assert(storage.listBooks() == Seq(1L, 2L))
    }
  }

  test("GET /metrics counts requests per route, response codes, latency " +
      "and ingest statuses as flat JSON") {
    import scala.jdk.CollectionConverters._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    withServer(new InMemoryLakeStorage(spark)) { port =>
      def metrics(): Map[String, Long] = {
        val r = get(port, "/metrics")
        assert(r.code == 200, r.toString)
        val node = mapper.readTree(r.body)
        node.properties().asScala.toSeq.map { e =>
          assert(e.getValue.isIntegralNumber, s"${e.getKey}: ${r.body}")
          e.getKey -> e.getValue.longValue
        }.toMap
      }
      val fresh = metrics()
      val bounds = Seq(1, 2, 5, 10, 20, 50, 100, 200, 500, 1000, 2000, 5000)
        .map(b => s"le_$b") :+ "le_inf"
      val keys =
        Seq("health", "metrics", "list", "status", "ingest", "other")
          .map("requests." + _) ++
        Seq("200", "400", "404", "500", "other").map("responses." + _) ++
        bounds.map("latency_ms." + _) ++
        Seq("downloaded", "download_failed", "marker_split_failed",
          "datalake_move_failed", "invalid_book_id").map("ingest." + _)
      assert(mapper.readTree(get(port, "/metrics").body).fieldNames()
        .asScala.toSeq == keys)
      assert(fresh == keys.map(_ -> 0L).toMap)

      val sent = Seq(post(port, "/ingest/1"), post(port, "/ingest/42"),
        post(port, "/ingest/3"), post(port, "/ingest/abc"),
        get(port, "/ingest/status/1"), get(port, "/ingest/status/9"),
        get(port, "/ingest/list"), get(port, "/health"), get(port, "/nope"),
        post(port, "/metrics"), get(port, "/metrics/x"))
      assert(sent.map(_.code) ==
        Seq(200, 400, 400, 400, 200, 200, 200, 200, 404, 404, 404))
      val m = metrics()
      // the two earlier GET /metrics, not this one
      assert(m("requests.metrics") == 2)
      assert(m.filter(_._1.startsWith("requests.")) - "requests.metrics" ==
        Map("requests.health" -> 1L, "requests.list" -> 1L,
          "requests.status" -> 2L, "requests.ingest" -> 4L,
          "requests.other" -> 3L))
      assert(m.filter(_._1.startsWith("responses.")) == Map(
        "responses.200" -> 7L, "responses.400" -> 3L, "responses.404" -> 3L,
        "responses.500" -> 0L, "responses.other" -> 0L))
      val hist = bounds.map(b => m(s"latency_ms.$b"))
      assert(hist == hist.sorted && hist.last == 13L, hist)
      assert(m.filter(_._1.startsWith("ingest.")) == Map(
        "ingest.downloaded" -> 1L, "ingest.download_failed" -> 1L,
        "ingest.marker_split_failed" -> 1L,
        "ingest.datalake_move_failed" -> 0L, "ingest.invalid_book_id" -> 0L))
    }
  }

  test("PORT env semantics match the reference (Main.java:33,176-184)") {
    assert(IngestHttpServer.portFromEnv(Map.empty) == 7070)
    assert(IngestHttpServer.portFromEnv(Map("PORT" -> " 8088 ")) == 8088)
    assert(IngestHttpServer.portFromEnv(Map("PORT" -> "")) == 7070)
    assert(IngestHttpServer.portFromEnv(Map("PORT" -> "nope")) == 7070)
  }
}
