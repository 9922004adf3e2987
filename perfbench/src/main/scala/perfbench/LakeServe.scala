package perfbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}
import java.time.LocalDateTime
import java.util.SplittableRandom
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import graft.lake.{IngestHttpServer, IngestService, LakePaths, LakeStorage, SparkLakeStorage}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** The `lake_serve` workload: bulk-load seeded books through
  * `IngestService` into fresh lakes, then drive `IngestHttpServer` over the
  * last one's `SparkLakeStorage` with closed-loop clients (no think time)
  * until the run's time is up. Every response is checked as it arrives, and
  * the lake is checked against the acknowledged ids at the end. */
object LakeServe {
  /** Each bulk load ingests the same books into a fresh lake; the run
    * reports the fastest load. */
  val BulkBooks = 250
  val BulkLoads = 3
  val SetupRepeats = 3
  val SampleReadBack = 16
  /** Direct `exists` calls a traced run times before and after serving, to
    * see whether a lookup slows as POSTs fragment the lake. */
  val ExistsProbes = 11
  /** Share of requests a traced run leaves untraced, to measure the
    * tracing overhead inside the run. */
  val UntracedOneIn = 4

  /** The request mix, dealt from a deck reshuffled (by the seed) every 20
    * requests: 45% status of an ingested id, 25% status of an id never
    * ingested, 10% list, 20% POST of a new id. Dealing from a deck keeps
    * every run's mix at these shares. */
  val Deck: Vector[String] = Vector.fill(9)("hit") ++ Vector.fill(5)("miss") ++
    Vector.fill(2)("list") ++ Vector.fill(4)("ingest")

  /** One request the clients send: its kind, the id it names (0 for a
    * list) and whether a traced run traces it. */
  final case class Request(kind: String, id: Long, traced: Boolean)

  /** The run's requests, one seeded sequence the clients take from in
    * turn: the same seed sends the same requests in the same order, and the
    * mix stays at the deck's shares however the clients interleave. */
  final class Requests(seed: Long, hits: Vector[Long], ids: Books.Ids) {
    private val r = new SplittableRandom(seed ^ 0x7E57L)
    private val deck = Deck.toArray
    private var at = deck.length
    private var nextFresh = 0

    def next(): Request = synchronized {
      if (at == deck.length) {
        for (i <- deck.length - 1 to 1 by -1) {
          val j = r.nextInt(i + 1)
          val t = deck(i); deck(i) = deck(j); deck(j) = t
        }
        at = 0
      }
      val kind = deck(at)
      at += 1
      val id = kind match {
        case "hit" => hits(r.nextInt(hits.size))
        case "miss" => ids.missing(r.nextInt(ids.missing.size))
        case "list" => 0L
        case _ => nextFresh += 1; ids.fresh(nextFresh - 1)
      }
      Request(kind, id, r.nextInt(UntracedOneIn) != 0)
    }
  }

  /** Parse helpers for the facade's flat JSON bodies. */
  private val StatusRe = "\"status\":\"([a-z_]+)\"".r
  private val PathRe = "\"path\":\"([^\"]*)\"".r
  private val DateRe = "\"date\":\"([0-9]*)\"".r
  private val HourRe = "\"hour\":\"([0-9]*)\"".r
  def field(re: scala.util.matching.Regex, body: String): String =
    re.findFirstMatchIn(body).map(_.group(1)).getOrElse("")
  def listedIds(body: String): Set[Long] = {
    val i = body.indexOf("\"books\":[")
    val j = body.indexOf(']', i)
    if (i < 0 || j < 0) Set(-1L)
    else body.substring(i + 9, j).split(',').iterator.filter(_.nonEmpty)
      .map(_.toLong).toSet
  }

  /** The acknowledged ids, in acknowledgement order. A list sent after the
    * first `n` acknowledgements must contain those `n` ids. */
  final class Acks {
    private val log = mutable.ArrayBuffer.empty[Long]
    def add(id: Long): Unit = synchronized { log += id }
    def size: Int = synchronized(log.size)
    def apply(i: Int): Long = synchronized(log(i))
    def prefix(n: Int): Seq[Long] = synchronized(log.take(n).toSeq)
    def all: Set[Long] = synchronized(log.toSet)
  }

  def run(spark: SparkSession, seed: Long, seconds: Int, clients: Int,
      tracer: Option[Tracer], work: Path, rep: Report): Unit = {
    val books = Books(seed)
    val ids = Books.ids(seed, BulkBooks, fresh = 20000, missing = 4000)

    // Set-up: a fresh lake behind a started server, made ready by one
    // request of each kind (the first set-up also pays the JVM's first use
    // of every path the loads and requests take). Ids from the far end of
    // the fresh pool, which serving never reaches.
    val setupIds = ids.fresh.reverseIterator.filterNot(Books.unsplittable(seed, _))
    for (i <- 0 until SetupRepeats) {
      val t0 = System.nanoTime()
      val storage = new SparkLakeStorage(spark, work.resolve(s"setup-$i").toUri.toString)
      val server = new IngestHttpServer(new IngestService(spark, storage, books), storage, 0)
      server.start()
      try {
        val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
        val base = s"http://127.0.0.1:${server.boundPort}"
        val id = setupIds.next()
        val post = send(http, HttpRequest.newBuilder(URI.create(s"$base/ingest/$id"))
          .POST(HttpRequest.BodyPublishers.noBody()).build())
        rep.op(expect(post, 200, "downloaded", "setup post"))
        rep.op(expect(get(http, s"$base/ingest/status/$id"), 200, "available", "setup status"))
        val miss = get(http, s"$base/ingest/status/${ids.missing.head}")
        rep.op(expect(miss, 200, "not_found", "setup status"))
        val list = get(http, s"$base/ingest/list")
        rep.op(if (list._1 == 200 && listedIds(list._2) == Set(id)) None
          else Some(s"setup list: ${list._1} ${list._2.take(200)}"))
      } finally server.stop()
      rep.sample("setup_lake_s", (System.nanoTime() - t0) / 1e9)
    }
    rep.liveMemory()

    // Bulk loads: one ingest call over all ids, as the facade's scale note
    // prescribes for bulk work, each into a fresh lake. The last lake is
    // the one served (and, in a traced run, the one traced).
    val pending = new Tracer.Pending
    val acks = new Acks
    def load(i: Int): (SparkLakeStorage, LakeStorage, IngestService) = {
      val plain = new SparkLakeStorage(spark, work.resolve(s"lake-$i").toUri.toString)
      val (storage, service) = tracer.filter(_ => i == BulkLoads - 1) match {
        case None => (plain, new IngestService(spark, plain, books))
        case Some(t) =>
          TracedFetcher.sink = Some(t)
          val s = new TracedStorage(plain, t, pending)
          (s, new TracedService(spark, s, TracedFetcher(books), t, pending))
      }
      val t0 = System.nanoTime()
      val statuses = tracer.filter(_ => i == BulkLoads - 1)
        .fold(service.ingest(ids.bulk, LocalDateTime.now()))(
          _.span("lake.bulk", 0L)(service.ingest(ids.bulk, LocalDateTime.now())))
        .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
      rep.sample("bulk_s", (System.nanoTime() - t0) / 1e9)
      ids.bulk.foreach { id =>
        val want = if (Books.unsplittable(seed, id)) "marker_split_failed" else "downloaded"
        val got = statuses.getOrElse(id, "missing")
        rep.op(if (got == want) None else Some(s"bulk $id into lake $i: $got, expected $want"))
        if (got == want && want == "downloaded" && i == BulkLoads - 1) acks.add(id)
      }
      (plain, storage, service)
    }
    val (plain, storage, service) = (0 until BulkLoads).map(load).last
    rep.scalar("bulk_docs", ids.bulk.size)
    rep.liveMemory()
    val hits = acks.prefix(acks.size).toVector

    def probeExists(name: String): Unit = if (tracer.isDefined) {
      val r = new SplittableRandom(seed ^ name.hashCode)
      for (_ <- 0 until ExistsProbes) {
        val t0 = System.nanoTime()
        plain.exists(hits(r.nextInt(hits.size)))
        rep.sample(name, (System.nanoTime() - t0) / 1e6)
      }
    }

    probeExists("exists_before_ms")
    val server = new IngestHttpServer(service, storage, 0)
    server.start()
    try serve(seed, seconds, clients, tracer, pending,
      new Requests(seed, hits, ids), acks, s"http://127.0.0.1:${server.boundPort}", rep)
    finally server.stop()
    rep.liveMemory()
    probeExists("exists_after_ms")

    // End state: the lake lists exactly the acknowledged ids, and a seeded
    // sample of books reads back as the expected marker split.
    val listed = plain.listBooks()
    val acked = acks.all
    rep.op(ListCheck.exact(listed, acked))
    val r = new SplittableRandom(seed ^ 0x5EEDL)
    val sample = Seq.fill(SampleReadBack)(acks(r.nextInt(acks.size))).distinct
    val stored = plain.lake.filter(col("book_id").isin(sample: _*))
      .select("book_id", "kind", "text").collect()
      .map(x => (x.getLong(0), x.getString(1)) -> x.getString(2)).toMap
    sample.foreach { id =>
      val (h, b) = books.expectedSplit(id)
      rep.op(if (stored.get((id, "header")).contains(h) && stored.get((id, "body")).contains(b))
        None else Some(s"read-back of book $id differs from its marker split"))
    }

    if (tracer.isDefined) {
      val root = work.resolve(s"lake-${BulkLoads - 1}")
      def files(sub: String): Seq[Path] = {
        val s = Files.walk(root.resolve(sub))
        try s.filter(p => p.toString.endsWith(".parquet")).toArray.toSeq.map(_.asInstanceOf[Path])
        finally s.close()
      }
      val data = files("datalake")
      val manifest = files("manifest")
      val userBytes = acked.iterator.map(id => books.text(id).length.toLong).sum
      rep.scalar("lake.data_files", data.size)
      rep.scalar("lake.manifest_files", manifest.size)
      rep.scalar("lake.bytes_per_user_byte",
        (data ++ manifest).map(Files.size).sum.toDouble / userBytes)
    }
  }

  private def get(http: HttpClient, url: String): (Int, String) =
    send(http, HttpRequest.newBuilder(URI.create(url)).GET().build())

  private def send(http: HttpClient, req: HttpRequest): (Int, String) = {
    val res = http.send(req, HttpResponse.BodyHandlers.ofString())
    (res.statusCode(), res.body())
  }

  private def expect(res: (Int, String), code: Int, status: String,
      what: String): Option[String] =
    if (res._1 == code && field(StatusRe, res._2) == status) None
    else Some(s"$what: ${res._1} ${res._2.take(200)}")

  private def serve(seed: Long, seconds: Int, clients: Int, tracer: Option[Tracer],
      pending: Tracer.Pending, requests: Requests, acks: Acks, base: String,
      rep: Report): Unit = {
    // ids POSTed so far whose books are splittable: a list may show them
    // before their acknowledgement arrives, never anything else
    val sent = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
    (0 until acks.size).foreach(i => sent.add(acks(i)))
    val done = new AtomicLong()
    rep.scalar("serve_start_us", Tracer.nowUs().toDouble)
    val start = System.nanoTime()
    val deadline = start + seconds * 1000000000L
    val lastEnd = new AtomicLong(start)

    def client(): Unit = {
      val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()
      while (System.nanoTime() < deadline) {
        val Request(kind, key, tracedDraw) = requests.next()
        val traced = tracer.isDefined && tracedDraw
        val (route, req) =
          if (kind == "hit" || kind == "miss")
            ("status", HttpRequest.newBuilder(URI.create(s"$base/ingest/status/$key")).GET().build())
          else if (kind == "list")
            ("list", HttpRequest.newBuilder(URI.create(s"$base/ingest/list")).GET().build())
          else {
            if (!Books.unsplittable(seed, key)) sent.add(key)
            ("ingest", HttpRequest.newBuilder(URI.create(s"$base/ingest/$key"))
              .POST(HttpRequest.BodyPublishers.noBody()).build())
          }
        val acked = acks.size
        val before = LocalDateTime.now()
        val t0 = System.nanoTime()
        val res = (tracer, traced) match {
          case (Some(t), true) => t.spanWithId(s"lake.http.$route", 0L) { span =>
            pending.put(route, key, span)
            send(http, req)
          }
          case _ => send(http, req)
        }
        val t1 = System.nanoTime()
        val ms = (t1 - t0) / 1e6
        rep.sample(s"${route}_ms", ms)
        // the overhead compares like with like: status requests only
        if (tracer.isDefined && route == "status")
          rep.sample(if (traced) "traced_ms" else "untraced_ms", ms)
        val problem = route match {
          case "status" =>
            expect(res, 200, if (kind == "hit") "available" else "not_found", s"status $key")
          case "list" =>
            if (res._1 != 200) Some(s"list: ${res._1} ${res._2.take(200)}")
            else ListCheck.snapshot(listedIds(res._2), acks.prefix(acked), sent.contains(_))
          case _ =>
            if (Books.unsplittable(seed, key))
              if (res._1 == 400 && res._2.contains("\"download_failed\"")) None
              else Some(s"post of unsplittable $key: ${res._1} ${res._2.take(200)}")
            else {
              // the partition is the server's clock at ingest time
              val p = field(PathRe, res._2)
              val ok = res._1 == 200 && field(StatusRe, res._2) == "downloaded" &&
                Seq(before, LocalDateTime.now()).map(ts =>
                  LakePaths.relativePathFor(key, ts)).contains(p) &&
                p == s"datalake/${field(DateRe, res._2)}/${field(HourRe, res._2)}/$key"
              if (ok) { acks.add(key); None }
              else Some(s"post $key: ${res._1} ${res._2.take(200)}")
            }
        }
        rep.op(problem)
        done.incrementAndGet()
        lastEnd.accumulateAndGet(t1, math.max)
      }
    }

    val threads = (0 until clients).map(c => new Thread(() => client(), s"perfbench-client-$c"))
    threads.foreach(_.start())
    threads.foreach(_.join())
    rep.scalar("serve_end_us", Tracer.nowUs().toDouble)
    rep.scalar("serve_s", (lastEnd.get - start) / 1e9)
    rep.scalar("serve_ops", done.get.toDouble)
  }
}

/** The `list` checks, kept pure so the benchmark's tests can feed them a
  * wrong answer. */
object ListCheck {
  /** A list response must hold every id acknowledged before it was sent,
    * and only ids that were sent. */
  def snapshot(listed: Set[Long], ackedBefore: Seq[Long],
      wasSent: Long => Boolean): Option[String] = {
    val missing = ackedBefore.filterNot(listed)
    val unknown = listed.filterNot(wasSent)
    if (missing.isEmpty && unknown.isEmpty) None
    else Some(s"list: ${missing.size} acknowledged ids missing " +
      s"(${missing.take(3).mkString(",")}), ${unknown.size} never sent " +
      s"(${unknown.take(3).mkString(",")})")
  }

  /** At the end the lake must list exactly the acknowledged ids. */
  def exact(listed: Seq[Long], acked: Set[Long]): Option[String] =
    if (listed.sorted == acked.toSeq.sorted) None
    else Some(s"listBooks has ${listed.size} ids, ${acked.size} acknowledged; " +
      s"differences: ${(listed.toSet diff acked).take(3)} / ${(acked diff listed.toSet).take(3)}")
}
