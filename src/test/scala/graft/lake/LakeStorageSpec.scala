package graft.lake

import java.nio.file.Files
import java.time.LocalDateTime

import graft.SparkSpec
import org.apache.spark.sql.functions.col

/** Round-trip, exists, list, and path-derivation semantics of the lake
  * adapters (reference contract DatalakeStorage.java:8-17) — SURVEY §5
  * items 2-3, against both the parquet and the in-memory adapter. */
class LakeStorageSpec extends SparkSpec {

  private val ts = LocalDateTime.of(2026, 3, 7, 9, 5, 0)

  private def books(rows: (Long, String, String)*) = {
    import spark.implicits._
    rows.toSeq.toDF("book_id", "header", "body")
  }

  private def eachAdapter(f: LakeStorage => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-test-lake-").toFile.getAbsolutePath
    f(new SparkLakeStorage(spark, dir))
    f(new InMemoryLakeStorage(spark))
  }

  test("relativePathFor mirrors the reference layout incl zero-padded hour") {
    // ref: "datalake/" + yyyyMMdd + "/" + HH + "/" + id
    // (S3DatalakeStorage.java:122-124)
    val s = new InMemoryLakeStorage(spark)
    assert(s.relativePathFor(84, ts) == "datalake/20260307/09/84")
  }

  test("save -> exists -> list round-trip; absent ids are absent") {
    eachAdapter { storage =>
      storage.saveBooks(books((7L, "h7", "b7"), (3L, "h3", "b3")), ts)
      assert(storage.exists(7L) && storage.exists(3L))
      assert(!storage.exists(99L))
      assert(storage.listBooks() == Seq(3L, 7L)) // ascending, ref :115
    }
  }

  test("re-ingest into a later hour keeps list() distinct") {
    eachAdapter { storage =>
      storage.saveBooks(books((5L, "h", "b")), ts)
      storage.saveBooks(books((5L, "h", "b")), ts.plusHours(2))
      assert(storage.listBooks() == Seq(5L))
      assert(storage.exists(5L))
    }
  }

  test("listBooksDF agrees with the collecting port form on both adapters") {
    eachAdapter { storage =>
      storage.saveBooks(books((7L, "h7", "b7"), (3L, "h3", "b3"),
        (3L, "h3", "b3x")), ts)
      val viaDf = storage.listBooksDF.collect().map(_.getLong(0)).toSeq
      assert(viaDf == Seq(3L, 7L))
      assert(viaDf == storage.listBooks())
      assert(storage.listBooksDF.columns.toSeq == Seq("book_id"))
    }
  }

  test("round-trip against an external filesystem URI (graftfs:// or env)") {
    // Integration hook for object-store backends: set GRAFT_LAKE_TEST_ROOT
    // to any Hadoop-filesystem URI (s3a://bucket/prefix with hadoop-aws on
    // the classpath, hdfs://..., webhdfs://...) and the full port contract
    // runs against it. Without the env var, the test registers a SECOND
    // scheme in-rig — graftfs://, resolved through `fs.graftfs.impl` to a
    // RawLocalFileSystem subclass — so the scheme-agnostic resolution path
    // (LakeStorage resolves every FileSystem from the root URI + Hadoop
    // conf, never assumes file://) executes in CI instead of forever
    // skipping in this offline, connector-less rig.
    val root = sys.env.get("GRAFT_LAKE_TEST_ROOT").getOrElse {
      spark.sparkContext.hadoopConfiguration.set("fs.graftfs.impl",
        classOf[GraftTestFs].getName)
      val dir = Files.createTempDirectory("graft-rawfs-")
        .toFile.getAbsolutePath
      // prove the scheme resolves to the registered non-default impl
      val fs = org.apache.hadoop.fs.FileSystem.get(
        java.net.URI.create("graftfs:///"),
        spark.sparkContext.hadoopConfiguration)
      assert(fs.isInstanceOf[GraftTestFs],
        s"graftfs:// resolved to ${fs.getClass}")
      s"graftfs://$dir"
    }
    val storage = new SparkLakeStorage(spark,
      s"${root.stripSuffix("/")}/graft-it-${System.nanoTime()}")
    storage.saveBooks(books((11L, "h", "b")), ts)
    assert(storage.exists(11L) && !storage.exists(12L))
    assert(storage.listBooks() == Seq(11L))
    assert(storage.lake.filter(col("kind") === "body").count() == 1)
  }

  test("empty lake: exists=false, list=empty (no partitions yet)") {
    eachAdapter { storage =>
      assert(!storage.exists(1L))
      assert(storage.listBooks().isEmpty)
    }
  }

  test("health mirrors the reference's /health payload (Main.java:57-62)") {
    eachAdapter { storage =>
      val h = storage.health
      assert(h("status") == "ok")
      assert(h.contains("backend") && h.contains("location"))
    }
  }

  test("fromEnv configures the lake root like the reference's env surface " +
    "(Main.java:29-36)") {
    val dir = Files.createTempDirectory("graft-env-lake-").toFile.getAbsolutePath
    val storage = SparkLakeStorage.fromEnv(spark, Map(
      SparkLakeStorage.RootEnv -> dir,
      SparkLakeStorage.PrefixEnv -> "tenant-a"))
    storage.saveBooks(books((9L, "h", "b")), ts)
    assert(storage.health("location") == s"$dir/tenant-a")
    assert(new java.io.File(s"$dir/tenant-a/datalake").exists())
    intercept[IllegalArgumentException] {
      SparkLakeStorage.fromEnv(spark, Map.empty)
    }
  }

  test("lake root may be a filesystem URI, not just a local path " +
    "(scheme-agnostic Hadoop FS access)") {
    val dir = Files.createTempDirectory("graft-uri-lake-").toFile.getAbsolutePath
    val storage = new SparkLakeStorage(spark, s"file:$dir")
    assert(!storage.exists(1L) && storage.listBooks().isEmpty)
    storage.saveBooks(books((6L, "h6", "b6")), ts)
    assert(storage.exists(6L) && storage.listBooks() == Seq(6L))
  }

  test("parquet lake stores header+body rows with partition columns") {
    val dir = Files.createTempDirectory("graft-test-lake-").toFile.getAbsolutePath
    val storage = new SparkLakeStorage(spark, dir)
    storage.saveBooks(books((11L, "the header", "the body")), ts)
    val lake = storage.lake
    assert(lake.count() == 2)
    val byKind = lake.collect().map(r =>
      r.getAs[String]("kind") -> r.getAs[String]("text")).toMap
    assert(byKind == Map("header" -> "the header", "body" -> "the body"))
    // authoritative string partition labels survive the round-trip
    assert(lake.select("date", "hour").distinct().collect().head.toSeq ==
      Seq("20260307", "09"))
    import org.apache.spark.sql.types._
    assert(lake.schema.map(f => f.name -> f.dataType) == Seq(
      "book_id" -> LongType, "kind" -> StringType, "text" -> StringType,
      "ts" -> TimestampType, "date" -> StringType, "hour" -> StringType))
    // both rows carry the save's timestamp
    assert(lake.select("ts").collect().map(_.getTimestamp(0)).toSeq ==
      Seq.fill(2)(java.sql.Timestamp.valueOf(ts)))
    // physical layout is hive-partitioned for pruning
    val partition = new java.io.File(s"$dir/datalake/pdate=20260307/phour=09")
    assert(partition.exists())
    // the file schema: only `text` may be null for this input
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.schema.Type.Repetition.{OPTIONAL, REQUIRED}
    val part = partition.listFiles().filter(_.getName.endsWith(".parquet"))
    assert(part.length == 1)
    assert(ParquetFooter.schema(spark, part.head.getPath).getFields.asScala
      .map(f => f.getName -> f.getRepetition).toSeq == Seq(
        "book_id" -> REQUIRED, "kind" -> REQUIRED, "text" -> OPTIONAL,
        "ts" -> REQUIRED, "date" -> REQUIRED, "hour" -> REQUIRED))
  }

  test("a save under the java8 datetime API stores the same timestamp") {
    val key = "spark.sql.datetime.java8API.enabled"
    val dir = Files.createTempDirectory("graft-java8-lake-")
      .toFile.getAbsolutePath
    val storage = new SparkLakeStorage(spark, dir)
    spark.conf.set(key, "true")
    try storage.saveBooks(books((12L, "h", "b")), ts)
    finally spark.conf.unset(key)
    assert(storage.lake.select("ts").collect().map(_.getTimestamp(0)).toSeq ==
      Seq.fill(2)(java.sql.Timestamp.valueOf(ts)))
  }

  test("a date/hour predicate prunes partitions at the scan, not a filter") {
    import java.time.LocalDateTime
    val dir = Files.createTempDirectory("graft-prune-lake-")
      .toFile.getAbsolutePath
    val storage = new SparkLakeStorage(spark, dir)
    // two partitions: hours 09 and 10
    storage.saveBooks(books((1L, "h1", "b1")), ts)
    storage.saveBooks(books((2L, "h2", "b2")),
      LocalDateTime.of(2026, 3, 7, 10, 0))
    val pruned = storage.lake
      .filter(org.apache.spark.sql.functions.col("pdate") === "20260307" &&
        org.apache.spark.sql.functions.col("phour") === "09")
    // the predicate must reach the scan's PartitionFilters — pruning
    // happens at planning time (directories never listed), not as a
    // post-scan Filter over all partitions
    val plan = pruned.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse(
        fail(s"no PartitionFilters in scan:\n$plan"))
    assert(scanLine.contains("phour"),
      s"phour predicate did not reach the scan: $scanLine")
    assert(pruned.count() == 2) // header + body of book 1 only
  }

  test("a save of a multi-partition frame publishes one manifest file") {
    val dir = Files.createTempDirectory("graft-one-manifest-")
      .toFile.getAbsolutePath
    val storage = new SparkLakeStorage(spark, dir)
    val ids = 1L to 40L
    val frame = books(ids.map(i => (i, s"h$i", s"b$i")): _*).repartition(8)
    assert(frame.rdd.getNumPartitions == 8)
    storage.saveBooks(frame, ts)
    val manifestParts = new java.io.File(s"$dir/manifest").list()
      .filter(_.endsWith(".parquet"))
    assert(manifestParts.length == 1, manifestParts.mkString(", "))
    assert(ids.forall(storage.exists) && !storage.exists(41L))
    assert(storage.listBooks() == ids)
  }

  test("an empty save publishes no file and no partition directory") {
    val dir = Files.createTempDirectory("graft-empty-save-")
      .toFile.getAbsolutePath
    val storage = new SparkLakeStorage(spark, dir)
    storage.saveBooks(books((1L, "h", "b")).filter(col("book_id") < 0), ts)
    assert(!new java.io.File(s"$dir/datalake/pdate=20260307").exists())
    assert(Option(new java.io.File(s"$dir/manifest").list()).toSeq.flatten
      .forall(n => !n.endsWith(".parquet")))
    assert(!storage.exists(1L) && storage.listBooks().isEmpty)
  }

  test("concurrent saves into one hour each land exactly once, no " +
      "staging debris") {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.DurationInt
    val dir = Files.createTempDirectory("graft-concurrent-lake-")
      .toFile.getAbsolutePath
    val storage = new SparkLakeStorage(spark, dir)
    val exec = java.util.concurrent.Executors.newFixedThreadPool(8)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(exec)
    try {
      // 8 writers, 3 books each, all into the same date/hour partition
      val ids = (1L to 24L).grouped(3).toSeq
      Await.result(Future.sequence(ids.map(group => Future(
        storage.saveBooks(books(group.map(i => (i, s"h$i", s"b$i")): _*),
          ts)))), 180.seconds)
      assert(storage.listBooks() == (1L to 24L))
      val perId = storage.lake.groupBy("book_id", "kind").count()
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2))
        .toMap
      assert(perId == (1L to 24L).flatMap(i =>
        Seq((i, "header") -> 1L, (i, "body") -> 1L)).toMap)
      val debris = Option(new java.io.File(s"$dir/_staging").list())
        .toSeq.flatten
      assert(debris.isEmpty, s"staging debris: $debris")
    } finally exec.shutdown()
  }

  test("a second storage sees every saved id throughout rebuildManifest") {
    import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.DurationInt
    val dir = Files.createTempDirectory("graft-rebuild-race-")
      .toFile.getAbsolutePath
    val storage = new SparkLakeStorage(spark, dir)
    val ids = 1L to 20L
    ids.grouped(5).foreach(g =>
      storage.saveBooks(books(g.map(i => (i, s"h$i", s"b$i")): _*), ts))
    val reader = new SparkLakeStorage(spark, dir)
    assert(reader.listBooks() == ids)
    val done = new AtomicBoolean(false)
    val misses = new AtomicInteger(0)
    val exec = java.util.concurrent.Executors.newSingleThreadExecutor()
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(exec)
    try {
      val probe = Future {
        var calls = 0
        while (!done.get) {
          misses.addAndGet(ids.count(!reader.exists(_)))
          if (reader.listBooks() != ids) misses.incrementAndGet()
          calls += ids.size + 1
        }
        calls
      }
      try (1 to 3).foreach(_ => storage.rebuildManifest())
      finally done.set(true)
      val calls = Await.result(probe, 60.seconds)
      assert(calls > 0)
      assert(misses.get == 0, s"${misses.get} of $calls calls missed an id")
      assert(reader.listBooks() == ids && storage.listBooks() == ids)
    } finally exec.shutdown()
  }
}

/** Manifest index: metadata-only exists/list + rebuild from ground truth. */
class ManifestSpec extends graft.SparkSpec {
  import java.nio.file.Files
  import java.time.LocalDateTime

  test("exists/list answer from the manifest; rebuild recovers from loss") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-manifest-")
      .toFile.getAbsolutePath
    val storage = new SparkLakeStorage(spark, root)
    val ts = LocalDateTime.of(2026, 7, 1, 11, 0)
    storage.saveBooks(
      Seq((4L, "h4", "b4"), (2L, "h2", "b2")).toDF("book_id", "header", "body"),
      ts)

    assert(new java.io.File(s"$root/manifest").exists())
    assert(storage.exists(4L) && !storage.exists(5L))
    assert(storage.listBooks() == Seq(2L, 4L))
    assert(storage.manifest.columns.toSeq == Seq("book_id", "date", "hour"))

    // simulate manifest loss; data files remain ground truth
    def rmrf(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rmrf)); f.delete()
    }
    rmrf(new java.io.File(s"$root/manifest"))
    assert(!storage.exists(4L)) // index gone -> degraded (documented)
    storage.rebuildManifest()
    assert(storage.exists(4L) && storage.listBooks() == Seq(2L, 4L))
  }

  private def save(storage: SparkLakeStorage, ts: LocalDateTime,
      ids: Long*): Unit = {
    import spark.implicits._
    storage.saveBooks(ids.map(i => (i, s"h$i", s"b$i"))
      .toDF("book_id", "header", "body"), ts)
  }

  test("a second storage on the same root sees the first one's saves " +
      "at once") {
    val root = Files.createTempDirectory("graft-manifest-two-")
      .toFile.getAbsolutePath
    val writer = new SparkLakeStorage(spark, root)
    val reader = new SparkLakeStorage(spark, root)
    val ts = LocalDateTime.of(2026, 7, 1, 11, 0)
    assert(!reader.exists(1L) && reader.listBooks().isEmpty)
    save(writer, ts, 1L, 3L)
    assert(reader.exists(1L) && reader.exists(3L) && !reader.exists(2L))
    assert(reader.listBooks() == Seq(1L, 3L))
    // a later hour's commit, after the reader's index already holds ids
    save(writer, ts.plusHours(1), 2L, 3L)
    assert(reader.exists(2L))
    assert(reader.listBooks() == Seq(1L, 2L, 3L))
  }

  test("exists/list are exact right after rebuildManifest replaces the " +
      "manifest files") {
    val root = Files.createTempDirectory("graft-manifest-rebuild-")
      .toFile.getAbsolutePath
    val storage = new SparkLakeStorage(spark, root)
    val ts = LocalDateTime.of(2026, 7, 1, 11, 0)
    save(storage, ts, 5L, 8L)
    assert(storage.listBooks() == Seq(5L, 8L)) // index built
    def manifestFiles: Set[String] =
      new java.io.File(s"$root/manifest").list()
        .filter(_.endsWith(".parquet")).toSet
    val before = manifestFiles
    storage.rebuildManifest()
    assert(manifestFiles.intersect(before).isEmpty) // every file replaced
    assert(storage.exists(5L) && storage.exists(8L) && !storage.exists(6L))
    assert(storage.listBooks() == Seq(5L, 8L))
    save(storage, ts, 6L)
    assert(storage.exists(6L) && storage.listBooks() == Seq(5L, 6L, 8L))
    // the fold just read files of both writers: the rebuild's `book_id` is
    // optional, a save's is required
    import org.apache.parquet.schema.Type.Repetition
    val repetitions = manifestFiles.map { name =>
      val schema = ParquetFooter.schema(spark, s"$root/manifest/$name")
      schema.getType(schema.getFieldIndex("book_id")).getRepetition
    }
    assert(repetitions == Set(Repetition.OPTIONAL, Repetition.REQUIRED))
    // and a fresh storage's first fold reads both kinds at once
    assert(new SparkLakeStorage(spark, root).listBooks() == Seq(5L, 6L, 8L))
  }

  test("with the manifest unchanged, exists/list run no Spark job") {
    val root = Files.createTempDirectory("graft-manifest-jobs-")
      .toFile.getAbsolutePath
    val storage = new SparkLakeStorage(spark, root)
    save(storage, LocalDateTime.of(2026, 7, 1, 11, 0), 4L, 2L)
    assert(storage.exists(4L)) // folds the new manifest files in
    val jobs = SparkJobs.started(spark) {
      for (_ <- 1 to 5) {
        assert(storage.exists(4L) && !storage.exists(3L))
        assert(storage.listBooks() == Seq(2L, 4L))
      }
    }
    assert(jobs.isEmpty, s"exists/list ran ${jobs.size} Spark jobs")
    // a manifest change by a second storage on the same root: the fold
    // reads the new file on the driver
    save(new SparkLakeStorage(spark, root),
      LocalDateTime.of(2026, 7, 1, 12, 0), 3L, 9L)
    val foldJobs = SparkJobs.started(spark) {
      assert(storage.exists(3L) && storage.exists(9L) && !storage.exists(5L))
      assert(storage.listBooks() == Seq(2L, 3L, 4L, 9L))
    }
    assert(foldJobs.isEmpty,
      s"exists/list after a save ran ${foldJobs.size} Spark jobs")
  }
}

/** The schema stored in a parquet file's footer. */
object ParquetFooter {
  def schema(spark: org.apache.spark.sql.SparkSession,
      path: String): org.apache.parquet.schema.MessageType = {
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path),
        spark.sparkContext.hadoopConfiguration))
    try reader.getFooter.getFileMetaData.getSchema finally reader.close()
  }
}

/** A second Hadoop filesystem SCHEME for in-rig integration testing:
  * RawLocalFileSystem (local disk, no checksum shadow files) re-rooted
  * under `graftfs://`, so resolving it exercises the `fs.<scheme>.impl`
  * lookup path exactly as s3a/hdfs would — the standard fake-FS pattern
  * Hadoop and Spark use in their own test suites. */
class GraftTestFs extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("graftfs:///")
}

/** The FileContext (AbstractFileSystem) face of [[GraftTestFs]], so the
  * snapshot store's atomic pointer publish — which goes through
  * `FileContext.rename(OVERWRITE)` — also resolves per-scheme
  * (`fs.AbstractFileSystem.graftfs.impl`), the exact hook a real
  * object-store backend implements. */
class GraftTestAbstractFs(uri: java.net.URI,
    conf: org.apache.hadoop.conf.Configuration)
  extends org.apache.hadoop.fs.DelegateToFileSystem(
    uri, new GraftTestFs, conf, "graftfs", false)
