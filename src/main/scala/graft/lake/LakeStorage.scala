package graft.lake

import java.io.{FileNotFoundException, IOException}
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.UUID

import scala.collection.concurrent.TrieMap
import scala.collection.immutable.ArraySeq

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.conf.HadoopParquetConfiguration
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetReader}
import org.apache.parquet.hadoop.api.{InitContext, ReadSupport}
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageType
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pure path/partition derivation — the reference's layout contract
  * (/root/reference .../S3DatalakeStorage.java:142-150, formatters :21-22).
  * We adopt the clean client-visible form `datalake/{yyyyMMdd}/{HH}/{id}`
  * (relativePathFor, S3DatalakeStorage.java:122-124) and fix the reference's
  * double-prefix write quirk (`basePrefix + "datalake/"` with default prefix
  * "datalake", S3DatalakeStorage.java:146 + Main.java:32) — see SURVEY §1.3. */
object LakePaths {
  private val DateFmt = DateTimeFormatter.ofPattern("yyyyMMdd")
  private val HourFmt = DateTimeFormatter.ofPattern("HH")

  def day(ts: LocalDateTime): String = ts.format(DateFmt)
  def hour(ts: LocalDateTime): String = ts.format(HourFmt)

  def relativePathFor(bookId: Long, ts: LocalDateTime): String =
    s"datalake/${day(ts)}/${hour(ts)}/$bookId"
}

/** The storage port — mirrors the reference's 4-method `DatalakeStorage`
  * contract (/root/reference .../DatalakeStorage.java:8-17), batched for an
  * engine: `saveBooks` takes a whole DataFrame of (book_id, header, body)
  * rather than one staged file pair per call.
  */
trait LakeStorage {

  /** Persist header+body artifacts for every row of `books`
    * ((book_id: long, header: string, body: string)) under the
    * time-partition of `ts` — the batch form of `saveBook`
    * (DatalakeStorage.java:10). */
  def saveBooks(books: DataFrame, ts: LocalDateTime): Unit

  /** Is any artifact of `bookId` anywhere in the lake? (`exists`,
    * DatalakeStorage.java:12 — reference scans all keys with a suffix
    * predicate and early exit, S3DatalakeStorage.java:65-86.) */
  def exists(bookId: Long): Boolean

  /** Client-visible relative path (DatalakeStorage.java:14). */
  def relativePathFor(bookId: Long, ts: LocalDateTime): String =
    LakePaths.relativePathFor(bookId, ts)

  /** All distinct book ids, ascending (`listBooks`,
    * DatalakeStorage.java:16; reference: full key scan → parse → distinct
    * → sort, S3DatalakeStorage.java:89-119). Collects to the driver
    * because the port contract returns a materialized list — use
    * [[listBooksDF]] in query pipelines. */
  def listBooks(): Seq[Long]

  /** Distributed face of [[listBooks]]: one `book_id` column, distinct,
    * ascending — composes into downstream joins without a driver
    * round-trip. */
  def listBooksDF: DataFrame =
    lake.select(org.apache.spark.sql.functions.col("book_id"))
      .distinct()
      .orderBy(org.apache.spark.sql.functions.col("book_id"))

  /** Engine-native face: the whole lake as a DataFrame
    * (book_id, kind, text, ts, date, hour). */
  def lake: DataFrame

  /** Health/config record — the reference's GET /health payload
    * (Main.java:57-62: status, backend, region, bucket) in library form:
    * `backend` names the adapter, `location` the configured store. */
  def health: Map[String, String]
}

/** Spark-parquet lake adapter.
  *
  * Layout: `{root}/datalake/pdate={yyyyMMdd}/phour={HH}/` parquet, i.e. the
  * reference's time-partitioned namespace as Hive-style partitions, so
  * Catalyst partition-prunes any date/hour-filtered read for free — what the
  * reference approximates with prefix-scoped ListObjectsV2 pagination
  * (S3DatalakeStorage.java:69-114). `date`/`hour` are ALSO stored as data
  * columns: partition-directory values round-trip through type inference
  * (`10` → int would drop `HH` zero-padding), the data columns stay
  * authoritative strings.
  *
  * The two-objects-per-book shape ({id}.body.txt / {id}.header.txt,
  * S3DatalakeStorage.java:149-150) becomes two ROWS per book discriminated
  * by `kind` — columnar and splittable. `exists` never scans them: it is
  * a binary search in the manifest index below, instead of the
  * reference's O(all keys) scan.
  *
  * Publish protocol — the reference's stage-then-`ATOMIC_MOVE`
  * (IngestionService.java:62-71) at file granularity, and the only way a
  * lake file is written or rewritten: saves, [[rebuildManifest]] and hour
  * compaction ([[LakeMaintenance]]) all go through one `replace`. It
  * writes its rows into a fresh `{root}/_staging/<uuid>`, renames the
  * part files that hold rows into the destination directory, then
  * deletes exactly the files it folded: the ones its caller listed before
  * reading. A save folds nothing and makes two replaces, the payload rows
  * into `datalake/pdate=d/phour=h/`, then the manifest rows into
  * `manifest/`: data before manifest. A rebuild folds the `manifest/`
  * files it listed, a compaction the hour's files it listed; a file a
  * save renames in after that listing is never touched. Files become
  * visible one rename at a time, as they do under FileOutputCommitter
  * v1's job commit; a reader never sees a partial file. No two writes
  * share a staging directory, so concurrent saves run their Spark jobs in
  * parallel, in-process or not.
  *
  * Crash semantics: a crash before the renames leaves a
  * `_staging/<uuid>` that readers never read (they only read `datalake/`
  * and `manifest/`). A crash between the renames and the deletes leaves
  * the folded rows twice, never lost: harmless in `manifest/`, since the
  * index and [[listBooksDF]] take distinct ids; in an hour partition,
  * `lake` then holds those rows twice. Concurrent readers see the same
  * doubling in that window, and a Spark read that listed a folded file
  * before its delete fails with a missing file. Rewrites of one directory
  * are single-writer, as OPTIMIZE jobs are: two at once could both fold
  * the same files.
  *
  * Each save publishes one manifest part file: its rows are three narrow
  * columns, written by a single task.
  *
  * Index contract — `exists` and `listBooks` answer from a driver-side
  * snapshot of the manifest: the part files folded in so far and the
  * sorted distinct ids they hold. Every call first lists `manifest/`
  * (names starting with `_` or `.` skipped, as Spark's file index does)
  * and folds in only the files the snapshot lacks, reading their
  * `book_id` column on the driver with parquet-hadoop, as Iceberg's
  * planner reads its manifests: no Spark job. If a folded file is gone
  * (manifest loss, a replace that folded it) the snapshot is rebuilt
  * from the listing the same way. So every call sees every manifest
  * commit made before it, from any writer, and no call runs a Spark job.
  * A listed file deleted before it is read (by a replace that already
  * renamed in the files holding its rows) sends the fold back to a fresh
  * listing. One fold or rebuild runs at a time; a reader whose listing
  * matches the snapshot never waits for it. Memory: 8 bytes per distinct
  * id plus one path per manifest file.
  */
object SparkLakeStorage {
  /** Env-var names mirroring the reference's lake configuration surface
    * (Main.java:29-36: S3_BUCKET / S3_PREFIX with defaults): the root URI
    * of the lake (any Hadoop filesystem scheme) and an optional
    * sub-prefix. */
  val RootEnv = "GRAFT_LAKE_ROOT"
  val PrefixEnv = "GRAFT_LAKE_PREFIX"

  /** Configure a lake from environment variables, as the reference's Main
    * does (Main.java:29-36). `env` is injectable for hermetic tests. */
  def fromEnv(spark: SparkSession,
      env: Map[String, String] = sys.env): SparkLakeStorage = {
    val root = env.get(RootEnv).filter(_.nonEmpty).getOrElse(
      throw new IllegalArgumentException(
        s"$RootEnv must name the lake root URI (e.g. file:/data/lake)"))
    val full = env.get(PrefixEnv).filter(_.nonEmpty)
      .fold(root)(p => s"${root.stripSuffix("/")}/$p")
    new SparkLakeStorage(spark, full)
  }

  private val ManifestSchema = StructType(Seq(
    StructField("book_id", LongType),
    StructField("date", StringType),
    StructField("hour", StringType)))

  /** The columns of every data file. `date`/`hour` equal the file's
    * `pdate`/`phour` directory labels. */
  private[lake] val LakeSchema = StructType(Seq(
    StructField("book_id", LongType),
    StructField("kind", StringType),
    StructField("text", StringType),
    StructField("ts", TimestampType),
    StructField("date", StringType),
    StructField("hour", StringType)))

  /** The manifest index's immutable snapshot: the manifest part files
    * folded in and the sorted distinct ids they hold. */
  private final case class ManifestIndex(files: Set[String], ids: Array[Long])

  /** Reads only `book_id`, projected from each file's own schema, so the
    * files of both writers read: `saveBooks` writes the column `required`,
    * `rebuildManifest` writes it `optional`. */
  private object BookIdReadSupport extends GroupReadSupport {
    override def init(ctx: InitContext): ReadSupport.ReadContext = {
      val file = ctx.getFileSchema
      new ReadSupport.ReadContext(new MessageType(file.getName,
        file.getType(file.getFieldIndex("book_id"))))
    }
  }

  /** Spark's file index skips these names (`_SUCCESS`, `_temporary`,
    * checksum files). */
  private def visible(f: FileStatus): Boolean = {
    val name = f.getPath.getName
    f.isFile && !name.startsWith("_") && !name.startsWith(".")
  }
}

class SparkLakeStorage(spark: SparkSession, root: String) extends LakeStorage {

  import SparkLakeStorage.{BookIdReadSupport, LakeSchema, ManifestIndex,
    ManifestSchema, visible}

  private val lakeDir = s"$root/datalake"
  private val manifestDir = s"$root/manifest"

  private def hadoopConf = spark.sparkContext.hadoopConfiguration

  @volatile private var index = ManifestIndex(Set.empty, Array.emptyLongArray)
  private val indexLock = new Object

  override def saveBooks(books: DataFrame, ts: LocalDateTime): Unit = {
    val d = LakePaths.day(ts)
    val h = LakePaths.hour(ts)
    // Persist: the data write and the manifest write both consume
    // `books`; without a barrier the caller's upstream pipeline would run
    // twice, and a non-deterministic source could make the manifest list
    // books whose payload was never written.
    val snap = books.persist()
    try {
      val src = snap.select(col("book_id").cast("long").as("book_id"),
        col("header"), col("body"))
      // A typed flatMap, not a projection over `lit(ts)`: Spark inlines
      // timestamp literals into generated code, so every new `ts` would
      // compile the write afresh. The file schema stays the one that
      // projection wrote: only `book_id` and `text` may be null. The
      // encoder is lenient so that it takes a java.sql.Timestamp also
      // under spark.sql.datetime.java8API.enabled.
      val nullable = Map("book_id" -> src.schema("book_id").nullable,
        "text" -> Seq("header", "body").exists(src.schema(_).nullable))
      val rows = RowEncoder.encoderFor(StructType(LakeSchema.map(f =>
        f.copy(nullable = nullable.getOrElse(f.name, false)))), lenient = true)
      val at = java.sql.Timestamp.valueOf(ts)
      replace(Nil, src.flatMap(r => Seq(
          Row(r.get(0), "header", r.get(1), at, d, h),
          Row(r.get(0), "body", r.get(2), at, d, h)))(rows),
        s"$lakeDir/pdate=$d/phour=$h")
      replace(Nil, src.select(col("book_id"), lit(d).as("date"),
        lit(h).as("hour")).coalesce(1), manifestDir)
    } finally snap.unpersist()
  }

  /** Write `rows` into a fresh `{root}/_staging/<uuid>`, rename its part
    * files into `dest` (part-file names carry the write job's uuid, so they
    * never collide there), then delete the `folded` files. Returns the
    * number of rows published. Files without rows stay behind: Spark
    * writes one schema-only file even for an empty write, and an empty
    * save must not create a partition directory. */
  private def replace(folded: Seq[FileStatus], rows: DataFrame,
      dest: String): Long = {
    val staging = new Path(s"$root/_staging/${UUID.randomUUID()}")
    val fs = staging.getFileSystem(hadoopConf)
    try {
      rows.write.parquet(staging.toString)
      val target = new Path(dest)
      val parts = visibleFiles(staging).map(f => f -> rowCount(f))
        .filter(_._2 > 0)
      if (parts.nonEmpty) fs.mkdirs(target)
      parts.foreach { case (f, _) =>
        if (!fs.rename(f.getPath, new Path(target, f.getPath.getName)))
          throw new IOException(s"could not publish ${f.getPath} to $target")
      }
      folded.foreach { f =>
        if (!fs.delete(f.getPath, false) && fs.exists(f.getPath))
          throw new IOException(s"could not delete folded ${f.getPath}")
      }
      parts.map(_._2).sum
    } finally fs.delete(staging, true)
  }

  // Reads the footer only. The options come from the session's Hadoop
  // conf: the default ones build a fresh Configuration per file (~17 ms).
  private def rowCount(f: FileStatus): Long = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(f, hadoopConf),
      HadoopReadOptions.builder(hadoopConf).build())
    try reader.getRecordCount finally reader.close()
  }

  private def visibleFiles(dir: Path): Seq[FileStatus] =
    try dir.getFileSystem(hadoopConf).listStatus(dir).toSeq.filter(visible)
    catch { case _: FileNotFoundException => Seq.empty }

  /** The manifest index: (book_id, date, hour), appended after each data
    * commit. The reference's exists() cannot prune (id -> date unknown,
    * full key scan, S3DatalakeStorage.java:65-86); SURVEY §4 flags the
    * manifest table as the layout fix. This is the Delta/Iceberg
    * transaction-log idea in miniature: point/list queries read the tiny
    * index, never the payload files. Rebuildable from the lake
    * (rebuildManifest) since the two writes are not atomic together. Read
    * with the fixed schema: no footer-inference job. */
  def manifest: DataFrame = spark.read.schema(ManifestSchema).parquet(manifestDir)

  /** Recreate the manifest from lake ground truth (crash between data and
    * manifest append, or adopting a pre-manifest lake): replace the
    * manifest files listed now with the lake's body rows. Listed first, so
    * the data of every folded file is in the read. */
  def rebuildManifest(): Unit = {
    val folded = visibleFiles(new Path(manifestDir))
    replace(folded, readOrEmpty(lakeDir, LakeSchema)
      .filter(col("kind") === "body")
      .select(col("book_id"), col("date"), col("hour")), manifestDir)
  }

  /** Rewrite hour partition (`date`, `hour`) into at most `numFiles`
    * files: read exactly the files listed now and replace them. Returns
    * the number of rows compacted. */
  private[lake] def compactPartition(date: String, hour: String,
      numFiles: Int): Long = {
    val dir = s"$lakeDir/pdate=$date/phour=$hour"
    val folded = visibleFiles(new Path(dir))
    replace(folded, spark.read.schema(LakeSchema)
      .parquet(folded.map(_.getPath.toString): _*).coalesce(numFiles), dir)
  }

  /** `dir` read with a fixed schema (no footer-inference job), or an empty
    * frame of that schema while `dir` does not exist. */
  private def readOrEmpty(dir: String, schema: StructType): DataFrame =
    if (dirExists(dir)) spark.read.schema(schema).parquet(dir)
    else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** The index snapshot, brought up to date with a fresh listing of the
    * manifest (see the class doc). */
  private def currentIndex(): ManifestIndex = {
    val seen = index
    if (manifestFiles() == seen.files) seen
    else indexLock.synchronized {
      // list again under the lock: a fold that finished while this call
      // waited may already cover the files it listed
      var listed = manifestFiles()
      while (listed != index.files) {
        val cur = index
        try index =
          if (cur.files.subsetOf(listed))
            ManifestIndex(listed,
              (cur.ids ++ readIds(listed -- cur.files)).sorted.distinct)
          else ManifestIndex(listed, readIds(listed).sorted.distinct)
        catch {
          // a replace deleted a listed file after renaming in the files
          // that hold its rows: a fresh listing has those
          case _: FileNotFoundException => listed = manifestFiles()
        }
      }
      index
    }
  }

  private def manifestFiles(): Set[String] =
    visibleFiles(new Path(manifestDir)).map(_.getPath.toString).toSet

  /** The `book_id`s of `files`, read on the driver. */
  private def readIds(files: Set[String]): Array[Long] = {
    val ids = Array.newBuilder[Long]
    val conf = new HadoopParquetConfiguration(hadoopConf)
    files.foreach { f =>
      val reader = new ParquetReader.Builder[Group](
          HadoopInputFile.fromPath(new Path(f), hadoopConf), conf) {
        override def getReadSupport: ReadSupport[Group] = BookIdReadSupport
      }.build()
      try Iterator.continually(reader.read()).takeWhile(_ != null)
        .filter(_.getFieldRepetitionCount(0) > 0)
        .foreach(g => ids += g.getLong(0, 0))
      finally reader.close()
    }
    ids.result()
  }

  override def exists(bookId: Long): Boolean =
    java.util.Arrays.binarySearch(currentIndex().ids, bookId) >= 0

  // Manifest-backed: reads the tiny manifest snapshot, never the data
  // files — a listing over a 100 TB lake stays a metadata operation.
  override def listBooksDF: DataFrame =
    readOrEmpty(manifestDir, ManifestSchema)
      .select(col("book_id")).distinct().orderBy(col("book_id"))

  override def listBooks(): Seq[Long] =
    ArraySeq.unsafeWrapArray(currentIndex().ids)

  override def lake: DataFrame =
    spark.read.parquet(lakeDir).drop("pdate", "phour")

  override def health: Map[String, String] =
    Map("status" -> "ok", "backend" -> "spark-parquet", "location" -> root)

  /** Scheme-agnostic existence check through the Hadoop FileSystem API —
    * `root` may be any registered filesystem (file://, hdfs://, s3a://…),
    * the adapter never assumes a local path. This is the repo's answer to
    * the reference's S3-only adapter (S3DatalakeStorage.java:33-140): the
    * object-store backend is a URI scheme + classpath concern, not a code
    * path. */
  private def dirExists(dir: String): Boolean = {
    val p = new Path(dir)
    p.getFileSystem(hadoopConf).exists(p)
  }
}

/** In-memory adapter — realizes the reference README's envisioned
  * `MockStorageAdapter` (/root/reference/README.md:27-34, which the
  * reference never implements): same port, a concurrent map instead of a
  * store, for fast hermetic tests. */
class InMemoryLakeStorage(spark: SparkSession) extends LakeStorage {

  // (book_id, kind) -> (text, ts)
  private val store = TrieMap.empty[(Long, String), (String, LocalDateTime)]

  override def saveBooks(books: DataFrame, ts: LocalDateTime): Unit =
    books.select(col("book_id").cast("long"), col("header"), col("body"))
      .collect()
      .foreach { r =>
        store.put((r.getLong(0), "header"), (r.getString(1), ts))
        store.put((r.getLong(0), "body"), (r.getString(2), ts))
      }

  override def exists(bookId: Long): Boolean =
    store.contains((bookId, "body"))

  override def listBooks(): Seq[Long] =
    store.keys.collect { case (id, "body") => id }.toSeq.distinct.sorted

  override def health: Map[String, String] =
    Map("status" -> "ok", "backend" -> "memory", "location" -> "in-memory")

  override def lake: DataFrame = {
    import spark.implicits._
    store.toSeq.map { case ((id, kind), (text, ts)) =>
      (id, kind, text, java.sql.Timestamp.valueOf(ts),
        LakePaths.day(ts), LakePaths.hour(ts))
    }.toDF("book_id", "kind", "text", "ts", "date", "hour")
  }
}
