package graft.lake

import java.nio.file.Files
import java.time.LocalDateTime

import graft.SparkSpec

/** Compaction: collapses a partition's small files without changing its
  * data or touching sibling partitions. */
class LakeMaintenanceSpec extends SparkSpec {

  test("compactPartition merges files, preserves rows, isolates partitions") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-compact-").toFile.getAbsolutePath
    val storage = new SparkLakeStorage(spark, root)
    val ts1 = LocalDateTime.of(2026, 4, 1, 6, 0)
    val ts2 = LocalDateTime.of(2026, 4, 1, 7, 0) // sibling hour

    // three appends into hour 06 -> several small files
    (1 to 3).foreach { i =>
      storage.saveBooks(
        Seq((i.toLong, s"h$i", s"b$i")).toDF("book_id", "header", "body"), ts1)
    }
    storage.saveBooks(
      Seq((9L, "h9", "b9")).toDF("book_id", "header", "body"), ts2)

    def files(hour: String) =
      new java.io.File(s"$root/datalake/pdate=20260401/phour=$hour")
        .listFiles().count(_.getName.endsWith(".parquet"))
    val before = files("06")
    assert(before >= 3)
    val siblingBefore = files("07")
    val lakeBefore = storage.lake.orderBy("book_id", "kind")
      .collect().map(_.toSeq).toSeq

    val rows = LakeMaintenance.compactPartition(spark, root, "20260401", "06")
    assert(rows == 6) // 3 books x header+body

    assert(files("06") == 1)
    assert(files("07") == siblingBefore) // untouched
    val lakeAfter = storage.lake.orderBy("book_id", "kind")
      .collect().map(_.toSeq).toSeq
    assert(lakeAfter == lakeBefore)
    assert(storage.listBooks() == Seq(1L, 2L, 3L, 9L))
  }

  test("compactPartition and rebuildManifest release their reliable " +
      "snapshot anchors after the overwrite commits") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft-compact-rel-")
      .toFile.getAbsolutePath
    val storage = new SparkLakeStorage(spark, root)
    val ts = LocalDateTime.of(2026, 4, 2, 6, 0)
    (1 to 2).foreach { i =>
      storage.saveBooks(
        Seq((i.toLong, s"h$i", s"b$i")).toDF("book_id", "header", "body"), ts)
    }
    val ckpt = Files.createTempDirectory("graft-ckpt-lake")
    spark.sparkContext.setCheckpointDir(ckpt.toString)
    def rddDirs: Seq[String] = {
      import scala.jdk.CollectionConverters._
      Files.walk(ckpt).iterator().asScala
        .filter(p => Files.isDirectory(p) &&
          p.getFileName.toString.startsWith("rdd-"))
        .map(_.toString).toSeq
    }
    try {
      // without release, each maintenance run would permanently leak a
      // full partition copy into the checkpoint store
      // (cleanCheckpoints is off by default)
      assert(LakeMaintenance.compactPartition(
        spark, root, "20260402", "06") == 4)
      assert(rddDirs.isEmpty, s"compaction leaked anchors: $rddDirs")
      storage.rebuildManifest()
      assert(rddDirs.isEmpty, s"manifest rebuild leaked anchors: $rddDirs")
      assert(storage.listBooks() == Seq(1L, 2L))
    } finally {
      spark.sparkContext.setCheckpointDir(null)
    }
  }

  private def saveOne(storage: SparkLakeStorage, id: Long,
      ts: LocalDateTime): Unit = {
    import spark.implicits._
    storage.saveBooks(
      Seq((id, s"h$id", s"b$id")).toDF("book_id", "header", "body"), ts)
  }

  test("compactPartition folds only the files it listed: saves into the " +
      "hour it compacts all land exactly once") {
    import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.DurationInt
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val root = Files.createTempDirectory("graft-compact-race-")
      .toFile.getAbsolutePath
    val storage = new SparkLakeStorage(spark, root)
    val ts = LocalDateTime.of(2026, 4, 3, 6, 0)
    (1L to 3L).foreach(saveOne(storage, _, ts))
    val hourDir = new java.io.File(s"$root/datalake/pdate=20260403/phour=06")
    def rowsPerFile: Seq[Long] = hourDir.listFiles().toSeq
      .filter(_.getName.endsWith(".parquet")).map { f =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.getPath),
          spark.sparkContext.hadoopConfiguration))
        try reader.getRecordCount finally reader.close()
      }
    val done = new AtomicBoolean(false)
    val nextId = new AtomicLong(100L)
    val exec = java.util.concurrent.Executors.newSingleThreadExecutor()
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(exec)
    try {
      // one book per save: each save's data file holds 2 rows
      val saver = Future {
        while (!done.get) saveOne(storage, nextId.getAndIncrement(), ts)
      }
      // at least 3 compactions, and at least 5 saves while they run
      var compactions = 0
      try while (compactions < 3 ||
          (nextId.get < 105L && !saver.isCompleted)) {
        val rows = LakeMaintenance.compactPartition(
          spark, root, "20260403", "06")
        compactions += 1
        // every earlier file was listed and folded into the one output
        // file, which holds more rows than any save's file
        assert(rowsPerFile.filter(_ > 2) == Seq(rows))
      } finally done.set(true)
      Await.result(saver, 120.seconds)
    } finally exec.shutdown()
    val saved = (1L to 3L) ++ (100L until nextId.get)
    assert(storage.listBooks() == saved)
    val perId = storage.lake.groupBy("book_id", "kind").count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2))
      .toMap
    assert(perId == saved.flatMap(i =>
      Seq((i, "header") -> 1L, (i, "body") -> 1L)).toMap)
  }

  test("a compaction and a manifest rebuild each run one Spark job; a " +
      "save runs two") {
    val root = Files.createTempDirectory("graft-compact-jobs-")
      .toFile.getAbsolutePath
    val storage = new SparkLakeStorage(spark, root)
    val ts = LocalDateTime.of(2026, 4, 4, 6, 0)
    saveOne(storage, 1L, ts)
    val saveJobs = SparkJobs.started(spark)(saveOne(storage, 2L, ts))
    assert(saveJobs.size == 2, saveJobs)
    var rows = 0L
    val compactJobs = SparkJobs.started(spark) {
      rows = LakeMaintenance.compactPartition(spark, root, "20260404", "06")
    }
    assert(compactJobs.size == 1, compactJobs)
    assert(rows == 4)
    val rebuildJobs = SparkJobs.started(spark)(storage.rebuildManifest())
    assert(rebuildJobs.size == 1, rebuildJobs)
    assert(storage.listBooks() == Seq(1L, 2L))
    // an hour with no files: nothing to fold, no directory made
    assert(LakeMaintenance.compactPartition(spark, root, "20260404", "07") == 0)
    assert(!new java.io.File(s"$root/datalake/pdate=20260404/phour=07").exists())
  }
}
