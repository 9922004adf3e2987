package graft.lake

import graft.SparkSpec

/** Compaction planner: deterministic cumulative binning, per-partition
  * independence, near-target bin sizes. */
class CompactionSpec extends SparkSpec {

  import spark.implicits._

  test("bins pack files in order up to the target, per partition") {
    val files = Seq(
      ("p1", "f1", 3000L), ("p1", "f2", 3000L),
      ("p1", "f3", 3000L), ("p1", "f4", 3000L),
      ("p2", "f1", 9000L), ("p2", "f2", 100L)
    ).toDF("pmonth", "file_id", "n_rows")
    val out = Compaction.planBins(files, "pmonth", 5000L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(3)))
      .toSet
    // p1 cum-before: 0,3000,6000,9000 → bins 0,0,1,1
    // p2 cum-before: 0,9000 → bins 0,1 (binning restarts per partition)
    assert(out == Set(("p1", "f1", 0L), ("p1", "f2", 0L),
      ("p1", "f3", 1L), ("p1", "f4", 1L),
      ("p2", "f1", 0L), ("p2", "f2", 1L)))
  }

  test("planner drives the executor: bins become files, content unchanged") {
    import java.time.LocalDateTime
    val root = tempDir("graft-planexec-")
      .toFile.getAbsolutePath
    val storage = new SparkLakeStorage(spark, root)
    val h6 = LocalDateTime.of(2026, 5, 2, 6, 0)
    val h7 = LocalDateTime.of(2026, 5, 2, 7, 0)
    // five appends into hour 06 (10 rows over >= 5 small files), one
    // into hour 07 (already at its planned single file)
    (1 to 5).foreach { i =>
      storage.saveBooks(
        Seq((i.toLong, s"h$i", s"b$i")).toDF("book_id", "header", "body"), h6)
    }
    storage.saveBooks(
      Seq((9L, "h9", "b9")).toDF("book_id", "header", "body"), h7)

    def files(hour: String) =
      new java.io.File(s"$root/datalake/pdate=20260502/phour=$hour")
        .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files("06") >= 5)
    val h7Before = files("07")
    def contentHash() = storage.lake
      .orderBy("book_id", "kind").collect().map(_.toSeq).toSeq
    val before = contentHash()

    // target 4 rows/bin: hour 06 holds 10 rows -> planned bins
    // ceil-free cumulative packing = 3 (cum-before 0..8 div 4 -> 0,0,1,1,2)
    val done = LakeMaintenance.compactByPlan(spark, root, targetRows = 4L)
    assert(done == Map(("20260502", "06") -> 3))
    assert(files("06") == 3) // file count = planned bin count
    assert(files("07") == h7Before) // already compact: skipped, untouched
    assert(contentHash() == before) // rewrite changed layout, not data

    // idempotence: re-running the maintenance pass finds nothing to do
    assert(LakeMaintenance.compactByPlan(spark, root, 4L).isEmpty)
  }

  test("streamed micro-batches then plan-driven maintenance: end to end") {
    // the lifecycle a real lake lives: streaming ingest drips small
    // files into one hour partition, the maintenance pass compacts them
    // per plan, and readers + the port API see identical data throughout
    import java.time.LocalDateTime
    implicit val sqlCtx = spark.sqlContext
    val The = MarkerSplit.StartMarkers(0)
    val EndThe = MarkerSplit.EndMarkers(0)
    val root = tempDir("graft-stream-compact-")
      .toFile.getAbsolutePath
    val storage = new SparkLakeStorage(spark, root)
    val ckpt = tempDir("graft-ckpt-")
      .toFile.getAbsolutePath
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val q = graft.streaming.StreamingIngest.start(
      input.toDF().toDF("book_id", "text"), storage, ckpt,
      () => LocalDateTime.of(2026, 6, 3, 8, 0))
    try {
      (1 to 4).foreach { i =>
        input.addData((i.toLong, s"intro\n$The ***\nbook $i\n$EndThe ***"))
        q.processAllAvailable() // one micro-batch -> one small append
      }
    } finally q.stop()
    def files() =
      new java.io.File(s"$root/datalake/pdate=20260603/phour=08")
        .listFiles().count(_.getName.endsWith(".parquet"))
    assert(files() >= 4)
    val before = storage.lake.orderBy("book_id", "kind")
      .collect().map(_.toSeq).toSeq
    // 4 books x 2 rows, target 6 -> cum-before 0,2,4,6 -> bins 0,0,0,1
    val done = LakeMaintenance.compactByPlan(spark, root, targetRows = 6L)
    assert(done == Map(("20260603", "08") -> 2))
    assert(files() == 2)
    val after = storage.lake.orderBy("book_id", "kind")
      .collect().map(_.toSeq).toSeq
    assert(after == before)
    assert(storage.listBooks() == Seq(1L, 2L, 3L, 4L))
    assert(storage.exists(3L) && !storage.exists(9L))
  }

  test("demo rollup equals an independent driver-side recomputation") {
    val orders = graft.Tables.orders(spark, "/root/testdata/sf0.01")
    val got = Compaction.orderFileCompaction(orders, targetRows = 500L)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        (r.getAs[Long]("n_files"), r.getAs[Long]("bin_rows"),
          r.getAs[String]("first_file"), r.getAs[String]("last_file")))
      .toMap
    // independent scalar recomputation of the same greedy binning
    val days = orders
      .groupBy(org.apache.spark.sql.functions.date_format(
        org.apache.spark.sql.functions.col("o_orderdate"), "yyyy-MM-dd")
        .as("day"))
      .count().collect()
      .map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    val binned = days.toSeq.groupBy(_._1.take(7)).toSeq
      .flatMap { case (month, fs) =>
        var cum = 0L
        fs.sortBy(_._1).map { case (day, n) =>
          val bin = cum / 500L; cum += n; (month, bin, day, n)
        }
      }
    val expected = binned.groupBy(t => (t._1, t._2)).map { case (k, g) =>
      val ds = g.map(_._3)
      k -> ((g.size.toLong, g.map(_._4).sum, ds.min, ds.max))
    }
    assert(got == expected)
  }
}
