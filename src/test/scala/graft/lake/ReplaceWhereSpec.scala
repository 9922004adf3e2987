package graft.lake

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._

/** l15's dynamic-partition-overwrite contract at the FILE level: the
  * mode replaces exactly the partitions present in the incoming write
  * and must not touch any other partition's files — the property that
  * separates `partitionOverwriteMode=dynamic` from a whole-table
  * overwrite (which this spec would catch as every file changing). */
class ReplaceWhereSpec extends graft.SparkSpec {

  private def partFiles(root: Path): Map[String, Set[String]] = {
    import scala.jdk.CollectionConverters._
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet"))
      .toSeq
      .groupBy(p => root.relativize(p).getName(0).toString)
      .map { case (part, ps) =>
        part -> ps.map(p =>
          s"${p.getFileName}:${Files.getLastModifiedTime(p)}").toSet
      }
  }

  test("dynamic overwrite replaces ONLY the written partition's files") {
    import spark.implicits._
    val dir = tempDir("graft-rw-spec-")
    val lake = dir.resolve("lake")
    val base = Seq(
      (1L, 10.0, "1-URGENT"), (2L, 20.0, "2-HIGH"),
      (3L, 30.0, "1-URGENT"), (4L, 40.0, "3-MEDIUM"))
      .toDF("o_orderkey", "o_totalprice", "o_orderpriority")
    base.write.partitionBy("o_orderpriority").parquet(lake.toString)
    val before = partFiles(lake)
    base.filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey"),
        (col("o_totalprice") * 0.9).as("o_totalprice"),
        col("o_orderpriority"))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("o_orderpriority").parquet(lake.toString)
    val after = partFiles(lake)
    // the untouched partitions keep their exact files (name + mtime)
    Seq("o_orderpriority=2-HIGH", "o_orderpriority=3-MEDIUM").foreach {
      p => assert(after(p) == before(p), s"$p was rewritten")
    }
    // the replaced partition's files are new
    assert(after("o_orderpriority=1-URGENT") !=
      before("o_orderpriority=1-URGENT"))
    // and the table state is the replace-where semantics exactly
    val got = spark.read.parquet(lake.toString)
      .select(col("o_orderkey"), col("o_totalprice"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(got == Map(1L -> 9.0, 2L -> 20.0, 3L -> 27.0, 4L -> 40.0))
  }
}
