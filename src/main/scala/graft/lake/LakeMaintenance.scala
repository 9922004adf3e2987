package graft.lake

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Lake maintenance: partition compaction.
  *
  * Streaming/micro-batch ingest (StreamingIngest, IngestService) appends
  * a few files per trigger; at 100 TB the resulting small-files problem
  * dominates scan cost (file-listing latency, per-file open overhead,
  * under-filled row groups that defeat min/max pruning). Compaction
  * rewrites one time-partition into `numFiles` right-sized files through
  * the storage's publish protocol ([[SparkLakeStorage]]): it lists the
  * partition's files, reads exactly those, stages the rewrite, renames it
  * in, then deletes the files it read. Other partitions, and saves that
  * land in the partition during the rewrite, are untouched. Between the
  * rename and the deletes, readers see the compacted rows twice, never
  * missing. One compaction per partition at a time.
  */
object LakeMaintenance {

  /** Rewrite partition (date, hour) of the lake at `root` into
    * `numFiles` files. Returns the number of rows compacted. */
  def compactPartition(spark: SparkSession, root: String, date: String,
      hour: String, numFiles: Int = 1): Long = {
    require(numFiles > 0, "numFiles must be positive")
    new SparkLakeStorage(spark, root).compactPartition(date, hour, numFiles)
  }

  /** Plan-driven whole-lake compaction: [[Compaction.planBins]] over the
    * lake's REAL file inventory decides how many right-sized files each
    * (pdate, phour) partition should hold; [[compactPartition]] executes
    * each partition's plan.
    *
    * A partition qualifies only when it holds at least two UNDERSIZED
    * files (n_rows < targetRows) — the min-file-size rule every OPTIMIZE
    * implementation applies. Files at or above the target are right-sized
    * and never rewritten, so the pass is a fixpoint: re-running
    * maintenance on an already-compacted lake does nothing (asserted in
    * CompactionSpec), instead of churning files whose boundaries repack
    * into fewer bins each run.
    *
    * Scale shape: the inventory is one distributed scan grouped by
    * (partition, input_file_name) — row counts per file, never row data —
    * and the plan that reaches the driver is FILE METADATA (one row per
    * partition), the same thing every OPTIMIZE coordinator schedules
    * from; each partition rewrite is then an independent distributed
    * job touching only that partition's files. Original file boundaries
    * dissolve on rewrite, so the plan's binding output is the bin COUNT
    * per partition (= output file count at the target size); which old
    * file lands in which bin is the planner's sizing evidence, not a
    * physical constraint on the writer.
    *
    * Returns (pdate, phour) → planned file count for the partitions it
    * rewrote. */
  def compactByPlan(spark: SparkSession, root: String,
      targetRows: Long): Map[(String, String), Int] = {
    val lakeDir = s"$root/datalake"
    // a file's `date`/`hour` columns equal its pdate/phour labels
    val inventory = spark.read.schema(SparkLakeStorage.LakeSchema)
      .parquet(lakeDir)
      .groupBy(col("date"), col("hour"), input_file_name().as("file_id"))
      .agg(count(lit(1)).as("n_rows"))
      // ' ' cannot occur in date/hour (digit strings), so the
      // composite key is collision-free
      .withColumn("pkey", concat_ws(" ", col("date"), col("hour")))
    val plan = Compaction.planBins(inventory, "pkey", targetRows)
      .groupBy(col("pkey"))
      .agg((max(col("bin_id")) + 1).cast("int").as("n_bins"),
        count(lit(1)).cast("int").as("n_files"),
        sum(when(col("n_rows") < targetRows, 1)
          .otherwise(0)).cast("int").as("n_small"))
    val todo = plan.collect().toSeq
      .map { r =>
        val Array(date, hour) = r.getAs[String]("pkey").split(' ')
        (date, hour, r.getAs[Int]("n_bins"), r.getAs[Int]("n_files"),
          r.getAs[Int]("n_small"))
      }
      .filter { case (_, _, bins, files, small) =>
        files > bins && small >= 2 }
      .sortBy { case (date, hour, _, _, _) => (date, hour) }
    todo.map { case (date, hour, bins, _, _) =>
      compactPartition(spark, root, date, hour, bins)
      (date, hour) -> bins
    }.toMap
  }
}
