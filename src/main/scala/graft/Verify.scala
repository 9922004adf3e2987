package graft
import java.nio.file.{Files, Paths}
import org.apache.hadoop.fs.FileUtil
import graft.lake.IngestHttpServer.jstr
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Reliable-anchor posture, unlike Bench (which sets no checkpoint dir
    // so its timings price plans, not the checkpoint store): Anchor.cut
    // takes the checkpoint() path a cluster deployment runs, tmpfs-backed
    // when available.
    val ckptBase = java.nio.file.Paths.get("/dev/shm")
    val ckptDir =
      if (java.nio.file.Files.isDirectory(ckptBase) &&
          java.nio.file.Files.isWritable(ckptBase))
        java.nio.file.Files.createTempDirectory(ckptBase, "graft-ckpt")
      else java.nio.file.Files.createTempDirectory("graft-ckpt")
    LedgerRunner.run("graft-verify") { spark =>
      spark.sparkContext.setCheckpointDir(ckptDir.toString)
      new java.io.File(outDir).mkdirs()
      // The oracle file goes first, so a run that fails or is killed
      // part-way still leaves every oracle for check_oracle.py.
      val json = SparkEntry.oracleSql
        .map { case (k, v) => s"${jstr(k)}: ${jstr(v)}" }.mkString("{", ",", "}")
      Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
      // check_oracle.py prints MISSING for the queries a focused run
      // (SPARK_GRAFT_ONLY) skips, so such a run reads per-query lines,
      // not the trailing N/N summary.
      LedgerRunner.select(LedgerRunner.only).foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    }
    FileUtil.fullyDelete(ckptDir.toFile)
  }
}
