package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val spark = Graft.session("graft-verify", s"local[$cpus]", cpus)
    spark.sparkContext.setLogLevel("WARN")
    // Reliable-anchor posture, matching Bench: Anchor.cut takes the
    // checkpoint() path a cluster deployment runs (tmpfs-backed when
    // available — see Bench).
    val ckptBase = java.nio.file.Paths.get("/dev/shm")
    val ckptDir =
      if (java.nio.file.Files.isDirectory(ckptBase) &&
          java.nio.file.Files.isWritable(ckptBase))
        java.nio.file.Files.createTempDirectory(ckptBase, "graft-ckpt")
      else java.nio.file.Files.createTempDirectory("graft-ckpt")
    spark.sparkContext.setCheckpointDir(ckptDir.toString)
    new java.io.File(outDir).mkdirs()
    // Optional comma-separated allowlist for focused iteration (matches
    // Bench's knob); absent — the driver's invocation — dumps everything.
    // check_oracle.py prints MISSING for undumped queries, so a filtered
    // run reads per-query lines, not the trailing N/N summary.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val queries = only.fold(SparkEntry.queries)(names =>
      SparkEntry.queries.filter { case (k, _) => names(k) })
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    graft.operators.Similarity.clearSharedGraphs(spark)
    spark.stop()
    def deleteRec(p: java.io.File): Unit = {
      Option(p.listFiles).foreach(_.foreach(deleteRec))
      p.delete(): Unit
    }
    deleteRec(ckptDir.toFile)
  }
}
