package graft

/** Plan auditor: prints the formatted physical plan of selected queries
  * (all by default) against a fixture dir — the review loop for scale
  * hygiene: pushed filters, pruned read schemas, broadcast vs shuffle
  * joins, whole-stage codegen spans.
  *
  * Usage: runMain graft.Explain [sfDir] [query ...]
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    LedgerRunner.run("graft-explain") { spark =>
      names.foreach { name =>
        SparkEntry.queries.get(name) match {
          case Some(fn) =>
            println(s"\n========== $name ==========")
            try println(fn(spark, sfDir).queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode))
            catch { case e: Throwable =>
              println(s"EXPLAIN FAILED: ${e.getMessage}")
            }
          case None => println(s"\n========== $name: UNKNOWN ==========")
        }
      }
    }
  }
}
