package graft.lake

import graft.SparkSpec
import org.apache.spark.sql.Row

/** Edge cases of the reference's split semantics
  * (IngestionService.java:55-60,108-132) — SURVEY §5 item 1. */
class MarkerSplitSpec extends SparkSpec {

  private val The = MarkerSplit.StartMarkers(0)
  private val This = MarkerSplit.StartMarkers(1)
  private val EndThe = MarkerSplit.EndMarkers(0)
  private val EndThis = MarkerSplit.EndMarkers(1)

  private def split(text: String): Row = {
    import spark.implicits._
    MarkerSplit.withSplit(Seq((1L, text)).toDF("id", "text"))
      .select("split_ok", "header", "body").head()
  }

  test("THE variant: header keeps the marker, body is between markers") {
    val r = split(s"intro\n$The X ***\nBODY TEXT\n$EndThe X ***\ntail")
    assert(r.getBoolean(0))
    // s points AFTER the start marker -> header includes it (ref :59)
    assert(r.getString(1) == s"intro\n$The")
    assert(r.getString(2) == "X ***\nBODY TEXT")
  }

  test("THIS variant is recognized") {
    val r = split(s"pre $This ***\nbody\n$EndThis ***")
    assert(r.getBoolean(0))
    assert(r.getString(1).endsWith(This))
    assert(r.getString(2) == "***\nbody")
  }

  test("missing start marker rejects") {
    val r = split(s"no start here\n$EndThe ***")
    assert(!r.getBoolean(0) && r.isNullAt(1) && r.isNullAt(2))
  }

  test("missing end marker rejects") {
    val r = split(s"$The ***\nbody only")
    assert(!r.getBoolean(0))
  }

  test("end before start rejects (e <= s)") {
    val r = split(s"$EndThe ***\nthen\n$The ***")
    assert(!r.getBoolean(0))
  }

  test("plain text with no markers rejects") {
    assert(!split("just some plain text").getBoolean(0))
  }

  test("last end marker wins when several occur") {
    val r = split(s"$The\nbody A\n$EndThe\nbody B\n$EndThe\nfin")
    assert(r.getBoolean(0))
    assert(r.getString(2) == s"body A\n$EndThe\nbody B")
  }

  test("earliest start marker wins when both variants occur") {
    val r = split(s"$This first\n$The second\nbody\n$EndThe")
    assert(r.getBoolean(0))
    // THIS occurs first -> header ends with THIS, body starts after it
    assert(r.getString(1) == This)
    assert(r.getString(2) == s"first\n$The second\nbody")
  }

  test("whitespace (incl newlines) trimmed from header and body") {
    val r = split(s"  \n$The \n\t body \n\r $EndThe")
    assert(r.getBoolean(0))
    assert(r.getString(1) == The)
    assert(r.getString(2) == "body")
  }

  /** The split as one `withColumn` per column: the reference for the
    * plan of [[MarkerSplit.withSplit]]. */
  private def stepwiseSplit(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions._
    val t = col("text")
    df.withColumn("_s", MarkerSplit.startPos(t))
      .withColumn("_e", MarkerSplit.endPos(t))
      .withColumn("split_ok",
        col("_s") >= 0 && col("_e") >= 0 && col("_e") > col("_s"))
      .withColumn("header", when(col("split_ok"),
        trim(t.substr(lit(1), col("_s")), " \t\n\r")))
      .withColumn("body", when(col("split_ok"),
        trim(t.substr(col("_s") + 1, col("_e") - col("_s")), " \t\n\r")))
      .drop("_s", "_e")
  }

  /** The optimized plans of `split` and of the save's selection from it,
    * expression ids and plan ids blanked. */
  private def plans(split: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.functions.col
    Seq(split, split.filter(col("split_ok"))
        .select(col("book_id"), col("header"), col("body")))
      .map(_.queryExecution.optimizedPlan.toString
        .replaceAll("#\\d+L?", "").replaceAll("plan_id=\\d+", ""))
  }

  test("the split optimizes to the plan of one withColumn per column, on " +
      "the bulk ingest's input and on a stream's micro-batch") {
    import spark.implicits._
    // the bulk ingest's input: documents fetched in tasks
    val (start, end) = (The, EndThe) // locals: the suite does not serialize
    val fetched = spark.createDataset(spark.sparkContext.parallelize(1L to 4L, 2))
      .mapPartitions(_.map(id => (id, s"$start ***\nbook $id\n$end")))
      .toDF("book_id", "text")
    assert(plans(MarkerSplit.withSplit(fetched)) == plans(stepwiseSplit(fetched)))
    assert(plans(MarkerSplit.withSplit(fetched)).head.contains("AS split_ok"))
    // a micro-batch, as StreamingIngest's foreachBatch receives it
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(Seq[String], Seq[String])]()
    val q = input.toDF().toDF("book_id", "text").writeStream
      .option("checkpointLocation", tempDir("graft-split-plan-").toString)
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        seen.add(plans(MarkerSplit.withSplit(batch)) -> plans(stepwiseSplit(batch)))
        ()
      }
      .start()
    try {
      input.addData((5L, s"$The ***\nfive\n$EndThe"), (6L, "no markers"))
      q.processAllAvailable()
    } finally q.stop()
    assert(!seen.isEmpty)
    seen.forEach { case (compact, stepwise) => assert(compact == stepwise) }
  }
}
