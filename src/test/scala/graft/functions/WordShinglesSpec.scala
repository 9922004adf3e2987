package graft.functions

import graft.SparkSpec
import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._

/** graft_shingles must be BITWISE the builtin composition it replaces —
  * the dedup oracles (d02/d03/d04, t04, t05, t09, p02) all hash-compare
  * through it. */
class WordShinglesSpec extends SparkSpec {

  private def builtin(n: Int) =
    TextAnalysis.shingles(TextAnalysis.tokens(col("text")), n)

  private def parity(texts: Seq[String], n: Int): Unit = {
    import spark.implicits._
    val df = texts.toDF("text")
    val both = df.select(
      builtin(n).as("b"), TextFns.wordShingles(col("text"), n).as("c"))
      .collect()
    both.zip(texts).foreach { case (r, t) =>
      assert(r.getSeq[String](0) == r.getSeq[String](1),
        s"mismatch on ${t.take(40)}... n=$n: ${r.getSeq[String](0)} vs " +
          s"${r.getSeq[String](1)}")
    }
  }

  test("matches the builtin transform/slice/array_join composition") {
    val texts = Seq(
      "alpha beta gamma delta",
      "one two",
      "single",
      "",
      "   ",
      "  padded   with   runs  ",
      "tab\tseparated\ttokens",
      "newline\nsplit\ntokens",
      "unicode café naïve 中文 token")
    parity(texts, 2)
    parity(texts, 3)
    parity(texts, 5)
  }

  test("matches the builtin on real fixture documents") {
    val docs = graft.Tables.documents(spark, "/root/testdata/sf0.001")
    val diff = docs.select(
      builtin(3).as("b"),
      TextFns.wordShingles(col("text"), 3).as("c"))
      .filter(not(col("b") === col("c")))
      .count()
    assert(diff == 0)
  }

  test("registers as graft_shingles for SQL texts") {
    import spark.implicits._
    Seq("a b c").toDF("text").createOrReplaceTempView("shingle_probe")
    val r = spark.sql(
      "SELECT graft_shingles(text, 2) AS s FROM shingle_probe")
      .head().getSeq[String](0)
    assert(r == Seq("a b", "b c"))
  }

  test("null text yields null (deliberate divergence from the builtin)") {
    import spark.implicits._
    // the builtin composition leaks `[null]` for null text (the otherwise
    // branch wraps array_join(null)); the native expression propagates
    // null like every other scalar function. Production inputs are
    // non-null text columns, where the two are bitwise identical.
    val df = Seq(Some("a b"), None).toDF("text")
    val rows = df.select(
      builtin(2).as("b"), TextFns.wordShingles(col("text"), 2).as("c"))
      .collect()
    assert(!rows(1).isNullAt(0), "builtin quirk: [null], not null")
    assert(rows(1).isNullAt(1), "native expression must propagate null")
    assert(rows(0).getSeq[String](1) == Seq("a b"))
  }

  test("survives whole-stage codegen (exploded downstream agg)") {
    import spark.implicits._
    val df = Seq("x y z x y").toDF("text")
    val n = df.select(explode(TextFns.wordShingles(col("text"), 2)).as("s"))
      .groupBy(col("s")).count().count()
    assert(n == 3) // "x y" twice, "y z", "z x"
  }
}
