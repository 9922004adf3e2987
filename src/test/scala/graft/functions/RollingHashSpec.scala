package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** graft_rollhash must equal the NAIVE direct computation (hash every
  * window from scratch) — the rolling recurrence is the optimization
  * under test, so the reference is the formula, not the code. */
class RollingHashSpec extends SparkSpec {

  /** Direct O(n·w) reference: Horner over each window's token hashes. */
  private def naive(text: String, w: Int): Seq[Long] = {
    val M = RollHashUtil.M
    def tokHash(s: String): Long = {
      var h = 0L
      var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        h = (h * 31 + cp) % M
        i += Character.charCount(cp)
      }
      h
    }
    // strip only ASCII space 0x20, matching UTF8String.trim in
    // production (String.trim would also strip tabs/newlines and
    // diverge on a leading-tab input)
    val stripped =
      text.dropWhile(_ == ' ').reverse.dropWhile(_ == ' ').reverse
    val toks = stripped.split("\\s+", -1).toSeq
    val th = toks.map(tokHash)
    val ww = math.min(w, th.length)
    val windows =
      if (th.length >= w) th.sliding(w).toSeq else Seq(th)
    windows.map(_.foldLeft(0L)((a, b) => (a * RollHashUtil.B + b) % M))
      .take(if (th.length >= w) th.length - w + 1 else 1)
  }

  private val adversarial = Seq(
    "alpha beta gamma delta epsilon zeta eta",
    "  leading and   multiple   spaces\ttabs\nnewlines  ",
    "\tleading tab and trailing newline\n", // non-0x20 edges stay
    "a", "", "   ",
    "short doc", // fewer tokens than the window
    "exactly five tokens in here",
    "répeated répeated répeated répeated répeated répeated", // BMP accents
    "漢字 漢字 mixed ascii 漢字 tokens here", // Han
    "astral 😀 emoji 😀 tokens 😀 here ok", // U+1F600
    "x y x y x y x y x y x y") // periodic: distinct windows, equal hashes

  test("rolling equals the naive direct formula on adversarial inputs") {
    import spark.implicits._
    for (w <- Seq(1, 2, 5, 8)) {
      val got = adversarial.toDF("text")
        .select(RollFns.rollingHash(col("text"), w).as("h"))
        .collect().map(_.getSeq[Long](0))
      got.zip(adversarial).foreach { case (g, t) =>
        assert(g == naive(t, w),
          s"w=$w text='${t.take(30)}': $g vs ${naive(t, w)}")
      }
    }
  }

  test("short docs collapse to one whole-doc hash; null propagates") {
    import spark.implicits._
    val short = Seq("a b").toDF("text")
      .select(RollFns.rollingHash(col("text"), 5).as("h"))
      .collect().head.getSeq[Long](0)
    assert(short.length == 1)
    val empty = Seq("").toDF("text")
      .select(RollFns.rollingHash(col("text"), 5).as("h"))
      .collect().head.getSeq[Long](0)
    assert(empty == Seq(0L)) // split("") = [""], tokenHash("") = 0
    val n = Seq(Option.empty[String]).toDF("text")
      .select(RollFns.rollingHash(col("text"), 5).as("h"))
      .collect().head
    assert(n.isNullAt(0))
  }

  test("every hash is in [0, M) and periodic text collides as designed") {
    import spark.implicits._
    val hs = adversarial.toDF("text")
      .select(explode(RollFns.rollingHash(col("text"), 3)).as("h"))
      .collect().map(_.getLong(0))
    assert(hs.forall(h => h >= 0L && h < RollHashUtil.M))
    // "x y x y ..." at w=2: windows alternate (x y)/(y x) — exactly 2
    // distinct hash values across 11 windows
    val per = Seq("x y x y x y x y x y x y").toDF("text")
      .select(RollFns.rollingHash(col("text"), 2).as("h"))
      .collect().head.getSeq[Long](0)
    assert(per.length == 11 && per.distinct.length == 2)
  }

  test("SQL registration serves graft_rollhash") {
    val r = spark.sql(
      "SELECT graft_rollhash('a b c d e f', 5) AS h").collect().head
    assert(r.getSeq[Long](0).length == 2)
  }
}
