package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** graft_tokens: class-by-class tokenization semantics, whitespace-set
  * fidelity (RE2's 5-char \s, not Java's), null handling, SQL
  * registration, and codegen execution. Non-ASCII is escape-coded. */
class UnicodeTokensSpec extends SparkSpec {

  import spark.implicits._

  private def toks(s: String): Seq[String] =
    Seq(s).toDF("raw")
      .select(TokenFns.unicodeTokens(col("raw")).as("t"))
      .collect().head.getSeq[String](0)

  test("letters, digits, Han, and punctuation split per class") {
    // Héllo -> one letter run incl. accent; comma separates;
    // 漢字 (Han Han) -> one token PER character
    assert(toks("Héllo, 漢字!") ==
      Seq("Héllo", ",", "漢", "字", "!"))
    // glued underscore/digits: letter run | other | letter run | digits
    assert(toks("foo_bar42") == Seq("foo", "_", "bar", "42"))
    // Han embedded in a Latin run splits the run
    assert(toks("a漢b") == Seq("a", "漢", "b"))
    // superscript-ish ½ (No, not Nd) is an "other" token
    assert(toks("12½3") == Seq("12", "½", "3"))
  }

  test("whitespace is RE2's \\s exactly; VT and NBSP are tokens") {
    assert(toks("  a\tb\nc\rd\fe ") == Seq("a", "b", "c", "d", "e"))
    // vertical tab (not in RE2 \s) and NBSP (not \s either) tokenize
    assert(toks("a\u000bb") == Seq("a", "\u000b", "b"))
    assert(toks("a\u00a0b") == Seq("a", "\u00a0", "b"))
    assert(toks("") == Seq.empty)
    assert(toks("   ") == Seq.empty)
  }

  test("supplementary code points survive the scan") {
    // U+1D400 MATHEMATICAL BOLD CAPITAL A: a letter outside the BMP
    val bold = new String(Character.toChars(0x1D400))
    assert(toks(s"x${bold}y 1") == Seq(s"x${bold}y", "1"))
  }

  test("null propagates; SQL registration and codegen path") {
    val got = Seq(Option("a b"), None).toDF("raw")
      .select(TokenFns.unicodeTokens(col("raw"))).collect().map(_.get(0))
    assert(got(1) == null)
    val viaSql = spark.sql("SELECT graft_tokens('ab, cd') AS t")
      .collect().head.getSeq[String](0)
    assert(viaSql == Seq("ab", ",", "cd"))
  }
}
