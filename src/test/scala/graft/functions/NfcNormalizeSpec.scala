package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** graft_nfc: composition semantics, fast-path identity, null handling,
  * SQL registration, and codegen execution. All non-ASCII is
  * escape-coded so source encoding can never flip decomposed inputs
  * (e + U+0301) into precomposed expected outputs (U+00E9). */
class NfcNormalizeSpec extends SparkSpec {

  import spark.implicits._

  test("composes decomposed sequences and shortens code-point length") {
    val df = Seq(
      ("cafe\u0301", "caf\u00e9"), // e + combining acute -> precomposed
      ("u\u0308ber", "\u00fcber"), // u + diaeresis -> precomposed
      ("plain ascii", "plain ascii"),
      ("", "")
    ).toDF("raw", "want")
    val out = df.select(NfcFns.nfc(col("raw")).as("got"), col("want"))
      .collect()
    out.foreach(r => assert(r.getString(0) == r.getString(1)))
  }

  test("null propagates; already-NFC strings return the same instance") {
    val df = Seq(Option("a\u0301b"), None).toDF("raw")
    val got = df.select(NfcFns.nfc(col("raw"))).collect().map(_.get(0))
    assert(got(0) == "\u00e1b" && got(1) == null)
    // fast path: normalized input passes through without re-encoding
    val s = org.apache.spark.unsafe.types.UTF8String.fromString("xyz")
    assert(NfcUtil.compute(s) eq s)
  }

  test("SQL registration and whole-stage codegen path") {
    val got = spark.sql("SELECT graft_nfc('cafe\u0301') AS s")
    assert(got.collect().head.getString(0) == "caf\u00e9")
    // length drops from 5 code points to 4 after composition
    val lens = spark.range(1)
      .select(length(NfcFns.nfc(lit("cafe\u0301"))).as("l"))
      .collect().head.getInt(0)
    assert(lens == 4)
  }
}
