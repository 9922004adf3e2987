package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The session extensions are the SQL route to every native function: a
  * fresh function registry, with no per-function `register` call, must
  * resolve each `graft_*` name. */
class GraftExtensionsSpec extends SparkSpec {

  private val names = Seq("graft_dot", "graft_shingles", "graft_nfc",
    "graft_tokens", "graft_rollhash", "graft_hadamard", "graft_blockbits")

  test("every graft_* name resolves on a fresh session") {
    val fresh = spark.newSession()
    val missing = names.filterNot(fresh.catalog.functionExists)
    assert(missing.isEmpty, s"unresolved on a fresh session: $missing")
  }

  test("graft_blockbits in SQL equals BlockFns.blockBits row for row") {
    val fresh = spark.newSession()
    import fresh.implicits._
    // empty, shorter than, equal to and longer than the block count,
    // plus seeded random payloads and a NULL
    val rnd = new scala.util.Random(7)
    val payloads: Seq[Option[Array[Byte]]] =
      Seq(0, 1, 63, 64, 65, 1000).map(n => Some(Array.fill(n)(rnd.nextInt().toByte))) ++
        Seq.fill(20)(Some(Array.fill(rnd.nextInt(5000))(rnd.nextInt().toByte))) :+
        None
    val both = payloads.zipWithIndex.toDF("content", "id")
      .select(col("id"), expr("graft_blockbits(content, 64)").as("sql"),
        BlockFns.blockBits(col("content"), 64).as("api"))
      .collect()
    assert(both.length == payloads.size)
    both.foreach { r =>
      assert(r.getString(1) == r.getString(2), s"payload ${r.get(0)}")
    }
  }
}
