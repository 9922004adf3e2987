package graft.lake

import graft.SparkSpec

/** The demo lakes and stores behind the l-family entries are session
  * artifacts keyed by their input's identity, not its file listing: two
  * in-memory corpora have no files, and must still get a store each. */
class LakeQueriesSpec extends SparkSpec {
  import spark.implicits._

  test("two in-memory corpora each get their own round-trip lake (l02)") {
    def docs(ids: Range) =
      ids.map(i => (i.toLong, s"text of $i")).toDF("doc_id", "text")
    def listed(ids: Range) = LakeQueries.roundtripList(spark, docs(ids))
      .collect().map(_.getAs[Long]("book_id")).toSeq
    assert(listed(1 to 3) == Seq(1L, 2L, 3L))
    assert(listed(4 to 6) == Seq(4L, 5L, 6L))
  }

  test("two in-memory order sets each get their own snapshot store (l07)") {
    def orders(keys: Range) = keys.map(k => (k.toLong, "O", k * 10.0))
      .toDF("o_orderkey", "o_orderstatus", "o_totalprice")
    def merged(keys: Range) = LakeQueries.snapshotMerge(spark, orders(keys))
      .collect().map(_.getAs[Long]("o_orderkey")).toSeq
    // keys ≡ 0 (mod 13) are deleted by the demo change feed
    assert(merged(1 to 5) == Seq(1L, 2L, 3L, 4L, 5L))
    assert(merged(20 to 27) == Seq(20L, 21L, 22L, 23L, 24L, 25L, 27L))
  }
}
