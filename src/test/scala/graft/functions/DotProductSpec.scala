package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Native dot product: value parity with the interpreted builtin fold,
  * codegen execution, SQL registration. */
class DotProductSpec extends SparkSpec {

  private lazy val df = {
    import spark.implicits._
    Seq(
      (1L, Array(1.0f, 2.0f, 3.0f), Array(4.0f, 5.0f, 6.0f)),
      (2L, Array(0.1f, 0.2f), Array(0.3f, 0.4f)),
      (3L, Array.empty[Float], Array.empty[Float])
    ).toDF("id", "a", "b")
  }

  test("matches the interpreted zip_with/aggregate fold bitwise") {
    val rows = df.select(col("id"), VectorOps.dot(col("a"), col("b")),
      expr("aggregate(zip_with(a, b, (x, y) -> " +
        "cast(x as double) * cast(y as double)), 0D, (acc, v) -> acc + v)"))
      .collect()
    rows.foreach(r => assert(r.getDouble(1) == r.getDouble(2)))
    assert(rows.find(_.getLong(0) == 1L).get.getDouble(1) == 32.0)
    assert(rows.find(_.getLong(0) == 3L).get.getDouble(1) == 0.0)
  }

  test("null input arrays yield null") {
    import spark.implicits._
    val withNull = Seq((Some(Array(1.0f)), Option.empty[Array[Float]]))
      .toDF("a", "b")
    assert(withNull.select(VectorOps.dot(col("a"), col("b")))
      .head().isNullAt(0))
  }

  test("cosine of identical vectors is 1") {
    val c = df.filter("id = 1")
      .select(VectorOps.cosine(col("a"), col("a"))).head().getDouble(0)
    assert(math.abs(c - 1.0) < 1e-12)
  }

  test("registers as graft_dot for SQL texts") {
    df.createOrReplaceTempView("vecs")
    val v = spark.sql("SELECT graft_dot(a, b) FROM vecs WHERE id = 1")
      .head().getDouble(0)
    assert(v == 32.0)
  }

  test("survives whole-stage codegen paths (no interpreted fallback crash)") {
    // force a plan that goes through codegen: filter + projection over dot
    val n = df.select(VectorOps.dot(col("a"), col("b")).as("d"))
      .filter(col("d") > 0).count()
    assert(n == 2)
  }
}

/** Typed-Aggregator bottom-k sketch semantics. */
class BottomKSketchSpec extends graft.SparkSpec {
  import org.apache.spark.sql.functions._

  test("bottom-k is exact, deduplicated, and partitioning-independent") {
    import spark.implicits._
    val values = (1L to 500L).map(i => ("g", i % 100)) // 100 distinct, 5x dups
    def run(parts: Int) = values.toDF("g", "v").repartition(parts)
      .groupBy("g")
      .agg(graft.functions.BottomKSketch.bottomK(8)(
        md5(col("v").cast("string").cast("binary"))).as("b8"))
      .select("b8").head().getSeq[String](0)
    val a = run(1)
    val b = run(13)
    assert(a == b) // same sketch whatever the partitioning
    assert(a.length == 8 && a == a.sorted && a.distinct.length == 8)
  }

  test("sketch of fewer than k distinct values holds them all") {
    import spark.implicits._
    val df = Seq(("g", "x"), ("g", "y"), ("g", "x")).toDF("g", "v")
    val got = df.groupBy("g")
      .agg(graft.functions.BottomKSketch.bottomK(8)(
        md5(col("v").cast("binary"))).as("b8"))
      .select("b8").head().getSeq[String](0)
    assert(got.length == 2)
  }
}

/** Null handling of the bottom-k UDAF (builtin-aggregate semantics). */
class BottomKNullSpec extends graft.SparkSpec {
  test("null inputs are ignored, not fatal") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val df = Seq(("g", Some("a")), ("g", None), ("g", Some("b")))
      .toDF("g", "v")
    val got = df.groupBy("g")
      .agg(graft.functions.BottomKSketch.bottomK(8)(
        md5(col("v").cast("binary"))).as("b8"))
      .select("b8").head().getSeq[String](0)
    assert(got.length == 2) // the null contributed nothing
  }
}
