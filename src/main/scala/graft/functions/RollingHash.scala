package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo,
  Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd Rabin–Karp rolling fingerprints:
  * `graft_rollhash(text, w)` → one polynomial hash per w-token window,
  * computed in O(tokens) total — vs the O(tokens × w) work of hashing
  * each materialized shingle (`graft_shingles` + `md5`) — and without
  * materializing any shingle string at all.
  *
  * Why it matters at 100 TB: window fingerprints are the currency of
  * decontamination (p02) and document fingerprinting (t04). Per 100-token
  * document at w = 5 the shingle+md5 path concatenates ~96 strings and
  * runs ~96 md5 block passes; this expression walks the text once,
  * hashes each token once, and slides the window with two multiplies per
  * step — all inside whole-stage codegen.
  *
  * Arithmetic (chosen so the DuckDB oracle reproduces it BITWISE in
  * plain BIGINT — no 128-bit ops anywhere):
  *  - M = 2³¹ − 1 (Mersenne prime), B = 257;
  *  - token hash: fold code points, h = (h·31 + cp) mod M — every
  *    intermediate < 2³⁶;
  *  - window hash: H = Σ tₖ·B^(w−1−k) mod M, slid with
  *    H' = ((H − t_out·B^(w−1)) ·B + t_in) mod M — every intermediate
  *    < 2⁶², so signed 64-bit arithmetic is exact in both engines.
  *
  * Semantics (mirrors `graft_shingles`): tokens are `trim().split("\\s+")`;
  * docs shorter than w tokens collapse to ONE whole-doc hash; empty text
  * hashes the single empty token (hash 0); NULL propagates.
  *
  * Unicode note: the fold is over CODE POINTS (Java `codePointAt`,
  * DuckDB `unicode(substr(s,i,1))`), identical for all of Unicode; the
  * oracle-side `length()` counts code points like Java's loop does for
  * any text without grapheme-cluster corner cases, which the fixture
  * (ASCII + BMP injections) never hits. */
case class RollingHash(child: Expression, window: Int)
    extends UnaryExpression {
  require(window >= 1, s"window must be >= 1, got $window")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string input, got ${t.catalogString}")
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def prettyName: String = "graft_rollhash"

  override def nullSafeEval(input: Any): Any =
    RollHashUtil.compute(input.asInstanceOf[UTF8String], window)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.RollHashUtil.compute($c, $window);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Static helper invoked from generated code. */
object RollHashUtil {
  val M = 2147483647L // 2^31 - 1
  val B = 257L
  private val SplitPattern = UTF8String.fromString("\\s+")

  /** Code-point polynomial hash of one token, mod M. */
  def tokenHash(tok: UTF8String): Long = {
    val s = tok.toString
    var h = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      h = (h * 31 + cp) % M
      i += Character.charCount(cp)
    }
    h
  }

  def compute(text: UTF8String, window: Int): ArrayData = {
    val toks = text.trim().split(SplitPattern, -1)
    val n = toks.length
    val th = new Array[Long](n)
    var i = 0
    while (i < n) { th(i) = tokenHash(toks(i)); i += 1 }
    val w = if (n >= window) window else n
    // B^(w-1) mod M, for the outgoing token's contribution
    var bw = 1L
    var k = 1
    while (k < w) { bw = bw * B % M; k += 1 }
    val m = if (n >= window) n - window + 1 else 1
    val out = new Array[Long](m)
    var h = 0L
    i = 0
    while (i < w) { h = (h * B + th(i)) % M; i += 1 }
    out(0) = h
    var j = 1
    while (j < m) {
      var d = h - th(j - 1) * bw % M
      if (d < 0) d += M
      h = (d * B + th(j + w - 1)) % M
      out(j) = h
      j += 1
    }
    UnsafeArrayData.fromPrimitiveArray(out)
  }
}

/** Column-API facade + SQL registration (same pattern as [[TextFns]]). */
object RollFns {

  /** `graft_rollhash(text, w)` as a Column. */
  def rollingHash(text: Column, window: Int): Column =
    ColumnBridge.column(RollingHash(ColumnBridge.expression(text), window))

  private[functions] val rollInfo = (
    FunctionIdentifier("graft_rollhash"),
    new ExpressionInfo(classOf[RollingHash].getName, "graft_rollhash"),
    (children: Seq[Expression]) => children match {
      case Seq(text, Literal(w: Int, _)) => RollingHash(text, w)
      case _ => throw new IllegalArgumentException(
        "graft_rollhash(text, w) requires a literal integer window")
    })
}
