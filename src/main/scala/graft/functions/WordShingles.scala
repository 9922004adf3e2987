package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo,
  Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd word n-gram shingling: `graft_shingles(text, n)` ≡ the
  * builtin composition
  * `when(size(toks) >= n, transform(sequence(0, size(toks)-n),
  *    i -> array_join(slice(toks, i+1, n), " "))).otherwise(array(array_join(toks, " ")))`
  * with `toks = split(trim(text), "\\s+")` — bitwise-identical output
  * (parity-spec'd), one tight loop instead of an interpreted per-index
  * lambda.
  *
  * Why it matters at 100 TB: shingling is the innermost loop of corpus
  * dedup (Jaccard postings, MinHash, LSH, fingerprints, decontamination
  * all start from it). The builtin form evaluates an interpreted
  * `transform` lambda per shingle — each index allocating a slice array
  * and walking an expression tree — while this expression splits once and
  * concatenates each shingle directly inside whole-stage codegen.
  *
  * Semantics notes (matching the builtin composition exactly):
  *  - trim removes ASCII spaces (0x20) only, like Spark's `trim`;
  *  - the split pattern `\s+` matches Java regex whitespace;
  *  - docs shorter than n tokens collapse to ONE whole-text shingle;
  *  - empty/whitespace-only text yields `[""]` (split of "" is [""]);
  *  - NULL text yields NULL (standard scalar null propagation) — the one
  *    deliberate divergence: the builtin composition leaks `[null]`
  *    through its otherwise-branch.
  */
case class WordShingles(child: Expression, n: Int)
    extends UnaryExpression {
  require(n >= 1, s"shingle width must be >= 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string input, got ${t.catalogString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "graft_shingles"

  override def nullSafeEval(input: Any): Any =
    ShingleUtil.compute(input.asInstanceOf[UTF8String], n)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ShingleUtil.compute($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Static helper invoked from generated code (plain object → static
  * forwarder, callable from Janino-compiled Java). */
object ShingleUtil {
  private val SplitPattern = UTF8String.fromString("\\s+")
  private val Space = UTF8String.fromString(" ")

  def compute(text: UTF8String, n: Int): ArrayData = {
    val toks = text.trim().split(SplitPattern, -1)
    val out: Array[AnyRef] =
      if (toks.length >= n) {
        val m = toks.length - n + 1
        val r = new Array[AnyRef](m)
        var i = 0
        while (i < m) {
          r(i) = UTF8String.concatWs(Space,
            java.util.Arrays.copyOfRange(toks, i, i + n): _*)
          i += 1
        }
        r
      } else Array[AnyRef](UTF8String.concatWs(Space, toks: _*))
    new GenericArrayData(out)
  }
}

/** Column-API facade + SQL registration (same pattern as [[VectorOps]]). */
object TextFns {

  /** `graft_shingles(text, n)` as a Column — no session registration
    * needed. */
  def wordShingles(text: Column, n: Int): Column =
    ColumnBridge.column(WordShingles(ColumnBridge.expression(text), n))

  private[functions] val shinglesInfo = (
    FunctionIdentifier("graft_shingles"),
    new ExpressionInfo(classOf[WordShingles].getName, "graft_shingles"),
    (children: Seq[Expression]) => children match {
      case Seq(text, Literal(width: Int, _)) => WordShingles(text, width)
      case _ => throw new IllegalArgumentException(
        "graft_shingles(text, n) requires a literal integer width")
    })
}
