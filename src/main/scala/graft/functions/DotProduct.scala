package graft.functions

import org.apache.spark.sql.{Column, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression,
  Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType,
  FloatType}

/** Native codegen'd dot product over two `array<float>` columns, in double
  * precision with a left-to-right fold.
  *
  * This is the one place the built-in surface measurably failed the perf
  * bar (SURVEY §7 risk iv): the builtin formulation
  * `aggregate(zip_with(a, b, (x, y) -> double(x)*double(y)), 0D, +)` runs
  * interpreted per element (higher-order lambdas have no codegen), which
  * made the embedding near-dup/top-k queries the slowest in the suite.
  * This expression emits a tight primitive loop inside whole-stage codegen
  * — same fold order, bitwise-identical results (oracle-checked).
  *
  * Semantics notes: ragged inputs fold over the common prefix (the builtin
  * zip_with null-pads and poisons the sum to null); null ELEMENTS are read
  * as 0.0 — embedding vectors are dense by contract.
  */
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<float>, array<float>), got " +
          s"(${l.catalogString}, ${r.catalogString})")
    }

  override def dataType: DataType = DoubleType

  override def prettyName: String = "graft_dot"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

/** Column-API facade + SQL registration for the native vector ops. */
object VectorOps {

  /** `dot(a, b)` as a Column — usable from the DataFrame API without any
    * session-level registration. */
  def dot(a: Column, b: Column): Column =
    ColumnBridge.column(DotProduct(
      ColumnBridge.expression(a), ColumnBridge.expression(b)))

  /** Double-precision cosine similarity from native dot products. */
  def cosine(a: Column, b: Column): Column = {
    import org.apache.spark.sql.functions.sqrt
    dot(a, b) / (sqrt(dot(a, a)) * sqrt(dot(b, b)))
  }

  private[functions] val dotInfo = (
    FunctionIdentifier("graft_dot"),
    new ExpressionInfo(classOf[DotProduct].getName, "graft_dot"),
    (children: Seq[Expression]) => DotProduct(children(0), children(1)))
}

/** `SparkSessionExtensions` hook: enable with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")` or
  * `.withExtensions(new GraftExtensions)` — registers the native functions
  * at session build time (SURVEY §7's extension route). */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction(VectorOps.dotInfo)
    ext.injectFunction(TextFns.shinglesInfo)
    ext.injectFunction(NfcFns.nfcInfo)
    ext.injectFunction(TokenFns.tokensInfo)
    ext.injectFunction(RollFns.rollInfo)
    ext.injectFunction(HadamardFns.hadamardInfo)
    ext.injectFunction(BlockFns.blockInfo)
  }
}
