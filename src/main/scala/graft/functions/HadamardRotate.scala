package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression,
  ExpressionInfo, Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType}

/** Native codegen'd per-subspace Walsh–Hadamard rotation over an
  * `array<float>` vector — the s37 structured-OPQ preprocessing step:
  * within each `subDim`-wide block, y_j = scale·Σᵢ (−1)^popcount(j∧i)·xᵢ
  * with scale = 1/√subDim.
  *
  * Why a native expression (the graft_dot precedent, SURVEY §7 risk iv):
  * the builtin formulation — `transform(sequence, j -> aggregate(
  * sequence, ..., element_at ...))` — is a higher-order lambda tree that
  * runs INTERPRETED (no codegen for HOFs), measured at ~6 ms/row on
  * 64-dim vectors; this expression is m·subDim² fused multiply-adds in a
  * primitive loop inside whole-stage codegen.
  *
  * Arithmetic contract (oracle-pinned): each output dim is a LEFT fold
  * over its block in ascending i starting from 0.0, scaled once, rounded
  * once to FLOAT — the identical association as the DuckDB twin's
  * `list_reduce(list_transform(range ...))·scale`, so results are
  * bitwise-equal across engines. Vectors whose length is NOT exactly
  * m·subDim yield null — strict in BOTH directions (dense-by-contract,
  * like graft_dot's prefix rule but stricter): a silently truncated
  * rotation of a longer vector would not be orthogonal any more than a
  * zero-padded short one.
  */
case class HadamardRotate(child: Expression, m: Int, subDim: Int)
    extends UnaryExpression {

  require(Integer.bitCount(subDim) == 1,
    s"Walsh-Hadamard needs a power-of-2 subDim: $subDim")

  private val d = m * subDim
  private val scale = 1.0 / math.sqrt(subDim.toDouble)

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float>, got ${other.catalogString}")
    }

  override def dataType: DataType = ArrayType(FloatType, containsNull = false)

  override def prettyName: String = "graft_hadamard"

  override def nullable: Boolean = true

  override def nullSafeEval(input: Any): Any = {
    val x = input.asInstanceOf[ArrayData]
    if (x.numElements() != d) null
    else {
      val out = new Array[Float](d)
      var j = 0
      while (j < d) {
        val blk = (j / subDim) * subDim
        val jl = j % subDim
        var acc = 0.0
        var i = 0
        while (i < subDim) {
          val sign = if (Integer.bitCount(jl & i) % 2 == 0) 1.0 else -1.0
          acc += sign * x.getFloat(blk + i).toDouble
          i += 1
        }
        out(j) = (acc * scale).toFloat
        j += 1
      }
      new GenericArrayData(out)
    }
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      val out = ctx.freshName("out")
      val j = ctx.freshName("j")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      val blk = ctx.freshName("blk")
      val jl = ctx.freshName("jl")
      s"""
         |if ($a.numElements() != $d) {
         |  ${ev.isNull} = true;
         |} else {
         |  float[] $out = new float[$d];
         |  for (int $j = 0; $j < $d; $j++) {
         |    int $blk = ($j / $subDim) * $subDim;
         |    int $jl = $j % $subDim;
         |    double $acc = 0.0;
         |    for (int $i = 0; $i < $subDim; $i++) {
         |      $acc += ((java.lang.Integer.bitCount($jl & $i) % 2 == 0)
         |        ? 1.0 : -1.0) * (double) $a.getFloat($blk + $i);
         |    }
         |    $out[$j] = (float) ($acc * $scale);
         |  }
         |  ${ev.value} =
         |    new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(
      newChild: Expression): Expression = copy(child = newChild)
}

/** Column-API facade + SQL registration. */
object HadamardFns {

  def rotate(v: Column, m: Int = 4, subDim: Int = 16): Column =
    ColumnBridge.column(
      HadamardRotate(ColumnBridge.expression(v), m, subDim))

  private[functions] val hadamardInfo = (
    FunctionIdentifier("graft_hadamard"),
    new ExpressionInfo(classOf[HadamardRotate].getName, "graft_hadamard"),
    // Validated builder (the graft_shingles precedent): malformed SQL
    // calls get a descriptive error naming the function, not a raw
    // IndexOutOfBounds/ClassCast from inside the registry.
    (children: Seq[Expression]) => children match {
      case Seq(v, Literal(m: Int, _), Literal(sd: Int, _)) =>
        HadamardRotate(v, m, sd)
      case _ => throw new IllegalArgumentException(
        "graft_hadamard(vec, m, subDim) requires exactly three " +
          "arguments: an array<float> column and two literal INT " +
          "block parameters")
    })
}
