package graft.functions

import java.text.Normalizer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a native codegen'd expression:
  * `graft_nfc(text)` composes canonically-decomposed sequences
  * (e + U+0301 → é) into their precomposed forms.
  *
  * Why it's a first-class pipeline operator: web-crawled corpora mix
  * NFC and NFD encodings of the SAME text (macOS filenames, copy-paste
  * chains, some CMSes emit NFD), so exact dedup (d01), shingle-based
  * near-dup (d02-d05) and token statistics silently treat identical
  * documents as distinct unless text is canonicalized first — NFC is
  * step zero of every serious text pipeline. Spark has no builtin for
  * it (`lower`/`trim` don't touch combining marks), which is exactly
  * the "custom Catalyst Expression over UDF" extension point: this
  * stays inside whole-stage codegen as a static call, no Row boxing.
  *
  * Fast path: `Normalizer.isNormalized` is O(n) with no allocation for
  * text that is already NFC (the overwhelming majority at corpus
  * scale) — only denormalized strings pay the compose pass.
  *
  * Oracle counterpart: DuckDB's `nfc_normalize` — both implement the
  * same Unicode canonical composition, so results hash-match. */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string input, got ${t.catalogString}")
  }

  override def dataType: DataType = StringType

  override def prettyName: String = "graft_nfc"

  override def nullSafeEval(input: Any): Any =
    NfcUtil.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NfcUtil.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Static helper invoked from generated code. */
object NfcUtil {
  def compute(text: UTF8String): UTF8String = {
    val s = text.toString
    if (Normalizer.isNormalized(s, Normalizer.Form.NFC)) text
    else UTF8String.fromString(Normalizer.normalize(s, Normalizer.Form.NFC))
  }
}

/** Column facade + SQL registration (same pattern as [[TextFns]]). */
object NfcFns {

  /** `graft_nfc(text)` as a Column. */
  def nfc(text: Column): Column =
    ColumnBridge.column(NfcNormalize(ColumnBridge.expression(text)))

  private[functions] val nfcInfo = (
    FunctionIdentifier("graft_nfc"),
    new ExpressionInfo(classOf[NfcNormalize].getName, "graft_nfc"),
    (children: Seq[Expression]) => children match {
      case Seq(text) => NfcNormalize(text)
      case _ => throw new IllegalArgumentException(
        "graft_nfc(text) takes exactly one argument")
    })
}
