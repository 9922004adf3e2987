package graft.functions

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo,
  UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode-aware tokenization as a native codegen'd expression:
  * `graft_tokens(text)` → array of tokens under the pre-tokenizer rules
  * every multilingual corpus needs and whitespace-splitting gets wrong:
  *
  *  - Han (CJK) code points are SINGLE-CHARACTER tokens — ideographic
  *    text has no spaces, so a whitespace tokenizer sees one "word" per
  *    paragraph and every token statistic (counts, quality ratios,
  *    shingles) degenerates;
  *  - runs of non-Han letters form one token (`naïve`, `déjà` — marks
  *    and accents included via Unicode letter categories, not [A-Za-z]);
  *  - runs of decimal digits (Nd) form one token;
  *  - any other non-whitespace code point is its own token — glued
  *    punctuation (`word,word`) separates instead of polluting the word.
  *
  * Cross-engine contract (the DuckDB oracle runs `regexp_extract_all`
  * with the RE2 pattern `\p{Han}|[^\P{L}\p{Han}]+|\p{Nd}+|[^\p{L}\p{Nd}\s]`,
  * tested to agree class-by-class):
  *  - letter = Unicode general category L* (`Character.isLetter` ≡ RE2
  *    `\p{L}`); digit = Nd only (`Character.isDigit` ≡ `\p{Nd}` — NOT
  *    No/Nl, so `½` is an "other" token in both engines);
  *  - Han = Unicode script Han (`Character.UnicodeScript.HAN` ≡
  *    `\p{Han}`);
  *  - whitespace = RE2's `\s` = {TAB, LF, FF, CR, SPACE} EXACTLY —
  *    hardcoded rather than `Character.isWhitespace`, which would also
  *    swallow VT/NEL/U+2028 that RE2 tokenizes as "other".
  *
  * One O(n) code-point scan inside whole-stage codegen — no regex
  * engine, no Row boxing; the hot path of t14 and the correct `tokens`
  * front-end for CJK-bearing corpora (the whitespace splitter
  * TextAnalysis.tokens stays as the oracle-simple ASCII tier). */
case class UnicodeTokens(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string input, got ${t.catalogString}")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "graft_tokens"

  override def nullSafeEval(input: Any): Any =
    TokenUtil.tokenize(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenUtil.tokenize($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Static helper invoked from generated code. */
object TokenUtil {

  // RE2's \s — exactly these five, see class doc
  private def isWs(cp: Int): Boolean =
    cp == ' ' || cp == '\t' || cp == '\n' || cp == '\f' || cp == '\r'

  private def isHan(cp: Int): Boolean =
    Character.UnicodeScript.of(cp) == Character.UnicodeScript.HAN

  def tokenize(text: UTF8String): ArrayData = {
    val s = text.toString
    val out = ArrayBuffer.empty[AnyRef]
    var i = 0
    val n = s.length
    while (i < n) {
      val cp = s.codePointAt(i)
      val w = Character.charCount(cp)
      if (isWs(cp)) i += w
      else if (isHan(cp)) {
        out += UTF8String.fromString(s.substring(i, i + w))
        i += w
      } else if (Character.isLetter(cp)) {
        val start = i
        var j = i
        var c = cp
        while (j < n && Character.isLetter(c) && !isHan(c)) {
          j += Character.charCount(c)
          if (j < n) c = s.codePointAt(j)
        }
        out += UTF8String.fromString(s.substring(start, j))
        i = j
      } else if (Character.isDigit(cp)) {
        val start = i
        var j = i
        var c = cp
        while (j < n && Character.isDigit(c)) {
          j += Character.charCount(c)
          if (j < n) c = s.codePointAt(j)
        }
        out += UTF8String.fromString(s.substring(start, j))
        i = j
      } else {
        out += UTF8String.fromString(s.substring(i, i + w))
        i += w
      }
    }
    new GenericArrayData(out.toArray)
  }
}

/** Column facade + SQL registration (same pattern as [[TextFns]]). */
object TokenFns {

  /** `graft_tokens(text)` as a Column. */
  def unicodeTokens(text: Column): Column =
    ColumnBridge.column(UnicodeTokens(ColumnBridge.expression(text)))

  private[functions] val tokensInfo = (
    FunctionIdentifier("graft_tokens"),
    new ExpressionInfo(classOf[UnicodeTokens].getName, "graft_tokens"),
    (children: Seq[Expression]) => children match {
      case Seq(text) => UnicodeTokens(text)
      case _ => throw new IllegalArgumentException(
        "graft_tokens(text) takes exactly one argument")
    })
}
