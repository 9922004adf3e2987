package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo,
  Literal, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen'd BLOCKHASH signature:
  * `graft_blockbits(payload, nBlocks)` → an nBlocks-char '0'/'1'
  * string where bit b is set iff block b's mean byte value strictly
  * exceeds the whole-payload mean — the classic perceptual-hash
  * construction (Blockhash.io / pHash family: partition, compare each
  * region's statistic to the global one). Robust to small local edits
  * by design: flipping a few bytes moves one block mean slightly, so
  * near-identical payloads land at small Hamming distance where any
  * cryptographic digest flips half its bits.
  *
  * All arithmetic is EXACT integers — the mean compare is
  * cross-multiplied (`blockSum·n > totalSum·blockLen`), never a float
  * division, so the DuckDB oracle reproduces it bitwise. Overflow
  * discipline: both products are ≤ 255·n·maxBlockLen ≤ 255·n², which
  * fits a signed 64-bit Long only for payloads under
  * ~√(2⁶³/255) ≈ 190 MB (the bound is per-PAYLOAD, independent of
  * nBlocks — at nBlocks = 1 one block IS the payload, so the old
  * "~1.5 GB at nBlocks = 64" claim silently wrapped for big payloads
  * at small block counts). Below that bound the compare is one Long
  * multiply each side; at or above it the same compare runs exactly
  * in 128 bits via Math.multiplyHigh — no value range silently flips
  * a signature bit at any payload size the binary type can hold.
  *
  * Block layout: byte i belongs to block `i·nBlocks div n` — the
  * equal-span partition. Payloads shorter than nBlocks leave some
  * blocks empty (their bit reads '0' — degenerate but deterministic);
  * an empty payload yields the all-'0' signature. NULL propagates.
  *
  * This runs one generated-code pass over the bytes per row — the
  * builtin HOF formulation (transform over a hex explode) runs
  * interpreted per BYTE, the s37 lesson at 1000× the element count. */
case class BlockBits(child: Expression, nBlocks: Int)
    extends UnaryExpression {
  require(nBlocks >= 1 && nBlocks <= 4096,
    s"nBlocks must be in [1, 4096], got $nBlocks")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case BinaryType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires binary input, got ${t.catalogString}")
  }

  override def dataType: DataType = StringType

  override def prettyName: String = "graft_blockbits"

  override def nullSafeEval(input: Any): Any =
    BlockBitsUtil.compute(input.asInstanceOf[Array[Byte]], nBlocks)

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BlockBitsUtil.compute($c, $nBlocks);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

/** Static helper invoked from generated code. */
object BlockBitsUtil {

  /** Payload sizes below this keep both cross-products inside a signed
    * Long (255·n² < 2⁶³ → n < ~1.9e8); larger payloads take the exact
    * 128-bit path. */
  private val LongSafeBytes: Long = 190000000L

  /** Exact `blockSum·n > total·blockLen` over nonnegative Longs: the
    * 126-bit products are compared via their Math.multiplyHigh high
    * words (nonnegative here, so the signed high word IS the unsigned
    * one) then unsigned low words. */
  private[graft] def exceeds(blockSum: Long, n: Long, total: Long,
      blockLen: Long): Boolean = {
    val hiL = Math.multiplyHigh(blockSum, n)
    val hiR = Math.multiplyHigh(total, blockLen)
    if (hiL != hiR) hiL > hiR
    else java.lang.Long.compareUnsigned(blockSum * n, total * blockLen) > 0
  }

  def compute(bytes: Array[Byte], nBlocks: Int): UTF8String = {
    val n = bytes.length.toLong
    val sums = new Array[Long](nBlocks)
    val lens = new Array[Long](nBlocks)
    var total = 0L
    var i = 0
    while (i < bytes.length) {
      val b = (i.toLong * nBlocks / n).toInt
      val v = (bytes(i) & 0xff).toLong
      sums(b) += v
      lens(b) += 1L
      total += v
      i += 1
    }
    val wide = n >= LongSafeBytes
    val out = new Array[Byte](nBlocks)
    var k = 0
    while (k < nBlocks) {
      val bit =
        if (wide) exceeds(sums(k), n, total, lens(k))
        else sums(k) * n > total * lens(k)
      out(k) = if (bit) '1'.toByte else '0'.toByte
      k += 1
    }
    UTF8String.fromBytes(out)
  }
}

/** Column-API facade; [[GraftExtensions]] injects the SQL name. */
object BlockFns {

  /** `graft_blockbits(payload, nBlocks)` as a Column. */
  def blockBits(payload: Column, nBlocks: Int): Column =
    ColumnBridge.column(BlockBits(ColumnBridge.expression(payload), nBlocks))

  private[functions] val blockInfo = (
    FunctionIdentifier("graft_blockbits"),
    new ExpressionInfo(classOf[BlockBits].getName, "graft_blockbits"),
    (children: Seq[Expression]) => children match {
      case Seq(payload, Literal(n: Int, _)) => BlockBits(payload, n)
      case _ => throw new IllegalArgumentException(
        "graft_blockbits(payload, n) requires a literal integer block count")
    })
}
