package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The hashed 64-bit token-set bitmask — bit index = md5-derived hash
  * of each distinct token mod 64, OR-folded — fused into one native
  * expression. Bit-identical to the HOF construction
  * ([[graft.queries.Extensions.maskHofExpr]]:
  * `aggregate(transform(array_sort(array_distinct(split(text,' '))),
  * w -> 1L << (conv(substring(md5(w),1,8),16,10) % 64)), 0L, |)` —
  * TokenMaskSpec pins equality), but one split + one digest-and-OR
  * pass per row.
  *
  * The arithmetic collapses: `conv(substring(md5(w),1,8),16,10)` is
  * the first 4 digest bytes as an unsigned 32-bit value, and that
  * value mod 64 is just the low 6 bits of the 4th byte — so the
  * native form needs no hex round-trip at all: `digest[3] & 0x3f`.
  *
  * Computed once per document by the mask-scoring dedup family
  * (docMasks → x03/x04/x19/x22) and per streamed doc in
  * [[graft.streaming.NearDup]].
  */
case class TokenMask(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"token_mask expects string, got $t")
    }
  override def dataType: DataType = LongType
  override def prettyName: String = "token_mask"

  override def nullSafeEval(input: Any): Any =
    TokenMask.compute(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenMask$$.MODULE$$.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenMask {
  def compute(text: UTF8String): Long = {
    val seen = new java.util.HashSet[String]()
    var mask = 0L
    val md = java.security.MessageDigest.getInstance("MD5")
    text.toString.split(" ", -1).foreach { w =>
      if (seen.add(w)) {
        md.reset()
        val d = md.digest(w.getBytes("UTF-8"))
        mask |= 1L << (d(3) & 0x3f)
      }
    }
    mask
  }

  /** Column-API face of the expression. */
  def tokenMask(text: Column): Column =
    GraftBridge.column(TokenMask(GraftBridge.expression(text)))
}
