package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The canonical token-set signature — md5 of the space-joined,
  * sorted, distinct whitespace tokens — fused into one native
  * expression. Bit-identical to the built-in composition
  * `md5(array_join(array_sort(array_distinct(split(text, ' '))), ' '))`
  * (TokenSetSigSpec pins equality on the real corpus plus edge
  * fixtures), but one split + one tree-set pass + one digest instead
  * of four interpreted array passes and an intermediate join string
  * per row.
  *
  * This is the dedup CLASS KEY, computed once per document by every
  * signature-collapsing operator (x02/x03/x04/x14/x19/x22/x30/x35 and
  * `TrainingPipeline.exactDedup`) — corpus-scale hot path.
  *
  * Ordering contract: tokens sort in UTF8String binary order —
  * exactly `array_sort`'s StringType ordering (byte-wise unsigned),
  * NOT java.lang.String UTF-16 order, so non-ASCII text hashes
  * identically to the built-in form.
  */
case class TokenSetSig(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"token_set_sig expects string, got $t")
    }
  override def dataType: DataType = StringType
  override def prettyName: String = "token_set_sig"

  override def nullSafeEval(input: Any): Any =
    TokenSetSig.compute(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenSetSig$$.MODULE$$.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenSetSig {
  def compute(text: UTF8String): UTF8String = {
    // TreeSet over UTF8String natural order = array_sort's binary
    // string ordering; split semantics match split(text, ' ')
    val set = new java.util.TreeSet[UTF8String]()
    text.toString.split(" ", -1)
      .foreach(t => set.add(UTF8String.fromString(t)))
    val md = java.security.MessageDigest.getInstance("MD5")
    val it = set.iterator()
    var first = true
    while (it.hasNext) {
      if (!first) md.update(' '.toByte)
      md.update(it.next().getBytes)
      first = false
    }
    val hex = new StringBuilder(32)
    md.digest().foreach(b => hex.append(f"${b & 0xff}%02x"))
    UTF8String.fromString(hex.toString)
  }

  /** Column-API face of the expression. */
  def tokenSetSig(text: Column): Column =
    GraftBridge.column(TokenSetSig(GraftBridge.expression(text)))
}
