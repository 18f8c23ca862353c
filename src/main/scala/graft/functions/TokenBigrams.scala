package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct token bigrams of a whitespace-tokenized text, fused into
  * one native expression: one split, one pass building "a b" shingles
  * into an insertion-ordered set. Bit-identical to the built-in HOF
  * composition it replaces
  * ([[graft.queries.Extensions.bigramsExpr]]:
  * `array_distinct(zip_with(slice(tk,1,n-1), slice(tk,2,n-1),
  * concat(a,' ',b)))` — TokenBigramsSpec pins equality on the real
  * corpus plus edge fixtures), but without the two slice copies, the
  * per-element interpreted zip lambda, and the separate distinct
  * pass. Shingling is the per-row cost of every bigram operator
  * (x14/x24/x26/x36), so like [[QuantizedCosine]]/[[SrpBands]] it
  * belongs in generated code, not in HOF interpretation.
  *
  * Tokenization contract (matches `split(text, ' ')`): Java
  * `String.split(" ", -1)` — consecutive spaces yield empty tokens,
  * trailing empties kept. Single-token or empty text yields an empty
  * array, exactly as the slice-based formulation does.
  */
case class TokenBigrams(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"token_bigrams expects string, got $t")
    }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "token_bigrams"

  override def nullSafeEval(input: Any): Any =
    TokenBigrams.compute(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.TokenBigrams$$.MODULE$$.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenBigrams {
  /** One fused pass: split once, emit first-occurrence-ordered
    * distinct "a b" shingles. */
  def compute(text: UTF8String): ArrayData = {
    val toks = text.toString.split(" ", -1)
    if (toks.length < 2) return new GenericArrayData(Array.empty[Any])
    val seen = new java.util.LinkedHashSet[String](toks.length * 2)
    var i = 0
    while (i < toks.length - 1) {
      seen.add(toks(i) + " " + toks(i + 1))
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var j = 0
    while (it.hasNext) { out(j) = UTF8String.fromString(it.next()); j += 1 }
    new GenericArrayData(out)
  }

  /** Column-API face of the expression. */
  def tokenBigrams(text: Column): Column =
    GraftBridge.column(TokenBigrams(GraftBridge.expression(text)))
}
