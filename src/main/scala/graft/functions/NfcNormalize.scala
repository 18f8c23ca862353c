package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization as a native codegen expression — the
  * canonical-composition pass every text-ingest pipeline runs before
  * hashing or deduplicating: the SAME text arriving composed
  * ("café") and decomposed ("cafe" + U+0301) must collapse to one
  * byte sequence, or every downstream content hash (x01), shingle
  * (x14), span (x45) and signature treats them as distinct documents.
  * Spark ships no normalization built-in; a Scala UDF would pay
  * serialization per row — this is the (b)-tier native-Expression
  * route (java.text.Normalizer under generated code).
  *
  * Fast path: crawl corpora are overwhelmingly ASCII, and NFC is the
  * identity on ASCII — `Normalizer.isNormalized` (a cheap quick-check
  * scan) returns the INPUT UTF8String untouched, so the common row
  * costs one scan and zero allocations. Only rows containing
  * combining sequences pay the normalize + re-encode.
  *
  * Oracle parity: DuckDB's `nfc_normalize` implements the same UAX
  * #15 canonical composition, so normalized outputs hash-match
  * bit-for-bit (gate x65). */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"nfc_normalize expects string, got $t")
    }
  override def dataType: DataType = StringType
  override def prettyName: String = "nfc_normalize"

  override def nullSafeEval(input: Any): Any =
    NfcNormalize.compute(input.asInstanceOf[UTF8String])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NfcNormalize$$.MODULE$$.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NfcNormalize {
  import java.text.Normalizer

  /** NFC-normalize one value; already-normalized input (every ASCII
    * string) is returned by reference. */
  def compute(s: UTF8String): UTF8String = {
    val str = s.toString
    if (Normalizer.isNormalized(str, Normalizer.Form.NFC)) s
    else UTF8String.fromString(Normalizer.normalize(str, Normalizer.Form.NFC))
  }

  /** Column-API face of the expression. */
  def nfcNormalize(text: Column): Column =
    GraftBridge.column(NfcNormalize(GraftBridge.expression(text)))

  private[graft] def builder: Seq[Expression] => Expression = {
    case Seq(text) => NfcNormalize(text)
    case exprs => throw new IllegalArgumentException(
      s"nfc_normalize(text) takes 1 arg — got ${exprs.length}")
  }
}
