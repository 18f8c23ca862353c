package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Cosine similarity over FLOOR(x·1000) integer-quantized float
  * vectors, as one native codegen'd expression.
  *
  * Semantically identical to the built-in composition
  * {{{ aggregate(zip_with(qa, qb, _*_), 0L, _+_) /
  *     (sqrt(aggregate(...)) * sqrt(aggregate(...))) }}}
  * used by the kNN oracle queries — same quantization, same exact
  * integer dot/norms, same final `(double)dot / (sqrt(na)·sqrt(nb))`
  * shape — but one fused loop instead of three interpreted
  * higher-order-function passes (HOF lambdas evaluate per element
  * outside whole-stage codegen). On the 100 TB path this sits inside
  * the generated code of the scan-join stage, so the similarity scan
  * stays CPU-bound rather than allocation-bound.
  */
case class QuantizedCosine(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"quantized_cosine expects two array<float> arguments, got $l / $r")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "quantized_cosine"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0L; var na = 0L; var nb = 0L
    var i = 0
    while (i < n) {
      val qa = math.floor(a.getFloat(i) * 1000.0).toLong
      val qb = math.floor(b.getFloat(i) * 1000.0).toLong
      dot += qa * qb; na += qa * qa; nb += qb * qb
      i += 1
    }
    dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      val qa = ctx.freshName("qa")
      val qb = ctx.freshName("qb")
      s"""
        int $n = java.lang.Math.min($l.numElements(), $r.numElements());
        long $dot = 0L; long $na = 0L; long $nb = 0L;
        for (int $i = 0; $i < $n; $i++) {
          long $qa = (long) java.lang.Math.floor($l.getFloat($i) * 1000.0);
          long $qb = (long) java.lang.Math.floor($r.getFloat($i) * 1000.0);
          $dot += $qa * $qb; $na += $qa * $qa; $nb += $qb * $qb;
        }
        ${ev.value} = (double) $dot /
          (java.lang.Math.sqrt((double) $na) * java.lang.Math.sqrt((double) $nb));
      """
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object QuantizedCosine {
  /** Column-API face of the expression. */
  def quantizedCosine(a: Column, b: Column): Column =
    GraftBridge.column(
      QuantizedCosine(GraftBridge.expression(a), GraftBridge.expression(b)))
}
