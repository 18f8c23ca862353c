package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Cosine over two ALREADY-quantized long vectors — the
  * `array<long>` twin of [[QuantizedCosine]] (which quantizes float
  * inputs itself). Bit-identical to the HOF composition
  * {{{ aggregate(zip_with(a, b, _*_), 0L, _+_) /
  *     (sqrt(aggregate(...)) * sqrt(aggregate(...))) }}}
  * — exact long dot/norms, one double division against a
  * sqrt·sqrt product — but one fused codegen loop instead of three
  * per-element interpreted HOF passes. This is the scorer under the
  * centroid-model paths (x38/x39/x47 assignment and pair joins),
  * where the HOF constant factor dominated the measured cost. */
case class LongCosine(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(LongType, _), ArrayType(LongType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"long_cosine expects two array<bigint> arguments, got $l / $r")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "long_cosine"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val n = math.min(a.numElements(), b.numElements())
    var dot = 0L; var na = 0L; var nb = 0L
    var i = 0
    while (i < n) {
      val qa = a.getLong(i)
      val qb = b.getLong(i)
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
          long $qa = $l.getLong($i);
          long $qb = $r.getLong($i);
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

object LongCosine {
  /** Column-API face. */
  def longCosine(a: Column, b: Column): Column =
    GraftBridge.column(LongCosine(
      GraftBridge.expression(a), GraftBridge.expression(b)))
}
