package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** The 32-bit SimHash of a token array, fused into one native per-ROW
  * expression: for each element, md5 digest → 32-bit base hash, vote
  * ±1 per bit, signature bit set where the tally is non-negative —
  * the identical arithmetic as the grouped 32-column `sum(when)`
  * aggregate the oracle replays (SimHashArrSpec pins equality), but
  * computed as a projection: no
  * explode, no aggregation shuffle. Same null contract as
  * [[MinHashArr]]: an empty array yields NULL, replicating the
  * aggregate path's absent rows.
  */
case class SimHashArr(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"simhash_arr expects array<string>, got $t")
    }
  override def nullable: Boolean = true
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_arr"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else SimHashArr.compute(v.asInstanceOf[ArrayData])
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val tmp = ctx.freshName("simhashBoxed")
    ev.copy(code = code"""
      ${childGen.code}
      boolean ${ev.isNull} = true;
      long ${ev.value} = 0L;
      if (!${childGen.isNull}) {
        java.lang.Long $tmp = graft.functions.SimHashArr$$.MODULE$$.compute(
          ${childGen.value});
        if ($tmp != null) { ${ev.isNull} = false; ${ev.value} = $tmp.longValue(); }
      }""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SimHashArr {
  /** Null when no non-null element exists (empty or all-null array) —
    * mirrors [[MinHashArr.compute]]'s absence contract. */
  def compute(arr: ArrayData): java.lang.Long = {
    val votes = new Array[Int](32)
    val md = java.security.MessageDigest.getInstance("MD5")
    var e = 0
    var processed = 0
    val n = arr.numElements()
    while (e < n) {
      // SQL-callable on arbitrary array<string>: skip null elements
      // (the aggregate path's md5(null) rows were null-filtered too)
      if (arr.isNullAt(e)) { e += 1 }
      else {
      md.reset()
      val d = md.digest(arr.getUTF8String(e).getBytes)
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      var b = 0
      while (b < 32) {
        if (((h >> b) & 1L) == 1L) votes(b) += 1 else votes(b) -= 1
        b += 1
      }
      e += 1
      processed += 1
      }
    }
    if (processed == 0) return null
    var sig = 0L
    var b = 0
    while (b < 32) {
      if (votes(b) >= 0) sig |= 1L << b
      b += 1
    }
    java.lang.Long.valueOf(sig)
  }

  /** Column-API face of the expression. */
  def simhashArr(arr: Column): Column =
    GraftBridge.column(SimHashArr(GraftBridge.expression(arr)))
}
