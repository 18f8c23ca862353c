package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** The 16 MinHash minima of a token/shingle array, fused into one
  * native per-ROW expression: for each element, md5(prefix ++ elem),
  * base hash = first 4 digest bytes unsigned, then fold the 16
  * affine minima `min((h·aᵢ + bᵢ) mod 2³²)` — the identical family
  * and values as the grouped [[MinHashAgg]] path (MinHashArrSpec
  * pins band-table equality on the real corpus).
  *
  * Why it matters at scale: the aggregate formulation is
  * explode(tokens) → md5 → groupBy(id).agg — the explode multiplies
  * the row count by document length and the aggregation SHUFFLES all
  * of it. Per-row fusion turns the whole signature into a
  * projection: no explode, no pre-band shuffle — the LSH pipeline's
  * first wide operation becomes the band-key candidate join itself.
  *
  * Null contract: an EMPTY input array yields NULL (callers filter
  * it out), replicating the aggregate path where a doc with no
  * shingles simply never produced a row — a non-null "empty" minima
  * vector would otherwise band-join every shingle-less doc with
  * every other one.
  */
case class MinHashArr(child: Expression, prefix: String)
    extends UnaryExpression {

  private lazy val prefixBytes = prefix.getBytes("UTF-8")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"minhash_arr expects array<string>, got $t")
    }
  override def nullable: Boolean = true
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_arr"

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val v = child.eval(input)
    if (v == null) null
    else MinHashArr.compute(v.asInstanceOf[ArrayData], prefixBytes)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val childGen = child.genCode(ctx)
    val pfx = ctx.addReferenceObj("mhPrefix", prefixBytes, "byte[]")
    ev.copy(code = code"""
      ${childGen.code}
      boolean ${ev.isNull} = true;
      org.apache.spark.sql.catalyst.util.ArrayData ${ev.value} = null;
      if (!${childGen.isNull}) {
        ${ev.value} = graft.functions.MinHashArr$$.MODULE$$.compute(
          ${childGen.value}, $pfx);
        ${ev.isNull} = ${ev.value} == null;
      }""")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashArr {
  import graft.ops.Banding.{NumMinhash, mhA, mhB}
  private val Mod32Mask = 0xFFFFFFFFL // (h·a+b) mod 2^32 == & mask

  /** Null when no non-null element exists (empty or all-null array) —
    * the aggregate path's "no shingle rows" absence; a non-null
    * degenerate minima vector would band-join every such doc. */
  def compute(arr: ArrayData, prefix: Array[Byte]): ArrayData = {
    val minima = Array.fill(NumMinhash)(Long.MaxValue)
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
      md.update(prefix)
      md.update(arr.getUTF8String(e).getBytes)
      val d = md.digest()
      // first 8 hex chars = first 4 bytes, unsigned
      val h = ((d(0) & 0xffL) << 24) | ((d(1) & 0xffL) << 16) |
        ((d(2) & 0xffL) << 8) | (d(3) & 0xffL)
      var i = 0
      while (i < NumMinhash) {
        val m = (h * mhA(i) + mhB(i)) & Mod32Mask
        if (m < minima(i)) minima(i) = m
        i += 1
      }
      e += 1
      processed += 1
      }
    }
    if (processed == 0) null else new GenericArrayData(minima)
  }

  /** Column-API face of the expression. */
  def minhashArr(arr: Column, prefix: String): Column =
    GraftBridge.column(MinHashArr(GraftBridge.expression(arr), prefix))
}
