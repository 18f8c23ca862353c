package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.types.{ArrayType, DataType, FloatType, LongType}

/** The 8 SRP-LSH band bytes of an embedding, as one native codegen'd
  * expression: quantize the float vector once (FLOOR(x·1000), the
  * same quantization as [[QuantizedCosine]]), take the sign of its
  * dot product with each of 64 fixed hyperplanes, and pack the signs
  * into 8 bytes of 8 bits. Returns `array<long>` of length 8 — ready
  * for `posexplode` into the (band, byte) candidate join.
  *
  * Semantically identical to the 64-chain higher-order-function
  * composition `aggregate(zip_with(qv, coef_i, _*_), 0, _+_) >= 0`
  * (SrpBandsSpec pins bit-identity on real data), but one fused loop
  * over the vector instead of 128 interpreted lambda passes per row —
  * the signature projection is the per-row cost that dominates an
  * SRP scan at corpus scale, so it must live inside whole-stage
  * codegen like any other hot scalar.
  *
  * The hyperplane matrix is a build-time constant derived from md5
  * ([[SrpBands.matrix]]): coefficient (i,j) = hex32(md5("p:i:j")) %
  * 2001 − 1000. No fitting step, no global coordination — every
  * executor at any cluster size carries the same few-KB matrix in
  * the expression's reference array.
  */
case class SrpBands(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"srp_bands expects array<float>, got $t")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def prettyName: String = "srp_bands"

  // Dim contract: the hyperplane family is fixed at 64 coefficients,
  // and the spec-pinned HOF baseline null-pads (zip_with) where this
  // loop would truncate — the two agree ONLY at exactly-64-dim input.
  // Off-dim vectors therefore yield NULL (dropped from banding by the
  // callers' explode) instead of a silently-divergent signature.
  override def nullSafeEval(input: Any): Any = {
    val v = input.asInstanceOf[ArrayData]
    if (v.numElements() != SrpBands.Dim) return null
    val mat = SrpBands.flatMatrix
    val dim = SrpBands.Dim
    val qv = new Array[Long](dim)
    var k = 0
    while (k < dim) {
      qv(k) = math.floor(v.getFloat(k) * 1000.0).toLong
      k += 1
    }
    val bands = new Array[Long](SrpBands.Bands)
    var p = 0
    while (p < SrpBands.Planes) {
      var dot = 0L
      var j = 0
      val off = p * SrpBands.Dim
      while (j < dim) { dot += qv(j) * mat(off + j); j += 1 }
      if (dot >= 0) bands(p / SrpBands.BandBits) |= 1L << (p % SrpBands.BandBits)
      p += 1
    }
    new GenericArrayData(bands)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, v => {
      val mat = ctx.addReferenceObj("srpMat", SrpBands.flatMatrix, "long[]")
      val dim = ctx.freshName("dim")
      val qv = ctx.freshName("qv")
      val bands = ctx.freshName("bands")
      val dot = ctx.freshName("dot")
      val off = ctx.freshName("off")
      val p = ctx.freshName("p")
      val j = ctx.freshName("j")
      val k = ctx.freshName("k")
      s"""
        if ($v.numElements() != ${SrpBands.Dim}) {
          ${ev.isNull} = true;
        } else {
          int $dim = ${SrpBands.Dim};
          long[] $qv = new long[$dim];
          for (int $k = 0; $k < $dim; $k++) {
            $qv[$k] = (long) java.lang.Math.floor($v.getFloat($k) * 1000.0);
          }
          long[] $bands = new long[${SrpBands.Bands}];
          for (int $p = 0; $p < ${SrpBands.Planes}; $p++) {
            long $dot = 0L;
            int $off = $p * ${SrpBands.Dim};
            for (int $j = 0; $j < $dim; $j++) {
              $dot += $qv[$j] * $mat[$off + $j];
            }
            if ($dot >= 0L) {
              $bands[$p / ${SrpBands.BandBits}] |= 1L << ($p % ${SrpBands.BandBits});
            }
          }
          ${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($bands);
        }
      """
    })

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SrpBands {
  val Planes = 64
  val Dim = 64
  val Bands = 8
  val BandBits = Planes / Bands

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** coef(i)(j) = hex32(md5("p:i:j")) % 2001 − 1000 ∈ [−1000, 1000] —
    * the md5-seeded deterministic hyperplane family shared with the
    * oracle SQL (which embeds the same numbers as literals). */
  lazy val matrix: IndexedSeq[IndexedSeq[Long]] =
    (0 until Planes).map { i =>
      (0 until Dim).map { j =>
        java.lang.Long.parseLong(md5Hex(s"p:$i:$j").take(8), 16) % 2001L - 1000L
      }
    }

  /** Row-major flat copy for the fused loops. */
  lazy val flatMatrix: Array[Long] = matrix.flatten.toArray

  /** Column-API face of the expression. */
  def srpBands(v: Column): Column =
    GraftBridge.column(SrpBands(GraftBridge.expression(v)))
}
