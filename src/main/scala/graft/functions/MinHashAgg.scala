package graft.functions

import graft.ops.Banding
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}
import java.nio.ByteBuffer

/** All-in-one MinHash aggregate: for an input column of 32-bit base
  * hashes `h`, maintains the 16 affine-family minima
  * `min((h·aᵢ + bᵢ) mod 2³²)` in ONE fixed-width buffer — the
  * custom-UDAF alternative to sixteen separate `min(...)` aggregate
  * columns (identical values; one 16-long buffer per group instead
  * of sixteen agg states, and 16× fewer aggregate expressions for
  * codegen to carry).
  *
  * The (aᵢ, bᵢ) family is [[graft.ops.Banding]]'s — the
  * textbook single-base-hash construction: one md5-derived hash per
  * token, 16 affine transforms. aᵢ·h < 2⁵², so the arithmetic is
  * exact in longs (and in the doubles an oracle might route
  * through). Output: array<long> of the 16 minima, ordered by i.
  */
case class MinHashAgg(
    child: Expression,
    numHashes: Int = 16,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Long]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_agg"

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(
      s"minhash_agg expects a bigint hash column, got $t")
  }

  override def createAggregationBuffer(): Array[Long] =
    Array.fill(numHashes)(Long.MaxValue)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) {
      val h = v.asInstanceOf[Long]
      var i = 0
      while (i < numHashes) {
        val m = (h * Banding.mhA(i) + Banding.mhB(i)) % Banding.Mod32
        if (m < buf(i)) buf(i) = m
        i += 1
      }
    }
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < numHashes) {
      if (other(i) < buf(i)) buf(i) = other(i)
      i += 1
    }
    buf
  }

  override def eval(buf: Array[Long]): Any = new GenericArrayData(buf)

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 * numHashes)
    buf.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = ByteBuffer.wrap(bytes)
    Array.fill(numHashes)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MinHashAgg =
    copy(child = newChildren.head)
}

object MinHashAgg {
  /** Column-API face: `minhashAgg($"h")` in a `groupBy(...).agg`. */
  def minhashAgg(h: Column, numHashes: Int = 16): Column =
    GraftBridge.column(
      MinHashAgg(GraftBridge.expression(h), numHashes).toAggregateExpression())
}
