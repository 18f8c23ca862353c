package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** POSITIONAL md5 hashes of every n-token window of a whitespace-
  * tokenized text, for every n in [nMin, nMax], fused into one
  * native pass — [[SpanHashes]]' positional multi-n sibling. Returns
  * `array<struct<n:int, i:int, g:string>>` (window size, 0-based
  * start position, 32-hex digest), bit-identical per element to the
  * HOF composition it replaces
  * (`md5(concat_ws(' ', slice(split(text, ' '), i + 1, n)))` — the
  * x88 scrub / x96 Gopher construction; GramHashesSpec pins the
  * equality on the real corpus plus edge fixtures), but with the
  * tokens UTF-8-encoded once and the digest fed bytes incrementally:
  * no per-window slice copy, no per-window join string, no
  * interpreted lambda. Window hashing is the per-row cost of the
  * whole substring-dedup family (x88/x89/x94 scrubs, x96's 9-n
  * repetition panel), which is why it belongs in generated code.
  *
  * Tokenization contract matches `split(text, ' ')` (Java
  * `split(" ", -1)`): consecutive spaces yield empty tokens,
  * trailing empties kept. A text with fewer than n tokens
  * contributes no windows for that n. */
case class GramHashes(child: Expression, nMin: Int, nMax: Int)
    extends UnaryExpression {
  require(nMin >= 1 && nMax >= nMin,
    s"gram_hashes: need 1 <= nMin <= nMax, got ($nMin, $nMax)")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"gram_hashes expects string, got $t")
    }
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("n", IntegerType, nullable = false),
      StructField("i", IntegerType, nullable = false),
      StructField("g", StringType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "gram_hashes"

  override def nullSafeEval(input: Any): Any =
    GramHashes.compute(input.asInstanceOf[UTF8String], nMin, nMax)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.GramHashes$$.MODULE$$" +
        s".compute($c, $nMin, $nMax);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object GramHashes {
  private val md = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }
  private val Hex = "0123456789abcdef".getBytes
  private val Space = Array[Byte](' ')

  def compute(text: UTF8String, nMin: Int, nMax: Int): ArrayData = {
    val toks = text.toString.split(" ", -1)
    val len = toks.length
    val digest = md.get()
    // token UTF-8 bytes, encoded once each instead of once per window
    val tb = new Array[Array[Byte]](len)
    var t = 0
    while (t < len) {
      tb(t) = toks(t).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      t += 1
    }
    var total = 0
    var n = nMin
    while (n <= nMax) { total += math.max(len - n + 1, 0); n += 1 }
    val out = new Array[Any](total)
    var k = 0
    n = nMin
    while (n <= nMax) {
      var i = 0
      while (i <= len - n) {
        digest.reset()
        var j = 0
        while (j < n) {
          if (j > 0) digest.update(Space)
          digest.update(tb(i + j))
          j += 1
        }
        val dg = digest.digest()
        val hx = new Array[Byte](32)
        var b = 0
        while (b < 16) {
          val x = dg(b) & 0xff
          hx(2 * b) = Hex(x >>> 4)
          hx(2 * b + 1) = Hex(x & 15)
          b += 1
        }
        out(k) = new GenericInternalRow(
          Array[Any](n, i, UTF8String.fromBytes(hx)))
        k += 1
        i += 1
      }
      n += 1
    }
    new GenericArrayData(out)
  }

  /** Column-API face of the expression. */
  def gramHashes(text: Column, nMin: Int, nMax: Int): Column =
    GraftBridge.column(GramHashes(GraftBridge.expression(text), nMin, nMax))

  private[graft] def builder: Seq[Expression] => Expression = {
    // any FOLDABLE integral expression works (the span_hashes rule)
    def intArg(e: Expression, what: String): Int = {
      if (!e.foldable) throw new IllegalArgumentException(
        s"gram_hashes: $what must be a constant, got non-foldable ${e.sql}")
      e.eval() match {
        case i: Int => i
        case l: Long if l.isValidInt => l.toInt
        case s: Short => s.toInt
        case b: Byte => b.toInt
        case v => throw new IllegalArgumentException(
          s"gram_hashes: $what must be an integer constant, got $v")
      }
    }
    {
      case Seq(text, n) =>
        val v = intArg(n, "n"); GramHashes(text, v, v)
      case Seq(text, lo, hi) =>
        GramHashes(text, intArg(lo, "nMin"), intArg(hi, "nMax"))
      case exprs => throw new IllegalArgumentException(
        s"gram_hashes(text, n | nMin, nMax) takes 2 or 3 args — got ${exprs.length}")
    }
  }
}
