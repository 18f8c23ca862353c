package graft.functions

import java.security.MessageDigest

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Distinct md5 hashes of every `w`-token window of a
  * whitespace-tokenized text, fused into one native expression.
  * Bit-identical to the HOF composition it replaces
  * ([[graft.queries.Extensions]] x45/x51:
  * `array_distinct(transform(sequence(0, n-w),
  * i -> md5(array_join(slice(tk, i+1, w), " "))))` guarded by
  * `when(size(tk) >= w, …)`, optionally filtered by
  * `conv(substr(h,1,8),16,10) % winnow = 0` — SpanHashesSpec pins
  * equality on the real corpus plus edge fixtures), but in ONE pass
  * per row: no token-array materialization, no per-window slice copy
  * + re-join (the O(n·w) string rebuilds), no interpreted lambda per
  * window — the digest is fed token bytes incrementally. Span
  * hashing is the per-row cost of substring-level dedup (x45) and
  * the span-sharing graph build (x51), so like [[PqEncode]] it
  * belongs in generated code, not in HOF interpretation.
  *
  * Tokenization contract (matches `split(text, ' ')`): Java
  * `String.split(" ", -1)` — consecutive spaces yield empty tokens,
  * trailing empties kept. Texts with fewer than `w` tokens yield an
  * empty array, exactly as the `when(size >= w, …)` guard does.
  *
  * Winnowing contract (matches the `conv`-based filter): keep a
  * window iff the UNSIGNED value of its digest's first 4 bytes
  * (= first 8 hex chars) is ≡ 0 (mod winnow) — content-defined, so
  * the same window text survives identically at any offset in any
  * document. `winnow = 1` keeps every window.
  */
case class SpanHashes(child: Expression, w: Int, winnow: Int)
    extends UnaryExpression {
  require(w >= 1, s"span_hashes: w must be >= 1, got $w")
  require(winnow >= 1, s"span_hashes: winnow must be >= 1, got $winnow")

  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case StringType => TypeCheckResult.TypeCheckSuccess
      case t => TypeCheckResult.TypeCheckFailure(
        s"span_hashes expects string, got $t")
    }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "span_hashes"

  override def nullSafeEval(input: Any): Any =
    SpanHashes.compute(input.asInstanceOf[UTF8String], w, winnow)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.SpanHashes$$.MODULE$$.compute($c, $w, $winnow);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object SpanHashes {
  private val md = new ThreadLocal[MessageDigest] {
    override def initialValue(): MessageDigest = MessageDigest.getInstance("MD5")
  }
  private val Hex = "0123456789abcdef".getBytes
  private val Space = Array[Byte](' ')

  /** One fused pass: split once, md5 each w-token window (tokens
    * joined by a single space, digested incrementally), winnow on the
    * first 4 digest bytes, first-occurrence-ordered distinct out. */
  def compute(text: UTF8String, w: Int, winnow: Int): ArrayData = {
    val toks = text.toString.split(" ", -1)
    val n = toks.length
    if (n < w) return new GenericArrayData(Array.empty[Any])
    val digest = md.get()
    val seen = new java.util.LinkedHashSet[UTF8String]((n - w + 1) * 2)
    // token UTF-8 bytes, encoded once each instead of once per window
    val tb = new Array[Array[Byte]](n)
    var t = 0
    while (t < n) {
      tb(t) = toks(t).getBytes(java.nio.charset.StandardCharsets.UTF_8)
      t += 1
    }
    var i = 0
    while (i <= n - w) {
      digest.reset()
      var j = 0
      while (j < w) {
        if (j > 0) digest.update(Space)
        digest.update(tb(i + j))
        j += 1
      }
      val dg = digest.digest()
      val keep = winnow == 1 || {
        val v = ((dg(0) & 0xffL) << 24) | ((dg(1) & 0xffL) << 16) |
          ((dg(2) & 0xffL) << 8) | (dg(3) & 0xffL)
        v % winnow == 0
      }
      if (keep) {
        val hx = new Array[Byte](32)
        var b = 0
        while (b < 16) {
          val x = dg(b) & 0xff
          hx(2 * b) = Hex(x >>> 4)
          hx(2 * b + 1) = Hex(x & 15)
          b += 1
        }
        seen.add(UTF8String.fromBytes(hx))
      }
      i += 1
    }
    val out = new Array[Any](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  /** Column-API face of the expression. */
  def spanHashes(text: Column, w: Int, winnow: Int = 1): Column =
    GraftBridge.column(SpanHashes(GraftBridge.expression(text), w, winnow))

  private[graft] def builder: Seq[Expression] => Expression = {
    // any FOLDABLE integral expression works as a width/winnow arg:
    // SQL integer literals arrive as IntegerType, but 8L is a BIGINT
    // literal and 4+4 a foldable Add — all legitimate constant calls
    def intArg(e: Expression, what: String): Int = {
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      if (!e.foldable) throw new IllegalArgumentException(
        s"span_hashes: $what must be a constant, got non-foldable ${e.sql}")
      e.eval() match {
        case i: Int => i
        case l: Long if l.isValidInt => l.toInt
        case s: Short => s.toInt
        case b: Byte => b.toInt
        case v => throw new IllegalArgumentException(
          s"span_hashes: $what must be an integer constant, got $v" +
            s" (${e.dataType.simpleString}; expected one of " +
            Seq(ByteType, ShortType, IntegerType, LongType)
              .map(_.simpleString).mkString("/") + ")")
      }
    }
    {
      case Seq(text, w) => SpanHashes(text, intArg(w, "width"), 1)
      case Seq(text, w, k) =>
        SpanHashes(text, intArg(w, "width"), intArg(k, "winnow"))
      case exprs => throw new IllegalArgumentException(
        s"span_hashes(text, width[, winnow]) takes 2 or 3 args — got ${exprs.length}")
    }
  }
}
