package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import graft.functions.{FreqCandidatesAgg, GramHashes, LongCosine, MinHashAgg, MinHashArr, NfcNormalize, PqAdc, PqEncode, QuantizedCosine, SimHashArr, SpanHashes, SrpBands, TokenBigrams, TokenMask, TokenSetSig, ZValue}

/** SparkSessionExtensions entry point: the one place graft's native
  * expressions become SQL functions. [[Sessions.tune]] installs it
  * through the static conf
  * {{{ spark.sql.extensions=graft.GraftExtensions }}}
  * — the standard deployment route for cluster-wide custom functions
  * (no code changes in user jobs; `SELECT quantized_cosine(a, b)`
  * and `SELECT minhash_agg(h) ... GROUP BY ...` just resolve) — so
  * every session a graft harness builds resolves every name below.
  * The conf is static: it takes effect on the builder that creates
  * the JVM's SparkContext, and every session on that context.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def inject(ext: SparkSessionExtensions, name: String,
                     clazz: Class[_], builder: Seq[Expression] => Expression): Unit =
    ext.injectFunction((
      new FunctionIdentifier(name),
      new ExpressionInfo(clazz.getName, name),
      builder))

  override def apply(ext: SparkSessionExtensions): Unit = {
    inject(ext, "quantized_cosine", classOf[QuantizedCosine],
      exprs => QuantizedCosine(exprs(0), exprs(1)))
    inject(ext, "long_cosine", classOf[LongCosine],
      exprs => LongCosine(exprs(0), exprs(1)))
    // aggregate builders return the AggregateFunction itself — the
    // analyzer wraps it in an AggregateExpression
    inject(ext, "minhash_agg", classOf[MinHashAgg],
      exprs => MinHashAgg(exprs.head))
    // freq_candidates(tok[, k-literal]) — Misra-Gries heavy-hitter
    // candidate summary, k counters (default 100)
    inject(ext, "freq_candidates", classOf[FreqCandidatesAgg], {
      case Seq(tok) => FreqCandidatesAgg(tok)
      case Seq(tok, Literal(k: Int, _)) => FreqCandidatesAgg(tok, k)
      case exprs => throw new IllegalArgumentException(
        s"freq_candidates(string[, k-int-literal]) — got ${exprs.length} args")
    })
    inject(ext, "srp_bands", classOf[SrpBands],
      exprs => SrpBands(exprs.head))
    inject(ext, "token_bigrams", classOf[TokenBigrams],
      exprs => TokenBigrams(exprs.head))
    // span_hashes(text, w[, winnow]) — distinct w-token-window md5s
    inject(ext, "span_hashes", classOf[SpanHashes], SpanHashes.builder)
    // gram_hashes(text, n | nMin, nMax) — positional window md5s
    inject(ext, "gram_hashes", classOf[GramHashes], GramHashes.builder)
    // nfc_normalize(text) — UAX #15 canonical composition
    inject(ext, "nfc_normalize", classOf[NfcNormalize], NfcNormalize.builder)
    inject(ext, "token_mask", classOf[TokenMask],
      exprs => TokenMask(exprs.head))
    inject(ext, "token_set_sig", classOf[TokenSetSig],
      exprs => TokenSetSig(exprs.head))
    inject(ext, "simhash_arr", classOf[SimHashArr],
      exprs => SimHashArr(exprs.head))
    // z_value(x, y) — 62-bit Morton interleave for Z-order layout
    inject(ext, "z_value", classOf[ZValue],
      exprs => ZValue(exprs(0), exprs(1)))
    // minhash_arr(arr, 'prefix') — the hash-family prefix must be a
    // string literal (it is burned into the expression instance)
    inject(ext, "minhash_arr", classOf[MinHashArr], {
      case Seq(arr) => MinHashArr(arr, "")
      case Seq(arr, Literal(p: org.apache.spark.unsafe.types.UTF8String, _)) =>
        MinHashArr(arr, p.toString)
      case exprs => throw new IllegalArgumentException(
        s"minhash_arr(array<string>[, prefix-literal]) — got ${exprs.length} args")
    })
    // pq_encode(qv, cbflat, m, k, subDim) / pq_adc(qq, codes, cbflat,
    // m, k, subDim) — the PQ geometry is burned into the expression,
    // so the shape args must be int literals
    inject(ext, "pq_encode", classOf[PqEncode], {
      case Seq(qv, cb, Literal(m: Int, _), Literal(k: Int, _),
               Literal(s: Int, _)) => PqEncode(qv, cb, m, k, s)
      case exprs => throw new IllegalArgumentException(
        "pq_encode(array<bigint>, array<bigint>, m-lit, k-lit, " +
          s"subDim-lit) — got ${exprs.length} args")
    })
    inject(ext, "pq_adc", classOf[PqAdc], {
      case Seq(qq, codes, cb, Literal(m: Int, _), Literal(k: Int, _),
               Literal(s: Int, _)) => PqAdc(qq, codes, cb, m, k, s)
      case exprs => throw new IllegalArgumentException(
        "pq_adc(array<bigint>, array<int>, array<bigint>, m-lit, " +
          s"k-lit, subDim-lit) — got ${exprs.length} args")
    })
  }
}
