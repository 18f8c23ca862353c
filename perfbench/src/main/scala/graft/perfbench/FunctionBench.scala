package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.functions._

/** Rows per second of each native expression of `graft.functions`,
  * projected over a cached, [[Copies]]-fold copy of `documents` or
  * `embeddings` into the `noop` sink (median of [[Reps]] timings). */
object FunctionBench {
  val Copies = 8
  val Reps = 3
  // product quantizer of the micro-benchmark: 8 sub-spaces x 16 codes x 8 dims
  private val M = 8; private val K = 16; private val Sub = 8

  val Names: Seq[String] = Seq("minhash_arr", "simhash_arr", "srp_bands",
    "token_bigrams", "token_set_sig", "token_mask", "span_hashes",
    "gram_hashes", "gopher_panel", "long_cosine", "quantized_cosine",
    "pq_encode", "pq_adc")

  def run(ctx: Ctx): Map[String, Double] = {
    val spark = ctx.spark
    val copies = explode(sequence(lit(1), lit(Copies))).as("copy")
    val docs = Tables.documents(spark, ctx.o.dataDir)
      .select(col("doc_id"), col("text"), copies)
      .withColumn("arr", graft.ops.Cols.tokenSet(col("text"))).persist()
    val qv = transform(col("embedding"), x => floor(x * lit(1000)).cast("long"))
    val vecs0 = Tables.embeddings(spark, ctx.o.dataDir)
      .select(col("vec_id"), col("embedding"), qv.as("qv"), copies)
    // codebook: the first K vectors' slices as code words, (sub, code) major
    val words = vecs0.filter(col("copy") === 1 && col("vec_id") < K)
      .orderBy(col("vec_id")).select(col("qv")).collect()
      .map(_.getSeq[Long](0).toIndexedSeq)
    val cb = (for (m <- 0 until M; k <- 0 until K; j <- 0 until Sub)
      yield words(k)(m * Sub + j)).toArray
    val ref = vecs0.filter(col("copy") === 1 && col("vec_id") === 0)
      .select(col("embedding"), col("qv")).head()
    val refEmb = typedLit(ref.getSeq[Float](0).toArray)
    val refQv = typedLit(ref.getSeq[Long](1).toArray)
    val cbLit = typedLit(cb)
    val vecs = vecs0.withColumn("codes",
      PqEncode.pqEncode(col("qv"), cbLit, M, K, Sub)).persist()
    try {
      val nDocs = docs.count(); val nVecs = vecs.count()
      def rate(df: DataFrame, e: Column, n: Long): Double = {
        val secs = (1 to Reps).map { _ =>
          val t0 = System.nanoTime()
          Workloads.sink(df.select(e.as("out")))
          (System.nanoTime() - t0) / 1e9
        }
        n / Stats.median(secs)
      }
      val t = col("text")
      Map(
        "minhash_arr" -> rate(docs, MinHashArr.minhashArr(col("arr"), "t:"), nDocs),
        "simhash_arr" -> rate(docs, SimHashArr.simhashArr(col("arr")), nDocs),
        "srp_bands" -> rate(vecs, SrpBands.srpBands(col("embedding")), nVecs),
        "token_bigrams" -> rate(docs, TokenBigrams.tokenBigrams(t), nDocs),
        "token_set_sig" -> rate(docs, TokenSetSig.tokenSetSig(t), nDocs),
        "token_mask" -> rate(docs, TokenMask.tokenMask(t), nDocs),
        "span_hashes" -> rate(docs, SpanHashes.spanHashes(t, 8), nDocs),
        "gram_hashes" -> rate(docs, GramHashes.gramHashes(t, 5, 10), nDocs),
        "gopher_panel" -> rate(docs, GopherPanel.gopherPanel(t, 1), nDocs),
        "long_cosine" -> rate(vecs, LongCosine.longCosine(col("qv"), refQv), nVecs),
        "quantized_cosine" -> rate(vecs,
          QuantizedCosine.quantizedCosine(col("embedding"), refEmb), nVecs),
        "pq_encode" -> rate(vecs, PqEncode.pqEncode(col("qv"), cbLit, M, K, Sub), nVecs),
        "pq_adc" -> rate(vecs, PqAdc.pqAdc(refQv, col("codes"), cbLit, M, K, Sub), nVecs))
    } finally { docs.unpersist(); vecs.unpersist() }
  }
}
