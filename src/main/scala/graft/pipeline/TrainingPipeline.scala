package graft.pipeline

import graft.Cached
import graft.ops.Cols.tokenSetSig
import graft.queries.Extensions
import graft.streaming.DocStreams
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** End-to-end training-corpus preparation as ONE composable lazy
  * DataFrame program — the gate operators (x01/x24/x26/x25/x27/x23)
  * chained the way a production pipeline runs them:
  *
  *   dedup → decontaminate → quality-filter → stratified sample
  *         → shuffle into shards → pack into context windows
  *
  * Every stage is a lazy `DataFrame => DataFrame`, so Catalyst
  * optimizes across stage boundaries (filters merge into one
  * scan-side conjunction; the two shard windows share one
  * shuffle+sort); [[prepare]] materializes exactly one checkpoint,
  * the survivor set. Total wide operations for the whole pipeline:
  * three — the signature window, the stratum-count aggregation
  * (whose output is tiny and broadcasts back), and the shard
  * window. Everything else is scan-side projection/filtering. At
  * 100 TB each wide op is bounded: dedup classes are document-sized,
  * strata are enum-sized, shards are constant-sized by config.
  */
object TrainingPipeline {

  final case class Config(
      benchBigrams: Seq[String] = Nil, // decontamination n-gram set (small!)
      targetPerLang: Long = 100L,      // stratum cap, expected docs
      maxDupFrac: Double = 0.3,        // x26 repetition cutoff
      numShards: Long = 32L,           // sized so one shard ≈ one task
      packLen: Long = 512L,            // context window, tokens
      redactPii: Boolean = true)       // x32 scrub before any hashing

  /** Keep the min-doc_id representative of every exact token-set
    * class (x01/x02 semantics). One shuffle on the signature. */
  def exactDedup(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("sig")).orderBy(col("doc_id"))
    docs.withColumn("sig", tokenSetSig(col("text")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("sig", "rn")
  }

  /** Drop docs sharing any token bigram with the benchmark set (x24
    * semantics, filter form). The set rides as a literal — KB-MB by
    * nature — so the corpus never shuffles. */
  def decontaminate(docs: DataFrame, benchBigrams: Seq[String]): DataFrame =
    if (benchBigrams.isEmpty) docs
    else docs.filter(!arrays_overlap(Extensions.bigramsExpr,
      typedLit(benchBigrams)))

  /** Drop docs whose duplicate-bigram fraction exceeds the cutoff
    * (x26 semantics). Pure per-row arithmetic. */
  def qualityFilter(docs: DataFrame, maxDupFrac: Double): DataFrame = {
    val nTok = size(split(col("text"), " ")).cast("long")
    val dupFrac = lit(1.0) -
      size(Extensions.bigramsExpr).cast("double") / (nTok - 1)
    docs.filter(nTok >= 2 && dupFrac <= maxDupFrac)
  }

  /** Cap each language stratum (x25 semantics — deterministic
    * md5-bucket keep decision, rates broadcast back). */
  def stratifiedSample(docs: DataFrame, targetPerLang: Long): DataFrame =
    DocStreams.stratifiedSample(docs,
        DocStreams.strataRates(docs, targetPerLang))
      .drop("bucket", "rate_pm")

  /** PII-scrub the text column in place (x32 semantics — same regex
    * constants and replacement order). Pure per-row projection; runs
    * before any hashing stage so dedup classes and placement keys are
    * computed over the text the trainer will actually see. */
  def redact(docs: DataFrame): DataFrame =
    docs.withColumn("text", Extensions.piiRedacted(col("text")))

  /** Encode each surviving doc's tokens as vocabulary ids (x33
    * semantics: x31's frequency-rank vocab, OOV → 0). The vocab is
    * built from the SURVIVORS — constant-K, broadcast — and the ids
    * ride along as an array column, position-aligned with the packed
    * token stream. */
  def encodeTokens(docs: DataFrame, vocabK: Int = 100,
                   minCount: Long = 5L): DataFrame = {
    val counts = docs.select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
    val w = Window.orderBy(col("cnt").desc, col("tok"))
    val vocab = counts.orderBy(col("cnt").desc, col("tok")).limit(vocabK)
      .withColumn("tok_id", row_number().over(w).cast("long"))
      .select(col("tok"), col("tok_id"))
    // map-side: explode positions, broadcast-join the vocab, regroup
    // in position order — the per-doc group is doc-length-bounded
    val ids = docs
      .select(col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .join(broadcast(vocab), Seq("tok"), "left_outer")
      .groupBy(col("doc_id"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), col("tok_id")))),
        s => coalesce(s.getField("tok_id"), lit(0L))).as("tok_ids"))
    docs.join(ids, "doc_id")
  }

  /** Shuffle into training shards and pack into fixed-length context
    * windows (x27 + x23 semantics). The rank window and the
    * running-offset window share partitioning AND ordering, so
    * Catalyst plans them over ONE shuffle + sort. */
  def shuffleAndPack(docs: DataFrame, numShards: Long,
                     packLen: Long): DataFrame = {
    val keyed = docs
      .withColumn("skey", Extensions.hex32(
        md5(concat(lit("sh:"), col("doc_id").cast("string")))))
      .withColumn("shard", col("skey") % numShards)
      .withColumn("n_tok", size(split(col("text"), " ")).cast("long"))
    val order = Window.partitionBy(col("shard"))
      .orderBy(col("skey"), col("doc_id"))
    val offsets = order.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    keyed
      .withColumn("pos", row_number().over(order).cast("long"))
      .withColumn("start", sum(col("n_tok")).over(offsets) - col("n_tok"))
      .withColumn("pack_seq", floor(col("start") / lit(packLen)).cast("long"))
      .withColumn("pack_off", col("start") % lit(packLen))
      .drop("skey", "start")
  }

  /** The whole pipeline. Output: surviving docs with (shard, pos,
    * n_tok, pack_seq, pack_off) placement columns.
    *
    * The survivor set is filled ([[graft.Cached.fill]]) before
    * sampling: the stratum-rate aggregation is a broadcast subtree
    * over the same survivors as the main branch, and a racing cold
    * read would recompute the whole dedup+filter chain. The survivors
    * are the natural pipeline checkpoint: dedup classes, not raw
    * documents. */
  def prepare(docs: DataFrame, cfg: Config = Config()): DataFrame = {
    val scrubbed = if (cfg.redactPii) redact(docs) else docs
    val survivors = Cached.fill(qualityFilter(
      decontaminate(exactDedup(scrubbed), cfg.benchBigrams), cfg.maxDupFrac))
    shuffleAndPack(stratifiedSample(survivors, cfg.targetPerLang),
      cfg.numShards, cfg.packLen)
  }

  /** The STREAMING-LEGAL prefix of [[prepare]] — redact → exact dedup
    * → decontaminate → quality-filter → stratified sample — as one
    * composed transform over a streaming (doc_id, lang, text) frame,
    * preserving the batch pipeline's ORDERING effects (redact runs
    * before any hashing, so dedup classes are computed over the text
    * the trainer sees — two documents differing only in scrubbed PII
    * are ONE class in both engines; DocStreamsSpec pins the composed
    * equality on the real corpus across arbitrary batch splits).
    *
    * The SURVIVOR-SET CHECKPOINT is the batch/stream boundary:
    *  - everything up to sampling is per-row or per-class
    *    (dedup via [[graft.streaming.DocStreams.dedupFirstStream]],
    *    batch-equal under id-ascending arrival) and runs at ingest;
    *  - the stratum RATES are a marginal-global statistic of the
    *    survivor set, so the stream applies them FROZEN (`rates` —
    *    compute with [[graft.streaming.DocStreams.strataRates]] at
    *    the last survivor checkpoint, exactly how the frozen-model
    *    twins ship their models);
    *  - shard placement ([[shuffleAndPack]]) ranks the COMPLETE
    *    sampled set and stays batch — it runs when a training run is
    *    cut, never at ingest. */
  def streamingPrefix(docs: DataFrame, cfg: Config,
                      rates: DataFrame): DataFrame = {
    val scrubbed = if (cfg.redactPii) redact(docs) else docs
    val filtered = qualityFilter(
      decontaminate(DocStreams.dedupFirstStream(scrubbed), cfg.benchBigrams),
      cfg.maxDupFrac)
    DocStreams.stratifiedSample(filtered, rates).drop("bucket", "rate_pm")
  }
}
