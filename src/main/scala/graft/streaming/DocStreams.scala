package graft.streaming

import graft.ops.Banding
import graft.queries.Extensions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming twins of the batch training-pipeline filters (x24
  * decontamination, x25 stratified sampling): an ingest stream is
  * flagged/filtered record-by-record with ZERO streaming state. The
  * small side — the benchmark n-gram set, the per-stratum rates — is
  * computed once from static data and shipped to every task (literal
  * array / broadcast stream-static join), so both operators run in
  * append mode with no watermark, no state store, and restart cleanly
  * from any offset. This is the production ingest shape: the 100 TB
  * corpus flows through stateless projections; only KB-sized side
  * inputs are ever held in memory.
  *
  * Reference behavior being generalized: the stateless map/filter
  * stages of `/root/reference/src/main/scala/FlinkAssignment.scala:54-76`.
  */
object DocStreams {

  /** Flag each streamed doc that shares any token bigram with the
    * benchmark set. `benchBigrams` is tiny by construction
    * (benchmarks are MBs against the corpus) and rides to executors
    * as a literal — the streaming equivalent of x24's broadcast
    * hash-join side. Column contract: input has (doc_id, text). */
  def decontamFlags(docs: DataFrame, benchBigrams: Seq[String]): DataFrame =
    docs.select(col("doc_id"),
      arrays_overlap(Extensions.bigramsExpr, typedLit(benchBigrams))
        .as("contaminated"))

  /** Per-stratum rate table from a STATIC corpus profile: permille
    * keep rate capping each `lang` stratum at ~target docs in
    * expectation — the same arithmetic as x25, exposed so a stream
    * can reuse a profile computed offline. */
  def strataRates(staticDocs: DataFrame, target: Long): DataFrame =
    staticDocs.groupBy(col("lang"))
      .agg(count(lit(1)).as("lang_cnt"))
      .select(col("lang"),
        least(lit(1000L), floor(lit((target * 1000).toDouble) /
          col("lang_cnt")).cast("long")).as("rate_pm"))

  /** Deterministic stratified sample of a doc stream: keep rows whose
    * md5 bucket (bit-identical to x25's) falls under the stratum's
    * permille rate. Stream-static broadcast equi-join + stateless
    * filter — the keep decision for a given doc is identical across
    * restarts, batch boundaries, and cluster sizes. */
  def stratifiedSample(docs: DataFrame, rates: DataFrame): DataFrame =
    docs.withColumn("bucket",
        Extensions.hex32(md5(concat(lit("s:"), col("doc_id").cast("string"))))
          % 1000)
      .join(broadcast(rates), "lang")
      .filter(col("bucket") < col("rate_pm"))

  /** Streaming EXACT token-set dedup with a DETERMINISTIC class
    * representative — the composed-pipeline twin of
    * [[graft.pipeline.TrainingPipeline.exactDedup]] (which keeps the
    * min-doc_id member of every class). `dropDuplicates` keeps an
    * ARBITRARY in-batch member, so a micro-batch carrying two class
    * members would make the stream diverge from batch
    * nondeterministically; this keeps the min-doc_id member WITHIN
    * each batch and first-batch-wins ACROSS batches — equal to the
    * batch rule whenever classes arrive id-ascending (the ingest
    * contract: doc ids are assigned monotonically at intake).
    * Column contract: (doc_id, lang, text) in, same out. State: one
    * empty marker per distinct class signature — the corpus's class
    * count, the same bound the batch dedup's shuffle carries;
    * unbounded over an infinite stream, so horizon-bounded ingest
    * should prefer [[exactDedupStream]] (watermark-evicted) and the
    * registry probe (x86) for dedup against deep history. */
  def dedupFirstStream(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs.select(col("doc_id"), col("lang"), col("text"),
        graft.ops.Cols.tokenSetSig(col("text")).as("sig"))
      .as[(Long, String, String, String)]
      .groupByKey(_._4)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, in: Iterator[(Long, String, String, String)],
         st: GroupState[Boolean]) =>
          if (st.exists) Iterator.empty
          else {
            st.update(true)
            Iterator.single(in.minBy(_._1))
          }
      }
      .map(t => (t._1, t._2, t._3)).toDF("doc_id", "lang", "text")
  }

  /** PII-scrub an ingest stream record-by-record: the x32 batch
    * projection (same regex constants, same replacement order —
    * bit-identical output) applied statelessly in append mode. Column
    * contract: input has (doc_id, rec); output adds per-category
    * counts and the redacted record. */
  def redactRecords(recs: DataFrame): DataFrame =
    recs.select(
      col("doc_id") +: (Extensions.piiCounts(col("rec")) :+
        Extensions.piiRedacted(col("rec")).as("redacted")): _*)

  /** Streaming twin of x01 exact dedup: the FIRST arrival of each
    * content hash within the event-time horizon survives; replays of
    * the same bytes are dropped. State is one row per distinct
    * in-horizon content hash and is evicted by the watermark —
    * bounded by the horizon's distinct-content volume, not stream
    * length (the same bounded-state contract as NearDup's band
    * reps). Built on `dropDuplicatesWithinWatermark`, so state
    * eviction is engine-managed, exactly-once under checkpointing.
    * Semantic note vs batch x01: batch keeps the smallest doc_id of
    * a class; the stream keeps the first ARRIVAL — same one-survivor-
    * per-class contract, arrival order decides the representative.
    * Column contract: input has (doc_id, text, ts). */
  def exactDedupStream(docs: DataFrame, horizon: String): DataFrame =
    docs.withColumn("content_md5", md5(col("text")))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("content_md5")

  /** Running corpus token counts — the streaming face of x31's
    * vocabulary frequency pass. A plain streaming aggregation: state
    * is one counter per DISTINCT TOKEN, i.e. vocabulary-sized —
    * bounded by the language, not the stream — which is exactly the
    * state a vocab builder must keep under any execution model. Use
    * update/complete output; downstream takes top-K per trigger. */
  def vocabCounts(docs: DataFrame): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))

  /** Streaming twin of x77's PPMI pair-count substrate: forward
    * skip-gram (offset 1 and 2) pair counts as a streaming
    * aggregation. State = one count per distinct pair TYPE —
    * vocab²-bounded like [[vocabCounts]], independent of stream
    * length — so the state store holds the collocation table itself,
    * not the corpus. PMI scoring is marginal-global (marginals and N
    * are rollups of this very table), so it stays a snapshot step:
    * apply `Extensions.pmiFromPairCounts` to the complete-mode
    * snapshot — DocStreamsSpec proves that composition equals batch
    * `ppmiPairs` on the real corpus across arbitrary batch splits. */
  def ppmiPairCountStream(docs: DataFrame): DataFrame =
    docs.select(split(col("text"), " ").as("tk"))
      .select(explode(graft.queries.Extensions.skipGramPairs).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("c_ab"))

  /** Streaming twin of x72's per-source signature terms: the
    * (source, term) → tf table as a plain streaming aggregation —
    * state is one counter per (source, term) TYPE, i.e. bounded by
    * Σ per-source vocabularies (the [[vocabCounts]] discipline at
    * source grain), independent of stream length. The scoring half
    * (sdf, n_src, the salted two-level exact top-k) is marginal-
    * global over this very table, so it stays a snapshot step: apply
    * `Extensions.signaturesFromTf` to the complete-mode snapshot —
    * DocStreamsSpec proves that composition equals batch x72 on the
    * real corpus across arbitrary batch splits. */
  def sourceTfStream(docs: DataFrame): DataFrame =
    docs.select(col("source"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("source"), col("term")).agg(count(lit(1)).as("tf"))

  /** Hard per-document token bound for [[gopherRepetitionStream]]'s
    * O(len²) per-row scans: a doc beyond it is scored on its first
    * `GopherStreamMaxTokens` tokens and FLAGGED (`truncated`), the
    * x54 cap discipline applied to length — bounded work per row, the
    * decision auditable downstream. 4096² gram compares ≈ 17M cheap
    * ops is the worst case per pathological row; without the cap one
    * adversarial multi-MB document stalls its executor core at
    * ingest. */
  val GopherStreamMaxTokens = 4096

  /** Streaming twin of x96's Gopher repetition panel: every signal
    * is an IN-DOC statistic (frequencies of a doc's own n-grams), so
    * the ingest form needs no corpus state at all — one stateless
    * per-row expression ([[graft.functions.GopherPanel]], the SAME
    * native pass the batch engine runs, linear in 9 x doc tokens)
    * computes (n_chars, rep_2..rep_10) permilles in append mode,
    * bit-identical to batch (DocStreamsSpec pins it on the real
    * corpus). Round 15 replaced the O(len^2)-per-doc HOF formulation
    * with the shared native pass; the `maxTokens` ingest cap stays —
    * bounded work per row is an ingest CONTRACT, not a workaround —
    * a doc over it is scored on its prefix and flagged `truncated`
    * (X96GopherSpec drives the adversarial long-doc fixture). */
  def gopherRepetitionStream(docs: DataFrame,
      maxTokens: Int = GopherStreamMaxTokens,
      dupWinnow: Int = graft.Knobs.GopherDupWinnowExact): DataFrame = {
    require(maxTokens >= 1, "maxTokens >= 1")
    require(dupWinnow >= 1, "dupWinnow >= 1")
    val p = graft.functions.GopherPanel.gopherPanel(
      col("text"), dupWinnow, maxTokens)
    docs.select(col("doc_id"), p.as("p"))
      .select(col("doc_id") +: col("p")("n_chars").as("n_chars") +:
        ((graft.queries.Extensions.GopherTopNs ++
          graft.queries.Extensions.GopherDupNs)
          .map(k => col("p")(s"rep_$k").as(s"rep_$k")) :+
          col("p")("truncated").as("truncated")): _*)
  }

  /** Streaming heavy-hitter CANDIDATES — x46's bounded-memory pass
    * as a streaming aggregation: ONE Misra-Gries summary row
    * ([[graft.functions.FreqCandidatesAgg]]) carried across batches
    * by the state store. Unlike [[vocabCounts]] the state is a single
    * k-counter buffer — constant, not vocabulary-sized — and the
    * mergeable-summaries combine keeps the guarantee cumulative:
    * after any prefix of the stream, every token above n/(k+1) of
    * the rows seen SO FAR is in the candidate array. Emit in
    * complete/update mode; pair with a periodic exact recount (the
    * x46 second pass) for exact heavy hitters. */
  def hhCandidates(docs: DataFrame, k: Int = 100): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("tok"))
      .agg(graft.functions.FreqCandidatesAgg.freqCandidates(col("tok"), k)
        .as("cand"))

  /** Encode a doc stream's tokens as vocabulary ids (the x33 /
    * `TrainingPipeline.encodeTokens` arithmetic) against a FROZEN
    * vocab — the production ingest reality: vocabularies are fixed
    * before training data flows, so the id of a token never depends
    * on stream history. The vocab rides as a map literal (constant-K
    * by construction, like x24's benchmark set), making the encoder
    * a pure per-row projection: zero streaming state, append mode,
    * restart-free, and bit-identical to the batch encoder for the
    * same vocab (DocStreamsSpec). OOV → 0. */
  def encodeStream(docs: DataFrame, vocab: Map[String, Long]): DataFrame =
    docs.select(col("doc_id"),
      transform(split(col("text"), " "),
        t => coalesce(element_at(typedLit(vocab), t), lit(0L)))
        .as("tok_ids"))

  /** Score a vector stream against a FROZEN centroid model — the
    * streaming face of x38's classifier, and the production shape of
    * model-based quality filtering at ingest: the model (a static
    * `(clabel, cv)` table, k×dim longs) is collapsed to one broadcast
    * row and every arriving vector is labeled argmax-quantized-cosine
    * in a stateless per-row projection. Append mode, no watermark, no
    * state store, bit-identical to the batch scorer for the same
    * model (DocStreamsSpec). Column contract: input has
    * (vec_id, qv: array<long>). */
  def classifyStream(vecs: DataFrame, cents: DataFrame): DataFrame =
    Extensions.nearestCentroid(vecs, cents)
      .select(col("vec_id"), col("pred"), col("cos"))

  /** Index-maintenance face of x80's IVF-PQ: assign each arriving
    * vector to its coarse cell and PQ-encode its residual against
    * FROZEN models (one-row centroid + codebook tables trained
    * offline — `Extensions.ivfPqCentModel`/`ivfPqCodebook`). Two
    * stateless broadcast projections, append mode, no state store;
    * the output (vec_id, cid, codes) is the stored index row, so at
    * scale this writer feeds the cid-partitioned storage the batch
    * ADC scan prunes on. Bit-identical to the batch encode for the
    * same models (DocStreamsSpec). Column contract: input has
    * (vec_id, qv: array<long>). */
  def ivfPqEncodeStream(vecs: DataFrame, cents: DataFrame,
                        rcb: DataFrame): DataFrame =
    Extensions.ivfPqEncodeDf(Extensions.ivfPqAssign(vecs, cents), rcb)
      .select(col("vec_id"), col("cid"), col("codes"))

  /** Ingest face of x81's DSIR importance weighting: score each
    * arriving doc against a FROZEN one-row bucket-weight model
    * (`Extensions.dsirWeightModel`, trained offline on a static
    * corpus + target slice) — one per-row HOF over a broadcast
    * 256-long array, append mode, no state. Bit-identical to the
    * batch scorer for the same model (DocStreamsSpec). Column
    * contract: input has (doc_id, text). */
  def dsirScoreStream(docs: DataFrame, model: DataFrame): DataFrame =
    Extensions.dsirScore(docs, model)
      .select(col("doc_id"), col("n_tok"), col("dsir_bits"))

  /** Streaming face of x84's OOV rate: arrivals scored against the
    * FROZEN top-V vocabulary (trained offline on a static corpus,
    * [[Extensions.oovVocab]]) — one per-row HOF membership scan over
    * the broadcast 1-row array, append mode, no state. Bit-identical
    * to the batch scorer on the same model (DocStreamsSpec). Column
    * contract: input has (doc_id, text); output (doc_id, n_tok, oov,
    * oov_permille). */
  def oovScoreStream(docs: DataFrame, voc: DataFrame): DataFrame =
    Extensions.oovScore(docs, voc)

  /** Streaming face of x85's prototypicality pruning: arrivals scored
    * against the FROZEN prototype model — per-label sum centroids
    * ([[graft.queries.Extensions.sumCentroids]]) plus per-label
    * quantile-bucket thresholds ([[Extensions.protoThresholds]]),
    * both trained offline. Scoring is a k-row broadcast equi-join +
    * one fused native cosine + a stateless flag — append mode, no
    * state. Bit-identical to the batch gate's flags on the same model
    * (DocStreamsSpec). Column contract: input has (vec_id, label,
    * qv: array<long>); output (vec_id, label, bkt, pruned). */
  def protoPruneStream(vecs: DataFrame, cents: DataFrame,
      thr: DataFrame): DataFrame =
    Extensions.protoFlag(Extensions.protoScore(vecs, cents), thr)

  /** Streaming face of x88's span scrub: arrivals rewritten against a
    * FROZEN constant-K boilerplate span set
    * ([[graft.queries.Extensions.topDupSpans]], trained offline) —
    * one broadcast row, per-row positional hashing + a covering-
    * window filter, append mode, no state. Full-corpus dup scrubbing
    * stays batch (x88's dup set is corpus-scale and never
    * broadcasts); this is the ingest-time form. With the full dup set
    * as the model it is bit-identical to batch spanScrub
    * (X88ScrubSpec/DocStreamsSpec agreement). Column contract: input
    * has (doc_id, text); output (doc_id, n_tok, n_removed, clean). */
  def boilerplateScrubStream(docs: DataFrame, spanArr: DataFrame,
      w: Int = 8): DataFrame =
    Extensions.scrubAgainst(docs, spanArr, w)

  /** Streaming face of x90/x91's fingerprint dedup, hash-agnostic
    * (image aHash or audio energy hash alike): arrivals (id, ah)
    * probe a FROZEN registry CLASS table (ah, cnt, cmin —
    * [[graft.queries.Extensions.fingerprintClasses]], built offline)
    * through the banded Hamming join; emits one row per (arrival,
    * matched class) in append mode with no state — multi-band
    * collisions dedupe by the first-agreeing-band projection, not a
    * `distinct` (which would be stateful). The registry side is a
    * stream-static equi-join on (band, key): never a forced
    * broadcast, the class table is ∝ distinct fingerprints. Column
    * contract: output (id, reg_ah, cnt, cmin, hamming). */
  def fingerprintMatchStream(arrivals: DataFrame, registry: DataFrame,
      hamT: Int = 3): DataFrame =
    Extensions.fingerprintMatch(arrivals, registry, hamT)

  /** Streaming face of x87's CCNet buckets — the full quality-gate at
    * ingest: arrivals are surprisal-scored against a FROZEN bigram-LM
    * (`bits`: bg → whole-bit surprisal,
    * [[graft.queries.Extensions.lmBigramBits]]; bigrams the training
    * corpus never saw cost `defaultBits` — the frozen-LM unseen-event
    * charge) and bucketed against FROZEN per-lang tercile thresholds
    * ([[Extensions.ccnetThresholds]]). One per-row HOF over the
    * model literal + one broadcast threshold join — append mode, no
    * state. Docs without a bigram are dropped (the batch contract);
    * langs absent from the thresholds bucket as 'unknown'. On the
    * training corpus itself (all bigrams seen) the assignment is
    * bit-identical to batch x87 (DocStreamsSpec). Column contract:
    * input (doc_id, text, lang); output (doc_id, lang, spb, bucket).
    *
    * Model-size bound: the `bits` map ships as a PLAN LITERAL
    * (typedLit), which is the right shape only while the model stays
    * driver-small (≈ low-single-digit-million entries; the gate
    * corpus LM is ~10⁴). The map is required because the per-doc sum
    * must stay a stateless per-row HOF — a (bg, bits) join would
    * need a per-doc RE-AGGREGATION, which append-mode streaming
    * cannot express without watermark state. At production LM sizes
    * either coarsen the model (hash bigrams into x81's DsirB-style
    * buckets so the literal stays bounded) or accept the stateful
    * windowed re-agg. */
  def ccnetBucketStream(docs: DataFrame, bits: Map[String, Long],
      defaultBits: Long, thr: DataFrame): DataFrame = {
    val staged = docs.select(col("doc_id"), col("lang"),
      split(col("text"), " ").as("tk"))
    val bgs = zip_with(
      slice(col("tk"), lit(1), size(col("tk")) - 1),
      slice(col("tk"), lit(2), size(col("tk")) - 1),
      (a, b) => concat(a, lit(" "), b))
    val bitsSum = aggregate(col("bgs"), lit(0L), (acc, bg) =>
      acc + coalesce(element_at(typedLit(bits), bg), lit(defaultBits)))
    staged.withColumn("bgs", bgs)
      .filter(size(col("bgs")) >= 1)
      .withColumn("n_bg", size(col("bgs")).cast("long"))
      .withColumn("bits_sum", bitsSum)
      .withColumn("spb", expr("bits_sum * 1000 div n_bg"))
      .withColumn("hb", expr(s"spb div ${Extensions.CcnetHb}"))
      .join(broadcast(thr), Seq("lang"), "left")
      .select(col("doc_id"), col("lang"), col("spb"),
        coalesce(
          when(col("hb") <= col("t1"), "head")
            .when(col("hb") <= col("t2"), "middle")
            .when(col("hb") > col("t2"), "tail"),
          lit("unknown")).as("bucket"))
  }

  /** Streaming face of x46's heavy hitters: an UNBOUNDED token
    * stream tracked in bounded memory. Tokens route to `buckets`
    * state groups (md5, so a hot token always lands in one group);
    * each group holds ONE Misra-Gries summary of at most `k`
    * counters — increment if present, insert if room, else
    * decrement-all-and-drop-zeros — updated across batches and
    * re-emitted per trigger (update mode). State per group is ≤ k
    * (token, count) pairs REGARDLESS of stream length: total memory
    * buckets·k entries. The MG guarantee carries over: any token
    * whose true count in its bucket exceeds N_bucket/(k+1) is
    * guaranteed present, with N_bucket/(k+1) ≥ true − emitted ≥ 0
    * (counts are lower bounds). Batch x46 then RECOUNTS candidates
    * exactly; a streaming recount is a second stateless pass over
    * the broadcast candidate set (x24's shape). Column contract:
    * input has a string column `tok`; output (bucket, tok, est). */
  def heavyHitterStream(toks: DataFrame, buckets: Int = 16,
                        k: Int = 8): DataFrame = {
    val spark = toks.sparkSession
    import spark.implicits._
    toks.select(col("tok").cast("string")).as[String]
      .groupByKey { t =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(t.getBytes("UTF-8"))
        math.floorMod(((h(0) & 0xff) << 8) | (h(1) & 0xff), buckets)
      }
      .flatMapGroupsWithState[Map[String, Long], (Int, String, Long)](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (bucket: Int, it: Iterator[String],
         state: GroupState[Map[String, Long]]) =>
          var mg = state.getOption.getOrElse(Map.empty[String, Long])
          it.foreach { t =>
            if (mg.contains(t)) mg = mg.updated(t, mg(t) + 1L)
            else if (mg.size < k) mg = mg.updated(t, 1L)
            else mg = mg.iterator
              .map { case (w, c) => w -> (c - 1L) }
              .filter(_._2 > 0L).toMap
          }
          state.update(mg)
          mg.iterator.map { case (w, c) => (bucket, w, c) }
      }
      .toDF("bucket", "tok", "est")
  }

  /** Chunk a doc stream into overlapping token windows (the x34
    * arithmetic: fixed window/stride, last chunk short, content md5
    * per chunk) — one stateless generator per row, append mode; an
    * embedding job keys downstream work on `chunk_md5`. */
  def chunkStream(docs: DataFrame, chunkLen: Int = 32,
                  stride: Int = 24): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("tk"))
      .select(col("doc_id"), size(col("tk")).cast("long").as("n_tok"),
        posexplode(expr(
          s"""transform(
                sequence(0, cast(ceil(size(tk) / cast($stride as double)) as int) - 1),
                i -> array_join(slice(tk, i * $stride + 1, $chunkLen), ' '))"""))
          .as(Seq("chunk_id", "chunk")))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        col("n_tok"),
        size(split(col("chunk"), " ")).cast("long").as("chunk_tok"),
        md5(col("chunk")).as("chunk_md5"))

  /** Benchmark side input for [[fuzzyDecontamStream]], built ONCE
    * from static data: per-bench-doc bigram set, its "b:"-family
    * MinHash signature, its 4 LSH band keys (kept as an array for
    * the stream's first-band dedupe) and one row per band key for
    * the equi-join. Benchmarks are MBs, so this whole table
    * broadcasts. Column contract: input has (bench_id, text). */
  def benchBands(bench: DataFrame): DataFrame =
    bench.select(col("bench_id"), Extensions.bigramsExpr.as("bgs_b"))
      .withColumn("bmhs",
        graft.functions.MinHashArr.minhashArr(col("bgs_b"), "b:"))
      .filter(col("bmhs").isNotNull)
      .withColumn("bkeys_b", Banding.bandKeysOf(col("bmhs")))
      .select(col("bench_id"), col("bgs_b"), col("bkeys_b"),
        explode(col("bkeys_b")).as("bkey"))

  /** Fuzzy (MinHash) decontamination of an ingest stream — the
    * streaming twin of batch x42, and like [[decontamFlags]] it is
    * STATELESS: per-row bigram MinHash (same "b:" family as the
    * batch LSH ops), band-key explode, stream-static equi-join
    * against the broadcast benchmark band table, exact
    * bigram-Jaccard verify. A (doc, bench) pair colliding in several
    * bands would emit duplicate rows from a naive join; instead of a
    * dedupe state store, every joined row carries BOTH key arrays,
    * so each collision recomputes the pair's FIRST colliding band
    * and survives only if it IS that band — exactly-one output row
    * per qualifying pair, with zero streaming state. Output:
    * (doc_id, bench_id, jac) — the batch x42 row shape. */
  def fuzzyDecontamStream(docs: DataFrame, bands: DataFrame,
                          threshold: Double = 0.8): DataFrame = {
    val sig = docs.select(col("doc_id"), Extensions.bigramsExpr.as("bgs"))
      .withColumn("mhs",
        graft.functions.MinHashArr.minhashArr(col("bgs"), "b:"))
      .filter(col("mhs").isNotNull)
      .withColumn("dkeys", Banding.bandKeysOf(col("mhs")))
      .select(col("doc_id"), col("bgs"), col("dkeys"),
        posexplode(col("dkeys")).as(Seq("band", "bkey")))
    val inter = size(array_intersect(col("bgs"), col("bgs_b")))
    val jac = inter.cast("double") /
      (size(col("bgs")) + size(col("bgs_b")) - inter)
    sig.join(broadcast(bands), "bkey")
      .filter(col("band") ===
        expr("array_position(zip_with(dkeys, bkeys_b, (a, b) -> a = b), true) - 1"))
      .withColumn("jac", jac)
      .filter(col("jac") >= threshold)
      .select(col("doc_id"), col("bench_id"), col("jac"))
  }

  /** Streaming twin of x54 domain capping: ONLINE per-source top-K
    * admission. State per source is the current kept set — exactly K
    * (quality, doc_id) pairs, never more — so total state is
    * K × |domains|, independent of stream length. Each arrival emits
    * an `admit` or `reject` row; an admit that displaces a weaker
    * kept doc also emits an `evict` row for it, so a downstream
    * materialized view (admits minus evicts) IS the live capped set.
    * The final kept set after any prefix equals the batch
    * [[graft.queries.Extensions.domainCapped]] kept set over the
    * same docs (top-K of a set is arrival-order-free;
    * DocStreamsSpec pins the equality) — only the admit/evict
    * HISTORY depends on arrival order, as online admission must.
    * Scale note: hot domains concentrate on their state partition —
    * the batch twin's salt trick cannot apply online (per-salt
    * admission would admit K per salt) — but per-record work is
    * O(log K) against a K-bounded buffer, so the hot partition is
    * throughput-bound, never memory-bound.
    * Column contract: input has (doc_id, text, source). */
  def domainCapStream(docs: DataFrame, k: Int = 10): DataFrame = {
    // k = 0 would make the first arrival read kept.last of an empty
    // list inside the stateful operator — fail at plan time instead
    require(k >= 1, s"domainCapStream requires k >= 1, got $k")
    val spark = docs.sparkSession
    import spark.implicits._
    val scored = Extensions.qualityScored(docs, carry = Seq("source"))
      .select(col("doc_id"), col("source"), col("quality_score"))
      .as[(Long, String, Int)]
    // kept-set entry: (quality, doc_id); better = higher quality,
    // ties to the smaller id — the batch op's exact order
    def better(a: (Int, Long), b: (Int, Long)): Boolean =
      a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)
    scored.groupByKey(_._2)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (src: String, in: Iterator[(Long, String, Int)],
         state: GroupState[List[(Int, Long)]]) =>
          var kept = state.getOption.getOrElse(Nil) // sorted best-first
          val out = List.newBuilder[(Long, String, Int, String)]
          in.foreach { case (id, _, qual) =>
            val cand = (qual, id)
            if (kept.size < k) {
              kept = (cand :: kept).sortWith(better)
              out += ((id, src, qual, "admit"))
            } else if (better(cand, kept.last)) {
              val worst = kept.last
              kept = (cand :: kept.init).sortWith(better)
              out += ((id, src, qual, "admit"))
              out += ((worst._2, src, worst._1, "evict"))
            } else out += ((id, src, qual, "reject"))
          }
          state.update(kept)
          out.result().iterator
      }.toDF("doc_id", "source", "quality_score", "event")
  }

  /** Streaming twin of x70 first-occurrence novelty: per arriving
    * doc, how many of its distinct bigrams are globally NEW among
    * in-horizon arrivals. Two CHAINED stateful stages (the Spark-4
    * multi-stateful append pipeline, same family as the Q7 twin's
    * chained windowed aggs): (1) explode distinct bigrams and keep
    * each bigram's FIRST arrival via dropDuplicatesWithinWatermark —
    * state is one row per in-horizon distinct bigram
    * (vocabulary-bounded and watermark-evicted, exactly the state a
    * novelty pass must keep under any execution model); (2) a
    * watermark-windowed per-doc count of the surviving rows. Emits
    * (window, doc_id, n_bg, novel) when the window closes, for docs
    * with novel >= 1 — a doc whose every shingle was already seen
    * produces no surviving rows, so the batch gate's novel=0 class
    * is absent by construction in append mode (DocStreamsSpec pins
    * the agreement on the novel>0 set). Semantic note vs batch x70:
    * batch's first occurrence is min doc_id, the stream's is first
    * ARRIVAL — identical when docs arrive in doc_id order across
    * micro-batch boundaries; WITHIN one micro-batch the surviving
    * doc of a tied bigram is unspecified (the dedup shuffle does not
    * preserve input order), so feed increments when strict
    * first-arrival attribution matters.
    * Column contract: input has (doc_id, text, ts). */
  def noveltyStream(docs: DataFrame, horizon: String,
                    win: String = "1 hour"): DataFrame =
    docs
      .select(col("doc_id"), col("ts"), Extensions.bigramsExpr.as("bgs"))
      .select(col("doc_id"), col("ts"),
        size(col("bgs")).cast("long").as("n_bg"),
        explode(col("bgs")).as("bg"))
      .withWatermark("ts", horizon)
      .dropDuplicatesWithinWatermark("bg")
      .groupBy(window(col("ts"), win), col("doc_id"), col("n_bg"))
      .agg(count(lit(1)).as("novel"))

  /** Streaming twin of batch x75 blocked entity resolution: dirty
    * records arrive as a stream and link against a STATIC canonical
    * registry — the CDC-enrichment shape (new records fuzzy-joined to
    * a reference table on ingest). Stateless like [[decontamFlags]]:
    * the registry's blocked form (key → record) broadcasts, the
    * stream side is a projection + stream-static equi-join + exact
    * levenshtein verify, so it runs in append mode with no state
    * store and restarts from any offset. A pair sharing BOTH the
    * prefix and suffix block would emit twice from a naive join;
    * instead of a dedupe state store, every joined row carries both
    * key arrays and survives only at the FIRST agreeing key position
    * (the [[fuzzyDecontamStream]] trick) — exactly one row per
    * qualifying pair, zero state. The dedupe position is computed
    * over ADMISSIBLE keys only: the registry's key array has capped
    * positions nulled out before broadcasting, so a pair whose
    * earlier agreeing key was frequency-capped still emits — once —
    * through its surviving later key (with the raw arrays, the filter
    * demanded the capped position and silently dropped the match).
    * The batch frequency cap is applied to the REGISTRY side only
    * (computable offline); an online cap on the dirty side would need
    * a per-key counter state store, so the twin matches batch
    * [[graft.queries.Extensions.blockedLinkage]] exactly whenever the
    * stream side's block sizes stay <= cap (true of the gate corpus;
    * DocStreamsSpec pins the equality and the capped-prefix case).
    * Column contract: dirty has (b_id, b_rec), registry (a_id, a_rec). */
  def linkageStream(dirty: DataFrame, registry: DataFrame,
      blockLen: Int = 14, cap: Long = 64L, maxDist: Int = 2): DataFrame = {
    def keysOf(recName: String) = array(
      concat(lit("p:"), substring(col(recName), 1, blockLen)),
      concat(lit("s:"), expr(s"right($recName, $blockLen)")))
    val regBlocks = registry
      .select(col("a_id"), col("a_rec"), keysOf("a_rec").as("akeys"))
      .select(col("a_id"), col("a_rec"),
        posexplode(col("akeys")).as(Seq("apos", "bk")))
    val okKeys = regBlocks.groupBy(col("bk")).agg(count(lit(1)).as("c"))
      .filter(col("c") <= cap).select(col("bk"), lit(true).as("adm"))
    // static pre-step (plain batch plan): rebuild each registry row's
    // key array with capped positions nulled, then explode only the
    // admissible keys for the join
    val regAdm = regBlocks
      .join(okKeys, Seq("bk"), "left")
      .groupBy(col("a_id"), col("a_rec"))
      .agg(array_sort(collect_list(struct(col("apos"),
        when(col("adm"), col("bk")).as("k")))).as("sk"))
      .withColumn("adm_keys", expr("transform(sk, s -> s.k)"))
      .select(col("a_id"), col("a_rec"), col("adm_keys"),
        explode(col("adm_keys")).as("bk"))
      .filter(col("bk").isNotNull)
    dirty
      .select(col("b_id"), col("b_rec"), keysOf("b_rec").as("bkeys"))
      .select(col("b_id"), col("b_rec"), col("bkeys"),
        posexplode(col("bkeys")).as(Seq("pos", "bk")))
      .join(broadcast(regAdm), "bk")
      .filter(col("pos") === expr(
        "array_position(zip_with(bkeys, adm_keys, (x, y) -> x = y), true) - 1"))
      .withColumn("dist", levenshtein(col("b_rec"), col("a_rec")).cast("long"))
      .filter(col("dist") <= maxDist)
      .select(col("b_id"), col("a_id"), col("dist"))
  }
}
