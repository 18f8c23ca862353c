package graft

/** EVERY estimator / cap / winnow scale knob of the engine, in one
  * place, each with its exactness contract.
  *
  * Resolution contract: the engine binds the pinned default
  * CONSTANTS below. The oracle-gated queries must stay
  * conf-independent (a conf-dependent gate could silently diverge
  * from its replayed oracle), so no knob here has a `spark.graft.*`
  * key. The two winnows are explicit library parameters: a caller
  * wanting another setting passes it there. The two caps are fixed
  * constants. The one settable key, the range-join bin size, changes
  * a plan, never a result. KnobsSpec pins the defaults.
  *
  * | knob | where it binds | default | contract |
  * |---|---|---|---|
  * | Gopher dup-gram winnow | `dupWinnow` parameter of `gopherRepetition` | 1 (exact) | mod-k gram-identity sample of the duplicate-n-gram coverage; k>1 makes rep_5..rep_10 deterministic LOWER bounds (monotone: kept starts ⊆ all starts). Public default is EXACT; the x96 gate runs the documented k=4 estimator ([[GopherDupWinnowGate]]) with its oracle replaying the same winnow |
  * | Span-dedup winnow | `winnow` parameter of `spanDedupCounts` | 1 (exact) | mod-k span-hash sample of the (doc, span) table; counts over kept spans are exact, coverage is a 1/k-identity sample (x45 gate = exact form) |
  * | Fingerprint band cap | (constant [[FpBandCapDefault]]) | 64 | two-stage bucket cap on perceptual-hash band joins (x90/x91/x93): buckets above the cap sub-split by the next band — LOSSLESS for Hamming ≤ threshold matches (pigeonhole over the sub-bands), bounds the per-bucket pair fan-out |
  * | Ingest broadcast class cap | (constant [[IngestBcastClassCapDefault]]) | 100000 | x86 incremental-ingest: registry classes ≤ cap broadcast (measured, not hinted); above it the probe falls back to a shuffle equi-join — pure execution-strategy switch, result identical |
  * | IVF-PQ re-rank depth R | (constant [[queries.Extensions.IvfPqRerankFixed]]) | 8·k | ADC short-list depth re-ranked exactly; recall floor proven by the x98 gate + X80IvfPqSpec on clustered data. `corpusScaledR = true` is the FIXTURE-ONLY escape hatch for isotropic-noise corpora (x80/x66/x83 gates), never the production default |
  * | Range-join bin size | `spark.graft.rangeJoin.binSize` | off | opt-in Catalyst rewrite of inequality range joins into bucketed equi-joins ([[plans.RangeJoinRule]]); result-identical, plan-level only |
  * | Streaming state partitions | (derived, [[streamStateParts]]) | max(⌈√(state_rows/4096)⌉, ⌈√(trigger_rows/1024)⌉), clamped [1, cores] | stateful-query shuffle partitions sized to the query's own STATE + TRIGGER volumes, never core count — see the rule's scaladoc |
  *
  * Derived (not settable) scale parameters, for completeness: IVF /
  * k-means cluster counts are max(8, ⌊√n⌋) computed in-plan
  * (x07/x21/x39/x47/x80 — DerivedKSpec), never constants. */
object Knobs {

  /** Public-API default for the Gopher duplicate-n-gram winnow:
    * EXACT (no sampling). */
  val GopherDupWinnowExact = 1
  /** The x96 gate's documented estimator setting: mod-4 winnow, a
    * deterministic quarter-identity-sample lower bound (13.3 → 4.3 s
    * at sf0.1; oracle + streaming twin replay the same winnow). */
  val GopherDupWinnowGate = 4

  /** Span-dedup winnow default: exact. */
  val SpanWinnowDefault = 1

  /** Perceptual-fingerprint band-bucket cap (lossless sub-split). */
  val FpBandCapDefault = 64

  /** Largest registry class-count broadcast during incremental
    * ingest; above it the probe joins by shuffle. */
  val IngestBcastClassCapDefault = 100000L

  // -------------------------------------- streaming state-store sizing
  /** State-row unit of the streaming partition-sizing rule (the
    * denominator of the STATE term in [[streamStateParts]]). */
  val StreamStateRowsPerPartition = 4096L
  /** Per-trigger input-row unit of the sizing rule (the denominator
    * of the WORK term in [[streamStateParts]]) — finer than the state
    * unit because trigger rows carry per-row processing cost but no
    * per-partition load/commit constant of their own. */
  val StreamTriggerRowsPerPartition = 1024L

  /** Shuffle-partition count for a stateful streaming query holding
    * ~`expectedStateRows` live rows and processing ~`triggerRows`
    * input rows per micro-batch:
    *
    *   parts = clamp(1, maxParts,
    *     max(⌈√(state_rows / 4096)⌉, ⌈√(trigger_rows / 1024)⌉))
    *
    * THE RULE (measured, PERF.md "round 14: streaming sizing"): a
    * stateful query pays a per-PARTITION state-store load+commit
    * constant on EVERY micro-batch — with RocksDB, a store open + WAL
    * commit per partition per trigger — so partitions must be sized
    * to the QUERY'S OWN volumes, never to the core count batch
    * shuffles want. Per-trigger cost ≈ constant·parts + volume/parts,
    * so each term's optimum grows with the SQUARE ROOT of its volume;
    * the partition count takes the larger term. Measured A/B on the
    * sf0.1 twins (all rocksdb): SRP near-dup (8k state, 2k-vector
    * triggers) 282 vecs/s at the old 8-partition default → 1913 at
    * the rule's 2; the 10× LSH twin (250k state) 707 docs/s at a
    * LINEAR state rule's 32 partitions → 1434 at the sqrt rule's 8;
    * session windows / dedup (tiny state, 10k-row triggers) 9.2k
    * rows/s at the state term's 1 → 11.0k/16.4k at the work term's 4;
    * pure-state tiny twins (heavy hitters) are flat 1..8. At 100 TB
    * the clamp is the executor-core budget and both volumes are
    * revisited as the horizon's live state and the trigger interval
    * grow. `triggerRows = 0` (unknown) degrades to the state term
    * alone. */
  def streamStateParts(expectedStateRows: Long, maxParts: Int = 32,
                       triggerRows: Long = 0L): Int = {
    def term(rows: Long, unit: Long): Long =
      math.ceil(math.sqrt(rows.toDouble / unit)).toLong
    math.max(1L, math.min(maxParts.toLong,
      math.max(term(expectedStateRows, StreamStateRowsPerPartition),
        term(triggerRows, StreamTriggerRowsPerPartition)))).toInt
  }

  // ------------------------------------------------- codec task sizing
  /** Rows-per-task unit of [[codecParts]]: enough per-row codec work
    * (~50-200 µs per synthetic PNG/WAV encode+decode) that a task
    * runs a few hundred ms and its scheduling cost disappears. */
  val CodecRowsPerPartition = 2048L

  /** Partition count for a per-row CODEC stage (mapPartitions
    * encode/decode/hash — x37/x64/x90/x91/x93's shape) over `rows`
    * input rows: ⌈rows / 2048⌉ clamped to [1, maxParts].
    *
    * THE RULE (measured, PERF.md "round 14: codec outliers"): these
    * stages used a flat repartition(32) to spread work off the sf
    * parquet's single split, which at bench scale yields 32 ~10 ms
    * tasks per stage — per-task-wave SCHEDULING latency dominates and
    * a contended host turns a 0.6 s query into 2-5 s (x37's round-14
    * diagnosis; the work itself is milliseconds). Sizing tasks to a
    * rows target instead amortizes the wave: fewer, larger tasks at
    * small scale, the full core budget once rows/2048 exceeds it —
    * at 100 TB the scan has many splits and the clamp is the
    * executor-core budget, exactly as before. */
  def codecParts(rows: Long, maxParts: Int = 32): Int =
    math.max(1L, math.min(maxParts.toLong,
      math.ceil(rows.toDouble / CodecRowsPerPartition).toLong)).toInt
}
