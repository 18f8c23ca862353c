package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins every [[Knobs]] default (a drive-by change must break a test,
  * not a hash gate) and the sizing rules. */
class KnobsSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("pinned defaults: the exactness contracts in Knobs' table") {
    assert(Knobs.GopherDupWinnowExact == 1)
    assert(Knobs.GopherDupWinnowGate == 4)
    assert(Knobs.SpanWinnowDefault == 1)
    assert(Knobs.FpBandCapDefault == 64)
    assert(Knobs.IngestBcastClassCapDefault == 100000L)
  }

  test("public API defaults are the EXACT forms; the gate estimator " +
    "setting is explicit opt-in") {
    // gopherRepetition's default must equal the exact knob — the x96
    // gate passes GopherDupWinnowGate explicitly
    import org.apache.spark.sql.functions.col
    import spark.implicits._
    val d = Seq((1L, "p q r s t u p q r s t u")).toDF("doc_id", "text")
    val exact = graft.queries.Extensions.gopherRepetition(d)
      .select(col("rep_5")).as[Long].collect().head
    val explicit1 = graft.queries.Extensions
      .gopherRepetition(d, dupWinnow = Knobs.GopherDupWinnowExact)
      .select(col("rep_5")).as[Long].collect().head
    assert(exact == explicit1, "default must be the exact (winnow=1) form")
    assert(exact > 0L, "fixture premise: the doc has duplicated 5-grams")
  }

  test("streaming state-partition sizing: max of the ceil-sqrt state " +
    "and trigger-work terms, clamped to [1, maxParts]") {
    assert(Knobs.StreamStateRowsPerPartition == 4096L)
    assert(Knobs.StreamTriggerRowsPerPartition == 1024L)
    assert(Knobs.streamStateParts(0L) == 1, "empty state still needs a partition")
    assert(Knobs.streamStateParts(1L) == 1)
    assert(Knobs.streamStateParts(4096L) == 1)
    // the measured SRP case: ~8k state rows, 2k-vector triggers size
    // to 2 partitions — the 1913 vecs/s configuration, not the 282
    // vecs/s core-count default
    assert(Knobs.streamStateParts(8000L, triggerRows = 2000L) == 2)
    // the measured 10x-LSH case: ~250k state rows size to 8 (1434
    // docs/s), where a LINEAR rows/unit rule said 32 (707 docs/s)
    assert(Knobs.streamStateParts(250000L, triggerRows = 1000L) == 8)
    // the measured session-window / dedup case: tiny state but
    // 10k-row triggers — the WORK term lifts 1 -> 4 (9.2k -> 11.0k
    // rows/s measured)
    assert(Knobs.streamStateParts(1500L, triggerRows = 10000L) == 4)
    assert(Knobs.streamStateParts(1000000L) == 16)
    assert(Knobs.streamStateParts(Long.MaxValue / 2) == 32, "core clamp")
    assert(Knobs.streamStateParts(10000000L, maxParts = 8) == 8)
    // unknown trigger volume degrades to the state term alone
    assert(Knobs.streamStateParts(8000L) == 2)
  }

  test("codec task sizing: rows/2048 partitions, clamped to [1, maxParts] " +
    "— tasks big enough to amortize the scheduling wave") {
    assert(Knobs.CodecRowsPerPartition == 2048L)
    assert(Knobs.codecParts(0L) == 1, "empty input still needs a partition")
    assert(Knobs.codecParts(1L) == 1)
    assert(Knobs.codecParts(2048L) == 1)
    assert(Knobs.codecParts(2049L) == 2)
    // the sf0.1 bench corpus (5000 docs): 3 ~1.7k-row tasks, not 32
    // ~10 ms ones — the round-14 x37 contention diagnosis
    assert(Knobs.codecParts(5000L) == 3)
    // a 60k-doc sf1 corpus saturates 30 of the 32 cores
    assert(Knobs.codecParts(60000L) == 30)
    assert(Knobs.codecParts(1000000L) == 32, "core clamp")
    assert(Knobs.codecParts(1000000L, maxParts = 8) == 8)
  }
}
