package graft.streaming

import graft.queries.Extensions
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import java.sql.Timestamp

/** Streaming MinHash+LSH near-duplicate detection — the ingest-time
  * form of x04: flag each arriving document that is a near-dup of a
  * document seen within the watermark horizon.
  *
  * Shape: every doc is minhashed STATELESSLY in a projection (the
  * same md5 base hash + 16-transform affine family as the batch
  * [[graft.queries.Extensions]] pipeline — [[MinHashAggSpec]] pins
  * bit-identity), exploded to its 4 LSH band keys, and routed by
  * `groupByKey(band key)` into `flatMapGroupsWithState`. Each band
  * bucket keeps ONE representative (first arrival: id + 64-bit token
  * mask) and emits a match when a later doc's exact mask Jaccard
  * clears the threshold — candidates come from band-key agreement
  * (state lookup), verification is exact, exactly as in batch.
  *
  * Scale: state is one (long, long) per occupied band bucket, expired
  * by event-time timeout at the horizon — bounded by the number of
  * distinct in-horizon band keys, NOT by stream length. A doc pair
  * agreeing in several bands emits once per agreeing band (different
  * state partitions can't coordinate); exact-once consumers dedup on
  * (doc_id, rep) downstream within the same horizon.
  *
  * Reference behavior being generalized: keyed dedup/state of
  * `/root/reference/src/main/scala/FlinkAssignment.scala:275-276`
  * (keyBy-join candidate generation) in streaming form.
  */
object NearDup {

  case class BandDoc(band_key: String, doc_id: Long, mask: Long, ts: Timestamp)
  case class RepState(doc_id: Long, mask: Long)
  case class NearMatch(doc_id: Long, rep: Long, jac: Double)

  private val Threshold = 0.9

  private def maskJac(a: Long, b: Long): Double =
    java.lang.Long.bitCount(a & b).toDouble / java.lang.Long.bitCount(a | b)

  /** Horizon string → milliseconds, months/days-aware. The naive
    * `.microseconds / 1000` read silently drops the CalendarInterval
    * months/days fields, so a "1 day" horizon became 0 ms and state
    * expired at the last event's own timestamp — exactly how Spark's
    * own watermark-delay conversion avoids it
    * (`IntervalUtils.getDuration`, the EventTimeWatermark path). */
  private[graft] def horizonMillis(horizon: String): Long =
    org.apache.spark.sql.catalyst.util.IntervalUtils.getDuration(
      org.apache.spark.sql.catalyst.util.IntervalUtils.safeStringToInterval(
        org.apache.spark.unsafe.types.UTF8String.fromString(horizon)),
      java.util.concurrent.TimeUnit.MILLISECONDS)

  /** Band-keyed stream of (band_key, doc_id, mask, ts) from a doc
    * stream with (doc_id, text, ts) columns. The minhash is the same
    * native per-row [[graft.functions.MinHashArr]] the batch band
    * tables use (tokenSet is never empty — any text has at least one
    * token — so the null-for-empty contract never fires here);
    * NearDupStreamSpec pins bit-identity with the aggregate family. */
  private[graft] def banded(docs: DataFrame, horizon: String): Dataset[BandDoc] = {
    import docs.sparkSession.implicits._
    docs
      .withColumn("mhs", graft.functions.MinHashArr.minhashArr(
        graft.ops.Cols.tokenSet(col("text")), "t:"))
      .withColumn("mask", Extensions.maskExpr)
      .select(explode(graft.ops.Banding.bandKeysOf(col("mhs"))).as("band_key"),
        col("doc_id"), col("mask"), col("ts"))
      .withWatermark("ts", horizon)
      .as[BandDoc]
  }

  /** Matches (doc_id, rep, jac ≥ 0.9) against in-horizon
    * representatives; one emission per agreeing band. */
  def nearDupStream(docs: DataFrame, horizon: String): Dataset[NearMatch] = {
    import docs.sparkSession.implicits._
    val horizonMs = horizonMillis(horizon)
    banded(docs, horizon)
      .groupByKey(_.band_key)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (_: String, rows: Iterator[BandDoc], state: GroupState[RepState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // deterministic arrival order inside the micro-batch
            val sorted = rows.toIndexedSeq.sortBy(r => (r.ts.getTime, r.doc_id))
            val out = Seq.newBuilder[NearMatch]
            var rep = state.getOption
            sorted.foreach { r =>
              rep match {
                case Some(s) if s.doc_id != r.doc_id =>
                  val j = maskJac(s.mask, r.mask)
                  if (j >= Threshold) out += NearMatch(r.doc_id, s.doc_id, j)
                case None => rep = Some(RepState(r.doc_id, r.mask))
                case _ => () // same doc re-keyed into its own bucket
              }
            }
            rep.foreach { s =>
              state.update(s)
              // expire the representative one horizon after the
              // newest event that touched this bucket
              state.setTimeoutTimestamp(sorted.last.ts.getTime + horizonMs)
            }
            out.result().iterator
          }
      }
  }

  // ---------------------------------------------------------- embeddings
  case class BandVec(band_key: String, vec_id: Long, qv: Seq[Long],
                     ts: Timestamp)
  case class VecRep(vec_id: Long, qv: Seq[Long])
  case class VecMatch(vec_id: Long, rep: Long, cos: Double)

  private val CosThreshold = 0.4

  /** Exact quantized cosine over two already-quantized vectors — the
    * same loop, op order, and final double arithmetic as the batch
    * [[graft.functions.QuantizedCosine]] expression, so a streamed
    * match carries the identical score the batch x29 verify computes
    * for the same pair. */
  private[graft] def qCos(a: Seq[Long], b: Seq[Long]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0L; var na = 0L; var nb = 0L
    var i = 0
    while (i < n) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i)
      i += 1
    }
    dot.toDouble / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))
  }

  /** Band-keyed stream of (band_key, vec_id, qv, ts) from an
    * embedding stream with (vec_id, embedding, ts) columns. The SRP
    * signature is the native fused [[graft.functions.SrpBands]]
    * expression — a stateless per-row projection, bit-identical to
    * the batch x29 construction (SrpBandsSpec), so a vector lands in
    * the same band buckets whether it arrives by stream or by scan. */
  private[graft] def srpBanded(vecs: DataFrame, horizon: String): Dataset[BandVec] = {
    import vecs.sparkSession.implicits._
    vecs
      .withColumn("qv", transform(col("embedding"),
        x => floor(x.cast("double") * 1000).cast("long")))
      .select(col("vec_id"), col("qv"), col("ts"),
        posexplode(graft.functions.SrpBands.srpBands(col("embedding")))
          .as(Seq("band", "bv")))
      .select(concat_ws(":", col("band"), col("bv")).as("band_key"),
        col("vec_id"), col("qv"), col("ts"))
      .withWatermark("ts", horizon)
      .as[BandVec]
  }

  /** Streaming SRP-LSH near-dup over an embedding stream — the
    * ingest-time form of x29, sharing [[nearDupStream]]'s state
    * shape: one representative vector per occupied SRP band bucket,
    * expired at the event-time horizon; candidates come from band
    * agreement (state lookup), verification is the exact quantized
    * cosine. State per bucket is the rep's quantized vector (dim
    * longs) — bounded by distinct in-horizon band keys, not stream
    * length. */
  def srpNearDupStream(vecs: DataFrame, horizon: String): Dataset[VecMatch] = {
    import vecs.sparkSession.implicits._
    val horizonMs = horizonMillis(horizon)
    srpBanded(vecs, horizon)
      .groupByKey(_.band_key)
      .flatMapGroupsWithState(OutputMode.Append,
        GroupStateTimeout.EventTimeTimeout) {
        (_: String, rows: Iterator[BandVec], state: GroupState[VecRep]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = rows.toIndexedSeq.sortBy(r => (r.ts.getTime, r.vec_id))
            val out = Seq.newBuilder[VecMatch]
            var rep = state.getOption
            sorted.foreach { r =>
              rep match {
                case Some(s) if s.vec_id != r.vec_id =>
                  val c = qCos(s.qv, r.qv)
                  if (c >= CosThreshold) out += VecMatch(r.vec_id, s.vec_id, c)
                case None => rep = Some(VecRep(r.vec_id, r.qv))
                case _ => ()
              }
            }
            rep.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(sorted.last.ts.getTime + horizonMs)
            }
            out.result().iterator
          }
      }
  }
}
