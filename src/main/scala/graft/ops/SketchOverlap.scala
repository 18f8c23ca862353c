package graft.ops

import graft.Cached
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sketch-based source-overlap estimation — the OPEN-DOMAIN path next
  * to the exact registry rollup (gate x61): when the key universe is
  * unbounded (millions of hosts, not hundreds of curated sources),
  * the exact (key, token)-distinct self-join is priced out, and the
  * standard move is per-key HLL distinct sketches + inclusion-
  * exclusion:
  *
  *   |A ∩ B| ≈ est(A) + est(B) − est(A ∪ B)
  *
  * Scale design (100 TB): the corpus collapses to ONE mergeable
  * KB-sized sketch row per key (`hll_sketch_agg` — map-side partial
  * sketches, no distinct shuffle of the token universe); every pair
  * computation after that touches sketches only, never tokens. The
  * pairing itself is the caller's cardinality decision:
  * [[overlapMatrix]] prices all key pairs (right for rollups over
  * thousands of keys — quadratic in KEYS with KB payloads, corpus
  * size gone); for open-domain key sets, feed a candidate pair list
  * ([[overlapPairs]]) from any cheap generator (x04's LSH buckets,
  * co-occurrence, a top-k prefilter).
  *
  * Error: HLL at lgK=12 has ~1.6% relative standard error per
  * estimate; inclusion-exclusion differences amplify it relative to
  * SMALL intersections, so downstream thresholds should read the
  * estimated Jaccard (union-normalized, error roughly bounded by a
  * few estimate RSEs absolute) rather than raw intersection counts.
  * Gate x63 pins the observed bound against the exact x61 rollup.
  */
object SketchOverlap {

  /** One HLL sketch row per key over `tokCol` values: (key, sk).
    * Mergeable partial aggregation — the only pass over the corpus. */
  def keySketches(df: DataFrame, keyCol: String, tokCol: String,
                  lgK: Int = 12): DataFrame =
    df.groupBy(col(keyCol).as("key"))
      .agg(hll_sketch_agg(col(tokCol), lit(lgK)).as("sk"))

  /** Inclusion-exclusion overlap estimates for an explicit candidate
    * pair list `(key_a, key_b)` — the open-domain entry point.
    * @return (key_a, key_b, n_a, n_b, est_inter, est_jaccard). */
  def overlapPairs(sketches: DataFrame, pairs: DataFrame): DataFrame = {
    val a = sketches.select(col("key").as("key_a"), col("sk").as("sk_a"))
    val b = sketches.select(col("key").as("key_b"), col("sk").as("sk_b"))
    pairs.join(a, Seq("key_a")).join(b, Seq("key_b"))
      .select(col("key_a"), col("key_b"),
        hll_sketch_estimate(col("sk_a")).as("n_a"),
        hll_sketch_estimate(col("sk_b")).as("n_b"),
        hll_sketch_estimate(hll_union(col("sk_a"), col("sk_b"))).as("n_u"))
      .select(col("key_a"), col("key_b"), col("n_a"), col("n_b"),
        greatest(col("n_a") + col("n_b") - col("n_u"), lit(0L))
          .as("est_inter"),
        (greatest(col("n_a") + col("n_b") - col("n_u"), lit(0L))
          .cast("double") / col("n_u")).as("est_jaccard"))
  }

  /** Candidate key pairs for [[overlapPairs]] from RARE-token
    * co-occurrence — the cheap open-domain generator the scaladoc
    * promises: two keys become a candidate when they share at least
    * `minShared` tokens whose key-df lies in [2, maxDf]. The df cap
    * is the span-graph discipline: a stopword token shared by every
    * host carries no overlap signal and would contribute df² pairs —
    * dropping it bounds every token's pair contribution at
    * C(maxDf, 2), so candidate volume is Σ C(df, 2) over rare tokens,
    * never key-quadratic. Shape: the (key, token) table shuffles once
    * onto token (persist + reuse across the df pre-count, semi-join,
    * and pair agg — the spanEdges plan), pairs explode from capped
    * per-token key lists, one hash agg counts shared tokens.
    * @return (key_a, key_b) with key_a < key_b. */
  def cooccurrenceCandidates(df: DataFrame, keyCol: String, tokCol: String,
      maxDf: Int = 64, minShared: Int = 2): DataFrame = {
    val kt = df.select(col(keyCol).as("key"), col(tokCol).as("tok"))
      .distinct()
      .repartition(col("tok")).transform(Cached.fill)
    val kept = kt.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      .filter(col("df").between(2, maxDf)).select(col("tok"))
    kt.join(kept, Seq("tok"), "left_semi")
      .groupBy(col("tok")).agg(collect_set(col("key")).as("ks"))
      .select(explode(expr(
        """flatten(transform(sequence(0, size(ks) - 2),
          |  i -> transform(sequence(i + 1, size(ks) - 1),
          |    j -> struct(least(ks[i], ks[j]) AS key_a,
          |                greatest(ks[i], ks[j]) AS key_b))))""".stripMargin))
        .as("p"))
      .select(col("p.key_a"), col("p.key_b"))
      .groupBy(col("key_a"), col("key_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** All-pairs overlap matrix over the sketch table — quadratic in
    * KEYS (documented contract: rollup-sized key sets), constant in
    * corpus size. */
  def overlapMatrix(sketches: DataFrame): DataFrame = {
    val pairs = sketches.select(col("key").as("key_a"))
      .crossJoin(sketches.select(col("key").as("key_b")))
      .filter(col("key_a") < col("key_b"))
    overlapPairs(sketches, pairs)
  }
}
