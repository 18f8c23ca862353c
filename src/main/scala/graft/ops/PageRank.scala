package graft.ops

import graft.Cached
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** PageRank over an undirected edge list, in INTEGER fixed-point
  * arithmetic — the centrality score a curation pipeline uses to pick
  * a duplication family's representative document (or to down-weight
  * boilerplate nexuses), completing the dedup-graph diagnostic trio
  * with [[ConnectedComponents]] (reachability) and the x51 triangle
  * count (local density).
  *
  * Recurrence (scale S, damping 85/100, all floor division):
  * {{{
  *   r_0(v)     = S
  *   r_{t+1}(v) = floor(S·15/100)
  *              + Σ_{u∈N(v)} floor(r_t(u)·85 / (100·deg(u)))
  * }}}
  * Integer sums are order-independent, so the result is bit-identical
  * on any cluster size / partitioning — no float-summation
  * nondeterminism — and a SQL oracle can replay the exact recurrence
  * (x56's DuckDB oracle does). With S = 10^6 the quantization error
  * vs real-valued PageRank is ≤ deg(v) ulps per round — ranking-order
  * noise far below the 10^6 scale.
  *
  * Scale design (100 TB): classic Pregel-on-relations. The directed
  * edge list is degree-annotated ONCE and persisted; each of the
  * fixed `iters` rounds is one equi-join (edges ⋈ ranks on src, both
  * corpus-sized — never broadcast) plus one hash-agg by dst with
  * map-side partial sums. No adjacency lists as rows (hub-safe: a
  * degree-k hub is k edge ROWS, never one k-wide row), no driver-side
  * state, and — unlike [[ConnectedComponents]]' convergence loop — no
  * per-round action: fixed iterations chain lazily into ONE job,
  * because rank tables are vertex-cardinality and each round's plan
  * references the previous round exactly once (linear lineage, not
  * the 2^rounds union blowup CC has to checkpoint away).
  */
object PageRank {

  val DefaultScale = 1000000L
  val DefaultIters = 10

  /** @param edges two columns `a`, `b` — undirected (a < b) pairs;
    *   vertices = edge endpoints (isolated vertices, having no rank
    *   flow, are the caller's concern).
    * @return (id, pr) — fixed-point rank after `iters` rounds.
    *
    * Cache lifetime: the degree-annotated edge table is filled here
    * ([[graft.Cached.fill]], it feeds every round) but the CALLER owns
    * its release — the returned ranks are a lazy plan that reads the
    * cached blocks on the caller's action, so unpersisting before that
    * action would recompute the edge build once per round. Build and
    * consume the result inside one [[graft.Cached.scope]], which
    * releases the table when the action is done; the gate runners
    * wrap every gate that way. Same contract as the spanEdges
    * substrate the x56 gate feeds in. */
  def run(edges: DataFrame, iters: Int = DefaultIters,
          scale: Long = DefaultScale): DataFrame = {
    require(iters >= 1, s"pagerank: iters must be >= 1, got $iters")
    require(scale >= 100, s"pagerank: scale must be >= 100, got $scale")
    val base = scale * 15 / 100
    val dir = edges.select(col("a").as("src"), col("b").as("dst"))
      .union(edges.select(col("b").as("src"), col("a").as("dst")))
    val deg = dir.groupBy(col("src")).agg(count(lit(1)).as("dg"))
    // persisted PRE-PARTITIONED on src: all `iters` rounds join
    // contrib on src, and a cached unpartitioned table would
    // re-shuffle the full degree-annotated edge list once per round —
    // with HashPartitioning(src) cached, only the (vertex-sized) rank
    // table moves each round
    val contrib = dir.join(deg, Seq("src"))
      .repartition(col("src"))
      .transform(Cached.fill) // reused every round
    // every vertex has in-degree >= 1 (undirected doubling), so the
    // per-round agg covers the full vertex set — no outer join needed
    var ranks = deg.select(col("src").as("v"), lit(scale).as("r"))
    for (_ <- 1 to iters) {
      ranks = contrib
        .join(ranks.withColumnRenamed("v", "src"), Seq("src"))
        .groupBy(col("dst"))
        .agg(sum(expr("(r * 85) div (100 * dg)")).as("acc"))
        .select(col("dst").as("v"), (lit(base) + col("acc")).as("r"))
    }
    ranks.select(col("v").as("id"), col("r").as("pr"))
  }
}
