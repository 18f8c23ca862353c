package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by minimum-label propagation — the transitive
  * closure of a near-duplicate pair graph into dedup CLUSTERS, the
  * step a training pipeline runs after LSH pair generation (a greedy
  * one-level merge like x19 under-merges chains: a~b, b~c must
  * collapse {a,b,c} even when a~c was never emitted as a pair).
  *
  * Algorithm: every node starts labeled with its own id; each round,
  * a node's label becomes the min of its own and its neighbors'
  * labels; stop when a round changes nothing. The fixpoint — min
  * reachable id per node — is unique regardless of execution
  * schedule, so the result is deterministic on any cluster size and
  * oracle-checkable (DuckDB replays it as a recursive CTE).
  *
  * Scale design (100 TB): each round is two equi-join shuffles — the
  * edge list against the DELTA of the label table (neighbor minimum),
  * then the label table against itself (POINTER JUMPING: lbl ←
  * lbl[lbl], which doubles the distance a label has travelled every
  * round). With the jump, rounds are O(log diameter) — a 1e6-node
  * path needs ~20 rounds, not 1e6 — the same doubling argument as
  * Hash-to-Min / pointer-jumping PRAM CC. Label state is one
  * (id, label) pair per node — node count here is |distinct
  * signatures|, already collapsed far below corpus size. The driver
  * loop only orchestrates: per round it runs one distributed action
  * and reads back a single count; no row data ever reaches the driver.
  *
  * DELTA iteration (the Flink delta-iterate shape): the edge join
  * carries only labels that CHANGED last round. An unchanged
  * neighbor's label was already delivered the round it last changed
  * (round 1 delivers everything), and labels only decrease, so the
  * receiving node's min already absorbed it — round trajectories and
  * the fixpoint are bit-identical to the full join (CorpusPrepOpsSpec
  * pins the mixed clique/chain/bridge fixture against union-find), but
  * the join volume collapses as clusters converge: dense dedup
  * cliques settle in 2-3 rounds and drop out of every later round's
  * shuffle, leaving only the (rare) long-chain frontier in flight.
  *
  * Iterative-plan hygiene: each round's label table is
  * `localCheckpoint`-ed — the logical plan of round N otherwise
  * embeds round N-1's plan TWICE (once per union arm), so lineage
  * grows 2^rounds and planning alone explodes (observed: a 2 GB plan
  * string before the checkpoint was added). Checkpointing truncates
  * the lineage to the materialized blocks each round, the standard
  * fix for iterative DataFrame algorithms. The checkpoint is LAZY
  * (`eager = false`): the convergence count is the round's single
  * action — it computes the round's plan once, the localCheckpoint
  * mark persists the blocks as a side effect of that same job, and
  * the next round's joins read the cached blocks. One Spark job per
  * round instead of two. Every round is counted: under AQE a lazy
  * checkpoint's map stages run when it is declared and only its last
  * stage is deferred, so an uncounted round's blocks were computed
  * by both of the next round's readers at once (BlockManager's
  * "already exists" warning). An accumulator-fused variant that pushes
  * the count into an RDD map was measured SLOWER — re-rooting
  * through RDD[Row] costs conversions and codegen: PERF.md
  * "Round-6: measured fixes…", CcAbProbe added in 119ae52, since
  * deleted — so the count stays a DataFrame action.
  */
object ConnectedComponents {

  /** @param nodes one column `id` — every vertex, including isolated
    *              ones (they come out as their own singleton cluster)
    * @param edges columns `src`, `dst` — UNDIRECTED pairs (each pair
    *              listed once in either direction)
    * @param maxRounds safety bound on propagation rounds
    * @param delta if true, the edge join carries only labels that
    *              changed last round (Flink delta-iterate shape);
    *              if false, it carries the full label table every
    *              round. Identical fixpoint
    *              (CorpusPrepOpsSpec pins both against union-find);
    *              see the A/B note below for which wins where.
    * @param jumpAfter rounds before POINTER JUMPING kicks in. The
    *              jump (lbl ← lbl[lbl], a mins self-join) doubles
    *              propagation distance per round — the O(log
    *              diameter) guarantee — but costs a third exchange
    *              every round, and the round-7 A/B (PERF.md "Round-7:
    *              x45 winnowing at sf1…"; CcAbProbe from 119ae52,
    *              since deleted; real x30 graph, min-of-3) measured
    *              it a net LOSS on
    *              near-dup graphs, whose dense clusters settle in a
    *              handful of one-hop rounds anyway: no-jump 4.27 s
    *              vs jumped 6.65 s at sf0.1 (7 vs 6 rounds), tie at
    *              sf1 (10.77 vs 10.63 s, 10 vs 8 rounds). The hybrid
    *              walks one hop per round while the frontier is
    *              young and flips to jumping only past `jumpAfter` —
    *              so a pathological long-chain component (the shape
    *              that needs the guarantee) still converges in
    *              8 + O(log diameter) rounds, while the common case
    *              never pays for the self-join.
    * @return (id, component) — component = min node id reachable */
  def label(nodes: DataFrame, edges: DataFrame,
            maxRounds: Int = 50, delta: Boolean = true,
            jumpAfter: Int = 8): DataFrame = {
    // symmetrize once: propagation must flow both ways along a pair.
    // Persisted PRE-PARTITIONED on the join key: every round joins
    // sym on src, and a cached unpartitioned table would re-shuffle
    // the FULL edge list once per round — the dominant per-round cost
    // on real graphs (the frontier shrinks, the edge list doesn't).
    // With HashPartitioning(src) cached, EnsureRequirements skips the
    // edge-side exchange every round; only the (shrinking) frontier
    // shuffles.
    val sym = edges.select(col("src"), col("dst"))
      .union(edges.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src"))
      .persist()
    sym.count()

    val lblType = nodes.schema("id").dataType
    // localCheckpoint: truncate lineage every round (see scaladoc).
    // Round 0's is eager — nothing else materializes it.
    var labels = nodes.select(col("id"), col("id").as("lbl"))
      .localCheckpoint(true)
    // round 1: every label is news
    var front = labels
    var changed = 1L
    var round = 0
    while (changed > 0 && round < maxRounds) {
      // the previous label rides the union as `old` (null on the
      // edge arm; every id has exactly one labels-arm row, so
      // max(old) recovers it through the aggregation) — the
      // convergence check then needs no extra join, and reads the
      // already-checkpointed blocks
      val viaEdge = sym
        .join(front, sym("src") === front("id"))
        .select(col("dst").as("id"), col("lbl"),
          lit(null).cast(lblType).as("old"))
      val mins = labels
        .select(col("id"), col("lbl"), col("lbl").as("old"))
        .union(viaEdge)
        .groupBy(col("id"))
        .agg(min(col("lbl")).as("lbl"), max(col("old")).as("old"))
      // pointer jump: follow the label one more hop (labels always
      // point at node ids, so the inner self-join is total) — this
      // doubles propagation distance per round, making rounds
      // logarithmic in the diameter instead of linear. Deferred
      // until `jumpAfter` (see scaladoc): the common near-dup graph
      // converges before it ever fires
      val stepped = if (round < jumpAfter) mins
        else mins
          .join(mins.select(col("id").as("lbl"), col("lbl").as("lbl2")), "lbl")
          .select(col("id"), col("lbl2").as("lbl"), col("old"))
      val jumped = stepped
        .localCheckpoint(false) // lazy: the count below materializes it
      // null-safe: an edge endpoint missing from `nodes` surfaces with
      // old=null in its first round — `=!=` would read that as
      // "unchanged" and could stop the loop before it propagates
      val changedRows = jumped.filter(!(col("lbl") <=> col("old")))
      labels = jumped.select(col("id"), col("lbl"))
      front = if (delta) changedRows.select(col("id"), col("lbl"))
              else labels
      round += 1
      // the round's ONE action: it fills the lazy checkpoint, so the
      // next round's two readers of it (the labels arm and the edge
      // frontier) read stored blocks instead of each computing them
      changed = changedRows.count()
    }
    sym.unpersist()
    labels.select(col("id"), col("lbl").as("component"))
  }
}
