package graft.ops

import graft.Cached
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared prologue of the iterative graph ops: direction-double an
  * undirected (a, b) edge list and cache it PRE-PARTITIONED on the
  * per-round join key (the round-8 cached-partitioning move — a
  * cached unpartitioned edge list re-shuffles in FULL once per
  * round, the dominant per-round cost; with HashPartitioning(src)
  * cached, EnsureRequirements skips the edge-side exchange every
  * round). Eagerly materialized; the CALLER releases it with a
  * [[graft.Cached.scope]] around build and action (same contract as
  * [[PageRank.run]]). */
private[graft] object GraphEdges {
  /** (a, b) undirected pairs in → cached (src, dst) with both
    * directions, hash-partitioned on src. */
  def directedCached(edges: DataFrame): DataFrame =
    edges.select(col("a").as("src"), col("b").as("dst"))
      .union(edges.select(col("b").as("src"), col("a").as("dst")))
      .repartition(col("src"))
      .transform(Cached.fill)
}
