package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-source breadth-first search over a (src, dst) edge list — the
  * third iterative-closure staple beside connected components
  * (Dedup.dd_clusters) and PageRank, and the integer twin of both: per
  * round one frontier⋈edge join keyed on `src` (the key the edge frame is
  * already partitioned on), one min-aggregation, and one anti-join against
  * the settled set. `Materialize.cut` cuts lineage every round so
  * plan depth stays constant for any round count.
  *
  * Scale shape per round: the frontier starts at the seed set and can only
  * shrink back to empty; the expensive side of the join is the frontier,
  * never the full vertex set — at 100 TB this is frontier-proportional
  * work, the textbook Pregel BFS. The settled frame carries (node, dist)
  * only; exactly one count crosses to the driver per round (the
  * empty-frontier termination test).
  *
  * BFS invariant (why the anti-join is enough): every node discovered in
  * round r has true distance r — a shorter path would have discovered it
  * in an earlier round — so settled distances are final the moment they
  * are written and never need relaxation (this is Dijkstra on unit
  * weights). Pinned on planted graphs in BfsSpec.
  *
  * Caller contract: node ids must identify nodes globally (same disjoint-id
  * encoding rule as [[PageRank.run]] for bipartite inputs). Seeds must be a
  * (node) frame; duplicate seed rows are deduplicated here.
  */
object Bfs {

  /** Layered BFS from `seeds` (distance 0), up to `maxRounds` hops.
    * Returns (node, dist) for every node reached within the bound; nodes
    * unreachable in `maxRounds` hops are absent (callers mirroring a
    * bounded recursive-CTE oracle must use the same bound on both sides).
    * Stops early as soon as a frontier comes back empty. */
  /** `earlyExit = false` runs the FIXED round count as one lazy-
    * checkpoint action cascade: no per-round empty-frontier count crosses
    * to the driver, and rounds past exhaustion are empty-frame no-ops —
    * the right trade for callers whose oracle twin is a bounded unrolled
    * CTE (graph_bfs_layers) on graphs known to fill the bound. Results
    * are identical either way (an empty frontier adds nothing). */
  def run(edges: DataFrame, seeds: DataFrame, maxRounds: Int,
          earlyExit: Boolean = true): DataFrame = {
    require(maxRounds >= 1, s"need maxRounds >= 1, got $maxRounds")
    // materialize the edge frame once: it joins into every round and a lazy
    // plan (fact⋈fact distinct) would re-execute per round — the
    // PageRank.run lesson
    val e = Materialize.cut(edges.select(col("src"), col("dst")), eager = true)
    var settled = Materialize.cut(seeds.select(col("node")).distinct()
      .withColumn("dist", lit(0L)), eager = earlyExit)
    var frontier = settled
    var round = 0
    while (round < maxRounds && (!earlyExit || frontier.limit(1).count() == 1)) {
      round += 1
      val next = Materialize.cut(frontier
        .join(e, frontier("node") === e("src"))
        .select(col("dst").as("node"))
        // min-agg before the anti-join: a node reached by many frontier
        // edges collapses to one row per partition in PARTIAL aggregation,
        // so the anti-join sees |new nodes| rows, not |frontier edges|
        .distinct()
        .join(settled, Seq("node"), "left_anti")
        .withColumn("dist", lit(round.toLong)), eager = earlyExit)
      settled = Materialize.cut(settled.union(next), eager = earlyExit)
      frontier = next
    }
    settled
  }
}
