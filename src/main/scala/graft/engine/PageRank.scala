package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-round damped PageRank over a (src, dst) edge list — the iterative
  * closure of the catalog's single oracle-checked step (`graph_rank_step`
  * is exactly round 1 of this loop restricted to the receiving side).
  *
  * Per round: one edge⋈outdeg join and one edge⋈rank join — both on `src`,
  * the key the edge list is already partitioned on after its first shuffle,
  * so AQE reuses the layout — then a per-node aggregation of contributions
  * and a node-frame left join to re-seed nodes that received nothing.
  * `Materialize.cut` cuts lineage every round (the dd_clusters /
  * KMeans.lloyd pattern), keeping plan depth constant for any round count;
  * the driver holds only round deltas, never rank rows.
  *
  * Dangling nodes (no out-edges) leak their mass rather than redistributing
  * it — the textbook simplification. Consequences pinned in PageRankSpec:
  * every rank stays ≥ (1-damping), and total mass is non-increasing round
  * over round instead of conserved.
  *
  * Caller contract: node ids must identify nodes globally. For a bipartite
  * edge list whose two sides draw from overlapping id spaces (customer 5 vs
  * supplier 5), encode sides into disjoint ids first — the loop cannot know
  * two equal numbers are different entities.
  */
object PageRank {

  /** Run `rounds` damped power iterations from uniform rank 1.0.
    * `edges` must have columns (src, dst); duplicate edges count double by
    * design (a weighted graph arrives pre-aggregated or deduplicated).
    * Returns the final (node, rank) frame and the per-round max absolute
    * rank change — strictly contracting for damping < 1. With
    * `trackDeltas = false` the delta list is empty and the loop skips one
    * join + driver action per round — the fixed-round-count callers
    * (the `graph_rank_converged` catalog face) don't pay for a convergence
    * signal they never read. */
  def run(edges: DataFrame, rounds: Int, damping: Double = 0.85,
          trackDeltas: Boolean = true): (DataFrame, Seq[Double]) = {
    require(rounds >= 1, s"need rounds >= 1, got $rounds")
    // materialize the edge frame ONCE: it joins into every round, and a
    // lazy edge plan (e.g. a fact⋈fact distinct) would re-execute per
    // round — at 5 rounds that was most of graph_rank_converged's time
    val e = Materialize.cut(edges, eager = true)
    val nodes = Materialize.cut(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct(), eager = true)
    val out = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    // hoist the round-invariant edge⋈outdeg join OUT of the loop: it is
    // identical every round, and materializing (src, dst, outdeg) once
    // drops one join per iteration. Carrying outdeg (not a precomputed
    // 1/outdeg) keeps the per-round `rank / outdeg` a single IEEE divide —
    // bit-identical to the unhoisted plan and to the oracle's replay.
    val weighted = Materialize.cut(e.join(out, "src")
      .select(col("src"), col("dst"), col("outdeg")), eager = true)
    runPrepared(weighted, nodes, rounds, damping, trackDeltas)
  }

  /** The loop alone, over a PREPARED (src, dst, outdeg) frame and its
    * (node) frame — for callers that maintain the degree-weighted
    * adjacency as a per-snapshot artifact (the graph_rank_converged
    * layout): the nodes-distinct and edge⋈outdeg setup stages above are
    * pure functions of the snapshot, so re-deriving them per run is
    * per-round fixed cost a production rank job never pays. Both frames
    * must be materialized (parquet/checkpoint), or each round re-executes
    * their plans. */
  def runPrepared(weighted: DataFrame, nodes: DataFrame, rounds: Int,
                  damping: Double = 0.85,
                  trackDeltas: Boolean = true,
                  broadcastState: Boolean = true): (DataFrame, Seq[Double]) = {
    require(rounds >= 1, s"need rounds >= 1, got $rounds")
    require(damping > 0 && damping < 1, s"need 0 < damping < 1, got $damping")
    // empty graph would otherwise surface as an NPE reading the delta agg
    require(weighted.limit(1).count() == 1, "page-rank needs a non-empty edge frame")
    // Fixed-round callers (trackDeltas = false) run the whole loop as ONE
    // action cascade: LAZY cuts still cut lineage when they materialize,
    // but the per-round driver sync disappears — the
    // graph_betweenness fusion lesson. Lazy checkpoints carry no size
    // stats for AQE, so on THAT path only the two node-frame-bounded join
    // sides get explicit broadcast hints. Delta-tracking callers keep
    // eager checkpoints (their per-round delta read forces
    // materialization anyway) and stay HINT-FREE (ADVICE r10): their
    // checkpoints give AQE real sizes, and a forced hint would override
    // AQE's size-based fallback — on a graph whose node frame exceeds the
    // broadcast limit the hinted plan fails where the unhinted one
    // shuffles. The lazy-path hint carries the same caveat, so it is
    // GATED (VERDICT r12 #1): callers pass `broadcastState = false` when
    // the node frame exceeds the broadcast budget (the catalog faces
    // route Graph.nodeHintGate's footer-exact node count here) and the
    // loop runs co-partitioned on the node key instead. PlanQualitySpec
    // reads the loop's joins in one visible plan under Materialize.unrolled.
    val hinted = Broadcasts.hint(broadcastState && !trackDeltas) _
    var ranks = Materialize.cut(nodes.withColumn("rank", lit(1.0)), eager = trackDeltas)
    val deltas = Seq.newBuilder[Double]
    for (_ <- 1 to rounds) {
      val contribs = weighted
        .join(hinted(ranks.select(col("node").as("src"), col("rank"))), "src")
        .groupBy(col("dst").as("node"))
        // fixed-point mass sum: exact BIGINT partials make every round's
        // ranks bit-identical at any partitioning (and to the catalog
        // face's DuckDB twin), where sum(double) would drift an ulp with
        // shuffle-merge order and compound across rounds
        .agg(FixedPoint.qsum(col("rank") / col("outdeg")).as("mass"))
      val next = Materialize.cut(nodes.join(hinted(contribs), Seq("node"), "left")
        .select(col("node"),
          (lit(1 - damping) + lit(damping) * coalesce(col("mass"), lit(0.0))).as("rank")),
        eager = trackDeltas)
      if (trackDeltas)
        deltas += next.join(ranks.select(col("node"), col("rank").as("prev")), "node")
          .agg(max(abs(col("rank") - col("prev")))).head.getDouble(0)
      ranks = next
    }
    (ranks, deltas.result())
  }
}
