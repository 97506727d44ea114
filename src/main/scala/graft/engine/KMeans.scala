package graft.engine

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Multi-round distributed Lloyd (k-means) iteration — the numeric twin of
  * the connected-components loop in the dedup pipeline: per round, one
  * broadcast-join assignment pass and one bounded re-aggregation, with
  * lineage cut by `Materialize.cut` so plan depth stays constant no
  * matter how many rounds run (the catalog query `emb_kmeans_step` is
  * exactly one round of this, oracle-checked).
  *
  * Scale shape per round: centroids are k rows (broadcast, never shuffled);
  * the k×n candidate frame collapses to one row per vector in PARTIAL
  * struct-min aggregation before the only wide exchange; the centroid update
  * re-aggregates ≤ k·dim groups; the driver holds only the k centroid rows
  * and one inertia double per round. Nothing quadratic, nothing global —
  * this is how k-means actually runs over 100 TB of embeddings.
  */
object KMeans {

  /** Nearest-centroid assignment: (vec_id, cluster, dist2, v).
    * Ties break to the lowest seed_id (struct-min ordering), matching the
    * emb_kmeans_step oracle's (dist2, seed_id) row_number tie-break. */
  def assign(e: DataFrame, cents: DataFrame): DataFrame =
    e.crossJoin(broadcast(cents))
      .withColumn("dist2",
        aggregate(zip_with(col("v"), col("c"), (x, y) => (x - y) * (x - y)),
          lit(0.0), (a, x) => a + x))
      .groupBy("vec_id")
      .agg(min(struct(col("dist2"), col("seed_id"), col("v"))).as("m"))
      .select(col("vec_id"), col("m.seed_id").as("cluster"),
        col("m.dist2").as("dist2"), col("m.v").as("v"))

  /** Run `rounds` Lloyd iterations from the deterministic seeds vec_id < k.
    * `e` must have columns (vec_id, v: array<double>). Returns the final
    * centroid frame (seed_id, c) and the inertia (Σ min dist2) observed at
    * each round's assignment — non-increasing by Lloyd's descent property
    * (each assignment is optimal for the previous centroids, each update is
    * optimal for the assignment). A cluster that loses every point drops
    * out rather than being re-seeded (deterministic; k can only shrink).
    * With `trackInertia = false` the inertia list is empty and the loop
    * skips one aggregation job per round — fixed-round-count callers (the
    * `emb_kmeans_k3` catalog face) don't pay for a descent signal they
    * never read. */
  def lloyd(e: DataFrame, k: Int, rounds: Int,
            trackInertia: Boolean = true): (DataFrame, Seq[Double]) = {
    require(k >= 1 && rounds >= 1, s"need k >= 1 and rounds >= 1, got k=$k rounds=$rounds")
    var cents = Materialize.cut(e.filter(col("vec_id") < k)
      .select(col("vec_id").as("seed_id"), col("v").as("c")), eager = true)
    // fail the seed contract loudly: an id space not starting at 0 would
    // otherwise surface as a bare NPE from the first inertia read
    require(cents.limit(1).count() == 1,
      s"k-means seeds empty: no rows with vec_id < $k (seed contract needs ids from 0)")
    val inertia = Seq.newBuilder[Double]
    for (_ <- 1 to rounds) {
      // fixed-round callers (trackInertia = false) fuse the loop into one
      // action cascade with LAZY checkpoints (the engine.PageRank lesson:
      // the per-round driver sync was the cost, not the work) — the
      // inertia-tracking path keeps eager ones, its per-round read
      // materializes anyway. assign() already broadcasts the k-row
      // centroid side explicitly, so no stats are needed mid-cascade.
      val a = Materialize.cut(assign(e, cents), eager = trackInertia) // reused twice below
      if (trackInertia) inertia += a.agg(sum("dist2")).head.getDouble(0)
      cents = Materialize.cut(a
        .select(col("cluster"), posexplode(col("v")))
        // fixed-point mean: order-independent BIGINT partials make every
        // round's centroids bit-identical run to run (and to the catalog
        // face / its DuckDB twin), where avg(double) would drift an ulp
        // with shuffle-merge order
        .groupBy("cluster", "pos").agg(FixedPoint.qmean(col("col")).as("cv"))
        .groupBy("cluster")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("cv")))),
          s => s.getField("cv")).as("c"))
        .select(col("cluster").as("seed_id"), col("c")),
        eager = trackInertia) // k rows; cuts the round's lineage
    }
    (cents, inertia.result())
  }
}
