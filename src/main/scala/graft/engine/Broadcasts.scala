package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.broadcast

/** The one rule for an explicit `broadcast()` hint on a frame that grows
  * with scale. A hint OVERRIDES AQE's size-based fallback, so an ungated
  * hint on a scaled frame is a 100×-scale failure (driver OOM, the 8 GB
  * broadcast cap) where the unhinted plan would merely shuffle. Every such
  * hint is decided here: [[fits]] compares the exact row count of the
  * table the frame is bounded by (summed from its parquet footers on the
  * driver, no Spark job) against that frame kind's row limit, and [[hint]]
  * applies the decision. Above a limit the planner's own stats-based
  * choice stands: broadcast while the actual side is small, shuffle
  * beyond. Keying on the base table over-counts filtered slices, which
  * errs toward shuffling, the established direction. Constant-size sides
  * (nation, region, 1-row aggregates) keep unconditional hints. */
object Broadcasts {

  /** Node-state rows (nodes, or sources × nodes) an iterative graph loop
    * may broadcast: ~4e6 (node, value) rows ≈ 64 MB serialized, inside
    * executor memory and the 8 GB cap with a wide margin. */
  val NodeStateRows = 4000000L

  /** Corpus vectors whose (id, 64-double vector) lookup frame may
    * broadcast: 150k rows × ~550 B serialized ≈ 80 MB. Below the 160k
    * rows at which the former on-disk bound (file bytes / 64 ≤ 1e6, at
    * sf0.1's 399 B/row) flipped, so no gate flips later than it did. */
  val VectorRows = 150000L

  /** Rows of a scaled TPC-H table (customer, supplier, part) whose frames
    * may broadcast. The former bound, 256 MB on disk, flipped at sf0.1's
    * bytes/row at 12.0M supplier, 12.7M customer and 29.8M part rows;
    * 10M is below all three. */
  val TableRows = 10000000L

  /** Document rows whose vocabulary-sized frames may broadcast. The former
    * 256 MB on-disk bound flipped at 2.26M rows at sf0.1's 118.9 B/row. */
  val DocumentRows = 2000000L

  /** True while the parquet table at `path` holds at most `limit` rows.
    * A missing table counts 0 rows and fits. */
  def fits(s: SparkSession, path: String, limit: Long): Boolean =
    Tables.rowCount(s, path) <= limit

  /** `df` with a broadcast hint if `on`, else unchanged. */
  def hint(on: Boolean)(df: DataFrame): DataFrame =
    if (on) broadcast(df) else df
}
