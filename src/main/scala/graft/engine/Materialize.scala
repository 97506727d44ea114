package graft.engine

import org.apache.spark.sql.{Dataset, SparkSession}

/** The engine's one lineage policy: the only code that cuts a frame's
  * lineage or frees everything a session persisted. Every iterative face
  * stays plannable only because it cuts lineage each round; [[cut]] swaps
  * the frame's plan for a `LogicalRDD` over its local-checkpoint blocks.
  *
  * Ownership: what a query persists (checkpoint blocks and `.cache()`d
  * frames alike) may live until the caller's [[release]], so a query need
  * not unpersist it; every main that loops over queries calls [[release]]
  * between them. */
object Materialize {
  // Plain, not inheritable: suites run in parallel on one shared session,
  // and an inherited value would leak into any pool thread that Spark
  // starts inside an [[unrolled]] scope.
  private[this] val unrolledHere = ThreadLocal.withInitial[java.lang.Boolean](() => false)

  /** `ds` with its lineage cut, materialized now if `eager` (its own
    * Spark job), else by the first action that reads it. Each site states
    * `eager`: the choice is the query's job count. Inside [[unrolled]],
    * `ds` itself. */
  def cut[T](ds: Dataset[T], eager: Boolean): Dataset[T] =
    if (unrolledHere.get) ds else ds.localCheckpoint(eager)

  /** `body` with every [[cut]] on this thread returning its input, so a
    * plan audit sees a loop's joins in one logical plan. */
  private[graft] def unrolled[T](body: => T): T = within(unrolled = true)(body)

  /** `body` with cuts on, also inside [[unrolled]]: a /tmp layout is
    * built the same way whichever caller builds it first. */
  private[engine] def cutting[T](body: => T): T = within(unrolled = false)(body)

  private def within[T](unrolled: Boolean)(body: => T): T = {
    val outer = unrolledHere.get
    unrolledHere.set(unrolled)
    try body finally unrolledHere.set(outer)
  }

  /** Frees the SQL cache and, with a blocking unpersist, every persistent
    * RDD: checkpoint blocks too, which `clearCache` never touches and
    * ContextCleaner frees only after a full GC collects the RDD. Blocking,
    * so the next query does not race the removal. For a main between
    * queries only: it frees frames any other user of the session reads. */
  def release(spark: SparkSession): Unit = {
    spark.sharedState.cacheManager.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }
}
