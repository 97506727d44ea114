package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** EXACT distributed quantiles via two-phase bucketed selection — the
  * bounded-memory alternative to `percentile()` for full-table exact
  * medians at scale.
  *
  * Why not the built-in: Spark's exact `percentile` is an
  * ObjectHashAggregate whose per-group buffer holds EVERY distinct value
  * (an OpenHashMap value→count), merged across partitions and sorted at
  * eval — memory grows with the value domain, the aggregate is off the
  * codegen path, and at 100 TB a single group's buffer is an OOM. This is
  * also the measured standing cost of agg_mad/agg_winsorize (≈1 s per
  * percentile pass over 600k rows at sf0.1, r12 QProbe).
  *
  * The selection algorithm (classic distributed k-th element):
  *   1. ONE codegen hash-agg builds a bucket histogram per group
  *      (bucket = floor(value / width)) — shuffle carries (group, bucket,
  *      count), bounded by the value DOMAIN / width, never by row count.
  *   2. A cumulative window over the histogram (metadata-sized: buckets,
  *      not rows) locates, for each target rank, the bucket containing it
  *      and the rank's offset within that bucket.
  *   3. A second scan gathers ONLY the target buckets' values (a
  *      broadcast semi-join; ~rows/buckets values per group), sorts each
  *      tiny bucket, and indexes the exact rank out of it.
  * Interpolation replays Spark's Percentile.getPercentile LITERALLY —
  * `h = p·(n−1); q = (⌈h⌉−h)·v[⌊h⌋] + (h−⌊h⌋)·v[⌈h⌉]`, lower value alone
  * when h is integral — in the same IEEE ops, so results are BIT-identical
  * to the built-in (QuantilesSpec pins it; DuckDB's quantile_cont uses the
  * one-sided `lo + frac·(hi−lo)` form, ≤1 ulp away — indistinguishable
  * under the catalog's round(…,4) contract, same as the built-in was).
  *
  * Scale shape: two scans of the (group, value) projection, everything
  * between them bucket- or group-bounded; no per-group value buffer ever
  * exists. Skew guard: a pathological single-value bucket makes step 3's
  * gather that bucket's row count — pick `width` so buckets hold O(100)
  * rows (callers here use integer-dollar domains with width 64).
  */
object Quantiles {

  /** Exact per-group quantiles of `v` at probabilities `ps`.
    * Returns one row per (group, p): (`g`, "__p", "__q").
    * `base` should be cached by the caller — it is scanned twice. */
  /** Rows one bucket's step-3 gather may hold before the skew guard
    * trips: past this, `width` is mis-sized for the distribution (e.g.
    * more rows of one exact value than any width disperses) and the
    * single-task sort_array gather would be row-count-sized — the exact
    * failure mode this engine exists to avoid. Overridable per call for
    * tests; ~1e6 doubles ≈ 8 MB per task, comfortably in-memory. */
  val GatherRowLimit = 1000000L

  def exact(base0: DataFrame, g: String, v: String, ps: Seq[Double],
            width: Double, gatherLimit: Long = GatherRowLimit): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0.0 && p <= 1.0))
    // width <= 0 would silently degenerate every value into one bucket
    // (or NaN buckets) — fail loudly instead (ADVICE r12)
    require(width > 0, s"need bucket width > 0, got $width")
    // match Percentile's null-IGNORING semantics (ADVICE r12): without
    // this, null-valued rows enter the histogram (count(lit(1)) counts
    // them into a null bucket and n) while sort_array(collect_list(v))
    // drops them — ranks shift and element_at can miss. Current catalog
    // callers pass non-null columns; the helper is a general primitive.
    //
    // DOCUMENTED divergence for ALL-null groups (ADVICE r13): a group
    // whose every value is null has no surviving row here, so it emits
    // NO output rows, while the built-in `percentile()` emits (g, null).
    // This is the natural contract of a two-scan selection (the group
    // never reaches the histogram) and the cheap one — resurrecting such
    // groups would cost a third pass over `base0` purely to discover
    // them. Callers that need percentile()'s (g, null) rows left-join
    // this result back to their own group frame. QuantilesSpec pins both
    // halves: interleaved nulls match the built-in bit-for-bit;
    // all-null groups are absent here and null-row there.
    val base = base0.filter(col(v).isNotNull)
    val bkt = floor(col(v) / lit(width)).cast("long")
    // 1. bucket histogram (codegen hash-agg; partial agg collapses
    // map-side). LAZY-checkpointed, like `located` below: both frames fan
    // out into 2+ consumers, and Catalyst re-expands every reference —
    // without truncation a caller composing two exact() calls (agg_mad's
    // median-of-deviations) dumps a 78-exchange logical plan for what
    // executes as ~10 stages under exchange reuse. The checkpoints make
    // the printed plan BE the executed shape; both frames are bucket-/
    // group-bounded (never row-count-sized), so the materialization is
    // metadata-weight.
    val cnts = Materialize.cut(
      base.groupBy(col(g), bkt.as("__b")).agg(count(lit(1)).as("__c")), eager = false)
    val win = Window.partitionBy(g).orderBy("__b")
      .rowsBetween(Window.unboundedPreceding, -1)
    val cum = cnts.withColumn("__before", coalesce(sum("__c").over(win), lit(0L)))
    val n = cnts.groupBy(col(g)).agg(sum("__c").as("__n"))
    // 2. target ranks (1-based): h = p·(n−1); lo = ⌊h⌋+1, hi = ⌈h⌉+1
    // (the group column is RENAMED __g on this side: ranks and cum share
    // lineage through cnts, and a bare cum(g) === ranks(g) resolves to a
    // trivially-true self-compare under common-lineage attribute reuse)
    val ranks = n.select(col(g).as("__g"), explode(array(ps.map { p =>
        val h = (col("__n") - 1).cast("double") * lit(p)
        struct(lit(p).as("__p"), h.as("__h"),
          (floor(h).cast("long") + 1).as("__rlo"),
          (ceil(h).cast("long") + 1).as("__rhi"))
      }: _*)).as("__t"))
      .select(col("__g"), col("__t.__p").as("__p"), col("__t.__h").as("__h"),
        explode(array(
          struct(lit("lo").as("__side"), col("__t.__rlo").as("__r")),
          struct(lit("hi").as("__side"), col("__t.__rhi").as("__r")))).as("__e"))
      .select(col("__g"), col("__p"), col("__h"),
        col("__e.__side").as("__side"), col("__e.__r").as("__r"))
    // locate each rank's bucket + in-bucket offset (ranks is group-count
    // sized — it broadcasts; the histogram streams)
    val located = Materialize.cut(cum.join(broadcast(ranks),
        col(g) === col("__g") && col("__r") > col("__before") &&
          col("__r") <= col("__before") + col("__c"))
      .select(col(g), col("__p"), col("__h"), col("__side"),
        col("__b"), (col("__r") - col("__before")).cast("int").as("__off")),
      eager = false)
    // 3. gather ONLY the target buckets, sort each, index the exact rank.
    // RUNTIME skew guard (ADVICE r12 — the scaladoc note alone detected
    // nothing): the histogram already carries every bucket's count, so a
    // target bucket past the gather budget fails LOUDLY with the count
    // instead of quietly OOMing a task at 100 TB. The guard rides inside
    // the consumed __b column (a pruned side column would be optimized
    // away); assert_true returns NULL on pass, so the when() is identity.
    val targets = located.select(col(g), col("__b")).distinct()
      .join(cnts, Seq(g, "__b"))
      .select(col(g), when(assert_true(col("__c") <= lit(gatherLimit),
          concat(lit(s"Quantiles.exact: a target bucket exceeds the gather budget $gatherLimit"),
            lit(" (count="), col("__c").cast("string"),
            lit(") — reduce `width` for this distribution")))
          .isNull, col("__b")).as("__b"))
    val vals = base.select(col(g), bkt.as("__b"), col(v))
      .join(broadcast(targets), Seq(g, "__b"))
      .groupBy(col(g), col("__b"))
      .agg(sort_array(collect_list(v)).as("__arr"))
    located.join(vals, Seq(g, "__b"))
      .groupBy(col(g), col("__p"), col("__h"))
      .agg(
        max(when(col("__side") === "lo", element_at(col("__arr"), col("__off")))).as("__lo"),
        max(when(col("__side") === "hi", element_at(col("__arr"), col("__off")))).as("__hi"))
      .select(col(g), col("__p"),
        when(ceil(col("__h")) === floor(col("__h")), col("__lo"))
          .otherwise((ceil(col("__h")) - col("__h")) * col("__lo") +
            (col("__h") - floor(col("__h"))) * col("__hi")).as("__q"))
  }
}
