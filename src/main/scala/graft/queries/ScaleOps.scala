package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.engine.{Commits => C, FixedPoint => FP, Materialize, Tables}
import graft.engine.Tables.{load => t}

/** Scale-path operators beyond the reference's surface: skew-salted joins,
  * as-of joins, and sketch aggregates — the moves a 100 TB pipeline actually
  * needs when the stock plan degrades.
  */
object ScaleOps {
  type Q = (SparkSession, String) => DataFrame

  /** The shared three-writer commit-log scenario (etl_commit_conflict +
    * etl_commit_changes): v1 = customers nation < 10, a winning append of
    * [10, 20) at v2, a stale compaction REJECTED by conflict detection,
    * and a second append rebasing ≥ 20 through the conflict to v3.
    * Materialized once per sf through [[graft.engine.Layouts.publish]], so
    * a crashed half-build can never be consumed (manifests are
    * table-relative, so the publishing rename is safe). */
  private def commitScenario(s: SparkSession, d: String): String =
    graft.engine.Layouts.publish(s, d, "commits/tbl") { work =>
      val cust = t(s, d, "customer")
      C.init(work, C.stage(cust.filter(col("c_nationkey") < 10), work, "base"))
      // all three writers stage against basis v1
      val aStaged = C.stage(cust.filter(col("c_nationkey") >= 10 &&
        col("c_nationkey") < 20), work, "writerA")
      val bStaged = C.stage(
        C.read(s, work, 1).coalesce(1), work, "writerB")
      val cStaged = C.stage(cust.filter(col("c_nationkey") >= 20), work, "writerC")
      val (v2, aConf) = C.commitAppend(work, 1, Seq(aStaged))
      require(v2 == 2 && !aConf, "append A must win v2 unconflicted")
      require(C.commitRewrite(work, 1, Seq(bStaged)).isLeft,
        "stale rewrite must be rejected by conflict detection")
      val (v3, cConf) = C.commitAppend(work, 1, Seq(cStaged))
      require(v3 == 3 && cConf, "append C must rebase through the conflict to v3")
    }

  /** The delta-action-log + checkpoint scenario (etl_commit_checkpoint):
    * three appends build the table (v1–v3), a quiescent compaction
    * rewrites them into one file (v4), the every-N=4 checkpoint policy
    * fires at v4, then two appends race basis 4 — A wins v5, B rebases
    * through the conflict to v6. Exercises every reader shape: full
    * replay (v1–v3, no checkpoint yet), checkpoint-exact (v4), and
    * checkpoint + tail (v5–v6, with the tail containing a rebased
    * commit). Published like commitScenario. */
  private def ckptScenario(s: SparkSession, d: String): String =
    graft.engine.Layouts.publish(s, d, "ckpt/tbl") { work =>
      val cust = t(s, d, "customer")
      C.init(work, C.stage(cust.filter(col("c_nationkey") < 5), work, "base"))
      C.commitAppend(work, 1, Seq(C.stage(
        cust.filter(col("c_nationkey") >= 5 && col("c_nationkey") < 10), work, "w2")))
      C.commitAppend(work, 2, Seq(C.stage(
        cust.filter(col("c_nationkey") >= 10 && col("c_nationkey") < 15), work, "w3")))
      val live = C.resolve(work, 3)
      val compacted = C.stage(
        C.read(s, work, 3).coalesce(1), work, "compact")
      require(C.commitRewrite(work, 3, Seq(compacted), live).isRight,
        "quiescent compaction must land at v4")
      C.checkpoint(work, 4)
      val aS = C.stage(cust.filter(col("c_nationkey") >= 15 &&
        col("c_nationkey") < 20), work, "wA")
      val bS = C.stage(cust.filter(col("c_nationkey") >= 20), work, "wB")
      val (v5, c5) = C.commitAppend(work, 4, Seq(aS))
      require(v5 == 5 && !c5, "append A must win v5 unconflicted")
      val (v6, c6) = C.commitAppend(work, 4, Seq(bS))
      require(v6 == 6 && c6, "append B must rebase through the conflict to v6")
    }

  /** Shared SCD2 dimension history: per-(custkey, day) revenue states with
    * lead()-derived validity windows — the ONE history every versioned-read
    * face consumes (etl_scd2, etl_scd2_asof, etl_snapshot_read,
    * etl_snapshot_diff). day_rev folds through the fixed-point qsum so all
    * four consumers are merge-order-independent; before this helper the
    * four inline copies had already drifted (two qsum, two plain sum — the
    * r5 margin audit could not even SEE the plain ones because their round
    * sits below the Window node). */
  private def scd2Hist(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("custkey").orderBy("eff_from")
    t(s, d, "orders")
      .groupBy(col("o_custkey").as("custkey"),
               to_date(col("o_orderdate")).as("eff_from"))
      .agg(round(FP.qsum(col("o_totalprice"), 20), 4).as("day_rev"))
      .withColumn("eff_to", lead(col("eff_from"), 1).over(w))
  }

  /** The session catalog table named like the published layout at `path`
    * (its last path component): `register` creates it unless the session
    * has it. A catalog table is session state, so each session registers
    * the shared files once; the lock keeps a concurrent query from
    * planning against a table that is registered but not yet analyzed. */
  private def catalogTable(s: SparkSession, path: String)(register: String => Unit): String = {
    val tbl = new java.io.File(path).getName
    if (!s.catalog.tableExists(tbl)) catalogLock.synchronized {
      if (!s.catalog.tableExists(tbl)) register(tbl)
    }
    tbl
  }
  private[this] val catalogLock = new Object

  /** orders partitioned by o_year: pp_partition_pruned and pp_dynamic_pruning's fact side. */
  private def ordersByYear(s: SparkSession, d: String): DataFrame = {
    graft.engine.Layouts.committed(s, d, "partitioned/orders") { out =>
      t(s, d, "orders").withColumn("o_year", year(col("o_orderdate")))
        .write.partitionBy("o_year").parquet(out)
    }
  }

  val queries: Map[String, Q] = Map(
    // ---- skew-salted aggregation+join. Scenario: one hot key dominates
    // (here: synthetic hot_key = user_id % 3 == 0 collapsed to key 0 — at
    // 100 TB think "null user" or "bot account"). The salted plan:
    // (1) spread the hot key across SALT sub-keys for the heavy aggregation,
    // (2) re-aggregate the partials. Result is identical to the naive
    // groupBy (the oracle computes the naive form); only the shuffle layout
    // differs. AQE's skewedJoin handles the JOIN case at runtime; explicit
    // salting is the portable fix for aggregations.
    "skew_salted_agg" -> ((s, d) => {
      val salt = 8
      val ev = t(s, d, "events")
        .withColumn("skey", when(col("user_id") % 3 === 0, 0L).otherwise(col("user_id")))
      ev
        .withColumn("salt", (col("event_id") % salt).cast("int"))
        .groupBy("skey", "salt")                       // stage 1: salted partials
        .agg(count(lit(1)).as("pn"), sum("value").as("pv"))
        .groupBy("skey")                               // stage 2: merge partials
        .agg(sum("pn").as("n"), round(sum("pv"), 4).as("sum_value"))
        .orderBy("skey")
    }),

    // ---- skew-salted JOIN (the join twin of skew_salted_agg): the hot key
    // would land every matching row on one reducer in a plain shuffle join.
    // Salt the big side with event_id % SALT and REPLICATE each small-side
    // row SALT times (explode), then join on (key, salt) — the hot key's
    // rows spread across SALT reducers, result identical to the plain join
    // (the oracle computes the plain form). The shuffle_hash hint keeps the
    // demonstration a shuffle join (broadcast would hide the layout; at
    // 100 TB the dim that needs this is too big to broadcast).
    "skew_salted_join" -> ((s, d) => {
      val salt = 8
      val ev = t(s, d, "events")
        .withColumn("skey", when(col("user_id") % 3 === 0, 0L).otherwise(col("user_id")))
        .withColumn("salt", (col("event_id") % salt).cast("int"))
      val dim = t(s, d, "customer").filter(col("c_custkey") <= 150)
        .select((col("c_custkey") - 1).as("skey"), col("c_name"))
        .withColumn("salt", explode(array((0 until salt).map(lit): _*)))
      ev.hint("shuffle_hash").join(dim, Seq("skey", "salt"))
        .groupBy("skey", "c_name")
        .agg(count(lit(1)).as("n"), round(sum("value"), 4).as("sum_value"))
        .orderBy("skey")
    }),

    // ---- BINNED range/interval join — the missing join shape beside
    // equi (j1–j7), as-of (asof_join), and skew-salted: match each event
    // to every OVERLAPPING campaign window (ts ∈ [start, end)), the
    // attribution/enrichment join every event pipeline runs against
    // promotion/deploy/incident windows. Stock Spark plans a pure
    // inequality join as BroadcastNestedLoopJoin — per-row predicate
    // evaluation over rows × windows, the quadratic cliff at 100 TB
    // (Databricks ships a dedicated range-join optimization for exactly
    // this; OSS Spark does not, so the manual rewrite IS the scale move).
    // The binned plan: quantize time into 12 h bins, explode each window
    // to the bins it covers (windows are 24 h → ≤ 3 bins each), EQUI-join
    // on the bin key, then post-filter the exact interval predicate — a
    // hash join whose fan-out is bounded by windows-per-bin, never
    // rows × windows. Windows deliberately OVERLAP (36 h stride, 24 h
    // length) so events match 0–2 campaigns and the join is genuinely
    // many-to-many. THE ORACLE IS THE NAIVE BETWEEN JOIN — the hash gate
    // is a proof that the binned rewrite is semantics-preserving.
    "range_join_binned" -> ((s, d) => {
      val binUs = 12L * 3600 * 1000000
      val ev = t(s, d, "events")
        .select(col("event_id"), col("user_id"), col("value"),
          unix_micros(col("ts")).as("tus"))
      val t0 = ev.agg(min("tus").as("t0"))
      val camps = s.range(0, 20).toDF("campaign")
        .crossJoin(broadcast(t0))
        .select(col("campaign"),
          (col("t0") + col("campaign") * lit(36L * 3600 * 1000000)).as("cstart"))
        .withColumn("cend", col("cstart") + lit(24L * 3600 * 1000000))
      val campBins = camps.select(col("campaign"), col("cstart"), col("cend"),
        explode(sequence(expr(s"cstart div $binUs"),
          expr(s"(cend - 1) div $binUs"))).as("bin"))
      val joined = ev.withColumn("bin", expr(s"tus div $binUs"))
        .join(broadcast(campBins), "bin")
        .filter(col("tus") >= col("cstart") && col("tus") < col("cend"))
      camps.join(joined.groupBy("campaign")
          .agg(count(lit(1)).as("n_events"), countDistinct("user_id").as("n_users"),
               round(FP.qsum(col("value"), 20), 4).as("sum_value")),
          Seq("campaign"), "left")
        .select(col("campaign"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          coalesce(col("n_users"), lit(0L)).as("n_users"),
          coalesce(col("sum_value"), lit(0.0)).as("sum_value"))
        .orderBy("campaign")
    }),

    // ---- Z-order layout key: interleave the low 16 bits of two columns so
    // a range cluster/sort on `zval` co-locates rows close in BOTH
    // dimensions — the lakehouse data-layout move that lets min/max row-group
    // stats prune two-column predicates. Pure integer arithmetic (floor-div
    // and power-of-two lookup), identical in any engine; the demo projects a
    // bounded slice ordered by the key.
    "layout_zorder" -> ((s, d) => {
      val p2: Seq[Long] = (0 until 63).map(1L << _)
      def bit(c: org.apache.spark.sql.Column, i: org.apache.spark.sql.Column) =
        pmod(floor(c / element_at(typedLit(p2), i + 1)).cast("long"), lit(2L))
      val z = aggregate(sequence(lit(0), lit(15)), lit(0L), (acc, i) =>
        acc + bit(col("l_orderkey"), i) * element_at(typedLit(p2), i * 2 + 1)
            + bit(col("l_partkey"), i) * element_at(typedLit(p2), i * 2 + 2))
      t(s, d, "lineitem")
        .filter(col("l_orderkey") <= 64)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"), z.as("zval"))
        .orderBy("zval", "l_orderkey", "l_linenumber")
    }),

    // ---- as-of join (the canonical telemetry⋈weather alignment): for every
    // 'purchase' event, the most recent prior 'signup' event of the same
    // user. Spark-first shape: union the two streams with a tag, one window
    // pass with last(..., ignoreNulls) over (user, time) — ONE shuffle on
    // user_id, no range-join explosion, linear in input. DuckDB oracle uses
    // its native ASOF JOIN semantics via the same window formulation.
    "asof_join" -> ((s, d) => {
      val ev = t(s, d, "events")
      val tagged = ev.select(col("user_id"), col("ts"), col("event_id"),
        col("event_type"), col("value"),
        when(col("event_type") === "signup", col("ts")).as("signup_ts_raw"))
      val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tagged
        .withColumn("last_signup_ts", last("signup_ts_raw", ignoreNulls = true).over(w))
        .filter(col("event_type") === "purchase")
        .select("event_id", "user_id", "ts", "last_signup_ts")
        .orderBy("event_id")
    }),

    // ---- as-of join via the CUSTOM OPERATOR (graft.plans.AsOfJoinPlan →
    // AsOfJoinStrategy → AsOfJoinExec): same semantics and same oracle as
    // "asof_join" above, but executed by the sort-merge as-of SparkPlan —
    // two key exchanges, per-partition O(n+m) merge walk, no unioned window
    // pass. Proves the full custom LogicalPlan/Strategy/Exec path end-to-end
    // against an independent engine.
    "asof_join_custom" -> ((s, d) => {
      graft.plans.GraftExtensions.install(s)
      val ev = t(s, d, "events")
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"), unix_micros(col("ts")).as("tl"))
      val signups = ev.filter(col("event_type") === "signup")
        .select(col("user_id").as("s_user"), col("ts").as("s_ts"),
          unix_micros(col("ts")).as("s_tl"), col("event_id").as("s_event_id"))
      graft.plans.GraftExtensions
        .asofJoin(purchases, "user_id", "tl", signups, "s_user", "s_tl")
        .select(col("event_id"), col("user_id"), col("ts"), col("s_ts").as("last_signup_ts"))
        .orderBy("event_id")
    }),

    // ---- MERGE/upsert semantics over plain parquet (no Delta in this
    // container): target ⟗ source with per-row action — matched rows update,
    // unmatched source rows insert, unmatched target rows carry over. At
    // scale this is the full-outer-join formulation every table-format MERGE
    // lowers to; with a lakehouse format the same plan runs under the
    // transaction log.
    "etl_upsert" -> ((s, d) => {
      val target = t(s, d, "customer")
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"))
      // source: balance deltas derived from urgent orders (+1% of totalprice)
      val source = t(s, d, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .groupBy(col("o_custkey").as("s_custkey"))
        .agg(round(sum(col("o_totalprice")) * 0.01, 4).as("delta"))
      target.join(source, col("c_custkey") === col("s_custkey"), "full_outer")
        .select(
          coalesce(col("c_custkey"), col("s_custkey")).as("custkey"),
          coalesce(col("c_name"), lit("NEW CUSTOMER")).as("name"),
          // acctbal can be negative → qround (signed-zero rule)
          FP.qround(coalesce(col("c_acctbal"), lit(0.0)) + coalesce(col("delta"), lit(0.0)), 4).as("new_acctbal"),
          when(col("s_custkey").isNull, "carried")
            .when(col("c_custkey").isNull, "inserted")
            .otherwise("updated").as("action"))
        .orderBy("custkey")
    }),

    // ---- CDC log compaction: a change log (key, seq, op, payload) applies
    // to final state — keep the LATEST op per key, and if that op is a
    // delete, the key vanishes. This is the merge a streaming upsert sink
    // (or compacted topic) runs continuously. Log synthesized from
    // lineitem: key = (orderkey, partkey), seq = linenumber, deletes where
    // quantity < 2. The argmax is a struct-max AGGREGATE (partial→final,
    // shuffle carries one row per key), not a window sort — the shape that
    // survives a 100 TB log. The synthetic log DOES contain seq ties
    // (duplicate line numbers per key), so the struct-max's lexicographic
    // tie-break (seq, then op, then payload) is mirrored verbatim in the
    // oracle's ORDER BY — a real CDC log would make seq unique upstream.
    // OPTIMIZATION r14 (guide §2.4 — share one exchange between operations
    // keyed the same way): the aggregate and the output sort both key on
    // (k1, k2), but groupBy→orderBy planned TWO keyspace-sized exchanges
    // (hash for the struct-max, then range for the sort — 24.4 MB total at
    // sf0.1, the catalog's 4th-largest shuffler). Range-partitioning ONCE
    // up front satisfies the aggregate's ClusteredDistribution (equal keys
    // land in one range partition), and sortWithinPartitions then yields
    // the same global (k1, k2) order with ZERO further exchanges — one
    // keyspace-sized shuffle instead of two, same rows, same order.
    "etl_cdc_compact" -> ((s, d) =>
      t(s, d, "lineitem")
        .select(col("l_orderkey").as("k1"), col("l_partkey").as("k2"),
          col("l_linenumber").cast("bigint").as("seq"),
          when(col("l_quantity") < 2, "D").otherwise("U").as("op"),
          round(col("l_extendedprice"), 4).as("payload"))
        .repartitionByRange(col("k1"), col("k2"))
        .groupBy("k1", "k2")
        .agg(max(struct(col("seq"), col("op"), col("payload"))).as("m"))
        .filter(col("m.op") =!= "D")
        .select(col("k1"), col("k2"), col("m.seq").as("seq"),
                col("m.op").as("op"), col("m.payload").as("payload"))
        .sortWithinPartitions("k1", "k2")),

    // ---- SCD type-2 build: turn a change log (one row per observed state)
    // into versioned dimension rows with [eff_from, eff_to) validity windows
    // and an is_current flag — the warehouse-standard history table a
    // training pipeline joins facts against as-of a date. One shuffle on the
    // dimension key; the window is PARTITIONED (per custkey), never global,
    // so the plan is a single sort within each hash partition at any scale.
    // States are the per-(customer, day) order revenue snapshots.
    "etl_scd2" -> ((s, d) => {
      val w = Window.partitionBy("custkey").orderBy("eff_from")
      scd2Hist(s, d)
        .withColumn("version", row_number().over(w).cast("bigint"))
        .withColumn("is_current", col("eff_to").isNull)
        .select("custkey", "version", "eff_from", "eff_to", "is_current", "day_rev")
        .orderBy("custkey", "version")
    }),

    // ---- SCD2 as-of snapshot: the consumption side of etl_scd2 — "what
    // was every customer's state on date D" is a validity-window filter
    // (eff_from <= D < eff_to, open-ended current rows pass), NOT a join:
    // one scan of the dimension history, one predicate, at most one row per
    // key by construction. This is how a training job pins features to a
    // label date without leakage.
    "etl_scd2_asof" -> ((s, d) => {
      val asof = lit("1998-01-01").cast("date")
      scd2Hist(s, d)
        .filter(col("eff_from") <= asof &&
          (col("eff_to").isNull || col("eff_to") > asof))
        .select("custkey", "eff_from", "eff_to", "day_rev")
        .orderBy("custkey")
    }),

    // ---- BITEMPORAL as-of (the two-axis classic SCD2 alone can't
    // answer): "as the database was KNOWN at T_tx, what was believed
    // VALID at T_v?" — the audit question behind every financial
    // restatement and late-arriving-correction pipeline. The version
    // store is built in-query: every order's base version (valid and
    // recorded from o_orderdate) plus, for key % 50 = 0, a +100
    // LATE-ARRIVING correction effective 60 days after the order but
    // recorded only 90 days after — so transaction time and valid time
    // genuinely diverge in both directions. The face
    // answers a 2×2 (T_tx, T_v) grid: the correction is invisible when
    // asked early on EITHER axis, visible only when both the knowledge
    // and validity cutoffs pass it — the signature bitemporal truth
    // table, emitted as one census row per grid cell. Resolution is the
    // standard bitemporal pick (max valid_from, then max tx_from, per
    // key) via one window keyed by (grid cell, orderkey). Scale shape:
    // versions ≈ 1.02× the fact table; the 4-cell grid is a broadcast
    // literal, so the cost is one windowed pass per cell over
    // co-partitioned keys — a real deployment pins ONE (T_tx, T_v) pair
    // and pays a single pass.
    "etl_bitemporal" -> ((s, d) => {
      import s.implicits._
      // o_orderdate is cast to DATE explicitly on BOTH engines (the q12
      // ADVICE lesson: date_add silently truncates a timestamp's
      // time-of-day on one engine only)
      val od = col("o_orderdate").cast("date")
      val base = t(s, d, "orders").select(col("o_orderkey").as("k"),
        col("o_orderstatus").as("status"), col("o_totalprice").as("price"),
        od.as("valid_from"), od.as("tx_from"),
        lit(false).as("corrected"))
      val corr = t(s, d, "orders").filter(col("o_orderkey") % 50 === 0)
        .select(col("o_orderkey").as("k"), col("o_orderstatus").as("status"),
          (col("o_totalprice") + 100.0).as("price"),
          date_add(od, 60).as("valid_from"),
          date_add(od, 90).as("tx_from"),
          lit(true).as("corrected"))
      val grid = Seq(("early_tx_early_v", "1997-06-01", "1997-06-01"),
                     ("late_tx_early_v",  "2002-01-01", "1997-06-01"),
                     ("early_tx_late_v",  "1997-06-01", "2002-01-01"),
                     ("late_tx_late_v",   "2002-01-01", "2002-01-01"))
        .toDF("cell", "t_tx", "t_v")
        .select(col("cell"), col("t_tx").cast("date"), col("t_v").cast("date"))
      val w = Window.partitionBy("cell", "k")
        .orderBy(col("valid_from").desc, col("tx_from").desc)
      base.unionByName(corr).crossJoin(broadcast(grid))
        .filter(col("tx_from") <= col("t_tx") && col("valid_from") <= col("t_v"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .groupBy("cell")
        .agg(count(lit(1)).as("n_visible"),
             sum(when(col("corrected"), 1L).otherwise(0L)).as("n_corrected"),
             round(FP.qsum(col("price"), 20), 4).as("believed_rev"))
        .orderBy("cell")
    }),

    // ---- VACUUM planning — the retention pass every versioned lakehouse
    // table needs: which expired row versions are safe to physically
    // delete? A version survives iff it is CURRENT, or VISIBLE to a pinned
    // snapshot (time travel must keep working for the pins), or expired
    // after the retention watermark (short-horizon time travel). Everything
    // else is reclaimable. This face classifies every SCD2 version against
    // two pins (1997-01-01, 1998-01-01) and a 1997-06-01 watermark and
    // emits the per-class census — the report a table owner reads before
    // running VACUUM, and the exact predicate a Delta/Iceberg VACUUM
    // evaluates against its snapshot log. Scale shape: one scan of the
    // version history with a scan-side CASE — no join, no shuffle beyond
    // the final tiny census agg.
    "etl_vacuum_plan" -> ((s, d) => {
      val pins = Seq("1997-01-01", "1998-01-01").map(p => lit(p).cast("date"))
      val wm = lit("1997-06-01").cast("date")
      def visibleAt(p: Column): Column =
        col("eff_from") <= p && (col("eff_to").isNull || col("eff_to") > p)
      scd2Hist(s, d)
        .withColumn("status",
          when(col("eff_to").isNull, "current")
            .when(pins.map(visibleAt).reduce(_ || _), "pinned")
            .when(col("eff_to") > wm, "retained")
            .otherwise("vacuum"))
        .groupBy("status")
        .agg(count(lit(1)).as("n_versions"),
             countDistinct("custkey").as("n_keys"),
             round(FP.qsum(col("day_rev"), 20), 4).as("rev_mass"))
        .orderBy("status")
    }),

    // ---- bucketed co-located join: both sides bucketBy(8) on the join key
    // at WRITE time, so the join needs no exchange at READ time — the layout
    // that amortizes a repeated 100 TB fact⋈fact shuffle once. The bucketed
    // tables are created on first use per (table, sf) into /tmp (external
    // path, in-memory catalog); the merge hint keeps the demonstration a
    // sort-merge join instead of a broadcast. PlanQualitySpec asserts the
    // bucketed scan and the absence of join-key exchanges; BucketingSpec
    // covers the layout in depth.
    "bj_colocated_join" -> ((s, d) => {
      def bucketed(stem: String, df: => DataFrame, key: String): String = {
        // bucketBy writes only through a catalog table, so the build
        // registers a scratch one over its work dir and drops it again
        // (an external table: the files stay)
        val path = graft.engine.Layouts.publish(s, d, s"bucketed/$stem") { out =>
          val scratch = "build_" + java.util.UUID.randomUUID().toString.replace("-", "")
          df.write.bucketBy(8, key).sortBy(key).option("path", out)
            .format("parquet").saveAsTable(scratch)
          s.sql(s"DROP TABLE $scratch")
        }
        // a bucketed CREATE TABLE needs its column list spelled out
        catalogTable(s, path)(tbl => s.sql(
          s"CREATE TABLE $tbl (${Tables.parquet(s, path).schema.toDDL}) USING parquet " +
            s"CLUSTERED BY ($key) SORTED BY ($key) INTO 8 BUCKETS LOCATION '$path'"))
      }
      val bo = bucketed("bj_orders",
        t(s, d, "orders").select(col("o_orderkey"), col("o_orderstatus")), "o_orderkey")
      val bl = bucketed("bj_lineitem",
        t(s, d, "lineitem").select(col("l_orderkey"), col("l_extendedprice")), "l_orderkey")
      s.table(bl).hint("merge")
        .join(s.table(bo), col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderstatus")
        // qsum: a ~1e10 price sum's merge noise is several ulps (~2e-6 each)
        // and sf0.1 cells sit 3.4e-5 from a boundary — inside the 64·ulp
        // flake band the r6 margin audit flags
        .agg(count(lit(1)).as("n"), round(FP.qsum(col("l_extendedprice"), 20), 4).as("rev"))
        .orderBy("o_orderstatus")
    }),

    // ---- partition-pruned scan (SURVEY S8's catalog face): orders written
    // once per sf as year-partitioned parquet (hive-style o_year=YYYY dirs
    // under /tmp/graft_partitioned, first-use, like the bucketed tables); the
    // query's o_year predicate is resolved against the directory listing at
    // PLANNING time — PartitionFilters in the scan node, one directory read,
    // zero data-file IO outside 1995 (plan-asserted in PlanQualitySpec). At
    // 100 TB this is THE first-line scan reducer: date-partitioned layout
    // turns a full-corpus scan into a per-partition read.
    // ---- dynamic partition pruning: the partition filter is NOT a literal
    // — it's the year set a dim-side predicate selects at RUNTIME. The fact
    // is the same year-partitioned layout as pp_partition_pruned; the dim
    // is a tiny (year, era) parquet table; filtering era='mid' lets Spark
    // inject a dynamicpruning subquery into the fact scan's
    // PartitionFilters (plan-asserted), so only the mid-era directories are
    // read even though no literal year appears in the query. At 100 TB this
    // is how "join orders to the current catalog snapshot" avoids scanning
    // a decade of partitions.
    "pp_dynamic_pruning" -> ((s, d) => {
      val fact = ordersByYear(s, d)
      val dimDf = graft.engine.Layouts.committed(s, d, "partitioned/years") { out =>
        t(s, d, "orders")
          .select(year(col("o_orderdate")).as("o_year")).distinct()
          .withColumn("era",
            when(col("o_year") < 1995, "early")
              .when(col("o_year") < 1998, "mid")
              .otherwise("late"))
          .coalesce(1).write.parquet(out)
      }
      fact.join(broadcast(dimDf.filter(col("era") === "mid")), "o_year")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), round(FP.qsum(col("o_totalprice"), 20), 4).as("rev"))
        .orderBy("o_orderstatus")
    }),

    // ---- custom DataSource V2 face: the graft.sources.SyntheticDocs
    // connector generates rows partition-parallel; the doc_id range filter
    // is ABSORBED by the scan builder (rows outside [90000, 90100) are
    // never generated — SourcesSpec asserts the planned interval), and
    // column pruning drops the text field at the reader. The oracle
    // recomputes the same deterministic formulas from a DuckDB range() —
    // so the whole connector stack is hash-checked end to end.
    "src_pushdown_docs" -> ((s, d) => {
      val _ = d // source is synthetic; sf dir unused
      s.read.format("graft.sources.SyntheticDocs")
        .option("rows", "100000").option("slices", "8").load()
        .filter(col("doc_id") >= 90000 && col("doc_id") < 90100)
        .groupBy((col("doc_id") % 10).as("bucket"))
        .agg(count(lit(1)).as("n"), sum("score").as("sum_score"))
        .orderBy("bucket")
    }),

    // ---- connector-level AGGREGATE pushdown (SupportsPushDownAggregates,
    // partial mode): the global count/min/max over a filtered synthetic
    // range never generates a row — each range partition answers
    // arithmetically from its [lo, hi) bounds and Spark merges `slices`
    // one-row partials. SourcesSpec asserts the scan node carries the
    // pushed aggregate list; this face hash-checks the answers.
    "src_pushdown_agg" -> ((s, d) => {
      val _ = d // source is synthetic; sf dir unused
      s.read.format("graft.sources.SyntheticDocs")
        .option("rows", "1000000").option("slices", "8").load()
        .filter(col("doc_id") >= 250000 && col("doc_id") < 750000)
        .agg(count(lit(1)).as("n_rows"),
             min("doc_id").as("min_id"),
             max("doc_id").as("max_id"))
    }),

    // ---- connector-level LIMIT+OFFSET pushdown (SupportsPushDownLimit /
    // SupportsPushDownOffset, EXACT mode — isPartiallyPushed=false, so
    // Spark drops its own Limit/Offset operators): the LIMIT-n exploration
    // read every user runs against a new table. The range scan applies
    // offset/limit arithmetically — a LIMIT 10 OFFSET 20 over a synthetic
    // billion-row table plans exactly 10 rows (SourcesSpec asserts the
    // planned partition widths and the scan's PushedLimit/PushedOffset);
    // this face hash-checks the row contents.
    "src_pushdown_limit" -> ((s, d) => {
      val _ = d // source is synthetic; sf dir unused
      s.read.format("graft.sources.SyntheticDocs")
        .option("rows", "100000").option("slices", "8").load()
        .filter(col("doc_id") >= 90000)
        .offset(20).limit(10)
        .select(col("doc_id"), col("text"), col("score"))
        .orderBy("doc_id")
    }),

    // ---- connector-level RUNTIME filtering (SupportsRuntimeFiltering,
    // SPARK-35779 — the DSv2 analogue of dynamic partition pruning): the
    // build side's predicate on score is not statically inferable onto
    // doc_id, so at execution the broadcast's doc_id set returns to the
    // probe scan as a dynamic In-filter, which the range source applies as
    // a bounds intersection BEFORE planning partitions — the probe
    // generates only the joinable slice instead of all 1M rows
    // (SourcesSpec asserts the collapsed interval; this face hash-checks
    // the joined answer).
    "src_runtime_prune" -> ((s, d) => {
      val _ = d // source is synthetic; sf dir unused
      val probe = s.read.format("graft.sources.SyntheticDocs")
        .option("rows", "1000000").option("slices", "8").load()
      val build = s.read.format("graft.sources.SyntheticDocs")
        .option("rows", "1000000").option("slices", "4").load()
        .filter(col("doc_id") >= 700000 && col("doc_id") < 710000 &&
          col("score") === 500)
        .select(col("doc_id").as("k"))
      probe.join(build, col("doc_id") === col("k"))
        .select(col("doc_id"), col("text"), col("score"))
        .orderBy("doc_id")
    }),

    // ---- snapshot-isolation / time-travel read contract ("AS OF" reads,
    // the Delta-style semantics the sandbox can't ship a jar for; see the
    // README's table-format stance): the SCD2 history IS the transaction
    // log, a snapshot date IS a version pin, and reconstructing the table
    // at four quarterly pins yields per-snapshot row counts, fixed-point
    // revenue totals, and an order-independent content checksum (md5 →
    // polynomial hash → exact BIGINT sum, the etl_row_hash_audit
    // primitive) a replica can compare replica-wide. Scale shape: the
    // history builds with one shuffle + a PARTITIONED window; the 4-row
    // snapshot frame broadcasts onto it; floats stay out of the signature
    // (double→text formatting is engine-specific).
    "etl_snapshot_read" -> ((s, d) => {
      val hist = scd2Hist(s, d)
      val snaps = Seq("1996-07-01", "1997-01-01", "1997-07-01", "1998-01-01")
      val snapF = s.range(1).select(
        explode(array(snaps.map(x => lit(x).cast("date")): _*)).as("snapshot_date"))
      hist.crossJoin(broadcast(snapF))
        .filter(col("eff_from") <= col("snapshot_date") &&
          (col("eff_to").isNull || col("eff_to") > col("snapshot_date")))
        .withColumn("sig", element_at(graft.engine.TextFunctions.tokenHashes(
          md5(concat_ws("|", col("custkey"), col("eff_from")))), 1))
        .groupBy("snapshot_date")
        .agg(count(lit(1)).as("n_keys"),
             round(FP.qsum(col("day_rev"), 20), 4).as("total_rev"),
             sum("sig").as("checksum"))
        .orderBy("snapshot_date")
    }),

    // ---- change-data-feed between two snapshot pins (the "what changed
    // between version V1 and V2" read Delta calls CDF): full-outer-join the
    // two AS-OF states of the SCD2 history and classify every key as
    // inserted / updated / unchanged — deleted is impossible here because
    // the history only ever adds validity windows, and the face proves that
    // by construction (no 'deleted' rows in the census). One shuffle on
    // custkey for the self-join of two validity filters over ONE history
    // scan; counts per class plus fixed-point revenue deltas.
    "etl_snapshot_diff" -> ((s, d) => {
      val hist = scd2Hist(s, d)
      def asOf(pin: String) = hist
        .filter(col("eff_from") <= lit(pin).cast("date") &&
          (col("eff_to").isNull || col("eff_to") > lit(pin).cast("date")))
        .select(col("custkey"), col("eff_from"), col("day_rev"))
      val v1 = asOf("1996-07-01")
      val v2 = asOf("1997-07-01")
      v1.as("a").join(v2.as("b"), Seq("custkey"), "full_outer")
        .withColumn("change",
          when(col("a.eff_from").isNull, "inserted")
            .when(col("b.eff_from").isNull, "deleted")
            .when(col("a.eff_from") =!= col("b.eff_from"), "updated")
            .otherwise("unchanged"))
        .groupBy("change")
        .agg(count(lit(1)).as("n_keys"),
             // qround: the 'unchanged' class sums deltas that are mostly
             // exact zeros with a few negatives — a tiny negative total
             // rounds to -0 in DuckDB vs +0 in Spark (r6 NEGZ audit hit)
             FP.qround(FP.qsum(coalesce(col("b.day_rev"), lit(0.0)) -
               coalesce(col("a.day_rev"), lit(0.0)), 20), 4).as("rev_delta"))
        .orderBy("change")
    }),

    // ---- incremental rollup maintenance (materialized-view refresh): the
    // merged result of a BASE rollup (history, computed once) and a DELTA
    // rollup (the new partition) must equal the full recompute — without
    // rescanning history. Works because every aggregate carried is a
    // mergeable partial: counts are integers, and revenue is carried as
    // the UNDIVIDED fixed-point BIGINT (FixedPoint.q), whose sums are
    // associative — so incremental == full EXACTLY, not approximately,
    // which is the contract an MV refresh needs before it can replace the
    // full scan at 100 TB. The oracle is the full recompute.
    "etl_incremental_rollup" -> ((s, d) => {
      val o = t(s, d, "orders")
        .withColumn("month", date_trunc("MONTH", col("o_orderdate")))
        .withColumn("qrev", FP.q(col("o_totalprice"), 20))
      def rollup(df: org.apache.spark.sql.DataFrame) =
        df.groupBy("o_orderstatus", "month")
          .agg(count(lit(1)).as("n"), sum("qrev").as("qrev_sum"))
      val base = rollup(o.filter(col("o_orderdate") < "1997-01-01"))
      val delta = rollup(o.filter(col("o_orderdate") >= "1997-01-01"))
      base.union(delta)
        .groupBy("o_orderstatus", "month")
        .agg(sum("n").as("n"),
             round((sum("qrev_sum").cast("double") / (1L << 20).toDouble), 4).as("rev"))
        .orderBy("o_orderstatus", "month")
    }),

    // ---- small-file compaction (the OPTIMIZE / bin-packing maintenance
    // op): a deliberately fragmented layout (64 splits of a filtered
    // orders slice) compacts to 4 bin-packed files; the face reports the
    // before/after file counts read from the filesystem plus the row count
    // and an order-independent content checksum, which is how a compactor
    // proves it changed LAYOUT and nothing else. At 100 TB this runs per
    // partition with target-size binpacking; the written layouts are
    // first-use-cached like the other /tmp layouts.
    "etl_compact_files" -> ((s, d) => {
      val base = graft.engine.Layouts.publish(s, d, "compact/orders") { out =>
        val slice = t(s, d, "orders").filter(col("o_orderkey") % 4 === 0)
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
        // the oracle pins files_before=64, but FileFormatWriter emits NO
        // file for an empty partition — guard the precondition loudly
        // instead of letting a thin slice surface as a hash mismatch
        // (ADVICE r5)
        val n = slice.count()
        require(n >= 64 * 8,
          s"etl_compact_files fragments into 64 files and needs a safely " +
            s"non-empty row count per round-robin partition; got $n rows at $d")
        slice.repartition(64).write.parquet(s"$out/frag")
        Tables.parquet(s, s"$out/frag").repartition(4).write.parquet(s"$out/compact")
      }
      def files(p: String): Long =
        new java.io.File(p).listFiles().count(f => f.getName.endsWith(".parquet"))
      require(files(s"$base/frag") == 64 && files(s"$base/compact") == 4,
        s"layout under $base does not match the oracle's pinned 64→4 file " +
          "counts — stale or partial /tmp state; delete and regenerate")
      val compacted = Tables.parquet(s, s"$base/compact")
        .withColumn("sig", element_at(graft.engine.TextFunctions.tokenHashes(
          md5(concat_ws("|", col("o_orderkey"), col("o_orderstatus")))), 1))
        .agg(count(lit(1)).as("n_rows"), sum("sig").as("checksum"))
      compacted.select(
        lit(files(s"$base/frag")).as("files_before"),
        lit(files(s"$base/compact")).as("files_after"),
        col("n_rows"), col("checksum"))
    }),

    // ---- migration audit checksum: an order-independent per-bucket
    // fingerprint of row CONTENT (md5 over a canonical pipe-joined text of
    // the key/string columns, reduced to a Long via the shared polynomial
    // char hash, then summed). Two systems holding the same rows produce
    // identical (bucket, n, checksum) tables regardless of partitioning or
    // row order — the cheap "did the 100 TB copy lose or mutate anything"
    // gate run after every migration. Long sums are exact, so no float
    // rounding anywhere. Floats are deliberately excluded from the signed
    // text: double→string formatting is engine-specific.
    "etl_row_hash_audit" -> ((s, d) =>
      t(s, d, "orders")
        .withColumn("row_sig", md5(concat_ws("|",
          col("o_orderkey"), col("o_orderstatus"), col("o_orderpriority"))))
        .withColumn("sig_num",
          element_at(graft.engine.TextFunctions.tokenHashes(col("row_sig")), 1))
        .groupBy(pmod(col("o_orderkey"), lit(16)).as("bucket"))
        .agg(count(lit(1)).as("n"), sum("sig_num").as("checksum"))
        .orderBy("bucket")),

    // ---- CSV source round-trip: write once per sf (first-use, like the
    // bucketed layouts), read back with an EXPLICIT schema (never inferred
    // — inference is a full extra pass at 100 TB and type-unstable), and
    // aggregate. Doubles survive because both writers emit shortest
    // round-trippable decimal text. The oracle reads the original parquet,
    // so the hash match certifies the whole text round-trip.
    "src_csv_roundtrip" -> ((s, d) => {
      graft.engine.Layouts.committed(s, d, "formats/orders_csv", _.read.option("header", "true")
          .schema("o_orderkey LONG, o_orderstatus STRING, o_totalprice DOUBLE").csv(_)) { out =>
        t(s, d, "orders").select("o_orderkey", "o_orderstatus", "o_totalprice")
          .write.option("header", "true").csv(out)
      }
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), round(FP.qsum(col("o_totalprice"), 20), 4).as("rev"),
             min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"))
        .orderBy("o_orderstatus")
    }),

    // ---- PERMISSIVE ingestion with corrupt-record capture: a CSV feed
    // with PLANTED malformed rows (text in the numeric field for
    // o_orderkey % 23 == 0), read back with an explicit schema +
    // columnNameOfCorruptRecord. A malformed field nulls out, the raw
    // line lands in the capture column, and the GOOD fields of the same
    // row still parse — the census (rows, bad rows, clean revenue) per
    // status proves all three behaviors. The oracle is CLOSED-FORM: it
    // recomputes the census from the parquet source and the plant rule,
    // independently of Spark's parser — so a silent row drop or a
    // miscaptured record hash-mismatches. At 100 TB this is the
    // quarantine-at-ingest pattern: bad rows stay queryable for triage
    // instead of killing the job (FAILFAST) or vanishing (DROPMALFORMED).
    "src_csv_badrecords" -> ((s, d) => {
      graft.engine.Layouts.committed(s, d, "formats/orders_badcsv", _.read.option("header", "true")
          .option("mode", "PERMISSIVE").option("columnNameOfCorruptRecord", "_bad")
          .schema("o_orderkey LONG, o_orderstatus STRING, o_totalprice DOUBLE, _bad STRING").csv(_)) { out =>
        t(s, d, "orders")
          .select(col("o_orderkey"), col("o_orderstatus"),
            when(pmod(col("o_orderkey"), lit(23)) === 0,
              concat(lit("bad"), col("o_orderkey")))
              .otherwise(col("o_totalprice").cast("string")).as("o_totalprice"))
          .write.option("header", "true").csv(out)
      }
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("_bad").isNotNull, 1L).otherwise(0L)).as("n_bad"),
          round(FP.qsum(when(col("_bad").isNull, col("o_totalprice")), 20), 4)
            .as("clean_rev"))
        .orderBy("o_orderstatus")
    }),

    // ---- ORC source round-trip: the other columnar format Spark ships
    // natively — same first-use layout, filter pushed to the ORC scan.
    "src_orc_roundtrip" -> ((s, d) => {
      graft.engine.Layouts.committed(s, d, "formats/lineitem_orc", _.read.orc(_)) { out =>
        t(s, d, "lineitem")
          .select("l_orderkey", "l_returnflag", "l_quantity", "l_extendedprice")
          .write.orc(out)
      }
        .filter(col("l_quantity") < 25)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), round(FP.qsum(col("l_extendedprice"), 20), 4).as("rev"))
        .orderBy("l_returnflag")
    }),

    // ---- JSON-lines source round-trip: the third text/columnar format in
    // the matrix (CSV, ORC, JSON; no spark-avro jar ships in this
    // environment). Same contract: write once per sf, read back with an
    // EXPLICIT schema (inference is a full extra pass at 100 TB), and the
    // oracle reads the ORIGINAL parquet — so the hash match certifies the
    // JSON text round-trip of every value, doubles included (both writers
    // emit shortest round-trippable decimal text).
    "src_json_roundtrip" -> ((s, d) => {
      graft.engine.Layouts.committed(s, d, "formats/customer_json",
          _.read.schema("c_custkey LONG, c_mktsegment STRING, c_acctbal DOUBLE").json(_)) { out =>
        t(s, d, "customer").select("c_custkey", "c_mktsegment", "c_acctbal")
          .write.json(out)
      }
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n"),
             round(FP.qsum(col("c_acctbal"), 20), 4).as("bal"),
             min("c_custkey").as("min_key"), max("c_custkey").as("max_key"))
        .orderBy("c_mktsegment")
    }),

    // ---- binaryFile source: the RAW-media ingest path a multimodal
    // pipeline starts from — a directory of image FILES (not rows), read
    // with Spark's binaryFile source (path/length/modtime/content schema),
    // headers parsed by the REAL byte codec. Layout: one spec-layout BMP
    // per doc_id < 64, written once per sf; the filename carries the id
    // and the oracle recomputes every column closed-form, so the match
    // certifies file naming, the source's length metadata, AND the pixel
    // codec round-trip. At 100 TB this is the pattern for crawl dumps:
    // binaryFile splits by FILE (no partial reads of opaque formats) and
    // pushes a pathGlobFilter/maxBytes prune to the listing, not the scan.
    "src_binaryfile" -> ((s, d) => {
      import s.implicits._
      val base = graft.engine.Layouts.publish(s, d, "binfiles/img") { out =>
        new java.io.File(out).mkdirs()
        for (id <- 0L until 64L) {
          val w = (id % 13 + 2).toInt; val h = (id % 7 + 2).toInt
          val bytes = graft.engine.ImageHeaders.bmpPixelBytes(w, h,
            (x, y) => ((id * 31 + x * 7 + y * 11) % 256).toInt)
          java.nio.file.Files.write(new java.io.File(out, s"img_$id.bmp").toPath, bytes)
        }
      }
      val files = s.read.format("binaryFile")
        .option("pathGlobFilter", "*.bmp").load(base)
        .select(regexp_extract(col("path"), "img_(\\d+)\\.bmp$", 1)
            .cast("bigint").as("img_id"),
          col("length"), col("content"))
      files.as[(Long, Long, Array[Byte])].map { case (id, len, bytes) =>
        val meta = graft.engine.ImageHeaders.decode(bytes)
        (id, len, meta.map(_._1).getOrElse("?"),
          meta.map(_._2.toLong).getOrElse(-1L), meta.map(_._3.toLong).getOrElse(-1L))
      }.toDF("img_id", "n_bytes", "fmt", "width", "height")
        .orderBy("img_id")
    }),

    // ---- bitmap exact-distinct: count(DISTINCT user) re-expressed as
    // bucketed bitmap words — bit b of word w is set iff user 64·w+b
    // appeared — OR-merged per group. The shuffle carries (group, word)
    // longs instead of every raw (group, user) pair: 64× narrower partial
    // state, fully mergeable (bit_or is associative/commutative), and the
    // popcount sum at the end is exact, not a sketch. The roaring-bitmap
    // trick relational engines use when count-distinct's expand/shuffle is
    // the bottleneck; works whenever the id domain is dense integers.
    "agg_bitmap_distinct" -> ((s, d) =>
      t(s, d, "events")
        // word/bit via shift+mask, NOT division: a double divide loses
        // exactness past 2^53 and a truncating `div` disagrees with pmod on
        // negatives — arithmetic shiftright = floor(id/64) and `& 63` stay
        // exact and mutually consistent for EVERY 64-bit id
        .select(col("event_type"), shiftright(col("user_id"), 6).as("word_idx"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(user_id & 63 AS INT))").as("bit"))
        .groupBy("event_type", "word_idx")
        .agg(bit_or(col("bit")).as("word"))
        .groupBy("event_type")
        .agg(sum(bit_count(col("word"))).as("n_users"))
        .orderBy("event_type")),

    "pp_partition_pruned" -> ((s, d) =>
      ordersByYear(s, d)
        .filter(col("o_year") === 1995)
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n"), round(sum("o_totalprice"), 4).as("rev"))
        .orderBy("o_orderstatus")),

    // ---- per-file min/max data skipping (engine.FileSkipping): the
    // layout twin of pp_partition_pruned for keys too continuous to
    // directory-partition on. lineitem is written once per sf range-
    // clustered on l_extendedprice into 8 files, whose parquet footers
    // carry each file's (min,max) — the Delta/Iceberg stats-log pattern
    // with no log to write — and the price-band query reads ONLY the
    // files whose envelope intersects the band (FileSkippingSpec asserts
    // strictly fewer files than the layout holds, and agreement with the
    // unpruned scan). The surviving-file list is a metadata-sized driver
    // decision, like reading a transaction log; the data path stays
    // distributed.
    "layout_file_skipping" -> ((s, d) => {
      graft.engine.Layouts.committed(s, d, "filestats/lineitem",
          graft.engine.FileSkipping.prunedRead(_, _, "l_extendedprice", 2000.0, 15000.0)) { out =>
        graft.engine.FileSkipping.writeRanged(
          t(s, d, "lineitem").select("l_orderkey", "l_linenumber", "l_returnflag",
            "l_extendedprice"),
          "l_extendedprice", 8, out)
      }
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"), round(sum("l_extendedprice"), 4).as("rev"))
        .orderBy("l_returnflag")
    }),

    // ---- per-file BLOOM-filter skipping census: min/max envelopes
    // (layout_file_skipping) prune RANGE predicates on the cluster key, but
    // a POINT lookup on an uncorrelated key hits every envelope — the gap
    // Delta/Iceberg close by adding per-file Bloom filters to the stats
    // log. Files here are time-batched by ship month (the real ingest
    // layout, and deliberately uncorrelated with l_orderkey so membership
    // is not derivable from the file id); each file's filter is 3 exact-
    // math hashes into an m = 4·n_keys bit space (sized per file like a
    // real writer, ~15% fp at k=3 — visible in-row). The filter is probed
    // via its EXISTS formulation — probe hits iff all 3 hashed bits appear
    // in the file's distinct (j, bit) set — so the census needs no bitmap
    // materialization and both engines replay identical BIGINT arithmetic.
    // 10 present + 10 shifted probe keys; the contrast the face exists to
    // show: min/max passes ALL 8 files for in-domain probes (envelopes
    // span everything) and 0 for shifted ones, while Bloom discriminates
    // in-domain — n_false_positive quantifies its only cost. At 100 TB the
    // bits table is manifest-metadata (keys × 3 rows, distinct-collapsed),
    // and the probe side is always a broadcast.
    "layout_bloom_skipping" -> ((s, d) => {
      val P = lit(1000000007L)
      val hashes = Seq(2654435761L, 2246822519L, 3266489917L)
      def hashBits(key: Column): Column = explode(array(hashes.zipWithIndex.map {
        case (a, j) => struct(lit(j).as("j"),
          (((key + 1) * lit(a)) % P % col("m")).as("bit"))
      }: _*))
      // the Bloom manifest is computed at WRITE time by a real table writer
      // (it is file-level metadata, a pure function of the snapshot like
      // the min/max stats log) — materialized once per sf alongside the
      // graph/dedup layout artifacts; the oracle keeps recomputing it from
      // SQL so staleness cannot hide
      val base = graft.engine.Layouts.publish(s, d, "filestats/bloom") { out =>
        val keys0 = t(s, d, "lineitem")
          .select(((year(col("l_shipdate")) * 12 + month(col("l_shipdate"))) % 8)
            .cast("long").as("fid"), col("l_orderkey"))
          .distinct().cache()
        val perfile0 = keys0.groupBy("fid").agg(count(lit(1)).as("n_keys"),
            min("l_orderkey").as("min_k"), max("l_orderkey").as("max_k"))
          .withColumn("m", col("n_keys") * 4)
        keys0.coalesce(2).write.parquet(s"$out/keys")
        perfile0.coalesce(1).write.parquet(s"$out/perfile")
        keys0.join(broadcast(perfile0.select("fid", "m")), "fid")
          .select(col("fid"), hashBits(col("l_orderkey")).as("hb"))
          .select(col("fid"), col("hb.j").as("j"), col("hb.bit").as("bit"))
          .distinct()
          .coalesce(2).write.parquet(s"$out/bits")
        keys0.unpersist()
      }
      val bits = Tables.parquet(s, s"$base/bits")
      val keys = Tables.parquet(s, s"$base/keys")
      val perfile = Tables.parquet(s, s"$base/perfile")
      val present = keys.select("l_orderkey").distinct()
        .filter(col("l_orderkey") % 97 === 0)
        .orderBy("l_orderkey").limit(10)
        .select(col("l_orderkey").as("okey"), lit("present").as("kind"))
      // shifted probes sit at gmax+1+okey, PROVABLY out of domain at any
      // scale factor (ADVICE r9: a fixed +1e9 literal collides with real
      // orderkeys beyond sf≈40, silently degrading the present/shifted
      // contrast the face exists to show)
      val gmax = perfile.agg(max("max_k").as("gmax"))
      val probes = present.union(present.crossJoin(broadcast(gmax)).select(
        (col("okey") + col("gmax") + 1L).as("okey"), lit("shifted").as("kind"))).cache()
      val pf = probes.crossJoin(broadcast(perfile))
      val bloomHits = pf
        .select(col("okey"), col("kind"), col("fid"), hashBits(col("okey")).as("hb"))
        .select(col("okey"), col("kind"), col("fid"),
          col("hb.j").as("j"), col("hb.bit").as("bit"))
        .join(bits, Seq("fid", "j", "bit"))
        .groupBy("okey", "kind", "fid").agg(count(lit(1)).as("nj"))
        .filter(col("nj") === 3)
        .groupBy("okey", "kind").agg(count(lit(1)).as("n_files_bloom_hit"))
      val mmHits = pf.filter(col("okey") >= col("min_k") && col("okey") <= col("max_k"))
        .groupBy("okey", "kind").agg(count(lit(1)).as("n_files_minmax_hit"))
      val actual = probes.join(keys, probes("okey") === keys("l_orderkey"))
        .groupBy("okey", "kind").agg(countDistinct("fid").as("n_files_actual"))
      probes
        .join(mmHits, Seq("okey", "kind"), "left")
        .join(bloomHits, Seq("okey", "kind"), "left")
        .join(actual, Seq("okey", "kind"), "left")
        .select(col("okey"), col("kind"),
          coalesce(col("n_files_minmax_hit"), lit(0L)).as("n_files_minmax_hit"),
          coalesce(col("n_files_bloom_hit"), lit(0L)).as("n_files_bloom_hit"),
          coalesce(col("n_files_actual"), lit(0L)).as("n_files_actual"))
        .withColumn("n_false_positive",
          col("n_files_bloom_hit") - col("n_files_actual"))
        .orderBy("kind", "okey")
    }),

    // ---- validation routing (dead-letter / quarantine split): every row is
    // classified by the FIRST failing rule — malformed-event type, suspect
    // JSON payload, negligible value — and the query reports the routing
    // census per reason. At 100 TB this is a pure scan-side projection (the
    // JSON probe is one codegen'd get_json_object) feeding a 4-group
    // aggregate: the quarantine stream is `filter(reason != 'ok')` on the
    // same frame, no second scan. Rule order IS the contract (a row failing
    // two rules lands in the first), mirrored exactly by the oracle's CASE.
    "etl_quarantine" -> ((s, d) =>
      t(s, d, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("bigint"))
        .withColumn("reason",
          when(col("event_type") === "error", "error_event")
            .when(col("k") >= 95, "suspect_props")
            .when(col("value") < 0.01, "negligible_value")
            .otherwise("ok"))
        .groupBy("reason")
        .agg(count(lit(1)).as("n_events"),
             countDistinct("user_id").as("n_users"),
             min("event_id").as("first_event"),
             max("event_id").as("last_event"))
        .orderBy("reason")),

    // ---- declarative data-quality constraint report (the Deequ shape): a
    // constraint suite over the star schema evaluated as a fixed census —
    // (constraint, n_checked, n_violations, pass). Execution discipline:
    // every ROW-LEVEL check on the same table (null, range, sign) rides
    // ONE scan as conditional sums — never one scan per constraint, the
    // naive-suite mistake that turns a 20-constraint run into 20 passes
    // over 100 TB; key-level checks (uniqueness = count−distinct,
    // referential orphans = anti-join count) each need their own shuffle
    // and are the suite's real cost. The report is a union of
    // constraint-count-sized frames — integers only, trivially exact.
    "etl_dq_report" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      // one pass, all lineitem row-level constraints
      val liRow = li.agg(
        count(lit(1)).as("n"),
        sum(when(col("l_quantity").isNull || col("l_quantity") <= 0 ||
          col("l_quantity") > 100, 1L).otherwise(0L)).as("v_qty"),
        sum(when(col("l_discount") < 0 || col("l_discount") > 1, 1L)
          .otherwise(0L)).as("v_disc"))
      val rowChecks = liRow.select(explode(array(
        struct(lit("lineitem.quantity_in_(0,100]").as("check_name"),
          col("n").as("n_checked"), col("v_qty").as("n_violations")),
        struct(lit("lineitem.discount_in_[0,1]").as("check_name"),
          col("n").as("n_checked"), col("v_disc").as("n_violations"))))
        .as("c")).select("c.*")
      // key-level: composite uniqueness
      val uniq = li.agg(count(lit(1)).as("n_checked"),
        (count(lit(1)) - countDistinct(col("l_orderkey"), col("l_linenumber")))
          .as("n_violations"))
        .select(lit("lineitem.pk_unique(l_orderkey,l_linenumber)").as("check_name"),
          col("n_checked"), col("n_violations"))
      // referential orphans: fact keys with no dimension row (anti-join
      // count — at scale the dimension side broadcasts or bloom-filters)
      def orphans(fact: DataFrame, fk: String, dim: DataFrame, pk: String,
                  name: String) = {
        val nAll = fact.agg(count(lit(1)).as("n_checked"))
        val nOrphan = fact.join(dim.select(col(pk).as(fk)).distinct(),
            Seq(fk), "left_anti")
          .agg(count(lit(1)).as("n_violations"))
        nAll.crossJoin(nOrphan)
          .select(lit(name).as("check_name"), col("n_checked"), col("n_violations"))
      }
      val ref1 = orphans(li.select("l_orderkey"), "l_orderkey",
        t(s, d, "orders"), "o_orderkey", "lineitem.fk_orders")
      val ref2 = orphans(t(s, d, "orders").select("o_custkey"), "o_custkey",
        t(s, d, "customer"), "c_custkey", "orders.fk_customer")
      rowChecks.union(uniq).union(ref1).union(ref2)
        .withColumn("pass", col("n_violations") === 0)
        .orderBy("check_name")
    }),

    // ---- right-to-be-forgotten erasure manifest: given a deletion-request
    // key set (negative-balance customers as the deterministic stand-in),
    // the CASCADE impact across the star schema before any rewrite runs —
    // per table: total rows, rows to erase, fraction. The cascade is the
    // real shape: customer keys → their orders (semi-join) → those orders'
    // lineitems (second semi-join); at 100 TB the request set is tiny and
    // broadcasts down both hops (or rides a bloom filter), and the actual
    // rewrite is the anti-join complement of exactly these plans — this
    // manifest is the dry-run a compliance pipeline signs off on.
    "etl_gdpr_erase" -> ((s, d) => {
      val cust = t(s, d, "customer")
      val ords = t(s, d, "orders")
      val li = t(s, d, "lineitem")
      val delCust = cust.filter(col("c_acctbal") < 0).select("c_custkey")
      val delOrders = ords.join(broadcast(delCust),
        col("o_custkey") === col("c_custkey"), "left_semi")
      val delLi = li.join(delOrders.select("o_orderkey"),
        col("l_orderkey") === col("o_orderkey"), "left_semi")
      def row(name: String, all: DataFrame, del: DataFrame) =
        all.agg(count(lit(1)).as("n_rows")).crossJoin(
          del.agg(count(lit(1)).as("n_erase")))
          .select(lit(name).as("table_name"), col("n_rows"), col("n_erase"),
            round(col("n_erase").cast("double") / col("n_rows"), 6).as("erase_frac"))
      row("customer", cust, delCust)
        .union(row("orders", ords, delOrders))
        .union(row("lineitem", li, delLi))
        .orderBy("table_name")
    }),

    // ---- keyed pseudonymization (the GDPR companion to etl_gdpr_erase):
    // replace direct identifiers with a salted one-way hash so records
    // stay JOINABLE across tables without exposing the identity — the
    // pseudonymize-don't-delete half of a compliance design. The census
    // proves the two properties that make it sound: the mapping is 1:1
    // (distinct pseudonyms == distinct keys — no collisions collapsing
    // identities) and total (no null pseudonyms). Scan-side sha2, no
    // shuffle beyond the census aggregate; at 100 TB the salt rotates per
    // release and the re-keying is one map-only rewrite.
    "etl_pseudonymize" -> ((s, d) => {
      val salt = "release-2026-08"
      t(s, d, "customer")
        .withColumn("pseudo",
          sha2(concat(lit(salt), lit(":"), col("c_custkey").cast("string")), 256))
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("c_custkey")).as("n_keys"),
          countDistinct(col("pseudo")).as("n_pseudonyms"),
          sum(when(col("pseudo").isNull, 1L).otherwise(0L)).as("n_null"))
        .withColumn("collision_free", col("n_pseudonyms") === col("n_keys"))
    }),

    // ---- change-data-feed over the commit log (the Delta CDF read path on
    // engine.Commits): per version, its own delta's `+`/`-` actions —
    // files added/removed and the rows those added files
    // carry — plus the append-only flag a downstream incremental consumer
    // checks before trusting "new rows = version delta". This is how an
    // incremental pipeline tails a lakehouse table without re-scanning it:
    // manifests are metadata-sized driver reads; only the ADDED files of
    // each version are ever opened, so catching up N versions costs the
    // new data, not the table. Runs over the same three-writer scenario as
    // etl_commit_conflict — the aborted compaction correctly never appears
    // in any version's diff.
    "etl_commit_changes" -> ((s, d) => {
      val table = commitScenario(s, d)
      val latest = C.latestVersion(table)
      val perVersion = (1 to latest).map { v =>
        val acts = C.actions(table, v)
        val added = acts.collect { case ('+', rel) => rel }
        val removed = acts.collect { case ('-', rel) => rel }
        s.read.parquet(added.map(a => s"$table/$a"): _*)
          .agg(count(lit(1)).as("n_rows_added"))
          .select(lit(v.toLong).as("version"),
            lit(C.resolve(table, v).size.toLong).as("n_files"),
            lit(added.size.toLong).as("n_files_added"),
            lit(removed.size.toLong).as("n_files_removed"),
            col("n_rows_added"))
      }.reduce(_.union(_))
      perVersion
        .crossJoin(C.read(s, table).agg(count(lit(1)).as("n_rows_latest")))
        .withColumn("append_only", col("n_files_removed") === 0)
        .orderBy("version")
    }),

    // ---- SHALLOW CLONE census (the Delta CLONE mechanic over the commit
    // log): src reaches v2 (two appended slices), the clone's v1 manifest
    // references those files by ../-path — zero data bytes move — then
    // BOTH tables diverge: the clone appends its own slice (staged under
    // its own data/ dir), the source commits a third slice the clone never
    // sees. The census proves the whole contract by arithmetic: the
    // clone's file set is 2 shared + 1 own, its rows are exactly
    // |c<20| + |c<5| (clone snapshot + clone-only append), and the
    // source's rows are the full table (its post-clone commit landed, the
    // clone's did not leak back). Scenario builds once per sf through
    // Layouts.publish like commitScenario; at 100 TB a clone is the same
    // one metadata write regardless of table size — that is the point.
    "etl_clone_shallow" -> ((s, d) => {
      val root = graft.engine.Layouts.publish(s, d, "clone") { work =>
        val (wsrc, wdst) = (s"$work/src", s"$work/clone")
        val cust = t(s, d, "customer")
        C.init(wsrc, C.stage(cust.filter(col("c_nationkey") < 15), wsrc, "base"))
        val (v2, _) = C.commitAppend(wsrc, 1, Seq(C.stage(
          cust.filter(col("c_nationkey") >= 15 && col("c_nationkey") < 20), wsrc, "w2")))
        require(v2 == 2, "src must reach v2 before the clone point")
        C.shallowClone(wsrc, wdst)
        C.commitAppend(wdst, 1, Seq(C.stage(
          cust.filter(col("c_nationkey") < 5), wdst, "cl")))
        C.commitAppend(wsrc, 2, Seq(C.stage(
          cust.filter(col("c_nationkey") >= 20), wsrc, "w3")))
      }
      def row(name: String, tbl: String) = {
        val v = C.latestVersion(tbl)
        val entries = C.resolve(tbl, v)
        val shared = entries.count(_.startsWith("../"))
        C.read(s, tbl).agg(count(lit(1)).as("n_rows"))
          .select(lit(name).as("tbl"), lit(v.toLong).as("version"),
            lit(entries.size.toLong).as("n_files"), lit(shared.toLong).as("n_shared"),
            lit((entries.size - shared).toLong).as("n_own"), col("n_rows"))
      }
      row("clone", s"$root/clone").union(row("src", s"$root/src")).orderBy("tbl")
    }),

    // ---- k-anonymity census over a GENERALIZATION LADDER (completes the
    // compliance triad: erasure cascade + pseudonymization + re-id risk):
    // how many records sit in quasi-identifier equivalence classes smaller
    // than k=5 — the re-identification exposure a privacy review signs off
    // on — at three generalization levels: L0 (nation, segment, account
    // band), L1 drop the band, L2 widen nation to region. Scale shape: ONE
    // scan of the subject table fans through GROUPING SETS (the Expand
    // operator), so walking the lattice costs one pass regardless of how
    // many levels the ladder has — never one scan per level, the same
    // fused-suite discipline as etl_dq_report; the per-class frame then
    // collapses to a 3-row census. All counts exact integers; the fraction
    // is a ratio of exact BIGINTs.
    "etl_k_anonymity" -> ((s, d) => {
      t(s, d, "customer")
        .join(broadcast(t(s, d, "nation")
          .select(col("n_nationkey"), col("n_regionkey"))),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_band"),
          col("n_regionkey").as("reg"))
        .createOrReplaceTempView("kanon_v")
      s.sql(
        """WITH cls AS (
          |  SELECT CAST(CASE WHEN grouping(bal_band) = 0 THEN 0
          |              WHEN grouping(nat) = 0 THEN 1 ELSE 2 END AS BIGINT) AS level,
          |    count(*) AS class_size
          |  FROM kanon_v
          |  GROUP BY GROUPING SETS ((nat, seg, bal_band), (nat, seg), (reg, seg)))
          |SELECT level, count(*) AS n_classes,
          |  CAST(min(class_size) AS BIGINT) AS min_class,
          |  CAST(sum(class_size) AS BIGINT) AS n_rows,
          |  CAST(sum(CASE WHEN class_size < 5 THEN class_size ELSE 0 END) AS BIGINT) AS rows_below_k,
          |  round(CAST(sum(CASE WHEN class_size < 5 THEN class_size ELSE 0 END) AS DOUBLE)
          |    / CAST(sum(class_size) AS DOUBLE), 4) AS frac_below_k,
          |  (min(class_size) >= 5) AS k_anonymous
          |FROM cls GROUP BY level ORDER BY level""".stripMargin)
    }),

    // ---- l-diversity census (etl_k_anonymity's sibling): k-anonymity
    // bounds CLASS SIZE, but a class of 50 rows that all share one
    // sensitive value still fully discloses it (the homogeneity attack) —
    // l-diversity requires every quasi-identifier class to contain ≥ l
    // DISTINCT sensitive values. QI = (nation, segment), sensitive = the
    // coarse balance band; the census reports, per segment, the minimum
    // class diversity, the below-l class/row mass (the re-identification
    // exposure a release reviewer signs off on), and the homogeneous-class
    // count — all exact integers. Scale shape: the distinct-per-class
    // count is ONE two-level hash-agg chain ((nat, seg, band) distinct →
    // per-class count → per-segment census) — partial aggregation
    // collapses each level map-side, nothing is row-cardinality-sized
    // after the first agg at any corpus scale.
    "etl_l_diversity" -> ((s, d) => {
      val cls = t(s, d, "customer")
        .groupBy(col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"))
        .agg(count(lit(1)).as("class_size"),
             countDistinct(floor(col("c_acctbal") / 1000)).as("n_distinct"))
      cls.groupBy("seg")
        .agg(count(lit(1)).as("n_classes"),
             min("n_distinct").as("min_diversity"),
             count(when(col("n_distinct") < 3, 1)).as("classes_below_l"),
             sum(when(col("n_distinct") < 3, col("class_size")).otherwise(0L))
               .as("rows_at_risk"),
             count(when(col("n_distinct") === 1, 1)).as("n_homogeneous"))
        .withColumn("l_diverse", col("min_diversity") >= 3)
        .orderBy("seg")
    }),

    // ---- t-closeness census (the third leg of the privacy triad after
    // etl_k_anonymity / etl_l_diversity): l-diversity can't see a class
    // whose sensitive values are distinct but SKEWED toward one end —
    // t-closeness bounds the Earth-Mover's Distance between each QI
    // class's sensitive distribution and the global one. For the ordered
    // acctbal buckets EMD has the closed form
    // t = Σᵢ|Σ_{j≤i}(p_j − q_j)| / (m−1), computed here entirely in Long
    // arithmetic: the cumulative diff is carried scaled by
    // class_size·N (D_i = Σ_{j≤i}(c_j·N − g_j·n_class)) so t4 is one
    // integer rounding at the end — no float, no per-engine drift.
    // Scale shape: one (class, bucket) hash-agg, the ≤ ~dozen-row global
    // bucket table BROADCAST back to densify every class over the full
    // bucket grid (a class missing a bucket still contributes |D|), one
    // tiny per-class window over m buckets, one final class-level agg.
    // The Long carrier bounds class_size·N at ~3·10⁹ rows-per-table
    // before overflow; past that the cumulative pair upgrades to
    // DECIMAL(38,0) on both engines, nothing else changes.
    "etl_t_closeness" -> ((s, d) => {
      val c = t(s, d, "customer")
        .select(col("c_nationkey").as("nat"), col("c_mktsegment").as("seg"),
          floor(col("c_acctbal") / 1000).cast("long").as("b"))
      val cells = c.groupBy("nat", "seg", "b").agg(count(lit(1)).as("cb"))
      val glob = c.groupBy("b").agg(count(lit(1)).as("gb"))
      val tot = glob.agg(sum("gb").as("n"), count(lit(1)).as("m"))
      val classes = cells.groupBy("nat", "seg").agg(sum("cb").as("class_size"))
      val w = Window.partitionBy("nat", "seg").orderBy("b")
      classes.crossJoin(broadcast(glob))
        .join(cells, Seq("nat", "seg", "b"), "left")
        .na.fill(0L, Seq("cb"))
        .crossJoin(broadcast(tot))
        .withColumn("dcum",
          sum(col("cb") * col("n") - col("gb") * col("class_size")).over(w))
        .groupBy("nat", "seg")
        .agg(max("class_size").as("class_size"), max("m").as("m"),
             max("n").as("n"), sum(abs(col("dcum"))).as("sad"))
        .withColumn("den", (col("m") - 1) * col("class_size") * col("n"))
        .withColumn("t4", expr("(sad * 20000 + den) div (den * 2)"))
        .withColumn("breach", col("t4") > 2000)
        .select("nat", "seg", "class_size", "m", "t4", "breach")
        .orderBy("nat", "seg")
    }),

    // ---- GDPR data-subject access report (DSAR — the READ twin of
    // etl_gdpr_erase's cascade): for each requesting subject, the
    // complete cross-table footprint a controller must export — identity
    // row, order count + activity span, line-item count, total spend.
    // The request batch (key % 100 = 7, ~1% of subjects) is bounded, so
    // it BROADCASTS through the erase cascade's exact join graph
    // read-only: one semi/inner hop per fact table, one scan per table
    // regardless of batch size — at 100 TB a DSAR batch costs the same
    // scans the erase dry-run does, never a per-subject query storm.
    // Spend is the order-independent fixed-point sum (q-rounded twin on
    // the oracle); subjects with no orders surface with zero counts —
    // the report must prove absence, not drop the row.
    "etl_gdpr_access" -> ((s, d) => {
      val subjects = t(s, d, "customer").filter(col("c_custkey") % 100 === 7)
        .select(col("c_custkey").as("subject_key"), col("c_mktsegment").as("segment"))
      val ords = t(s, d, "orders").join(broadcast(subjects),
        col("o_custkey") === col("subject_key"), "inner")
      val ordAgg = ords.groupBy("subject_key")
        .agg(count(lit(1)).as("n_orders"),
             min(year(col("o_orderdate"))).cast("long").as("first_year"),
             max(year(col("o_orderdate"))).cast("long").as("last_year"),
             round(FP.qsum(col("o_totalprice"), 20), 4).as("total_spent"))
      val liAgg = t(s, d, "lineitem").join(
          broadcast(ords.select(col("o_orderkey"), col("subject_key"))),
          col("l_orderkey") === col("o_orderkey"), "inner")
        .groupBy("subject_key")
        .agg(count(lit(1)).as("n_lineitems"))
      subjects.join(ordAgg, Seq("subject_key"), "left")
        .join(liAgg, Seq("subject_key"), "left")
        .na.fill(0L, Seq("n_orders", "n_lineitems"))
        .na.fill(0.0, Seq("total_spent"))
        .select("subject_key", "segment", "n_orders", "n_lineitems",
          "first_year", "last_year", "total_spent")
        .orderBy("subject_key")
    }),

    // ---- partition-spec EVOLUTION read (the Iceberg headline mechanic,
    // over plain parquet): the table's first generation is partitioned by
    // year; the spec later evolves to (year, month) — and historical files
    // are NOT rewritten, so a reader must serve both layouts forever. The
    // evolved column is BACKFILLED from data on the old generation
    // (month(o_orderdate)), which is exactly the trade: gen2 prunes the
    // month predicate at the DIRECTORY level while gen1 evaluates it
    // row-side after year-pruning — same answer, different IO, zero
    // rewrite. Both generations materialize once per sf; the oracle
    // recomputes the census from the raw table with the same gen rule, so
    // a row lost (or doubled) at the layout seam cannot hide.
    "etl_partition_evolution" -> ((s, d) => {
      val base = graft.engine.Layouts.publish(s, d, "evolvepart/orders") { out =>
        val o = t(s, d, "orders")
          .withColumn("o_year", year(col("o_orderdate")))
          .withColumn("o_month", month(col("o_orderdate")))
        o.filter(col("o_year") < 1996).drop("o_month")
          .write.partitionBy("o_year").parquet(s"$out/gen1")
        o.filter(col("o_year") >= 1996)
          .write.partitionBy("o_year", "o_month").parquet(s"$out/gen2")
      }
      val g2 = Tables.parquet(s, s"$base/gen2").withColumn("gen", lit("gen2"))
      val g1 = Tables.parquet(s, s"$base/gen1")
        .withColumn("o_month", month(col("o_orderdate")))
        .withColumn("gen", lit("gen1"))
      g1.unionByName(g2)
        .filter(col("o_year") === 1995 ||
          (col("o_year") === 1996 && col("o_month") <= 3))
        .groupBy(col("gen"), col("o_year").cast("bigint").as("o_year"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum("o_totalprice"), 4).as("rev"))
        .orderBy("gen", "o_year")
    }),

    // ---- differential-privacy noisy release (completes the compliance
    // quartet: erase / pseudonymize / k-anonymity / DP): per-nation
    // customer counts + Laplace noise at ε = 0.5, sensitivity 1 (one
    // customer lives in exactly one nation). The MECHANISM is real — noise
    // scale b = Δ/ε = 2, release = max(count + noise, 0) — but the DRAW is
    // the catalog's documented deterministic stub (the mm decode-stub
    // discipline): a 33-point inverse-CDF grid of Laplace(2), computed
    // ONCE in Scala and interpolated as the same literal into both
    // engines, indexed by an integer hash of the group key. Production
    // swaps the hash index for a crypto RNG draw — everything else (the
    // census shape, the clamp, the ε accounting column) ships as-is. True
    // counts are released here only because the oracle gate needs them;
    // scale shape: one hash-aggregate, noise applied group-side (group
    // count rows, never fact rows).
    "etl_dp_noisy_counts" -> ((s, d) => {
      val b = 2.0
      val noiseTable: Seq[Long] = (0 until 33).map { i =>
        val p = (i + 0.5) / 33.0
        math.round(-b * math.signum(p - 0.5) * math.log(1.0 - 2.0 * math.abs(p - 0.5)))
      }
      val noiseArr = array(noiseTable.map(lit(_)): _*)
      t(s, d, "customer")
        .groupBy("c_nationkey").agg(count(lit(1)).as("n_true"))
        .withColumn("idx",
          ((col("c_nationkey") + 1) * lit(2654435761L)) % lit(1000000007L) % 33)
        .withColumn("noise", element_at(noiseArr, (col("idx") + 1).cast("int")))
        .select(col("c_nationkey"), col("n_true"), col("noise"),
          greatest(col("n_true") + col("noise"), lit(0L)).as("n_noisy"),
          lit(0.5).as("epsilon"))
        .orderBy("c_nationkey")
    }),

    // ---- optimistic-concurrency commit conflict (VERDICT r8 #3 — the one
    // ACID mechanic the manifest-based lakehouse faces hadn't covered):
    // three writers race engine.Commits' put-if-absent log from the same
    // base snapshot — an APPEND that wins v2, a stale REWRITE (compaction
    // of v1) whose conflict detection ABORTS it, and a second append that
    // hits the conflict and REBASES cleanly to v3 (appends read no table
    // state, so rebase is always safe; a rewrite's output derives from its
    // read snapshot, so a moved table must abort it — the Delta logical-
    // conflict rule). The census is audited FROM THE LOG, not from the
    // scenario's in-memory state: per-version snapshot row counts, the
    // staged-vs-published directory reconciliation (exactly one orphan —
    // the aborted rewrite), and the orphan's row count, which must equal
    // the v1 snapshot it compacted. The aborted writer's data surviving
    // into any manifest would break three columns at once. Scenario
    // materializes once per sf (build-then-atomic-rename, so a crashed
    // half-build can never be consumed); CommitsSpec drives the same
    // interleavings plus the contended-append livelock bound directly.
    "etl_commit_conflict" -> ((s, d) => {
      val table = commitScenario(s, d)
      // audit the committed log: metadata-sized driver reads (the
      // FileSkipping / Delta-log-read exception), data stays distributed
      val latest = C.latestVersion(table)
      val published = (1 to latest).flatMap(v => C.resolve(table, v)).toSet
      val staged = Option(new java.io.File(table, "data").listFiles())
        .map(_.toSeq).getOrElse(Seq.empty).map("data/" + _.getName).sorted
      val orphans = staged.filterNot(published)
      val snapCounts = (1 to latest).map { v =>
        C.read(s, table, v)
          .agg(count(lit(1)).as(s"v${v}_rows"))
      }.reduce(_.crossJoin(_))
      snapCounts
        .crossJoin(s.read.parquet(orphans.map(o => s"$table/$o"): _*)
          .agg(count(lit(1)).as("orphan_rows")))
        .select(lit(latest.toLong).as("latest_version"),
          col("v1_rows"), col("v2_rows"), col("v3_rows"),
          lit(staged.size.toLong).as("n_staged"),
          lit(orphans.size.toLong).as("n_orphaned"),
          col("orphan_rows"),
          lit(orphans.nonEmpty &&
              orphans.forall(o => !C.resolve(table, latest).contains(o)))
            .as("aborted_invisible"))
    }),

    // ---- commit-log CHECKPOINT COMPACTION census (VERDICT r9 #5,
    // completing engine/Commits): the delta-action log commits `+`/`-`
    // lines — O(changed files) per commit instead of a full listing's
    // O(table files) — so a reader must REPLAY from v1 until a
    // checkpoint exists; the every-N checkpoint (here N=4, firing after
    // the v4 compaction) folds the log into one full-listing file, and
    // every later read resolves checkpoint + tail. The census audits all
    // three reader shapes over a 6-version log (3 appends, 1 compaction
    // that removes-and-re-adds, a checkpoint, then 2 appends racing the
    // same basis with one conflict-rebase): per version it reports which
    // checkpoint served the read, how many delta manifests the tail
    // folded (the metadata cost a reader actually pays — 0 at v4, never
    // more than N−1 after), the resolved file count, the snapshot row
    // count read through the resolved paths, and a resolve≡replay proof
    // column. At 100 TB the log is the FileSkipping metadata class:
    // manifests and checkpoints are file-count-sized driver reads; table
    // data only flows through the per-version parquet count, which is
    // distributed. CommitsSpec drives the same protocol directly
    // (claim atomicity, rebase-through-checkpoint, abort invisibility).
    "etl_commit_checkpoint" -> ((s, d) => {
      val table = ckptScenario(s, d)
      val latest = C.latestVersion(table)
      (1 to latest).map { v =>
        val (files, cv, tail) = C.resolveStats(table, v)
        s.read.parquet(files.map(f => new java.io.File(table, f).getPath): _*)
          .agg(count(lit(1)).as("n_rows"))
          .select(lit(v.toLong).as("version"),
            lit(cv.toLong).as("ckpt_version"),
            lit(tail.toLong).as("n_tail_deltas"),
            lit(files.size.toLong).as("n_files"),
            col("n_rows"),
            lit(files == C.replay(table, v)).as("resolve_equals_replay"))
      }.reduce(_.union(_)).orderBy("version")
    }),

    // ---- merge-on-read DELETION VECTORS — the row-level-delete mechanic
    // Delta (deletion vectors) and Iceberg (position deletes) added so a
    // delete needn't rewrite data files (etl_upsert's copy-on-write cost
    // model): the delete commit writes only a tiny position-bitmap SIDECAR
    // and every reader anti-applies it at scan time. Base layout = orders
    // bucketed into 4 "files" with an explicit per-file row position; a
    // real writer assigns positions file-locally (embarrassingly parallel),
    // which the per-file row_number window models. The DV sidecar packs
    // deleted positions into 32-bit words — one (file_id, word_idx, word)
    // BIGINT row per occupied word (705 deletes collapse to 397 words at
    // sf0.01; production uses a roaring bitmap, same idea; 32-bit words
    // because 1<<31 stays positive in BIGINT on both engines). The read
    // path is scan + ONE broadcast left join on (file_id, pos div 32) + a
    // codegen'd bit test — merge-on-read costs a broadcast hash probe per
    // row, never a shuffle, at any scale. The census proves the mechanics
    // end-to-end: per-status live counts, dv_words read from the ACTUAL
    // sidecar (bitmap compression visible in-row), and surfaced_deleted
    // counted THROUGH the bitmap path against the oracle's literal 0 — a
    // single mis-packed or mis-probed bit breaks the row.
    "etl_deletion_vectors" -> ((s, d) => {
      val deletePred =
        col("o_orderstatus") === "F" && col("o_orderkey") % 7 === 0
      val base = graft.engine.Layouts.publish(s, d, "dv/base") { out =>
        t(s, d, "orders")
          .withColumn("file_id", (col("o_orderkey") % 4).cast("int"))
          .withColumn("pos",
            row_number().over(Window.partitionBy("file_id")
              .orderBy("o_orderkey")).cast("long") - 1)
          .write.partitionBy("file_id").parquet(out)
      }
      val dvDf = graft.engine.Layouts.committed(s, d, "dv/dv") { out =>
        Tables.parquet(s, base).filter(deletePred)
          .groupBy(col("file_id"), expr("pos div 32").as("word_idx"))
          .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT)))")
            .as("word"))
          .coalesce(1).write.parquet(out)
      }
      val live = Tables.parquet(s, base)
        .withColumn("word_idx", expr("pos div 32"))
        .join(broadcast(dvDf), Seq("file_id", "word_idx"), "left")
        .filter(col("word").isNull ||
          col("word").bitwiseAND(
            expr("shiftleft(CAST(1 AS BIGINT), CAST(pos % 32 AS INT))")) === 0)
      val globals = Tables.parquet(s, base).filter(deletePred)
        .agg(count(lit(1)).as("deleted_rows"))
        .crossJoin(dvDf.agg(count(lit(1)).as("dv_words")))
        .crossJoin(live.agg(
          count(when(deletePred, 1)).as("surfaced_deleted")))
      live.groupBy("o_orderstatus")
        .agg(count(lit(1)).as("live_rows"))
        .crossJoin(broadcast(globals))
        .select(col("o_orderstatus"), col("live_rows"), col("deleted_rows"),
          col("dv_words"), col("surfaced_deleted"))
        .orderBy("o_orderstatus")
    }),

    // ---- sketch aggregates. HLL/KLL internals differ across engines, so the
    // query emits the BOUND CHECK, not the raw sketch: both the approximate
    // and the exact aggregate are computed in-query and the output is the
    // deterministic boolean "approx within error bound of exact" — which
    // DuckDB can oracle as a literal TRUE next to the exact side. At 100 TB
    // the sketch replaces the exact form wherever ~2% error is acceptable:
    // mergeable state, no giant distinct shuffle. rsd=0.02 is a standard
    // DEVIATION, not a guarantee, so the oracle-checked bound is 5 sigma
    // (10%) — an unlucky-but-healthy HLL stays green at any sf; a broken one
    // (off by orders of magnitude) still trips it. SketchSpec pins the
    // observed error independently at test scale. (The exact twin here
    // exists only to *verify* the bound.)
    "sketch_approx_distinct" -> ((s, d) =>
      t(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx_parts"),
             countDistinct(col("l_partkey")).as("exact_parts"),
             count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("n"), col("exact_parts"),
          (abs(col("approx_parts") - col("exact_parts")) <=
            greatest(lit(2.0), col("exact_parts") * 0.10)).as("within_bound"))
        .orderBy("l_returnflag")),

    // ---- KMV / THETA sketch SET OPERATIONS (Bar-Yossef '02 k-minimum-
    // values; the Apache DataSketches theta family): union, intersection,
    // and difference ESTIMATES over two key sets from k-row sketches —
    // the cross-corpus overlap question (how much of snapshot B is
    // already in A?) answered WITHOUT a distinct-join. Unlike the HLL
    // faces (whose binary registers the oracle can only bound-check),
    // KMV is FULLY REPLAYABLE: the sketch is the k smallest hash values
    // of the distinct keys — a deterministic artifact DuckDB re-derives
    // bit-for-bit, so every retained count, theta, and estimate is
    // hash-gated, not just bounded. Set algebra is the standard theta
    // discipline: θ = min of the operand thetas, operate on retained
    // values BELOW θ, estimate = n/θ (base sketches use the unbiased
    // (k−1)/θ); sub-k sketches have θ = 1 and are exact, so the same
    // code path degrades gracefully to exact counting on small sets
    // (sf0.001 exercises the exact branch, sf0.01+ the estimating one).
    // Scale shape: each sketch is ONE distinct + TakeOrdered (mergeable
    // per-partition top-k partials — the production form persists these
    // k-row frames per corpus snapshot and answers any pairwise overlap
    // from sketches alone, O(k) per question); the exact truth columns
    // ride ONE hash-agg with per-key year flags, shown beside the
    // estimates so the error is visible in-row.
    "sketch_kmv_setops" -> ((s, d) => {
      val P = 1000000007L
      val K = 256
      val o = t(s, d, "orders")
      def retained(yr: Int) = Materialize.cut(o.filter(year(col("o_orderdate")) === yr)
        .select((pmod(col("o_custkey"), lit(P)) * 2654435761L % P).as("h"))
        .distinct().orderBy("h").limit(K), eager = false)
      val ra = retained(1995)
      val rb = retained(1996)
      def base(r: DataFrame, sfx: String) = r
        .agg(count(lit(1)).as("n"), max("h").as("hk"))
        .select(col("n").as(s"n$sfx"),
          when(col("n") < K, lit(1.0))
            .otherwise(col("hk") / lit(P.toDouble)).as(s"t$sfx"))
      val sa = base(ra, "a")
      val sb = base(rb, "b")
      val t0f = Materialize.cut(sa.crossJoin(sb)
        .select(least(col("ta"), col("tb")).as("t0")), eager = false)
      // union: retain below θ0, trim to K (the DataSketches theta-union)
      val below = Materialize.cut(ra.union(rb).distinct()
        .crossJoin(broadcast(t0f)).filter(col("h") < col("t0") * P)
        .select("h"), eager = false)
      val un = below.agg(count(lit(1)).as("n_below"))
      val ru = below.orderBy("h").limit(K)
      val su = ru.agg(count(lit(1)).as("nu"), max("h").as("hku"))
        .crossJoin(un).crossJoin(broadcast(t0f))
        .select(col("nu"),
          when(col("n_below") > K, col("hku") / lit(P.toDouble))
            .otherwise(col("t0")).as("tu"))
      // intersection / difference: set ops on the retained frames, below θ0
      def derived(r: DataFrame) = r
        .crossJoin(broadcast(t0f)).filter(col("h") < col("t0") * P)
        .agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(t0f))
      val si = derived(ra.intersect(rb))
      val sd = derived(ra.except(rb))
      // ONE exact hash-agg: per-custkey year flags → every truth column
      val ex = Materialize.cut(o.filter(year(col("o_orderdate")).isin(1995, 1996))
        .groupBy("o_custkey")
        .agg(max(when(year(col("o_orderdate")) === 1995, 1).otherwise(0)).as("ina"),
             max(when(year(col("o_orderdate")) === 1996, 1).otherwise(0)).as("inb"))
        .agg(sum("ina").cast("bigint").as("xa"),
             sum("inb").cast("bigint").as("xb"),
             count(lit(1)).as("xu"),
             sum(col("ina") * col("inb")).cast("bigint").as("xi"),
             sum(col("ina") * (lit(1) - col("inb"))).cast("bigint").as("xd")),
        eager = false)
      Seq(
        sa.crossJoin(broadcast(ex)).select(lit("a").as("op"),
          col("na").cast("bigint").as("n_retained"), round(col("ta"), 6).as("theta"),
          round(when(col("na") < K, col("na").cast("double"))
            .otherwise(lit((K - 1).toDouble) / col("ta")), 4).as("estimate"),
          col("xa").as("exact")),
        sb.crossJoin(broadcast(ex)).select(lit("b").as("op"),
          col("nb").cast("bigint").as("n_retained"), round(col("tb"), 6).as("theta"),
          round(when(col("nb") < K, col("nb").cast("double"))
            .otherwise(lit((K - 1).toDouble) / col("tb")), 4).as("estimate"),
          col("xb").as("exact")),
        su.crossJoin(broadcast(ex)).select(lit("union").as("op"),
          col("nu").cast("bigint").as("n_retained"), round(col("tu"), 6).as("theta"),
          round(col("nu").cast("double") / col("tu"), 4).as("estimate"),
          col("xu").as("exact")),
        si.crossJoin(broadcast(ex)).select(lit("intersect").as("op"),
          col("n").cast("bigint").as("n_retained"), round(col("t0"), 6).as("theta"),
          round(col("n").cast("double") / col("t0"), 4).as("estimate"),
          col("xi").as("exact")),
        sd.crossJoin(broadcast(ex)).select(lit("diff_a_only").as("op"),
          col("n").cast("bigint").as("n_retained"), round(col("t0"), 6).as("theta"),
          round(col("n").cast("double") / col("t0"), 4).as("estimate"),
          col("xd").as("exact"))
      ).reduce(_.unionByName(_)).orderBy("op")
    }),

    // ---- the mergeable-sketch TABLE pattern (Apache DataSketches HLL,
    // SPARK-16484 family): per-priority sketches of the customer set are
    // built ONCE as binary partials, then re-aggregated with hll_union_agg
    // — the union estimate comes from the stored sketches, not a second
    // fact scan. At 100 TB this is how a daily distinct-users rollup
    // works: each partition/day persists a ~2 KB sketch, and any window's
    // distinct count is a union over sketch rows — O(days), not O(events).
    // HLL register state depends only on the value SET (max per register),
    // so estimates are merge-order-deterministic — safe to hash. lgK=12
    // gives RSE ≈ 1.6%; the 5% bound is the deterministic-safe margin, and
    // the oracle asserts the bound literally TRUE from exact counts.
    "sketch_hll_union" -> ((s, d) => {
      val o = t(s, d, "orders")
      val sk = o.groupBy("o_orderpriority")
        .agg(hll_sketch_agg(col("o_custkey"), lit(12)).as("sk"),
             countDistinct(col("o_custkey")).as("exact_custs"))
        .cache()
      val uni = sk.agg(
        hll_sketch_estimate(hll_union_agg(col("sk"), lit(false))).as("union_est"))
      val exactAll = o.agg(countDistinct(col("o_custkey")).as("exact_all"))
      sk.select(col("o_orderpriority"), col("exact_custs"),
          (abs(hll_sketch_estimate(col("sk")) - col("exact_custs")) <=
            greatest(lit(3.0), col("exact_custs") * 0.05)).as("group_ok"))
        .crossJoin(broadcast(uni.crossJoin(exactAll).select(
          (abs(col("union_est") - col("exact_all")) <=
            greatest(lit(3.0), col("exact_all") * 0.05)).as("union_ok"))))
        .orderBy("o_orderpriority")
    }),

    // ---- HLL set INTERSECTION via inclusion–exclusion: |A∩B| ≈ est(A) +
    // est(B) − est(A∪B) — the audience-overlap / dataset-contamination
    // estimate a 100 TB pipeline answers WITHOUT the A⋈B join (two sketch
    // scans + a register merge; the exact twin needs a distinct-join).
    // The I-E error compounds the three estimates' RSE and scales with
    // the UNION (not the intersection), so the asserted bound is written
    // against exact_union; registers are max-merged, order-independent —
    // deterministic-safe to hash. Exact intersection falls out of exact
    // I-E arithmetic (no third aggregation).
    "sketch_hll_intersect" -> ((s, d) => {
      val o = t(s, d, "orders")
      val byPri = (p: String) => o.filter(col("o_orderpriority") === p)
      val ska = byPri("1-URGENT").agg(
        hll_sketch_agg(col("o_custkey"), lit(12)).as("ska"),
        countDistinct(col("o_custkey")).as("exact_a"))
      val skb = byPri("2-HIGH").agg(
        hll_sketch_agg(col("o_custkey"), lit(12)).as("skb"),
        countDistinct(col("o_custkey")).as("exact_b"))
      val exactU = o.filter(col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .agg(countDistinct(col("o_custkey")).as("exact_union"))
      ska.crossJoin(skb).crossJoin(broadcast(exactU))
        .withColumn("est_inter",
          hll_sketch_estimate(col("ska")) + hll_sketch_estimate(col("skb")) -
            hll_sketch_estimate(hll_union(col("ska"), col("skb"))))
        .withColumn("exact_inter",
          (col("exact_a") + col("exact_b") - col("exact_union")).cast("bigint"))
        .select(col("exact_a"), col("exact_b"), col("exact_union"), col("exact_inter"),
          (abs(col("est_inter") - col("exact_inter")) <=
            greatest(lit(20.0), col("exact_union") * 0.1)).as("inter_ok"))
    }),

    // Quantile sketch bound check: percentile_approx(accuracy=10000) promises
    // the returned value's RANK is within eps*n (eps = 1/accuracy) of the
    // target rank q*n. We join the (tiny, broadcast) per-group quantile rows
    // back to orders, count rows <= the approximate value, and emit the rank
    // bound check per (status, q) — scalar rows, deterministic booleans, and
    // the DuckDB oracle computes the exact group sizes + literal TRUE.
    // (+1 slack each side: the discrete rank of an exact quantile element
    // itself straddles q*n by up to one row.)
    "sketch_quantiles" -> ((s, d) => {
      val qs = Seq(0.5, 0.95, 0.99)
      val orders = t(s, d, "orders")
      val qrows = orders
        .groupBy("o_orderstatus")
        .agg(percentile_approx(col("o_totalprice"), array(qs.map(lit): _*),
               lit(10000)).as("pq"),
             count(lit(1)).as("n"))
        .select(col("o_orderstatus"), col("n"), posexplode(col("pq")))
        .select(col("o_orderstatus"), col("n"),
          element_at(typedLit(qs), col("pos") + 1).as("q"),
          col("col").as("qv"))
      orders.select("o_orderstatus", "o_totalprice")
        .join(broadcast(qrows), Seq("o_orderstatus"))
        .groupBy("o_orderstatus", "q", "n")
        .agg(sum(when(col("o_totalprice") <= col("qv"), 1L).otherwise(0L)).as("rank_le"))
        .select(col("o_orderstatus"), col("q"), col("n"),
          (col("rank_le") >= col("q") * col("n") - col("n") / 10000.0 - 1.0 &&
           col("rank_le") <= col("q") * col("n") + col("n") / 10000.0 + 1.0).as("rank_ok"))
        .orderBy("o_orderstatus", "q")
    }),

    // ---- Misra–Gries heavy hitters (engine.Aggregators.MisraGries): the
    // mergeable frequent-items summary — 16 counters replace the full
    // vocabulary aggregate wherever "which items exceed ~6% of the stream"
    // is the actual question. Same oracle convention as the other
    // sketches: raw estimates are merge-order-dependent, so the query
    // exposes only the order-independent facts — never-overcount and the
    // n/(width+1) undercount bound — checked for the exact top-10 tokens,
    // against a literal-TRUE oracle next to the exact counts. SketchSpec
    // pins survival of a planted heavy hitter independently.
    "sketch_heavy_hitters" -> ((s, d) => {
      val mg = udaf(new graft.engine.Aggregators.MisraGries(16),
        org.apache.spark.sql.Encoders.STRING)
      val staged = t(s, d, "documents")
        .select(graft.engine.TextFunctions.tokens(col("text")).as("__toks")).cache()
      val toks = staged.select(explode(col("__toks")).as("tok"))
      val summary = toks.agg(mg(col("tok")).as("mg"), count(lit(1)).as("n_total"))
      toks.groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("tok").asc)
        .limit(10)
        .crossJoin(broadcast(summary))
        .withColumn("est", coalesce(element_at(col("mg"), col("tok")), lit(0L)))
        .select(col("tok"), col("exact_cnt"),
          (col("est") <= col("exact_cnt") &&
           col("est") >= col("exact_cnt") - col("n_total") / 17.0).as("within_bound"))
        .orderBy("tok")
    }),

    // ---- Count–Min point queries — the OTHER frequency sketch (Misra–
    // Gries above UNDERcounts and keeps only survivors; CMS OVERcounts
    // and answers any item): one mergeable agg over the token stream,
    // then the top-10 exact counts are point-queried against the
    // deserialized sketch and checked against the one-sided guarantee
    // exact ≤ est ≤ exact + ε·N. The sketch rides to the driver as ONE
    // binary cell (KBs at any corpus size — the point of sketches); seed
    // fixed so the counters are reproducible, and counter sums commute so
    // merge order cannot move them.
    "sketch_count_min" -> ((s, d) => {
      val staged = t(s, d, "documents")
        .select(graft.engine.TextFunctions.tokens(col("text")).as("__toks")).cache()
      val toks = staged.select(explode(col("__toks")).as("tok")).cache()
      val skBytes = toks
        .agg(count_min_sketch(col("tok"), lit(0.001d), lit(0.99d), lit(42)).as("sk"))
        .head.getAs[Array[Byte]](0)
      val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
        new java.io.ByteArrayInputStream(skBytes))
      val nTotal = toks.count()
      val top = toks.groupBy("tok").agg(count(lit(1)).as("exact_cnt"))
        .orderBy(col("exact_cnt").desc, col("tok").asc).limit(10).collect()
      val rows = top.toSeq.map { r =>
        val tok = r.getString(0); val exact = r.getLong(1)
        val est = cms.estimateCount(tok)
        (tok, exact, est >= exact && est <= exact + math.ceil(0.001 * nTotal).toLong)
      }
      import s.implicits._
      rows.toDF("tok", "exact_cnt", "within_bound").orderBy("tok")
    }),

    // ---- schema-evolution merge read: two parquet generations written
    // side by side (gen=2 adds o_orderpriority), read back as ONE frame via
    // mergeSchema + partition discovery — the lakehouse "add a column
    // without rewriting history" contract. Old-generation rows surface the
    // new column as NULL; the census proves both the union schema and the
    // per-generation null semantics. At 100 TB schema merge is a FOOTER
    // operation (one scan over file metadata at planning), not a data
    // rewrite.
    "etl_schema_merge" -> ((s, d) => {
      val base = graft.engine.Layouts.publish(s, d, "evolve/orders") { out =>
        val o = t(s, d, "orders")
        o.filter(year(col("o_orderdate")) < 1995)
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
          .write.parquet(s"$out/gen=1")
        o.filter(year(col("o_orderdate")) >= 1995)
          .select("o_orderkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
          .write.parquet(s"$out/gen=2")
      }
      s.read.option("mergeSchema", "true").parquet(base)
        .groupBy(col("gen").cast("bigint").as("gen"))
        .agg(count(lit(1)).as("n"),
             count(col("o_orderpriority")).as("n_with_priority"),
             countDistinct(col("o_orderstatus")).as("n_status"),
             // fixed-point: this cell had the catalog's tightest remaining
             // boundary margin (1.6× the 64-ulp band, r5 audit)
             round(FP.qsum(col("o_totalprice"), 20), 4).as("rev"))
        .orderBy("gen")
    }),

    // ---- join-cardinality estimation, the optimizer-statistics face: how
    // big would lineitem⋈lineitem on l_partkey be? The planner's answer is
    // a bucketed count-histogram — Σ_b C(b)² over 8192 hash buckets — an
    // upper bound whose bias IS the hash-collision term; the face computes
    // the sketch estimate AND the exact Σ_k c(k)² ground truth and reports
    // the relative error. Scale shape: one hash-agg to per-key counts
    // (key-cardinality-sized, not row-sized), then an 8192-row re-bucket —
    // the sketch an engine would persist as table stats and evaluate at
    // PLAN time, never running the join. The multiplier stays below 2^63
    // for any key < 3.4e9; beyond that swap the product for a 64-bit
    // mix hash (xxhash64) on both sides.
    "opt_join_cardinality" -> ((s, d) => {
      val keys = t(s, d, "lineitem")
        .groupBy("l_partkey").agg(count(lit(1)).as("c")).cache()
      val exact = keys.agg(count(lit(1)).as("n_keys"),
        sum(col("c") * col("c")).as("exact_pairs"))
      val est = keys
        .withColumn("bucket", pmod(col("l_partkey") * lit(2654435761L), lit(8192L)))
        .groupBy("bucket").agg(sum("c").as("bc"))
        .agg(sum(col("bc") * col("bc")).as("est_pairs"))
      exact.crossJoin(est)
        .select(col("n_keys"), col("exact_pairs"), col("est_pairs"),
          round((col("est_pairs") - col("exact_pairs")).cast("double") /
            col("exact_pairs"), 6).as("rel_err"))
    }),

    // ---- cost-based join REORDER under real table statistics (VERDICT r7
    // #7): opt_join_cardinality sketches cardinality; this face ACTS on
    // statistics. The three join sides are first-use catalog tables
    // ANALYZEd FOR ALL COLUMNS (distinct counts + min/max — what CBO's
    // selectivity model consumes), and the query runs in a CLONED session
    // (same SparkContext and catalog, its OWN SQLConf) with
    // spark.sql.cbo.enabled + joinReorder.enabled — so the cost-based plan
    // is scoped to this face and cannot perturb the rest of the catalog.
    // Written join order is deliberately the worst one — the fact table
    // (orders) first — and the selective n_name filter makes
    // customer⋈nation the provably cheaper start; CostBasedJoinReorder
    // flips to it (PlanQualitySpec asserts the reordered tree and the
    // written-order tree under cbo=off). At 100 TB this is THE optimizer
    // lever the layout faces document but never demonstrated: with stats,
    // a 3-table star query starts from the selective dimension instead of
    // shuffling the fact table twice. The RESULT is order-independent, so
    // the oracle gates that reordering never changes the answer. ANALYZE
    // cost is one scan per table per corpus version — the write-time stats
    // pass every warehouse already runs.
    "opt_cbo_reorder" -> ((s, d) => {
      // stats live in the (in-memory) session catalog, so the table is
      // registered + ANALYZEd once per session over the published files
      def analyzed(stem: String, df: => DataFrame): String = {
        val path = graft.engine.Layouts.publish(s, d, s"cbo/$stem")(df.write.parquet(_))
        catalogTable(s, path) { tbl =>
          s.sql(s"CREATE TABLE $tbl USING parquet LOCATION '$path'")
          s.sql(s"ANALYZE TABLE $tbl COMPUTE STATISTICS FOR ALL COLUMNS")
        }
      }
      val to = analyzed("cbo_orders",
        t(s, d, "orders").select("o_orderkey", "o_custkey", "o_totalprice"))
      val tc = analyzed("cbo_customer",
        t(s, d, "customer").select("c_custkey", "c_nationkey"))
      val tn = analyzed("cbo_nation",
        t(s, d, "nation").select("n_nationkey", "n_name"))
      val s2 = s.newSession() // shares context + catalog, isolates the conf
      s2.conf.set("spark.sql.cbo.enabled", "true")
      s2.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      s2.sql(
        s"""SELECT n_name, count(*) AS n_orders,
           |  round(CAST(sum(CAST(floor(o_totalprice * 1048576.0 + 0.5) AS BIGINT)) AS DOUBLE)
           |    / 1048576.0, 4) AS rev
           |FROM $to o
           |JOIN $tc c ON o.o_custkey = c.c_custkey
           |JOIN $tn n ON c.c_nationkey = n.n_nationkey
           |WHERE n.n_name IN ('NATION_3', 'NATION_7', 'NATION_21')
           |GROUP BY n_name ORDER BY n_name""".stripMargin)
    })
  )

  val oracles: Map[String, String] = Map(
    // plan order is CBO's business; the ANSWER must be the plain 3-table
    // join's — the same qsum(20) quantization chain as the Spark side
    "opt_cbo_reorder" ->
      """SELECT n_name, count(*) AS n_orders,
        |  round(CAST(sum(CAST(floor(o_totalprice * 1048576.0 + 0.5) AS BIGINT)) AS DOUBLE)
        |    / 1048576.0, 4) AS rev
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE n.n_name IN ('NATION_3', 'NATION_7', 'NATION_21')
        |GROUP BY n_name ORDER BY n_name""".stripMargin,

    // the salted plan must produce exactly the naive aggregation's result
    "skew_salted_agg" ->
      """SELECT skey, count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM (SELECT CASE WHEN user_id % 3 = 0 THEN 0 ELSE user_id END AS skey, value
        |      FROM events)
        |GROUP BY skey ORDER BY skey""".stripMargin,

    // the salted join must produce exactly the plain join's result
    "skew_salted_join" ->
      """SELECT skey, c_name, count(*) AS n, round(sum(value), 4) AS sum_value
        |FROM (SELECT CASE WHEN user_id % 3 = 0 THEN 0 ELSE user_id END AS skey, value
        |      FROM events) e
        |JOIN (SELECT c_custkey - 1 AS skey, c_name FROM customer WHERE c_custkey <= 150) c
        |USING (skey)
        |GROUP BY skey, c_name ORDER BY skey""".stripMargin,

    "layout_zorder" ->
      """SELECT l_orderkey, l_linenumber, l_partkey,
        |  CAST(list_sum(list_transform(range(0, 16), i ->
        |    (CAST(floor(l_orderkey / pow(2.0, i)) AS BIGINT) % 2) * CAST(pow(2.0, 2*i) AS BIGINT) +
        |    (CAST(floor(l_partkey / pow(2.0, i)) AS BIGINT) % 2) * CAST(pow(2.0, 2*i + 1) AS BIGINT)))
        |    AS BIGINT) AS zval
        |FROM lineitem WHERE l_orderkey <= 64
        |ORDER BY zval, l_orderkey, l_linenumber""".stripMargin,

    "asof_join" ->
      """SELECT event_id, user_id, ts, last_signup_ts FROM (
        |  SELECT event_id, user_id, ts, event_type,
        |    last_value(CASE WHEN event_type = 'signup' THEN ts END IGNORE NULLS)
        |      OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup_ts
        |  FROM events)
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,

    // NOT the same oracle as asof_join: AsOfJoinExec is backward-inclusive
    // on TIME alone (any signup with ts <= purchase ts matches, regardless
    // of event_id order among same-microsecond rows), which is exactly
    // max(signup ts) over a RANGE frame — order-independent under ties,
    // where the ROWS-frame form would diverge for a same-ts signup with a
    // larger event_id than the purchase.
    "asof_join_custom" ->
      """SELECT event_id, user_id, ts, last_signup_ts FROM (
        |  SELECT event_id, user_id, ts, event_type,
        |    max(CASE WHEN event_type = 'signup' THEN ts END)
        |      OVER (PARTITION BY user_id ORDER BY ts
        |            RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_signup_ts
        |  FROM events)
        |WHERE event_type = 'purchase' ORDER BY event_id""".stripMargin,

    "bj_colocated_join" ->
      s"""SELECT o_orderstatus, count(*) AS n, round(${SqlText.qsum("l_extendedprice", 20)}, 4) AS rev
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // same version history as etl_scd2; the vacuum predicate is pure date
    // arithmetic over validity windows, so the census is exact
    "etl_vacuum_plan" ->
      s"""WITH statez AS (
         |  SELECT o_custkey AS custkey, CAST(o_orderdate AS DATE) AS eff_from,
         |    round(${SqlText.qsum("o_totalprice", 20)}, 4) AS day_rev
         |  FROM orders GROUP BY 1, 2),
         |hist AS (SELECT custkey, eff_from,
         |    lead(eff_from, 1) OVER (PARTITION BY custkey ORDER BY eff_from) AS eff_to,
         |    day_rev
         |  FROM statez),
         |cls AS (SELECT *, CASE
         |    WHEN eff_to IS NULL THEN 'current'
         |    WHEN (eff_from <= DATE '1997-01-01' AND eff_to > DATE '1997-01-01')
         |      OR (eff_from <= DATE '1998-01-01' AND eff_to > DATE '1998-01-01')
         |      THEN 'pinned'
         |    WHEN eff_to > DATE '1997-06-01' THEN 'retained'
         |    ELSE 'vacuum' END AS status
         |  FROM hist)
         |SELECT status, count(*) AS n_versions,
         |  count(DISTINCT custkey) AS n_keys,
         |  round(${SqlText.qsum("day_rev", 20)}, 4) AS rev_mass
         |FROM cls GROUP BY status ORDER BY status""".stripMargin,

    "etl_upsert" ->
      """WITH source AS (
        |  SELECT o_custkey AS s_custkey, round(sum(o_totalprice) * 0.01, 4) AS delta
        |  FROM orders WHERE o_orderpriority = '1-URGENT' GROUP BY 1)
        |SELECT coalesce(c_custkey, s_custkey) AS custkey,
        |  coalesce(c_name, 'NEW CUSTOMER') AS name,
        |  (round(coalesce(c_acctbal, 0.0) + coalesce(delta, 0.0), 4) + 0.0) AS new_acctbal,
        |  CASE WHEN s_custkey IS NULL THEN 'carried'
        |       WHEN c_custkey IS NULL THEN 'inserted'
        |       ELSE 'updated' END AS action
        |FROM customer FULL OUTER JOIN source ON c_custkey = s_custkey
        |ORDER BY custkey""".stripMargin,

    "etl_cdc_compact" ->
      """WITH log AS (SELECT l_orderkey AS k1, l_partkey AS k2,
        |    CAST(l_linenumber AS BIGINT) AS seq,
        |    CASE WHEN l_quantity < 2 THEN 'D' ELSE 'U' END AS op,
        |    round(l_extendedprice, 4) AS payload
        |  FROM lineitem),
        |last AS (SELECT k1, k2, seq, op, payload FROM (
        |    SELECT *, row_number() OVER (PARTITION BY k1, k2
        |      ORDER BY seq DESC, op DESC, payload DESC) AS rn FROM log) WHERE rn = 1)
        |SELECT k1, k2, seq, op, payload FROM last
        |WHERE op != 'D' ORDER BY k1, k2""".stripMargin,

    "etl_scd2_asof" ->
      s"""WITH statez AS (
         |  SELECT o_custkey AS custkey, CAST(o_orderdate AS DATE) AS eff_from,
         |    round(${SqlText.qsum("o_totalprice", 20)}, 4) AS day_rev
        |  FROM orders GROUP BY 1, 2),
        |hist AS (
        |  SELECT custkey, eff_from, lead(eff_from, 1) OVER w AS eff_to, day_rev
        |  FROM statez WINDOW w AS (PARTITION BY custkey ORDER BY eff_from))
        |SELECT custkey, eff_from, eff_to, day_rev FROM hist
        |WHERE eff_from <= DATE '1998-01-01'
        |  AND (eff_to IS NULL OR eff_to > DATE '1998-01-01')
        |ORDER BY custkey""".stripMargin,

    // same version construction (dates + integer day offsets on an
    // explicit DATE cast) and the same (valid_from, tx_from) pick order
    "etl_bitemporal" ->
      s"""WITH vers AS (
         |  SELECT o_orderkey AS k, o_totalprice AS price,
         |    CAST(o_orderdate AS DATE) AS valid_from,
         |    CAST(o_orderdate AS DATE) AS tx_from, FALSE AS corrected
         |  FROM orders
         |  UNION ALL
         |  SELECT o_orderkey, o_totalprice + 100.0,
         |    CAST(o_orderdate AS DATE) + 60, CAST(o_orderdate AS DATE) + 90, TRUE
         |  FROM orders WHERE o_orderkey % 50 = 0),
         |grid AS (
         |  SELECT 'early_tx_early_v' AS cell, DATE '1997-06-01' AS t_tx, DATE '1997-06-01' AS t_v
         |  UNION ALL SELECT 'late_tx_early_v', DATE '2002-01-01', DATE '1997-06-01'
         |  UNION ALL SELECT 'early_tx_late_v', DATE '1997-06-01', DATE '2002-01-01'
         |  UNION ALL SELECT 'late_tx_late_v', DATE '2002-01-01', DATE '2002-01-01'),
         |picked AS (
         |  SELECT cell, k, price, corrected,
         |    row_number() OVER (PARTITION BY cell, k
         |      ORDER BY valid_from DESC, tx_from DESC) AS rn
         |  FROM vers CROSS JOIN grid
         |  WHERE tx_from <= t_tx AND valid_from <= t_v)
         |SELECT cell, count(*) AS n_visible,
         |  CAST(sum(CASE WHEN corrected THEN 1 ELSE 0 END) AS BIGINT) AS n_corrected,
         |  round(${SqlText.qsum("price", 20)}, 4) AS believed_rev
         |FROM picked WHERE rn = 1
         |GROUP BY cell ORDER BY cell""".stripMargin,

    "etl_scd2" ->
      s"""WITH statez AS (
         |  SELECT o_custkey AS custkey, CAST(o_orderdate AS DATE) AS eff_from,
         |    round(${SqlText.qsum("o_totalprice", 20)}, 4) AS day_rev
        |  FROM orders GROUP BY 1, 2)
        |SELECT custkey, CAST(row_number() OVER w AS BIGINT) AS version,
        |  eff_from, lead(eff_from, 1) OVER w AS eff_to,
        |  (lead(eff_from, 1) OVER w IS NULL) AS is_current, day_rev
        |FROM statez WINDOW w AS (PARTITION BY custkey ORDER BY eff_from)
        |ORDER BY custkey, version""".stripMargin,

    // the pruned partitioned read must equal the predicate on the flat table
    "pp_partition_pruned" ->
      """SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 4) AS rev
        |FROM orders WHERE year(o_orderdate) = 1995
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "pp_dynamic_pruning" ->
      s"""SELECT o_orderstatus, count(*) AS n, round(${SqlText.qsum("o_totalprice", 20)}, 4) AS rev
         |FROM orders WHERE year(o_orderdate) >= 1995 AND year(o_orderdate) < 1998
         |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "agg_bitmap_distinct" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the CDF census re-derived: same two validity-window pins over the
    // same SCD2 CTE, classified by a full outer join
    "etl_snapshot_diff" ->
      s"""WITH statez AS (SELECT o_custkey AS custkey, CAST(o_orderdate AS DATE) AS eff_from,
         |    round(${SqlText.qsum("o_totalprice", 20)}, 4) AS day_rev
         |  FROM orders GROUP BY 1, 2),
         |hist AS (SELECT custkey, eff_from, day_rev,
         |    lead(eff_from, 1) OVER (PARTITION BY custkey ORDER BY eff_from) AS eff_to
         |  FROM statez),
         |v1 AS (SELECT custkey, eff_from, day_rev FROM hist
         |  WHERE eff_from <= DATE '1996-07-01' AND (eff_to IS NULL OR eff_to > DATE '1996-07-01')),
         |v2 AS (SELECT custkey, eff_from, day_rev FROM hist
         |  WHERE eff_from <= DATE '1997-07-01' AND (eff_to IS NULL OR eff_to > DATE '1997-07-01'))
         |SELECT CASE WHEN a.eff_from IS NULL THEN 'inserted'
         |            WHEN b.eff_from IS NULL THEN 'deleted'
         |            WHEN a.eff_from != b.eff_from THEN 'updated'
         |            ELSE 'unchanged' END AS change,
         |  count(*) AS n_keys,
         |  ${SqlText.qround(SqlText.qsum("coalesce(b.day_rev, 0.0) - coalesce(a.day_rev, 0.0)", 20), 4)} AS rev_delta
         |FROM v1 a FULL OUTER JOIN v2 b USING (custkey)
         |GROUP BY change ORDER BY change""".stripMargin,

    // full recompute — the incremental base+delta merge must equal this
    // exactly (associative integer partials)
    "etl_incremental_rollup" ->
      s"""SELECT o_orderstatus, date_trunc('month', ts_month) AS month, count(*) AS n,
         |  round(${SqlText.qsum("o_totalprice", 20)}, 4) AS rev
         |FROM (SELECT o_orderstatus, CAST(o_orderdate AS TIMESTAMP) AS ts_month, o_totalprice
         |      FROM orders)
         |GROUP BY 1, 2 ORDER BY o_orderstatus, month""".stripMargin,

    // layout facts are deterministic (64 → 4 splits by construction); the
    // row count and checksum re-derive from the source slice, proving the
    // compaction changed file layout and nothing else
    "etl_compact_files" ->
      s"""SELECT CAST(64 AS BIGINT) AS files_before, CAST(4 AS BIGINT) AS files_after,
         |  count(*) AS n_rows,
         |  CAST(sum(${SqlText.wordHash("md5(concat_ws('|', o_orderkey, o_orderstatus))")}) AS BIGINT) AS checksum
         |FROM orders WHERE o_orderkey % 4 = 0""".stripMargin,

    "etl_snapshot_read" ->
      s"""WITH statez AS (SELECT o_custkey AS custkey, CAST(o_orderdate AS DATE) AS eff_from,
         |    round(${SqlText.qsum("o_totalprice", 20)}, 4) AS day_rev
         |  FROM orders GROUP BY 1, 2),
         |hist AS (SELECT custkey, eff_from, day_rev,
         |    lead(eff_from, 1) OVER (PARTITION BY custkey ORDER BY eff_from) AS eff_to
         |  FROM statez),
         |snaps AS (SELECT unnest([DATE '1996-07-01', DATE '1997-01-01',
         |                         DATE '1997-07-01', DATE '1998-01-01']) AS snapshot_date)
         |SELECT snapshot_date, count(*) AS n_keys,
         |  round(${SqlText.qsum("day_rev", 20)}, 4) AS total_rev,
         |  CAST(sum(${SqlText.wordHash("md5(concat_ws('|', custkey, eff_from))")}) AS BIGINT) AS checksum
         |FROM hist CROSS JOIN snaps
         |WHERE eff_from <= snapshot_date AND (eff_to IS NULL OR eff_to > snapshot_date)
         |GROUP BY snapshot_date ORDER BY snapshot_date""".stripMargin,

    "etl_row_hash_audit" ->
      s"""SELECT o_orderkey % 16 AS bucket, count(*) AS n,
         |  CAST(sum(${SqlText.wordHash("md5(concat_ws('|', o_orderkey, o_orderstatus, o_orderpriority))")}) AS BIGINT) AS checksum
         |FROM orders GROUP BY bucket ORDER BY bucket""".stripMargin,

    "src_csv_roundtrip" ->
      s"""SELECT o_orderstatus, count(*) AS n, round(${SqlText.qsum("o_totalprice", 20)}, 4) AS rev,
         |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
         |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    // closed-form: the census from the source table + the plant rule,
    // independent of the CSV parser under test
    "src_csv_badrecords" ->
      s"""SELECT o_orderstatus, count(*) AS n_rows,
         |  CAST(sum(CASE WHEN o_orderkey % 23 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_bad,
         |  round(${SqlText.qsum("CASE WHEN o_orderkey % 23 != 0 THEN o_totalprice END", 20)}, 4) AS clean_rev
         |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,

    "src_orc_roundtrip" ->
      s"""SELECT l_returnflag, count(*) AS n, round(${SqlText.qsum("l_extendedprice", 20)}, 4) AS rev
         |FROM lineitem WHERE l_quantity < 25
         |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    "src_json_roundtrip" ->
      s"""SELECT c_mktsegment, count(*) AS n,
         |  round(${SqlText.qsum("c_acctbal", 20)}, 4) AS bal,
         |  min(c_custkey) AS min_key, max(c_custkey) AS max_key
         |FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin,

    // re-derives the connector's row formulas (score = id·31 mod 1000)
    // over the same pushed range
    "src_pushdown_docs" ->
      """SELECT doc_id % 10 AS bucket, count(*) AS n,
        |  CAST(sum(doc_id * 31 % 1000) AS BIGINT) AS sum_score
        |FROM (SELECT unnest(range(90000, 90100)) AS doc_id)
        |GROUP BY bucket ORDER BY bucket""".stripMargin,

    // the pushed-range arithmetic re-derived in SQL (the connector never
    // materializes a row for this query; the oracle shouldn't either)
    "src_pushdown_agg" ->
      """SELECT CAST(750000 - 250000 AS BIGINT) AS n_rows,
        |  CAST(250000 AS BIGINT) AS min_id, CAST(749999 AS BIGINT) AS max_id""".stripMargin,

    // filter tightens lo to 90000, offset skips 20, limit keeps 10 — the
    // connector's row formulas re-derived over exactly that range
    "src_pushdown_limit" ->
      """SELECT doc_id,
        |  'doc ' || doc_id || ' body ' || (doc_id * 7 % 97) AS text,
        |  CAST(doc_id * 31 % 1000 AS BIGINT) AS score
        |FROM (SELECT unnest(range(90020, 90030)) AS doc_id)
        |ORDER BY doc_id""".stripMargin,

    // the runtime-pruned join re-derived: the build side's score predicate
    // (id·31 mod 1000 = 500) selects exactly one id per 1000 over the
    // filtered range; the probe contributes the full row for each
    "src_runtime_prune" ->
      """SELECT doc_id,
        |  'doc ' || doc_id || ' body ' || (doc_id * 7 % 97) AS text,
        |  CAST(doc_id * 31 % 1000 AS BIGINT) AS score
        |FROM (SELECT unnest(range(700000, 710000)) AS doc_id)
        |WHERE doc_id * 31 % 1000 = 500
        |ORDER BY doc_id""".stripMargin,

    "layout_file_skipping" ->
      """SELECT l_returnflag, count(*) AS n, round(sum(l_extendedprice), 4) AS rev
        |FROM lineitem
        |WHERE l_extendedprice >= 2000.0 AND l_extendedprice <= 15000.0
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // THE NAIVE INTERVAL JOIN — the binned rewrite must reproduce it
    // exactly; window arithmetic in BIGINT micros on both engines
    "range_join_binned" ->
      s"""WITH m AS (SELECT min(epoch_us(ts)) AS t0 FROM events),
         |camps AS (SELECT i AS campaign,
         |    t0 + i * ${36L * 3600 * 1000000} AS cstart,
         |    t0 + i * ${36L * 3600 * 1000000} + ${24L * 3600 * 1000000} AS cend
         |  FROM range(0, 20) r(i) CROSS JOIN m),
         |j AS (SELECT c.campaign, count(*) AS n_events,
         |    count(DISTINCT e.user_id) AS n_users,
         |    round(${SqlText.qsum("e.value", 20)}, 4) AS sum_value
         |  FROM camps c JOIN events e
         |    ON epoch_us(e.ts) >= c.cstart AND epoch_us(e.ts) < c.cend
         |  GROUP BY 1)
         |SELECT c.campaign, coalesce(n_events, 0) AS n_events,
         |  coalesce(n_users, 0) AS n_users,
         |  coalesce(sum_value, 0.0) AS sum_value
         |FROM camps c LEFT JOIN j USING (campaign) ORDER BY campaign""".stripMargin,

    // identical BIGINT hash arithmetic and EXISTS-formulated membership
    "layout_bloom_skipping" ->
      """WITH hs(j, a) AS (VALUES (0, 2654435761), (1, 2246822519), (2, 3266489917)),
        |keys AS (SELECT DISTINCT
        |    CAST((year(l_shipdate) * 12 + month(l_shipdate)) % 8 AS BIGINT) AS fid,
        |    l_orderkey FROM lineitem),
        |perfile AS (SELECT fid, count(*) AS n_keys, min(l_orderkey) AS min_k,
        |    max(l_orderkey) AS max_k, count(*) * 4 AS m FROM keys GROUP BY fid),
        |bits AS (SELECT DISTINCT k.fid, hs.j,
        |    ((k.l_orderkey + 1) * hs.a) % 1000000007 % p.m AS bit
        |  FROM keys k JOIN perfile p USING (fid) CROSS JOIN hs),
        |pres AS (SELECT okey, 'present' AS kind FROM (
        |    SELECT DISTINCT l_orderkey AS okey FROM keys WHERE l_orderkey % 97 = 0
        |    ORDER BY okey LIMIT 10)),
        |probes AS (SELECT okey, kind FROM pres
        |           UNION ALL SELECT okey + (SELECT max(max_k) FROM perfile) + 1,
        |             'shifted' FROM pres),
        |pb AS (SELECT pr.okey, pr.kind, p.fid, hs.j,
        |    ((pr.okey + 1) * hs.a) % 1000000007 % p.m AS bit
        |  FROM probes pr CROSS JOIN perfile p CROSS JOIN hs),
        |bh AS (SELECT okey, kind, fid FROM pb JOIN bits USING (fid, j, bit)
        |       GROUP BY okey, kind, fid HAVING count(*) = 3),
        |bhc AS (SELECT okey, kind, count(*) AS nb FROM bh GROUP BY 1, 2),
        |mm AS (SELECT pr.okey, pr.kind, count(*) AS nm FROM probes pr
        |       JOIN perfile p ON pr.okey >= p.min_k AND pr.okey <= p.max_k
        |       GROUP BY 1, 2),
        |act AS (SELECT pr.okey, pr.kind, count(DISTINCT k.fid) AS na
        |        FROM probes pr JOIN keys k ON k.l_orderkey = pr.okey GROUP BY 1, 2)
        |SELECT pr.okey, pr.kind,
        |  CAST(coalesce(nm, 0) AS BIGINT) AS n_files_minmax_hit,
        |  CAST(coalesce(nb, 0) AS BIGINT) AS n_files_bloom_hit,
        |  CAST(coalesce(na, 0) AS BIGINT) AS n_files_actual,
        |  CAST(coalesce(nb, 0) - coalesce(na, 0) AS BIGINT) AS n_false_positive
        |FROM probes pr
        |LEFT JOIN mm ON mm.okey = pr.okey AND mm.kind = pr.kind
        |LEFT JOIN bhc ON bhc.okey = pr.okey AND bhc.kind = pr.kind
        |LEFT JOIN act ON act.okey = pr.okey AND act.kind = pr.kind
        |ORDER BY pr.kind, pr.okey""".stripMargin,

    "etl_quarantine" ->
      """SELECT reason, count(*) AS n_events, count(DISTINCT user_id) AS n_users,
        |  min(event_id) AS first_event, max(event_id) AS last_event
        |FROM (SELECT event_id, user_id,
        |        CASE WHEN event_type = 'error' THEN 'error_event'
        |             WHEN CAST(json_extract_string(props, '$.k') AS BIGINT) >= 95 THEN 'suspect_props'
        |             WHEN value < 0.01 THEN 'negligible_value'
        |             ELSE 'ok' END AS reason
        |      FROM events)
        |GROUP BY reason ORDER BY reason""".stripMargin,

    // FK orphan checks as NOT EXISTS, not NOT IN: the Spark side is a
    // left_anti join, and under NULL foreign keys (or a NULL in the dim
    // key set) NOT IN collapses to zero matches while the anti-join counts
    // them — the trap the catalog's own sub_not_in_null_trap face
    // documents (ADVICE r8)
    "etl_dq_report" ->
      """WITH lr AS (SELECT count(*) AS n,
        |    CAST(sum(CASE WHEN l_quantity IS NULL OR l_quantity <= 0 OR l_quantity > 100
        |                  THEN 1 ELSE 0 END) AS BIGINT) AS v_qty,
        |    CAST(sum(CASE WHEN l_discount < 0 OR l_discount > 1 THEN 1 ELSE 0 END) AS BIGINT) AS v_disc
        |  FROM lineitem),
        |rep AS (
        |  SELECT 'lineitem.quantity_in_(0,100]' AS check_name, n AS n_checked, v_qty AS n_violations FROM lr
        |  UNION ALL
        |  SELECT 'lineitem.discount_in_[0,1]', n, v_disc FROM lr
        |  UNION ALL
        |  SELECT 'lineitem.pk_unique(l_orderkey,l_linenumber)', count(*),
        |    count(*) - count(DISTINCT (l_orderkey, l_linenumber)) FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem.fk_orders', (SELECT count(*) FROM lineitem),
        |    (SELECT count(*) FROM lineitem l WHERE NOT EXISTS
        |      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey))
        |  UNION ALL
        |  SELECT 'orders.fk_customer', (SELECT count(*) FROM orders),
        |    (SELECT count(*) FROM orders o WHERE NOT EXISTS
        |      (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)))
        |SELECT check_name, n_checked, CAST(n_violations AS BIGINT) AS n_violations,
        |  (n_violations = 0) AS pass
        |FROM rep ORDER BY check_name""".stripMargin,

    "etl_pseudonymize" ->
      """SELECT count(*) AS n_rows,
        |  CAST(count(DISTINCT c_custkey) AS BIGINT) AS n_keys,
        |  CAST(count(DISTINCT sha256('release-2026-08:' || c_custkey)) AS BIGINT) AS n_pseudonyms,
        |  CAST(sum(CASE WHEN sha256('release-2026-08:' || c_custkey) IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null,
        |  (count(DISTINCT sha256('release-2026-08:' || c_custkey)) = count(DISTINCT c_custkey)) AS collision_free
        |FROM customer""".stripMargin,

    // the CDF is fully determined by the scenario's three appends; the
    // aborted compaction must never surface in any version's diff
    "etl_commit_changes" ->
      """WITH rows1 AS (SELECT count(*) AS n FROM customer WHERE c_nationkey < 10),
        |rows2 AS (SELECT count(*) AS n FROM customer WHERE c_nationkey >= 10 AND c_nationkey < 20),
        |rows3 AS (SELECT count(*) AS n FROM customer WHERE c_nationkey >= 20),
        |tot AS (SELECT count(*) AS n FROM customer),
        |cdf AS (
        |  SELECT CAST(1 AS BIGINT) AS version, CAST(1 AS BIGINT) AS n_files,
        |    CAST(1 AS BIGINT) AS n_files_added, CAST(0 AS BIGINT) AS n_files_removed,
        |    (SELECT n FROM rows1) AS n_rows_added
        |  UNION ALL
        |  SELECT 2, 2, 1, 0, (SELECT n FROM rows2)
        |  UNION ALL
        |  SELECT 3, 3, 1, 0, (SELECT n FROM rows3))
        |SELECT version, n_files, n_files_added, n_files_removed, n_rows_added,
        |  (SELECT n FROM tot) AS n_rows_latest, TRUE AS append_only
        |FROM cdf ORDER BY version""".stripMargin,

    // the clone's rows are its snapshot (c<20) + its own append (c<5);
    // the source's are the whole table — both derivable from raw customer,
    // so a leak in either isolation direction breaks a count
    "etl_clone_shallow" ->
      """WITH a AS (SELECT count(*) AS n FROM customer WHERE c_nationkey < 20),
        |b AS (SELECT count(*) AS n FROM customer WHERE c_nationkey < 5),
        |tot AS (SELECT count(*) AS n FROM customer)
        |SELECT 'clone' AS tbl, CAST(2 AS BIGINT) AS version,
        |  CAST(3 AS BIGINT) AS n_files, CAST(2 AS BIGINT) AS n_shared,
        |  CAST(1 AS BIGINT) AS n_own,
        |  (SELECT n FROM a) + (SELECT n FROM b) AS n_rows
        |UNION ALL
        |SELECT 'src', 3, 3, 0, 3, (SELECT n FROM tot)
        |ORDER BY tbl""".stripMargin,

    // same ladder via DuckDB's GROUPING SETS + grouping(); every column is
    // an exact integer or a ratio of exact BIGINTs
    "etl_k_anonymity" ->
      """WITH cust AS (SELECT c_nationkey AS nat, c_mktsegment AS seg,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band, n_regionkey AS reg
        |  FROM customer JOIN nation ON c_nationkey = n_nationkey),
        |cls AS (
        |  SELECT CAST(CASE WHEN grouping(bal_band) = 0 THEN 0
        |              WHEN grouping(nat) = 0 THEN 1 ELSE 2 END AS BIGINT) AS level,
        |    count(*) AS class_size
        |  FROM cust
        |  GROUP BY GROUPING SETS ((nat, seg, bal_band), (nat, seg), (reg, seg)))
        |SELECT level, count(*) AS n_classes,
        |  CAST(min(class_size) AS BIGINT) AS min_class,
        |  CAST(sum(class_size) AS BIGINT) AS n_rows,
        |  CAST(sum(CASE WHEN class_size < 5 THEN class_size ELSE 0 END) AS BIGINT) AS rows_below_k,
        |  round(CAST(sum(CASE WHEN class_size < 5 THEN class_size ELSE 0 END) AS DOUBLE)
        |    / CAST(sum(class_size) AS DOUBLE), 4) AS frac_below_k,
        |  (min(class_size) >= 5) AS k_anonymous
        |FROM cls GROUP BY level ORDER BY level""".stripMargin,

    "etl_l_diversity" ->
      """WITH cls AS (
        |  SELECT c_nationkey AS nat, c_mktsegment AS seg,
        |    count(*) AS class_size,
        |    count(DISTINCT CAST(floor(c_acctbal / 1000) AS BIGINT)) AS n_distinct
        |  FROM customer GROUP BY 1, 2)
        |SELECT seg, count(*) AS n_classes,
        |  min(n_distinct) AS min_diversity,
        |  count(*) FILTER (n_distinct < 3) AS classes_below_l,
        |  CAST(coalesce(sum(CASE WHEN n_distinct < 3 THEN class_size ELSE 0 END), 0) AS BIGINT)
        |    AS rows_at_risk,
        |  count(*) FILTER (n_distinct = 1) AS n_homogeneous,
        |  (min(n_distinct) >= 3) AS l_diverse
        |FROM cls GROUP BY seg ORDER BY seg""".stripMargin,

    // identical scaled-integer EMD: dense (class × bucket) grid, one
    // cumulative window per class, one integer rounding at the end
    "etl_t_closeness" ->
      """WITH c AS (SELECT c_nationkey AS nat, c_mktsegment AS seg,
        |    CAST(floor(c_acctbal / 1000) AS BIGINT) AS b FROM customer),
        |cells AS (SELECT nat, seg, b, CAST(count(*) AS BIGINT) AS cb
        |  FROM c GROUP BY nat, seg, b),
        |gdist AS (SELECT b, CAST(count(*) AS BIGINT) AS gb FROM c GROUP BY b),
        |tot AS (SELECT CAST(sum(gb) AS BIGINT) AS n,
        |    CAST(count(*) AS BIGINT) AS m FROM gdist),
        |classes AS (SELECT nat, seg, CAST(sum(cb) AS BIGINT) AS class_size
        |  FROM cells GROUP BY nat, seg),
        |grid AS (SELECT classes.nat, classes.seg, class_size, gdist.b, gb,
        |    coalesce(cb, 0) AS cb, n, m
        |  FROM classes CROSS JOIN gdist
        |  LEFT JOIN cells ON cells.nat = classes.nat
        |    AND cells.seg = classes.seg AND cells.b = gdist.b
        |  CROSS JOIN tot),
        |cum AS (SELECT nat, seg, class_size, m, n,
        |    sum(cb * n - gb * class_size)
        |      OVER (PARTITION BY nat, seg ORDER BY b) AS dcum
        |  FROM grid),
        |agg AS (SELECT nat, seg, max(class_size) AS class_size, max(m) AS m,
        |    max(n) AS n, CAST(sum(abs(dcum)) AS BIGINT) AS sad
        |  FROM cum GROUP BY nat, seg),
        |fin AS (SELECT nat, seg, class_size, m,
        |    (sad * 20000 + (m - 1) * class_size * n)
        |      // ((m - 1) * class_size * n * 2) AS t4
        |  FROM agg)
        |SELECT nat, seg, class_size, m, t4, t4 > 2000 AS breach
        |FROM fin ORDER BY nat, seg""".stripMargin,

    // same broadcast-shaped join graph read-only; LEFT joins keep
    // zero-activity subjects with NULL spans — absence is proven, not
    // dropped
    "etl_gdpr_access" ->
      s"""WITH subjects AS (SELECT c_custkey AS subject_key,
        |    c_mktsegment AS segment
        |  FROM customer WHERE c_custkey % 100 = 7),
        |o AS (SELECT subject_key, o_orderkey, o_orderdate, o_totalprice
        |  FROM orders JOIN subjects ON o_custkey = subject_key),
        |oa AS (SELECT subject_key, CAST(count(*) AS BIGINT) AS n_orders,
        |    CAST(min(year(o_orderdate)) AS BIGINT) AS first_year,
        |    CAST(max(year(o_orderdate)) AS BIGINT) AS last_year,
        |    round(${SqlText.qsum("o_totalprice", 20)}, 4) AS total_spent
        |  FROM o GROUP BY subject_key),
        |la AS (SELECT subject_key, CAST(count(*) AS BIGINT) AS n_lineitems
        |  FROM lineitem JOIN o ON l_orderkey = o_orderkey
        |  GROUP BY subject_key)
        |SELECT subjects.subject_key AS subject_key, segment,
        |  coalesce(n_orders, 0) AS n_orders,
        |  coalesce(n_lineitems, 0) AS n_lineitems,
        |  first_year, last_year, coalesce(total_spent, 0.0) AS total_spent
        |FROM subjects
        |LEFT JOIN oa ON subjects.subject_key = oa.subject_key
        |LEFT JOIN la ON subjects.subject_key = la.subject_key
        |ORDER BY subject_key""".stripMargin,

    // same gen rule applied to the raw table — a row lost or doubled at
    // the generation seam breaks the census
    "etl_partition_evolution" ->
      """SELECT CASE WHEN year(o_orderdate) < 1996 THEN 'gen1' ELSE 'gen2' END AS gen,
        |  CAST(year(o_orderdate) AS BIGINT) AS o_year,
        |  count(*) AS n_orders, round(sum(o_totalprice), 4) AS rev
        |FROM orders
        |WHERE year(o_orderdate) = 1995
        |   OR (year(o_orderdate) = 1996 AND month(o_orderdate) <= 3)
        |GROUP BY 1, 2 ORDER BY gen, o_year""".stripMargin,

    // the identical 33-point Laplace grid computed once in Scala and
    // interpolated as the same literal into both engines
    "etl_dp_noisy_counts" -> {
      val b = 2.0
      val tbl = (0 until 33).map { i =>
        val p = (i + 0.5) / 33.0
        math.round(-b * math.signum(p - 0.5) * math.log(1.0 - 2.0 * math.abs(p - 0.5)))
      }.mkString("[", ", ", "]")
      s"""WITH cnt AS (SELECT c_nationkey, count(*) AS n_true FROM customer GROUP BY 1)
         |SELECT c_nationkey, n_true, CAST(noise AS BIGINT) AS noise,
         |  greatest(n_true + noise, 0) AS n_noisy, 0.5 AS epsilon
         |FROM (SELECT c_nationkey, n_true,
         |    $tbl[CAST(((c_nationkey + 1) * 2654435761) % 1000000007 % 33 + 1 AS INTEGER)] AS noise
         |  FROM cnt)
         |ORDER BY c_nationkey""".stripMargin
    },

    // the census is fully determined by the scenario: v1 = nations < 10,
    // v2 = v1 + [10,20) append, v3 = v2 + >= 20 append; the aborted
    // compaction's orphan must hold exactly the v1 snapshot it rewrote;
    // 4 staged writers, 1 orphaned (the conflict-rejected rewrite)
    "etl_commit_conflict" ->
      """SELECT CAST(3 AS BIGINT) AS latest_version,
        |  (SELECT count(*) FROM customer WHERE c_nationkey < 10) AS v1_rows,
        |  (SELECT count(*) FROM customer WHERE c_nationkey < 20) AS v2_rows,
        |  (SELECT count(*) FROM customer) AS v3_rows,
        |  CAST(4 AS BIGINT) AS n_staged,
        |  CAST(1 AS BIGINT) AS n_orphaned,
        |  (SELECT count(*) FROM customer WHERE c_nationkey < 10) AS orphan_rows,
        |  TRUE AS aborted_invisible""".stripMargin,

    // the census is fully determined by the scenario: nation slices
    // [0,5) ∪ [5,10) ∪ [10,15) build v1–v3, the v4 compaction preserves
    // the v3 row set in one file, v5/v6 append [15,20) and ≥20; the
    // checkpoint at v4 serves v4–v6 with tails 0/1/2; the Spark side must
    // EARN resolve_equals_replay through the two independent readers
    "etl_commit_checkpoint" ->
      """WITH r(version, ckpt_version, n_tail_deltas, n_files, hi) AS (VALUES
        |  (1, 0, 1, 1, 5), (2, 0, 2, 2, 10), (3, 0, 3, 3, 15),
        |  (4, 4, 0, 1, 15), (5, 4, 1, 2, 20), (6, 4, 2, 3, 25))
        |SELECT CAST(version AS BIGINT) AS version,
        |  CAST(ckpt_version AS BIGINT) AS ckpt_version,
        |  CAST(n_tail_deltas AS BIGINT) AS n_tail_deltas,
        |  CAST(n_files AS BIGINT) AS n_files,
        |  (SELECT count(*) FROM customer WHERE c_nationkey < hi) AS n_rows,
        |  TRUE AS resolve_equals_replay
        |FROM r ORDER BY version""".stripMargin,

    // the oracle derives live/deleted/word counts straight from the delete
    // predicate and the position arithmetic; surfaced_deleted is its
    // literal-0 invariant (the Spark side must EARN it through the bitmap)
    "etl_deletion_vectors" ->
      """WITH pos AS (
        |  SELECT o_orderkey, o_orderstatus, o_orderkey % 4 AS file_id,
        |    row_number() OVER (PARTITION BY o_orderkey % 4 ORDER BY o_orderkey) - 1 AS pos
        |  FROM orders),
        |del AS (SELECT * FROM pos WHERE o_orderstatus = 'F' AND o_orderkey % 7 = 0),
        |g AS (SELECT
        |  (SELECT count(*) FROM del) AS deleted_rows,
        |  (SELECT count(DISTINCT (file_id, pos // 32)) FROM del) AS dv_words)
        |SELECT o_orderstatus, count(*) AS live_rows,
        |  g.deleted_rows, g.dv_words, CAST(0 AS BIGINT) AS surfaced_deleted
        |FROM pos, g
        |WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 7 = 0)
        |GROUP BY o_orderstatus, g.deleted_rows, g.dv_words
        |ORDER BY o_orderstatus""".stripMargin,

    "etl_gdpr_erase" ->
      """WITH dc AS (SELECT c_custkey FROM customer WHERE c_acctbal < 0),
        |do_ AS (SELECT o_orderkey FROM orders WHERE o_custkey IN (SELECT c_custkey FROM dc)),
        |dl AS (SELECT 1 FROM lineitem WHERE l_orderkey IN (SELECT o_orderkey FROM do_)),
        |rep AS (
        |  SELECT 'customer' AS table_name, (SELECT count(*) FROM customer) AS n_rows,
        |    (SELECT count(*) FROM dc) AS n_erase
        |  UNION ALL
        |  SELECT 'orders', (SELECT count(*) FROM orders), (SELECT count(*) FROM do_)
        |  UNION ALL
        |  SELECT 'lineitem', (SELECT count(*) FROM lineitem), (SELECT count(*) FROM dl))
        |SELECT table_name, n_rows, n_erase,
        |  round(CAST(n_erase AS DOUBLE) / n_rows, 6) AS erase_frac
        |FROM rep ORDER BY table_name""".stripMargin,

    // Sketch oracles verify the BOUND, not the sketch: the oracle computes
    // the exact side and asserts the bound literally TRUE — the Spark query
    // computes the same boolean from its own approximate + exact aggregates,
    // so a sketch drifting outside its published error bound hash-mismatches.
    "sketch_approx_distinct" ->
      """SELECT l_returnflag, count(*) AS n,
        |  count(DISTINCT l_partkey) AS exact_parts,
        |  TRUE AS within_bound
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,

    // the whole KMV pipeline re-derived: identical hash, min-k retention,
    // theta algebra, and estimator arithmetic (every parenthesization
    // matched) — the one sketch face whose ESTIMATES are hash-gated, not
    // bound-checked, because KMV is a deterministic function of the set
    "sketch_kmv_setops" -> {
      val P = 1000000007L
      s"""WITH pa AS (SELECT DISTINCT (o_custkey % $P) * 2654435761 % $P AS h
         |  FROM orders WHERE year(o_orderdate) = 1995),
         |pb AS (SELECT DISTINCT (o_custkey % $P) * 2654435761 % $P AS h
         |  FROM orders WHERE year(o_orderdate) = 1996),
         |ra AS (SELECT h FROM pa ORDER BY h LIMIT 256),
         |rb AS (SELECT h FROM pb ORDER BY h LIMIT 256),
         |sa AS (SELECT count(*) AS n,
         |    CASE WHEN count(*) < 256 THEN CAST(1.0 AS DOUBLE)
         |         ELSE max(h) / CAST($P AS DOUBLE) END AS t FROM ra),
         |sb AS (SELECT count(*) AS n,
         |    CASE WHEN count(*) < 256 THEN CAST(1.0 AS DOUBLE)
         |         ELSE max(h) / CAST($P AS DOUBLE) END AS t FROM rb),
         |t0 AS (SELECT least(sa.t, sb.t) AS t0 FROM sa, sb),
         |below AS (SELECT h FROM (SELECT h FROM ra UNION SELECT h FROM rb) c, t0
         |  WHERE h < t0.t0 * $P),
         |nb AS (SELECT count(*) AS n_below FROM below),
         |ru AS (SELECT h FROM below ORDER BY h LIMIT 256),
         |su AS (SELECT count(*) AS nu, max(h) AS hku FROM ru),
         |tu AS (SELECT su.nu,
         |    CASE WHEN nb.n_below > 256 THEN su.hku / CAST($P AS DOUBLE)
         |         ELSE t0.t0 END AS tu FROM su, nb, t0),
         |ib AS (SELECT count(*) AS n FROM
         |  (SELECT h FROM ra INTERSECT SELECT h FROM rb) x, t0
         |  WHERE x.h < t0.t0 * $P),
         |db AS (SELECT count(*) AS n FROM
         |  (SELECT h FROM ra EXCEPT SELECT h FROM rb) x, t0
         |  WHERE x.h < t0.t0 * $P),
         |fl AS (SELECT o_custkey,
         |    max(CASE WHEN year(o_orderdate) = 1995 THEN 1 ELSE 0 END) AS ina,
         |    max(CASE WHEN year(o_orderdate) = 1996 THEN 1 ELSE 0 END) AS inb
         |  FROM orders WHERE year(o_orderdate) IN (1995, 1996) GROUP BY 1),
         |ex AS (SELECT CAST(sum(ina) AS BIGINT) AS xa, CAST(sum(inb) AS BIGINT) AS xb,
         |    count(*) AS xu, CAST(sum(ina * inb) AS BIGINT) AS xi,
         |    CAST(sum(ina * (1 - inb)) AS BIGINT) AS xd FROM fl)
         |SELECT * FROM (
         |  SELECT 'a' AS op, CAST(sa.n AS BIGINT) AS n_retained,
         |    round(sa.t, 6) AS theta,
         |    round(CASE WHEN sa.n < 256 THEN CAST(sa.n AS DOUBLE)
         |          ELSE 255.0 / sa.t END, 4) AS estimate, ex.xa AS exact
         |  FROM sa, ex
         |  UNION ALL
         |  SELECT 'b', CAST(sb.n AS BIGINT), round(sb.t, 6),
         |    round(CASE WHEN sb.n < 256 THEN CAST(sb.n AS DOUBLE)
         |          ELSE 255.0 / sb.t END, 4), ex.xb FROM sb, ex
         |  UNION ALL
         |  SELECT 'union', CAST(tu.nu AS BIGINT), round(tu.tu, 6),
         |    round(CAST(tu.nu AS DOUBLE) / tu.tu, 4), ex.xu FROM tu, ex
         |  UNION ALL
         |  SELECT 'intersect', CAST(ib.n AS BIGINT), round(t0.t0, 6),
         |    round(CAST(ib.n AS DOUBLE) / t0.t0, 4), ex.xi FROM ib, t0, ex
         |  UNION ALL
         |  SELECT 'diff_a_only', CAST(db.n AS BIGINT), round(t0.t0, 6),
         |    round(CAST(db.n AS DOUBLE) / t0.t0, 4), ex.xd FROM db, t0, ex)
         |ORDER BY op""".stripMargin
    },

    // exact per-group and global distincts; both sketch bounds asserted
    // literally TRUE (the sketch-oracle pattern: a drifting estimate
    // hash-mismatches the boolean)
    "sketch_hll_union" ->
      """SELECT o_orderpriority, count(DISTINCT o_custkey) AS exact_custs,
        |  TRUE AS group_ok, TRUE AS union_ok
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,

    // every column re-derived closed-form from the synthesis formulas:
    // n_bytes = header + 4-byte-padded stride × rows
    "src_binaryfile" ->
      """SELECT doc_id AS img_id,
        |  CAST(54 + ((3 * (doc_id % 13 + 2) + 3) // 4) * 4 * (doc_id % 7 + 2) AS BIGINT)
        |    AS n_bytes,
        |  'bmp' AS fmt,
        |  CAST(doc_id % 13 + 2 AS BIGINT) AS width,
        |  CAST(doc_id % 7 + 2 AS BIGINT) AS height
        |FROM documents WHERE doc_id < 64 ORDER BY img_id""".stripMargin,

    "sketch_hll_intersect" ->
      """WITH u AS (SELECT count(DISTINCT o_custkey) AS exact_union FROM orders
        |  WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')),
        |a AS (SELECT count(DISTINCT o_custkey) AS exact_a FROM orders
        |  WHERE o_orderpriority = '1-URGENT'),
        |b AS (SELECT count(DISTINCT o_custkey) AS exact_b FROM orders
        |  WHERE o_orderpriority = '2-HIGH')
        |SELECT exact_a, exact_b, exact_union,
        |  CAST(exact_a + exact_b - exact_union AS BIGINT) AS exact_inter,
        |  TRUE AS inter_ok
        |FROM a CROSS JOIN b CROSS JOIN u""".stripMargin,

    "sketch_quantiles" ->
      """SELECT o_orderstatus, q, n, TRUE AS rank_ok
        |FROM (SELECT o_orderstatus, count(*) AS n FROM orders GROUP BY 1)
        |CROSS JOIN (SELECT CAST(unnest([0.5, 0.95, 0.99]) AS DOUBLE) AS q)
        |ORDER BY o_orderstatus, q""".stripMargin,

    "sketch_count_min" ->
      s"""SELECT tok, exact_cnt, TRUE AS within_bound FROM (
         |  SELECT tok, count(*) AS exact_cnt
         |  FROM (SELECT unnest(${SqlText.tokens("text")}) AS tok FROM documents)
         |  GROUP BY tok ORDER BY exact_cnt DESC, tok ASC LIMIT 10)
         |ORDER BY tok""".stripMargin,

    "sketch_heavy_hitters" ->
      s"""SELECT tok, exact_cnt, TRUE AS within_bound FROM (
         |  SELECT tok, count(*) AS exact_cnt
         |  FROM (SELECT unnest(${SqlText.tokens("text")}) AS tok FROM documents)
         |  GROUP BY tok ORDER BY exact_cnt DESC, tok ASC LIMIT 10)
         |ORDER BY tok""".stripMargin,

    "etl_schema_merge" ->
      s"""SELECT gen, count(*) AS n,
         |  CAST(sum(CASE WHEN gen = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_with_priority,
         |  count(DISTINCT o_orderstatus) AS n_status,
         |  round(${SqlText.qsum("o_totalprice", 20)}, 4) AS rev
        |FROM (SELECT CAST(CASE WHEN year(o_orderdate) < 1995 THEN 1 ELSE 2 END AS BIGINT) AS gen,
        |        o_orderstatus, o_totalprice
        |      FROM orders)
        |GROUP BY gen ORDER BY gen""".stripMargin,

    "opt_join_cardinality" ->
      """WITH keys AS (SELECT l_partkey, count(*) AS c FROM lineitem GROUP BY l_partkey),
        |ex AS (SELECT count(*) AS n_keys, CAST(sum(c * c) AS BIGINT) AS exact_pairs FROM keys),
        |est AS (SELECT CAST(sum(bc * bc) AS BIGINT) AS est_pairs FROM (
        |  SELECT (l_partkey * 2654435761) % 8192 AS bucket, CAST(sum(c) AS BIGINT) AS bc
        |  FROM keys GROUP BY bucket))
        |SELECT n_keys, exact_pairs, est_pairs,
        |  round(CAST(est_pairs - exact_pairs AS DOUBLE) / exact_pairs, 6) AS rel_err
        |FROM ex CROSS JOIN est""".stripMargin
  )
}
