package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.engine.{Commits => C, FixedPoint => FP}
import graft.engine.Tables.{load => t}
import graft.streaming.StreamHarness

/** Event-time operators over `events` — the batch-semantics twins of the
  * Structured Streaming pipelines in graft.streaming (SURVEY.md §2.9): tumbling
  * windows, gap-based sessionization, keyed dedup-keep-first. Batch and stream
  * share these semantics; the streaming module runs the same aggregations
  * with watermarks and is covered by ScalaTest (streaming results can't be
  * oracle-checked by DuckDB).
  */
object Temporal {
  type Q = (SparkSession, String) => DataFrame

  /** Gap-based session assignment shared by st_sessionize and
    * st_session_transcript: lag → new-session flag → running sum, one
    * shuffle on user_id. One definition so the "same session assignment"
    * contract between the two queries cannot drift. */
  private def withSessionIdx(df: DataFrame, gapMinutes: Long = 30): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    df.withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUser))
      .withColumn("is_new",
        coalesce(unix_micros(col("ts")) - col("prev_us") > gapMinutes * 60 * 1000000, lit(true)))
      .withColumn("session_idx",
        sum(when(col("is_new"), 1L).otherwise(0L))
          .over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }

  /** One-time exactly-once-sink scenario (built and published once per sf
    * through [[graft.engine.Layouts.publish]]): a REAL file-watch
    * streaming query delivers the events corpus in 3 deterministic
    * micro-batches to a foreachBatch sink that stages each batch and
    * claims manifest version batchId + 2 through
    * [[graft.engine.Commits.commitExactlyOnce]] — the Delta txnVersion
    * mechanic. The builder then simulates the restart replay:
    * re-attempting batch 1's version with its own staged path must LOSE
    * the put-if-absent claim, proving the sink de-duplicates at-least-once
    * delivery into exactly-once table state. */
  private def eosScenario(s: SparkSession, d: String): String =
    graft.engine.Layouts.publish(s, d, "eos/tbl") { work =>
      val ev = t(s, d, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      C.init(work, C.stage(ev.limit(0), work, "base"))
      StreamHarness.replayForeach(s, StreamHarness.idHashBatches(ev)) { (df, batchId) =>
        val staged = C.stage(df, work, s"b$batchId")
        require(C.commitExactlyOnce(work, batchId.toInt + 2, Seq(staged)),
          s"first delivery of batch $batchId must win version ${batchId + 2}")
      }
      // restart replay: batch 1 re-delivered → same version, claim must fail
      val b1staged = C.actions(work, 3).collect { case ('+', rel) => rel }
      require(!C.commitExactlyOnce(work, 3, b1staged),
        "a replayed micro-batch must lose the version claim")
      require(C.latestVersion(work) == 4, "3 batches over init must land at v4")
    }

  /** Streaming CDC upsert scenario (VERDICT r10 #3) — the lakehouse
    * pattern st_exactly_once_sink's APPEND proof left open: a change
    * stream (insert/update/delete rows derived from `events`: key =
    * user_id, op = 'D' every 10th event else 'U') delivered by a REAL
    * file-watch streaming query in 3 deterministic micro-batches to a
    * foreachBatch sink that applies each batch as an idempotent keyed
    * MERGE: within-batch key-level last-writer-wins (max (ts, event_id)
    * per user), later batches beating table state (CDC streams are
    * ordered), tombstones dropping the key. Each batch's post-merge state
    * is staged whole and claimed as manifest version batchId + 2 through
    * [[graft.engine.Commits.commitExactlyOnceReplace]] — the copy-on-write
    * MERGE twin of the Delta txnVersion mechanic. The builder then
    * simulates the restart replay: batch 1 is re-merged against v2 state
    * and re-attempted at version 3 — the claim must LOSE and the v3
    * manifest must be byte-identical, proving a replayed CDC batch leaves
    * table state unchanged. */
  private def cdcScenario(s: SparkSession, d: String): String =
    // tbl2: the r12 layout adds stored `_change_data/` per commit — a new
    // path so a pre-CDF materialization is abandoned, never half-upgraded
    graft.engine.Layouts.publish(s, d, "cdc/tbl2") { work =>
      val ch = t(s, d, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("value"),
          when(col("event_id") % 10 === 0, "D").otherwise("U").as("op"))
      val frames = StreamHarness.idHashBatches(ch)
      // v1 = the empty state (key, ts, event_id, value — no op column)
      C.init(work, C.stage(
        ch.select("user_id", "ts", "event_id", "value").limit(0), work, "base"))
      // the MERGE a micro-batch applies: ONE window for within-batch
      // LWW, one left_anti to retract touched keys, one union of the
      // surviving upserts — O(batch + state), no driver-side rows.
      // Returns (post-merge state, the commit's CDF rows): the committer
      // is the ONE place that holds both the predecessor state and the
      // batch winners, so emitting the Delta-tagged change rows here is
      // one extra left join on the key — the O(changes) write path that
      // spares every downstream CDC consumer the O(state) snapshot diff
      // (VERDICT r11 #1).
      def merged(changes: DataFrame, basis: Int): (DataFrame, DataFrame) = {
        val w = Window.partitionBy("user_id")
          .orderBy(col("ts").desc, col("event_id").desc)
        val winners = changes.withColumn("rn", row_number().over(w))
          .filter(col("rn") === 1)
        val prev = C.read(s, work, basis)
        val state = prev
          .join(winners.select("user_id"), Seq("user_id"), "left_anti")
          .unionByName(winners.filter(col("op") === "U")
            .select("user_id", "ts", "event_id", "value"))
        // classify each winner against the predecessor row (key-
        // partitioned left join): U+absent → insert; U+present with a
        // different winning event → update (pre+post images); D+present
        // → delete (preimage); D+absent and U+identical → no change row
        val j = winners.join(
          prev.select(col("user_id"), col("ts").as("p_ts"),
            col("event_id").as("p_event_id"), col("value").as("p_value")),
          Seq("user_id"), "left")
        def img(tc: Column, ec: Column, vc: Column, ct: String) =
          struct(tc.as("ts"), ec.as("event_id"), vc.as("value"),
            lit(ct).as("_change_type"))
        val post = img(col("ts"), col("event_id"), col("value"), _: String)
        val pre = img(col("p_ts"), col("p_event_id"), col("p_value"), _: String)
        val cdf = j.select(col("user_id"), explode(
            when(col("op") === "U" && col("p_event_id").isNull,
              array(post("insert")))
            .when(col("op") === "U" && col("p_event_id").isNotNull &&
                  col("p_event_id") =!= col("event_id"),
              array(pre("update_preimage"), post("update_postimage")))
            .when(col("op") === "D" && col("p_event_id").isNotNull,
              array(pre("delete")))
            // slice(x, 1, 0): an empty array of the branch type, so the
            // no-op cases (D on an absent key; U re-winning the same
            // event) emit zero rows through the explode
            .otherwise(slice(array(post("noop")), 1, 0))).as("c"))
          .select(col("user_id"), col("c.ts").as("ts"),
            col("c.event_id").as("event_id"), col("c.value").as("value"),
            col("c._change_type").as("_change_type"))
        (state, cdf)
      }
      StreamHarness.replayForeach(s, frames) { (df, batchId) =>
        val version = batchId.toInt + 2
        val (state, cdf) = merged(df, version - 1)
        val staged = C.stage(state, work, s"m$batchId")
        require(C.commitExactlyOnceReplace(work, version, Seq(staged)),
          s"first delivery of CDC batch $batchId must win version $version")
        // stored change files land AFTER the durable commit (they
        // describe a committed transition) and idempotently — a
        // replayer can re-derive and re-publish the identical rows,
        // which closes the crash window between claim and CDF write
        C.ChangeData.publish(
          cdf.withColumn("_commit_version", lit(version.toLong)),
          work, version)
      }
      // restart replay: batch 1 re-delivered (at-least-once) → re-merge
      // against v2 and re-attempt v3; the claim must lose and v3's
      // manifest must not move — table state provably unchanged
      val before = C.resolve(work, 3)
      val restaged = C.stage(merged(frames(1), 2)._1, work, "m1-replay")
      require(!C.commitExactlyOnceReplace(work, 3, Seq(restaged)),
        "a replayed CDC batch must lose the version claim")
      require(C.resolve(work, 3) == before,
        "a lost CDC claim must leave the manifest untouched")
      require(C.latestVersion(work) == 4, "3 CDC batches over init must land at v4")
    }

  /** CDF VACUUM scenario (VERDICT r12 #7): a file-level clone of the CDC
    * table (snapshots + manifests + change data — clones are how a
    * retention experiment must run: the source table is a published
    * shared artifact) with change files below v4 vacuumed through the
    * marker-first engine path. Deterministic artifact of the snapshot,
    * committed once per sf like every scenario. */
  private def cdfVacuumScenario(s: SparkSession, d: String): String = {
    val src0 = cdcScenario(s, d) // ensures snapshots + change data exist
    graft.engine.Layouts.publish(s, d, "cdc/vac") { work =>
      def copyTree(from: java.io.File, to: java.io.File): Unit = {
        if (from.isDirectory) {
          to.mkdirs()
          Option(from.listFiles()).foreach(_.foreach(f =>
            copyTree(f, new java.io.File(to, f.getName))))
        } else
          java.nio.file.Files.copy(from.toPath, to.toPath)
      }
      copyTree(new java.io.File(src0), new java.io.File(work))
      val removed = C.ChangeData.vacuum(work, keepFrom = 4)
      require(removed == Seq(2, 3),
        s"vacuum below v4 must remove exactly v2/v3 change files, got $removed")
      require(C.ChangeData.vacuum(work, keepFrom = 4).isEmpty,
        "a second vacuum at the same horizon must be a no-op")
      require(C.ChangeData.versions(work) == Seq(4),
        "v4's change file must survive the horizon")
    }
  }

  /** Streaming CDF CONSUMER scenario (VERDICT r11 #5): the downstream half
    * of the stored-change-file design. A REAL file-watch streaming query
    * receives the cdcScenario table's per-commit `_change_data/` rows one
    * version per micro-batch (re-staged, never moved — the source table is
    * a published artifact) and reconstructs the keyed state by applying
    * ONLY the change rows: retract the touched keys (delete/update), append
    * the insert/update_postimage rows — O(changes) per version, the
    * predecessor snapshot is joined on the key but never diffed. Each
    * reconstructed state claims its version on the consumer's OWN log
    * through the same exactly-once replace mechanic, so a replayed change
    * file leaves the reconstruction unchanged. The st_cdf_stream face then
    * proves the reconstruction ≡ the CDC table's ledger at every version
    * (the FacesInvariantSpec reconciliation, end-to-end through the
    * stream). */
  private def cdfStreamScenario(s: SparkSession, d: String): String = {
    val src0 = cdcScenario(s, d) // ensures the change data exists
    graft.engine.Layouts.publish(s, d, "cdc/recon") { work =>
      C.init(work, C.stage(
        C.read(s, src0, 1).limit(0), work, "base"))
      val changes = (2 to 4).map(v => C.ChangeData.read(s, src0, v))
      StreamHarness.replayForeach(s, changes) { (df, batchId) =>
        val version = batchId.toInt + 2
        val touched = df.filter(col("_change_type")
            .isin("delete", "update_preimage", "update_postimage"))
          .select("user_id").distinct()
        val next = C.read(s, work, version - 1)
          .join(touched, Seq("user_id"), "left_anti")
          .unionByName(df.filter(col("_change_type")
              .isin("insert", "update_postimage"))
            .select("user_id", "ts", "event_id", "value"))
        val staged = C.stage(next, work, s"c$batchId")
        require(C.commitExactlyOnceReplace(work, version, Seq(staged)),
          s"first delivery of change file v$version must win its claim")
      }
      require(C.latestVersion(work) == 4,
        "3 change files over init must land the reconstruction at v4")
    }
  }

  val queries: Map[String, Q] = Map(
    // tumbling 1-hour event-time window × event_type (streaming: identical
    // groupBy(window(...)) with withWatermark — see graft.streaming).
    "st_hourly_window" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(FP.qsum(col("value"), 20), 4).as("sum_value"))
        .select(col("w.start").as("ws"), col("w.end").as("we"), col("event_type"), col("n"), col("sum_value"))
        .orderBy("ws", "event_type")),

    // gap-based sessionization (30-min inactivity): lag → new-session flag →
    // running sum = session index → per-session aggregate. One shuffle on
    // user_id; the canonical scale pattern for clickstream sessionization.
    "st_sessionize" -> ((s, d) => {
      withSessionIdx(t(s, d, "events"))
        .groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n_events"),
             min("ts").as("session_start"),
             max("ts").as("session_end"),
             round(FP.qsum(col("value"), 20), 4).as("session_value"))
        .orderBy("user_id", "session_idx")
    }),

    // ---- session REPAIR COMPACTION (VERDICT r7 #5), the batch stage that
    // closes append-mode streaming's one documented sessionizer gap: a
    // session fragment flushed in an early micro-batch is immutable, so a
    // later batch's in-gap event under-merges. This face reproduces that
    // fragmentation deterministically IN BATCH — every event is assigned
    // an arrival micro-batch by id-hash (out-of-order arrival included),
    // sessions are computed WITHIN (user, batch) (exactly what an
    // append-mode sessionizer can guarantee), then the repair pass
    // gap-chains the fragment intervals per user. The chain key is a
    // RUNNING-MAX of fragment ends (lag(end) breaks on time-nested
    // fragments from interleaved arrival). Repair is EXACT: a fragment's
    // internal gaps are ≤ gap by construction and any two events ≤ gap
    // apart share a direct session, so the merged output equals
    // st_sessionize's sessions event-for-event — FacesInvariantSpec
    // asserts that equality, the oracle replays the same two stages, and
    // StreamingSpec proves the same operator on real streamed fragments.
    // session_value stays in the quantized-LONG domain (FP.q) across BOTH
    // stages and divides once at the end, so the two-level sum is
    // bit-deterministic at any partitioning. Scale: stage 1 is the
    // st_sessionize shuffle on (user, batch); stage 2 shuffles FRAGMENT
    // counts on user_id — compaction cost tracks sessions, not events.
    "st_session_repair" -> ((s, d) => {
      val P = 1000000007L
      val gapUs = 30L * 60L * 1000000L
      val byUB = Window.partitionBy("user_id", "batch")
        .orderBy(col("ts").asc, col("event_id").asc)
      val frag = t(s, d, "events")
        .withColumn("batch", pmod(col("event_id"), lit(P)) * 2654435761L % P % 3)
        .withColumn("prev_us", lag(unix_micros(col("ts")), 1).over(byUB))
        .withColumn("is_new",
          coalesce(unix_micros(col("ts")) - col("prev_us") > gapUs, lit(true)))
        .withColumn("fidx",
          sum(when(col("is_new"), 1L).otherwise(0L))
            .over(byUB.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "batch", "fidx")
        .agg(min("ts").as("session_start"), max("ts").as("session_end"),
             count(lit(1)).as("n_events"), sum(FP.q(col("value"), 20)).as("qv"))
      val w = Window.partitionBy("user_id")
        .orderBy(col("session_start").asc, col("session_end").asc,
          col("batch").asc, col("fidx").asc)
      frag
        .withColumn("prev_reach_us",
          max(unix_micros(col("session_end")))
            .over(w.rowsBetween(Window.unboundedPreceding, -1)))
        .withColumn("is_new", coalesce(
          unix_micros(col("session_start")) - col("prev_reach_us") > gapUs, lit(true)))
        .withColumn("island",
          sum(when(col("is_new"), 1L).otherwise(0L))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .groupBy("user_id", "island")
        .agg(min("session_start").as("session_start"),
             max("session_end").as("session_end"),
             sum("n_events").as("n_events"),
             round(sum(col("qv")).cast("double") / 1048576.0, 4).as("session_value"),
             count(lit(1)).as("n_fragments"))
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), col("session_value"), col("n_fragments"))
        .orderBy("user_id", "session_start")
    }),

    // ---- streaming↔batch repair ROUND-TRIP at the catalog level (VERDICT
    // r8 #5): st_session_repair proves repair on batch-SIMULATED fragments;
    // this face repairs the APPEND OUTPUT OF THE ACTUAL transformWithState
    // sessionizer — a real Structured Streaming run (RocksDB state store,
    // event-time timers, sentinel-driven final flush; StreamHarness) over
    // the same id-hash micro-batching, materialized once per sf like the
    // graph adjacency layouts — and emits the equality census against the
    // batch st_sessionize twin. The census compares the full
    // (user, start, end, n_events) session identity via exceptAll in both
    // directions: ONE session fragmented differently, merged wrongly,
    // dropped by the watermark, or truncated at stream end flips
    // stream_only/batch_only off zero and roundtrip_exact to false, and
    // n_events_roundtrip (the sum over repaired sessions) must equal the
    // raw event count — no event lost or double-counted through the
    // stream→fragment→repair pipeline. total_value is deliberately NOT in
    // the identity: the stream sums doubles in arrival-fold order, the
    // batch in event-time order — value agreement is pinned to exact
    // session identity by StreamingSpec, where the orderings are
    // controlled, not by a cross-engine hash on order-sensitive floats.
    "st_repair_roundtrip" -> ((s, d) => {
      import s.implicits._
      val fragPath = StreamHarness.twsFragments(s, d)
      val repaired = graft.streaming.Streams.repairSessions(
          s.read.parquet(fragPath).as[graft.streaming.Streams.SessionOut])
        .toDF()
        .select("user_id", "session_start", "session_end", "n_events")
      val batch = withSessionIdx(t(s, d, "events"))
        .groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n_events"),
             min("ts").as("session_start"), max("ts").as("session_end"))
        .select("user_id", "session_start", "session_end", "n_events")
      // census = ONE pass per side: group each side by the full session
      // identity, full-outer join the two count frames, and derive every
      // column (including both bag differences — exceptAll semantics:
      // Σ max(cs−cb, 0) per identity) from that one join. The previous
      // 4-branch crossJoin referenced `repaired` and `batch` three times
      // each with no cache, so the stream repair and the batch sessionizer
      // each re-executed 3× per run and the two exceptAll ops added two
      // more wide shuffles — the r9 late-round warm drift (0.6 → 2.8 s)
      // was this recompute tax, not a layout rebuild (StreamingSpec pins
      // that the fragment layout is read, not rebuilt, on a warm run).
      val idCols = Seq("user_id", "session_start", "session_end", "n_events")
      val sCnt = repaired.groupBy(idCols.map(col): _*).agg(count(lit(1)).as("cs"))
      val bCnt = batch.groupBy(idCols.map(col): _*).agg(count(lit(1)).as("cb"))
      sCnt.join(bCnt, idCols, "full_outer")
        .agg(
          sum(coalesce(col("cs"), lit(0L))).as("n_sessions_stream"),
          sum(coalesce(col("cb"), lit(0L))).as("n_sessions_batch"),
          sum(col("n_events") * coalesce(col("cs"), lit(0L))).as("n_events_roundtrip"),
          sum(greatest(coalesce(col("cs"), lit(0L)) - coalesce(col("cb"), lit(0L)),
            lit(0L))).as("stream_only"),
          sum(greatest(coalesce(col("cb"), lit(0L)) - coalesce(col("cs"), lit(0L)),
            lit(0L))).as("batch_only"))
        .select(col("n_sessions_stream"), col("n_sessions_batch"),
          col("n_events_roundtrip"), col("stream_only"), col("batch_only"),
          (col("stream_only") === 0 && col("batch_only") === 0 &&
            col("n_sessions_stream") === col("n_sessions_batch"))
            .as("roundtrip_exact"))
    }),

    // ---- exactly-once streaming sink (Delta txnVersion / Iceberg WAP
    // mechanic over engine.Commits): a real foreachBatch query committed
    // the 3-micro-batch events corpus with one put-if-absent manifest
    // version per batch, and the builder proved a replayed batch loses its
    // claim (see eosScenario) — at-least-once delivery, exactly-once table
    // state. The face re-attempts the batch-1 replay on EVERY run (a pure
    // metadata op: the claim fails before any content write, so repeated
    // runs leave zero garbage) and audits the per-version ledger:
    // file/row counts must reconcile with the deterministic batch split,
    // and the v4 row must EARN exactly_once by matching the full corpus
    // count — a duplicated or dropped batch breaks it. Scale shape:
    // metadata-sized log reads + one snapshot scan per version; at 100 TB
    // the sink's per-batch cost is one manifest claim regardless of data
    // volume, which is the entire point of the mechanic.
    "st_exactly_once_sink" -> ((s, d) => {
      val table = eosScenario(s, d)
      val b1staged = C.actions(table, 3).collect { case ('+', rel) => rel }
      val replayRejected = !C.commitExactlyOnce(table, 3, b1staged)
      (1 to 4).map { v =>
        C.read(s, table, v).agg(count(lit(1)).as("n_rows"))
          .select(lit(v.toLong).as("version"),
            lit(C.resolve(table, v).size.toLong).as("n_files"), col("n_rows"))
      }.reduce(_.union(_))
        .crossJoin(broadcast(t(s, d, "events").agg(count(lit(1)).as("__n_events"))))
        .select(col("version"), col("n_files"), col("n_rows"),
          lit(replayRejected).as("replay_rejected"),
          (col("version") =!= 4 || col("n_rows") === col("__n_events"))
            .as("exactly_once"))
        .orderBy("version")
    }),

    // ---- streaming CDC upsert audit (VERDICT r10 #3): reads the
    // cdcScenario table's per-version ledger — the keyed state a real CDC
    // MERGE sink owns after each micro-batch — and re-attempts batch 1's
    // version claim on EVERY run (an idempotent probe: the claim loses
    // against the durable manifest and touches nothing), so exactly-once
    // upsert semantics are re-proven per execution, not once at build
    // time. The oracle re-derives every version's keyed state from the
    // raw change log: winner per key = lexicographic max (batch, ts,
    // event_id) over batches ≤ v−2, kept iff its op is an upsert — the
    // within-batch LWW + batch-beats-state + tombstone semantics in one
    // window.
    "st_cdc_upsert" -> ((s, d) => {
      val table = cdcScenario(s, d)
      val replayRejected =
        !C.commitExactlyOnceReplace(table, 3, C.resolve(table, 3))
      (2 to 4).map { v =>
        C.read(s, table, v)
          .agg(count(lit(1)).as("n_keys"),
            round(FP.qsum(col("value"), 20), 4).as("sum_value"))
          .select(lit(v.toLong).as("version"), col("n_keys"), col("sum_value"))
      }.reduce(_.union(_))
        .withColumn("replay_rejected", lit(replayRejected))
        .orderBy("version")
    }),

    // ---- CDF VACUUM / retention (VERDICT r12 #7 — completes the stored-
    // change-file lifecycle): real CDF keeps change files only inside a
    // retention horizon; older versions fall back to the snapshot-diff
    // derivation (exactly what etl_change_data_feed provides). The
    // scenario clones the CDC table and vacuums change files below v4
    // (marker-first, so a missing file below the horizon reads as
    // "vacuumed", never "missing"); this face then routes every version
    // through the production read rule — stored file if it survives the
    // horizon, snapshot diff otherwise — and PROVES the two paths
    // reconcile where both exist (the stored v4 counts are checked
    // against their own derivation in-row) and that the vacuum removed
    // exactly the below-horizon files. Scale: the derived path is one
    // key-partitioned full-outer join per version pair (the CDF-reader
    // cost the horizon trades for bounded storage); the stored path
    // stays O(changes).
    "etl_cdf_vacuum" -> ((s, d) => {
      val table = cdfVacuumScenario(s, d)
      val horizon = C.ChangeData.vacuumHorizon(table)
      (2 to 4).map { v =>
        def derived = {
          val prev = C.read(s, table, v - 1)
            .select(col("user_id"), col("event_id").as("pid"))
          val cur = C.read(s, table, v)
            .select(col("user_id"), col("event_id").as("cid"))
          prev.join(cur, Seq("user_id"), "full_outer")
            .agg(
              sum(when(col("pid").isNull && col("cid").isNotNull, 1L)
                .otherwise(0L)).as("n_insert"),
              sum(when(col("pid").isNotNull && col("cid").isNotNull &&
                col("pid") =!= col("cid"), 1L).otherwise(0L)).as("n_update"),
              sum(when(col("cid").isNull, 1L).otherwise(0L)).as("n_delete"))
        }
        if (C.ChangeData.exists(table, v)) {
          val stored = C.ChangeData.read(s, table, v).agg(
            sum(when(col("_change_type") === "insert", 1L).otherwise(0L)).as("n_insert"),
            sum(when(col("_change_type") === "update_postimage", 1L).otherwise(0L)).as("n_update"),
            sum(when(col("_change_type") === "delete", 1L).otherwise(0L)).as("n_delete"))
          stored.crossJoin(derived.select(col("n_insert").as("__di"),
              col("n_update").as("__du"), col("n_delete").as("__dd")))
            .select(lit(v.toLong).as("version"), lit("stored").as("source"),
              col("n_insert"), col("n_update"), col("n_delete"),
              (col("n_insert") === col("__di") && col("n_update") === col("__du") &&
                col("n_delete") === col("__dd") && lit(v >= horizon)).as("reconciled"))
        } else {
          derived.select(lit(v.toLong).as("version"), lit("derived").as("source"),
            col("n_insert"), col("n_update"), col("n_delete"),
            // a missing change file is legitimate ONLY below the horizon
            lit(v < horizon).as("reconciled"))
        }
      }.reduce(_.union(_)).orderBy("version")
    }),

    // ---- lakehouse CHANGE DATA FEED over the CDC table (the Delta CDF /
    // Iceberg changelog read): downstream consumers don't want each
    // version's full state, they want WHAT CHANGED between consecutive
    // versions — inserts, updates, deletes, per key. Derived here the way
    // a CDF reader without stored change files must: version v's state
    // full-outer-joined with v−1's on the key (event_id identifies the
    // winning row, so "update" = both present with different ids).
    // Scale shape: one key-partitioned full-outer join per version pair —
    // both sides are keyed state snapshots, co-partitioned on user_id by
    // the read; counts collapse map-side. The oracle re-derives both
    // versions' winners from the raw change log and diffs them in SQL.
    "etl_change_data_feed" -> ((s, d) => {
      val table = cdcScenario(s, d)
      (3 to 4).map { v =>
        val prev = C.read(s, table, v - 1)
          .select(col("user_id"), col("event_id").as("pid"))
        val cur = C.read(s, table, v)
          .select(col("user_id"), col("event_id").as("cid"))
        prev.join(cur, Seq("user_id"), "full_outer")
          .agg(sum(when(col("pid").isNull, 1L).otherwise(0L)).as("n_insert"),
               sum(when(col("pid").isNotNull && col("cid").isNotNull &&
                 col("pid") =!= col("cid"), 1L).otherwise(0L)).as("n_update"),
               sum(when(col("cid").isNull, 1L).otherwise(0L)).as("n_delete"),
               sum(when(col("pid") === col("cid"), 1L).otherwise(0L)).as("n_unchanged"))
          .select(lit(v.toLong).as("version"), col("n_insert"), col("n_update"),
            col("n_delete"), col("n_unchanged"))
      }.reduce(_.union(_)).orderBy("version")
    }),

    // ---- STORED change data feed (VERDICT r11 #1) — the O(changes) read
    // path etl_change_data_feed's snapshot diff exists to approximate: the
    // CDC committer emitted per-commit `_change_data/` files (insert /
    // update_preimage / update_postimage / delete rows tagged with the
    // winning event), and this face consumes ONLY those files — no
    // snapshot is opened, so the read cost tracks the change volume, not
    // the table state (the entire point of Delta CDF / Iceberg changelogs
    // at 100 TB: a consumer of a billion-key table pays for the thousand
    // rows that moved). The oracle re-derives every change from the raw
    // change log (winner sets per version, diffed by key), so the stored
    // files are independently re-earned; pre_post_match pins the stored
    // pre/post image pairing, and CommitsSpec proves stored ≡ the
    // snapshot-diff derivation row-for-row.
    "etl_cdf_stored" -> ((s, d) => {
      val table = cdcScenario(s, d)
      C.ChangeData.versions(table)
        .map(v => C.ChangeData.read(s, table, v))
        .reduce(_.unionByName(_))
        .groupBy(col("_commit_version").as("version"))
        .agg(
          sum(when(col("_change_type") === "insert", 1L).otherwise(0L)).as("n_insert"),
          sum(when(col("_change_type") === "update_postimage", 1L).otherwise(0L)).as("n_update"),
          sum(when(col("_change_type") === "delete", 1L).otherwise(0L)).as("n_delete"),
          (sum(when(col("_change_type") === "update_preimage", 1L).otherwise(0L)) ===
            sum(when(col("_change_type") === "update_postimage", 1L).otherwise(0L)))
            .as("pre_post_match"),
          round(FP.qsum(when(col("_change_type").isin("insert", "update_postimage"),
            col("value")), 20), 4).as("sum_upsert_value"))
        .orderBy("version")
    }),

    // ---- streaming CDF consumer (VERDICT r11 #5): a real foreachBatch
    // query applied the stored change files version-by-version onto its
    // own exactly-once log (cdfStreamScenario), and this face audits the
    // reconstruction against the CDC table's ledger: at every version the
    // FULL-ROW state (key, winning event, value) must match — state_match
    // is a bag-equality census (exceptAll both ways), so one key upserted
    // twice, one tombstone missed, or one stale value flips it false. The
    // oracle re-derives the per-version keyed state from the raw change
    // log (the st_cdc_upsert window) — the reconstruction is earned
    // end-to-end: raw events → CDC merge → stored change files → streamed
    // re-application.
    "st_cdf_stream" -> ((s, d) => {
      val cdc = cdcScenario(s, d)
      val recon = cdfStreamScenario(s, d)
      (2 to 4).map { v =>
        val r = C.read(s, recon, v)
        val c = C.read(s, cdc, v)
        r.agg(count(lit(1)).as("n_keys"),
            round(FP.qsum(col("value"), 20), 4).as("sum_value"))
          .crossJoin(r.exceptAll(c).agg(count(lit(1)).as("__ronly")))
          .crossJoin(c.exceptAll(r).agg(count(lit(1)).as("__conly")))
          .select(lit(v.toLong).as("version"), col("n_keys"), col("sum_value"),
            (col("__ronly") === 0 && col("__conly") === 0).as("state_match"))
      }.reduce(_.union(_)).orderBy("version")
    }),

    // keyed dedup-keep-earliest (streaming twin: dropDuplicates within
    // watermark). Key = (user_id, event_type); keep the first-by-event-time.
    "st_dedup_first" -> ((s, d) => {
      val w = Window.partitionBy("user_id", "event_type").orderBy(col("ts").asc, col("event_id").asc)
      t(s, d, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select("user_id", "event_type", "event_id", "ts", "value")
        .orderBy("user_id", "event_type")
    }),

    // cohort retention: users grouped by first-activity week (cohort),
    // counted per weeks-elapsed offset — the product-analytics staple. The
    // cohort week comes from a partition-window min (ONE shuffle on
    // user_id, no self-join); the (cohort, offset) rollup with a distinct
    // count is the second, much smaller shuffle. Week granularity because
    // the test corpus spans one month; at production scale swap the
    // date_trunc unit.
    "cohort_retention" -> ((s, d) => {
      val w = Window.partitionBy("user_id")
      t(s, d, "events")
        .select(col("user_id"), date_trunc("WEEK", col("ts")).as("aw"))
        .withColumn("cohort", min("aw").over(w))
        .withColumn("offset_w", floor(datediff(col("aw"), col("cohort")) / 7).cast("bigint"))
        .groupBy("cohort", "offset_w")
        .agg(countDistinct("user_id").as("n_users"))
        .orderBy("cohort", "offset_w")
    }),

    // gap-based sessionization via the BUILT-IN session_window operator
    // (Spark's native dynamic-gap session windows — the same aggregation
    // runs under Structured Streaming with a watermark). Semantics: an
    // event extends the session if it lands strictly before last_ts + gap,
    // so a gap of exactly 30:00 starts a new session; the oracle mirrors
    // that with `diff >= INTERVAL 30 MINUTE`. Complements st_sessionize
    // (the manual lag/cumsum formulation) by exercising the engine's
    // whole-operator path: one shuffle on user_id, sessions merged in the
    // agg, session_end = last event + gap.
    "st_session_window" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"), round(FP.qsum(col("value"), 20), 4).as("session_value"))
        .select(col("user_id"), col("sw.start").as("session_start"),
          col("sw.end").as("session_end"), col("n_events"), col("session_value"))
        .orderBy("user_id", "session_start")),

    // session → ordered event-type transcript: the "turn user activity into
    // a training sequence" step. Session assignment is identical to
    // st_sessionize (lag → new-session flag → running sum); the transcript
    // is collect_list of (ts, event_id, event_type) structs sorted in-array
    // — array_sort on the struct gives a deterministic (ts, event_id)
    // order WITHOUT a sortWithinPartitions pass, so the whole query is one
    // shuffle on user_id and the per-session array stays bounded by
    // session length, never by partition size.
    "st_session_transcript" -> ((s, d) => {
      withSessionIdx(t(s, d, "events"))
        .groupBy("user_id", "session_idx")
        .agg(count(lit(1)).as("n_events"),
          array_join(transform(
            array_sort(collect_list(struct(col("ts"), col("event_id"), col("event_type")))),
            x => x.getField("event_type")), ">").as("transcript"))
        .orderBy("user_id", "session_idx")
    }),

    // strictly-ordered conversion funnel: view → click-after-view →
    // purchase-after-click, counted per stage. Each step is a per-user min
    // over the events that happen AFTER the previous step's time — three
    // shrinking user_id equi-joins (AQE broadcasts them as the funnel
    // narrows), never a per-user sequence scan on the driver.
    // view→purchase attribution join: every (view, purchase) pair for the
    // same user with the purchase inside [view_ts, view_ts + 1h), rolled up
    // per user. Streaming twin: Streams.viewToPurchase runs the SAME join
    // condition as a watermarked stream-stream join (StreamingSpec pins
    // agreement); this batch face is the oracle-checkable form. Scale: both
    // sides shuffle once on user_id; the time predicate bounds the per-user
    // pair blowup to the attribution window, exactly like the join state
    // bound on the streaming side.
    "st_view_purchase" -> ((s, d) => {
      val ev = t(s, d, "events")
      val v = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("view_ts"), col("event_id").as("view_id"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"),
                col("value").as("purchase_value"))
      v.join(p, col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("view_ts") &&
          unix_micros(col("purchase_ts")) < unix_micros(col("view_ts")) + 3600L * 1000000)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_pairs"),
             countDistinct(col("view_id")).as("n_views_converted"),
             round(FP.qsum(col("purchase_value"), 20), 4).as("attributed_value"),
             min(unix_micros(col("purchase_ts")) - unix_micros(col("view_ts"))).as("min_lag_us"))
        .orderBy("user_id")
    }),

    // ---- gaps-and-islands activity streaks: per user, the longest run
    // of CONSECUTIVE active hours — the engagement metric behind "streak"
    // features and churn models, and the canonical islands idiom (hour −
    // row_number is constant within a run). Hour grain, not day: this
    // feed is dense enough that day-streaks saturate at the window
    // length. One shuffle on user_id; islands are derived inside the
    // partition; integer `div` on epoch micros so the bucket boundary
    // cannot drift through a double quotient. Output is per-user (node-
    // count-sized, never event-sized).
    "ts_activity_streak" -> ((s, d) => {
      val hrs = t(s, d, "events")
        .select(col("user_id"), expr("unix_micros(ts) div 3600000000").as("hr"))
        .distinct()
      hrs
        .withColumn("rn", row_number().over(
          Window.partitionBy("user_id").orderBy("hr")))
        .withColumn("island", col("hr") - col("rn"))
        .groupBy("user_id", "island").agg(count(lit(1)).as("len"))
        .groupBy("user_id")
        .agg(max("len").as("longest_streak_hours"),
          sum("len").as("n_active_hours"),
          count(lit(1)).as("n_islands"))
        .orderBy("user_id")
    }),

    // ---- the LEFT-OUTER attribution twin (streaming face:
    // Streams.viewToPurchaseOuter): views that never converted inside the
    // 1-hour window — the abandonment metric ad pipelines emit when the
    // watermark closes a view's window with no matching purchase. Same
    // join bound as st_view_purchase (state/pair blowup capped by the
    // window); the null-preserved side is counted per view first so a
    // view matching k purchases still counts once.
    "st_view_abandonment" -> ((s, d) => {
      val ev = t(s, d, "events")
      val v = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("ts").as("view_ts"), col("event_id").as("view_id"))
      val p = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("p_user_id"), col("ts").as("purchase_ts"))
      v.join(p, col("user_id") === col("p_user_id") &&
          col("purchase_ts") >= col("view_ts") &&
          unix_micros(col("purchase_ts")) < unix_micros(col("view_ts")) + 3600L * 1000000L,
        "left")
        .groupBy(col("user_id"), col("view_id"))
        .agg(count(col("purchase_ts")).as("n_conv"))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_views"),
          sum(when(col("n_conv") === 0, 1L).otherwise(0L)).as("n_abandoned"))
        .withColumn("abandon_rate",
          round(col("n_abandoned").cast("double") / col("n_views"), 4))
        .orderBy("user_id")
    }),

    // ---- top event paths (path mining, the product-analytics staple
    // funnel_conversion can't give): the funnel checks ONE hypothesized
    // order; path mining discovers which journeys actually dominate. Each
    // user's first five events (by the (ts, event_id) total order — the
    // repo-wide deterministic event order) become a ">"-joined path
    // string; the census ranks the ten most common journeys with their
    // user share in basis points. Shape: ONE hash-agg per user collecting
    // a bounded 5-struct prefix (collect_list then sort_array — the
    // per-user payload is capped, so the agg state is tiny), one
    // |distinct paths| hash-agg, TakeOrderedAndProject for the top-10.
    // No window over the corpus, no explode.
    "st_top_paths" -> ((s, d) => {
      val users = t(s, d, "events")
        .groupBy("user_id")
        .agg(sort_array(collect_list(struct(col("ts"), col("event_id"),
          col("event_type")))).as("evs"))
        .select(concat_ws(">",
          slice(transform(col("evs"), e => e.getField("event_type")), 1, 5))
          .as("path"))
      val total = users.agg(count(lit(1)).as("n_users"))
      users.groupBy("path").agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(total))
        .withColumn("share4", expr("n * 10000 div n_users"))
        .select("path", "n", "n_users", "share4")
        .orderBy(col("n").desc, col("path").asc)
        .limit(10)
    }),

    "funnel_conversion" -> ((s, d) => {
      val ev = t(s, d, "events").select("user_id", "event_type", "ts")
      val t1 = ev.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t_view"))
      val t2 = ev.filter(col("event_type") === "click").as("e")
        .join(t1.as("p"), col("e.user_id") === col("p.user_id") && col("e.ts") > col("p.t_view"))
        .groupBy(col("e.user_id")).agg(min(col("e.ts")).as("t_click"))
      val t3 = ev.filter(col("event_type") === "purchase").as("e")
        .join(t2.as("p"), col("e.user_id") === col("p.user_id") && col("e.ts") > col("p.t_click"))
        .groupBy(col("e.user_id")).agg(min(col("e.ts")).as("t_purchase"))
      t1.agg(count(lit(1)).as("n_users")).withColumn("stage", lit("1_view"))
        .unionByName(t2.agg(count(lit(1)).as("n_users")).withColumn("stage", lit("2_click")))
        .unionByName(t3.agg(count(lit(1)).as("n_users")).withColumn("stage", lit("3_purchase")))
        .select("stage", "n_users")
        .orderBy("stage")
    }),

    // event-time day profile: date_trunc + per-day stats.
    "st_daily_profile" -> ((s, d) =>
      t(s, d, "events")
        .withColumn("day", date_trunc("DAY", col("ts")))
        .groupBy("day")
        .agg(count(lit(1)).as("n"),
             countDistinct("user_id").as("n_users"),
             round(FP.qmean(col("value"), 20), 4).as("avg_value"))
        .orderBy("day")),

    // ---- STL-style trend/seasonal/residual decomposition of the daily
    // value series (the classic decomposition behind capacity forecasts
    // and anomaly baselines; Cleveland's STL with the loess smoothers
    // replaced by the centered moving average + per-phase means — the
    // "classical decomposition" variant, chosen because every step then
    // stays EXACT integer arithmetic both engines replay): trend = 7-day
    // centered MA (full windows only), detrended = value − trend,
    // seasonal = day-of-week mean of detrended, residual = detrended −
    // seasonal. Exactness chain: the daily series is quantized BIGINT
    // (Σ floor(value·2²⁰ + ½)); the MA sum, 7·dq − t7, and
    // d7·s_den − s_num are all exact integers, so every output column is
    // ONE IEEE divide of exact integers — no float accumulates anywhere,
    // at any merge order. Scale shape: the corpus-sized work is the one
    // day hash-agg; the windows and the dow profile run on the
    // DAYS-sized frame (a global window over ~30 rows is metadata-scale,
    // unlike w3's data-sized global ranks). dow is pure epoch-day
    // arithmetic — engine week-start conventions never enter.
    "ts_stl_decompose" -> ((s, d) => {
      val P = 1L << 20
      val daily = t(s, d, "events")
        .groupBy(date_trunc("DAY", col("ts")).as("day"))
        .agg(sum(FP.q(col("value"), 20).cast("long")).as("dq"))
      val w = Window.orderBy("day").rowsBetween(-3, 3)
      val tr = daily
        .withColumn("t7", when(count(lit(1)).over(w) === 7, sum(col("dq")).over(w)))
        .withColumn("d7", col("dq") * 7 - col("t7"))
        .withColumn("dow", expr("unix_micros(day) div 86400000000 % 7"))
      val seas = tr.filter(col("d7").isNotNull).groupBy("dow")
        .agg(sum("d7").as("s_num"), count(lit(1)).as("s_den"))
      tr.join(broadcast(seas), Seq("dow"), "left")
        .select(col("day"),
          FP.qround(col("dq") / lit(P.toDouble), 4).as("value"),
          FP.qround(col("t7") / lit(7.0 * P), 4).as("trend"),
          FP.qround(col("s_num") / (col("s_den") * lit(7.0 * P)), 4).as("seasonal"),
          FP.qround((col("d7") * col("s_den") - col("s_num")) /
            (col("s_den") * lit(7.0 * P)), 4).as("resid"))
        .orderBy("day")
    }),

    // ---- seasonal (hour-of-day) decomposition: the per-(event_type, hour)
    // baseline profile plus a residual-outlier census against it — the
    // naive-seasonal model behind traffic dashboards and the anomaly
    // pre-filter ts_anomaly's global z-score can't express (a 3 a.m.
    // spike is invisible to a global mean). Both moments ride ONE profile
    // pass (E[x] and E[x²] as fixed-point qmeans; var = E[x²] − mean² is
    // a single IEEE expression over engine-identical doubles — never a
    // second scan); the outlier count is the only second pass, against
    // the broadcast profile. sd magnitude: value ≤ 490 ⇒ value² ≤ 2.5e5,
    // inside the bits=20 envelope at any graded sf.
    "ts_seasonal_profile" -> ((s, d) => {
      val ev = t(s, d, "events")
        .withColumn("hr", hour(col("ts")).cast("bigint"))
      val profile = ev.groupBy("event_type", "hr")
        .agg(count(lit(1)).as("n"),
          FP.qround(FP.qmean(col("value"), 20), 6).as("mean_value"),
          FP.qmean(col("value") * col("value"), 20).as("m2"))
        .withColumn("sd_raw",
          sqrt(greatest(col("m2") - col("mean_value") * col("mean_value"), lit(0.0))))
      ev.join(broadcast(profile), Seq("event_type", "hr"))
        .groupBy(col("event_type"), col("hr"), col("n"), col("mean_value"),
          col("sd_raw"))
        .agg(sum(when(abs(col("value") - col("mean_value")) > lit(2.0) * col("sd_raw"),
          1L).otherwise(0L)).as("n_outliers"))
        .select(col("event_type"), col("hr"), col("n"), col("mean_value"),
          round(col("sd_raw"), 6).as("sd_value"), col("n_outliers"))
        .orderBy("event_type", "hr")
    }),

    // sliding (hopping) event-time windows — 1-hour span every 15 minutes,
    // so each event lands in exactly 4 overlapping windows. Spark expands
    // the event BEFORE the aggregation (4 rows per event, then the usual
    // partial→final hash agg) — at 100 TB the fan-out factor is span/slide
    // and the state is per-window, which is why production configs keep the
    // ratio small. Streaming runs the identical groupBy under a watermark.
    "st_sliding_window" -> ((s, d) =>
      t(s, d, "events")
        .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(FP.qsum(col("value"), 20), 4).as("sum_value"))
        .select(col("w.start").as("ws"), col("w.end").as("we"), col("event_type"),
          col("n"), col("sum_value"))
        .orderBy("ws", "event_type")),

    // OHLC resample: downsample the per-user value stream to hourly
    // open/high/low/close bars with min_by/max_by — ONE partial→final hash
    // aggregation, no window, no self-join. This is the shape that survives
    // 100 TB: the per-group state is four doubles + two timestamps however
    // many events land in the bucket, and (user_id, ts) is unique in the
    // corpus so the by-key argmin/argmax is deterministic.
    "ts_resample_ohlc" -> ((s, d) =>
      t(s, d, "events")
        .withColumn("hour", date_trunc("HOUR", col("ts")))
        .groupBy("user_id", "hour")
        .agg(round(min_by(col("value"), col("ts")), 4).as("open"),
             round(max("value"), 4).as("high"),
             round(min("value"), 4).as("low"),
             round(max_by(col("value"), col("ts")), 4).as("close"),
             count(lit(1)).as("n"))
        .orderBy("user_id", "hour")),

    // gap-fill + forward-fill: densify each user's hourly series onto a
    // complete grid (sequence() per user from its own min to max hour —
    // generated IN the engine, no driver-side range), left-join the real
    // hourly aggregate, then carry the last observation forward with
    // last(ignoreNulls) over the user window. The grid explode keys on
    // user_id so it co-partitions with the join; per-user grid length is
    // bounded by the series span, never by table size. Demonstration face
    // keeps 8 users so the output stays eyeball-able.
    "ts_gapfill" -> ((s, d) => {
      val ev = t(s, d, "events").filter(col("user_id") < 8)
        .withColumn("hour", date_trunc("HOUR", col("ts")))
      val hourly = ev.groupBy("user_id", "hour")
        .agg(round(FP.qmean(col("value"), 20), 4).as("avg_value"))
      val grid = ev.groupBy("user_id")
        .agg(min("hour").as("h0"), max("hour").as("h1"))
        .select(col("user_id"),
          explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("hour"))
      val w = Window.partitionBy("user_id").orderBy("hour")
      grid.join(hourly, Seq("user_id", "hour"), "left")
        .withColumn("filled_value", last("avg_value", ignoreNulls = true).over(w))
        .withColumn("is_gap", col("avg_value").isNull)
        .orderBy("user_id", "hour")
    }),

    // ---- linear interpolation gap-fill: ts_gapfill's forward-fill holds
    // the LAST observation flat through a gap — right for state-like series
    // (a config value), wrong for flow-like ones (a sensor reading), where
    // the standard repair is the line between the bracketing observations.
    // Same per-user hourly grid; each GAP hour looks back to its previous
    // observation (last ignoreNulls) and forward to its next (first
    // ignoreNulls over the following frame), then interpolates at the
    // hour's fractional position. Determinism: the bracketing values are
    // fixed-point BIGINTs (qmean at 2^20) cast to double, and the position
    // ratio is a small-integer division — every double op is the same
    // IEEE-754 sequence in both engines, written with IDENTICAL
    // parenthesization, so the rounded result cannot sit on a rounding
    // lottery. One shuffle on user_id (grid explode co-partitions with the
    // join, the ts_gapfill discipline); per-user state is the window frame.
    // Output = interior gap hours only (both brackets exist) — the rows a
    // repair job would actually write back.
    "ts_interpolate_linear" -> ((s, d) => {
      val ev = t(s, d, "events").filter(col("user_id") < 8)
        .withColumn("hour", date_trunc("HOUR", col("ts")))
      // hourly observations kept as the EXACT (Σ quantized, count) integer
      // pair — the mean is divided out ONCE, after the windows, so no
      // double→long cast (Spark truncates, DuckDB rounds — a silent
      // cross-engine trap) ever happens
      val hourly = ev.groupBy("user_id", "hour")
        .agg(sum(FP.q(col("value"), 20)).cast("long").as("vs"),
             count(lit(1)).as("vn"))
      val grid = ev.groupBy("user_id")
        .agg(min("hour").as("h0"), max("hour").as("h1"))
        .select(col("user_id"),
          explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("hour"))
      val wPrev = Window.partitionBy("user_id").orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = Window.partitionBy("user_id").orderBy("hour")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      def obs(c: Column): Column = when(col("vs").isNotNull, c)
      val hEpoch = (unix_timestamp(col("hour")) / 3600L).cast("long")
      val pm = col("pvs").cast("double") / (col("pvn").cast("double") * lit(1048576.0))
      val nm = col("nvs").cast("double") / (col("nvn").cast("double") * lit(1048576.0))
      grid.join(hourly, Seq("user_id", "hour"), "left")
        .withColumn("h", hEpoch)
        .withColumn("pvs", last(obs(col("vs")), ignoreNulls = true).over(wPrev))
        .withColumn("pvn", last(obs(col("vn")), ignoreNulls = true).over(wPrev))
        .withColumn("ph", last(obs(col("h")), ignoreNulls = true).over(wPrev))
        .withColumn("nvs", first(obs(col("vs")), ignoreNulls = true).over(wNext))
        .withColumn("nvn", first(obs(col("vn")), ignoreNulls = true).over(wNext))
        .withColumn("nh", first(obs(col("h")), ignoreNulls = true).over(wNext))
        .filter(col("vs").isNull && col("pvs").isNotNull && col("nvs").isNotNull)
        // identical IEEE sequence both engines — the parenthesization IS the
        // contract: pm + (nm - pm) * ((h - ph) / (nh - ph)), every operand a
        // single correctly-rounded op on exact integer inputs
        .withColumn("interp", round(
          pm + (nm - pm) * ((col("h") - col("ph")).cast("double") /
            (col("nh") - col("ph")).cast("double")), 4))
        .select(col("user_id"), col("hour"),
          (col("nh") - col("ph") - 1L).as("gap_len"), col("interp"))
        .orderBy("user_id", "hour")
    }),

    // ---- rolling z-score anomaly detection (the ops-monitoring staple):
    // each event scored against the trailing-24 window's mean/std of its
    // own user's series, outliers |z| > 2.5 flagged. (The window must be
    // materially larger than the threshold allows: max |z| over an n-row
    // frame with population σ is √(n−1), so a 5-row frame can NEVER flag
    // at 2.5 — the initial draft did exactly that and "passed" on two
    // trivially empty result sets.) The rolling moments fold
    // through windowed fixed-point sums (FixedPoint.qsumOver) over a
    // FULLY-ORDERED frame (ts, event_id tie-break), so mean, std, and z are
    // bit-identical on both engines — window stddev built-ins would differ
    // in final ulps (engine-specific incremental algorithms) and turn every
    // row into a rounding-boundary lottery. One shuffle on user_id; state
    // is the 24-row frame.
    "ts_anomaly" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
        .rowsBetween(-23, Window.currentRow)
      val nW = count(lit(1)).over(w).cast("double")
      t(s, d, "events")
        .withColumn("m", FP.qsumOver(col("value"), w, 20) / nW)
        .withColumn("ex2", FP.qsumOver(col("value") * col("value"), w, 20) / nW)
        .withColumn("sd", sqrt(greatest(col("ex2") - col("m") * col("m"), lit(0.0))))
        .withColumn("z", when(col("sd") === 0.0, lit(0.0))
          .otherwise((col("value") - col("m")) / col("sd")))
        .filter(abs(col("z")) > 2.5)
        // |z| > 2.5 can never round to -0, but z is sign-capable → qround
        // keeps the catalog-wide signed-zero rule uniform
        .select(col("user_id"), col("event_id"), FP.qround(col("z"), 4).as("z"), col("value"))
        .orderBy("user_id", "event_id")
    }),

    // exponentially-weighted moving average — a true per-key RECURRENCE
    // (ew_t = α·v_t + (1−α)·ew_{t−1}), which no window frame expresses.
    // This is the disciplined mapGroups escape hatch: one shuffle on
    // user_id, the recurrence runs sequentially inside each group, state is
    // bounded by the per-user series (never partition size). The oracle
    // replays the identical FP operation sequence via list_reduce over the
    // ordered prefix, so the match is bit-exact, not coincidental. At
    // 100 TB this is the shape for per-entity decay features where closed
    // forms would need numerically explosive (1−α)^(−i) weights.
    "ts_ewma" -> ((s, d) => {
      import s.implicits._
      // literal 0.2/0.8 on BOTH sides — deriving 1−α at runtime could land
      // on a different double than the oracle's literal
      t(s, d, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_id"), col("value"))
        .as[(Long, Long, Long, Double)]
        .groupByKey(_._1)
        .flatMapGroups { (uid, it) =>
          val evs = it.toArray.sortBy(e => (e._2, e._3))
          var ew = 0.0
          var first = true
          evs.iterator.map { case (_, _, eid, v) =>
            ew = if (first) { first = false; v } else 0.2 * v + 0.8 * ew
            (uid, eid, ew)
          }
        }
        .toDF("user_id", "event_id", "ewma")
        .withColumn("ewma", round(col("ewma"), 4))
        .orderBy("user_id", "event_id")
    }),

    // ---- one-sided CUSUM changepoint detection per user: s_i = max(0,
    // s_{i−1} + (x_i − target − slack)) — the classic sequential drift
    // alarm (Page '54): a run of above-target values accumulates, noise
    // resets to the floor. Target is the corpus mean through the
    // fixed-point qmean rounded ONCE (a single broadcast double both
    // engines agree on bit-for-bit); slack 25 ≈ 0.5σ and threshold 200
    // are shared literals. The per-user fold is the ts_ewma shape —
    // sequential flatMapGroups over the (ts, event_id)-ordered array,
    // identical op order to the oracle's list_reduce — one shuffle on
    // user_id, per-user output rows.
    // ---- Holt double exponential smoothing (level + trend), the
    // forecasting step a capacity-planning pipeline runs over per-user
    // activity: l' = α·x + (1−α)(l+b), b' = β(l'−l) + (1−β)b with α=0.5,
    // β=0.3, seeded (l=x₁, b=0); output is the final state and the
    // one-step forecast l+b. Like ts_ewma this is a TRUE per-key
    // recurrence (each step needs the previous state), so the per-group
    // sequential fold is the honest plan — state is 2 doubles per user,
    // the shuffle is one hash exchange on user_id, and the DuckDB twin
    // replays the identical op order via a struct-accumulator list_reduce,
    // making every output bit-identical (trend is negative-capable →
    // qround signed-zero canonicalization).
    "ts_holt" -> ((s, d) => {
      import s.implicits._
      t(s, d, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_id"), col("value"))
        .as[(Long, Long, Long, Double)]
        .groupByKey(_._1)
        .mapGroups { (uid, it) =>
          val evs = it.toArray.sortBy(e => (e._2, e._3))
          var l = evs.head._4
          var b = 0.0
          var i = 1
          while (i < evs.length) {
            val x = evs(i)._4
            val l1 = 0.5 * x + 0.5 * (l + b)
            b = 0.3 * (l1 - l) + 0.7 * b
            l = l1
            i += 1
          }
          (uid, evs.length.toLong, l, b, l + b)
        }
        .toDF("user_id", "n_events", "level", "trend", "forecast_next")
        .withColumn("level", FP.qround(col("level"), 4))
        .withColumn("trend", FP.qround(col("trend"), 4))
        .withColumn("forecast_next", FP.qround(col("forecast_next"), 4))
        .orderBy("user_id")
    }),

    // ---- rolling-origin backtest of the Holt forecaster (ts_holt's MLOps
    // counterpart): a forecaster's in-sample fit says nothing — the
    // evaluation that matters replays history, forecasting each held-out
    // point from ONLY its prefix. Three origins per series (prefix lengths
    // n−3, n−2, n−1, each forecasting the next actual), per-user MAE and
    // signed bias. One sequential fold per key captures all three
    // forecasts in a single pass (the forecast at origin o is the running
    // (level+trend) immediately before consuming element o) — the same
    // mapGroups shape as ts_holt, NOT three re-folds; the oracle replays
    // the identical recurrence as three prefix list_reduce folds, and the
    // error aggregation is a fixed-order 3-term sum on both engines, so
    // every double is bit-deterministic at any partitioning. Scale: one
    // shuffle keyed by user_id, per-key state is (level, trend, 3 errors).
    "ts_backtest_holt" -> ((s, d) => {
      import s.implicits._
      t(s, d, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_id"), col("value"))
        .as[(Long, Long, Long, Double)]
        .groupByKey(_._1)
        .mapGroups { (uid, it) =>
          val evs = it.toArray.sortBy(e => (e._2, e._3))
          val n = evs.length
          if (n < 4) (uid, n.toLong, 0L, 0.0, 0.0)
          else {
            var l = evs.head._4; var b = 0.0
            var e1 = 0.0; var e2 = 0.0; var e3 = 0.0
            var i = 1
            while (i < n) {
              val x = evs(i)._4
              val fc = l + b
              if (i == n - 3) e1 = fc - x
              else if (i == n - 2) e2 = fc - x
              else if (i == n - 1) e3 = fc - x
              val l1 = 0.5 * x + 0.5 * (l + b)
              b = 0.3 * (l1 - l) + 0.7 * b
              l = l1
              i += 1
            }
            (uid, n.toLong, 3L,
              (math.abs(e1) + math.abs(e2) + math.abs(e3)) / 3.0,
              (e1 + e2 + e3) / 3.0)
          }
        }
        .toDF("user_id", "n_events", "n_origins", "mae", "bias")
        .filter(col("n_origins") === 3)
        .withColumn("mae", FP.qround(col("mae"), 4))
        .withColumn("bias", FP.qround(col("bias"), 4))
        .orderBy("user_id")
    }),

    "ts_cusum" -> ((s, d) => {
      import s.implicits._
      val target = t(s, d, "events")
        .agg(FP.qround(FP.qmean(col("value")), 4)).head.getDouble(0)
      t(s, d, "events")
        .select(col("user_id"), unix_micros(col("ts")).as("tus"),
          col("event_id"), col("value"))
        .as[(Long, Long, Long, Double)]
        .groupByKey(_._1)
        .mapGroups { (uid, it) =>
          val evs = it.toArray.sortBy(e => (e._2, e._3))
          var cus = 0.0; var mx = 0.0
          var alarms = 0L; var firstAlarm: java.lang.Long = null
          evs.foreach { case (_, _, eid, v) =>
            cus = math.max(0.0, cus + (v - target - 25.0))
            if (cus > mx) mx = cus
            if (cus > 200.0) {
              alarms += 1
              if (firstAlarm == null) firstAlarm = eid
            }
          }
          (uid, mx, alarms, Option(firstAlarm).map(_.toLong))
        }
        .toDF("user_id", "max_cusum", "n_alarms", "first_alarm_event")
        .withColumn("max_cusum", FP.qround(col("max_cusum"), 4))
        .orderBy("user_id")
    }),

    // sweep-line max concurrency: how many 5-minute event intervals overlap
    // at the peak, per event type. Each interval contributes a +1 at its
    // start and a -1 at its end; the running sum over (t, delta) is the
    // live-interval count, its max the answer. Ends sort before starts at
    // the same instant (delta asc) = half-open [ts, ts+5m) semantics. The
    // cumulative sum partitions by event_type — the catalog face of the
    // interval-overlap counting that a global single-partition window
    // could NOT do at scale.
    // OPTIMIZATION r14 (guide §2.5): the per-type cumulative sum keyed on
    // event_type (~5 values) was an unsplittable-key straggler — the
    // whole ±1 endpoint stream funneled through 5 tasks. The sweep-line
    // prefix sum is associative, so it now runs through
    // TwoLevel.groupRunningSum (range layout on (type, t, delta) +
    // broadcast per-(partition, type) carry offsets). Endpoint ties
    // (equal (t, delta)) permute only runs of EQUAL deltas, whose prefix
    // multiset is order-invariant — so max(running) is exact and
    // unchanged (the helper's documented tie contract).
    "ts_max_concurrency" -> ((s, d) => {
      val ev = t(s, d, "events")
      val pts = ev.select(col("event_type"), col("ts").as("t"), lit(1L).as("delta"))
        .unionByName(ev.select(col("event_type"),
          (col("ts") + expr("interval 5 minutes")).as("t"), lit(-1L).as("delta")))
      TwoLevel.groupRunningSum(pts, col("event_type"), col("delta"),
          col("t").asc, col("delta").asc)
        .groupBy("event_type")
        .agg(max(col("run_g")).as("max_concurrent"))
        .orderBy("event_type")
    }),

    // ---- watermark late-event accounting, the batch twin of Structured
    // Streaming's withWatermark drop rule: arrival order is event_id (the
    // synthetic ingest sequence), the high-water mark is the per-user max
    // event time over STRICTLY EARLIER arrivals, and an event is late when
    // it arrives more than 10 minutes behind that mark — a per-key batch
    // analogue of the `withWatermark("ts", "10 minutes")` drop rule (the
    // real watermark is a single GLOBAL threshold advanced per batch, so
    // the selected row sets differ in general). Per-KEY watermarks
    // (not the global stream minimum) keep the window partitioned on
    // user_id — one shuffle, no global ordering, scale-safe. Lateness
    // seconds are exact integer micros arithmetic (`div`), so the output
    // carries no float at all. The raw feed arrives perfectly time-ordered,
    // so disorder is PLANTED on both engine sides (the Dedup-corpus move):
    // every 7th event's time is pulled back 25 minutes, deterministically
    // from its id.
    "ts_late_events" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      t(s, d, "events")
        .withColumn("ts", when(col("event_id") % 7 === 3,
          col("ts") - expr("interval 25 minutes")).otherwise(col("ts")))
        .withColumn("hwm", max("ts").over(w))
        .withColumn("late_s",
          when(col("ts") < col("hwm") - expr("interval 10 minutes"),
            expr("(unix_micros(hwm) - unix_micros(ts)) div 1000000 - 600")))
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
             count(col("late_s")).as("n_late"),
             coalesce(max("late_s"), lit(0L)).as("max_late_s"))
        .filter(col("n_late") > 0)
        .orderBy("user_id")
    }),

    // ---- autocorrelation of the daily revenue series at lags 1/2/3/7/14 —
    // the seasonality probe a forecasting pipeline runs before choosing
    // model structure (ts_holt's trend smoothing, ts_seasonal_profile's
    // weekly profile). Two scale properties make the face: (1) the series
    // is CALENDAR-BOUNDED — the per-day aggregate reduces any input volume
    // to O(days) rows before the lag join, so the pair frame stays tiny at
    // 100 TB; (2) Pearson r comes from exact integer moment sums
    // (DECIMAL(38,0) over 2^8 fixed-point day values — n·Σxy-type terms
    // peak ~1e26 at sf0.1, overflow headroom to ~sf1e6), so every moment
    // is merge-order-exact and the final double division is bit-identical
    // on both engines: no floating aggregation anywhere, unlike a raw
    // corr() whose last-ulp sum order differs per engine (agg_corr_regr
    // survives that at 4 decimals; near-zero ACF values would not). The
    // lag join is calendar arithmetic (b.day = a.day + lag), not row
    // adjacency, so gap days cannot misalign pairs.
    "ts_autocorr" -> ((s, d) => {
      import s.implicits._
      val daily = t(s, d, "orders")
        .groupBy(date_trunc("day", col("o_orderdate")).cast("date").as("day"))
        .agg(sum(floor(col("o_totalprice") * 256.0 + 0.5).cast("bigint"))
          .cast("decimal(38,0)").as("v"))
        .cache()
      val lags = Seq(1, 2, 3, 7, 14).toDF("lag")
      daily.as("a").crossJoin(broadcast(lags))
        .join(daily.as("b"), col("b.day") === date_add(col("a.day"), col("lag")))
        .select(col("lag"), col("a.v").as("x"), col("b.v").as("y"))
        .groupBy("lag")
        .agg(count(lit(1)).cast("decimal(38,0)").as("n"),
             sum("x").as("sx"), sum("y").as("sy"),
             sum(col("x") * col("y")).as("sxy"),
             sum(col("x") * col("x")).as("sxx"),
             sum(col("y") * col("y")).as("syy"))
        .select(col("lag"), col("n").cast("bigint").as("n_pairs"),
          FP.qround((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
            sqrt((col("n") * col("sxx") - col("sx") * col("sx")).cast("double") *
                 (col("n") * col("syy") - col("sy") * col("sy")).cast("double")), 4)
            .as("acf"))
        .orderBy("lag")
    }),

    // ---- Holt–Winters additive (α=0.5, β=0.3, γ=0.2, season m=7): the
    // seasonal completion of ts_holt — level + trend + a 7-slot seasonal
    // ring learned online (l0 = y1, b0 = 0, seasons start at 0; the
    // recurrence itself is the semantics the oracle pins, not a textbook
    // warm-start). Input series are the per-event-type DAILY totals, each
    // daily y a FixedPoint.qsum so the values ENTERING the sequential fold
    // are bit-identical on both engines; the fold then runs the identical
    // IEEE op chain — Scala single pass here, a 9-element [l, b, queue×7]
    // list_reduce in DuckDB, where the Scala ring index i mod 7 and the
    // SQL shift-queue visit the same slot at every step. Scale shape: one
    // hash-agg to days (corpus-sized), then one shuffle keyed by series
    // id; per-series state is 9 doubles however long the history — the
    // same mapGroups sequential-recurrence boundary as ts_holt/ts_ewma.
    // Seasonal columns emit in NEXT-USE order (s_plus1 forecasts
    // tomorrow), so forecast_next = level + trend + s_plus1.
    "ts_holt_winters" -> ((s, d) => {
      import s.implicits._
      t(s, d, "events")
        .groupBy(col("event_type"), to_date(col("ts")).as("day"))
        .agg(FP.qsum(col("value"), 20).as("y"))
        .select(col("event_type"), date_format(col("day"), "yyyy-MM-dd").as("day"),
          col("y"))
        .as[(String, String, Double)]
        .groupByKey(_._1)
        .mapGroups { (et, it) =>
          val ys = it.toArray.sortBy(_._2).map(_._3)
          var l = ys.head
          var b = 0.0
          val sr = Array.fill(7)(0.0)
          var i = 0
          while (i + 1 < ys.length) {
            val x = ys(i + 1)
            val sOld = sr(i % 7)
            val l1 = 0.5 * (x - sOld) + 0.5 * (l + b)
            b = 0.3 * (l1 - l) + 0.7 * b
            sr(i % 7) = 0.2 * (x - l1) + 0.8 * sOld
            l = l1
            i += 1
          }
          val ring = Array.tabulate(7)(j => sr((i + j) % 7))
          (et, ys.length.toLong, l, b, l + b + ring(0),
            ring(0), ring(1), ring(2), ring(3), ring(4), ring(5), ring(6))
        }
        .toDF("event_type", "n_days", "level", "trend", "forecast_next",
          "s_plus1", "s_plus2", "s_plus3", "s_plus4", "s_plus5", "s_plus6", "s_plus7")
        .select(col("event_type") +: col("n_days") +:
          Seq("level", "trend", "forecast_next", "s_plus1", "s_plus2", "s_plus3",
            "s_plus4", "s_plus5", "s_plus6", "s_plus7")
            .map(c => FP.qround(col(c), 4).as(c)): _*)
        .orderBy("event_type")
    })
  )

  private val S = SqlText

  val oracles: Map[String, String] = Map(
    // ledger recomputed from the deterministic batch split; TRUE literals
    // are invariants the Spark side must EARN (the deletion-vector
    // literal-0 discipline): a lost claim, a duplicated batch, or a
    // dropped row breaks replay_rejected / exactly_once / n_rows
    "st_exactly_once_sink" ->
      """WITH b AS (SELECT (event_id % 1000000007) * 2654435761 % 1000000007 % 3 AS b
        |  FROM events),
        |g AS (SELECT count(CASE WHEN b = 0 THEN 1 END) AS c0,
        |             count(CASE WHEN b = 1 THEN 1 END) AS c1,
        |             count(*) AS ct FROM b),
        |v(version, n_files) AS (VALUES (1, 1), (2, 2), (3, 3), (4, 4))
        |SELECT CAST(version AS BIGINT) AS version,
        |  CAST(n_files AS BIGINT) AS n_files,
        |  CAST(CASE version WHEN 1 THEN 0 WHEN 2 THEN c0
        |       WHEN 3 THEN c0 + c1 ELSE ct END AS BIGINT) AS n_rows,
        |  TRUE AS replay_rejected,
        |  TRUE AS exactly_once
        |FROM v CROSS JOIN g ORDER BY version""".stripMargin,

    // every version's keyed state re-derived from the raw change log in
    // one window: op and batch assignment replay the scenario's exact
    // derivation, precedence is (batch, ts, event_id) lexicographic, and
    // only upsert winners survive — the MERGE semantics without the MERGE
    "st_cdc_upsert" ->
      s"""WITH ch AS (SELECT event_id, ts, user_id, value,
         |    CASE WHEN event_id % 10 = 0 THEN 'D' ELSE 'U' END AS op,
         |    (event_id % 1000000007) * 2654435761 % 1000000007 % 3 AS batch
         |  FROM events),
         |vs(version) AS (VALUES (2), (3), (4)),
         |st AS (SELECT v.version, ch.user_id, ch.value, ch.op,
         |    row_number() OVER (PARTITION BY v.version, ch.user_id
         |      ORDER BY ch.batch DESC, ch.ts DESC, ch.event_id DESC) AS rn
         |  FROM vs v JOIN ch ON ch.batch <= v.version - 2)
         |SELECT CAST(version AS BIGINT) AS version,
         |  CAST(count(*) AS BIGINT) AS n_keys,
         |  round(${S.qsum("value", 20)}, 4) AS sum_value,
         |  TRUE AS replay_rejected
         |FROM st WHERE rn = 1 AND op = 'U'
         |GROUP BY version ORDER BY version""".stripMargin,

    // winners per (version, key) from the raw change log, pivoted to
    // (prev, cur) per version pair, then classified — the CDF without
    // stored change files
    "etl_change_data_feed" ->
      s"""WITH ch AS (SELECT event_id, ts, user_id,
         |    CASE WHEN event_id % 10 = 0 THEN 'D' ELSE 'U' END AS op,
         |    (event_id % 1000000007) * 2654435761 % 1000000007 % 3 AS batch
         |  FROM events),
         |w AS (SELECT v.version, ch.user_id, ch.event_id, ch.op,
         |    row_number() OVER (PARTITION BY v.version, ch.user_id
         |      ORDER BY ch.batch DESC, ch.ts DESC, ch.event_id DESC) AS rn
         |  FROM (VALUES (2), (3), (4)) v(version)
         |  JOIN ch ON ch.batch <= v.version - 2),
         |st AS (SELECT version, user_id, event_id FROM w
         |  WHERE rn = 1 AND op = 'U'),
         |pairs AS (SELECT vv.version, st.user_id,
         |    max(CASE WHEN st.version = vv.version - 1 THEN st.event_id END) AS pid,
         |    max(CASE WHEN st.version = vv.version THEN st.event_id END) AS cid
         |  FROM (VALUES (3), (4)) vv(version)
         |  JOIN st ON st.version IN (vv.version, vv.version - 1)
         |  GROUP BY 1, 2)
         |SELECT CAST(version AS BIGINT) AS version,
         |  CAST(sum(CASE WHEN pid IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_insert,
         |  CAST(sum(CASE WHEN pid IS NOT NULL AND cid IS NOT NULL
         |       AND pid <> cid THEN 1 ELSE 0 END) AS BIGINT) AS n_update,
         |  CAST(sum(CASE WHEN cid IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_delete,
         |  CAST(sum(CASE WHEN pid = cid THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged
         |FROM pairs GROUP BY version ORDER BY version""".stripMargin,

    // the stored change files re-earned from the raw change log: winner
    // sets per version (the st_cdc_upsert window, value riding along),
    // diffed by key per consecutive pair — insert = key entering, update =
    // winning event changing, delete = key leaving; the upsert value sum
    // covers exactly the insert + update_postimage rows. v2 diffs against
    // the empty v1 state, so its whole winner set is inserts.
    "etl_cdf_stored" ->
      s"""WITH ch AS (SELECT event_id, ts, user_id, value,
         |    CASE WHEN event_id % 10 = 0 THEN 'D' ELSE 'U' END AS op,
         |    (event_id % 1000000007) * 2654435761 % 1000000007 % 3 AS batch
         |  FROM events),
         |w AS (SELECT v.version, ch.user_id, ch.event_id, ch.value, ch.op,
         |    row_number() OVER (PARTITION BY v.version, ch.user_id
         |      ORDER BY ch.batch DESC, ch.ts DESC, ch.event_id DESC) AS rn
         |  FROM (VALUES (2), (3), (4)) v(version)
         |  JOIN ch ON ch.batch <= v.version - 2),
         |st AS (SELECT version, user_id, event_id, value FROM w
         |  WHERE rn = 1 AND op = 'U'),
         |pairs AS (SELECT vv.version, st.user_id,
         |    max(CASE WHEN st.version = vv.version - 1 THEN st.event_id END) AS pid,
         |    max(CASE WHEN st.version = vv.version THEN st.event_id END) AS cid,
         |    max(CASE WHEN st.version = vv.version THEN st.value END) AS cval
         |  FROM (VALUES (2), (3), (4)) vv(version)
         |  JOIN st ON st.version IN (vv.version, vv.version - 1)
         |  GROUP BY 1, 2)
         |SELECT CAST(version AS BIGINT) AS version,
         |  CAST(sum(CASE WHEN pid IS NULL AND cid IS NOT NULL
         |       THEN 1 ELSE 0 END) AS BIGINT) AS n_insert,
         |  CAST(sum(CASE WHEN pid IS NOT NULL AND cid IS NOT NULL
         |       AND pid <> cid THEN 1 ELSE 0 END) AS BIGINT) AS n_update,
         |  CAST(sum(CASE WHEN cid IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_delete,
         |  TRUE AS pre_post_match,
         |  round(${S.qsum(
                "CASE WHEN cid IS NOT NULL AND (pid IS NULL OR pid <> cid) " +
                  "THEN cval END", 20)}, 4) AS sum_upsert_value
         |FROM pairs GROUP BY version ORDER BY version""".stripMargin,

    // the routed read re-earned from the raw change log (the same winner-
    // set diff as etl_cdf_stored): counts are identical whichever path the
    // engine routed — that is the POINT of retention — and the oracle pins
    // the routing itself (source = stored only at/above the v4 horizon)
    // plus reconciled = TRUE, which the engine must EARN in-row (the
    // stored-vs-derived count equality / the vacuumed-file absence)
    "etl_cdf_vacuum" ->
      s"""WITH ch AS (SELECT event_id, ts, user_id, value,
         |    CASE WHEN event_id % 10 = 0 THEN 'D' ELSE 'U' END AS op,
         |    (event_id % 1000000007) * 2654435761 % 1000000007 % 3 AS batch
         |  FROM events),
         |w AS (SELECT v.version, ch.user_id, ch.event_id, ch.op,
         |    row_number() OVER (PARTITION BY v.version, ch.user_id
         |      ORDER BY ch.batch DESC, ch.ts DESC, ch.event_id DESC) AS rn
         |  FROM (VALUES (2), (3), (4)) v(version)
         |  JOIN ch ON ch.batch <= v.version - 2),
         |st AS (SELECT version, user_id, event_id FROM w
         |  WHERE rn = 1 AND op = 'U'),
         |pairs AS (SELECT vv.version, st.user_id,
         |    max(CASE WHEN st.version = vv.version - 1 THEN st.event_id END) AS pid,
         |    max(CASE WHEN st.version = vv.version THEN st.event_id END) AS cid
         |  FROM (VALUES (2), (3), (4)) vv(version)
         |  JOIN st ON st.version IN (vv.version, vv.version - 1)
         |  GROUP BY 1, 2)
         |SELECT CAST(version AS BIGINT) AS version,
         |  CASE WHEN version >= 4 THEN 'stored' ELSE 'derived' END AS source,
         |  CAST(sum(CASE WHEN pid IS NULL AND cid IS NOT NULL
         |       THEN 1 ELSE 0 END) AS BIGINT) AS n_insert,
         |  CAST(sum(CASE WHEN pid IS NOT NULL AND cid IS NOT NULL
         |       AND pid <> cid THEN 1 ELSE 0 END) AS BIGINT) AS n_update,
         |  CAST(sum(CASE WHEN cid IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_delete,
         |  TRUE AS reconciled
         |FROM pairs GROUP BY version ORDER BY version""".stripMargin,

    // the streamed change-file reconstruction must land exactly on the
    // CDC ledger: per-version keyed state re-derived from the raw change
    // log (the st_cdc_upsert window); state_match is an invariant the
    // Spark side EARNS via the bag-equality census
    "st_cdf_stream" ->
      s"""WITH ch AS (SELECT event_id, ts, user_id, value,
         |    CASE WHEN event_id % 10 = 0 THEN 'D' ELSE 'U' END AS op,
         |    (event_id % 1000000007) * 2654435761 % 1000000007 % 3 AS batch
         |  FROM events),
         |vs(version) AS (VALUES (2), (3), (4)),
         |st AS (SELECT v.version, ch.user_id, ch.value, ch.op,
         |    row_number() OVER (PARTITION BY v.version, ch.user_id
         |      ORDER BY ch.batch DESC, ch.ts DESC, ch.event_id DESC) AS rn
         |  FROM vs v JOIN ch ON ch.batch <= v.version - 2)
         |SELECT CAST(version AS BIGINT) AS version,
         |  CAST(count(*) AS BIGINT) AS n_keys,
         |  round(${S.qsum("value", 20)}, 4) AS sum_value,
         |  TRUE AS state_match
         |FROM st WHERE rn = 1 AND op = 'U'
         |GROUP BY version ORDER BY version""".stripMargin,

    "st_hourly_window" ->
      s"""SELECT time_bucket(INTERVAL '1 hour', ts) AS ws,
        |  time_bucket(INTERVAL '1 hour', ts) + INTERVAL 1 HOUR AS we,
        |  event_type, count(*) AS n, round(${S.qsum("value", 20)}, 4) AS sum_value
        |FROM events GROUP BY 1, 2, 3 ORDER BY ws, event_type""".stripMargin,

    "st_sessionize" ->
      s"""SELECT user_id, session_idx, count(*) AS n_events,
        |  min(ts) AS session_start, max(ts) AS session_end,
        |  round(${S.qsum("value", 20)}, 4) AS session_value
        |FROM (
        |  SELECT user_id, ts, value,
        |    CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        |  FROM (
        |    SELECT user_id, event_id, ts, value,
        |      coalesce(epoch_us(ts) - lag(epoch_us(ts), 1) OVER (
        |        PARTITION BY user_id ORDER BY ts ASC, event_id ASC) > 30*60*1000000, true) AS is_new
        |    FROM events))
        |GROUP BY user_id, session_idx ORDER BY user_id, session_idx""".stripMargin,

    // the round-trip census is fully determined by repair exactness: the
    // repaired streamed fragments must reproduce the batch sessions
    // one-for-one, so both session counts equal the batch sessionizer's
    // count, the set differences are empty, and the event sum is the raw
    // event count — any stream-side loss/duplication/mis-merge breaks a
    // column and hash-mismatches
    "st_repair_roundtrip" ->
      """WITH sess AS (
        |  SELECT user_id, session_idx, count(*) AS n_events FROM (
        |    SELECT user_id,
        |      CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) OVER (
        |        PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        |    FROM (
        |      SELECT user_id, event_id, ts,
        |        coalesce(epoch_us(ts) - lag(epoch_us(ts), 1) OVER (
        |          PARTITION BY user_id ORDER BY ts ASC, event_id ASC) > 30*60*1000000, true) AS is_new
        |      FROM events))
        |  GROUP BY user_id, session_idx)
        |SELECT (SELECT count(*) FROM sess) AS n_sessions_stream,
        |  (SELECT count(*) FROM sess) AS n_sessions_batch,
        |  (SELECT CAST(sum(n_events) AS BIGINT) FROM sess) AS n_events_roundtrip,
        |  CAST(0 AS BIGINT) AS stream_only,
        |  CAST(0 AS BIGINT) AS batch_only,
        |  TRUE AS roundtrip_exact""".stripMargin,

    // same two stages replayed: within-(user,batch) sessionization, then
    // the running-max interval chain; session_value stays in quantized
    // LONGs across both stages (one divide at the end), so the two-level
    // sum is bit-identical to the Spark side at any merge order
    "st_session_repair" ->
      """WITH ev AS (SELECT user_id, event_id, ts, value,
        |    (event_id % 1000000007) * 2654435761 % 1000000007 % 3 AS batch FROM events),
        |fr AS (SELECT user_id, batch, fidx,
        |    min(ts) AS session_start, max(ts) AS session_end,
        |    count(*) AS n_events,
        |    sum(CAST(floor(value * 1048576.0 + 0.5) AS BIGINT)) AS qv
        |  FROM (
        |    SELECT user_id, batch, event_id, ts, value,
        |      CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) OVER (
        |        PARTITION BY user_id, batch ORDER BY ts ASC, event_id ASC
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS fidx
        |    FROM (
        |      SELECT user_id, batch, event_id, ts, value,
        |        coalesce(epoch_us(ts) - lag(epoch_us(ts), 1) OVER (
        |          PARTITION BY user_id, batch ORDER BY ts ASC, event_id ASC)
        |          > 30*60*1000000, true) AS is_new
        |      FROM ev))
        |  GROUP BY user_id, batch, fidx),
        |ch AS (SELECT *,
        |    coalesce(epoch_us(session_start) - max(epoch_us(session_end)) OVER (
        |      PARTITION BY user_id
        |      ORDER BY session_start ASC, session_end ASC, batch ASC, fidx ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) > 30*60*1000000,
        |      true) AS is_new
        |  FROM fr),
        |isl AS (SELECT user_id, session_start, session_end, n_events, qv,
        |    CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY user_id
        |      ORDER BY session_start ASC, session_end ASC, batch ASC, fidx ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS island
        |  FROM ch)
        |SELECT user_id, min(session_start) AS session_start,
        |  max(session_end) AS session_end,
        |  CAST(sum(n_events) AS BIGINT) AS n_events,
        |  round(CAST(sum(qv) AS DOUBLE) / 1048576.0, 4) AS session_value,
        |  count(*) AS n_fragments
        |FROM isl GROUP BY user_id, island
        |ORDER BY user_id, session_start""".stripMargin,

    "st_dedup_first" ->
      """SELECT user_id, event_type, event_id, ts, value FROM (
        |  SELECT user_id, event_type, event_id, ts, value,
        |    row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts ASC, event_id ASC) AS rn
        |  FROM events) WHERE rn = 1 ORDER BY user_id, event_type""".stripMargin,

    "st_session_transcript" ->
      """SELECT user_id, session_idx, count(*) AS n_events,
        |  string_agg(event_type, '>' ORDER BY ts, event_id) AS transcript
        |FROM (
        |  SELECT user_id, event_id, event_type, ts,
        |    CAST(sum(CASE WHEN is_new THEN 1 ELSE 0 END) OVER (
        |      PARTITION BY user_id ORDER BY ts ASC, event_id ASC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_idx
        |  FROM (
        |    SELECT user_id, event_id, event_type, ts,
        |      coalesce(epoch_us(ts) - lag(epoch_us(ts), 1) OVER (
        |        PARTITION BY user_id ORDER BY ts ASC, event_id ASC) > 30*60*1000000, true) AS is_new
        |    FROM events))
        |GROUP BY user_id, session_idx ORDER BY user_id, session_idx""".stripMargin,

    "ts_activity_streak" ->
      """WITH hrs AS (SELECT DISTINCT user_id, epoch_us(ts) // 3600000000 AS hr FROM events),
        |g AS (SELECT user_id, hr,
        |    hr - row_number() OVER (PARTITION BY user_id ORDER BY hr) AS island
        |  FROM hrs),
        |isl AS (SELECT user_id, island, count(*) AS len FROM g GROUP BY user_id, island)
        |SELECT user_id, max(len) AS longest_streak_hours,
        |  CAST(sum(len) AS BIGINT) AS n_active_hours, count(*) AS n_islands
        |FROM isl GROUP BY user_id ORDER BY user_id""".stripMargin,

    "st_view_abandonment" ->
      """WITH v AS (SELECT user_id, ts AS view_ts, event_id AS view_id
        |  FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id, ts AS purchase_ts FROM events WHERE event_type = 'purchase'),
        |per AS (SELECT v.user_id, view_id, count(purchase_ts) AS n_conv
        |  FROM v LEFT JOIN p ON v.user_id = p.user_id AND purchase_ts >= view_ts
        |    AND epoch_us(purchase_ts) < epoch_us(view_ts) + 3600000000
        |  GROUP BY v.user_id, view_id)
        |SELECT user_id, count(*) AS n_views,
        |  CAST(sum(CASE WHEN n_conv = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_abandoned,
        |  round(CAST(sum(CASE WHEN n_conv = 0 THEN 1 ELSE 0 END) AS DOUBLE) / count(*), 4)
        |    AS abandon_rate
        |FROM per GROUP BY user_id ORDER BY user_id""".stripMargin,

    "st_view_purchase" ->
      s"""WITH v AS (SELECT user_id, ts AS view_ts, event_id AS view_id
        |  FROM events WHERE event_type = 'view'),
        |p AS (SELECT user_id, ts AS purchase_ts, value AS purchase_value
        |  FROM events WHERE event_type = 'purchase')
        |SELECT v.user_id, count(*) AS n_pairs,
        |  count(DISTINCT view_id) AS n_views_converted,
        |  round(${S.qsum("purchase_value", 20)}, 4) AS attributed_value,
        |  min(epoch_us(purchase_ts) - epoch_us(view_ts)) AS min_lag_us
        |FROM v JOIN p ON v.user_id = p.user_id
        |  AND purchase_ts >= view_ts
        |  AND epoch_us(purchase_ts) < epoch_us(view_ts) + 3600000000
        |GROUP BY v.user_id ORDER BY v.user_id""".stripMargin,

    // identical (ts, event_id) total order and 5-event prefix; shares are
    // exact integer basis points
    "st_top_paths" ->
      """WITH p AS (SELECT user_id,
        |    array_to_string(list(event_type ORDER BY ts, event_id)[1:5], '>') AS path
        |  FROM events GROUP BY user_id),
        |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_users FROM p),
        |c AS (SELECT path, CAST(count(*) AS BIGINT) AS n FROM p GROUP BY path)
        |SELECT path, n, n_users, (n * 10000) // n_users AS share4
        |FROM c CROSS JOIN tot
        |ORDER BY n DESC, path ASC LIMIT 10""".stripMargin,

    "funnel_conversion" ->
      """WITH t1 AS (SELECT user_id, min(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY user_id),
        |t2 AS (SELECT e.user_id, min(e.ts) AS t_click FROM events e
        |  JOIN t1 ON e.user_id = t1.user_id AND e.ts > t1.t_view
        |  WHERE e.event_type = 'click' GROUP BY e.user_id),
        |t3 AS (SELECT e.user_id, min(e.ts) AS t_purchase FROM events e
        |  JOIN t2 ON e.user_id = t2.user_id AND e.ts > t2.t_click
        |  WHERE e.event_type = 'purchase' GROUP BY e.user_id)
        |SELECT '1_view' AS stage, count(*) AS n_users FROM t1
        |UNION ALL SELECT '2_click', count(*) FROM t2
        |UNION ALL SELECT '3_purchase', count(*) FROM t3
        |ORDER BY stage""".stripMargin,

    "st_daily_profile" ->
      s"""SELECT date_trunc('day', ts) AS day, count(*) AS n,
        |  count(DISTINCT user_id) AS n_users, round(${S.qmean("value", 20)}, 4) AS avg_value
        |FROM events GROUP BY 1 ORDER BY day""".stripMargin,

    // the same E[x]/E[x²] fixed-point chain; var and the 2σ cut are single
    // IEEE expressions over engine-identical doubles
    // the identical exact-integer chain: quantized daily BIGINTs, window
    // sum, 7·dq − t7, per-dow integer sums — each output is one divide
    "ts_stl_decompose" ->
      s"""WITH daily AS (SELECT date_trunc('day', ts) AS day,
         |    CAST(sum(CAST(floor(value * 1048576.0 + 0.5) AS BIGINT)) AS BIGINT) AS dq
         |  FROM events GROUP BY 1),
         |tr AS (SELECT day, dq,
         |    CASE WHEN count(*) OVER w = 7
         |         THEN CAST(sum(dq) OVER w AS BIGINT) END AS t7,
         |    (epoch_us(day) // 86400000000) % 7 AS dow
         |  FROM daily WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
         |tr2 AS (SELECT day, dq, t7, dow, dq * 7 - t7 AS d7 FROM tr),
         |seas AS (SELECT dow, CAST(sum(d7) AS BIGINT) AS s_num,
         |    CAST(count(*) AS BIGINT) AS s_den
         |  FROM tr2 WHERE d7 IS NOT NULL GROUP BY 1)
         |SELECT day, ${S.qround("dq / 1048576.0", 4)} AS value,
         |  ${S.qround("t7 / 7340032.0", 4)} AS trend,
         |  ${S.qround("s_num / (s_den * 7340032.0)", 4)} AS seasonal,
         |  ${S.qround("(d7 * s_den - s_num) / (s_den * 7340032.0)", 4)} AS resid
         |FROM tr2 LEFT JOIN seas USING (dow) ORDER BY day""".stripMargin,

    "ts_seasonal_profile" ->
      s"""WITH prof AS (
         |  SELECT event_type, CAST(hour(ts) AS BIGINT) AS hr, count(*) AS n,
         |    ${S.qround(S.qmean("value", 20), 6)} AS mean_value,
         |    ${S.qmean("value * value", 20)} AS m2
         |  FROM events GROUP BY 1, 2),
         |p2 AS (SELECT event_type, hr, n, mean_value,
         |    sqrt(greatest(m2 - mean_value * mean_value, 0.0)) AS sd_raw
         |  FROM prof)
         |SELECT e.event_type, CAST(hour(e.ts) AS BIGINT) AS hr, n, mean_value,
         |  round(sd_raw, 6) AS sd_value,
         |  CAST(sum(CASE WHEN abs(e.value - mean_value) > 2.0 * sd_raw THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
         |FROM events e JOIN p2 ON e.event_type = p2.event_type AND CAST(hour(e.ts) AS BIGINT) = p2.hr
         |GROUP BY 1, 2, n, mean_value, sd_raw
         |ORDER BY e.event_type, hr""".stripMargin,

    "st_session_window" ->
      s"""WITH x AS (SELECT user_id, ts, value, event_id,
        |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pts
        |  FROM events),
        |y AS (SELECT user_id, ts, value,
        |    sum(CASE WHEN pts IS NULL OR ts - pts >= INTERVAL 30 MINUTE THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM x)
        |SELECT user_id, min(ts) AS session_start,
        |  max(ts) + INTERVAL 30 MINUTE AS session_end,
        |  count(*) AS n_events, round(${S.qsum("value", 20)}, 4) AS session_value
        |FROM y GROUP BY user_id, sid
        |ORDER BY user_id, session_start""".stripMargin,

    "cohort_retention" ->
      """SELECT cohort, CAST(floor(date_diff('day', cohort, aw) / 7.0) AS BIGINT) AS offset_w,
        |  count(DISTINCT user_id) AS n_users
        |FROM (SELECT user_id, date_trunc('week', ts) AS aw,
        |        min(date_trunc('week', ts)) OVER (PARTITION BY user_id) AS cohort
        |      FROM events)
        |GROUP BY cohort, offset_w ORDER BY cohort, offset_w""".stripMargin,

    "ts_resample_ohlc" ->
      """SELECT user_id, date_trunc('hour', ts) AS hour,
        |  round(arg_min(value, ts), 4) AS open,
        |  round(max(value), 4) AS high,
        |  round(min(value), 4) AS low,
        |  round(arg_max(value, ts), 4) AS close,
        |  count(*) AS n
        |FROM events GROUP BY 1, 2 ORDER BY user_id, hour""".stripMargin,

    "ts_gapfill" ->
      s"""WITH ev AS (SELECT user_id, date_trunc('hour', ts) AS hour, value
        |    FROM events WHERE user_id < 8),
        |hourly AS (SELECT user_id, hour, round(${S.qmean("value", 20)}, 4) AS avg_value
        |    FROM ev GROUP BY 1, 2),
        |bounds AS (SELECT user_id, min(hour) AS h0, max(hour) AS h1
        |    FROM ev GROUP BY 1),
        |grid AS (SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
        |    FROM bounds)
        |SELECT g.user_id, g.hour, h.avg_value,
        |  last_value(h.avg_value IGNORE NULLS) OVER (
        |    PARTITION BY g.user_id ORDER BY g.hour
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_value,
        |  h.avg_value IS NULL AS is_gap
        |FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hour = h.hour
        |ORDER BY g.user_id, g.hour""".stripMargin,

    // same grid + bracketing windows; the mean is divided out once after
    // the windows (exact integer sums travel), and the interpolation is the
    // identical parenthesized IEEE sequence
    "ts_interpolate_linear" ->
      """WITH ev AS (SELECT user_id, date_trunc('hour', ts) AS hour, value
        |    FROM events WHERE user_id < 8),
        |hourly AS (SELECT user_id, hour,
        |    CAST(sum(CAST(floor(value * 1048576.0 + 0.5) AS BIGINT)) AS BIGINT) AS vs,
        |    count(*) AS vn
        |    FROM ev GROUP BY 1, 2),
        |bounds AS (SELECT user_id, min(hour) AS h0, max(hour) AS h1
        |    FROM ev GROUP BY 1),
        |grid AS (SELECT user_id, unnest(generate_series(h0, h1, INTERVAL 1 HOUR)) AS hour
        |    FROM bounds),
        |g AS (SELECT g.user_id, g.hour,
        |    CAST(epoch(g.hour) // 3600 AS BIGINT) AS h, h.vs, h.vn
        |  FROM grid g LEFT JOIN hourly h ON g.user_id = h.user_id AND g.hour = h.hour),
        |w AS (SELECT user_id, hour, h, vs,
        |    last_value(vs IGNORE NULLS) OVER wp AS pvs,
        |    last_value(vn IGNORE NULLS) OVER wp AS pvn,
        |    last_value(CASE WHEN vs IS NOT NULL THEN h END IGNORE NULLS) OVER wp AS ph,
        |    first_value(vs IGNORE NULLS) OVER wn AS nvs,
        |    first_value(vn IGNORE NULLS) OVER wn AS nvn,
        |    first_value(CASE WHEN vs IS NOT NULL THEN h END IGNORE NULLS) OVER wn AS nh
        |  FROM g
        |  WINDOW wp AS (PARTITION BY user_id ORDER BY hour
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
        |  wn AS (PARTITION BY user_id ORDER BY hour
        |    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |SELECT user_id, hour, nh - ph - 1 AS gap_len,
        |  round(CAST(pvs AS DOUBLE) / (CAST(pvn AS DOUBLE) * 1048576.0)
        |    + (CAST(nvs AS DOUBLE) / (CAST(nvn AS DOUBLE) * 1048576.0)
        |       - CAST(pvs AS DOUBLE) / (CAST(pvn AS DOUBLE) * 1048576.0))
        |      * (CAST(h - ph AS DOUBLE) / CAST(nh - ph AS DOUBLE)), 4) AS interp
        |FROM w WHERE vs IS NULL AND pvs IS NOT NULL AND nvs IS NOT NULL
        |ORDER BY user_id, hour""".stripMargin,

    // each event belongs to the 4 epoch-aligned 15-minute-stepped window
    // starts within the preceding hour
    "st_sliding_window" ->
      s"""SELECT ws, ws + INTERVAL 1 HOUR AS we, event_type,
        |  count(*) AS n, round(${S.qsum("value", 20)}, 4) AS sum_value
        |FROM (SELECT time_bucket(INTERVAL '15 minutes', ts)
        |        - k * INTERVAL '15 minutes' AS ws, event_type, value
        |      FROM events, (SELECT unnest(range(0, 4)) AS k))
        |GROUP BY ws, event_type ORDER BY ws, event_type""".stripMargin,

    // identical windowed quantize→BIGINT-sum→divide chain over the same
    // fully-ordered frame, so m/sd/z replay bit-exactly
    "ts_anomaly" ->
      s"""WITH st AS (SELECT user_id, event_id, value,
         |    CAST(sum(CAST(floor(value * 1048576.0 + 0.5) AS BIGINT)) OVER w AS DOUBLE) / 1048576.0
         |      / count(*) OVER w AS m,
         |    CAST(sum(CAST(floor(value * value * 1048576.0 + 0.5) AS BIGINT)) OVER w AS DOUBLE) / 1048576.0
         |      / count(*) OVER w AS ex2
         |  FROM events
         |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
         |               ROWS BETWEEN 23 PRECEDING AND CURRENT ROW)),
         |zz AS (SELECT user_id, event_id, value,
         |    CASE WHEN sqrt(greatest(ex2 - m*m, 0.0)) = 0 THEN 0.0
         |         ELSE (value - m) / sqrt(greatest(ex2 - m*m, 0.0)) END AS z
         |  FROM st)
         |SELECT user_id, event_id, (round(z, 4) + 0.0) AS z, value
         |FROM zz WHERE abs(z) > 2.5 ORDER BY user_id, event_id""".stripMargin,

    // identical FP op order as the Scala recurrence: the accumulator is a
    // DOUBLE[2] = [level, trend] and the b' expression recomputes l'
    // textually — the same IEEE chain yields the same double, so both
    // components replay bit-identically; a single-event user reduces over
    // the seed alone (list_reduce([x]) = x, no lambda call). The
    // accumulator is deliberately a LIST, not a STRUCT: DuckDB 1.0's
    // list_reduce aliases a struct accumulator into the result struct
    // field-by-field, so a 'b' field referencing acc.l reads the NEW
    // level (measured: trend 0.3787 vs the correct 0.6525 on [10,11,14]);
    // list construction evaluates all elements against the OLD accumulator
    "ts_holt" ->
      s"""WITH ord AS (SELECT user_id, event_id, value,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
         |  FROM events),
         |ag AS (SELECT user_id, list(value ORDER BY rn) AS vs, count(*) AS n
         |  FROM ord GROUP BY user_id),
         |st AS (SELECT user_id, n,
         |    list_reduce(
         |      list_prepend([CAST(vs[1] AS DOUBLE), CAST(0 AS DOUBLE)],
         |        list_transform(vs[2:len(vs)],
         |          x -> [CAST(x AS DOUBLE), CAST(0 AS DOUBLE)])),
         |      (acc, x) -> [
         |        0.5*x[1] + 0.5*(acc[1] + acc[2]),
         |        0.3*(0.5*x[1] + 0.5*(acc[1] + acc[2]) - acc[1]) + 0.7*acc[2]]) AS s
         |  FROM ag)
         |SELECT user_id, CAST(n AS BIGINT) AS n_events,
         |  ${S.qround("s[1]", 4)} AS level,
         |  ${S.qround("s[2]", 4)} AS trend,
         |  ${S.qround("s[1] + s[2]", 4)} AS forecast_next
         |FROM st ORDER BY user_id""".stripMargin,

    // three prefix replays of the identical Holt list_reduce; errors and
    // their 3-term sums are the same fixed-order IEEE chains as the Scala
    // single-pass fold
    "ts_backtest_holt" -> {
      def holtFold(o: String) =
        s"""list_reduce(
           |      list_prepend([CAST(vs[1] AS DOUBLE), CAST(0 AS DOUBLE)],
           |        list_transform(vs[2:$o],
           |          x -> [CAST(x AS DOUBLE), CAST(0 AS DOUBLE)])),
           |      (acc, x) -> [
           |        0.5*x[1] + 0.5*(acc[1] + acc[2]),
           |        0.3*(0.5*x[1] + 0.5*(acc[1] + acc[2]) - acc[1]) + 0.7*acc[2]])""".stripMargin
      s"""WITH ord AS (SELECT user_id, event_id, value,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
         |  FROM events),
         |ag AS (SELECT user_id, list(value ORDER BY rn) AS vs, count(*) AS n
         |  FROM ord GROUP BY user_id),
         |f AS (SELECT user_id, n, vs,
         |    ${holtFold("n-3")} AS f1,
         |    ${holtFold("n-2")} AS f2,
         |    ${holtFold("n-1")} AS f3
         |  FROM ag WHERE n >= 4),
         |e AS (SELECT user_id, n,
         |    f1[1] + f1[2] - CAST(vs[n-2] AS DOUBLE) AS e1,
         |    f2[1] + f2[2] - CAST(vs[n-1] AS DOUBLE) AS e2,
         |    f3[1] + f3[2] - CAST(vs[n] AS DOUBLE) AS e3
         |  FROM f)
         |SELECT user_id, CAST(n AS BIGINT) AS n_events,
         |  CAST(3 AS BIGINT) AS n_origins,
         |  ${S.qround("(abs(e1) + abs(e2) + abs(e3)) / 3.0", 4)} AS mae,
         |  ${S.qround("(e1 + e2 + e3) / 3.0", 4)} AS bias
         |FROM e ORDER BY user_id""".stripMargin
    },

    // identical FP op order as the Scala recurrence: the prepended-zero
    // list_reduce replays max(0, acc + (x − target − slack)) left-to-right
    "ts_cusum" ->
      s"""WITH tot AS (SELECT ${S.qround(S.qmean("value"), 4)} AS target FROM events),
         |ord AS (SELECT user_id, event_id, value,
         |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
         |  FROM events),
         |ag AS (SELECT user_id, list(value ORDER BY rn) AS vs,
         |    list(event_id ORDER BY rn) AS ids FROM ord GROUP BY user_id),
         |ser AS (SELECT user_id, ids, list_transform(range(1, len(vs) + 1),
         |    t -> list_reduce(list_prepend(CAST(0.0 AS DOUBLE), vs[1:t]),
         |      (acc, x) -> greatest(0.0, acc + (x - target - 25.0)))) AS ss
         |  FROM ag CROSS JOIN tot),
         |ex AS (SELECT user_id, unnest(ids) AS event_id, unnest(ss) AS s,
         |    unnest(range(1, len(ids) + 1)) AS p FROM ser)
         |SELECT user_id, ${S.qround("max(s)", 4)} AS max_cusum,
         |  CAST(sum(CASE WHEN s > 200.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_alarms,
         |  arg_min(event_id, p) FILTER (WHERE s > 200.0) AS first_alarm_event
         |FROM ex GROUP BY user_id ORDER BY user_id""".stripMargin,

    // identical FP op order as the Scala recurrence: list_reduce seeds with
    // the first element and folds 0.2·x + 0.8·acc left-to-right
    "ts_ewma" ->
      """WITH ord AS (SELECT user_id, event_id, value,
        |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
        |  FROM events),
        |ag AS (SELECT user_id, list(value ORDER BY rn) AS vs,
        |    list(event_id ORDER BY rn) AS ids FROM ord GROUP BY user_id),
        |ex AS (SELECT user_id, unnest(ids) AS event_id,
        |    unnest(list_transform(range(1, len(vs) + 1),
        |      t -> list_reduce(vs[1:t], (acc, x) -> 0.2*x + 0.8*acc))) AS ewma
        |  FROM ag)
        |SELECT user_id, event_id, round(ewma, 4) AS ewma
        |FROM ex ORDER BY user_id, event_id""".stripMargin,

    "ts_max_concurrency" ->
      """WITH pts AS (
        |  SELECT event_type, ts AS t, CAST(1 AS BIGINT) AS delta FROM events
        |  UNION ALL
        |  SELECT event_type, ts + INTERVAL 5 MINUTE, CAST(-1 AS BIGINT) FROM events)
        |SELECT event_type, CAST(max(running) AS BIGINT) AS max_concurrent FROM (
        |  SELECT event_type, sum(delta) OVER (
        |    PARTITION BY event_type ORDER BY t, delta
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS running
        |  FROM pts)
        |GROUP BY event_type ORDER BY event_type""".stripMargin,

    "ts_late_events" ->
      """WITH pe AS (SELECT event_id, user_id,
        |    CASE WHEN event_id % 7 = 3 THEN ts - INTERVAL 25 MINUTE ELSE ts END AS ts
        |  FROM events),
        |hw AS (SELECT user_id, ts,
        |    max(ts) OVER (PARTITION BY user_id ORDER BY event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS hwm
        |  FROM pe),
        |lt AS (SELECT user_id,
        |    CASE WHEN ts < hwm - INTERVAL 10 MINUTE
        |      THEN (epoch_us(hwm) - epoch_us(ts)) // 1000000 - 600 END AS late_s
        |  FROM hw)
        |SELECT user_id, count(*) AS n_events, count(late_s) AS n_late,
        |  CAST(coalesce(max(late_s), 0) AS BIGINT) AS max_late_s
        |FROM lt GROUP BY user_id HAVING count(late_s) > 0 ORDER BY user_id""".stripMargin,

    // Pearson r from exact DECIMAL(38,0) moment sums — both engines do the
    // identical integer arithmetic, then one identical double division
    "ts_autocorr" ->
      """WITH daily AS (
        |  SELECT CAST(date_trunc('day', o_orderdate) AS DATE) AS day,
        |    CAST(sum(CAST(floor(o_totalprice * 256.0 + 0.5) AS BIGINT)) AS DECIMAL(38,0)) AS v
        |  FROM orders GROUP BY 1),
        |lags AS (SELECT unnest([1,2,3,7,14]) AS lag),
        |m AS (
        |  SELECT l.lag, CAST(count(*) AS DECIMAL(38,0)) AS n,
        |    sum(a.v) AS sx, sum(b.v) AS sy, sum(a.v * b.v) AS sxy,
        |    sum(a.v * a.v) AS sxx, sum(b.v * b.v) AS syy
        |  FROM lags l JOIN daily a ON TRUE
        |  JOIN daily b ON b.day = a.day + l.lag * INTERVAL 1 DAY
        |  GROUP BY l.lag)
        |SELECT lag, CAST(n AS BIGINT) AS n_pairs,
        |  (round(CAST(n * sxy - sx * sy AS DOUBLE) /
        |    sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE)), 4)
        |   + 0.0) AS acf
        |FROM m ORDER BY lag""".stripMargin,

    // the Holt–Winters recurrence as a 9-element [l, b, queue×7]
    // list_reduce — the SQL shift-queue and the Scala ring index i mod 7
    // visit the same seasonal slot at every step; the level expression is
    // inlined three times (deterministic, so all three evaluate to the
    // same double — the ts_holt precedent)
    "ts_holt_winters" -> {
      val L = "0.5*(x[1] - acc[3]) + 0.5*(acc[1] + acc[2])"
      s"""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
         |    ${S.qsum("value", 20)} AS y
         |  FROM events GROUP BY 1, 2),
         |ag AS (SELECT event_type, list(y ORDER BY day) AS vs, count(*) AS n
         |  FROM daily GROUP BY event_type),
         |st AS (SELECT event_type, n,
         |    list_reduce(
         |      list_prepend(
         |        [CAST(vs[1] AS DOUBLE), 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0],
         |        list_transform(vs[2:len(vs)],
         |          x -> [CAST(x AS DOUBLE), 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0])),
         |      (acc, x) -> list_concat(
         |        [$L, 0.3*($L - acc[1]) + 0.7*acc[2]],
         |        list_concat(acc[4:9], [0.2*(x[1] - ($L)) + 0.8*acc[3]]))) AS s
         |  FROM ag)
         |SELECT event_type, CAST(n AS BIGINT) AS n_days,
         |  ${S.qround("s[1]", 4)} AS level,
         |  ${S.qround("s[2]", 4)} AS trend,
         |  ${S.qround("s[1] + s[2] + s[3]", 4)} AS forecast_next,
         |  ${(1 to 7).map(j => s"${S.qround(s"s[${j + 2}]", 4)} AS s_plus$j").mkString(",\n         |  ")}
         |FROM st ORDER BY event_type""".stripMargin
    }
  )
}
