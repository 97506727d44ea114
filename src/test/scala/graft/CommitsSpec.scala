package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{Commits, Telemetry}

/** Drives the optimistic-concurrency commit protocol's interleavings
  * directly (the etl_commit_conflict face audits the same properties from
  * a committed log): put-if-absent atomicity, append rebase, stale-rewrite
  * abort, loser invisibility, and the contended-append progress bound —
  * plus checkpoint-resolve ≡ replay over one mixed history, a job-free
  * `read` whose schema is inference's own, and a source scan that keeps
  * the delta-action log the only log. */
class CommitsSpec extends AnyFunSuite with SharedSparkSpec {

  private def freshTable(): String = tempDir("graft-commits").getPath + "/tbl"

  private def df(ids: Range) = {
    import spark.implicits._
    ids.map(_.toLong).toDF("id")
  }

  test("init + read round-trips the base snapshot") {
    val t = freshTable()
    val v = Commits.init(t, Commits.stage(df(0 until 10), t, "base"))
    assert(v == 1)
    assert(Commits.read(spark, t).count() == 10)
    assert(Commits.latestVersion(t) == 1)
  }

  test("racing appends: exactly one wins the version; loser rebases and both land") {
    val t = freshTable()
    Commits.init(t, Commits.stage(df(0 until 10), t, "base"))
    // both writers stage against basis 1
    val a = Commits.stage(df(100 until 110), t, "writerA")
    val b = Commits.stage(df(200 until 220), t, "writerB")
    val (va, aConf) = Commits.commitAppend(t, 1, Seq(a))
    assert(va == 2 && !aConf)
    // B still believes the basis is 1 → put-if-absent on v2 fails, rebase lands v3
    val (vb, bConf) = Commits.commitAppend(t, 1, Seq(b))
    assert(vb == 3 && bConf, "stale append must hit the conflict then rebase")
    assert(Commits.read(spark, t).count() == 40)
    // rebase preserved the winner's rows, not just the loser's
    assert(Commits.read(spark, t).filter(col("id") >= 100 && col("id") < 110).count() == 10)
  }

  test("stale rewrite aborts; its staged data never surfaces in any snapshot") {
    val t = freshTable()
    Commits.init(t, Commits.stage(df(0 until 10), t, "base"))
    // the compactor reads snapshot 1 and stages its replacement...
    val compacted = Commits.stage(
      spark.read.parquet(Commits.snapshotFiles(t, 1): _*).coalesce(1), t, "compactor")
    // ...but an append moves the table first
    val (v2, _) = Commits.commitAppend(t, 1, Seq(Commits.stage(df(100 until 105), t, "writerA")))
    assert(v2 == 2)
    val res = Commits.commitRewrite(t, 1, Seq(compacted))
    assert(res.isLeft, "a rewrite whose read snapshot moved must abort")
    // the aborted writer's path is referenced by NO manifest, at any version
    (1 to Commits.latestVersion(t)).foreach { v =>
      assert(!Commits.resolve(t, v).contains(compacted),
        s"aborted staged path leaked into manifest v$v")
    }
    assert(Commits.read(spark, t).count() == 15)
  }

  test("rewrite against a quiescent table succeeds and replaces the file set") {
    val t = freshTable()
    Commits.init(t, Commits.stage(df(0 until 10), t, "base"))
    val compacted = Commits.stage(
      spark.read.parquet(Commits.snapshotFiles(t, 1): _*).coalesce(1), t, "compactor")
    assert(Commits.commitRewrite(t, 1, Seq(compacted)) == Right(2))
    assert(Commits.resolve(t, 2) == Seq(compacted))
    assert(Commits.read(spark, t).count() == 10)
  }

  test("manifest paths are table-relative: a renamed table stays readable") {
    val t = freshTable()
    Commits.init(t, Commits.stage(df(0 until 7), t, "base"))
    val moved = t + "_moved"
    assert(new java.io.File(t).renameTo(new java.io.File(moved)))
    assert(Commits.read(spark, moved).count() == 7)
  }

  test("shallow clone: zero-copy snapshot, bidirectional isolation after divergence") {
    val root = tempDir("graft-clone").getPath
    val (src, dst) = (s"$root/src", s"$root/clone")
    Commits.init(src, Commits.stage(df(0 until 10), src, "base"))
    Commits.commitAppend(src, 1, Seq(Commits.stage(df(10 until 15), src, "w2")))
    assert(Commits.shallowClone(src, dst) == 1)
    // metadata-only: every clone entry points back into src, none copied
    val entries = Commits.resolve(dst, 1)
    assert(entries.nonEmpty && entries.forall(_.startsWith("../src/")))
    assert(Commits.read(spark, dst).count() == 15)
    // diverge both sides: clone append invisible to src, src append invisible to clone
    Commits.commitAppend(dst, 1, Seq(Commits.stage(df(100 until 103), dst, "cl")))
    Commits.commitAppend(src, 2, Seq(Commits.stage(df(200 until 220), src, "w3")))
    assert(Commits.read(spark, dst).count() == 18, "clone must not see src's later commit")
    assert(Commits.read(spark, src).count() == 35, "src must not see the clone's append")
    // a second clone of the same name must refuse
    intercept[IllegalArgumentException](Commits.shallowClone(src, dst))
    // clones must be siblings (the ../ relocatability contract)
    intercept[IllegalArgumentException](
      Commits.shallowClone(src, s"$root/deeper/clone2"))
  }

  test("a claimed-but-never-written manifest fails loudly, not as an empty snapshot (ADVICE r9)") {
    val t = freshTable()
    Commits.init(t, Commits.stage(df(0 until 10), t, "base"))
    // a committed manifest is never zero bytes (content lands via
    // temp-write + atomic rename over the claim) — so a zero-byte file IS
    // the crashed-between-claim-and-rename state, simulated directly here
    val crashed = new java.io.File(s"$t/_log/v00002.txt")
    assert(crashed.createNewFile(), "simulated crash claim must land")
    val e = intercept[IllegalArgumentException] {
      Commits.resolve(t, 2)
    }
    assert(e.getMessage.contains("zero-byte"),
      s"half-written manifest must be rejected loudly, got: ${e.getMessage}")
    // the crashed claim is NOT a durable commit: readers resolve past it
    // to the last real snapshot instead of crashing on (or worse, silently
    // serving) a manifest that was never written (ADVICE r10)
    assert(Commits.latestVersion(t) == 1,
      "a zero-byte claim must not count as the latest version")
    assert(Commits.read(spark, t).count() == 10)
    assert(spark.read.parquet(Commits.snapshotFiles(t, 1): _*).count() == 10)
  }

  test("exactly-once sink crash heal: a replay after a claim-then-crash publishes the batch (ADVICE r10)") {
    val t = freshTable()
    Commits.init(t, Commits.stage(df(0 until 0), t, "base"))
    val b0 = Commits.stage(df(0 until 10), t, "b0")
    assert(Commits.commitExactlyOnce(t, 2, Seq(b0)))
    // batch 1's first attempt claims v3 then crashes before the content
    // rename — exactly the zero-byte window tryCommit leaves
    val crashed = new java.io.File(s"$t/_log/v00003.txt")
    assert(crashed.createNewFile())
    assert(Commits.latestVersion(t) == 2, "the crashed claim is not durable")
    // the restarted sink replays batch 1 with a fresh staged copy. While
    // the claim is YOUNGER than the heal grace it could equally be a
    // writer mid-rename, so the replay must throw retryable — never heal
    // over a possibly-live transaction, never skip the batch (ADVICE r11)
    val b1replay = Commits.stage(df(10 until 15), t, "b1-replay")
    val young = intercept[IllegalStateException] {
      Commits.commitExactlyOnce(t, 3, Seq(b1replay))
    }
    assert(young.getMessage.contains("heal grace"),
      s"young claim must be refused retryably, got: ${young.getMessage}")
    assert(Commits.latestVersion(t) == 2, "the refused heal must touch nothing")
    // past the grace window the claim is provably dead — the heal fires
    assert(crashed.setLastModified(System.currentTimeMillis() - 2 * Commits.HealGraceMs))
    assert(Commits.commitExactlyOnce(t, 3, Seq(b1replay)),
      "the replay of a crashed (never-durable) commit must WIN, not skip")
    assert(Commits.latestVersion(t) == 3)
    assert(Commits.resolve(t, 3).contains(b1replay))
    assert(Commits.read(spark, t).count() == 15, "healed log serves the full state")
    // a SECOND replay of the same batch now loses: the heal was the commit
    val b1again = Commits.stage(df(10 until 15), t, "b1-again")
    assert(!Commits.commitExactlyOnce(t, 3, Seq(b1again)),
      "after the heal, further replays are ordinary durable-claim losses")
    assert(Commits.read(spark, t).count() == 15)
  }

  test("action log: checkpoint-resolved snapshot ≡ full replay at every version, across a conflict-rebase") {
    val t = freshTable()
    Commits.init(t, Commits.stage(df(0 until 10), t, "base"))
    Commits.commitAppend(t, 1, Seq(Commits.stage(df(10 until 30), t, "w2")))
    // compaction at v3: remove both live files, re-add as one
    val live = Commits.resolve(t, 2)
    assert(live.size == 2)
    val comp = Commits.stage(df(0 until 30), t, "compact")
    assert(Commits.commitRewrite(t, 2, Seq(comp), live).isRight)
    Commits.checkpoint(t, 3)
    // two writers race basis 3: A wins v4 clean, B rebases through to v5
    val a = Commits.stage(df(30 until 40), t, "wA")
    val b = Commits.stage(df(40 until 45), t, "wB")
    assert(Commits.commitAppend(t, 3, Seq(a)) == ((4, false)))
    assert(Commits.commitAppend(t, 3, Seq(b)) == ((5, true)))
    (1 to 5).foreach { v =>
      val (files, cv, tail) = Commits.resolveStats(t, v)
      assert(files == Commits.replay(t, v), s"v$v: checkpoint-resolve must equal full replay")
      if (v >= 3) assert(cv == 3 && tail == v - 3, s"v$v must read ckpt v3 + ${v - 3} deltas")
      else assert(cv == 0 && tail == v, s"v$v predates the checkpoint: full replay")
    }
    assert(spark.read.parquet(Commits.snapshotFiles(t, 5): _*).count() == 45)
  }

  test("action log: stale rewrite aborts; earlier snapshots stay time-travel readable") {
    val t = freshTable()
    Commits.init(t, Commits.stage(df(0 until 10), t, "base"))
    val staleComp = Commits.stage(df(0 until 10), t, "compactStale")
    val v1Files = Commits.resolve(t, 1)
    // a winner moves the table before the compaction commits
    Commits.commitAppend(t, 1, Seq(Commits.stage(df(10 until 20), t, "w2")))
    assert(Commits.commitRewrite(t, 1, Seq(staleComp), v1Files).isLeft,
      "a rewrite against a moved basis must abort")
    assert(Commits.replay(t, 2).forall(f => !f.contains("compactStale")),
      "aborted staged files must never surface in any snapshot")
    assert(spark.read.parquet(Commits.snapshotFiles(t, 1): _*).count() == 10)
    assert(spark.read.parquet(Commits.snapshotFiles(t, 2): _*).count() == 20)
  }

  test("action log: protocol violations fail loudly — re-add of a live path, remove of an unknown one") {
    val t = freshTable()
    val base = Commits.stage(df(0 until 10), t, "base")
    Commits.init(t, base)
    Commits.commitAppend(t, 1, Seq(base)) // re-adds the live path at v2
    intercept[IllegalArgumentException] { Commits.replay(t, 2) }
    val t2 = freshTable()
    Commits.init(t2, Commits.stage(df(0 until 10), t2, "base"))
    assert(Commits.commitRewrite(t2, 1, Seq.empty, Seq("data/never-existed")).isRight)
    intercept[IllegalArgumentException] { Commits.replay(t2, 2) }
  }

  test("contended appends from many stale writers all make progress") {
    val t = freshTable()
    Commits.init(t, Commits.stage(df(0 until 5), t, "base"))
    // five writers all staged against basis 1, committing one after another:
    // each later writer pays exactly the conflicts accumulated before it
    val staged = (0 until 5).map(i => Commits.stage(df(i * 10 until i * 10 + 1), t, s"w$i"))
    val results = staged.map(p => Commits.commitAppend(t, 1, Seq(p)))
    assert(results.map(_._1) == Seq(2, 3, 4, 5, 6))
    assert(results.head._2 == false && results.tail.forall(_._2 == true))
    assert(Commits.read(spark, t).count() == 10)
  }

  test("exactly-once sink: first delivery wins its version, replays lose, order enforced") {
    val t = freshTable()
    Commits.init(t, Commits.stage(df(0 until 0), t, "base"))
    val b0 = Commits.stage(df(0 until 10), t, "b0")
    val b1 = Commits.stage(df(10 until 15), t, "b1")
    assert(Commits.commitExactlyOnce(t, 2, Seq(b0)), "batch 0 first delivery wins v2")
    // out-of-order micro-batch: its predecessor version doesn't exist yet
    intercept[IllegalArgumentException] {
      Commits.commitExactlyOnce(t, 4, Seq(b1))
    }
    assert(Commits.commitExactlyOnce(t, 3, Seq(b1)), "batch 1 first delivery wins v3")
    // restart replays: both batches re-delivered — claims fail, no content
    // is written, and the table state is byte-identical
    val before = Commits.resolve(t, 3)
    assert(!Commits.commitExactlyOnce(t, 2, Seq(b0)), "replayed batch 0 must lose")
    assert(!Commits.commitExactlyOnce(t, 3, Seq(b1)), "replayed batch 1 must lose")
    assert(Commits.resolve(t, 3) == before, "a lost claim must not touch the log")
    assert(Commits.latestVersion(t) == 3)
    assert(Commits.read(spark, t).count() == 15, "exactly-once: no duplicates, no losses")
  }

  test("exactly-once REPLACE (CDC merge): versions carry whole states, replays leave state unchanged") {
    val t = freshTable()
    Commits.init(t, Commits.stage(df(0 until 0), t, "base"))
    // batch 0 merges to a 10-key state, batch 1 rewrites it to a 7-key one
    val s0 = Commits.stage(df(0 until 10), t, "m0")
    val s1 = Commits.stage(df(0 until 7), t, "m1")
    assert(Commits.commitExactlyOnceReplace(t, 2, Seq(s0)))
    assert(Commits.commitExactlyOnceReplace(t, 3, Seq(s1)))
    assert(Commits.read(spark, t).count() == 7, "replace: the manifest IS the new state")
    assert(spark.read.parquet(Commits.snapshotFiles(t, 2): _*).count() == 10,
      "older versions stay time-travel readable")
    // restart replay: batch 1 re-merged into a fresh staged copy — the
    // claim must lose and the published state must not move
    val before = Commits.resolve(t, 3)
    val s1replay = Commits.stage(df(0 until 7), t, "m1-replay")
    assert(!Commits.commitExactlyOnceReplace(t, 3, Seq(s1replay)),
      "a replayed CDC batch must lose its version claim")
    assert(Commits.resolve(t, 3) == before, "the lost claim touched the manifest")
    assert(Commits.read(spark, t).count() == 7)
    // crash heal applies to replace commits too: a DEAD (aged past the
    // grace window) zero-byte v4 claim is healed by the replay instead of
    // wedging the log
    val v4claim = new java.io.File(s"$t/_log/v00004.txt")
    assert(v4claim.createNewFile())
    assert(v4claim.setLastModified(System.currentTimeMillis() - 2 * Commits.HealGraceMs))
    val s2 = Commits.stage(df(0 until 3), t, "m2-replay")
    assert(Commits.commitExactlyOnceReplace(t, 4, Seq(s2)),
      "the replay of a crashed replace commit must win via the heal")
    assert(Commits.read(spark, t).count() == 3)
    // a replace whose predecessor is not durable must refuse loudly
    assert(new java.io.File(s"$t/_log/v00006.txt").createNewFile())
    intercept[IllegalArgumentException] {
      Commits.commitExactlyOnceReplace(t, 7, Seq(s2))
    }
  }

  test("a dead zero-byte claim wedges appends with a NAMED error, not a generic retry-exhaust (ADVICE r11)") {
    val t = freshTable()
    Commits.init(t, Commits.stage(df(0 until 10), t, "base"))
    // a crashed append's claim on v2: content never landed, and unlike the
    // exactly-once family the content is NOT re-derivable from the version
    val claim = new java.io.File(s"$t/_log/v00002.txt")
    assert(claim.createNewFile())
    assert(claim.setLastModified(System.currentTimeMillis() - 2 * Commits.HealGraceMs))
    val staged = Commits.stage(df(10 until 20), t, "w2")
    val e = intercept[IllegalStateException] {
      Commits.commitAppend(t, 1, Seq(staged))
    }
    assert(e.getMessage.contains(claim.getPath) && e.getMessage.contains("wedged"),
      s"wedge error must name the dead claim, got: ${e.getMessage}")
    // a YOUNG zero-byte claim (possibly a live writer mid-rename) is
    // absorbed by the retry loop; exhaustion still names the claim
    val t2 = freshTable()
    Commits.init(t2, Commits.stage(df(0 until 10), t2, "base"))
    val young = new java.io.File(s"$t2/_log/v00002.txt")
    assert(young.createNewFile())
    val e2 = intercept[IllegalStateException] {
      Commits.commitAppend(t2, 1, Seq(Commits.stage(df(10 until 20), t2, "w2")), maxAttempts = 3)
    }
    assert(e2.getMessage.contains("3 attempts") && e2.getMessage.contains(young.getPath),
      s"exhausted error must name the wedging claim, got: ${e2.getMessage}")
  }

  test("stored change data: publish is durable-gated + idempotent; stored rows ≡ the snapshot-diff derivation at every version") {
    import spark.implicits._
    val t = freshTable()
    val CD = Commits.ChangeData
    def state(ids: Seq[(Long, Long)]) = ids.toDF("id", "val")
    // keyed CDC table: v1 empty, then three replace commits moving the
    // state (id → val); the committer emits CDF rows for each transition
    val versions = Seq(
      2 -> Seq(1L -> 10L, 2L -> 20L, 3L -> 30L),           // 3 inserts
      3 -> Seq(1L -> 11L, 3L -> 30L, 4L -> 40L),           // upd 1, del 2, ins 4
      4 -> Seq(3L -> 31L, 4L -> 40L))                      // upd 3, del 1
    Commits.init(t, Commits.stage(state(Seq.empty), t, "base"))
    versions.foreach { case (v, rows) =>
      val staged = Commits.stage(state(rows), t, s"m$v")
      // change data must refuse to publish BEFORE the commit is durable
      val pre = state(Seq.empty)
        .withColumn("_change_type", lit("insert"))
        .withColumn("_commit_version", lit(v.toLong))
      intercept[IllegalArgumentException] { CD.publish(pre, t, v) }
      assert(Commits.commitExactlyOnceReplace(t, v, Seq(staged)))
      // the committer's CDF emission: classify against the predecessor
      val prev = spark.read.parquet(Commits.snapshotFiles(t, v - 1): _*)
        .select(col("id"), col("val").as("pval"))
      val cur = spark.read.parquet(Commits.snapshotFiles(t, v): _*)
      val j = cur.join(prev, Seq("id"), "full_outer")
      val changes = j.select(col("id"), col("val"), col("pval"), explode(
          when(col("pval").isNull,
            array(struct(col("val").as("v"), lit("insert").as("ct"))))
          .when(col("val").isNull,
            array(struct(col("pval").as("v"), lit("delete").as("ct"))))
          .when(col("val") =!= col("pval"),
            array(struct(col("pval").as("v"), lit("update_preimage").as("ct")),
                  struct(col("val").as("v"), lit("update_postimage").as("ct"))))
          .otherwise(array().cast("array<struct<v:bigint,ct:string>>"))).as("c"))
        .select(col("id"), col("c.v").as("val"), col("c.ct").as("_change_type"),
          lit(v.toLong).as("_commit_version"))
      assert(CD.publish(changes, t, v), s"first publish of v$v change data must land")
      assert(!CD.publish(changes, t, v), "re-publish must be an idempotent no-op")
    }
    assert(CD.versions(t) == Seq(2, 3, 4))
    // stored ≡ derived: for every version, the change file must equal the
    // full-outer snapshot diff row-for-row
    (2 to 4).foreach { v =>
      val stored = CD.read(spark, t, v)
        .select("id", "val", "_change_type").as[(Long, Long, String)].collect().toSet
      val prev = spark.read.parquet(Commits.snapshotFiles(t, v - 1): _*)
        .select(col("id"), col("val").as("pval"))
      val cur = spark.read.parquet(Commits.snapshotFiles(t, v): _*)
      val derived = cur.join(prev, Seq("id"), "full_outer").collect().flatMap { r =>
        val id = r.getLong(0)
        (Option(r.get(1)).map(_.asInstanceOf[Long]),
         Option(r.get(2)).map(_.asInstanceOf[Long])) match {
          case (Some(c), None)            => Seq((id, c, "insert"))
          case (None, Some(p))            => Seq((id, p, "delete"))
          case (Some(c), Some(p)) if c != p =>
            Seq((id, p, "update_preimage"), (id, c, "update_postimage"))
          case _                          => Seq.empty
        }
      }.toSet
      assert(stored == derived, s"v$v: stored change rows must equal the snapshot diff")
    }
    // the O(changes) reconstruction: folding ONLY change files from the
    // empty v1 state reproduces every snapshot
    var rec = Map.empty[Long, Long]
    (2 to 4).foreach { v =>
      val ch = CD.read(spark, t, v).select("id", "val", "_change_type")
        .as[(Long, Long, String)].collect()
      val touched = ch.filter(c => c._3 == "delete" || c._3 == "update_postimage"
        || c._3 == "update_preimage").map(_._1).toSet
      rec = (rec -- touched) ++
        ch.filter(c => c._3 == "insert" || c._3 == "update_postimage")
          .map(c => c._1 -> c._2)
      val snap = spark.read.parquet(Commits.snapshotFiles(t, v): _*)
        .as[(Long, Long)].collect().toMap
      assert(rec == snap, s"v$v: change-file fold must reproduce the snapshot")
    }
  }

  test("change-data vacuum: marker-first horizon, monotone + idempotent; vacuumed versions stay derivable from snapshots (VERDICT r12 #7)") {
    import spark.implicits._
    val t = freshTable()
    val CD = Commits.ChangeData
    def state(ids: Seq[(Long, Long)]) = ids.toDF("id", "val")
    val versions = Seq(
      2 -> Seq(1L -> 10L, 2L -> 20L),
      3 -> Seq(1L -> 11L, 3L -> 30L),
      4 -> Seq(3L -> 30L))
    Commits.init(t, Commits.stage(state(Seq.empty), t, "base"))
    versions.foreach { case (v, rows) =>
      val staged = Commits.stage(state(rows), t, s"m$v")
      assert(Commits.commitExactlyOnceReplace(t, v, Seq(staged)))
      // minimal change rows (content irrelevant to the vacuum mechanics)
      assert(CD.publish(state(rows)
        .withColumn("_change_type", lit("insert"))
        .withColumn("_commit_version", lit(v.toLong)), t, v))
    }
    assert(CD.vacuumHorizon(t) == 0, "an unvacuumed table has horizon 0")
    // vacuum below v4: exactly v2/v3 removed, marker lands at 4
    assert(CD.vacuum(t, keepFrom = 4) == Seq(2, 3))
    assert(CD.vacuumHorizon(t) == 4)
    assert(CD.versions(t) == Seq(4), "v4 must survive the horizon")
    assert(!CD.exists(t, 2) && !CD.exists(t, 3))
    // idempotent; and the horizon can only move FORWARD (a lagging
    // retention job must not resurrect a lower floor)
    assert(CD.vacuum(t, keepFrom = 4).isEmpty)
    assert(CD.vacuum(t, keepFrom = 2).isEmpty)
    assert(CD.vacuumHorizon(t) == 4, "horizon is monotone")
    // the surviving change file still reads O(changes)
    assert(CD.read(spark, t, 4).count() == versions.last._2.length)
    // the vacuumed transitions remain fully derivable from snapshots —
    // the information-loss-free property retention relies on: v2→v3
    // diff re-derived and checked against the known transition
    val prev = spark.read.parquet(Commits.snapshotFiles(t, 2): _*)
      .select(col("id"), col("val").as("pval"))
    val cur = spark.read.parquet(Commits.snapshotFiles(t, 3): _*)
    val j = cur.join(prev, Seq("id"), "full_outer")
      .select(col("id"),
        when(col("pval").isNull, "insert")
          .when(col("val").isNull, "delete")
          .when(col("val") =!= col("pval"), "update")
          .otherwise("unchanged").as("ct"))
      .as[(Long, String)].collect().toMap
    assert(j == Map(1L -> "update", 2L -> "delete", 3L -> "insert"),
      "the v2->v3 transition must remain derivable after its change file is vacuumed")
  }

  test("one log, mixed history: resolve ≡ replay and the expected file set at every version, on the table and its shallow clone") {
    val t = freshTable()
    val base = Commits.stage(df(0 until 10), t, "base")
    Commits.init(t, base)
    // two appends race basis 1: a wins v2 clean, b rebases through to v3
    val a = Commits.stage(df(10 until 20), t, "wA")
    val b = Commits.stage(df(20 until 25), t, "wB")
    assert(Commits.commitAppend(t, 1, Seq(a)) == ((2, false)))
    assert(Commits.commitAppend(t, 1, Seq(b)) == ((3, true)))
    // a compaction of v1 staged before the table moved aborts
    val stale = Commits.stage(
      spark.read.parquet(Commits.snapshotFiles(t, 1): _*).coalesce(1), t, "stale")
    assert(Commits.commitRewrite(t, 1, Seq(stale)).isLeft)
    // a quiescent compaction replaces the whole v3 snapshot at v4
    val comp = Commits.stage(
      spark.read.parquet(Commits.snapshotFiles(t, 3): _*).coalesce(1), t, "compact")
    assert(Commits.commitRewrite(t, 3, Seq(comp)) == Right(4))
    Commits.checkpoint(t, 4)
    // exactly-once append at v5, exactly-once replace at v6 (drops e5)
    val e5 = Commits.stage(df(25 until 30), t, "e5")
    assert(Commits.commitExactlyOnce(t, 5, Seq(e5)))
    val r6 = Commits.stage(df(100 until 103), t, "r6")
    assert(Commits.commitExactlyOnceReplace(t, 6, Seq(comp, r6)))
    // v7: a dead zero-byte claim healed by the exactly-once replay
    val claim = new java.io.File(s"$t/_log/v00007.txt")
    assert(claim.createNewFile())
    assert(claim.setLastModified(System.currentTimeMillis() - 2 * Commits.HealGraceMs))
    val e7 = Commits.stage(df(200 until 204), t, "e7")
    assert(Commits.commitExactlyOnce(t, 7, Seq(e7)))
    val expected = Seq(Seq(base), Seq(base, a), Seq(base, a, b), Seq(comp),
      Seq(comp, e5), Seq(comp, r6), Seq(comp, r6, e7)).map(_.sorted)
    assert(Commits.latestVersion(t) == 7)
    (1 to 7).foreach { v =>
      val (files, cv, tail) = Commits.resolveStats(t, v)
      assert(files == Commits.replay(t, v), s"v$v: checkpoint-resolve must equal full replay")
      assert(Commits.resolve(t, v) == expected(v - 1), s"v$v: wrong file set")
      assert(!files.contains(stale), s"aborted rewrite leaked into v$v")
      assert((cv, tail) == (if (v >= 4) (4, v - 4) else (0, v)), s"v$v: wrong checkpoint use")
      assert(Commits.read(spark, t, v).schema ==
        spark.read.parquet(Commits.snapshotFiles(t, v): _*).schema, s"v$v: footer schema ≢ inferred")
    }
    // each delta holds only its own change: an append one add, the
    // replace one remove and one add
    assert(Commits.actions(t, 2) == Seq(('+', a)))
    assert(Commits.actions(t, 6) == Seq(('-', e5), ('+', r6)))
    assert(Commits.read(spark, t).count() == 25 + 3 + 4)
    // the clone resolves to the same files through ../-relative adds
    val dst = new java.io.File(new java.io.File(t).getParentFile, "clone").getPath
    assert(Commits.shallowClone(t, dst) == 1)
    val cl = Commits.stage(df(300 until 302), dst, "cl")
    assert(Commits.commitAppend(dst, 1, Seq(cl)) == ((2, false)))
    Commits.checkpoint(dst, 2)
    val shared = expected(6).map("../tbl/" + _)
    val cloneExpected = Seq(shared, shared :+ cl).map(_.sorted)
    (1 to 2).foreach { v =>
      assert(Commits.resolve(dst, v) == Commits.replay(dst, v), s"clone v$v: resolve ≢ replay")
      assert(Commits.resolve(dst, v) == cloneExpected(v - 1), s"clone v$v: wrong file set")
      assert(Commits.read(spark, dst, v).schema ==
        spark.read.parquet(Commits.snapshotFiles(dst, v): _*).schema, s"clone v$v: footer schema ≢ inferred")
    }
    assert(Commits.read(spark, dst).count() == 25 + 3 + 4 + 2)
  }

  test("Commits.read opens a snapshot, latest or time-travelled, without a Spark job") {
    val t = freshTable()
    Commits.init(t, Commits.stage(df(0 until 10), t, "base"))
    Commits.commitAppend(t, 1, Seq(Commits.stage(df(10 until 15), t, "w2")))
    assert(Telemetry.during(spark)(Commits.read(spark, t).schema).jobs == 0)
    assert(Telemetry.during(spark)(Commits.read(spark, t, 1).schema).jobs == 0)
    // control: the listener does see the inference job of a schema-less read
    assert(Telemetry.during(spark)(spark.read.parquet(Commits.snapshotFiles(t, 2): _*).schema).jobs >= 1)
    assert(Commits.read(spark, t).count() == 15 && Commits.read(spark, t, 1).count() == 10)
  }

  test("staged dirs of different schemas: Commits.read takes the schema inference takes, either order") {
    import spark.implicits._
    // staged dirs are data/<writer>-<uuid>, so the writer name sets the
    // path order, and inference reads the first data file in path order
    def schemaWithWide(wideWriter: String) = {
      val t = freshTable()
      Commits.init(t, Commits.stage(df(0 until 10), t, "m"))
      val wide = Seq((100L, "x"), (101L, "y")).toDF("id", "tag")
      Commits.commitAppend(t, 1, Seq(Commits.stage(wide, t, wideWriter)))
      val inferred = spark.read.parquet(Commits.snapshotFiles(t, 2): _*).schema
      assert(Commits.read(spark, t).schema == inferred, s"wide writer $wideWriter")
      assert(Commits.read(spark, t).count() == 12)
      inferred.fieldNames.toSeq
    }
    assert(schemaWithWide("a") == Seq("id", "tag"), "the wider dir sorts first")
    assert(schemaWithWide("z") == Seq("id"), "the wider dir sorts last")
  }

  test("a full-listing manifest from the retired log format fails loudly, naming the file and version") {
    val t = freshTable()
    val base = Commits.stage(df(0 until 5), t, "base")
    val m = new java.io.File(s"$t/_log/v00001.txt")
    m.getParentFile.mkdirs()
    java.nio.file.Files.write(m.toPath, s"$base\n".getBytes("UTF-8"))
    assert(Commits.latestVersion(t) == 1)
    val e = intercept[IllegalArgumentException](Commits.read(spark, t))
    assert(e.getMessage.contains(m.getPath) && e.getMessage.contains("version 1"),
      s"an old-format manifest must be named, got: ${e.getMessage}")
  }

  test("one commit log in the source: one atomic rename, one claim, no second log") {
    def code(f: java.io.File): Seq[String] =
      new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").linesIterator
        .filterNot { l => val x = l.trim; x.startsWith("*") || x.startsWith("//") || x.startsWith("/*") }
        .toSeq
    val commits = code(new java.io.File("src/main/scala/graft/engine/Commits.scala"))
    for (token <- Seq("ATOMIC_MOVE", "createNewFile()")) {
      val n = commits.count(_.contains(token))
      assert(n == 1, s"engine/Commits.scala must hold `$token` once (one temp-write + " +
        s"rename helper, one claim), found $n")
    }
    def scalaFiles(dir: java.io.File): Seq[java.io.File] =
      Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) scalaFiles(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    // spelled in halves so this scan does not find itself
    for (token <- Seq("_a" + "log", "Action" + "Log")) {
      val found = scalaFiles(new java.io.File("src")).filter(f =>
        new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8").contains(token))
      assert(found.isEmpty, s"`$token` (the retired second log) found in: ${found.mkString(", ")}")
    }
  }
}
