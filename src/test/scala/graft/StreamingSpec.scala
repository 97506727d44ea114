package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Streams
import graft.streaming.Streams.Event
import java.sql.Timestamp

/** Drives the Structured Streaming pipelines with MemoryStream and checks
  * agreement with their batch twins (SURVEY.md §2.9). */
class StreamingSpec extends AnyFunSuite with SharedSparkSpec {

  private def ts(min: Long): Timestamp = new Timestamp(1700000000000L + min * 60000)

  private val sample = Seq(
    Event(1, ts(0), 1, "click", 1.0),
    Event(2, ts(5), 1, "click", 2.0),
    Event(3, ts(70), 1, "view", 3.0),   // > 30 min gap → new session, next hour
    Event(4, ts(2), 2, "click", 4.0),
    Event(5, ts(100), 2, "view", 5.0))

  test("hourlyCounts over MemoryStream matches batch groupBy(window)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(sample: _*)
    val q = Streams.hourlyCounts(mem.toDF()).writeStream
      .format("memory").queryName("hourly").outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("hourly")
      .select("ws", "event_type", "n", "sum_value").orderBy("ws", "event_type").collect().toSeq
    val batch = sample.toDF()
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"), col("sum_value"))
      .orderBy("ws", "event_type").collect().toSeq
    assert(streamed == batch)
    assert(streamed.nonEmpty)
  }

  test("sliding windows under a watermark match the batch hopping aggregation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(sample: _*)
    val q = mem.toDF().withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"))
      .writeStream.format("memory").queryName("sliding").outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("sliding").orderBy("ws", "event_type").collect().toSeq
    val batch = sample.toDF()
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("ws"), col("event_type"), col("n"))
      .orderBy("ws", "event_type").collect().toSeq
    assert(streamed == batch && streamed.nonEmpty)
    // every event must appear in exactly span/slide = 4 windows
    assert(streamed.map(_.getLong(2)).sum == sample.size * 4)
  }

  test("ohlcBars over MemoryStream matches the batch OHLC aggregation") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(sample: _*)
    val q = Streams.ohlcBars(mem.toDF()).writeStream
      .format("memory").queryName("ohlc").outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("ohlc").orderBy("user_id", "hour").collect().toSeq
    val batch = sample.toDF()
      .groupBy(col("user_id"), window(col("ts"), "1 hour").as("w"))
      .agg(min_by(col("value"), col("ts")).as("open"),
           max("value").as("high"), min("value").as("low"),
           max_by(col("value"), col("ts")).as("close"),
           count(lit(1)).as("n"))
      .select(col("user_id"), col("w.start").as("hour"),
        col("open"), col("high"), col("low"), col("close"), col("n"))
      .orderBy("user_id", "hour").collect().toSeq
    assert(streamed == batch)
    // user 1, first hour: events at t+0 (1.0) and t+5 (2.0) → open 1.0 close 2.0
    val r = streamed.find(r => r.getLong(0) == 1 && r.getLong(6) == 2).get
    assert(r.getDouble(2) == 1.0 && r.getDouble(5) == 2.0)
  }

  test("routeQuarantine splits every micro-batch into clean and dead-letter sinks") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val all = sample ++ Seq(
      Event(6, ts(10), 3, "error", 0.5),     // error_event
      Event(7, ts(11), 3, "click", 0.001))   // negligible_value
    val good = scala.collection.mutable.Buffer.empty[(Long, String)]
    val bad = scala.collection.mutable.Buffer.empty[(Long, String, String)]
    val batchIds = scala.collection.mutable.Buffer.empty[Long]
    val q = Streams.routeQuarantine(mem.toDF(),
      (df, id) => { batchIds += id
        good ++= df.select("event_id", "event_type").collect()
          .map(r => (r.getLong(0), r.getString(1))) },
      (df, _) => bad ++= df.select("event_id", "event_type", "reason").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))))
    // two micro-batches: routing must hold per batch, not just in total
    mem.addData(all.take(4): _*); q.processAllAvailable()
    mem.addData(all.drop(4): _*); q.processAllAvailable()
    q.stop()
    assert(batchIds.distinct.size >= 2, "expected at least two micro-batches")
    assert(good.map(_._1).sorted == Seq(1L, 2L, 3L, 4L, 5L))
    assert(bad.sortBy(_._1) == Seq(
      (6L, "error", "error_event"), (7L, "click", "negligible_value")))
    // the clean sink never sees a reason column; the union is exactly the input
    assert(good.size + bad.size == all.size)
  }

  test("sessionize emits closed sessions with keyed state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(sample: _*)
    val q = Streams.sessionize(mem.toDS()).writeStream
      .format("memory").queryName("sessions").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val out = spark.table("sessions").as[Streams.SessionOut].collect()
    // user 1: events at 0,5 then 70 → first session (0–5, n=2, value 3.0) closes
    val u1 = out.filter(_.user_id == 1)
    assert(u1.length == 1)
    assert(u1.head.n_events == 2 && u1.head.total_value == 3.0)
    // user 2: 2 then 100 → first session (n=1, value 4.0) closes
    val u2 = out.filter(_.user_id == 2)
    assert(u2.length == 1 && u2.head.n_events == 1 && u2.head.total_value == 4.0)
  }

  test("a cross-batch event from before start − gap gets its OWN session") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    // batch 1 opens user 9's session at minute 100
    mem.addData(Event(1, ts(100), 9, "click", 1.0))
    val q = Streams.sessionize(mem.toDS()).writeStream
      .format("memory").queryName("early_sessions").outputMode("append").start()
    q.processAllAvailable()
    // batch 2: three late events from minutes 0/10/20 — all before
    // start − 30 min, all within 30 min of EACH OTHER. The old gap test
    // (e.ts − end ≤ gap is trivially true for earlier events) merged them
    // into the open session and stretched it back 100 minutes; emitting
    // each as a singleton would instead triple-count one batch session.
    // They must gap-fold among themselves into ONE early session.
    mem.addData(Event(2, ts(0), 9, "view", 2.0),
                Event(3, ts(10), 9, "view", 2.5),
                Event(4, ts(20), 9, "view", 3.5))
    q.processAllAvailable()
    // batch 3 closes the open session so it emits too
    mem.addData(Event(5, ts(200), 9, "click", 3.0))
    q.processAllAvailable(); q.stop()
    val out = spark.table("early_sessions").as[Streams.SessionOut]
      .collect().filter(_.user_id == 9).sortBy(_.session_start.getTime)
    assert(out.length == 2, s"expected one merged early session + the closed session, got ${out.toSeq}")
    assert(out(0).session_start == ts(0) && out(0).session_end == ts(20) &&
      out(0).n_events == 3 && out(0).total_value == 8.0)
    assert(out(1).session_start == ts(100) && out(1).session_end == ts(100) && out(1).n_events == 1)
  }

  test("watermark drops late events and finalizes windows (append mode)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streams.hourlyCounts(mem.toDF(), "30 minutes").writeStream
      .format("memory").queryName("late_wm").outputMode("append").start()
    // batch 1: event in hour 0, plus one at minute 200 advancing the
    // watermark to 170 — hour-0's window (ends at 60) finalizes and emits
    mem.addData(Event(1, ts(0), 1, "click", 1.0), Event(2, ts(200), 1, "click", 1.0))
    q.processAllAvailable()
    // batch 2: a late hour-0 event behind the watermark — must be DROPPED,
    // not merged into the already-emitted window (exactly-once finalization)
    mem.addData(Event(3, ts(10), 1, "click", 99.0))
    q.processAllAvailable()
    val dropped = q.recentProgress
      .flatMap(_.stateOperators.map(_.numRowsDroppedByWatermark)).sum
    q.stop()
    assert(dropped >= 1, s"late row should be dropped by the watermark (got $dropped)")
    val out = spark.table("late_wm").select("ws", "n", "sum_value").collect()
    // only hour 0 finalized; its count excludes the late row's value
    assert(out.length == 1 && out.head.getLong(1) == 1L && out.head.getDouble(2) == 1.0)
  }

  test("dedupWithinWatermark drops in-window duplicates with bounded state") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    // two exact-key duplicates inside the watermark window
    mem.addData(sample :+ Event(6, ts(1), 1, "click", 9.0) :+ Event(7, ts(3), 2, "click", 9.0): _*)
    val q = Streams.dedupWithinWatermark(mem.toDF()).writeStream
      .format("memory").queryName("dedup_wm").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val out = spark.table("dedup_wm")
    assert(out.count() == 4) // (1,click),(1,view),(2,click),(2,view)
    assert(out.groupBy("user_id", "event_type").count().filter(col("count") > 1).count() == 0)
  }

  test("flagContaminated per micro-batch ≡ one batch pass (streaming decontamination, VERDICT r12 #8)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // one planted 13-token gram shared by the benchmark doc and two train
    // docs; doc 2 is clean, doc 4 is too short to carry any 13-gram
    val gram = (1 to 13).map(i => s"w$i").mkString(" ")
    val train = Seq(
      (1L, s"alpha $gram beta"),
      (2L, "totally unrelated text with its own distinct words only here now"),
      (3L, s"$gram tail"),
      (4L, "short"))
    val evalGrams = Streams.benchmarkGrams(
      Seq((97L, s"prefix $gram suffix")).toDF("doc_id", "text"))
      .cache()
    // stream: two micro-batches through foreachBatch, flags accumulated
    val mem = MemoryStream[(Long, String)]
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    val q = mem.toDF().toDF("doc_id", "text").writeStream
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       _: Long) =>
        got ++= Streams.flagContaminated(df, evalGrams)
          .as[(Long, Long, Long)].collect()
        ()
      }.start()
    mem.addData(train.take(2): _*); q.processAllAvailable()
    mem.addData(train.drop(2): _*); q.processAllAvailable()
    q.stop()
    // batch twin: the identical transform over the whole train set at once
    val batch = Streams.flagContaminated(train.toDF("doc_id", "text"), evalGrams)
      .as[(Long, Long, Long)].collect()
    assert(got.sorted.toSeq == batch.sorted.toSeq,
      "per-micro-batch flags must equal the single-batch flags")
    // and the flags are the right ones: docs 1 and 3 carry the planted gram
    assert(got.map(_._1).sorted == Seq(1L, 3L))
    assert(got.forall(r => r._2 >= 1L && r._3 == 1L),
      "each flagged doc shares >= 1 gram with exactly the one benchmark doc")
  }

  test("stream-static enrich matches the batch broadcast join") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "silver")).toDF("user_id", "tier")
    val mem = MemoryStream[Event]
    mem.addData(sample: _*)
    val q = Streams.enrich(mem.toDF(), dim).writeStream
      .format("memory").queryName("enriched").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("enriched")
      .select("event_id", "user_id", "tier").orderBy("event_id").collect().toSeq
    val batch = Streams.enrich(sample.toDF(), dim)
      .select("event_id", "user_id", "tier").orderBy("event_id").collect().toSeq
    assert(streamed == batch)
    assert(streamed.size == sample.size && streamed.forall(_.getString(2) != null))
  }

  test("sessionWindowAgg agrees with batch session_window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(sample: _*)
    // complete mode keeps open sessions queryable without watermark flushes
    val q = Streams.sessionWindowAgg(mem.toDF()).writeStream
      .format("memory").queryName("swagg").outputMode("complete").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("swagg")
      .select("user_id", "session_start", "session_end", "n_events", "session_value")
      .orderBy("user_id", "session_start").collect().toSeq
    val batch = sample.toDF()
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"), sum("value").as("session_value"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"), col("session_value"))
      .orderBy("user_id", "session_start").collect().toSeq
    assert(streamed == batch)
    assert(streamed.size >= 3) // user 1 has two sessions, user 2 has two
  }

  test("viewToPurchase stream-stream join matches the batch join; state is watermark-bounded") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // views at 0 and 70; purchases at 30 (within 1h of view@0), 75 (within
    // 1h of view@70 only), and 200 (outside every window)
    val views = Seq(
      Event(1, ts(0), 1, "view", 0.0), Event(2, ts(70), 1, "view", 0.0),
      Event(3, ts(0), 2, "view", 0.0))
    val purchases = Seq(
      Event(10, ts(30), 1, "purchase", 5.0), Event(11, ts(75), 1, "purchase", 7.0),
      Event(12, ts(200), 1, "purchase", 9.0), Event(13, ts(45), 2, "purchase", 11.0))
    val vMem = MemoryStream[Event]; val pMem = MemoryStream[Event]
    vMem.addData(views: _*); pMem.addData(purchases: _*)
    val q = Streams.viewToPurchase(vMem.toDF(), pMem.toDF()).writeStream
      .format("memory").queryName("attributed").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val streamed = spark.table("attributed")
      .select("user_id", "view_id", "purchase_value")
      .orderBy("user_id", "view_id", "purchase_value").collect().toSeq
    val batch = Streams.viewToPurchase(views.toDF(), purchases.toDF())
      .select("user_id", "view_id", "purchase_value")
      .orderBy("user_id", "view_id", "purchase_value").collect().toSeq
    assert(streamed == batch)
    // exact pair set: u1 view@0→p@30, view@70→p@75; u2 view@0→p@45
    assert(streamed.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))) ==
      Seq((1L, 1L, 5.0), (1L, 2L, 7.0), (2L, 3L, 11.0)))
  }

  test("viewToPurchaseOuter emits unmatched views with nulls after the watermark passes") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val vMem = MemoryStream[Event]; val pMem = MemoryStream[Event]
    val q = Streams.viewToPurchaseOuter(vMem.toDF(), pMem.toDF(), "10 minutes")
      .writeStream.format("memory").queryName("outer_attr").outputMode("append").start()
    // batch 1: one converting view, one that never converts
    vMem.addData(Event(1, ts(0), 1, "view", 0.0), Event(2, ts(5), 2, "view", 0.0))
    pMem.addData(Event(10, ts(30), 1, "purchase", 5.0))
    q.processAllAvailable()
    // batch 2: advance BOTH watermarks far past view@5's join window
    // (5 + 60 min) + the 10-min delay, so the engine can prove no match
    vMem.addData(Event(3, ts(600), 3, "view", 0.0))
    pMem.addData(Event(11, ts(600), 9, "purchase", 1.0))
    q.processAllAvailable()
    // one more cycle lets the finalized null row flush
    vMem.addData(Event(4, ts(610), 3, "view", 0.0))
    pMem.addData(Event(12, ts(610), 9, "purchase", 1.0))
    q.processAllAvailable(); q.stop()
    val out = spark.table("outer_attr")
      .select("user_id", "view_id", "purchase_value").collect()
    val matched = out.filter(!_.isNullAt(2)).map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(matched.contains((1L, 1L, 5.0)), s"converted view must match: ${out.mkString(",")}")
    val unmatched = out.filter(_.isNullAt(2)).map(r => (r.getLong(0), r.getLong(1)))
    assert(unmatched.contains((2L, 2L)),
      s"view@5 for user 2 must emit with null purchase after watermark: ${out.mkString(",")}")
  }

  test("sessionize merges in-gap late events without regressing session_end") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streams.sessionize(mem.toDS(), gapMinutes = 30).writeStream
      .format("memory").queryName("late_sess").outputMode("append").start()
    mem.addData(Event(1, ts(20), 1, "click", 1.0)) // state: session at t+20
    q.processAllAvailable()
    // batch 2: a LATE in-gap event (t+0) must extend the session's START,
    // never shrink its end — the old end:=e.ts update produced end<start
    mem.addData(Event(2, ts(0), 1, "view", 2.0), Event(3, ts(60), 1, "click", 3.0))
    q.processAllAvailable()
    mem.addData(Event(4, ts(120), 1, "click", 4.0)) // closes the t+60 session
    q.processAllAvailable(); q.stop()
    val sessions = spark.table("late_sess").orderBy("session_start").collect()
    assert(sessions.length == 2, s"got ${sessions.toSeq}")
    assert(sessions(0).getAs[Timestamp]("session_start") == ts(0) &&
           sessions(0).getAs[Timestamp]("session_end") == ts(20) &&
           sessions(0).getAs[Long]("n_events") == 2,
      s"late in-gap event must extend start, not regress end: ${sessions.toSeq}")
    sessions.foreach(r => assert(!r.getAs[Timestamp]("session_end")
      .before(r.getAs[Timestamp]("session_start")), "end must never precede start"))
  }

  test("a late bridge chain merges with the open session when its start shrinks into gap (ADVICE r5)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streams.sessionize(mem.toDS(), gapMinutes = 30).writeStream
      .format("memory").queryName("bridge_sess").outputMode("append").start()
    mem.addData(Event(1, ts(100), 1, "click", 1.0)) // state: session at t+100
    q.processAllAvailable()
    // batch 2, sorted: t+20 and t+45 are BEFORE 100−30 → an early session
    // [20,45]; t+75 lands in-gap of the open session and shrinks its start
    // to 75 — now 75−45 ≤ gap, so the batch-end re-check must merge the
    // early chain into the open session (a single batch sort would)
    mem.addData(Event(2, ts(20), 1, "view", 2.0),
      Event(3, ts(45), 1, "view", 4.0), Event(4, ts(75), 1, "click", 8.0))
    q.processAllAvailable()
    mem.addData(Event(5, ts(200), 1, "click", 16.0)) // closes the merged session
    q.processAllAvailable(); q.stop()
    val sessions = spark.table("bridge_sess").collect()
    assert(sessions.length == 1, s"bridge chain must merge, got ${sessions.toSeq}")
    val s = sessions(0)
    assert(s.getAs[Timestamp]("session_start") == ts(20) &&
           s.getAs[Timestamp]("session_end") == ts(100) &&
           s.getAs[Long]("n_events") == 4 &&
           s.getAs[Double]("total_value") == 15.0,
      s"expected the fully merged [20,100] session: ${sessions.toSeq}")
  }

  test("a multi-link early chain: non-final links flush eagerly AND agree with batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streams.sessionize(mem.toDS(), gapMinutes = 30).writeStream
      .format("memory").queryName("chain_sess").outputMode("append").start()
    mem.addData(Event(1, ts(200), 1, "click", 1.0)) // state: open at t+200
    q.processAllAvailable()
    // batch 2, sorted: [20,45] is early link 1 (flushed when link 2 starts);
    // [115,142] is early link 2; t+171 shrinks the open start to 171, and
    // 171−142 ≤ gap so the batch-end re-check merges link 2 into the open
    // session. Link 1 CANNOT transitively bridge: 115−45 > gap, and the
    // batch sort splits there too — separate early sessions are separated
    // by > gap by construction, so an eagerly flushed non-final link always
    // agrees with the batch twin. (The genuinely unfixable case is
    // CROSS-batch — next test.)
    mem.addData(Event(2, ts(20), 1, "view", 2.0), Event(3, ts(45), 1, "view", 4.0),
      Event(4, ts(115), 1, "view", 8.0), Event(5, ts(142), 1, "view", 16.0),
      Event(6, ts(171), 1, "click", 32.0))
    q.processAllAvailable()
    mem.addData(Event(7, ts(300), 1, "click", 64.0)) // closes the merged session
    q.processAllAvailable(); q.stop()
    val sessions = spark.table("chain_sess").orderBy("session_start").collect()
    // batch twin over {20,45,115,142,171,200,300}: gaps 25 | 70 | 27,29,29 | 100
    // → [20,45], [115,200], open [300]
    assert(sessions.length == 2, s"got ${sessions.toSeq}")
    assert(sessions(0).getAs[Timestamp]("session_start") == ts(20) &&
           sessions(0).getAs[Timestamp]("session_end") == ts(45) &&
           sessions(0).getAs[Long]("n_events") == 2, s"link 1: ${sessions.toSeq}")
    assert(sessions(1).getAs[Timestamp]("session_start") == ts(115) &&
           sessions(1).getAs[Timestamp]("session_end") == ts(200) &&
           sessions(1).getAs[Long]("n_events") == 4 &&
           sessions(1).getAs[Double]("total_value") == 57.0,
      s"link 2 must bridge-merge into the open session: ${sessions.toSeq}")
  }

  test("cross-batch early flush is FINAL: the documented append-mode divergence from batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streams.sessionize(mem.toDS(), gapMinutes = 30).writeStream
      .format("memory").queryName("final_sess").outputMode("append").start()
    mem.addData(Event(1, ts(200), 1, "click", 1.0)) // state: open at t+200
    q.processAllAvailable()
    mem.addData(Event(2, ts(100), 1, "view", 2.0)) // early, flushed: emits [100,100]
    q.processAllAvailable()
    // batch 3: t+125 is within gap of the ALREADY-EMITTED [100,100] — a
    // batch sort would merge them into [100,125], but append-mode output is
    // immutable, so it becomes its own session. This pins the one
    // adversarial ordering where the stream diverges from the batch twin
    // (Streams.foldSessions scaladoc): the divergence is exactly one
    // under-merged session pair per such ordering, never a wrong interval.
    mem.addData(Event(3, ts(125), 1, "view", 4.0))
    q.processAllAvailable()
    mem.addData(Event(4, ts(172), 1, "click", 8.0)) // open shrinks to [172,200]
    q.processAllAvailable()
    mem.addData(Event(5, ts(300), 1, "click", 16.0)) // closes [172,200]
    q.processAllAvailable(); q.stop()
    val sessions = spark.table("final_sess").orderBy("session_start").collect()
    // stream: [100,100], [125,125], [172,200] — batch twin would give
    // [100,125], [172,200]; assert the divergence stays exactly this shape
    assert(sessions.length == 3, s"got ${sessions.toSeq}")
    assert(sessions(0).getAs[Timestamp]("session_end") == ts(100) &&
           sessions(1).getAs[Timestamp]("session_start") == ts(125) &&
           sessions(1).getAs[Timestamp]("session_end") == ts(125),
      s"the flushed early session must stay final (append mode): ${sessions.toSeq}")
    assert(sessions(2).getAs[Timestamp]("session_start") == ts(172) &&
           sessions(2).getAs[Timestamp]("session_end") == ts(200) &&
           sessions(2).getAs[Long]("n_events") == 2, s"${sessions.toSeq}")
  }

  test("repairSessions: repair(streamed fragments) ≡ single-batch sessionize on adversarial orderings") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    var n = 0
    def runSessions(batches: Seq[Seq[Event]]): Seq[Streams.SessionOut] = {
      n += 1
      val name = s"repair_run_$n"
      val mem = MemoryStream[Event]
      val q = Streams.sessionize(mem.toDS(), gapMinutes = 30).writeStream
        .format("memory").queryName(name).outputMode("append").start()
      batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
      q.stop()
      spark.table(name).as[Streams.SessionOut].collect().toSeq
    }
    def canon(s: Seq[Streams.SessionOut]) =
      s.sortBy(x => (x.user_id, x.session_start.getTime, x.session_end.getTime))
    // the pinned divergence ordering (cross-batch early flush is FINAL),
    // the bridge chain, the multi-link chain, and a 2-user interleave —
    // every adversarial ordering StreamingSpec constructs
    val orderings: Seq[Seq[Seq[Event]]] = Seq(
      // cross-batch under-merge: stream emits [100,100],[125,125],[172,200];
      // batch gives [100,125],[172,200] — repair must close exactly that gap
      Seq(Seq(Event(1, ts(200), 1, "click", 1.0)),
          Seq(Event(2, ts(100), 1, "view", 2.0)),
          Seq(Event(3, ts(125), 1, "view", 4.0)),
          Seq(Event(4, ts(172), 1, "click", 8.0)),
          Seq(Event(5, ts(300), 1, "click", 16.0))),
      // bridge chain split across batches
      Seq(Seq(Event(1, ts(100), 1, "click", 1.0)),
          Seq(Event(2, ts(20), 1, "view", 2.0), Event(3, ts(45), 1, "view", 4.0)),
          Seq(Event(4, ts(75), 1, "click", 8.0)),
          Seq(Event(5, ts(200), 1, "click", 16.0))),
      // multi-link early chain, each link its own batch + nested intervals
      Seq(Seq(Event(1, ts(200), 1, "click", 1.0)),
          Seq(Event(2, ts(20), 1, "view", 2.0), Event(3, ts(45), 1, "view", 4.0)),
          Seq(Event(4, ts(115), 1, "view", 8.0), Event(5, ts(142), 1, "view", 16.0)),
          Seq(Event(6, ts(171), 1, "click", 32.0), Event(7, ts(130), 1, "view", 64.0)),
          Seq(Event(8, ts(400), 1, "click", 128.0))),
      // two users interleaved, fragments arriving out of order per user
      Seq(Seq(Event(1, ts(90), 1, "click", 1.0), Event(2, ts(10), 2, "view", 2.0)),
          Seq(Event(3, ts(50), 1, "view", 4.0), Event(4, ts(95), 2, "click", 8.0)),
          Seq(Event(5, ts(70), 1, "view", 16.0), Event(6, ts(40), 2, "view", 32.0)),
          Seq(Event(7, ts(500), 1, "click", 64.0), Event(8, ts(500), 2, "click", 64.0))))
    for (batches <- orderings) {
      val fragmented = runSessions(batches)
      val single = runSessions(Seq(batches.flatten))
      val repaired = Streams.repairSessions(fragmented.toDS()).collect().toSeq
      assert(canon(repaired) == canon(single),
        s"repair must reproduce the single-batch sessions:\n" +
          s"fragments=${canon(fragmented)}\nrepaired=${canon(repaired)}\nsingle=${canon(single)}")
      // and repair of an already-clean output is the identity
      val again = Streams.repairSessions(single.toDS()).collect().toSeq
      assert(canon(again) == canon(single), "repair must be idempotent on clean sessions")
    }
  }

  test("sessionizeTimeout closes idle sessions when the watermark passes the gap") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    val q = Streams.sessionizeTimeout(mem.toDS()).writeStream
      .format("memory").queryName("sess_timeout").outputMode("append").start()
    // user 1's session (events at 0 and 5) stays open: nothing can close it
    mem.addData(Event(1, ts(0), 1, "click", 1.0), Event(2, ts(5), 1, "click", 2.0))
    q.processAllAvailable()
    assert(spark.table("sess_timeout").count() == 0, "session must still be open")
    // an UNRELATED user's event advances the watermark past 5 + 30min;
    // the timeout fires on the following trigger
    mem.addData(Event(3, ts(200), 2, "view", 1.0))
    q.processAllAvailable()
    mem.addData(Event(4, ts(210), 2, "view", 1.0))
    q.processAllAvailable(); q.stop()
    // user 1's session emitted WITHOUT any further user-1 event — the thing
    // the NoTimeout variant cannot do
    val u1 = spark.table("sess_timeout").as[Streams.SessionOut]
      .collect().filter(_.user_id == 1)
    assert(u1.length == 1, s"expected exactly one closed session: ${u1.mkString(",")}")
    assert(u1.head.n_events == 2 && u1.head.total_value == 3.0)
    assert(u1.head.session_start == ts(0) && u1.head.session_end == ts(5))
  }

  test("repairSessions property: repair(per-batch sessions of ANY event partition) ≡ direct sessions") {
    import spark.implicits._
    // independent reference sessionizer: gap-chain a set of events directly
    def direct(evs: Seq[Event], gapMs: Long): Seq[(Long, Long, Long, Long, Double)] =
      evs.groupBy(_.user_id).toSeq.flatMap { case (u, es) =>
        val sorted = es.sortBy(e => (e.ts.getTime, e.event_id))
        val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long, Long, Double)]
        var cur: Option[(Long, Long, Long, Double)] = None
        for (e <- sorted) cur match {
          case Some((s0, e0, n, v)) if e.ts.getTime - e0 <= gapMs =>
            cur = Some((s0, e.ts.getTime, n + 1, v + e.value))
          case Some((s0, e0, n, v)) =>
            out += ((u, s0, e0, n, v)); cur = Some((e.ts.getTime, e.ts.getTime, 1L, e.value))
          case None => cur = Some((e.ts.getTime, e.ts.getTime, 1L, e.value))
        }
        cur.foreach { case (s0, e0, n, v) => out += ((u, s0, e0, n, v)) }
        out.toSeq
      }.sortBy(x => (x._1, x._2))
    val gapMs = 30L * 60000
    val rnd = new scala.util.Random(4242)
    for (trial <- 1 to 12) {
      // random per-user event sets with gaps straddling the threshold,
      // values = powers of two so float sums are exact in any order
      val evs = (1 to 2 + rnd.nextInt(3)).flatMap { u =>
        var tMin = 0L
        (1 to 5 + rnd.nextInt(20)).map { i =>
          tMin += rnd.nextInt(70) // minutes: gaps 0..69, threshold at 30
          Event(u * 1000L + i, ts(tMin), u.toLong, "e", math.pow(2.0, (i % 10) - 3))
        }
      }
      // random partition into 1..5 "arrival batches", sessionized per batch
      val nb = 1 + rnd.nextInt(5)
      val frags = evs.groupBy(_ => rnd.nextInt(nb)).values.toSeq.flatMap { b =>
        direct(b, gapMs).map { case (u, s0, e0, n, v) =>
          Streams.SessionOut(u, new Timestamp(s0), new Timestamp(e0), n, v)
        }
      }
      val repaired = Streams.repairSessions(frags.toDS()).collect()
        .map(o => (o.user_id, o.session_start.getTime, o.session_end.getTime,
          o.n_events, o.total_value)).sortBy(x => (x._1, x._2)).toSeq
      assert(repaired == direct(evs, gapMs),
        s"trial $trial (nb=$nb): repair diverged from direct sessionization")
    }
  }

  test("sessionizeTws: timer-driven session close on the transformWithState API") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[Event]
      val q = Streams.sessionizeTws(mem.toDS(), gapMinutes = 30).writeStream
        .format("memory").queryName("tws_sess").outputMode("append").start()
      // batch 1: user 1 at t0,t5; user 2 at t2 — all sessions open
      mem.addData(Event(1, ts(0), 1, "click", 1.0), Event(2, ts(5), 1, "click", 2.0),
        Event(3, ts(2), 2, "view", 4.0))
      q.processAllAvailable()
      // batch 2: user 1 events extend then gap-close within the batch;
      // user 2 stays idle — its timer (t2+30) fires once the watermark
      // (max event time seen) passes it, WITHOUT any user-2 event arriving
      mem.addData(Event(4, ts(20), 1, "click", 8.0), Event(5, ts(120), 1, "view", 16.0))
      q.processAllAvailable()
      // one more batch to advance the watermark past user 1's open tail
      mem.addData(Event(6, ts(300), 3, "click", 32.0))
      q.processAllAvailable(); q.stop()
      val out = spark.table("tws_sess").as[Streams.SessionOut].collect()
        .sortBy(x => (x.user_id, x.session_start.getTime))
      // user 1: [0,20] closed by the in-batch gap; [120,120] closed by its
      // timer when the watermark reached 300. user 2: [2,2] closed by the
      // timer when the watermark passed t2+30 — the idle-key drain.
      assert(out.map(o => (o.user_id, o.session_start, o.session_end, o.n_events,
        o.total_value)).toSeq == Seq(
        (1L, ts(0), ts(20), 3L, 11.0),
        (1L, ts(120), ts(120), 1L, 16.0),
        (2L, ts(2), ts(2), 1L, 4.0)),
        s"got ${out.toSeq}")
      // and the closed sessions agree with the flatMapGroupsWithState twin
      // on the same event set (which cannot emit the idle tails at all)
      val mem2 = MemoryStream[Event]
      val q2 = Streams.sessionize(mem2.toDS(), gapMinutes = 30).writeStream
        .format("memory").queryName("tws_sess_twin").outputMode("append").start()
      mem2.addData(Event(1, ts(0), 1, "click", 1.0), Event(2, ts(5), 1, "click", 2.0),
        Event(3, ts(2), 2, "view", 4.0))
      q2.processAllAvailable()
      mem2.addData(Event(4, ts(20), 1, "click", 8.0), Event(5, ts(120), 1, "view", 16.0))
      q2.processAllAvailable()
      mem2.addData(Event(6, ts(300), 3, "click", 32.0))
      q2.processAllAvailable(); q2.stop()
      val twin = spark.table("tws_sess_twin").as[Streams.SessionOut].collect()
        .sortBy(x => (x.user_id, x.session_start.getTime)).toSeq
      assert(twin.toSet.subsetOf(out.toSet),
        s"every gap-closed session must match the fMGWS twin: $twin vs ${out.toSeq}")
    } finally {
      prev match { case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key) }
    }
  }

  test("transformWithState carries typed per-key state across micro-batches (RocksDB store)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val mem = MemoryStream[Event]
      val q = Streams.runningStats(mem.toDS()).writeStream
        .format("memory").queryName("tws").outputMode("update").start()
      // batch 1: user 1 sees events at t0 (v=10) and t5 (v=20)
      mem.addData(Event(1, ts(0), 1, "click", 10.0), Event(2, ts(5), 1, "click", 20.0))
      q.processAllAvailable()
      // batch 2: user 1 again (state must survive), user 2 fresh
      mem.addData(Event(3, ts(10), 1, "view", 30.0), Event(4, ts(1), 2, "view", 7.0))
      q.processAllAvailable(); q.stop()
      val rows = spark.table("tws").orderBy("event_id")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
      val ew2 = 0.2 * 20.0 + 0.8 * 10.0            // within batch 1
      val ew3 = 0.2 * 30.0 + 0.8 * ew2             // recurrence CONTINUES in batch 2
      assert(rows == Seq((1L, 1L, 1L, 10.0), (1L, 2L, 2L, ew2),
        (1L, 3L, 3L, ew3), (2L, 4L, 1L, 7.0)))
    } finally {
      prev match { case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key) }
    }
  }

  test("checkpointed query restarts from where it stopped (no reprocessing, state intact)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ckpt = tempDir("graft-ckpt").getPath
    val mem = MemoryStream[Event]
    def start() = Streams.hourlyCounts(mem.toDF(), "10 minutes").writeStream
      .format("memory").queryName("ckpt_counts").outputMode("complete")
      .option("checkpointLocation", ckpt).start()

    val q1 = start()
    mem.addData(Event(1, ts(0), 1, "click", 1.0), Event(2, ts(5), 1, "click", 2.0))
    q1.processAllAvailable(); q1.stop()

    // restart against the SAME checkpoint: the committed offsets mean batch 0
    // is not re-read; new data folds into the restored window state
    val q2 = start()
    mem.addData(Event(3, ts(7), 1, "click", 4.0))
    q2.processAllAvailable(); q2.stop()

    val row = spark.table("ckpt_counts")
      .filter(col("event_type") === "click").collect()
    assert(row.length == 1, s"one window expected, got ${row.toSeq}")
    assert(row(0).getAs[Long]("n") == 3 && row(0).getAs[Double]("sum_value") == 7.0,
      "restored state must include the pre-restart events exactly once")
  }

  test("st_repair_roundtrip reads the committed fragment layout on a warm run — never rebuilds") {
    // VERDICT r9 #2: the face's one-time transformWithState materialization
    // costs ~14 s at sf0.1 — a warm run silently re-materializing it would
    // read as an unexplained 20× bench drift. Pin the contract: after the
    // first run commits the layout, a second run must leave the layout's
    // commit marker untouched (same file, same mtime).
    val d = "/root/testdata/sf0.001"
    val face = SparkEntry.queries("st_repair_roundtrip")
    assert(face(spark, d).collect().length == 1)
    val marker = new java.io.File(
      s"/tmp/graft_stream/tws_frags_${graft.engine.Layouts.tag(d)}/_SUCCESS")
    assert(marker.exists(), "first run must commit the fragment layout")
    val mtime = marker.lastModified()
    assert(face(spark, d).collect().length == 1)
    assert(marker.lastModified() == mtime,
      "warm run must READ the committed fragment layout, not rebuild it")
  }

  test("CDF consumer stream ≡ batch: folding stored change files in batch reproduces the streamed reconstruction") {
    // the face builds both scenario tables (CDC source with _change_data/
    // + the streamed reconstruction) and asserts full-row state equality
    val d = "/root/testdata/sf0.001"
    val face = SparkEntry.queries("st_cdf_stream")(spark, d).collect()
    assert(face.length == 3 && face.forall(_.getBoolean(3)),
      "streamed reconstruction must match the CDC ledger at every version")
    // stream ≡ batch: the same change-file application run as a plain
    // sequential batch fold (no streaming machinery) must land on the
    // SAME state the foreachBatch consumer committed, at every version
    val C = graft.engine.Commits
    val tag = graft.engine.Layouts.tag(d)
    val cdc = s"/tmp/graft_cdc/tbl2_$tag"
    val recon = s"/tmp/graft_cdc/recon_$tag"
    assert(C.ChangeData.versions(cdc) == Seq(2, 3, 4))
    var state = spark.read.parquet(C.snapshotFiles(cdc, 1): _*)
    (2 to 4).foreach { v =>
      val ch = C.ChangeData.read(spark, cdc, v)
      val touched = ch.filter(col("_change_type")
          .isin("delete", "update_preimage", "update_postimage"))
        .select("user_id").distinct()
      state = state.join(touched, Seq("user_id"), "left_anti")
        .unionByName(ch.filter(col("_change_type").isin("insert", "update_postimage"))
          .select("user_id", "ts", "event_id", "value"))
        .localCheckpoint()
      val streamed = spark.read.parquet(C.snapshotFiles(recon, v): _*)
      assert(state.exceptAll(streamed).count() == 0 &&
             streamed.exceptAll(state).count() == 0,
        s"v$v: batch fold diverges from the streamed reconstruction")
    }
  }

  test("dedupFirst keeps one row per (user_id, event_type)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Event]
    mem.addData(sample: _*)
    val q = Streams.dedupFirst(mem.toDF()).writeStream
      .format("memory").queryName("deduped").outputMode("append").start()
    q.processAllAvailable(); q.stop()
    val out = spark.table("deduped")
    assert(out.count() == 4) // (1,click),(1,view),(2,click),(2,view)
    assert(out.groupBy("user_id", "event_type").count().filter(col("count") > 1).count() == 0)
  }

  test("replay fails at its deadline when the stream's stop() never returns") {
    import spark.implicits._
    val unblock = new java.util.concurrent.CountDownLatch(1)
    // drains return at once; stop() waits like a wedged stream thread
    val wedged = java.lang.reflect.Proxy.newProxyInstance(getClass.getClassLoader,
      Array[Class[_]](classOf[org.apache.spark.sql.streaming.StreamingQuery]),
      (_: AnyRef, m: java.lang.reflect.Method, _: Array[AnyRef]) => {
        if (m.getName == "stop") unblock.await()
        null
      }).asInstanceOf[org.apache.spark.sql.streaming.StreamingQuery]
    val t0 = System.nanoTime()
    try {
      val e = intercept[IllegalStateException] {
        graft.streaming.StreamHarness.replayWithin(spark, Seq(Seq(1L).toDF("a")),
          deadlineSec = 2)((_, _) => wedged)
      }
      assert(e.getMessage.contains("did not stop within 2s"), e.getMessage)
      assert((System.nanoTime() - t0) / 1e9 < 60, "replay must not wait past its deadline")
    } finally unblock.countDown()
  }
}
