package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession

/** Shuffle-volume accounting over the catalog — the measurement behind the
  * "minimize shuffles" design rule. For every audited query it reports
  * input bytes read, shuffle bytes written, and their ratio; a ratio near
  * (or above) 1 means the plan re-materializes its whole input across the
  * network and would saturate the fabric at 100 TB, which is exactly the
  * class of regression plan-shape tests cannot see (a plan can keep the
  * "right" operators and still shuffle everything). Writes SHUFFLE.md.
  *
  * Metrics come from a SparkListener folding stage-level task metrics;
  * listener delivery is async, so each query's snapshot polls until the
  * counters go quiet (bounded). Local mode only — this is an audit main,
  * not a driver surface.
  *
  * Usage: SPARK_GRAFT_CPUS=32 sbt "runMain graft.ShuffleAudit [sfDir [query ...]]"
  */
object ShuffleAudit {

  /** Byte volumes one measured run moved, in MB. */
  final case class Volumes(inputMB: Double, shuffleWriteMB: Double,
                           shuffleReadMB: Double, spilledMB: Double) {
    /** shuffle-write : input — the fabric-pressure number SHUFFLE.md tracks;
      * 0 when nothing was scanned (generated-data queries). */
    def ratio: Double = if (inputMB > 0) shuffleWriteMB / inputMB else 0.0
  }

  /** Reusable measurement core: a stage-metrics listener + delta snapshots
    * around a thunk. Register ONE Meter per session (each registration adds
    * a listener). Also the instrument behind ShuffleGateSpec's pinned
    * ratio bounds — the regression gate that catches an un-broadcast join
    * before it surfaces as silent bench drift. */
  final class Meter(spark: SparkSession) {
    private val inputBytes = new AtomicLong(0L)
    private val shuffleWrite = new AtomicLong(0L)
    private val shuffleRead = new AtomicLong(0L)
    private val spilled = new AtomicLong(0L)

    spark.sparkContext.addSparkListener(new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val m = sc.stageInfo.taskMetrics
        if (m != null) {
          inputBytes.addAndGet(m.inputMetrics.bytesRead)
          shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          spilled.addAndGet(m.diskBytesSpilled)
        }
      }
    })

    private def snapshot(): (Long, Long, Long, Long) =
      (inputBytes.get, shuffleWrite.get, shuffleRead.get, spilled.get)

    /** Poll until the async listener counters stop moving (≤ 3 s). */
    def quiesce(): (Long, Long, Long, Long) = {
      var prev = snapshot()
      var stable = 0
      var waited = 0
      while (stable < 2 && waited < 30) {
        Thread.sleep(100); waited += 1
        val cur = snapshot()
        if (cur == prev) stable += 1 else { stable = 0; prev = cur }
      }
      prev
    }

    /** Measure the byte volumes `run` moves (listener delivery is async, so
      * both ends quiesce first). */
    def measure(run: => Unit): Volumes = {
      quiesce()
      val (i0, w0, r0, s0) = snapshot()
      run
      val (i1, w1, r1, s1) = quiesce()
      val mb = 1024.0 * 1024.0
      Volumes((i1 - i0) / mb, (w1 - w0) / mb, (r1 - r0) / mb, (s1 - s0) / mb)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val only = args.drop(1).toSet
    val spark = graft.engine.Tables.localSession("graft-shuffle-audit")
    val cpus = spark.conf.get("spark.sql.shuffle.partitions")
    spark.sparkContext.setLogLevel("ERROR")
    val meter = new Meter(spark)

    val rows = Seq.newBuilder[(String, Double, Double, Double, Double)]
    var spilledAny = false
    for ((name, fn) <- SparkEntry.queries.toSeq.sortBy(_._1)
         if only.isEmpty || only(name)) {
      try {
        val v = meter.measure(
          fn(spark, sfDir).write.format("noop").mode("overwrite").save())
        val (in, wr, rd, sp) =
          (v.inputMB, v.shuffleWriteMB, v.shuffleReadMB, v.spilledMB)
        rows += ((name, in, wr, rd, v.ratio))
        if (sp > 0) { spilledAny = true
          println(f"[shuffle-audit] SPILL $name%-24s ${sp}%.1f MB spilled to disk") }
        println(f"[shuffle-audit] $name%-24s in=$in%8.1f MB shuffleW=$wr%8.1f MB ratio=${v.ratio}%6.3f")
      } catch {
        case e: Throwable => println(s"[shuffle-audit] FAIL $name: ${e.getMessage}")
      }
      graft.engine.Materialize.release(spark)
    }
    val all = rows.result()
    // ratio is only meaningful against a non-trivial scan: column-pruned
    // parquet reads of the small dimension/event tables report a few KB of
    // input, which turns any shuffle at all into a huge ratio artifact
    val worstRatio = all.filter(_._2 >= 5.0).sortBy(-_._5).take(10)
    val worstVolume = all.sortBy(-_._3).take(10)
    val sb = new StringBuilder
    sb ++= "# SHUFFLE — per-query shuffle-volume audit\n\n"
    sb ++= s"Generated by `sbt \"runMain graft.ShuffleAudit\"` at `$sfDir` " +
      s"(local[$cpus], AQE on). `ratio` = shuffle bytes written / input bytes\n" +
      "read — how much of the scanned data a query re-materializes across the\n" +
      "network. Reading it: scan-dominant relational queries should sit far\n" +
      "below 1 (partial aggregation, broadcast joins, and scan-side projection\n" +
      "are what this measures); tokenize/explode text pipelines legitimately\n" +
      "exceed 1 because their shuffle rows are UNCOMPRESSED n-gram expansions\n" +
      "of a compressed columnar scan — for those the number is a regression\n" +
      "baseline, not a bound. A RELATIONAL query drifting toward 1, or any\n" +
      "query spilling, is the class of scale regression plan-shape tests\n" +
      "cannot see (a plan can keep the right operators and still shuffle\n" +
      "everything).\n\n" +
      "Caveat on `input`: stage-level task metrics count CACHED/CHECKPOINTED\n" +
      "block reads as input bytes, so iterative loops (PageRank, BFS, CC)\n" +
      "report their per-round re-reads of materialized state — that traffic\n" +
      "is memory-local to an executor, not fabric. Their number to watch is\n" +
      "the shuffle column. The same caveat cuts the other way for the\n" +
      "catalog-wide ratio: per-sf LAYOUTS (graph adjacency, LSH signatures,\n" +
      "streamed fragments) remove repeated fact scans from the input\n" +
      "denominator, so the aggregate ratio is only comparable between runs\n" +
      "with the same layout set — per-query shuffle bytes are the stable\n" +
      "cross-round series.\n\n"
    sb ++= s"Audited ${all.size} queries; catalog-wide shuffle:input = "
    val tIn = all.map(_._2).sum; val tWr = all.map(_._3).sum
    // guard like the per-query ratio: a filtered [query ...] subset hitting
    // only generated-data queries records zero input bytes → NaN in the .md
    val tRatio = if (tIn > 0) tWr / tIn else 0.0
    sb ++= f"${tWr}%.0f MB : ${tIn}%.0f MB = ${tRatio}%.3f.\n"
    sb ++= (if (spilledAny) "Disk spills occurred — see run log.\n\n" else "No disk spills.\n\n")
    sb ++= "Largest absolute shuffle volumes (the bytes that hit the fabric first at scale):\n\n"
    sb ++= "| query | input MB | shuffle write MB | shuffle read MB |\n|---|---|---|---|\n"
    for ((n, i, w, r, _) <- worstVolume)
      sb ++= f"| `$n` | $i%.1f | $w%.1f | $r%.1f |\n"
    sb ++= "\nHighest shuffle:input ratios among queries scanning ≥ 5 MB (smaller\n"
    sb ++= "scans read a few KB after column pruning, making the ratio an artifact):\n\n"
    sb ++= "| query | input MB | shuffle write MB | shuffle read MB | ratio |\n|---|---|---|---|---|\n"
    for ((n, i, w, r, q) <- worstRatio)
      sb ++= f"| `$n` | $i%.1f | $w%.1f | $r%.1f | $q%.3f |\n"
    Files.write(Paths.get("SHUFFLE.md"), sb.toString.getBytes("UTF-8"))
    println(s"[shuffle-audit] wrote SHUFFLE.md (${all.size} queries)")
    spark.stop()
  }
}
