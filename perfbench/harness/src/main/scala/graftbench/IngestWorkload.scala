package graftbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit}

import graft.engine.{Canonicalize, Commits, F1Pipeline, Ingest}

/** The F1 ingest workload: a raw season ingested one session at a time into
  * three committed tables (typed laps, telemetry summary, stint summary),
  * each session read back by the lap-times dashboard right after its
  * commit. One operation is one session:
  *
  *  - extract: telemetry samples → `F1Pipeline.telemetrySummary`, typed laps
  *    → `F1Pipeline.stintSummary`, each staged with `Commits.stage`;
  *  - transform: raw laps CSV → `Ingest.readRawCsv` → `Canonicalize.typed`,
  *    staged;
  *  - commit: `Commits.init` for the first session, `commitAppend` after;
  *  - read: `Commits.read` → `F1Pipeline.lapTimesView` →
  *    `withFormattedLapTime` → collect.
  *
  * Every pass writes a fresh table set under the run's work directory and
  * deletes it afterwards, outside the timed window.
  */
final class IngestWorkload(a: Main.Args) extends Workload {
  private val seasonDir = a.dataDir
  private val MB = 1024.0 * 1024.0
  private val tableNames = Seq("laps", "telemetry", "stints")

  private lazy val sessions: Seq[String] =
    Option(new File(seasonDir).list()).toSeq.flatten
      .filter(_.endsWith("_laps.csv")).map(_.stripSuffix("_laps.csv")).sorted

  def validate(): Unit =
    require(sessions.nonEmpty, s"f1_ingest: no raw sessions under $seasonDir")

  private def lapsCsv(s: String) = s"$seasonDir/${s}_laps.csv"
  private def telemetryPath(s: String) = s"$seasonDir/${s}_telemetry.parquet"

  def setUp(spark: SparkSession): Unit = {
    Ingest.readRawCsv(spark, lapsCsv(sessions.head), "laps_data").schema
    spark.read.parquet(telemetryPath(sessions.head)).schema
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete(): Unit
  }

  private def parquetFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.filter(_.getName.endsWith(".parquet"))

  /** Committed rows per session of each table of a pass (empty for a
    * table that cannot be read; the check then names every session). */
  private def committedRows(spark: SparkSession, root: String): Map[String, Map[String, Long]] =
    tableNames.map { t =>
      t -> (try Commits.read(spark, s"$root/$t").groupBy("session").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      catch { case _: Throwable => Map.empty[String, Long] })
    }.toMap

  private val canonicalDir = s"${a.workDir}/outputs/canonical"

  /** The check pass: one untimed pass (number -1); see [[pass]]. */
  def warmUp(spark: SparkSession): Map[String, Any] = {
    pass(spark, -1, traced = false)
    Map("canonical_dir" -> canonicalDir)
  }

  /** One pass over the season into a fresh table set. After the check
    * pass (number -1) the committed laps are re-emitted with
    * `Canonicalize.canonical` for the canonical-string check. */
  def pass(spark: SparkSession, pass: Int, traced: Boolean): PassResult = {
    val root = s"${a.workDir}/tables/p$pass"
    val tel = if (traced) telemetry else None
    val results = sessions.zipWithIndex.map { case (s, i) =>
      session(spark, root, s, i == 0, tel.map(_ -> s"p$pass:$s"))
    }
    val committed = committedRows(spark, root)
    if (pass == -1)
      Canonicalize.canonical(Commits.read(spark, s"$root/laps"), "laps_data")
        .coalesce(1).write.mode("overwrite").parquet(canonicalDir)
    deleteTree(new File(root))
    val isRecordKey = (k: String) => k.contains('.') || k == "fingerprint"
    PassResult(results.map(_.filter { case (k, _) => !isRecordKey(k) }),
      if (traced) results.map(r => r.filter { case (k, _) => isRecordKey(k) } ++
        Map("name" -> r("name"), "e2e_s" -> r("latency_s")))
      else Nil,
      Map("committed_rows" -> committed))
  }

  /** One session, closed loop. Returns its latencies, check counts and, when
    * traced, its per-layer metrics (keys with a dot) and the fingerprint of
    * the read's plan. */
  private def session(spark: SparkSession, root: String, s: String, first: Boolean,
                      trace: Option[(Telemetry, String)]): Map[String, Any] = {
    val gc0 = Main.gcSeconds()
    def phase[T](p: String)(body: => T): (T, Double) = trace match {
      case Some((_, g)) => inGroup(spark, s"$g:$p")(body)
      case None =>
        val t0 = System.nanoTime(); val r = body; (r, Main.secs(t0))
    }
    try {
      val tables = tableNames.map(t => t -> s"$root/$t").toMap
      val typed = Canonicalize.typed(Ingest.readRawCsv(spark, lapsCsv(s), "laps_data"), "laps_data")
        .withColumn("session", lit(s))
      val (staged1, extractS) = phase("extract") {
        val tel = F1Pipeline.telemetrySummary(spark.read.parquet(telemetryPath(s)))
          .withColumn("session", lit(s))
        val stints = F1Pipeline.stintSummary(typed).withColumn("session", lit(s))
        Seq("telemetry" -> Commits.stage(tel, tables("telemetry"), "extract"),
          "stints" -> Commits.stage(stints, tables("stints"), "extract"))
      }
      val (staged2, transformS) = phase("transform") {
        Seq("laps" -> Commits.stage(typed, tables("laps"), "transform"))
      }
      val staged = staged1 ++ staged2
      val (conflicts, commitS) = phase("commit") {
        staged.count { case (t, rel) =>
          if (first) { Commits.init(tables(t), rel); false }
          else Commits.commitAppend(tables(t), Commits.latestVersion(tables(t)), Seq(rel))._2
        }
      }
      val (rows, readS) = phase("read") {
        val laps: DataFrame = Commits.read(spark, tables("laps"))
          .filter(col("session") === s)
          .withColumn("LapTimeSeconds", col("LapTime") / 1000.0)
        F1Pipeline.withFormattedLapTime(
          F1Pipeline.lapTimesView(laps, Nil, accurateOnly = false)).collect().length
      }
      val appendS = extractS + transformS + commitS
      val files = staged.flatMap { case (t, rel) => parquetFiles(new File(tables(t), rel)) }
      val base = Map[String, Any](
        "name" -> s, "latency_s" -> (appendS + readS), "append_s" -> appendS,
        "fresh_read_s" -> readS, "fresh_read_rows" -> rows,
        "stored_bytes" -> files.map(_.length).sum, "error" -> None)
      trace match {
        case None => base
        case Some((tel, g)) =>
          val st = Seq("extract", "transform", "commit", "read").map(p => tel.take(s"$g:$p"))
          val read = tel.lastExecution()
            .getOrElse(throw new IllegalStateException("no query execution reported for the read"))
          val manifestBytes = tables.values.map { t =>
            new File(t, f"_log/v${Commits.latestVersion(t)}%05d.txt").length
          }.sum
          val execS = extractS + transformS + readS
          base ++ Map(
            "fingerprint" -> Main.fingerprint(read.executedPlan.treeString, Seq(root, seasonDir)),
            "f1.extract_s" -> extractS, "f1.transform_s" -> transformS,
            "commits.commit_s" -> commitS, "commits.conflicts" -> conflicts,
            "commits.manifest_bytes" -> manifestBytes,
            "write.output_mb" -> files.map(_.length).sum / MB, "write.files" -> files.size,
            "f1.read_s" -> readS,
            "exec.s" -> execS, "exec.jobs" -> st.map(_.jobs).sum,
            "exec.stages" -> st.map(_.stages).sum, "exec.tasks" -> st.map(_.tasks).sum,
            "exec.task_s" -> st.map(_.runMs).sum / 1000.0, "exec.cpu_s" -> st.map(_.cpuNs).sum / 1e9,
            "exec.input_mb" -> st.map(_.inputBytes).sum / MB,
            "exec.shuffle_write_mb" -> st.map(_.shuffleWriteBytes).sum / MB,
            "exec.shuffle_read_mb" -> st.map(_.shuffleReadBytes).sum / MB,
            "exec.fetch_wait_s" -> st.map(_.fetchWaitMs).sum / 1000.0,
            "exec.spill_mb" -> st.map(_.spillBytes).sum / MB,
            "jvm.gc_s" -> (Main.gcSeconds() - gc0))
      }
    } catch {
      case e: Throwable =>
        trace.foreach { case (tel, g) =>
          spark.sparkContext.clearJobGroup()
          Seq("extract", "transform", "commit", "read").foreach(p => tel.take(s"$g:$p"))
          tel.lastExecution()
        }
        Map("name" -> s, "latency_s" -> 0.0, "error" -> Some(Main.errorText(e)))
    }
  }
}
