package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.engine.{Durations => D}
import graft.plans.GraftExtensions.parseF1Duration

/** The transformer pipeline (SURVEY.md §3.2,
  * /root/reference/src/transform/f1_dataTransformer.py:125-207) re-expressed
  * as two per-table projections: a **validating parse** (all-string raw →
  * typed: durations to millis-long, ISO strings to timestamp, numerics
  * coerced, every failure → NULL, never an exception — §1.3) and a
  * **canonical re-emit** (typed → canonical duration strings with days folded
  * into hours, the "no_dh" invariant).
  *
  * Format migrations from the reference's column maps
  * (f1_dataTransformer.py:100-122): raw MM:SS:mmm qualifying times (Q1–Q3)
  * and raw HH:MM:SS session times re-emit as HH:MM:SS:mmm; per-lap times stay
  * MM:SS:mmm; `Interval` arrives as float seconds.
  *
  * At scale both passes are single codegen'd projections over a partitioned
  * read — the reference's file-at-a-time os.walk becomes one distributed job.
  *
  * Durations parse with the native char parser (`parseF1Duration`, one
  * expression per column). The composed `Durations.parseDurationToMillis`
  * (3 `rlike` + 13 `regexp_extract` per column, slow to plan) is the
  * reference it agrees with on every string (PlansSpec, CanonicalizeSpec).
  */
object Canonicalize {

  /** Per-table conversion spec: which raw string columns hold what. */
  final case class TableSpec(
    durationCols: Seq[String] = Nil,   // custom duration encodings → F6 parse
    secondsCols: Seq[String] = Nil,    // float-seconds strings → millis
    isoCols: Seq[String] = Nil,        // ISO-8601 strings → timestamp
    intCols: Seq[String] = Nil,
    doubleCols: Seq[String] = Nil,
    boolCols: Seq[String] = Nil,
    // canonical emit format per duration column: true → HH:MM:SS:mmm, false → MM:SS:mmm
    emitHms: Map[String, Boolean] = Map.empty)

  val specs: Map[String, TableSpec] = Map(
    "event_info" -> TableSpec(
      isoCols = Seq("EventDate", "SessionStartDateLocalISO", "SessionStartDateUTCISO"),
      intCols = Seq("Year")),
    "session_results" -> TableSpec(
      durationCols = Seq("Time", "Q1", "Q2", "Q3"),
      secondsCols = Seq("Interval"),
      intCols = Seq("Position", "Laps"),
      emitHms = Map("Time" -> true, "Q1" -> true, "Q2" -> true, "Q3" -> true,
        "Interval" -> true)),
    "laps_data" -> TableSpec(
      durationCols = Seq("LapTime", "Sector1Time", "Sector2Time", "Sector3Time",
        "Time", "PitInTime", "PitOutTime",
        "Sector1SessionTime", "Sector2SessionTime", "Sector3SessionTime", "LapStartTime"),
      intCols = Seq("LapNumber", "Stint", "TyreLife"),
      boolCols = Seq("IsAccurate"),
      emitHms = Map("LapTime" -> false, "Sector1Time" -> false, "Sector2Time" -> false,
        "Sector3Time" -> false, "Time" -> true, "PitInTime" -> true, "PitOutTime" -> true,
        "Sector1SessionTime" -> true, "Sector2SessionTime" -> true,
        "Sector3SessionTime" -> true, "LapStartTime" -> true)),
    "lap_telemetry_summary" -> TableSpec(
      secondsCols = Seq("TelemetryLapStartTime_seconds"),
      intCols = Seq("LapNumber", "TotalGearChanges"),
      doubleCols = Seq("AvgSpeed", "MaxSpeed", "MinSpeed", "AvgRPM", "MaxRPM",
        "AvgThrottle", "AvgBrake", "MaxDistance"),
      boolCols = Seq("DRSActive"),
      emitHms = Map("TelemetryLapStartTime_seconds" -> true)),
    "weather_data" -> TableSpec(
      durationCols = Seq("Time"),
      doubleCols = Seq("AirTemp", "TrackTemp", "Humidity", "Pressure", "WindSpeed"),
      boolCols = Seq("Rainfall"),
      emitHms = Map("Time" -> true)),
    "tyre_stints_summary" -> TableSpec(
      intCols = Seq("StintNumber", "StartLap", "EndLap", "NumLapsInStint")))

  private val naTokens = Seq("", "nan", "NaN", "NaT", "None", "null", "NULL", "<NA>")

  private def cleaned(c: Column): Column =
    when(trim(c).isin(naTokens: _*), lit(null)).otherwise(trim(c))

  /** raw all-string frame → typed frame (total: bad cells become NULL). */
  def typed(raw: DataFrame, table: String,
            parseDuration: Column => Column = parseF1Duration): DataFrame = {
    val spec = specs(table)
    val out = raw.columns.map { name =>
      val c = cleaned(col(name))
      val e =
        if (spec.durationCols.contains(name)) parseDuration(c)
        else if (spec.secondsCols.contains(name)) D.secondsToMillis(c.try_cast("double"))
        else if (spec.isoCols.contains(name)) to_timestamp(c)
        else if (spec.intCols.contains(name)) {
          // via double so "3.0" parses, but range-guarded: under ANSI mode a
          // bare double→int cast THROWS on out-of-range (e.g. "3e9") or NaN,
          // violating the every-failure→NULL contract. try_cast('int') alone
          // would instead reject float-formatted integers.
          val d = c.try_cast("double")
          when(d.between(Int.MinValue.toDouble, Int.MaxValue.toDouble), d.cast("int"))
        }
        else if (spec.doubleCols.contains(name)) c.try_cast("double")
        else if (spec.boolCols.contains(name)) D.boolCoerce(c)
        else c
      e.as(name)
    }
    raw.select(out.toSeq: _*)
  }

  /** typed frame → canonical string re-emit (durations re-formatted; the
    * parse→format round trip is the reference's validating canonicalizer). */
  def canonical(typedDf: DataFrame, table: String): DataFrame = {
    val spec = specs(table)
    val durCols = spec.durationCols ++ spec.secondsCols
    val out = typedDf.columns.map { name =>
      val c = col(name)
      val e =
        if (durCols.contains(name)) {
          if (spec.emitHms.getOrElse(name, true)) D.formatMillisToHhMmSsMs(c)
          else D.formatMillisToMmSsMs(c)
        }
        else if (spec.isoCols.contains(name)) date_format(c, "yyyy-MM-dd'T'HH:mm:ss")
        else c.cast("string")
      e.as(name)
    }
    typedDf.select(out.toSeq: _*)
  }
}
