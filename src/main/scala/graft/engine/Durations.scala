package graft.engine

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference's signature scalar domain: custom duration string codecs
  * (SURVEY.md §2.8 F1–F18; formats defined at
  * /root/reference/src/extract/f1_dataExtractor.py:38-118, inverses at
  * /root/reference/src/transform/f1_dataTransformer.py:11-95,
  * /root/reference/streamlit_app.py:41-72).
  *
  * Everything is a `Column => Column` composition of built-ins — no UDFs —
  * so the whole codec stays inside whole-stage codegen (SURVEY.md §2.10
  * policy). Durations are carried as **milliseconds in a LongType** column.
  *
  * Observable-semantics notes (SURVEY.md §7.4 hard parts):
  *  - F17 sign handling: sign is split off and abs() taken *before* any
  *    div/mod, so -62.345s renders "-01:02:345", never "-01:-02:-345".
  *  - F18 rounding asymmetry: the extractor formatters (F2–F4) *round* to the
  *    unit; the transformer/dashboard formatters (F7, F9) *truncate*. Both are
  *    preserved as `msRounded` vs `msTruncated`. We standardize "round" as
  *    round-half-up via floor(x*1000 + 0.5) — deterministic and identical in
  *    Spark and DuckDB (the reference's Python round() is banker's rounding;
  *    at the half-millisecond boundary on float inputs the difference is not
  *    observable in practice and a fixed rule keeps oracles exact).
  *  - Totality (SURVEY.md §1.3): parse never throws; unparseable → NULL.
  */
object Durations {

  /** F17: "-" for negative durations, "" otherwise. */
  def signStr(sec: Column): Column = when(sec < 0, lit("-")).otherwise(lit(""))

  /** F18 (rounding flavor): seconds → non-negative total milliseconds, round-half-up. */
  def msRounded(sec: Column): Column = floor(abs(sec) * 1000 + 0.5).cast("long")

  /** F18 (truncating flavor): seconds → non-negative total milliseconds. */
  def msTruncated(sec: Column): Column = floor(abs(sec) * 1000).cast("long")

  private def idiv(a: Column, b: Long): Column = floor(a / b).cast("long")

  /** F2 (f1_dataExtractor.py:38-56): seconds → `[-]MM:SS:mmm`, minutes
    * unbounded zero-padded-2, milliseconds rounded. */
  def formatSecondsToMmSsMs(sec: Column): Column = {
    val ms = msRounded(sec)
    when(sec.isNull, lit(null)).otherwise(
      concat(signStr(sec), format_string("%02d:%02d:%03d",
        idiv(ms, 60000L), idiv(ms, 1000L) % 60, ms % 1000)))
  }

  /** F3 (f1_dataExtractor.py:59-77): seconds → `[-]HH:MM:SS`, rounded to s. */
  def formatSecondsToHhMmSs(sec: Column): Column = {
    val s = floor(abs(sec) + 0.5).cast("long")
    when(sec.isNull, lit(null)).otherwise(
      concat(signStr(sec), format_string("%02d:%02d:%02d",
        idiv(s, 3600L), idiv(s, 60L) % 60, s % 60)))
  }

  /** F4 (f1_dataExtractor.py:80-100): seconds → `[-]HH:MM:SS:mmm` (note `:`
    * before millis, not `.`), milliseconds rounded. */
  def formatSecondsToHhMmSsMs(sec: Column): Column = {
    val ms = msRounded(sec)
    when(sec.isNull, lit(null)).otherwise(
      concat(signStr(sec), format_string("%02d:%02d:%02d:%03d",
        idiv(ms, 3600000L), idiv(ms, 60000L) % 60, idiv(ms, 1000L) % 60, ms % 1000)))
  }

  /** F9 (streamlit_app.py:61-72): seconds → `HH:MM:SS:mmm`, truncating, no
    * sign handling (the dashboard variant). */
  def formatSecondsToHmsMsTrunc(sec: Column): Column = {
    val ms = msTruncated(sec)
    when(sec.isNull, lit(null)).otherwise(
      format_string("%02d:%02d:%02d:%03d",
        idiv(ms, 3600000L), idiv(ms, 60000L) % 60, idiv(ms, 1000L) % 60, ms % 1000))
  }

  /** F7 (f1_dataTransformer.py:67-95): typed duration (millis long) →
    * `[-]HH:MM:SS:mmm`, days folded into hours ("no_dh"), truncating. */
  def formatMillisToHhMmSsMs(millis: Column): Column = {
    val ms = abs(millis)
    when(millis.isNull, lit(null)).otherwise(
      concat(when(millis < 0, lit("-")).otherwise(lit("")),
        format_string("%02d:%02d:%02d:%03d",
          idiv(ms, 3600000L), idiv(ms, 60000L) % 60, idiv(ms, 1000L) % 60, ms % 1000)))
  }

  /** F7b (f1_dataTransformer.py:80-95): millis → `[-]MM:SS:mmm`. */
  def formatMillisToMmSsMs(millis: Column): Column = {
    val ms = abs(millis)
    when(millis.isNull, lit(null)).otherwise(
      concat(when(millis < 0, lit("-")).otherwise(lit("")),
        format_string("%02d:%02d:%03d", idiv(ms, 60000L), idiv(ms, 1000L) % 60, ms % 1000)))
  }

  // F6 dispatch regexes (f1_dataTransformer.py:11-64): the three encodings are
  // distinguished by group count and last-group width.
  //
  // DELIBERATE width leniency vs the reference: its regexes demand exactly
  // 2-digit groups (f1_dataTransformer.py:27,40,53), yet its own formatters
  // emit unbounded hours/minutes via %02d (f1_dataTransformer.py:79), so the
  // reference rejects its own output beyond 99 h. Graft instead accepts an
  // unbounded-width leading group and 1-2 digit mid groups, making
  // parse∘format the identity on the formatters' full range. The leading
  // group is capped at 7 digits (≈ 9.9 M hours; max ≈ 3.6e13 ms, far inside
  // Long) so oversized digit runs coerce to NULL instead of overflowing —
  // the same bound the native ParseF1Duration enforces.
  private val ReMmSsMs = "^(-?)(\\d{1,7}):(\\d{1,2}):(\\d{3})$"
  private val ReHhMmSsMs = "^(-?)(\\d{1,7}):(\\d{1,2}):(\\d{1,2}):(\\d{3})$"
  private val ReHhMmSs = "^(-?)(\\d{1,7}):(\\d{1,2}):(\\d{1,2})$"

  private def grp(s: Column, re: String, i: Int): Column =
    regexp_extract(s, re, i).cast("long")
  private def signOf(s: Column, re: String): Column =
    when(regexp_extract(s, re, 1) === "-", lit(-1L)).otherwise(lit(1L))

  /** F6 (f1_dataTransformer.py:11-64): sign-aware regex-dispatch parse of the
    * three duration encodings → millis LongType; no-match / 'nan' / 'nat' /
    * empty → NULL (never throws — SURVEY.md §1.3).
    * The REFERENCE implementation (f6_parse_edges, PlansSpec): the engine
    * runs the native `graft.plans.ParseF1Duration`, which agrees with it on
    * every string and plans one expression instead of 16 regex calls. */
  def parseDurationToMillis(s0: Column): Column = {
    val s = trim(s0)
    val lowered = lower(s)
    when(s.isNull || lowered.isin("nan", "nat", "none", ""), lit(null).cast("long"))
      // 4-group form must be tried first: "01:02:03:456" also tail-matches
      // the 3-group patterns only if they were anchored differently.
      .when(s.rlike(ReHhMmSsMs),
        signOf(s, ReHhMmSsMs) * (grp(s, ReHhMmSsMs, 2) * 3600000L +
          grp(s, ReHhMmSsMs, 3) * 60000L + grp(s, ReHhMmSsMs, 4) * 1000L +
          grp(s, ReHhMmSsMs, 5)))
      .when(s.rlike(ReMmSsMs),
        signOf(s, ReMmSsMs) * (grp(s, ReMmSsMs, 2) * 60000L +
          grp(s, ReMmSsMs, 3) * 1000L + grp(s, ReMmSsMs, 4)))
      .when(s.rlike(ReHhMmSs),
        signOf(s, ReHhMmSs) * (grp(s, ReHhMmSs, 2) * 3600000L +
          grp(s, ReHhMmSs, 3) * 60000L + grp(s, ReHhMmSs, 4) * 1000L))
      .otherwise(lit(null).cast("long"))
  }

  /** F1 (f1_dataExtractor.py:28-35): anything numeric-like → float seconds,
    * else NULL. Millis-long columns divide; strings try-cast. */
  def robustToSeconds(c: Column): Column = c.try_cast("double")

  /** F13 (streamlit_app.py:85-89): tri-state string → boolean; unknown → false
    * (NOT null — reference defaults False). */
  def boolCoerce(s: Column): Column =
    when(lower(trim(s)).isin("true", "1", "1.0"), lit(true))
      .when(lower(trim(s)).isin("false", "0", "0.0"), lit(false))
      .otherwise(lit(false))

  /** F15 (f1_dataExtractor.py:129-134): filesystem-safe name. */
  def fsSafeName(s: Column): Column = regexp_replace(s, "[ /]", "_")

  /** F12 (f1_dataTransformer.py:178): float seconds → millis long (round-half). */
  def secondsToMillis(sec: Column): Column =
    (signum(sec) * floor(abs(sec) * 1000 + 0.5)).cast("long")
}
