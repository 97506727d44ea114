package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.{Durations => D}
import graft.engine.Tables.{load => t}

/** Scalar-function catalog — SURVEY.md §2.8 (the duration codec F2–F18, bool
  * coercion, ISO parse, numeric coercion) plus the JSON scalar surface the
  * synthetic `events.props` column motivates.
  *
  * Each query derives deterministic inputs from table columns (pure IEEE
  * arithmetic — bit-identical in Spark and DuckDB), applies the engine
  * function, and the oracle replicates the exact formula in SQL. This pins the
  * codec semantics (sign handling F17, round-vs-truncate F18, totality §1.3)
  * against an independent implementation.
  */
object Scalars {
  type Q = (SparkSession, String) => DataFrame

  // ---- SQL builders mirroring Durations.* (DuckDB dialect) ----------------
  private def sqlSign(sec: String) = s"(CASE WHEN $sec < 0 THEN '-' ELSE '' END)"
  private def sqlMsR(sec: String) = s"CAST(floor(abs($sec) * 1000 + 0.5) AS BIGINT)"
  private def sqlMsT(sec: String) = s"CAST(floor(abs($sec) * 1000) AS BIGINT)"

  private def sqlFmtMmSsMs(sec: String) =
    s"(CASE WHEN $sec IS NULL THEN NULL ELSE ${sqlSign(sec)} || " +
    s"printf('%02d:%02d:%03d', ${sqlMsR(sec)} // 60000, (${sqlMsR(sec)} // 1000) % 60, ${sqlMsR(sec)} % 1000) END)"

  private def sqlFmtHhMmSs(sec: String) = {
    val s = s"CAST(floor(abs($sec) + 0.5) AS BIGINT)"
    s"(CASE WHEN $sec IS NULL THEN NULL ELSE ${sqlSign(sec)} || " +
    s"printf('%02d:%02d:%02d', $s // 3600, ($s // 60) % 60, $s % 60) END)"
  }

  private def sqlFmtHhMmSsMs(sec: String) =
    s"(CASE WHEN $sec IS NULL THEN NULL ELSE ${sqlSign(sec)} || " +
    s"printf('%02d:%02d:%02d:%03d', ${sqlMsR(sec)} // 3600000, (${sqlMsR(sec)} // 60000) % 60, " +
    s"(${sqlMsR(sec)} // 1000) % 60, ${sqlMsR(sec)} % 1000) END)"

  private def sqlFmtMillis(ms: String) =
    s"(CASE WHEN $ms IS NULL THEN NULL ELSE (CASE WHEN $ms < 0 THEN '-' ELSE '' END) || " +
    s"printf('%02d:%02d:%02d:%03d', abs($ms) // 3600000, (abs($ms) // 60000) % 60, " +
    s"(abs($ms) // 1000) % 60, abs($ms) % 1000) END)"

  /** F6 parse in DuckDB SQL (regex-dispatch, same patterns as Durations). */
  private def sqlParse(sv: String) = {
    val s = s"trim($sv)"
    val re4 = "'^(-?)(\\d{1,7}):(\\d{1,2}):(\\d{1,2}):(\\d{3})$'"
    val re3m = "'^(-?)(\\d{1,7}):(\\d{1,2}):(\\d{3})$'"
    val re3h = "'^(-?)(\\d{1,7}):(\\d{1,2}):(\\d{1,2})$'"
    def g(re: String, i: Int) = s"CAST(regexp_extract($s, $re, $i) AS BIGINT)"
    def sg(re: String) = s"(CASE WHEN regexp_extract($s, $re, 1) = '-' THEN -1 ELSE 1 END)"
    s"""(CASE
       | WHEN $sv IS NULL OR lower($s) IN ('nan','nat','none','') THEN NULL
       | WHEN regexp_matches($s, $re4) THEN ${sg(re4)} * (${g(re4, 2)}*3600000 + ${g(re4, 3)}*60000 + ${g(re4, 4)}*1000 + ${g(re4, 5)})
       | WHEN regexp_matches($s, $re3m) THEN ${sg(re3m)} * (${g(re3m, 2)}*60000 + ${g(re3m, 3)}*1000 + ${g(re3m, 4)})
       | WHEN regexp_matches($s, $re3h) THEN ${sg(re3h)} * (${g(re3h, 2)}*3600000 + ${g(re3h, 3)}*60000 + ${g(re3h, 4)}*1000)
       | ELSE NULL END)""".stripMargin.replaceAll("\n", " ")
  }

  // F6 golden edge strings (FIXTURES.md §A golden-test rows).
  private val parseEdges = Seq(
    "-00:01:02:345", "00:00:00:000", "61:09:999", "01:02:03:456",
    "-01:02:03:456", "12:34:56", "nan", "NaT", "", "12:34", "00:00:3.5",
    " 01:02:345 ", "1:2:345", "none", "99:59:59:999",
    // oversized leading groups: 7 digits parses, 8+ (and a >Long 20-digit
    // run) coerce to NULL instead of throwing from parseLong/overflowing
    "1234567:00:00", "12345678:00:00", "99999999999999999999:00:00")

  // OPTIMIZATION r14 (guide §1.4/§2.3): every face whose output is a
  // row-level frame under a global orderBy used to evaluate its expensive
  // string codecs BELOW the range exchange — and a range exchange runs a
  // SAMPLING job that re-executes its whole child plan to pick partition
  // bounds, so each format_string/regex/JSON projection ran TWICE per row,
  // and the shuffle carried the derived strings instead of the narrow
  // numeric inputs. The faces now sort the narrow (keys, numeric input)
  // frame and apply the codec projection ABOVE the Sort: identical rows in
  // identical order (the projection is order-preserving), half the codec
  // evaluations, and the exchange row shrinks to the input columns.
  // Measured at sf0.1 (isolated 5-run medians): f2 3.46→1.10,
  // f4 1.53→1.07, f6 1.41→1.16, f7 1.30→0.84, f8 1.70→0.64 (the
  // before/after plan dumps are in the git history of round 14).
  val queries: Map[String, Q] = Map(
    // F2: seconds → MM:SS:mmm (round-half, sign-aware, minutes unbounded).
    "f2_format_mmssms" -> ((s, d) =>
      t(s, d, "lineitem")
        .withColumn("sec", col("l_extendedprice") / 7.0 - 4000.0)
        .select("l_orderkey", "l_linenumber", "sec")
        .orderBy("l_orderkey", "l_linenumber")
        .select(col("l_orderkey"), col("l_linenumber"), col("sec"),
          D.formatSecondsToMmSsMs(col("sec")).as("dur"))),

    // F3: seconds → HH:MM:SS (rounded to whole seconds).
    "f3_format_hhmmss" -> ((s, d) =>
      t(s, d, "events")
        .withColumn("sec", col("value") * 137.3 - 5000.0)
        .select("event_id", "sec")
        .orderBy("event_id")
        .select(col("event_id"), col("sec"),
          D.formatSecondsToHhMmSs(col("sec")).as("dur"))),

    // F4 + F9: seconds → HH:MM:SS:mmm, rounding vs truncating (F18 asymmetry).
    "f4_format_hhmmssms" -> ((s, d) =>
      t(s, d, "orders")
        .withColumn("sec", col("o_totalprice") / 3.0 - 30000.0)
        .select("o_orderkey", "sec")
        .orderBy("o_orderkey")
        .select(col("o_orderkey"), col("sec"),
          D.formatSecondsToHhMmSsMs(col("sec")).as("dur_round"),
          D.formatSecondsToHmsMsTrunc(abs(col("sec"))).as("dur_trunc"))),

    // F7: millis-long → HH:MM:SS:mmm and MM:SS:mmm (truncating, days folded).
    "f7_format_millis" -> ((s, d) =>
      t(s, d, "orders")
        .withColumn("ms", (when(col("o_orderkey") % 2 === 0, 1).otherwise(-1) *
          floor(col("o_totalprice") * 100)).cast("long"))
        .select("o_orderkey", "ms")
        .orderBy("o_orderkey")
        .select(col("o_orderkey"), col("ms"),
          D.formatMillisToHhMmSsMs(col("ms")).as("dur_hms"),
          D.formatMillisToMmSsMs(col("ms")).as("dur_ms"))),

    // F6: format → parse round-trip on table-derived durations. Parsing uses
    // the NATIVE codegen expression (graft.plans.ParseF1Duration) — same
    // semantics as the composed regex version (PlansSpec agreement property),
    // ~4× faster (hand-rolled char parser, no regex).
    "f6_parse_roundtrip" -> ((s, d) =>
      t(s, d, "orders")
        .withColumn("sec", col("o_totalprice") / 3.0 - 30000.0)
        .select("o_orderkey", "sec")
        .orderBy("o_orderkey")
        .withColumn("s_mmssms", D.formatSecondsToMmSsMs(col("sec")))
        .withColumn("s_hhmmssms", D.formatSecondsToHhMmSsMs(col("sec")))
        .withColumn("ms_from_mmssms", graft.plans.GraftExtensions.parseF1Duration(col("s_mmssms")))
        .withColumn("ms_from_hhmmssms", graft.plans.GraftExtensions.parseF1Duration(col("s_hhmmssms")))
        .select("o_orderkey", "s_mmssms", "s_hhmmssms", "ms_from_mmssms", "ms_from_hhmmssms")),

    // F6 golden edges: the FIXTURES.md §A malformed/edge strings → millis/NULL.
    "f6_parse_edges" -> ((s, d) => {
      val _ = t(s, d, "region") // keep signature uniform; inputs are literals
      val lits = parseEdges.map(lit)
      s.range(1).select(posexplode(array(lits: _*)).as(Seq("idx", "s")))
        .withColumn("idx", col("idx").cast("bigint"))
        .withColumn("ms", D.parseDurationToMillis(col("s")))
        .select("idx", "s", "ms")
        .orderBy("idx")
    }),

    // F8: HH:MM:SS:mmm string → float seconds (coercing). The parse runs
    // through the engine's parser, the native codegen expression
    // (graft.plans.ParseF1Duration), as Canonicalize.typed does. The
    // composed regex parser is the reference it must agree with on every
    // string (PlansSpec edges and fuzz); f6_parse_edges runs that
    // reference. Composed, the parse is 3 RLIKEs + 13 regexp_extracts per
    // row, and it dominated this face's plan and run time.
    "f8_safe_seconds" -> ((s, d) =>
      t(s, d, "orders")
        .withColumn("sec_in", col("o_totalprice") / 3.0 - 30000.0)
        .select("o_orderkey", "sec_in")
        .orderBy("o_orderkey")
        .withColumn("dur", D.formatSecondsToHhMmSsMs(col("sec_in")))
        .withColumn("sec_out",
          graft.plans.GraftExtensions.parseF1Duration(col("dur"))
            .cast("double") / 1000.0)
        .select("o_orderkey", "dur", "sec_out")),

    // P2: column-reorder projection (f1_dataExtractor.py:296-300 — named
    // columns first, remaining columns in original order).
    "p2_reorder" -> ((s, d) => {
      val df = t(s, d, "part")
      val firstCols = Seq("p_brand", "p_type")
      val rest = df.columns.filterNot(firstCols.contains)
      df.select((firstCols ++ rest).map(col): _*).orderBy("p_partkey")
    }),

    // F5: timestamp → wall-clock `HH:mm:ss:SSS` (Java patterns lack `:SSS`,
    // so compose date_format + millis — f1_dataExtractor.py:103-118).
    "f5_format_wallclock" -> ((s, d) =>
      t(s, d, "events")
        .select("event_id", "ts")
        .orderBy("event_id")
        .select(col("event_id"),
          concat(date_format(col("ts"), "HH:mm:ss"), lit(":"),
            format_string("%03d", (floor(unix_micros(col("ts")) / 1000) % 1000).cast("int")))
            .as("wallclock"),
          date_format(col("ts"), "HH:mm:ss").as("wallclock_s"))),

    // F14: bool-else-numeric-else-false fallback (streamlit_app.py:127-139) —
    // the two-pass Rainfall rule: per-partition-key column profile decides the
    // coercion strategy; all-null → literal false.
    "f14_bool_fallback" -> ((s, d) => {
      val src = t(s, d, "events")
        // three column shapes keyed by event_type: boolish / numeric / garbage
        .withColumn("raw", when(col("event_type").isin("click", "view"),
            when(col("value") > 150, "True").otherwise("False"))
          .when(col("event_type") === "purchase", floor(col("value")).cast("long").cast("string"))
          .otherwise(lit("n/a")))
      val hasBool = max(when(lower(col("raw")).isin("true", "false", "1", "0", "1.0", "0.0"), 1)
        .otherwise(0)).as("has_bool")
      val profile = src.groupBy(col("event_type").as("et")).agg(hasBool)
      src.join(broadcast(profile), src("event_type") === profile("et"))
        .withColumn("b", when(col("has_bool") === 1,
            lower(col("raw")).isin("true", "1", "1.0"))
          .otherwise(coalesce(col("raw").try_cast("double") > 0, lit(false))))
        .select("event_id", "raw", "b")
        .orderBy("event_id")
    }),

    // F10: ISO-8601 timestamp round-trip (format → coercing parse).
    "f10_iso_roundtrip" -> ((s, d) =>
      t(s, d, "orders")
        .select("o_orderkey", "o_orderdate")
        .orderBy("o_orderkey")
        .withColumn("iso", date_format(col("o_orderdate"), "yyyy-MM-dd HH:mm:ss"))
        .withColumn("parsed", to_timestamp(col("iso")))
        .select("o_orderkey", "iso", "parsed")),

    // F11: forgiving numeric coercion (try_cast; garbage → NULL).
    "f11_numeric_coerce" -> ((s, d) =>
      t(s, d, "events")
        .select("event_id", "user_id")
        .orderBy("event_id")
        .withColumn("s", when(col("user_id") % 3 === 0, concat(lit("x"), col("user_id").cast("string")))
          .otherwise(col("user_id").cast("string")))
        .withColumn("n", expr("try_cast(s AS BIGINT)"))
        .withColumn("sec", D.robustToSeconds(col("s")))
        .select("event_id", "s", "n", "sec")),

    // F12: float seconds → millis long (round-half, sign-preserving).
    "f12_seconds_to_millis" -> ((s, d) =>
      t(s, d, "events")
        .withColumn("sec", col("value") - 150.0)
        .withColumn("ms", D.secondsToMillis(col("sec")))
        .select("event_id", "sec", "ms")
        .orderBy("event_id")),

    // F13: tri-state string → bool, unknown → false (not null).
    "f13_bool_coerce" -> ((s, d) =>
      t(s, d, "events")
        .withColumn("s", element_at(
          array(lit("true"), lit("1"), lit("1.0"), lit("False"), lit("0"), lit("0.0"), lit("junk")),
          (col("event_id") % 7 + 1).cast("int")))
        .withColumn("b", D.boolCoerce(col("s")))
        .select("event_id", "s", "b")
        .orderBy("event_id")),

    // F15: filesystem-safe names.
    "f15_fs_safe" -> ((s, d) =>
      t(s, d, "part")
        .withColumn("safe_type", D.fsSafeName(col("p_type")))
        .withColumn("safe_name", D.fsSafeName(col("p_name")))
        .select("p_partkey", "safe_type", "safe_name")
        .orderBy("p_partkey")),

    // F16: string concat projection.
    "f16_concat" -> ((s, d) =>
      t(s, d, "customer")
        .withColumn("label", concat(col("c_name"), lit(" - "), col("c_mktsegment"),
          lit(" #"), col("c_custkey").cast("string")))
        .select("c_custkey", "label")
        .orderBy("c_custkey")),

    // JSON scalar path 1: get_json_object (string extraction).
    "json_get" -> ((s, d) =>
      t(s, d, "events")
        .withColumn("k", get_json_object(col("props"), "$.k").cast("bigint"))
        .select("event_id", "k")
        .orderBy("event_id")),

    // JSON → MapType → explode (map_keys/map_values surface).
    // OPTIMIZATION r14 (guide §3.3/§2.3 — explode multiplies the shuffle;
    // the sort key `key` derives from the parse, so the codec cannot move
    // wholly above a global orderBy like the f-faces): range-partition
    // the RAW (event_id, props) rows first — the exchange carries one row
    // per event instead of one per map entry, and the range sampler scans
    // only the raw projection — then parse + explode ONCE per row after
    // the exchange and sort within partitions ((event_id, key) order =
    // range on event_id + in-partition sort, since an event's entries
    // never straddle a range boundary).
    "json_map_explode" -> ((s, d) =>
      t(s, d, "events")
        .select("event_id", "props")
        .repartitionByRange(col("event_id"))
        .withColumn("m", from_json(col("props"), lit("map<string,bigint>")))
        .select(col("event_id"), explode(col("m")))
        .select(col("event_id"), col("key"), col("value"))
        .sortWithinPartitions("event_id", "key")),

    // JSON scalar path 2: from_json into a typed struct, then aggregate.
    "json_struct_agg" -> ((s, d) =>
      t(s, d, "events")
        .withColumn("j", from_json(col("props"), lit("k BIGINT")))
        .groupBy("event_type")
        .agg(sum(col("j.k")).as("sum_k"), avg(col("j.k")).as("avg_k"),
             count(lit(1)).as("n"))
        .withColumn("avg_k", round(col("avg_k"), 4))
        .orderBy("event_type"))
  )

  val oracles: Map[String, String] = Map(
    "f2_format_mmssms" ->
      s"""SELECT l_orderkey, l_linenumber, l_extendedprice / 7.0 - 4000.0 AS sec,
         |  ${sqlFmtMmSsMs("(l_extendedprice / 7.0 - 4000.0)")} AS dur
         |FROM lineitem ORDER BY l_orderkey, l_linenumber""".stripMargin,

    "f3_format_hhmmss" ->
      s"""SELECT event_id, value * 137.3 - 5000.0 AS sec,
         |  ${sqlFmtHhMmSs("(value * 137.3 - 5000.0)")} AS dur
         |FROM events ORDER BY event_id""".stripMargin,

    "f4_format_hhmmssms" ->
      s"""SELECT o_orderkey, o_totalprice / 3.0 - 30000.0 AS sec,
         |  ${sqlFmtHhMmSsMs("(o_totalprice / 3.0 - 30000.0)")} AS dur_round,
         |  (CASE WHEN abs(o_totalprice / 3.0 - 30000.0) IS NULL THEN NULL ELSE
         |    printf('%02d:%02d:%02d:%03d',
         |      ${sqlMsT("(o_totalprice / 3.0 - 30000.0)")} // 3600000,
         |      (${sqlMsT("(o_totalprice / 3.0 - 30000.0)")} // 60000) % 60,
         |      (${sqlMsT("(o_totalprice / 3.0 - 30000.0)")} // 1000) % 60,
         |      ${sqlMsT("(o_totalprice / 3.0 - 30000.0)")} % 1000) END) AS dur_trunc
         |FROM orders ORDER BY o_orderkey""".stripMargin,

    "f7_format_millis" ->
      s"""SELECT o_orderkey, ms, ${sqlFmtMillis("ms")} AS dur_hms,
         |  (CASE WHEN ms IS NULL THEN NULL ELSE (CASE WHEN ms < 0 THEN '-' ELSE '' END) ||
         |    printf('%02d:%02d:%03d', abs(ms) // 60000, (abs(ms) // 1000) % 60, abs(ms) % 1000) END) AS dur_ms
         |FROM (SELECT o_orderkey,
         |        CAST((CASE WHEN o_orderkey % 2 = 0 THEN 1 ELSE -1 END) * floor(o_totalprice * 100) AS BIGINT) AS ms
         |      FROM orders)
         |ORDER BY o_orderkey""".stripMargin,

    "f6_parse_roundtrip" ->
      s"""SELECT o_orderkey, s_mmssms, s_hhmmssms,
         |  ${sqlParse("s_mmssms")} AS ms_from_mmssms,
         |  ${sqlParse("s_hhmmssms")} AS ms_from_hhmmssms
         |FROM (SELECT o_orderkey,
         |        ${sqlFmtMmSsMs("(o_totalprice / 3.0 - 30000.0)")} AS s_mmssms,
         |        ${sqlFmtHhMmSsMs("(o_totalprice / 3.0 - 30000.0)")} AS s_hhmmssms
         |      FROM orders)
         |ORDER BY o_orderkey""".stripMargin,

    "f6_parse_edges" -> {
      val values = parseEdges.zipWithIndex
        .map { case (s, i) => s"($i, '${s.replace("'", "''")}')" }.mkString(", ")
      s"""SELECT CAST(idx AS BIGINT) AS idx, s, ${sqlParse("s")} AS ms
         |FROM (VALUES $values) AS t(idx, s)
         |ORDER BY idx""".stripMargin
    },

    "f8_safe_seconds" ->
      s"""SELECT o_orderkey, dur, CAST(${sqlParse("dur")} AS DOUBLE) / 1000.0 AS sec_out
         |FROM (SELECT o_orderkey, ${sqlFmtHhMmSsMs("(o_totalprice / 3.0 - 30000.0)")} AS dur FROM orders)
         |ORDER BY o_orderkey""".stripMargin,

    "p2_reorder" ->
      """SELECT p_brand, p_type, p_partkey, p_name, p_size, p_retailprice
        |FROM part ORDER BY p_partkey""".stripMargin,

    "f5_format_wallclock" ->
      """SELECT event_id,
        |  strftime(ts, '%H:%M:%S') || ':' || printf('%03d', CAST(floor(epoch_us(ts) / 1000) % 1000 AS INTEGER)) AS wallclock,
        |  strftime(ts, '%H:%M:%S') AS wallclock_s
        |FROM events ORDER BY event_id""".stripMargin,

    "f14_bool_fallback" ->
      """WITH src AS (
        |  SELECT event_id, event_type,
        |    CASE WHEN event_type IN ('click', 'view')
        |           THEN CASE WHEN value > 150 THEN 'True' ELSE 'False' END
        |         WHEN event_type = 'purchase' THEN CAST(CAST(floor(value) AS BIGINT) AS VARCHAR)
        |         ELSE 'n/a' END AS raw
        |  FROM events),
        |profile AS (
        |  SELECT event_type AS et,
        |    max(CASE WHEN lower(raw) IN ('true','false','1','0','1.0','0.0') THEN 1 ELSE 0 END) AS has_bool
        |  FROM src GROUP BY 1)
        |SELECT event_id, raw,
        |  CASE WHEN has_bool = 1 THEN lower(raw) IN ('true','1','1.0')
        |       ELSE coalesce(TRY_CAST(raw AS DOUBLE) > 0, false) END AS b
        |FROM src JOIN profile ON src.event_type = profile.et
        |ORDER BY event_id""".stripMargin,

    "f10_iso_roundtrip" ->
      """SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS iso,
        |  CAST(strftime(o_orderdate, '%Y-%m-%d %H:%M:%S') AS TIMESTAMP) AS parsed
        |FROM orders ORDER BY o_orderkey""".stripMargin,

    "f11_numeric_coerce" ->
      """SELECT event_id, s, TRY_CAST(s AS BIGINT) AS n, TRY_CAST(s AS DOUBLE) AS sec
        |FROM (SELECT event_id,
        |        CASE WHEN user_id % 3 = 0 THEN 'x' || CAST(user_id AS VARCHAR)
        |             ELSE CAST(user_id AS VARCHAR) END AS s
        |      FROM events)
        |ORDER BY event_id""".stripMargin,

    "f12_seconds_to_millis" ->
      """SELECT event_id, value - 150.0 AS sec,
        |  CAST(sign(value - 150.0) * floor(abs(value - 150.0) * 1000 + 0.5) AS BIGINT) AS ms
        |FROM events ORDER BY event_id""".stripMargin,

    "f13_bool_coerce" ->
      """SELECT event_id, s,
        |  (CASE WHEN lower(trim(s)) IN ('true','1','1.0') THEN true
        |        WHEN lower(trim(s)) IN ('false','0','0.0') THEN false
        |        ELSE false END) AS b
        |FROM (SELECT event_id,
        |        (['true','1','1.0','False','0','0.0','junk'])[CAST(event_id % 7 + 1 AS INTEGER)] AS s
        |      FROM events)
        |ORDER BY event_id""".stripMargin,

    "f15_fs_safe" ->
      """SELECT p_partkey, regexp_replace(p_type, '[ /]', '_', 'g') AS safe_type,
        |  regexp_replace(p_name, '[ /]', '_', 'g') AS safe_name
        |FROM part ORDER BY p_partkey""".stripMargin,

    "f16_concat" ->
      """SELECT c_custkey, c_name || ' - ' || c_mktsegment || ' #' || CAST(c_custkey AS VARCHAR) AS label
        |FROM customer ORDER BY c_custkey""".stripMargin,

    "json_get" ->
      """SELECT event_id, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        |FROM events ORDER BY event_id""".stripMargin,

    // genuinely parses the JSON (json_keys + per-key extract) instead of
    // hardcoding the fixture's single-key shape, so NULL/empty/multi-key
    // props keep the oracle row-for-row with Spark's map explode.
    // CHARSET ASSUMPTION: the extracted key is re-interpolated into a JSON
    // path ('$."key"'), which is only well-formed while keys contain no
    // double quotes or backslashes — true of the events fixture's
    // identifier-style keys; a corpus with quoted keys would need
    // json_each(props) key/value pairs instead of path re-querying
    "json_map_explode" ->
      """SELECT event_id, key,
        |  CAST(json_extract_string(props, '$."' || key || '"') AS BIGINT) AS value
        |FROM (SELECT event_id, props, unnest(json_keys(props)) AS key FROM events)
        |ORDER BY event_id, key""".stripMargin,

    "json_struct_agg" ->
      """SELECT event_type, CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
        |  count(*) AS n
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
  )
}
