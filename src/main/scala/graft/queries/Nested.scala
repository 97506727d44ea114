package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.engine.Tables.{load => t}

/** Dremel-style nested-data operators: shred a flat table into
  * arrays-of-structs + struct columns, write real nested Parquet, and query
  * it back with dot-path projection, `inline`, and re-nesting — the
  * repetition/definition-level surface a training-data pipeline hits as soon
  * as documents carry typed attribute lists (spans, tool calls, image
  * regions).
  *
  * The nested table is derived DETERMINISTICALLY from `events` (so the
  * DuckDB oracle recomputes the same values from the flat form — same trick
  * as the bucketed-join tables) and written per-sf on first use under
  * /tmp/graft_nested:
  *
  *   event_id BIGINT,
  *   meta     STRUCT<etype: STRING, uid: BIGINT>,
  *   attrs    ARRAY<STRUCT<k: STRING, v: BIGINT>>   -- variable length:
  *            "cents" only for value >= 0, plus "jk" (json k) and "uid"
  *   payload  STRING                                -- never read by the
  *            queries below: makes nested-column pruning OBSERVABLE
  *
  * 100 TB design: nested Parquet stores each leaf as its own column chunk
  * (Dremel encoding), so a dot-path projection reads ONLY the leaves it
  * names — the plan assertions in PlanQualitySpec pin ReadSchema to the
  * pruned shape (meta without attrs/payload). Shredding is a scan-side
  * projection (no shuffle); re-nesting is one hash aggregation on the
  * grouping key.
  */
object Nested {
  type Q = (SparkSession, String) => DataFrame

  /** Per-sf nested events table, committed on first use. */
  private def nested(s: SparkSession, d: String): DataFrame = {
    graft.engine.Layouts.committed(s, d, "nested/events") { out =>
      val attrs = filter(
        array(
          struct(lit("cents").as("k"),
            when(col("value") >= 0, floor(col("value") * 100).cast("bigint")).as("v")),
          struct(lit("jk").as("k"),
            get_json_object(col("props"), "$.k").cast("bigint").as("v")),
          struct(lit("uid").as("k"), col("user_id").as("v"))),
        x => x.getField("v").isNotNull)
      t(s, d, "events")
        .select(col("event_id"),
          struct(col("event_type").as("etype"), col("user_id").as("uid")).as("meta"),
          attrs.as("attrs"),
          col("props").as("payload"))
        .write.parquet(out)
    }
  }

  val queries: Map[String, Q] = Map(
    // ---- inline/explode the attribute list and aggregate across it: the
    // "flatten a billion attribute lists" pass. Scan reads ONLY the attrs
    // leaves (k, v); partial aggregation runs map-side before the one
    // shuffle on k.
    "nested_inline_agg" -> ((s, d) =>
      nested(s, d)
        .select(inline(col("attrs")))
        .groupBy("k")
        .agg(count(lit(1)).as("n"), sum("v").as("sum_v"))
        .orderBy("k")),

    // ---- dot-path projection + aggregate: reads only meta.etype and
    // meta.uid — attrs (the big repeated column) and payload must be absent
    // from ReadSchema (plan-asserted: nested schema pruning).
    "nested_dotpath_agg" -> ((s, d) =>
      nested(s, d)
        .groupBy(col("meta.etype").as("etype"))
        .agg(count(lit(1)).as("n"), sum(col("meta.uid")).as("sum_uid"))
        .orderBy("etype")),

    // ---- shred → filter on a leaf → RE-NEST (collect_list(struct) with a
    // canonical in-array order), then derive scalar row outputs from the
    // rebuilt array — the full unnest/renest round-trip every span-level
    // filter pipeline needs, with hash-friendly scalar output.
    "nested_renest" -> ((s, d) =>
      nested(s, d)
        .select(col("event_id"), explode(col("attrs")).as("a"))
        .filter(col("a.v") % 2 === 0)
        .groupBy("event_id")
        .agg(sort_array(collect_list(struct(col("a.k").as("k"), col("a.v").as("v")))).as("arr"))
        .select(col("event_id"),
          size(col("arr")).cast("bigint").as("n_even"),
          concat_ws(",", transform(col("arr"), (x: Column) => x.getField("k"))).as("ks"),
          aggregate(col("arr"), lit(0L), (acc: Column, x: Column) => acc + x.getField("v")).as("v_sum"))
        .orderBy("event_id")),

    // ---- PROGRAMMATIC recursive flatten: [[flattenColumns]] walks any
    // StructType — structs become dotted-path columns, arrays surface as
    // their size — the generic "arbitrary nested schema → feature row"
    // utility an ingestion layer applies to schemas it has never seen.
    // Derivation is schema-driven (no column named by hand), then rolled
    // up per etype so the output is group-sized. Same pruning story as
    // the hand-written faces: every derived column is a leaf path or an
    // array size, so ReadSchema carries only referenced leaves.
    "nested_flatten_auto" -> ((s, d) => {
      val df = nested(s, d)
      val flat = df.select(flattenColumns(df.schema): _*)
      flat.groupBy("meta_etype")
        .agg(count(lit(1)).as("n"),
          sum("meta_uid").as("sum_uid"),
          sum("n_attrs").as("sum_attrs"),
          sum(length(col("payload"))).as("sum_payload_chars"))
        .orderBy("meta_etype")
    })
  )

  /** Recursive schema walk: structs → dotted-path leaf columns (aliased
    * with underscores), arrays → `n_<path>` sizes, scalars pass through.
    * Deterministic output order = schema field order, depth-first. */
  def flattenColumns(schema: org.apache.spark.sql.types.StructType,
                     prefix: String = ""): Seq[Column] = {
    import org.apache.spark.sql.types.{ArrayType, StructType}
    schema.fields.toSeq.flatMap { f =>
      val path = if (prefix.isEmpty) f.name else s"$prefix.${f.name}"
      val alias = path.replace('.', '_')
      f.dataType match {
        case st: StructType => flattenColumns(st, path)
        case _: ArrayType   => Seq(size(col(path)).cast("bigint").as(s"n_$alias"))
        case _              => Seq(col(path).as(alias))
      }
    }
  }

  // Oracles recompute the deterministic shred from the FLAT events table —
  // DuckDB never needs to read the nested file, only to agree on the values.
  private val shredSql =
    """SELECT event_id, 'cents' AS k,
      |  CASE WHEN value >= 0 THEN CAST(floor(value * 100) AS BIGINT) END AS v
      |FROM events
      |UNION ALL
      |SELECT event_id, 'jk', CAST(json_extract_string(props, '$.k') AS BIGINT) FROM events
      |UNION ALL
      |SELECT event_id, 'uid', user_id FROM events""".stripMargin

  val oracles: Map[String, String] = Map(
    "nested_inline_agg" ->
      s"""SELECT k, count(*) AS n, CAST(sum(v) AS BIGINT) AS sum_v
         |FROM ($shredSql)
         |WHERE v IS NOT NULL
         |GROUP BY k ORDER BY k""".stripMargin,

    "nested_dotpath_agg" ->
      """SELECT event_type AS etype, count(*) AS n, CAST(sum(user_id) AS BIGINT) AS sum_uid
        |FROM events GROUP BY etype ORDER BY etype""".stripMargin,

    "nested_renest" ->
      s"""SELECT event_id, count(*) AS n_even,
         |  string_agg(k, ',' ORDER BY k, v) AS ks,
         |  CAST(sum(v) AS BIGINT) AS v_sum
         |FROM ($shredSql)
         |WHERE v IS NOT NULL AND v % 2 = 0
         |GROUP BY event_id ORDER BY event_id""".stripMargin,

    // the flat twin of the schema walk: n_attrs = uid (always) + cents
    // (value >= 0) + jk (json key parses numeric); payload = props
    "nested_flatten_auto" ->
      """SELECT event_type AS meta_etype, count(*) AS n,
        |  CAST(sum(user_id) AS BIGINT) AS sum_uid,
        |  CAST(sum(1 + CASE WHEN value >= 0 THEN 1 ELSE 0 END
        |    + CASE WHEN TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) IS NOT NULL
        |           THEN 1 ELSE 0 END) AS BIGINT) AS sum_attrs,
        |  CAST(sum(length(props)) AS BIGINT) AS sum_payload_chars
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin
  )
}
