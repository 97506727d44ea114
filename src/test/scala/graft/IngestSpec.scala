package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Ingest
import java.nio.file.Files

/** Partitioned sink/source round-trip + partition-pruning plan check
  * (SURVEY.md §2.1 S3/S5/S7/S8). */
class IngestSpec extends AnyFunSuite with SharedSparkSpec {

  test("partitionBy round-trip preserves data; reads prune partitions") {
    import spark.implicits._
    val base = tempDir("graft-part").getPath
    val df = Seq(
      (2023, "bahrain", "race", "VER", 1),
      (2023, "bahrain", "quali", "VER", 1),
      (2024, "monaco", "race", "LEC", 1),
      (2024, "monaco", "race", "HAM", 2)
    ).toDF("year", "event", "session", "driver", "position")

    Ingest.writePartitioned(df, base, "session_results")
    val back = Ingest.readPartitioned(spark, base, "session_results")
    assert(back.count() == 4)
    assert(back.columns.toSet == Set("year", "event", "session", "driver", "position"))

    // S8: the year/event/session predicate must become a partition filter —
    // no non-matching files in the scan.
    val pruned = back.where($"year" === 2024 && $"event" === "monaco" && $"session" === "race")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters"), s"expected partition filters in:\n$plan")
    assert(plan.contains("= 2024"), s"year predicate must be a partition filter:\n$plan")
    assert(pruned.count() == 2)
  }

  test("dynamic partition overwrite replaces only the partitions in the batch") {
    import spark.implicits._
    val base = tempDir("graft-dpo").getPath + "/t"
    val v1 = Seq((2023, "a", 1), (2024, "b", 2)).toDF("year", "k", "v")
    v1.write.partitionBy("year").parquet(base)
    // STATIC overwrite would drop 2023 too; dynamic mode rewrites only the
    // partitions present in the incoming batch — the idempotent daily
    // backfill pattern (re-run one day without touching the rest of the
    // 100 TB layout)
    Seq((2024, "b2", 20)).toDF("year", "k", "v")
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("year").parquet(base)
    val back = spark.read.parquet(base)
    assert(back.where($"year" === 2023).collect().map(r => (r.getString(0), r.getInt(1))).toSeq
      == Seq(("a", 1)), "untouched partition must survive the overwrite")
    assert(back.where($"year" === 2024).collect().map(r => (r.getString(0), r.getInt(1))).toSeq
      == Seq(("b2", 20)), "incoming partition must be fully replaced")
  }

  test("raw CSV ingest honors NA tokens and never infers") {
    val dir = tempDir("graft-csv").toPath
    Files.writeString(dir.resolve("weather_data.csv"),
      "Time,AirTemp,TrackTemp,Humidity,Pressure,WindSpeed,Rainfall\n00:01:00:000,28.4,,,1013.2,2.1,False\n")
    val raw = Ingest.readRawCsv(spark, dir.toString, "weather_data")
    assert(raw.schema.fields.forall(_.dataType.typeName == "string"))
    assert(raw.head.isNullAt(raw.columns.indexOf("TrackTemp")))
  }

  test("inferred CSV ingest types int, double and string columns; raw ingest of the same file does not") {
    val dir = tempDir("graft-csv-inferred").toPath
    Files.writeString(dir.resolve("weather_data.csv"),
      "Time,AirTemp,TrackTemp,Humidity,Pressure,WindSpeed,Rainfall\n" +
        "00:01:00:000,28.4,41.5,45,1013.2,2.1,dry\n" +
        "00:02:00:000,28.6,41.0,47,1013.0,1.8,light\n")
    val inferred = Ingest.readInferredCsv(spark, dir.toString)
    val types = inferred.schema.fields.map(f => f.name -> f.dataType.typeName).toMap
    assert(types("Humidity") == "integer", inferred.schema.treeString)
    assert(types("AirTemp") == "double", inferred.schema.treeString)
    assert(types("Time") == "string" && types("Rainfall") == "string", inferred.schema.treeString)
    assert(inferred.collect().map(r => r.getAs[Int]("Humidity")).sorted.toSeq == Seq(45, 47))
    val raw = Ingest.readRawCsv(spark, dir.toString, "weather_data")
    assert(raw.columns.toSeq == inferred.columns.toSeq)
    assert(raw.schema.fields.forall(_.dataType.typeName == "string"), raw.schema.treeString)
    assert(raw.collect().map(_.getAs[String]("Humidity")).sorted.toSeq == Seq("45", "47"))
  }
}
