package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{Canonicalize, Ingest, Schemas}
import graft.engine.{Durations => D}
import java.nio.file.Files

/** Golden-fixture tests for the transformer-parity canonicalizer
  * (SURVEY.md §3.2, §5.4): raw string CSV → typed → canonical re-emit. */
class CanonicalizeSpec extends AnyFunSuite with SharedSparkSpec {

  private def writeCsv(name: String, content: String): String = {
    val p = tempDir("graft-fixture").toPath.resolve(name)
    Files.writeString(p, content)
    p.toString
  }

  test("laps_data: typed parse is total, canonical re-emit migrates formats") {
    val csv = writeCsv("laps_data.csv",
      """Driver,Team,Compound,LapNumber,Stint,TyreLife,IsAccurate,LapTime,Sector1Time,Sector2Time,Sector3Time,Time,PitInTime,PitOutTime,Sector1SessionTime,Sector2SessionTime,Sector3SessionTime,LapStartTime
        |VER,Red Bull,SOFT,1,1,1,True,01:23:456,00:28:111,00:27:222,00:28:123,00:15:23:456,nan,,00:15:51,00:16:18,00:16:46,00:15:23
        |HAM,Mercedes,MEDIUM,2,1,2,False,bogus,00:28:999,NaT,00:28:000,00:17:01:000,00:16:30:500,00:16:55:000,00:17:29,00:17:57,00:18:25,00:17:01
        |""".stripMargin)
    val raw = Ingest.readRawCsv(spark, csv, "laps_data")
    val typed = Canonicalize.typed(raw, "laps_data")

    val r0 = typed.filter(col("Driver") === "VER").head
    assert(r0.getAs[Long]("LapTime") == 83456L)           // 01:23:456 mm:ss:mmm
    assert(r0.getAs[Long]("Time") == (15 * 60 + 23) * 1000L + 456) // HH:MM:SS:mmm → 00:15:23:456
    assert(r0.isNullAt(typed.columns.indexOf("PitInTime")))  // 'nan' → null
    assert(r0.isNullAt(typed.columns.indexOf("PitOutTime"))) // '' → null
    assert(r0.getAs[Long]("Sector1SessionTime") == (15 * 60 + 51) * 1000L) // HH:MM:SS
    assert(r0.getAs[Boolean]("IsAccurate"))

    val r1 = typed.filter(col("Driver") === "HAM").head
    assert(r1.isNullAt(typed.columns.indexOf("LapTime")))  // 'bogus' → null, no exception
    assert(r1.isNullAt(typed.columns.indexOf("Sector2Time"))) // 'NaT' → null
    assert(!r1.getAs[Boolean]("IsAccurate"))

    val canon = Canonicalize.canonical(typed, "laps_data")
    val c0 = canon.filter(col("Driver") === "VER").head
    assert(c0.getAs[String]("LapTime") == "01:23:456")             // stays MM:SS:mmm
    assert(c0.getAs[String]("Sector1SessionTime") == "00:15:51:000") // HH:MM:SS → HH:MM:SS:mmm
    assert(c0.getAs[String]("Time") == "00:15:23:456")
    assert(c0.getAs[String]("PitInTime") == null)                  // null stays null
  }

  test("laps_data: typed ≡ the same projection on the composed reference parser, whitespace edges included") {
    // blanks Spark's trim keeps, one final line terminator the regexes'
    // `$` accepts, two it does not, non-ASCII digits and spaces, NA tokens
    val edges = Seq("\t01:02:345", "01:02:345\t", "01:02:345\u000b", "\u000c1:02:03",
      "01:02:345\n\n", "01:02:345\u2028", "01:02:345\u2029", "01:02:345\u0085",
      "01:02:345\n", "01:02:345\r\n", "01:02:345\r", "01:02:345\n\r", " 01:02:345 \n",
      "01:02:345 \n", "\n", "nan\n", " NaN ", "<NA>", "null", "", "  ", "\u00a001:02:345",
      "\u0661:02:345", "-01:02:03:456", "1:2:345", "99:59:59:999", "12345678:00:00",
      "01:02:345", "00:15:23", "bogus")
    val schema = Schemas.allStrings(Schemas.tables("laps_data"))
    val durations = Canonicalize.specs("laps_data").durationCols
    val rows = edges.indices.map { i =>
      org.apache.spark.sql.Row.fromSeq(schema.fieldNames.toSeq.map {
        case "Driver" => f"D$i%03d"
        case n if durations.contains(n) => edges((i + durations.indexOf(n)) % edges.size)
        case _ => "1"
      })
    }
    // through parquet, so the projection runs in generated code rather
    // than being folded into a local relation by the optimizer
    val path = tempDir("graft-laps-edges").getPath + "/laps"
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema).write.parquet(path)
    val raw = spark.read.parquet(path)
    def sorted(df: org.apache.spark.sql.DataFrame) = df.orderBy("Driver").collect().toSeq
    val native = sorted(Canonicalize.typed(raw, "laps_data"))
    val reference = sorted(Canonicalize.typed(raw, "laps_data", D.parseDurationToMillis))
    assert(native.size == edges.size)
    native.zip(reference).foreach { case (n, r) => assert(n == r, s"native $n ≢ reference $r") }
    // not vacuous: the fixture holds parsed and null cells
    val lapTimes = native.map(_.getAs[Any]("LapTime"))
    assert(lapTimes.count(_ != null) >= 5 && lapTimes.count(_ == null) >= 5)
  }

  test("laps_data: the typed plan parses durations natively, with no regex") {
    val header = Schemas.tables("laps_data").fieldNames.mkString(",") + "\n"
    val raw = Ingest.readRawCsv(spark, writeCsv("laps_data.csv", header), "laps_data")
    def plan(df: org.apache.spark.sql.DataFrame) = df.queryExecution.executedPlan.toString.toLowerCase
    val native = plan(Canonicalize.typed(raw, "laps_data"))
    assert(native.contains("parse_f1_duration"), native)
    assert(!native.contains("rlike") && !native.contains("regexp_extract"), native)
    // control: the composed reference plans as regexes, which the check sees
    assert(plan(Canonicalize.typed(raw, "laps_data", D.parseDurationToMillis)).contains("rlike"))
  }

  test("session_results: signed times, float-second Interval, Q-format migration") {
    val csv = writeCsv("session_results.csv",
      """Driver,DriverNumber,TeamName,Position,Laps,Status,Time,Q1,Q2,Q3,Interval
        |VER,1,Red Bull,1,57,Finished,01:32:15:456,01:31:123,01:30:500,01:29:999,0.0
        |HAM,44,Mercedes,2,57,Finished,-00:00:05:123,01:31:500,01:30:900,nan,5.123
        |""".stripMargin)
    val typed = Canonicalize.typed(Ingest.readRawCsv(spark, csv, "session_results"), "session_results")
    val ham = typed.filter(col("Driver") === "HAM").head
    assert(ham.getAs[Long]("Time") == -5123L)          // signed HH:MM:SS:mmm
    assert(ham.getAs[Long]("Q1") == 91500L)            // MM:SS:mmm
    assert(ham.isNullAt(typed.columns.indexOf("Q3")))
    assert(ham.getAs[Long]("Interval") == 5123L)       // float seconds → ms
    val canon = Canonicalize.canonical(typed, "session_results")
    val hamC = canon.filter(col("Driver") === "HAM").head
    assert(hamC.getAs[String]("Time") == "-00:00:05:123")
    assert(hamC.getAs[String]("Q1") == "00:01:31:500")  // MM:SS:mmm → HH:MM:SS:mmm migration
  }

  test("weather_data: bool-or-numeric Rainfall rule, round-trip stability") {
    val csv = writeCsv("weather_data.csv",
      """Time,AirTemp,TrackTemp,Humidity,Pressure,WindSpeed,Rainfall
        |00:01:00:000,28.4,41.2,44.0,1013.2,2.1,False
        |00:02:00:000,28.5,41.5,44.2,1013.1,2.4,True
        |00:03:00:000,notanumber,41.9,44.1,1013.0,2.2,nan
        |""".stripMargin)
    val typed = Canonicalize.typed(Ingest.readRawCsv(spark, csv, "weather_data"), "weather_data")
    assert(typed.filter(col("Rainfall")).count() == 1)
    assert(typed.filter(col("AirTemp").isNull).count() == 1)  // coerced, not thrown
    // canonicalizing twice is a fixpoint (parse∘format == id on canonical strings)
    val canon1 = Canonicalize.canonical(typed, "weather_data")
    val typed2 = Canonicalize.typed(canon1, "weather_data")
    val canon2 = Canonicalize.canonical(typed2, "weather_data")
    assert(canon1.orderBy("Time").collect().toSeq == canon2.orderBy("Time").collect().toSeq)
  }

  test("event_info: ISO timestamps parse and re-emit") {
    val csv = writeCsv("event_info.csv",
      """Year,EventName,Country,Location,SessionKey,SessionNameActual,EventDate,SessionStartDateLocalISO,SessionStartDateUTCISO
        |2024,Abu Dhabi Grand Prix,UAE,Yas Marina,R,Race,2024-12-08T00:00:00,2024-12-08T17:00:00,2024-12-08T13:00:00
        |""".stripMargin)
    val typed = Canonicalize.typed(Ingest.readRawCsv(spark, csv, "event_info"), "event_info")
    assert(typed.head.getAs[java.sql.Timestamp]("SessionStartDateUTCISO").toInstant.toString
      == "2024-12-08T13:00:00Z")
    val canon = Canonicalize.canonical(typed, "event_info")
    assert(canon.head.getAs[String]("EventDate") == "2024-12-08T00:00:00")
  }
}
