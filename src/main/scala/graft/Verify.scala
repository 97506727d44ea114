package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB compare (tools/check.py). A query
  * that throws is logged and the run goes on, so every other result and
  * the oracle file still get written; the exit status is then non-zero. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args.take(2)
    // optional trailing args: restrict to these query names (local iteration)
    val only = args.drop(2).toSet
    val spark = graft.engine.Tables.localSession("graft-verify")
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failed = Seq.newBuilder[String]
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        failed += name
        // a previous run's output must not stand in for this failure
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(s"$outDir/$name"))
      }
      // drop what the query persisted, so a 186-query run's storage
      // footprint stays one query deep (Bench does the same between timings)
      graft.engine.Materialize.release(spark)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // a restricted run writes the oracles of its own queries only, so the
    // checker (which fails every oracle key without an output) judges the
    // subset that ran
    val json = SparkEntry.oracleSql
      .filter { case (name, _) => only.isEmpty || only(name) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    val fails = failed.result().sorted
    if (fails.nonEmpty) {
      System.err.println(s"[verify] ${fails.size} failed: ${fails.mkString(", ")}")
      sys.exit(1)
    }
  }
}
