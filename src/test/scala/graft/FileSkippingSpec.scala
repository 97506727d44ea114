package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.engine.{FileSkipping, Tables}

/** Pins the footer-stats data-skipping layer: the per-file envelopes read
  * from the parquet footers equal Spark's own per-file min/max/count, a
  * selective band reads strictly fewer files, the pruned read agrees
  * exactly with the full-scan filter, an out-of-range band does no file IO
  * at all, and a file whose footer has no min/max for the key is never
  * pruned. */
class FileSkippingSpec extends AnyFunSuite with SharedSparkSpec {
  private val d = "/root/testdata/sf0.001"
  private val key = "l_extendedprice"
  private lazy val path = {
    val p = "/tmp/graft_test_skip/lineitem"
    FileSkipping.writeRanged(
      Tables.load(spark, d, "lineitem").select("l_orderkey", "l_linenumber", key), key, 8, p)
    p
  }

  private def name(file: String): String = new Path(file).getName

  test("footer stats equal Spark's per-file min/max/count, envelopes ordered") {
    val ranges = Tables.ranges(spark, path, key)
    assert(ranges.length == 8)
    assert(ranges.forall(_._2.isDefined), s"every Spark-written file has key stats: $ranges")
    ranges.map(_._2.get).sortBy(_._1).sliding(2).foreach { case Seq((_, hiA), (loB, _)) =>
      assert(hiA <= loB, "range clustering must order file envelopes")
    }
    // the reference: the per-file manifest a Spark job used to derive
    val reference = Tables.parquet(spark, path)
      .groupBy(input_file_name())
      .agg(min(col(key)), max(col(key)), count(lit(1)))
      .collect().map(r => name(r.getString(0)) -> ((r.getDouble(1), r.getDouble(2)), r.getLong(3)))
      .toMap
    assert(ranges.map { case (f, env) => name(f) -> ((env.get, Tables.rowCount(spark, f))) }.toMap
      == reference)
  }

  test("selective band prunes files and agrees with the full scan") {
    val lo = 2000.0; val hi = 15000.0
    val files = FileSkipping.survivors(spark, path, key, lo, hi)
    assert(files.nonEmpty && files.length < 8,
      s"band [$lo,$hi] should keep some but not all of 8 files, kept ${files.length}")
    val pruned = FileSkipping.prunedRead(spark, path, key, lo, hi)
      .agg(count(lit(1)), round(sum(key), 4)).head
    val full = spark.read.parquet(path)
      .filter(col(key) >= lo && col(key) <= hi)
      .agg(count(lit(1)), round(sum(key), 4)).head
    assert(pruned == full)
    assert(pruned.getLong(0) > 0)
  }

  test("out-of-range band survives zero files and returns an empty frame") {
    assert(FileSkipping.survivors(spark, path, key, -2.0, -1.0).isEmpty)
    val empty = FileSkipping.prunedRead(spark, path, key, -2.0, -1.0)
    assert(empty.count() == 0)
    assert(empty.columns.contains(key))
  }

  test("a file whose footer has no min/max for the key always survives") {
    import spark.implicits._
    val p = s"${tempDir("graft-nostats").getPath}/t"
    Seq(1.0, 2.0).toDF(key).coalesce(1).write.parquet(p)
    Seq(1.0, 2.0).toDF(key).coalesce(1).write.mode("append")
      .option("parquet.column.statistics.enabled", "false").parquet(p)
    val ranges = Tables.ranges(spark, p, key)
    assert(ranges.map(_._2).sortBy(_.isDefined) == Seq(None, Some((1.0, 2.0))), ranges)
    val bare = ranges.collect { case (f, None) => f }
    assert(FileSkipping.survivors(spark, p, key, 5.0, 6.0) == bare)
    assert(FileSkipping.survivors(spark, p, key, 1.5, 1.5).sorted == ranges.map(_._1).sorted)
    assert(FileSkipping.prunedRead(spark, p, key, 5.0, 6.0).count() == 0)
    assert(FileSkipping.prunedRead(spark, p, key, 0.0, 1.0).count() == 2)
  }
}
