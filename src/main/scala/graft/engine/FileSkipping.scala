package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-file min/max statistics pruning — the lakehouse "data skipping"
  * layer: when a table's files are range-clustered on a key, a range
  * predicate needs only the files whose [min,max] envelope intersects it.
  * Delta and Iceberg keep exactly this stats table in their metadata log;
  * here it is a one-row-per-file parquet manifest written next to the data
  * at layout time.
  *
  * Driver-side footprint: the stats table and the surviving-file list are
  * FILE-COUNT sized (one row per data file — thousands of rows for a
  * 100 TB table, not billions), so materializing them on the driver is a
  * metadata operation, the same step as reading a transaction log. Query
  * DATA never leaves the executors; the non-pruned scan path stays fully
  * distributed.
  */
object FileSkipping {

  /** Range-cluster `df` on `keyCol` into `nFiles` files at `path`. Range
    * clustering is what makes the envelopes selective: a hash layout gives
    * every file the full key range and nothing ever prunes. */
  def writeRanged(df: DataFrame, keyCol: String, nFiles: Int, path: String): Unit =
    df.repartitionByRange(nFiles, col(keyCol)).write.mode("overwrite").parquet(path)

  /** [[writeRanged]], then the per-file (min,max,count) manifest beside it. */
  def writeRangedWithStats(df: DataFrame, keyCol: String, nFiles: Int, path: String): Unit = {
    writeRanged(df, keyCol, nFiles, path)
    writeStats(df.sparkSession, path, keyCol, statsPath(path))
  }

  /** The manifest names each file by its absolute path, so it is written
    * only once the table is at its final `path`. */
  private def writeStats(spark: SparkSession, path: String, keyCol: String, out: String): Unit =
    Tables.parquet(spark, path)
      .groupBy(input_file_name().as("file"))
      .agg(min(col(keyCol)).as("min_key"), max(col(keyCol)).as("max_key"),
           count(lit(1)).as("n_rows"))
      .coalesce(1)
      .write.mode("overwrite").parquet(out)

  def statsPath(path: String): String = path + "__stats"

  /** Files whose [min,max] envelope intersects [lo, hi]. Metadata-sized
    * driver list (≤ number of files) — the documented exception to the
    * no-collect-in-query-paths rule, mirroring a Delta log read. */
  def survivors(spark: SparkSession, path: String, lo: Double, hi: Double): Seq[String] =
    Tables.parquet(spark, statsPath(path))
      .filter(col("min_key") <= hi && col("max_key") >= lo)
      .select("file").collect().map(_.getString(0)).toSeq

  /** Read only the surviving files and re-apply the exact predicate (file
    * envelopes are coarse: a surviving file still holds out-of-range rows).
    * An empty survivor set short-circuits to an empty frame with the
    * table's schema — no file IO at all. A published layout at `path` gets
    * its manifest published beside it on the first read. */
  def prunedRead(spark: SparkSession, path: String, keyCol: String,
                 lo: Double, hi: Double): DataFrame = {
    Layouts.publishAt(spark, statsPath(path))(writeStats(spark, path, keyCol, _))
    val files = survivors(spark, path, lo, hi)
    val pruned =
      if (files.isEmpty) Tables.parquet(spark, path).limit(0)
      else spark.read.parquet(files: _*)
    pruned.filter(col(keyCol) >= lo && col(keyCol) <= hi)
  }
}
