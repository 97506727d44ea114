package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-file min/max statistics pruning — the lakehouse "data skipping"
  * layer: when a table's files are range-clustered on a key, a range
  * predicate needs only the files whose [min,max] envelope intersects it.
  * Delta and Iceberg keep this per-file stats table in their metadata log;
  * here it is the parquet footers themselves, which every writer already
  * fills with per-row-group min/max, read on the driver by
  * [[Tables.ranges]]. No manifest is written and no Spark job runs to
  * decide which files survive.
  *
  * Driver-side footprint: the footers and the surviving-file list are
  * FILE-COUNT sized (thousands of files for a 100 TB table, not billions
  * of rows), so reading them on the driver is a metadata operation, the
  * same step as reading a transaction log. Query DATA never leaves the
  * executors; the non-pruned scan path stays fully distributed.
  */
object FileSkipping {

  /** Range-cluster `df` on `keyCol` into `nFiles` files at `path`. Range
    * clustering is what makes the envelopes selective: a hash layout gives
    * every file the full key range and nothing ever prunes. */
  def writeRanged(df: DataFrame, keyCol: String, nFiles: Int, path: String): Unit =
    df.repartitionByRange(nFiles, col(keyCol)).write.mode("overwrite").parquet(path)

  /** Files under `path` whose footer [min,max] envelope of `keyCol`
    * intersects [lo, hi], plus every file whose footer cannot bound it. */
  def survivors(spark: SparkSession, path: String, keyCol: String,
                lo: Double, hi: Double): Seq[String] =
    Tables.ranges(spark, path, keyCol).collect {
      case (file, env) if env.forall { case (a, b) => a <= hi && b >= lo } => file
    }

  /** Read only the surviving files and re-apply the exact predicate (file
    * envelopes are coarse: a surviving file still holds out-of-range rows).
    * An empty survivor set short-circuits to an empty frame with the
    * table's schema — no file IO at all. */
  def prunedRead(spark: SparkSession, path: String, keyCol: String,
                 lo: Double, hi: Double): DataFrame = {
    val files = survivors(spark, path, keyCol, lo, hi)
    val pruned =
      if (files.isEmpty) Tables.parquet(spark, path).limit(0)
      else Tables.parquet(spark, files: _*)
    pruned.filter(col(keyCol) >= lo && col(keyCol) <= hi)
  }
}
