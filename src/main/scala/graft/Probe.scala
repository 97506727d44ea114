package graft

import graft.engine.Tables

/** Scratch probe main for ad-hoc per-query timing (not part of the API).
  * Usage: sbt "runMain graft.Probe <sfDir> <query ...>": per catalog query,
  * one untimed run, then 5 runs through `Bench.runOnce` (noop sink,
  * `Telemetry`, `Materialize.release`), printing min / median / max
  * seconds and what the last run's jobs did. */
object Probe {
  def main(args: Array[String]): Unit = {
    val spark = Tables.localSession("probe")
    spark.sparkContext.setLogLevel("ERROR")
    val d = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    for (name <- args.drop(1)) {
      Bench.runOnce(spark, d, name)
      val runs = (1 to 5).map(_ => Bench.runOnce(spark, d, name))
      val ts = runs.map(_._1).sorted
      println(f"[probe] $name%-24s n=5 min=${ts.head}%7.3f med=${ts(2)}%7.3f max=${ts.last}%7.3f s ${runs.last._2}")
    }
    spark.stop()
  }
}
