package graft

/** Repeated-timing probe (not part of the driver contract): runs named
  * catalog queries N warm times each and prints min/median/max + spread, so
  * host-noise can be separated from plan cost when a single bench sample
  * regresses (VERDICT r6 item 1: dd_clusters 3.47→7.72 s in a round that
  * didn't touch it needs adjudication by repeated measurement, not a single
  * sample). Usage:
  *   sbt "runMain graft.QProbe <sfDir> <n> <query> [query ...]"
  * Each run materializes through the noop sink exactly like Bench, and the
  * cache manager is cleared between runs so no run reuses its predecessor's
  * cached frames.
  */
object QProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val n = args.lift(1).map(_.toInt).getOrElse(5)
    val names = if (args.length > 2) args.drop(2).toSeq else Seq("dd_clusters", "graph_triangles")
    val spark = graft.engine.Tables.localSession("graft-qprobe")
    spark.sparkContext.setLogLevel("ERROR")

    // GRAFT_FREE_RDDS=1: after each run, drop every persistent RDD still
    // registered with the context — this is where localCheckpoint() blocks
    // live, and nothing frees them until a full GC lets ContextCleaner run
    // (rare on a 128 GiB heap). Used to test whether in-bench inflation of
    // the checkpoint-heavy queries is accumulated dead blocks.
    val freeRdds = sys.env.get("GRAFT_FREE_RDDS").contains("1")
    def runOnce(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      spark.sharedState.cacheManager.clearCache()
      if (freeRdds)
        spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
      dt
    }

    // one untimed warmup for JVM/codegen/parquet-footer state
    runOnce(names.head)

    names.foreach { name =>
      val ts = (1 to n).map { i =>
        val dt = runOnce(name)
        println(f"[qprobe] $name%-24s run=$i $dt%8.3f s")
        dt
      }.sorted
      val med = ts(ts.length / 2)
      println(f"[qprobe] $name%-24s n=$n min=${ts.head}%7.3f med=$med%7.3f max=${ts.last}%7.3f spread=${ts.last - ts.head}%6.3f s")
    }
    spark.stop()
  }
}
