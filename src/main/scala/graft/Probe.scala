package graft

import org.apache.spark.sql.functions._
import graft.engine.Tables

/** Scratch probe main for ad-hoc plan/perf checks (not part of the API).
  * Usage: sbt "runMain graft.Probe <sfDir> [MODE|query ...]" where MODE is
  * HASHBENCH | SIGBENCH | COSBENCH | JWBENCH | TRISTAGE | CLEAR, and any
  * other arg is a catalog query name timed through the noop sink. The
  * *BENCH modes race each native codegen expression against its composed /
  * UDF alternative on an inflated corpus — the README showcase numbers. */
object Probe {
  def time[A](label: String)(f: => A): A = {
    val t0 = System.nanoTime(); val r = f
    println(f"[probe] $label: ${(System.nanoTime() - t0) / 1e9}%.2f s"); r
  }
  def main(args: Array[String]): Unit = {
    val spark = Tables.localSession("probe")
    spark.sparkContext.setLogLevel("ERROR")
    val d = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    for (name <- args.drop(1)) {
      if (name == "CLEAR") spark.sharedState.cacheManager.clearCache()
      else if (name == "HASHBENCH") {
        // microbench: native vs composed token hashing over an inflated
        // corpus (documents × 40 replicas), isolating the expression cost
        // from scan/JVM overhead. sum(size) forces full evaluation.
        import graft.engine.{TextFunctions => T}
        val docs = Tables.load(spark, d, "documents")
          .crossJoin(spark.range(40)).select(col("text")).cache()
        docs.count() // materialize
        for (round <- 1 to 2) {
          time(s"hashbench composed r$round") {
            docs.select(sum(size(T.tokenHashesComposed(col("text"))))).head
          }
          time(s"hashbench native   r$round") {
            docs.select(sum(size(T.tokenHashes(col("text"))))).head
          }
        }
        docs.unpersist()
      }
      else if (name == "SIGBENCH") {
        // microbench: shingle + 16-component minhash over a STAGED token-hash
        // array (native hashing either way) — isolates the signature lambdas.
        import graft.engine.{TextFunctions => T}
        val th = Tables.load(spark, d, "documents")
          .crossJoin(spark.range(40))
          .select(T.tokenHashes(col("text")).as("th")).cache()
        th.count()
        for (round <- 1 to 2) {
          time(s"sigbench composed r$round") {
            th.select(col("th")).withColumn("sh", T.shinglesFromHashes(col("th")))
              .select(sum(size(T.minhashSigFromShingles(col("sh"))))).head
          }
          time(s"sigbench native   r$round") {
            th.select(sum(size(graft.plans.GraftExtensions.minhashSig(col("th"))))).head
          }
        }
        th.unpersist()
      }
      else if (name == "COSBENCH") {
        // microbench: native fused cosine vs composed three-fold cosine over
        // an inflated all-pairs-vs-query frame (embeddings × 100 replicas).
        import graft.engine.{Vectors => V}
        val e = Tables.load(spark, d, "embeddings")
          .crossJoin(spark.range(100))
          .select(V.vd(col("embedding")).as("v")).cache()
        e.count()
        val q = Tables.load(spark, d, "embeddings").filter(col("vec_id") === 0)
          .select(V.vd(col("embedding")).as("qv"))
        for (round <- 1 to 2) {
          time(s"cosbench composed r$round") {
            e.crossJoin(broadcast(q)).select(sum(V.cosineComposed(col("v"), col("qv")))).head
          }
          time(s"cosbench native   r$round") {
            e.crossJoin(broadcast(q)).select(sum(V.cosine(col("v"), col("qv")))).head
          }
        }
        e.unpersist()
      }
      else if (name == "JWBENCH") {
        // microbench: native codegen'd jaro_winkler vs the same algorithm
        // behind a Scala UDF boundary (what a library without the Catalyst
        // expression would ship) — isolates the UDF serialization /
        // interpreted-projection cost on an inflated name-pair frame.
        val jwUdf = udf((a: String, b: String) =>
          graft.plans.JaroWinkler.jw(a.getBytes("UTF-8"), b.getBytes("UTF-8")))
        val pairs = Tables.load(spark, d, "customer")
          .crossJoin(spark.range(100))
          .select(col("c_name").as("a"),
            regexp_replace(col("c_name"), "Customer#", "Cust#").as("b"))
          .cache()
        pairs.count()
        for (round <- 1 to 2) {
          time(s"jwbench udf    r$round") {
            pairs.select(sum(jwUdf(col("a"), col("b")))).head
          }
          time(s"jwbench native r$round") {
            pairs.select(sum(
              graft.plans.GraftExtensions.jaroWinkler(col("a"), col("b")))).head
          }
        }
        pairs.unpersist()
      }
      else if (name == "TRISTAGE") {
        // stage timing for the triangle census edge build (time the census
        // itself end to end with `QProbe <sfDir> <n> graph_triangles`)
        val sp = Tables.load(spark, d, "lineitem")
          .select(col("l_partkey").as("pk"),
            (year(col("l_shipdate")) * 100 + month(col("l_shipdate"))).as("m"),
            col("l_suppkey").as("sk")).distinct()
        time("sp distinct")(sp.count())
        val e = sp.as("a").join(sp.as("b"),
            col("a.pk") === col("b.pk") && col("a.m") === col("b.m") &&
              col("a.sk") < col("b.sk"))
          .select(col("a.sk").as("u"), col("b.sk").as("v")).distinct()
        time("edge build")(e.count())
        val ec = e.localCheckpoint()
        time("census on checkpointed")(graft.engine.Triangles.census(ec).collect()
          .foreach(r => println(s"[probe] census: $r")))
        time("census on raw plan")(graft.engine.Triangles.census(e).collect()
          .foreach(r => println(s"[probe] census: $r")))
      }
      else {
        val fn = SparkEntry.queries(name)
        time(name) { fn(spark, d).write.format("noop").mode("overwrite").save() }
      }
    }
    spark.stop()
  }
}
