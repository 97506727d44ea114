package graft

import org.apache.spark.sql.functions._
import graft.engine.Tables

/** Scratch probe main for ad-hoc plan/perf checks (not part of the API).
  * Usage: sbt "runMain graft.Probe <sfDir> [MODE|query ...]" where MODE is
  * HASHBENCH | SIGBENCH | COSBENCH | JWBENCH, and any other arg is a
  * catalog query name: one untimed run, then 5 runs through
  * `Bench.runOnce` (noop sink, `Telemetry`, `Materialize.release`),
  * printing min / median / max seconds and what the last run's jobs did.
  * The *BENCH modes race each native codegen expression against its
  * composed / UDF alternative on an inflated corpus — the README showcase
  * numbers. */
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
      if (name == "HASHBENCH") {
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
      else {
        Bench.runOnce(spark, d, name)
        val runs = (1 to 5).map(_ => Bench.runOnce(spark, d, name))
        val ts = runs.map(_._1).sorted
        println(f"[probe] $name%-24s n=5 min=${ts.head}%7.3f med=${ts(2)}%7.3f max=${ts.last}%7.3f s ${runs.last._2}")
      }
    }
    spark.stop()
  }
}
