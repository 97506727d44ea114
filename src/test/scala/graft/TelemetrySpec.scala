package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

import org.scalatest.funsuite.AnyFunSuite
import graft.engine.Telemetry

/** `Telemetry.during` counts the jobs of its own call and nothing else,
  * and leaves the caller's job group as it found it. */
class TelemetrySpec extends AnyFunSuite with SharedSparkSpec {
  private def group: String = spark.sparkContext.getLocalProperty("spark.jobGroup.id")

  test("a job another thread runs during the scope is not counted") {
    val sc = spark.sparkContext
    val go = new CountDownLatch(1)
    val done = new CountDownLatch(1)
    // started before the scope, so it does not inherit the scope's group
    val other = new Thread(() => {
      go.await()
      sc.parallelize(1 to 10, 2).count()
      sc.parallelize(1 to 10, 2).count()
      done.countDown()
    })
    other.start()
    val run = Telemetry.during(spark) {
      go.countDown()
      assert(done.await(60, TimeUnit.SECONDS))
      sc.parallelize(1 to 10, 3).count()
    }
    other.join()
    assert(run.jobs == 1 && run.stages == 1 && run.tasks == 3, run)
  }

  test("the caller's job group is restored, also when the body throws") {
    val sc = spark.sparkContext
    val before = group
    Telemetry.during(spark)(sc.parallelize(Seq(1)).count())
    assert(group == before)
    sc.setJobGroup("caller", "caller's group")
    try {
      Telemetry.during(spark)(sc.parallelize(Seq(1)).count())
      assert(group == "caller")
      intercept[IllegalStateException](Telemetry.during(spark)(throw new IllegalStateException("body")))
      assert(group == "caller")
      assert(sc.getLocalProperty("spark.job.description") == "caller's group")
    } finally sc.clearJobGroup()
    intercept[IllegalStateException](Telemetry.during(spark)(throw new IllegalStateException("body")))
    assert(group == null)
  }

  test("q1_agg records jobs and bytes; an empty body records nothing") {
    val q = Telemetry.during(spark)(SparkEntry.queries("q1_agg")(spark, "/root/testdata/sf0.01")
      .write.format("noop").mode("overwrite").save())
    assert(q.jobs >= 1 && q.inputBytes > 0 && q.shuffleWriteBytes > 0, q)
    assert(Telemetry.during(spark)(()) == Telemetry.Run(0, 0, 0L, 0L, 0L, 0L, 0L))
  }
}
