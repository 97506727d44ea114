package graft

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.scalatest.funsuite.AnyFunSuite

import scala.jdk.CollectionConverters._

import graft.Bench.{QRes, Sample}
import graft.engine.Telemetry

/** Bench's output protocol, fed synthetic results (no Spark session): the
  * driver keeps only the tail of stdout, so the last line must be a short,
  * complete totals object, and bench_detail.json must carry each query's
  * median with its spread. */
class BenchSpec extends AnyFunSuite {

  private val json = new ObjectMapper()

  private def sample(secs: Double): Sample =
    Sample(secs, Telemetry.Run(3, 4, 20L, 1L << 20, 0L, 0L, 0L), gcMs = 5L, compiles = 2L)

  // warm runs deliberately out of order, so the median is not the first
  private val results = Seq(
    QRes("a_scan", sample(1.25), Seq(0.5, 0.25, 0.75).map(sample)),
    QRes("b_join", sample(4.0), Seq(3.0, 2.0, 2.5).map(sample)),
    QRes("c_graph", sample(12.5), Seq(9.125, 11.0, 10.0).map(sample)))

  private val out = Bench.report("/data/sf0.1", results)

  private def fields(n: JsonNode): Set[String] = n.fieldNames().asScala.toSet

  test("the last line is at most 120 characters and holds exactly the totals") {
    assert(out.last.length <= 120, out.last)
    assert(!out.last.contains('\n'))
    val last = json.readTree(out.last)
    assert(fields(last) == Set("metric", "value", "unit", "cold_total", "n"))
    assert(last.get("metric").asText == "total")
    assert(last.get("unit").asText == "sec")
    assert(last.get("n").asInt == 3)
    assert(math.abs(last.get("value").asDouble - (0.5 + 2.5 + 10.0)) < 5e-4)
    assert(math.abs(last.get("cold_total").asDouble - (1.25 + 4.0 + 12.5)) < 5e-4)
  }

  test("the full line carries every query's median and the same totals") {
    val full = json.readTree(out.full)
    assert(full.get("value").asDouble == json.readTree(out.last).get("value").asDouble)
    assert(full.get("sf").asText == "/data/sf0.1")
    val qs = full.get("queries")
    assert(fields(qs) == results.map(_.name).toSet)
    assert(qs.get("b_join").asDouble == 2.5)
  }

  test("each detail record brackets its median by the warm min and max") {
    val detail = json.readTree(out.detail)
    val records = detail.get("queries").elements().asScala.toSeq
    assert(records.map(_.get("name").asText) == results.map(_.name))
    records.foreach { r =>
      val (lo, mid, hi) = (r.get("warm_min").asDouble, r.get("warm").asDouble, r.get("warm_max").asDouble)
      assert(lo <= mid && mid <= hi, r.toString)
    }
    val c = records.last
    assert((c.get("warm_min").asDouble, c.get("warm").asDouble, c.get("warm_max").asDouble) ==
      ((9.125, 10.0, 11.0)))
    assert(c.get("jobs").asInt == 3 && c.get("input_mb").asDouble == 1.0)
    assert(detail.get("worst5").elements().asScala.map(_.get("name").asText).toSeq ==
      Seq("c_graph", "b_join", "a_scan"))
  }

  test("no output carries a budget field") {
    Seq(out.full, out.last, out.detail).foreach(o => assert(!o.contains("budget"), o))
  }
}
