package graft.engine

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Typed custom aggregates (SURVEY.md §2.10: "custom aggregate →
  * Aggregator[IN, BUF, OUT]"). The buffer is mergeable, so Spark runs these
  * as partial→final aggregation like any built-in — the property that makes
  * them usable at 100 TB.
  */
object Aggregators {

  /** Welford/Chan numerically-stable mean+variance in one pass. Equivalent to
    * (avg, var_samp) but with a single shared buffer — the template for any
    * custom mergeable statistic (sketches, reservoirs, …). */
  case class MomentsBuf(n: Long, mean: Double, m2: Double)
  final class WelfordMoments extends Aggregator[Double, MomentsBuf, (Long, Double, Double)] {
    override def zero: MomentsBuf = MomentsBuf(0L, 0.0, 0.0)
    override def reduce(b: MomentsBuf, x: Double): MomentsBuf = {
      val n = b.n + 1
      val d = x - b.mean
      val mean = b.mean + d / n
      MomentsBuf(n, mean, b.m2 + d * (x - mean))
    }
    override def merge(a: MomentsBuf, b: MomentsBuf): MomentsBuf = {
      if (a.n == 0) b
      else if (b.n == 0) a
      else {
        val n = a.n + b.n
        val d = b.mean - a.mean
        MomentsBuf(n, a.mean + d * b.n / n,
          a.m2 + b.m2 + d * d * a.n * b.n / n)
      }
    }
    override def finish(b: MomentsBuf): (Long, Double, Double) =
      (b.n, b.mean, if (b.n > 1) b.m2 / (b.n - 1) else Double.NaN)
    override def bufferEncoder: Encoder[MomentsBuf] = Encoders.product[MomentsBuf]
    override def outputEncoder: Encoder[(Long, Double, Double)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaDouble, Encoders.scalaDouble)
  }

  /** Misra–Gries heavy-hitters summary: at most `width` counters. The two
    * guarantees (Agarwal et al., "Mergeable Summaries"): estimates never
    * overcount, and they undercount by at most n/(width+1) — so any item
    * with true frequency above n/(width+1) is guaranteed a surviving
    * counter. The merge is counter-wise sum followed by the same
    * decrement-and-trim as reduce, so the summary runs partial→final like
    * any built-in and the bound holds at any partitioning. The raw
    * ESTIMATES depend on merge order; the BOUNDS do not — catalog queries
    * expose only order-independent facts (the sketch_* oracle convention),
    * the raw summary stays spec-land. */
  final class MisraGries(width: Int)
      extends Aggregator[String, Map[String, Long], Map[String, Long]] {
    require(width >= 1)
    override def zero: Map[String, Long] = Map.empty
    private def trim(m: Map[String, Long]): Map[String, Long] =
      if (m.size <= width) m
      else {
        // subtract the (width+1)-th largest weight from everything; at
        // least one counter zeroes out, and the removed mass per input
        // row stays bounded by 1/(width+1) of the rows seen
        val cut = m.values.toIndexedSeq.sorted(Ordering[Long].reverse)(width)
        m.collect { case (k, v) if v > cut => k -> (v - cut) }
      }
    override def reduce(b: Map[String, Long], x: String): Map[String, Long] =
      trim(b.updated(x, b.getOrElse(x, 0L) + 1L))
    override def merge(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
      trim(b.foldLeft(a) { case (m, (k, v)) => m.updated(k, m.getOrElse(k, 0L) + v) })
    override def finish(b: Map[String, Long]): Map[String, Long] = b
    override def bufferEncoder: Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
    override def outputEncoder: Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
  }

  /** Bounded top-k by value without a sort — per-partition heap, mergeable.
    * The typed analogue of TakeOrderedAndProject for use inside groupBy.
    * The buffer invariant — sorted by (value desc, id asc), length ≤ k —
    * lets reduce() reject a non-improving row with ONE comparison against
    * the current cutoff (OPTIMIZATION r15: the aggregate sees every scored
    * row, so the per-row path must be O(1) in the common case; results are
    * identical to the always-sort form, AggregatorsSpec pins it).
    * `ord` is the ONE ranking reduce() and trim() share: value descending
    * under `java.lang.Double.compare` — NaN above every number, as in
    * Spark's and DuckDB's `ORDER BY value DESC` — then id ascending. */
  final class TopK(k: Int) extends Aggregator[(Long, Double), Seq[(Double, Long)], Seq[Long]] {
    private val ord =
      Ordering.Tuple2(Ordering.Double.TotalOrdering.reverse, Ordering.Long)
    private def trim(s: Seq[(Double, Long)]): Seq[(Double, Long)] =
      s.sorted(ord).take(k)
    override def zero: Seq[(Double, Long)] = Vector.empty
    override def reduce(b: Seq[(Double, Long)], x: (Long, Double)): Seq[(Double, Long)] = {
      val e = (x._2, x._1)
      // cutoff better-or-equal than the candidate under (value desc,
      // id asc) ⇒ the candidate cannot enter a full buffer (a key-equal
      // tie also keeps the buffer: stable sort retains the incumbent)
      if (b.length == k && ord.lteq(b.last, e)) b
      else trim(b :+ e)
    }
    override def merge(a: Seq[(Double, Long)], b: Seq[(Double, Long)]): Seq[(Double, Long)] =
      trim(a ++ b)
    override def finish(b: Seq[(Double, Long)]): Seq[Long] = b.map(_._2)
    override def bufferEncoder: Encoder[Seq[(Double, Long)]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[(Double, Long)]]()
    override def outputEncoder: Encoder[Seq[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
  }
}
