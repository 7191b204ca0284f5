package graft.ops

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** One-pass weighted-quantile sketch (SURVEY §4 optional #2): a
  * MERGEABLE bounded-centroid histogram aggregated map-side, for the
  * regime where the window formulation ([[Stats.addQuantile]], the
  * default route of [[Stats.quantileTable]]) is the wrong tool —
  * extreme group cardinality, where shuffling and sorting every row by
  * group is the bottleneck and only percentile VALUES per group are
  * wanted.
  *
  * The buffer keeps up to `maxCentroids` (value, weight) centroids
  * sorted by value; equal values coalesce exactly, and past capacity
  * the two CLOSEST adjacent centroids merge into their weighted mean —
  * the streaming-histogram compression of Ben-Haim & Tom-Tov (JMLR 11,
  * 2010, public). Properties:
  *
  *   - EXACT whenever a group's distinct value count stays ≤ capacity
  *     (no compression ever fires; integer-valued weights then make the
  *     result bit-deterministic regardless of merge order);
  *   - constant memory per group and map-side partial aggregation — the
  *     shuffle carries one ≤ maxCentroids buffer per (partition, group),
  *     never the rows, so cost at 100 TB is bounded by group count;
  *   - the reported percentile is the LOWER weighted percentile: the
  *     smallest centroid whose cumulative weight reaches p × total
  *     (the rule of [[Stats.quantileTable]]'s window route);
  *   - ONE buffer answers ANY number of percentiles
  *     ([[WeightedPercentiles]] — p25/p50/p75 from a single pass), the
  *     usual production shape.
  *
  * The reference's quantile machinery (calculator/quantile.py:119-146)
  * is window-shaped and stays the default; this is the scale escape
  * hatch, not a replacement, reached through
  * `Stats.quantileTable(useSketch = true)`, which picks the native or
  * the udaf form for the session.
  */
object WeightedQuantileSketch {

  /** Parallel sorted arrays; vs.length == ws.length ≤ capacity. */
  final case class WQBuf(vs: Array[Double], ws: Array[Double])

  private[graft] def bufInsert(b: WQBuf, v: Double, w: Double, cap: Int): WQBuf = {
    val idx = java.util.Arrays.binarySearch(b.vs, v)
    if (idx >= 0) {
      // exact coalesce — no growth, no compression. In-place: the
      // aggregation owns one buffer per group (reduce receives and
      // returns it), so mutating the weight array is safe and spares a
      // per-row array clone on the dominant repeated-value path.
      b.ws(idx) += w
      b
    } else {
      val at = -idx - 1
      val vs = new Array[Double](b.vs.length + 1)
      val ws = new Array[Double](b.ws.length + 1)
      System.arraycopy(b.vs, 0, vs, 0, at); System.arraycopy(b.ws, 0, ws, 0, at)
      vs(at) = v; ws(at) = w
      System.arraycopy(b.vs, at, vs, at + 1, b.vs.length - at)
      System.arraycopy(b.ws, at, ws, at + 1, b.ws.length - at)
      bufCompress(WQBuf(vs, ws), cap)
    }
  }

  /** Merge-walk two sorted centroid lists (coalescing equal values),
    * then compress once — cheaper and more accurate than re-inserting
    * one side's centroids one at a time.
    */
  private[graft] def bufMerge(a: WQBuf, b: WQBuf, cap: Int): WQBuf = {
    val n = a.vs.length + b.vs.length
    val vs = new Array[Double](n)
    val ws = new Array[Double](n)
    var i = 0; var j = 0; var o = 0
    while (i < a.vs.length || j < b.vs.length) {
      val takeA = j >= b.vs.length || (i < a.vs.length && a.vs(i) <= b.vs(j))
      val (v, w) = if (takeA) (a.vs(i), a.ws(i)) else (b.vs(j), b.ws(j))
      if (takeA) i += 1 else j += 1
      if (o > 0 && vs(o - 1) == v) ws(o - 1) += w
      else { vs(o) = v; ws(o) = w; o += 1 }
    }
    bufCompress(WQBuf(vs.take(o), ws.take(o)), cap)
  }

  /** Merge closest adjacent centroids until within capacity. */
  private[graft] def bufCompress(b: WQBuf, cap: Int): WQBuf = {
    if (b.vs.length <= cap) return b
    var vs = b.vs; var ws = b.ws
    while (vs.length > cap) {
      var best = 0
      var bestGap = Double.PositiveInfinity
      var i = 0
      while (i < vs.length - 1) {
        val gap = vs(i + 1) - vs(i)
        if (gap < bestGap) { bestGap = gap; best = i }
        i += 1
      }
      val w = ws(best) + ws(best + 1)
      val v = (vs(best) * ws(best) + vs(best + 1) * ws(best + 1)) / w
      val nvs = new Array[Double](vs.length - 1)
      val nws = new Array[Double](ws.length - 1)
      System.arraycopy(vs, 0, nvs, 0, best); System.arraycopy(ws, 0, nws, 0, best)
      nvs(best) = v; nws(best) = w
      System.arraycopy(vs, best + 2, nvs, best + 1, vs.length - best - 2)
      System.arraycopy(ws, best + 2, nws, best + 1, ws.length - best - 2)
      vs = nvs; ws = nws
    }
    WQBuf(vs, ws)
  }

  /** Lower weighted percentile of the buffer (NaN when empty). */
  private[graft] def bufPercentile(b: WQBuf, p: Double): Double = {
    if (b.vs.isEmpty) return Double.NaN
    val target = p * b.ws.sum
    var cum = 0.0
    var i = 0
    while (i < b.vs.length) {
      cum += b.ws(i)
      if (cum >= target) return b.vs(i)
      i += 1
    }
    b.vs.last // numeric tail guard (cum ≈ total < target by ulps)
  }

  /** Any number of percentiles from the SAME single-pass buffer. */
  final class WeightedPercentiles(ps: Seq[Double], maxCentroids: Int)
      extends Aggregator[(Double, Double), WQBuf, Seq[Double]] {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1),
      s"percentiles must be in [0,1], got $ps")
    require(maxCentroids >= 2, s"need at least 2 centroids, got $maxCentroids")
    override def zero: WQBuf = WQBuf(Array.empty, Array.empty)
    override def reduce(b: WQBuf, in: (Double, Double)): WQBuf =
      bufInsert(b, in._1, in._2, maxCentroids)
    override def merge(a: WQBuf, b: WQBuf): WQBuf = bufMerge(a, b, maxCentroids)
    override def finish(b: WQBuf): Seq[Double] = ps.map(bufPercentile(b, _))
    override def bufferEncoder: Encoder[WQBuf] = Encoders.product[WQBuf]
    override def outputEncoder: Encoder[Seq[Double]] = ExpressionEncoder()
  }

  /** Column form returning array<double>, one element per requested p.
    * Aggregator/udaf path — the fallback for sessions without
    * [[graft.plans.GraftExtensions]], and the cross-check twin of the
    * native form (WeightedQuantileSketchSpec asserts they agree
    * bit-for-bit); prefer [[weightedPercentilesNativeAgg]] in production
    * plans.
    */
  def weightedPercentilesAgg(ps: Seq[Double], maxCentroids: Int = 128): (Column, Column) => Column = {
    val u = udaf(new WeightedPercentiles(ps, maxCentroids))
    (v, w) => u(v, w)
  }

  /** NATIVE column form — the default. Same buffer kernels as the
    * Aggregator path (bit-identical results by construction) through
    * [[graft.plans.WeightedPercentilesSketch]], a TypedImperativeAggregate
    * whose `update` reads the two doubles straight off the InternalRow:
    * no per-row ExpressionEncoder round-trip, no boxed tuple. At the
    * sketch's design regime (extreme group cardinality, tiny groups)
    * that per-row tax is the dominant term — the udaf form measured
    * 1.4× the WINDOW path at sf0.1 `e12_sketch_hicard` before this
    * (SCALE.md round 16). Needs [[graft.plans.GraftExtensions]]
    * installed (every session in this library installs it). Returns
    * array<double>, one element per requested p; inputs must already
    * be double (callers cast, as with the udaf form).
    */
  def weightedPercentilesNativeAgg(ps: Seq[Double], maxCentroids: Int = 128): (Column, Column) => Column =
    (v, w) => call_function("wq_percentiles", v, w,
      lit(ps.toArray), lit(maxCentroids))
}
