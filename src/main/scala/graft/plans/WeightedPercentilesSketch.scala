package graft.plans

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType}

import graft.ops.WeightedQuantileSketch
import graft.ops.WeightedQuantileSketch.WQBuf

/** Native [[TypedImperativeAggregate]] form of the mergeable
  * weighted-quantile sketch (Ben-Haim & Tom-Tov streaming histogram —
  * see [[graft.ops.WeightedQuantileSketch]] for the algorithm and its
  * exactness/bounds contract; this class shares those exact buffer
  * kernels, so the two forms are bit-identical by construction).
  *
  * Why a native aggregate when `udaf(Aggregator)` already works: the
  * Aggregator path pays a per-row ExpressionEncoder round-trip — every
  * input row is deserialized into a boxed `(Double, Double)` tuple
  * before `reduce` sees it. At the operator's own design regime
  * (extreme group cardinality, where per-row overhead is the dominant
  * term because groups are tiny and sorts are banned) that encoder tax
  * IS the cost. Here `update` reads the two doubles straight off the
  * `InternalRow` — no tuple, no encoder, one branch for the null/
  * non-positive-weight drop (the same filter
  * [[graft.ops.Stats.quantileTable]] applies before the Aggregator
  * form).
  *
  * The buffer stays the primitive-parallel-array [[WQBuf]]; shuffle/
  * spill serialization is a flat ByteBuffer of doubles (4-byte length
  * prefix + 16·n payload), not a row encoder.
  *
  * Registered as `wq_percentiles(value, weight, array(p...), cap)` by
  * [[GraftExtensions]]; the percentile list and capacity must be
  * foldable literals (they parameterize the aggregation itself).
  */
final case class WeightedPercentilesSketch(
    value: Expression,
    weight: Expression,
    percentiles: Seq[Double], // Seq, not Array: case-class equality must be
    maxCentroids: Int,        // structural for plan canonicalization
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[WQBuf] with BinaryLike[Expression] {

  require(percentiles.nonEmpty && percentiles.forall(p => p >= 0 && p <= 1),
    s"percentiles must be in [0,1], got ${percentiles.mkString(",")}")
  require(maxCentroids >= 2, s"need at least 2 centroids, got $maxCentroids")

  @transient private lazy val psArr: Array[Double] = percentiles.toArray

  override def left: Expression = value
  override def right: Expression = weight
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): WeightedPercentilesSketch =
    copy(value = newLeft, weight = newRight)
  override def withNewMutableAggBufferOffset(newOffset: Int): WeightedPercentilesSketch =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): WeightedPercentilesSketch =
    copy(inputAggBufferOffset = newOffset)

  override def checkInputDataTypes(): TypeCheckResult =
    if (value.dataType == DoubleType && weight.dataType == DoubleType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "wq_percentiles expects (double, double), got " +
        s"${value.dataType.catalogString}, ${weight.dataType.catalogString}")

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "wq_percentiles"

  override def createAggregationBuffer(): WQBuf =
    WQBuf(Array.emptyDoubleArray, Array.emptyDoubleArray)

  override def update(b: WQBuf, input: InternalRow): WQBuf = {
    val v = value.eval(input)
    if (v == null) return b
    val w = weight.eval(input)
    if (w == null) return b
    val wd = w.asInstanceOf[Double]
    if (wd <= 0) b
    else WeightedQuantileSketch.bufInsert(b, v.asInstanceOf[Double], wd, maxCentroids)
  }

  override def merge(a: WQBuf, b: WQBuf): WQBuf =
    WeightedQuantileSketch.bufMerge(a, b, maxCentroids)

  override def eval(b: WQBuf): Any = {
    val out = new Array[Double](psArr.length)
    var i = 0
    while (i < psArr.length) {
      out(i) = WeightedQuantileSketch.bufPercentile(b, psArr(i))
      i += 1
    }
    new GenericArrayData(out)
  }

  override def serialize(b: WQBuf): Array[Byte] = {
    val n = b.vs.length
    val bb = ByteBuffer.allocate(4 + 16 * n)
    bb.putInt(n)
    var i = 0
    while (i < n) { bb.putDouble(b.vs(i)); i += 1 }
    i = 0
    while (i < n) { bb.putDouble(b.ws(i)); i += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): WQBuf = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val vs = new Array[Double](n)
    val ws = new Array[Double](n)
    var i = 0
    while (i < n) { vs(i) = bb.getDouble(); i += 1 }
    i = 0
    while (i < n) { ws(i) = bb.getDouble(); i += 1 }
    WQBuf(vs, ws)
  }
}
