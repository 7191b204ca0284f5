package graft.plans

import scala.reflect.ClassTag

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.ArrayType
import org.apache.spark.unsafe.types.UTF8String

/** Session extensions registering the library's native expressions.
  * Install with `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`.
  *
  * Every SQL function is one row of `functions`: its name, its
  * expression class, its parameters (whose count is the arity) and a
  * builder. Constant arguments — sizes, literal arrays of range bounds,
  * centroids or percentiles — are folded into primitives at resolution
  * time, so the per-row path is the kernel alone.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  /** Fold a literal int argument, accepting any integral literal type
    * (an SQL `128` folds to Integer, `CAST(128 AS BIGINT)` to Long — a
    * bare asInstanceOf[Int] would throw ClassCastException on the
    * latter) and enforcing positivity: k = 0 would silently collapse
    * every document to the same seed shingle set.
    */
  private def positiveInt(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a literal")
    val v = e.eval() match {
      case i: java.lang.Integer => i.intValue
      case l: java.lang.Long    => math.toIntExact(l)
      case s: java.lang.Short   => s.intValue
      case other => throw new IllegalArgumentException(s"$what must be an integer, got $other")
    }
    require(v > 0, s"$what must be positive, got $v")
    v
  }

  /** Fold a literal array argument through `elem`, which converts each
    * boxed element and refuses (is undefined on) any other type:
    * literals fold to boxed values per their SQL type, so e.g. a
    * toLongArray over boxed Integers would throw ClassCastException.
    */
  private def literalArray[T: ClassTag](e: Expression, what: String, kind: String)(
      elem: PartialFunction[Any, T]): Array[T] = {
    require(e.foldable, s"$what must be a literal array, got $e")
    val et = e.dataType.asInstanceOf[ArrayType].elementType
    val data = e.eval().asInstanceOf[ArrayData]
    Array.tabulate(data.numElements()) { i =>
      elem.applyOrElse(data.get(i, et), (other: Any) =>
        throw new IllegalArgumentException(s"$what must be $kind literals, got $other"))
    }
  }

  /** `name(params…)`, built by `build` from exactly `params.length`
    * arguments. */
  private def fn(name: String, cls: Class[_], params: String*)(build: Seq[Expression] => Expression) =
    (new FunctionIdentifier(name), new ExpressionInfo(cls.getName, name),
      (args: Seq[Expression]) => {
        require(args.length == params.length, s"$name(${params.mkString(", ")})")
        build(args)
      })

  private val functions = Seq(
    // the ranges come from compiled classification metadata; the
    // binary search needs them sorted and disjoint
    fn("range_set_search", classOf[RangeSetSearch], "value", "array(lo...)", "array(hi...)") { a =>
      def longs(e: Expression) = literalArray(e, "range bounds", "integral") {
        case l: java.lang.Long    => l.longValue
        case n: java.lang.Integer => n.longValue
        case s: java.lang.Short   => s.longValue
      }
      val (los, his) = (longs(a(1)), longs(a(2)))
      // the binary search's correctness contract — enforce it here
      // too, not only in the Scala RangeSet.search wrapper: unsorted
      // or overlapping bounds through raw SQL would silently return
      // wrong indexes
      require(los.length == his.length,
        "range_set_search: lo/hi arrays must be the same length")
      // every range must be well-formed on its own — the pairwise loop
      // below never inspects the last range, so an inverted [lo > hi)
      // there would pass and make the binary search silently miss
      los.indices.foreach { i =>
        require(los(i) <= his(i),
          s"range_set_search: inverted range at index $i: [${los(i)}, ${his(i)})")
      }
      // per-range lo <= hi above + hi(i) <= lo(i+1) here already
      // imply lo(i) <= lo(i+1)
      (0 until los.length - 1).foreach { i =>
        require(his(i) <= los(i + 1),
          s"range_set_search: ranges must be sorted and disjoint " +
            s"(violated at index $i: [${los(i)}, ${his(i)}) then [${los(i + 1)}, ${his(i + 1)}))")
      }
      RangeSetSearch(a(0), los, his)
    },
    fn("sliding_windows", classOf[SlidingWindows], "tokens", "k", "sep") { a =>
      require(a(2).foldable, s"sep must be a literal string, got ${a(2)}")
      val sep = a(2).eval() match {
        case s: UTF8String => s
        case other => throw new IllegalArgumentException(s"sep must be a string literal, got $other")
      }
      SlidingWindows(a(0), positiveInt(a(1), "k"), sep)
    },
    fn("simhash_text", classOf[SimHashText], "text")(a => SimHashText(a(0))),
    fn("vec_dot", classOf[VecDot], "a", "b")(a => VecDot(a(0), a(1))),
    fn("shingle_hashes", classOf[ShingleText], "text", "k") { a =>
      ShingleText(a(0), positiveInt(a(1), "k"))
    },
    fn("jaccard_hashes", classOf[JaccardHashes], "a", "b")(a => JaccardHashes(a(0), a(1))),
    fn("minhash_text", classOf[MinHashText], "text", "numHashes", "k") { a =>
      MinHashText(a(0), positiveInt(a(1), "numHashes"), positiveInt(a(2), "k"))
    },
    fn("winnow_text", classOf[WinnowText], "text", "k", "w") { a =>
      WinnowText(a(0), positiveInt(a(1), "k"), positiveInt(a(2), "w"))
    },
    fn("nearest_centroid", classOf[NearestCentroid], "vec", "flat_matrix", "labels") { a =>
      val flat = literalArray(a(1), "centroid matrix", "numeric") {
        case d: java.lang.Double => d.doubleValue
        case f: java.lang.Float  => f.doubleValue
      }
      val labels = literalArray(a(2), "centroid labels", "integral") {
        case n: java.lang.Integer => n.intValue
        case l: java.lang.Long    => math.toIntExact(l)
      }
      require(labels.nonEmpty, "nearest_centroid: need at least one centroid")
      require(flat.length % labels.length == 0 && flat.length > 0,
        s"nearest_centroid: matrix length ${flat.length} not divisible by " +
          s"label count ${labels.length}")
      NearestCentroid(a(0), flat, labels)
    },
    fn("wq_percentiles", classOf[WeightedPercentilesSketch],
        "value", "weight", "array(p...)", "maxCentroids") { a =>
      val ps = literalArray(a(2), "percentile list", "numeric") {
        case d: java.lang.Double  => d.doubleValue
        case f: java.lang.Float   => f.doubleValue
        case n: java.lang.Integer => n.doubleValue
      }
      WeightedPercentilesSketch(a(0), a(1), ps.toSeq, positiveInt(a(3), "maxCentroids"))
    },
  )

  override def apply(ext: SparkSessionExtensions): Unit = {
    // runs inside the operator-optimization fixed point, so the folded
    // predicate is then pushed/pruned by the stock rules in the same pass
    ext.injectOptimizerRule(_ => FoldIsNotNullConditional)
    functions.foreach(ext.injectFunction)
  }
}
