package graft.plans

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Exact Jaccard over two PRE-COMPUTED sorted-distinct shingle-hash
  * arrays (the output contract of [[ShingleText]]): a single merge walk,
  * no per-pair tokenization, no set allocation. Two empty ARRAYS score
  * 0.0 — but note [[ShingleText]] never emits an empty array: token-free
  * texts carry the seed shingle, so through the text kernels two
  * token-free documents score 1.0 (deliberately: empty/placeholder rows
  * are mutual duplicates for dedup purposes).
  *
  * This is the verify-side complement of [[ShingleText]]: candidate
  * pipelines with many pairs per document (SimHash's narrow band keys
  * produce ~50 candidate pairs per doc at sf0.1) shingle each document
  * ONCE and verify pairs with this O(|a|+|b|) walk, instead of
  * re-running the full tokenize+hash+sort kernel twice per candidate
  * pair (`graft.ops.Dedup.pairJaccard`).
  */
final case class JaccardHashes(left: Expression, right: Expression)
    extends BinaryExpression with ExpectsInputTypes {

  // sorted-distinct long arrays from shingle_hashes — any other element
  // type would silently read garbage through the unsafe getLong path
  override def inputTypes = Seq(ArrayType(LongType), ArrayType(LongType))

  override def dataType: DataType = DoubleType
  override def nullIntolerant: Boolean = true

  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): JaccardHashes =
    copy(left = newLeft, right = newRight)

  override def nullSafeEval(l: Any, r: Any): Any =
    JaccardHashes.compute(l.asInstanceOf[ArrayData], r.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val obj = JaccardHashes.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $obj.compute($a, $b);")
  }
}

object JaccardHashes {
  /** Merge-walk intersection of two sorted-distinct long arrays;
    * jaccard = |a ∩ b| / (|a| + |b| - |a ∩ b|).
    */
  def compute(a: ArrayData, b: ArrayData): Double = {
    val n = a.numElements()
    val m = b.numElements()
    if (n == 0 && m == 0) return 0.0
    var i = 0
    var j = 0
    var inter = 0
    while (i < n && j < m) {
      val x = a.getLong(i)
      val y = b.getLong(j)
      if (x == y) { inter += 1; i += 1; j += 1 }
      else if (x < y) i += 1
      else j += 1
    }
    val union = n + m - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }
}
