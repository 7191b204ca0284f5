package graft.plans

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression, UnsafeArrayData}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native shingle extraction: the DISTINCT [[TextHash]] k-shingle
  * hashes of a text, ascending, as array<long> — one kernel call per row
  * inside whole-stage codegen. [[JaccardHashes]] merge-walks two of
  * these arrays; `graft.ops.Dedup.pairJaccard` shingles each candidate
  * document once and scores its pairs that way.
  *
  * This exists because a higher-order-function shingle formulation
  * evaluates INTERPRETED (LambdaFunction is CodegenFallback): an explode
  * over one cost ~26 s for 5000 docs at sf0.1, vs sub-second through
  * this kernel — and hashing also slims every downstream exchange from
  * shingle STRINGS to 8-byte keys.
  */
final case class ShingleText(child: Expression, k: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullIntolerant: Boolean = true

  override protected def withNewChildInternal(newChild: Expression): ShingleText =
    copy(child = newChild)

  override def nullSafeEval(t: Any): Any =
    ShingleText.compute(t.asInstanceOf[UTF8String], k)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val obj = ShingleText.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, t => s"${ev.value} = $obj.compute($t, $k);")
  }
}

object ShingleText {
  def compute(text: UTF8String, k: Int): UnsafeArrayData = TextHash.sortedShingles(text, k)
}
