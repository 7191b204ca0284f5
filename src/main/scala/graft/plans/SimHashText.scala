package graft.plans

import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native 64-bit SimHash of a text column: bit i of the result is the
  * sign of Σ_tokens (bit i of the [[TextHash]] token hash ? +1 : -1),
  * computed in one kernel call per row. Replaces the
  * explode + 64-partial-sum aggregate: no shuffle, no interpreted
  * higher-order functions.
  */
final case class SimHashText(child: Expression) extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)

  override def dataType: DataType = LongType
  override def nullIntolerant: Boolean = true

  override protected def withNewChildInternal(newChild: Expression): SimHashText =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    SimHashText.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val obj = SimHashText.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, t => s"${ev.value} = $obj.compute($t);")
  }
}

object SimHashText {

  def compute(text: UTF8String): Long = {
    val tokens = TextHash.tokenHashes(text)
    val counts = new Array[Int](64)
    var t = 0
    while (t < tokens.length) {
      val h = tokens(t)
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      t += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }
}
