package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native end-to-end winnowing kernel: normalize → tokenize → k-token
  * shingle md5-prefix hashes → rightmost-window-minimum selection — all
  * per ROW, because winnowing is a purely document-local computation.
  * The window-function formulation (kept as
  * `TextOps.winnowFingerprintsWindowed`) pays a (doc_id, pos)
  * shuffle+sort only because it routes per-document state through
  * posexplode; this kernel removes the exchange entirely: the corpus
  * fingerprint pass becomes scan → project → explode, the cheapest
  * shape a full-corpus pass can have at 100 TB.
  *
  * Semantics are BIT-IDENTICAL to the windowed form and its DuckDB
  * oracle replay (asserted in TextOpsSpec): Unicode lower() first (the
  * same `lower()` Spark and DuckDB apply), then maximal [a-z0-9] runs
  * as tokens, shingle fingerprint = first 16 hex chars of md5 of the
  * space-joined gram, rightmost-minimal selection per w-window, one
  * (pos, fp) row per selected position. Documents with fewer than k
  * tokens yield an empty array; fewer than w shingles yield exactly one
  * whole-document window.
  */
final case class WinnowText(child: Expression, k: Int, w: Int)
    extends UnaryExpression with ExpectsInputTypes {

  override def inputTypes = Seq(StringType)

  override def dataType: DataType = WinnowText.outType
  override def nullIntolerant: Boolean = true

  override protected def withNewChildInternal(newChild: Expression): WinnowText =
    copy(child = newChild)

  override def nullSafeEval(input: Any): Any =
    WinnowText.compute(input.asInstanceOf[UTF8String], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val obj = WinnowText.getClass.getName.stripSuffix("$")
    nullSafeCodeGen(ctx, ev, t =>
      s"${ev.value} = $obj.compute($t, $k, $w);")
  }
}

object WinnowText {

  val outType: DataType = ArrayType(StructType(Seq(
    StructField("pos", IntegerType, nullable = false),
    StructField("fp", StringType, nullable = false))), containsNull = false)

  // MD5 instances are not thread-safe and not free to construct per row
  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  private val HEX = "0123456789abcdef".toCharArray

  /** First 8 digest bytes as 16 lowercase hex chars — exactly
    * `substring(md5(gram), 1, 16)`.
    */
  private def hex16(d: Array[Byte]): String = {
    val out = new Array[Char](16)
    var i = 0
    while (i < 8) {
      out(2 * i) = HEX((d(i) >> 4) & 0xF)
      out(2 * i + 1) = HEX(d(i) & 0xF)
      i += 1
    }
    new String(out)
  }

  def compute(text: UTF8String, k: Int, w: Int): ArrayData = {
    // Unicode lowering FIRST, exactly like the SQL lower() both engines
    // apply — byte-level ASCII lowering would diverge on the rare code
    // points whose lowercase form contains ASCII (e.g. Kelvin sign -> k)
    val s = text.toLowerCase.toString
    val n = s.length
    val toks = new scala.collection.mutable.ArrayBuffer[String](32)
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if ((c >= 'a' && c <= 'z') || (c >= '0' && c <= '9')) {
        val start = i
        while (i < n && { val c2 = s.charAt(i); (c2 >= 'a' && c2 <= 'z') || (c2 >= '0' && c2 <= '9') }) i += 1
        toks += s.substring(start, i)
      } else i += 1
    }
    val m = toks.length - k + 1
    if (m <= 0) return new GenericArrayData(Array.empty[Any])
    val md = md5.get()
    val fps = new Array[String](m)
    val sb = new java.lang.StringBuilder
    var j = 0
    while (j < m) {
      sb.setLength(0)
      var t = j
      while (t < j + k) {
        if (t > j) sb.append(' ')
        sb.append(toks(t))
        t += 1
      }
      md.reset()
      fps(j) = hex16(md.digest(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)))
      j += 1
    }
    // rightmost-minimal selection per window start (w is small; the
    // O(m*w) scan beats a deque's allocation churn at these widths)
    val selected = new Array[Boolean](m)
    val lastStart = math.max(m - w, 0)
    var st = 0
    while (st <= lastStart) {
      var best = st
      var t = st + 1
      val end = math.min(st + w, m)
      while (t < end) {
        if (fps(t).compareTo(fps(best)) <= 0) best = t // <=: rightmost tie wins
        t += 1
      }
      selected(best) = true
      st += 1
    }
    val rows = new scala.collection.mutable.ArrayBuffer[Any](math.min(m, 2 * (m / (w + 1)) + 2))
    var p = 0
    while (p < m) {
      if (selected(p)) rows += InternalRow(p, UTF8String.fromString(fps(p)))
      p += 1
    }
    new GenericArrayData(rows.toArray)
  }
}
