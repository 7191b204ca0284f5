package graft.plans

import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, XXH64}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** How the text kernels ([[MinHashText]], [[SimHashText]],
  * [[ShingleText]]) turn text into hashes, coded
  * once: exact filter-then-verify pipelines depend on the filter and the
  * verify step hashing shingles the same way.
  *
  * A token is a maximal run of token bytes: after ASCII lowercasing,
  * `[a-z0-9]` or ANY byte >= 0x80 (byte-level robustness: multibyte
  * scripts tokenize by their ASCII gaps; the flip side is that Unicode
  * punctuation and whitespace do NOT separate). A token hash is an XXH64
  * chain over the token's lowercased bytes, a k-shingle hash an XXH64
  * chain over k consecutive token hashes, both seeded with `Seed`. A
  * text with <= k tokens is one whole-text shingle (the bare seed when
  * it has none).
  *
  * [[WinnowText]] keeps its own tokenizer on purpose (Unicode lower(),
  * ASCII-only tokens, md5 fingerprints) so that DuckDB can replay it.
  */
private[plans] object TextHash {

  private val Seed = 0x9E3779B97F4A7C15L

  /** The token hashes of `text`, in text order. */
  def tokenHashes(text: UTF8String): Array[Long] = {
    val bytes = text.getBytes
    var out = new Array[Long](16)
    var n = 0
    var h = 0L
    var inTok = false
    var i = 0
    while (i <= bytes.length) {
      val c: Int = if (i < bytes.length) bytes(i) & 0xFF else ' '
      val lc = if (c >= 'A' && c <= 'Z') c + 32 else c
      if ((lc >= 'a' && lc <= 'z') || (lc >= '0' && lc <= '9') || lc >= 0x80) {
        h = XXH64.hashLong(lc.toLong, if (inTok) h else Seed)
        inTok = true
      } else if (inTok) {
        if (n == out.length) out = java.util.Arrays.copyOf(out, n * 2)
        out(n) = h
        n += 1
        inTok = false
      }
      i += 1
    }
    java.util.Arrays.copyOf(out, n)
  }

  /** The k-shingle hashes of `text`, one per window in text order,
    * duplicates kept. */
  def shingleHashes(text: UTF8String, k: Int): Array[Long] = {
    val toks = tokenHashes(text)
    val out = new Array[Long](math.max(toks.length - k + 1, 1))
    var j = 0
    while (j < out.length) {
      var sh = Seed
      var t = j
      val end = math.min(j + k, toks.length)
      while (t < end) { sh = XXH64.hashLong(toks(t), sh); t += 1 }
      out(j) = sh
      j += 1
    }
    out
  }

  /** The distinct k-shingle hashes of `text`, ascending: the array
    * `shingle_hashes` returns and [[JaccardHashes]] merge-walks. */
  def sortedShingles(text: UTF8String, k: Int): UnsafeArrayData = {
    val sh = shingleHashes(text, k)
    java.util.Arrays.sort(sh)
    var n = 0
    var i = 0
    while (i < sh.length) {
      if (n == 0 || sh(i) != sh(n - 1)) { sh(n) = sh(i); n += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(sh, Platform.LONG_ARRAY_OFFSET, n, 8)
  }
}
