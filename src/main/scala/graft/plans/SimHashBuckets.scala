package graft.plans

import scala.collection.mutable

/** One banded SimHash row: document `id`, its full 64-bit hash `sh`, and
  * the band `q` whose `64/bands`-bit slice `k` keys its bucket.
  */
final case class BandedHash(id: Long, sh: Long, q: Int, k: Long)

/** One candidate pair, `idA < idB`, with the Hamming distance of their
  * hashes.
  */
final case class HashPair(idA: Long, idB: Long, hamming: Int)

/** The in-bucket SimHash candidate kernel behind
  * `graft.ops.Dedup.simHashCandidates`: it reads banded rows sorted by
  * `(q, k, sh, id)`, so each `(q, k)` bucket arrives as one contiguous
  * run ordered by full hash, and emits the pairs at Hamming distance
  * ≤ `maxDistance` that the documented recovery rules reach. No Spark
  * types: the caller drives it per partition.
  *
  * `overCap` lists the buckets with more than `maxBucketSize` members as
  * `(q, k, members)`; every other bucket is COOL (with `maxBucketSize`
  * = 0 the list is empty and every bucket is cool). A pair SHARES band q
  * when its two hashes agree on slice q, and a shared band is cool when
  * its bucket is.
  *
  *  - [[coolPairs]] compares every two members of each cool bucket and
  *    emits a pair only from the LOWEST cool band it shares — decided
  *    from the two hashes and `overCap` alone, so each pair is emitted
  *    exactly once across all buckets and partitions.
  *  - [[hotPairs]] runs the recovery rules inside each over-cap bucket
  *    and keeps only pairs that share NO cool band (the others are
  *    [[coolPairs]]' output): a STAR linking each equal-hash run to its
  *    lowest id, each member's next `neighborWindow` neighbours in hash
  *    order, and, in buckets of at most 8·`maxBucketSize` members when
  *    `maxDistance` > 0, a SUB-BAND pass — the members regrouped by each
  *    of 8 slices of the 64 − 64/bands bits outside the band, every two
  *    members compared inside a sub-bucket of at most `maxBucketSize`
  *    and the next `neighborWindow` inside a larger one. One pair can be
  *    recovered in several hot buckets, so the caller deduplicates this
  *    (small) output.
  *
  * Memory per bucket: a cool bucket buffers its members (at most
  * `maxBucketSize`, or the whole bucket when uncapped); a sub-band
  * bucket buffers its ≤ 8·`maxBucketSize` members plus one sort key per
  * member; any other over-cap bucket streams through a ring of
  * `neighborWindow` members. Output is produced lazily, at most one
  * member's comparisons ahead of the consumer.
  */
final class SimHashBuckets(
    bands: Int,
    maxDistance: Int,
    maxBucketSize: Int,
    neighborWindow: Int,
    overCap: Iterable[(Int, Long, Long)],
) {
  require(bands >= 1 && 64 % bands == 0, s"bands=$bands must divide 64")

  private val width = 64 / bands
  private val mask = if (width == 64) -1L else (1L << width) - 1
  private val subWidth = (64 - width) / 8
  private val subMask = (1L << subWidth) - 1
  // at maxDistance = 0 the star already links every equal-hash pair,
  // so sub-bands would recover nothing
  private val refines = subWidth >= 1 && maxDistance > 0
  private val members: Array[mutable.LongMap[Long]] = {
    val m = Array.fill(bands)(mutable.LongMap.empty[Long])
    overCap.foreach { case (q, k, n) => m(q)(k) = n }
    m
  }

  private def slice(h: Long, q: Int): Long = (h >>> (q * width)) & mask

  /** The lowest band on which `a` and `b` share a cool bucket, or
    * `bands` when they share none.
    */
  private def lowestCoolBand(a: Long, b: Long): Int = {
    val x = a ^ b
    var q = 0
    while (q < bands && (slice(x, q) != 0 || members(q).contains(slice(a, q)))) q += 1
    q
  }

  /** `h` with band `q`'s slice cut out, the higher bits shifted down. */
  private def rest(h: Long, q: Int): Long = {
    val hi = if (q == bands - 1) 0L else (h >>> ((q + 1) * width)) << (q * width)
    val lo = if (q == 0) 0L else h & ((1L << (q * width)) - 1)
    hi | lo
  }

  /** Every pair whose lowest shared cool band is the bucket it meets in. */
  def coolPairs(rows: Iterator[BandedHash]): Iterator[HashPair] = new Pass(rows, hot = false)

  /** The recovery rules' pairs that share no cool band (may repeat). */
  def hotPairs(rows: Iterator[BandedHash]): Iterator[HashPair] = new Pass(rows, hot = true)

  private final class Pass(rows: Iterator[BandedHash], hot: Boolean) extends Iterator[HashPair] {
    private val in = rows.buffered
    private val out = mutable.ArrayBuffer.empty[HashPair]
    private var drained = 0

    // the bucket being read (`open` until its last row is added);
    // `target` is the lowest-cool-band value a pair must have to be
    // emitted here, -1 when the bucket is skipped
    private var open = false
    private var q = 0
    private var k = 0L
    private var target = -1
    // members seen so far; ring mode keeps only the last neighborWindow
    private var seen = 0
    private var ring = false
    private var ids = new Array[Long](16)
    private var hs = new Array[Long](16)
    private var runAt = 0
    private var runId, runSh = 0L

    // sub-band pass over a buffered bucket: slice r of `order`, which
    // holds (sub-key << 32 | member) sorted; `pos` walks it and
    // [groupFrom, groupTo) is the sub-bucket around pos
    private var order: Array[Long] = null
    private var r, pos, groupFrom, groupTo = 0

    override def hasNext: Boolean = {
      while (drained == out.length) {
        out.clear(); drained = 0
        if (!step()) return false
      }
      true
    }

    override def next(): HashPair = {
      if (!hasNext) throw new NoSuchElementException
      drained += 1
      out(drained - 1)
    }

    private def at(j: Int): Int = if (ring) j % ids.length else j

    private def check(i: Int, j: Int): Unit = compare(ids(i), hs(i), ids(j), hs(j))

    private def compare(idA: Long, a: Long, idB: Long, b: Long): Unit =
      if (idA != idB) {
        val h = java.lang.Long.bitCount(a ^ b)
        if (h <= maxDistance && lowestCoolBand(a, b) == target)
          out += (if (idA < idB) HashPair(idA, idB, h) else HashPair(idB, idA, h))
      }

    /** One unit of work: a sub-band member, an input row, or a bucket's
      * start or end. False once the input is done.
      */
    private def step(): Boolean =
      if (order != null) { subStep(); true }
      else if (open && in.hasNext && in.head.q == q && in.head.k == k) { add(in.next()); true }
      else if (open) { open = false; finish(); true }
      else if (in.hasNext) { start(in.head); true }
      else false

    private def start(row: BandedHash): Unit = {
      open = true; q = row.q; k = row.k; seen = 0
      val n = members(q).getOrElse(k, 0L)
      val cool = n == 0L
      target = if (cool == hot) -1 else if (hot) bands else q
      ring = hot && !(refines && n <= 8L * maxBucketSize)
      val size = if (ring) math.max(neighborWindow, 1) else math.max(ids.length, 16)
      if (ids.length != size) { ids = new Array[Long](size); hs = new Array[Long](size) }
    }

    private def add(m: BandedHash): Unit = if (target >= 0) {
      val i = seen
      if (!hot) {
        var j = 0
        while (j < i) { compare(ids(j), hs(j), m.id, m.sh); j += 1 }
      } else {
        // star: the lowest id of an equal-hash run links every later
        // member the window below does not already reach
        if (i > 0 && m.sh == runSh) {
          if (i - runAt > neighborWindow) compare(runId, runSh, m.id, m.sh)
        } else { runAt = i; runId = m.id; runSh = m.sh }
        var j = math.max(0, i - neighborWindow)
        while (j < i) { compare(ids(at(j)), hs(at(j)), m.id, m.sh); j += 1 }
      }
      if (!ring && i == ids.length) {
        ids = java.util.Arrays.copyOf(ids, i * 2); hs = java.util.Arrays.copyOf(hs, i * 2)
      }
      ids(at(i)) = m.id; hs(at(i)) = m.sh
      seen += 1
    }

    /** Ends the bucket; a buffered over-cap bucket queues its sub-band
      * pass.
      */
    private def finish(): Unit =
      if (hot && target >= 0 && !ring && seen > 1) { r = 0; sortSlice() }

    private def sortSlice(): Unit = {
      order = Array.tabulate(seen)(i => ((rest(hs(i), q) >>> (r * subWidth)) & subMask) << 32 | i)
      java.util.Arrays.sort(order)
      pos = 0; groupFrom = 0; groupTo = 0
    }

    private def subStep(): Unit = {
      if (pos == groupTo) {
        groupFrom = pos
        groupTo = pos + 1
        while (groupTo < seen && (order(groupTo) >>> 32) == (order(pos) >>> 32)) groupTo += 1
      }
      val i = order(pos).toInt
      val from = if (groupTo - groupFrom <= maxBucketSize) groupFrom
        else math.max(groupFrom, pos - neighborWindow)
      var p = from
      while (p < pos) { check(order(p).toInt, i); p += 1 }
      pos += 1
      if (pos == seen) {
        r += 1
        if (r < 8) sortSlice() else order = null
      }
    }
  }
}
