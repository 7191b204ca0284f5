package graft.plans

import scala.util.Random

import org.scalatest.funsuite.AnyFunSuite

/** The in-bucket SimHash kernel against a brute-force reading of the
  * `Dedup.simHashCandidates` contract, on random 64-bit hash sets, with
  * no Spark session: every band's buckets built in full, every rule
  * (pairwise cool buckets; star, sorted window and sub-bands in over-cap
  * buckets) applied on its own, the union filtered by Hamming distance.
  */
class SimHashBucketsSpec extends AnyFunSuite {

  private val bands = 8
  private val width = 64 / bands
  private val subWidth = (64 - width) / 8

  private def slice(h: Long, q: Int): Long = (h >>> (q * width)) & ((1L << width) - 1)

  private def ham(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)

  /** `h` with band q's bits removed, written out bit by bit. */
  private def rest(h: Long, q: Int): Long =
    (0 until 64).filterNot(b => b / width == q).zipWithIndex.foldLeft(0L) {
      case (acc, (from, to)) => acc | (((h >>> from) & 1L) << to)
    }

  /** Sorted members of every (band, key) bucket. */
  private def buckets(docs: Seq[(Long, Long)]): Map[(Int, Long), Seq[(Long, Long)]] =
    (for { q <- 0 until bands; d <- docs } yield (q, slice(d._2, q)) -> d)
      .groupBy(_._1).map { case (key, ms) => key -> ms.map(_._2).sortBy { case (id, h) => (h, id) } }

  private def allPairs(ms: Seq[(Long, Long)]): Seq[((Long, Long), (Long, Long))] =
    ms.combinations(2).map(c => (c(0), c(1))).toSeq

  private def windowPairs(ms: Seq[(Long, Long)], w: Int): Seq[((Long, Long), (Long, Long))] =
    for { i <- ms.indices; j <- i + 1 to math.min(i + w, ms.size - 1) } yield (ms(i), ms(j))

  private def expected(docs: Seq[(Long, Long)], maxDistance: Int, cap: Int, w: Int): Set[HashPair] = {
    val found = buckets(docs).toSeq.flatMap { case ((q, _), ms) =>
      if (cap == 0 || ms.size <= cap) allPairs(ms)
      else {
        val star = ms.groupBy(_._2).values.toSeq.flatMap { g =>
          val rep = g.minBy(_._1)
          g.filter(_ != rep).map(rep -> _)
        }
        val subBands =
          if (ms.size > 8 * cap || maxDistance == 0) Nil
          else (0 until 8).flatMap { r =>
            ms.groupBy(m => (rest(m._2, q) >>> (r * subWidth)) & ((1L << subWidth) - 1))
              .values.toSeq.flatMap { sub =>
                val sorted = sub.sortBy { case (id, h) => (h, id) }
                if (sorted.size <= cap) allPairs(sorted) else windowPairs(sorted, w)
              }
          }
        star ++ windowPairs(ms, w) ++ subBands
      }
    }
    found.collect { case ((ia, ha), (ib, hb)) if ia != ib && ham(ha, hb) <= maxDistance =>
      HashPair(math.min(ia, ib), math.max(ia, ib), ham(ha, hb))
    }.toSet
  }

  /** Cool and hot output of the kernel over `partitions` hash partitions
    * of the sorted banded rows, as Spark feeds it.
    */
  private def kernel(docs: Seq[(Long, Long)], maxDistance: Int, cap: Int, w: Int,
      partitions: Int): (Seq[HashPair], Seq[HashPair]) = {
    val overCap =
      if (cap == 0) Nil
      else buckets(docs).collect { case ((q, k), ms) if ms.size > cap => (q, k, ms.size.toLong) }
    val rows = for { (id, h) <- docs; q <- 0 until bands } yield BandedHash(id, h, q, slice(h, q))
    val parts = rows.groupBy(r => math.floorMod((r.q, r.k).hashCode, partitions)).values.toSeq
      .map(_.sortBy(r => (r.q, r.k, r.sh, r.id)))
    val k = new SimHashBuckets(bands, maxDistance, cap, w, overCap)
    (parts.flatMap(p => k.coolPairs(p.iterator)), parts.flatMap(p => k.hotPairs(p.iterator)))
  }

  /** `n` hashes around a few centres, some exact copies, so that buckets
    * grow past small caps and near pairs abound.
    */
  private def corpus(rnd: Random, n: Int, centres: Int): Seq[(Long, Long)] = {
    val cs = Vector.fill(centres)(rnd.nextLong())
    (0 until n).map { i =>
      val h = if (rnd.nextInt(10) == 0) rnd.nextLong()
        else (0 until rnd.nextInt(12)).foldLeft(cs(rnd.nextInt(centres)))((x, _) => x ^ (1L << rnd.nextInt(64)))
      (i.toLong * 7 + rnd.nextInt(7), h)
    }
  }

  private def check(docs: Seq[(Long, Long)], maxDistance: Int, cap: Int, w: Int): Unit =
    for (partitions <- Seq(1, 3)) {
      val (cool, hot) = kernel(docs, maxDistance, cap, w, partitions)
      val want = expected(docs, maxDistance, cap, w)
      assert(cool.distinct.size == cool.size, "a cool pair was emitted twice")
      assert(cool.toSet.intersect(hot.toSet).isEmpty, "a pair came from both passes")
      val got = cool.toSet ++ hot
      assert(got == want,
        s"cap=$cap d=$maxDistance w=$w: missing ${want.diff(got).take(5)}, extra ${got.diff(want).take(5)}")
    }

  private def sizes(docs: Seq[(Long, Long)]): Seq[Int] = buckets(docs).values.map(_.size).toSeq

  test("cool: every bucket within the cap compares all its pairs, each once") {
    for (seed <- 1 to 4) {
      val docs = corpus(new Random(seed), 300, 6)
      assert(sizes(docs).max <= 1000)
      check(docs, maxDistance = 7, cap = 1000, w = 8)
    }
  }

  test("cap-adjacent: star, window and sub-bands inside buckets of at most 8·cap") {
    for (seed <- 1 to 4; (d, w) <- Seq((3, 4), (7, 8), (16, 2), (0, 8))) {
      val docs = corpus(new Random(seed), 300, 6)
      val cap = sizes(docs).max / 4
      assert(sizes(docs).exists(s => s > cap && s <= 8 * cap) && sizes(docs).max <= 8 * cap)
      check(docs, d, cap, w)
    }
  }

  test("saturated: buckets past 8·cap run star and window only") {
    for (seed <- 1 to 4; (d, w) <- Seq((3, 4), (12, 8), (7, 0))) {
      val docs = corpus(new Random(seed), 400, 3) ++
        Seq.tabulate(30)(i => (100000L + i, 0x5555aaaa5555aaaaL)) // one equal-hash run
      val cap = 5
      assert(sizes(docs).exists(_ > 8 * cap) && sizes(docs).exists(s => s > cap && s <= 8 * cap))
      check(docs, d, cap, w)
    }
  }

  test("maxBucketSize = 0: exactly the pairs within maxDistance that share a band, once each") {
    for (seed <- 1 to 4; d <- Seq(0, 3, 7, 20)) {
      val docs = corpus(new Random(seed), 250, 5)
      val (cool, hot) = kernel(docs, d, cap = 0, w = 8, partitions = 3)
      val brute = (for {
        Seq((ia, ha), (ib, hb)) <- docs.combinations(2).toSeq
        if ham(ha, hb) <= d && (0 until bands).exists(q => slice(ha, q) == slice(hb, q))
      } yield HashPair(math.min(ia, ib), math.max(ia, ib), ham(ha, hb))).toSet
      assert(hot.isEmpty)
      assert(cool.distinct.size == cool.size, "a pair was emitted twice")
      assert(cool.toSet == brute)
      assert(expected(docs, d, 0, 8) == brute)
    }
  }
}
