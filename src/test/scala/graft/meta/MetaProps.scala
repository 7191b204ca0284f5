package graft.meta

import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** Property-based checks over the pure metadata algebra — the code the
  * whole engine's semantics hang off (year parsing pivots, Argham
  * set/range membership, the settings deep-merge). Example-based specs
  * cover the reference's documented cases; these pin the ALGEBRAIC
  * contracts on generated inputs (naive-oracle equivalence, membership
  * OR-composition, overlay-wins resolution).
  */
object MetaProps extends Properties("meta-algebra") {

  // ------------------------------------------------------------ YearParser

  private val bounds = YearParser.YearBounds(1363, 1401)
  private val yearGen = Gen.choose(1363, 1401)

  property("year spec string = naive expansion of parts") = forAll(
    Gen.nonEmptyListOf(Gen.oneOf(
      yearGen.map(y => (y.toString, List(y))),
      for { a <- yearGen; b <- Gen.choose(a, bounds.last) }
        yield (s"$a-$b", (a to b).toList),
    ))) { parts =>
    val spec = parts.map(_._1).mkString(",")
    YearParser.parse(spec, bounds) == parts.flatMap(_._2)
  }

  property("two-digit years pivot (<=60 -> 1400s, else 1300s)") =
    forAll(Gen.choose(0, 99)) { y =>
      val wide = YearParser.YearBounds(1300, 1460)
      val expected = if (y <= 60) 1400 + y else 1300 + y
      YearParser.checkValidity(y, wide) == expected
    }

  property("out-of-bounds year throws") = forAll(
    Gen.oneOf(Gen.choose(100, 1362), Gen.choose(1402, 9999))) { y =>
    Prop.throws(classOf[IllegalArgumentException])(YearParser.parse(y, bounds))
  }

  property("tableYearPairs filters exactly by Argham availability") = forAll(
    Gen.someOf(1363 to 1401)) { avail =>
    val a = Argham(MList(avail.toVector.map(y => MInt(y.toLong))))
    val pairs = YearParser.tableYearPairs(
      Seq("t"), (1363 to 1401).toSeq, Map("t" -> a), bounds)
    pairs.map(_._2).toSet == avail.toSet
  }

  // ---------------------------------------------------------------- Argham

  private case class RangeSpec(start: Long, end: Long, step: Long)
  private val rangeGen: Gen[RangeSpec] = for {
    start <- Gen.choose(-50L, 150L)
    len <- Gen.choose(0L, 60L)
    step <- Gen.choose(1L, 7L)
  } yield RangeSpec(start, start + len, step)

  private val intsGen = Gen.listOf(Gen.choose(-50L, 150L))

  property("contains = naive membership over ints + half-open stepped ranges") =
    forAll(intsGen, Gen.listOf(rangeGen)) { (ints, ranges) =>
      val meta = MList((ints.map(MInt(_)) ++ ranges.map(r =>
        Meta.map(Meta.k("start") -> MInt(r.start), Meta.k("end") -> MInt(r.end),
          Meta.k("step") -> MInt(r.step)))).toVector)
      val a = Argham(meta)
      def naive(v: Long): Boolean =
        ints.contains(v) ||
          ranges.exists(r => v >= r.start && v < r.end && (v - r.start) % r.step == 0)
      (-60L to 160L).forall(v => a.contains(v) == naive(v))
    }

  property("union membership = OR of the members'") = forAll(intsGen, intsGen) { (xs, ys) =>
    val a = Argham.ofInts(xs: _*)
    val b = Argham.ofInts(ys: _*)
    val u = a.union(b)
    (-60L to 160L).forall(v => u.contains(v) == (a.contains(v) || b.contains(v)))
  }

  property("keyword selection descends; default_range filters bare ints inclusively") =
    forAll(Gen.listOf(Gen.choose(-50L, 150L)), Gen.choose(-20L, 50L), Gen.choose(60L, 140L)) {
      (ints, lo, hi) =>
        val meta = Meta.map(
          Meta.k("urban") -> MList(ints.map(MInt(_)).toVector),
          Meta.k("rural") -> MInt(999L))
        val a = Argham(meta, keywords = Seq("urban"), defaultRange = Some((lo, hi)))
        val kept = ints.filter(i => i >= lo && i <= hi)
        (-60L to 160L).forall(v => a.contains(v) == kept.contains(v))
    }

  // ------------------------------------------------------------- deepMerge

  private val keyGen: Gen[MKey] = Gen.oneOf(
    Gen.oneOf("a", "b", "c", "d").map(SKey(_): MKey),
    Gen.choose(1L, 3L).map(IKey(_): MKey))

  private def metaGen(depth: Int): Gen[Meta] =
    if (depth == 0)
      Gen.oneOf(Gen.choose(-5L, 5L).map(MInt(_)), Gen.oneOf("x", "y").map(MStr(_)),
        Gen.const(MNull))
    else
      Gen.frequency(3 -> Gen.lzy(mapGen(depth)), 2 -> Gen.choose(-5L, 5L).map(MInt(_)))

  private def mapGen(depth: Int): Gen[MMap] = for {
    n <- Gen.choose(0, 4)
    ks <- Gen.listOfN(n, keyGen)
    vs <- Gen.listOfN(n, metaGen(depth - 1))
  } yield MMap(ks.zip(vs).toVector.distinctBy(_._1))

  property("deepMerge: root keys = union; overlay wins at every shared path") =
    forAll(mapGen(3), mapGen(3)) { (a, b) =>
      val m = Meta.deepMerge(a, b)
      val keyUnion = m.asMap.map(_._1).toSet == (a.keys.toSet ++ b.keys.toSet)
      // resolution contract: maps recurse, anything else is replaced by
      // the overlay; keys only in the base survive untouched
      def check(base: Meta, over: Meta, merged: Meta): Boolean = (base, over) match {
        case (bm: MMap, om: MMap) =>
          om.entries.forall { case (k, ov) =>
            val mv = merged.asMap.collectFirst { case (mk, v) if mk == k => v }.get
            bm.entries.collectFirst { case (bk, bv) if bk == k => bv } match {
              case Some(bv) => check(bv, ov, mv)
              case None     => mv == ov
            }
          } && bm.entries.forall { case (k, bv) =>
            om.keys.contains(k) ||
              merged.asMap.collectFirst { case (mk, v) if mk == k => v }.contains(bv)
          }
        case (_, o) => merged == o
      }
      keyUnion && check(a, b, m)
    }

  property("deepMerge is idempotent") = forAll(mapGen(3)) { a =>
    Meta.deepMerge(a, a) == a
  }
}
