package graft.meta

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Integer set/range algebra over flexible metadata notation.
  *
  * Reproduces the semantics of the reference's Argham
  * (hbsir/utils/argham.py:14-241): an input tree of ints, lists, and
  * dicts — `{start, end, step}` dicts are half-open stepped ranges
  * (Python `range`), bare ints are singletons, keyword keys select a
  * sub-tree, and `default_range` filters bare ints.
  *
  * Two consumers, two compilation targets:
  *   - driver-side membership tests (year availability,
  *     hbsir/utils/parsing_utils.py:132-139) -> [[contains]];
  *   - commodity-code classification (hbsir/core/decoder.py:146-180) ->
  *     [[toPredicate]], a Catalyst `Column` disjunction of range
  *     predicates, letting the D1 range join stay in whole-stage codegen.
  */
final case class ArghamRange(start: Long, end: Long, step: Long = 1) {
  def contains(v: Long): Boolean =
    v >= start && v < end && (step == 1 || (v - start) % step == 0)
  def isSingleton: Boolean = end - start == 1
}

final class Argham private (
    val ranges: Vector[ArghamRange],
    val min: Option[Long],
    val max: Option[Long],
) {
  def contains(v: Long): Boolean =
    min.exists(_ <= v) && max.exists(_ >= v) && ranges.exists(_.contains(v))

  def isEmpty: Boolean = ranges.isEmpty

  def union(other: Argham): Argham = new Argham(
    (ranges ++ other.ranges).distinct,
    (min.toSeq ++ other.min.toSeq).minOption,
    (max.toSeq ++ other.max.toSeq).maxOption,
  )

  /** Compile to a Column predicate: OR of per-range conditions. Singleton
    * ranges become equality (hash-joinable); true ranges become
    * half-open interval predicates.
    */
  def toPredicate(c: Column): Column =
    if (ranges.isEmpty) lit(false)
    else
      ranges.map { r =>
        if (r.isSingleton) c === lit(r.start)
        else if (r.step == 1) c >= lit(r.start) && c < lit(r.end)
        else c >= lit(r.start) && c < lit(r.end) && (c - lit(r.start)) % lit(r.step) === lit(0)
      }.reduce(_ || _)

  /** All singleton values (for dictionary-style broadcast lookups). */
  def singletons: Vector[Long] = ranges.filter(_.isSingleton).map(_.start)

  override def toString: String = {
    val ints = ranges.filter(_.isSingleton).map(_.start.toString)
    val rngs = ranges.filterNot(_.isSingleton).map(r => s"(${r.start} - ${r.end})")
    ((if (ints.nonEmpty) Seq(s"[${ints.mkString(", ")}]") else Seq.empty) ++ rngs)
      .mkString(", ")
  }

  override def equals(obj: Any): Boolean = obj match {
    case a: Argham => ranges.toSet == a.ranges.toSet
    case _         => false
  }
  override def hashCode: Int = ranges.toSet.hashCode
}

object Argham {
  def apply(
      meta: Meta,
      keywords: Seq[String] = Seq.empty,
      defaultStart: Option[Long] = None,
      defaultEnd: Option[Long] = None,
      defaultStep: Long = 1,
      defaultRange: Option[(Long, Long)] = None,
  ): Argham = {
    val b = Vector.newBuilder[ArghamRange]

    def parse(m: Meta): Unit = m match {
      case MList(items) => items.foreach(parse)
      case mm: MMap     => parseDict(mm)
      case MInt(i) =>
        if (!defaultRange.exists { case (lo, hi) => i < lo || i > hi })
          b += ArghamRange(i, i + 1)
      case _ => // non-int scalars ignored (argham.py:176-177)
    }

    def parseDict(m: MMap): Unit = {
      keywords.find(m.has) match {
        case Some(word) => parse(m(word))
        case None =>
          if (m.has("start") || m.has("end")) {
            val start = m.get("start").map(_.asLong).orElse(defaultStart)
              .getOrElse(throw new IllegalArgumentException("Start must be specified"))
            val end = m.get("end").map(_.asLong).orElse(defaultEnd)
              .getOrElse(throw new IllegalArgumentException("End must be specified"))
            val step = m.get("step").map(_.asLong).getOrElse(defaultStep)
            b += ArghamRange(start, end, step)
          } else m.entries.foreach { case (_, v) => parse(v) }
      }
    }

    parse(meta)
    val ranges = b.result()
    val mins = ranges.map(_.start)
    val maxs = ranges.map(_.end - 1)
    new Argham(ranges.distinct, mins.minOption, maxs.maxOption)
  }

  def ofInts(is: Long*): Argham = apply(MList(is.toVector.map(MInt(_))))
}
