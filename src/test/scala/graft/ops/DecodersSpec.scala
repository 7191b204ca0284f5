package graft.ops

import graft.SparkSpec
import graft.meta._
import org.apache.spark.sql.functions._

class DecodersSpec extends SparkSpec {

  private val resolver = ResolverSettings(yearRange = (1350, 2100))

  test("D1 raises on ambiguous (year, code, level) mappings") {
    import spark.implicits._
    val meta = Meta.fromYaml("""
items:
  a:
    level: 1
    code: {start: 0, end: 100}
  b:
    level: 1
    code: {start: 50, end: 150}
""")
    val df = Seq((1400, 75L)).toDF("Year", "Code")
    val items = Classifier.compile(meta, Seq(1400), resolver = resolver)
    val e = intercept[IllegalStateException] {
      Classifier.addClassification(df, items)
    }
    assert(e.getMessage.contains("Classification is not valid"))
  }

  test("D1 allows one item's OWN ranges to overlap (only cross-item is ambiguous)") {
    import spark.implicits._
    // item `a` claims 0-100 twice over (a range plus a contained
    // singleton) — the reference's validity check is per ITEM mapping,
    // so this must decode, not throw
    val meta = Meta.fromYaml("""
items:
  a:
    level: 1
    code: [{start: 0, end: 100}, 75]
""")
    val df = Seq((1400, 75L)).toDF("Year", "Code")
    val items = Classifier.compile(meta, Seq(1400), resolver = resolver)
    val out = Classifier.addClassification(df, items).collect()
    assert(out.length == 1 && out.head.getAs[String]("item_key_1") == "a")
  }

  test("D1 metadata without intersecting ranges settles uniqueness with no job") {
    import spark.implicits._
    val meta = Meta.fromYaml("""
defaults:
  levels: [1, 2]
items:
  coarse:
    level: 1
    code: {start: 0, end: 100}
  fine_low:
    level: 2
    code: [{start: 0, end: 50}, {start: 10, end: 20}]
  fine_high:
    level: 2
    code: {start: 50, end: 100}
""")
    val df = Seq((1400, 25L), (1400, 75L)).toDF("Year", "Code")
    val items = Classifier.compile(meta, Seq(1400), resolver = resolver)
    assert(!Classifier.rangesIntersect(items))
    val (out, jobs) = jobsDuring(Classifier.addClassification(df, items, Classifier.settingsFromMeta(meta)))
    assert(jobs == 0, s"building the classification started $jobs jobs")
    assert(out.collect().map(r => r.getAs[String]("item_key_2")).toSet == Set("fine_low", "fine_high"))
  }

  test("D1 intersecting metadata with no ambiguous code present still decodes") {
    import spark.implicits._
    val meta = Meta.fromYaml("""
items:
  a:
    level: 1
    code: {start: 0, end: 100}
  b:
    level: 1
    code: {start: 50, end: 150}
""")
    val df = Seq((1400, 25L), (1400, 120L)).toDF("Year", "Code")
    val items = Classifier.compile(meta, Seq(1400), resolver = resolver)
    assert(Classifier.rangesIntersect(items))
    val out = Classifier.addClassification(df, items).collect()
      .map(r => r.getAs[Long]("Code") -> r.getAs[String]("item_key_1")).toMap
    assert(out == Map(25L -> "a", 120L -> "b"))
  }

  test("D1 range intersection: distinct keys only, per (year, level), stepped ranges by span") {
    def item(key: String, ranges: (Long, Long, Long)*)(year: Int = 1400, level: Int = 1) =
      Classifier.ClassItem(year, key, level, Argham(MList(ranges.toVector.map { case (lo, hi, step) =>
        Meta.map(Meta.k("start") -> MInt(lo), Meta.k("end") -> MInt(hi), Meta.k("step") -> MInt(step))
      })))
    import Classifier.rangesIntersect
    assert(!rangesIntersect(Seq(item("a", (0L, 10L, 1L))(), item("b", (10L, 20L, 1L))())))
    assert(rangesIntersect(Seq(item("a", (0L, 10L, 1L))(), item("b", (9L, 20L, 1L))())))
    // a range nested in another key's range, after a third key's ranges
    assert(rangesIntersect(Seq(item("a", (0L, 100L, 1L))(), item("c", (100L, 120L, 1L), (130L, 140L, 1L))(),
      item("b", (110L, 115L, 1L))())))
    assert(!rangesIntersect(Seq(item("a", (0L, 10L, 1L), (5L, 8L, 1L))())))
    assert(!rangesIntersect(Seq(item("a", (0L, 10L, 1L))(1399), item("b", (0L, 10L, 1L))(1400))))
    assert(!rangesIntersect(Seq(item("a", (0L, 10L, 1L))(level = 1), item("b", (0L, 10L, 1L))(level = 2))))
    assert(rangesIntersect(Seq(item("even", (0L, 10L, 2L))(), item("odd", (1L, 11L, 2L))())))
  }

  test("D1 non-overlapping levels pivot to separate columns") {
    import spark.implicits._
    val meta = Meta.fromYaml("""
defaults:
  levels: [1, 2]
items:
  coarse:
    level: 1
    code: {start: 0, end: 100}
  fine_low:
    level: 2
    code: {start: 0, end: 50}
  fine_high:
    level: 2
    code: {start: 50, end: 100}
""")
    val df = Seq((1400, 25L), (1400, 75L), (1400, 999L)).toDF("Year", "Code")
    val items = Classifier.compile(meta, Seq(1400), resolver = resolver)
    val out = Classifier.addClassification(df, items,
      Classifier.settingsFromMeta(meta)).collect()
      .map(r => r.getAs[Long]("Code") ->
        ((r.getAs[String]("item_key_1"), r.getAs[String]("item_key_2")))).toMap
    assert(out(25L) == (("coarse", "fine_low")))
    assert(out(75L) == (("coarse", "fine_high")))
    assert(out(999L) == ((null, null)))
  }

  test("D1 categorized items expand before joining") {
    import spark.implicits._
    // `categories` split one entry into several items (shared keys inherited)
    val meta = Meta.fromYaml("""
items:
  _grains_:
    level: 1
    categories:
      1: {item_key: wheat, code: {start: 0, end: 10}}
      2: {item_key: rice, code: {start: 10, end: 20}}
""")
    val df = Seq((1400, 5L), (1400, 15L)).toDF("Year", "Code")
    val items = Classifier.compile(meta, Seq(1400), resolver = resolver)
    val out = Classifier.addClassification(df, items).collect()
      .map(r => r.getAs[Long]("Code") -> r.getAs[String]("item_key_1")).toMap
    assert(out == Map(5L -> "wheat", 15L -> "rice"))
  }

  test("D1 multiple aspects emit one column per (aspect, level)") {
    import spark.implicits._
    val meta = Meta.fromYaml("""
items:
  food:
    level: 1
    farsi_name: khoraki
    code: {start: 0, end: 100}
""")
    val df = Seq((1400, 50L)).toDF("Year", "Code")
    val items = Classifier.compile(meta, Seq(1400),
      extraAspects = Seq("farsi_name"), resolver = resolver)
    val out = Classifier.addClassification(df, items,
      Classifier.Settings(aspects = Seq("item_key", "farsi_name"), levels = Seq(1)))
      .collect()(0)
    assert(out.getAs[String]("item_key_1") == "food")
    assert(out.getAs[String]("farsi_name_1") == "khoraki")
  }

  test("D2 year-versioned ID layout flips length and label maps") {
    import spark.implicits._
    val household = Meta.fromYaml("""
ID_Length:
  1387: 10
  1392: 11
Urban_Rural:
  code:
    position: {start: 0, end: 1}
  name:
    1387: {1: Urban, 2: Rural}
    1392: {3: Urban, 4: Rural}
""")
    val df = Seq(
      (1390, 1234567890L), // 10 digits, leading 1 -> Urban (old map)
      (1395, 31234567890L), // 11 digits, leading 3 -> Urban (new map)
      (1395, 41234567890L), // leading 4 -> Rural
    ).toDF("Year", "ID")
    val versions = IdDecoder.compile(household, "Urban_Rural", Seq(1390, 1395))
    val out = IdDecoder.addAttribute(df, versions, IdDecoder.Settings("Urban_Rural"))
      .collect().map(r => r.getAs[Long]("ID") -> r.getAs[String]("Urban_Rural")).toMap
    assert(out(1234567890L) == "Urban")
    assert(out(31234567890L) == "Urban")
    assert(out(41234567890L) == "Rural")
  }

  test("D2 aspect=code returns the raw digit substring") {
    import spark.implicits._
    val versions = Seq(IdDecoder.AttrVersion(1400, 1401, 8, 1, 3))
    val df = Seq((1400, 12345678L)).toDF("Year", "ID")
    val out = IdDecoder.addAttribute(df, versions,
      IdDecoder.Settings("Province", aspect = "code"))
    assert(out.collect()(0).getAs[String]("Province") == "23")
  }

  test("D2 layout dispatch: positional + external-file years in one frame; unavailable errors") {
    import spark.implicits._
    val labels = Map(1L -> "A", 2L -> "B")
    val layouts = Seq(
      IdDecoder.Positional(IdDecoder.AttrVersion(1393, 1394, 3, 1, 3, labels)),
      IdDecoder.ExternalFile(1388, "counties", labels))
    val df = Seq(
      (1393, 912L), // positional: digits 2-3 -> 12?? no: idLen 3, pos 1-3 -> last 2 digits = 12 -> unmapped
      (1393, 901L), // -> code 1 -> A
      (1388, 777L), // external: mapped to 2 -> B
      (1388, 888L), // external: absent from mapping -> null
    ).toDF("Year", "ID")
    def ext(year: Int, file: String) = {
      assert(year == 1388 && file == "counties")
      Seq((777L, 2L)).toDF("ID", "code")
    }
    val out = IdDecoder.addAttributeLayouts(df, layouts, ext, IdDecoder.Settings("County"))
      .collect().map(r => r.getAs[Long]("ID") -> r.getAs[String]("County")).toMap
    assert(out(901L) == "A")
    assert(out(912L) == null) // positional code 12 has no label (pandas .map -> NaN)
    assert(out(777L) == "B")
    assert(out(888L) == null) // missing from the external mapping
    // the reference raises "Code position is not available" (decoder.py:600)
    val ex = intercept[IllegalArgumentException](
      IdDecoder.addAttributeLayouts(df, layouts :+ IdDecoder.Unavailable(1370), ext,
        IdDecoder.Settings("County")))
    assert(ex.getMessage.contains("not available"))
  }

  test("D2 compile refuses external-file and unavailable years like the reference") {
    // household.yaml's County shape: no code position before 1392, an
    // external ID->code file for 1387-1391, nothing before 1387
    val household = Meta.fromYaml("""
ID_Length: 10
County:
  code:
    position:
      1383: null
      1392: {start: 2, end: 4}
    external_file:
      1383: null
      1387: counties
      1392: null
  name: {1: A}
""")
    assert(IdDecoder.compile(household, "County", Seq(1395)).map(_.posStart) == Seq(2))
    for (year <- Seq(1385, 1388)) {
      val ex = intercept[IllegalArgumentException](
        IdDecoder.compile(household, "County", Seq(year, 1395)))
      assert(ex.getMessage.contains(
        s"Code position is not available for County in year $year (decoder.py:600)"), ex.getMessage)
    }
  }

  test("D2 strict mode mirrors the reference's zero-miss assert on external mappings") {
    import spark.implicits._
    val labels = Map(1L -> "A", 2L -> "B")
    val layouts = Seq(
      IdDecoder.Positional(IdDecoder.AttrVersion(1393, 1394, 3, 1, 3, labels)),
      IdDecoder.ExternalFile(1388, "counties", labels))
    val df = Seq((1393, 901L), (1388, 777L), (1388, 888L)).toDF("Year", "ID")
    def partial(year: Int, file: String) = Seq((777L, 2L)).toDF("ID", "code")
    def complete(year: Int, file: String) = Seq((777L, 2L), (888L, 1L)).toDF("ID", "code")
    // incomplete mapping + strict -> refuse loudly (decoder.py:596
    // `assert codes.isna().sum() == 0`), naming the missed (Year, ID).
    // The assert is a raise_error INSIDE the output projection — it
    // fires at action time on the same scan that produces the output
    // (no second external-year pass, no construct-time/read-time skew),
    // so it surfaces wrapped in Spark's task-failure chain.
    val ex = intercept[Throwable](
      IdDecoder.addAttributeLayouts(df, layouts, partial,
        IdDecoder.Settings("County"), strict = true).collect())
    def chain(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => e.getMessage +: chain(e.getCause))
    val msgs = chain(ex).mkString("\n")
    assert(msgs.contains("incomplete") && msgs.contains("888"), s"got: $msgs")
    // complete mapping + strict -> decodes normally, including the
    // positional year (strictness is about EXTERNAL misses only)
    val out = IdDecoder.addAttributeLayouts(df, layouts, complete,
      IdDecoder.Settings("County"), strict = true)
      .collect().map(r => r.getAs[Long]("ID") -> r.getAs[String]("County")).toMap
    assert(out(777L) == "B" && out(888L) == "A" && out(901L) == "A")
  }
}
