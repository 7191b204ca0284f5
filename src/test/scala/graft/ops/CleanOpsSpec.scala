package graft.ops

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pins the pandas-parity subtleties of the clean layer that gate
  * fixtures don't reach: simultaneous (not chained) sentinel
  * replacement, and category fallback preserving non-integer originals.
  */
class CleanOpsSpec extends SparkSpec {

  test("value replace is SIMULTANEOUS like pandas .replace, never chained") {
    import spark.implicits._
    // {1 -> 0, 0 -> null}: a raw 1 must become 0 and STAY 0 — a chained
    // fold would re-match the freshly-written 0 against the 0 -> null
    // rule (and the outcome would depend on map iteration order)
    val spec = CleanOps.ColumnSpec("V", "V", CleanOps.IntType,
      replace = Map("1" -> Some("0"), "0" -> None))
    val out = Seq("1", "0", "7").toDF("V")
      .select(CleanOps.cleanColumn(spec))
      .collect().map(r => if (r.isNullAt(0)) null else r.getLong(0))
    assert(out.toSeq == Seq(0L, null, 7L))
  }

  test("category type keeps non-integer originals instead of nulling them") {
    import spark.implicits._
    val spec = CleanOps.ColumnSpec("C", "C", CleanOps.CategoryType(Map(1L -> "Urban")),
      replace = Map.empty)
    val out = Seq("1", "urban zone", "3").toDF("C")
      .select(CleanOps.cleanColumn(spec))
      .collect().map(_.getString(0))
    // 1 maps; the non-integer original survives the int-cast round-trip;
    // unmapped ints keep their numeric rendering
    assert(out.toSeq == Seq("Urban", "urban zone", "3"))
  }

  test("category codes in a DOUBLE raw column still map to labels") {
    import spark.implicits._
    // pandas-origin int codes widen to double when NaN is present; the
    // string render "3.0" must not defeat the integer-code guard. NaN is
    // the missing marker -> null; fractional values carry no code and
    // keep their rendering.
    val spec = CleanOps.ColumnSpec("C", "C", CleanOps.CategoryType(Map(1L -> "Urban", 3L -> "Rural")),
      replace = Map.empty)
    val out = Seq(1.0, 3.0, Double.NaN, 7.0, 2.5).toDF("C")
      .select(CleanOps.cleanColumn(spec, DoubleType))
      .collect().map(r => if (r.isNullAt(0)) null else r.getString(0))
    assert(out.toSeq == Seq("Urban", "Rural", null, "7", "2.5"))
  }

  test("C8 sequential assignment: later conditions see earlier assignments") {
    import spark.implicits._
    import graft.meta._
    // the reference's chained df.loc writes: ("rural", [1, 2]) assigns
    // from the OTHER column, then ("settlement", "rural") SELF-references
    // the freshly-built column and must relabel those same rows
    val cats = Seq(
      "urban" -> (MNull: Meta),
      "rural" -> (Meta.map(Meta.k("Area") -> Meta.list(MInt(1), MInt(2))): Meta),
      "settlement" -> (MStr("rural"): Meta),
    )
    val df = Seq((1L, 1), (2L, 3)).toDF("ID", "Area")
    val out = Pipeline.run(df,
        Seq(Pipeline.CreateColCategorical("Kind", cats)),
        Pipeline.Context(Seq(1400), "t", null))
      .collect().map(r => r.getLong(0) -> r.getString(2)).toMap
    // row 1: urban -> rural (Area in [1,2]) -> settlement (self == rural)
    // row 2: urban, untouched by both later rules
    assert(out == Map(1L -> "settlement", 2L -> "urban"))
  }

  test("explicit `drop` columns skip the missings policy; unknown columns still error") {
    import spark.implicits._
    // the reference distinguishes a column the metadata KNOWS and drops
    // (data_cleaner.py:146-147, e.g. food's `DYCOL07: drop`,
    // tables.yaml:1386) from one ABSENT from metadata, which under the
    // default `missings: error` policy is a hard failure
    // (data_cleaner.py:148-152). Conflating them would make every real
    // expenditure raw file throw on its drop-marked columns.
    val meta = graft.meta.Meta.fromYaml(
      """columns:
        |  ADDRESS: {new_name: ID, type: unsigned}
        |  DYCOL07: drop
        |""".stripMargin)
    val spec = CleanOps.compileSpec(meta, 1400)
    assert(spec.missings == "error")
    val out = CleanOps.cleanTable(Seq((1L, "x")).toDF("ADDRESS", "DYCOL07"), spec)
    assert(out.columns.toSeq == Seq("ID"))
    val ex = intercept[IllegalArgumentException](
      CleanOps.cleanTable(Seq((1L, "x")).toDF("ADDRESS", "MYSTERY"), spec))
    assert(ex.getMessage.contains("MYSTERY"))
  }
}
