package graft

import graft.engine.{RepoConfig, TableRepo}
import graft.meta.RealMeta
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** End-to-end EXECUTION of a real schema.yaml standard-table DAG — the
  * Scala twin of the reference's golden example test
  * (tests/test_package/package/test_by_examples.py:7-69), which runs the
  * whole stack over real survey data. Raw survey data is not in this
  * sandbox, so the achievable form is: synthetic raw tables shaped by the
  * REAL tables.yaml column specs (era-correct raw column names per year),
  * pushed through the REAL metadata —
  *
  *   raw → CleanOps(tables.yaml) → per-table schema.yaml instructions
  *       → Original_Expenditures → Expenditures → Total_Expenditure
  *
  * across two coding eras at once: year 1382 (COL-named raw files, the
  * 9-table 1363 table_list, schema.yaml:594-603) and year 1400
  * (DYCOL-named raw files, the 13-table 1383 list, schema.yaml:605-618).
  * RealMetadataSpec proves every instruction COMPILES; this gate proves
  * the composed DAG EXECUTES and matches a DuckDB oracle whose pipeline
  * math (clean column mapping, null-as-zero derivations, annualization,
  * household roll-up) is hand-written from the YAML text
  * (schema.yaml:621-714, tables.yaml:1299-1548) — only the synthetic
  * input mapping is shared by construction.
  *
  * Numeric design: every Expenditure/Secondhand_Sale value is an exact
  * multiple of 720, so `x / 30 * 360` and `x / 360 * 360`
  * (schema.yaml:663-671) are exact integer-valued doubles and the
  * household sums are order-independent (all < 2^53).
  */
object RealPipeline {

  private def cents(c: Column): Column = round(c * 100, 0).cast(LongType)

  /** Original_Expenditures dependency lists, per coding era
    * (schema.yaml:591-618). Index order matters only to the synthetic
    * slice assignment; `durable` is last in both eras.
    */
  private val tables1383 = Vector("food", "tobacco", "cloth", "home", "furniture",
    "medical", "transportation", "communication", "entertainment", "education",
    "hotel", "miscellaneous", "durable")
  private val tables1363 = Vector("food", "cloth", "home", "furniture", "medical",
    "transportation", "entertainment", "miscellaneous", "durable")

  /** Deterministic per-lineitem-row survey attributes, reproduced
    * verbatim in the oracle's `base` CTE: household address, year slice
    * (even/odd order key), per-era table slice, commodity code, and the
    * two money columns (exact multiples of 720, with planted NULLs to
    * exercise the reference's fillna(0) create_column semantics).
    */
  private def base(s: SparkSession, dir: String): DataFrame =
    s.read.parquet(s"$dir/lineitem.parquet").select(
      (lit(1L) + col("l_orderkey") % 400L).as("address"),
      (col("l_orderkey") % 2L).as("ypar"),
      (col("l_partkey") % 13L).as("t13"),
      (col("l_partkey") % 9L).as("t9"),
      // outlay-family slices: one extra residue class so the INVESTMENT
      // table (Original_Outlays only) gets rows disjoint from the 13
      // (resp. 9) expenditure slices
      (col("l_partkey") % 14L).as("t14"),
      (col("l_partkey") % 10L).as("t10"),
      // 20-way year selector for the multi-year plan-scaling run
      (col("l_orderkey") % 20L).as("y20"),
      // 39-way year selector for the FULL-archive (1363-1401) run
      (col("l_orderkey") % 39L).as("y39"),
      (lit(11111L) + col("l_partkey") % 8000L).as("code"),
      when(col("l_suppkey") % 11L === 0L, lit(null).cast(DoubleType))
        .otherwise((lit(720L) * (lit(1L) + cents(col("l_extendedprice")) % 997L))
          .cast(DoubleType)).as("exp"),
      when(col("l_linenumber") % 3 === 0, lit(null).cast(DoubleType))
        .otherwise((lit(720L) * (cents(col("l_discount")) % 7L))
          .cast(DoubleType)).as("shs"),
      // provision-method codes span the full 1383-era category map
      // (tables.yaml:1191-1203, codes 1..8) plus planted NULLs — the
      // income DAG's Provision_Method conditions and null-vs-Purchase
      // filters need every branch populated
      when((col("l_orderkey") + col("l_linenumber")) % 31 === 0,
        lit(null).cast(LongType))
        .otherwise(lit(1L) + pmod(col("l_orderkey") + col("l_linenumber"), lit(8L)))
        .as("pm"))

  /** Synthetic raw file for one (table, year): the era-correct raw
    * column names from tables.yaml —
    *   1400: DYCOL-era specs (food tables.yaml:1381-1386, tobacco
    *         :1400-1405, home-1384 :1424-1428, durable-1388 :1535-1548,
    *         common-structure-1374 :1312-1319,1337)
    *   1382: COL-era specs (food-1374 :1346-1379, durable-1374
    *         :1524-1526, common-structure-1374 :1312-1319)
    * Auxiliary columns (grams/kilos/price/security-deposit/insurance/
    * lender) carry deterministic filler: they flow through the clean and
    * pipeline stages but are projected away before Total_Expenditure.
    * `DYCOL07`/tobacco-`DYCOL03` are emitted to exercise the explicit
    * `drop` spec (tables.yaml:1386,1401) against the default
    * `missings: error` policy.
    */
  /** DYCOL-era (1383+) raw projection of one expenditure table from a
    * [[base]] slice — shared by the Total_Expenditure gate (year 1400)
    * and the Income_Breakdown gate (years 1389 and 1400).
    */
  private def dycolTable(sl: DataFrame, name: String): DataFrame = {
    def fill(mod: Long): Column = (col("code") % mod).cast(DoubleType)
    name match {
      case "food" => sl.select(
        col("address").as("ADDRESS"), col("code").as("DYCOL01"),
        col("pm").as("DYCOL02"), fill(500L).as("DYCOL03"),
        fill(20L).as("DYCOL04"), fill(9000L).as("DYCOL05"),
        col("exp").as("DYCOL06"), lit("x").as("DYCOL07"))
      case "tobacco" => sl.select(
        col("address").as("ADDRESS"), col("code").as("DYCOL01"),
        col("pm").as("DYCOL02"), lit("x").as("DYCOL03"),
        fill(20L).as("DYCOL04"), fill(9000L).as("DYCOL05"),
        col("exp").as("DYCOL06"), lit("x").as("DYCOL07"))
      case "home" => sl.select(
        col("address").as("ADDRESS"), col("code").as("DYCOL01"),
        fill(50L).as("DYCOL02"), col("pm").as("DYCOL03"),
        col("exp").as("DYCOL04"))
      case "durable" => sl.select(
        col("address").as("ADDRESS"), col("code").as("DYCOL01"),
        fill(70L).as("DYCOL02"),
        concat(lit("L"), col("pm").cast(StringType)).as("DYCOL03"),
        col("pm").as("DYCOL04"), col("exp").as("DYCOL05"),
        col("shs").as("DYCOL06"))
      case _ => sl.select(
        col("address").as("ADDRESS"), col("code").as("DYCOL01"),
        col("pm").as("DYCOL02"), col("exp").as("DYCOL03"))
    }
  }

  /** COL-era (1374-1382) raw projection of one expenditure table from a
    * [[base]] slice (food-1374 tables.yaml:1346-1379, durable-1374
    * :1524-1526, common-structure-1374 :1312-1319).
    */
  private def colTable(sl: DataFrame, name: String): DataFrame = {
    def fill(mod: Long): Column = (col("code") % mod).cast(DoubleType)
    name match {
      case "food" => sl.select(
        col("address").as("ADDRESS"), col("code").as("COL1"),
        col("pm").as("COL3"), fill(20L).as("COL4_5"),
        fill(9000L).as("COL6"), col("exp").as("COL7"))
      case "durable" => sl.select(
        col("address").as("ADDRESS"), col("code").as("COL1"),
        col("pm").as("COL3"), col("exp").as("COL4"),
        col("shs").as("COL5"))
      case _ => sl.select(
        col("address").as("ADDRESS"), col("code").as("COL1"),
        col("pm").as("COL3"), col("exp").as("COL4"))
    }
  }

  def raw(s: SparkSession, dir: String, name: String, year: Int): Option[DataFrame] = {
    val b = base(s, dir)
    if (year == 1400) {
      val i = tables1383.indexOf(name)
      if (i < 0) None
      else Some(dycolTable(b.where(col("t13") === i.toLong && col("ypar") === 0L), name))
    } else if (year == 1382) {
      val i = tables1363.indexOf(name)
      if (i < 0) None
      else Some(colTable(b.where(col("t9") === i.toLong && col("ypar") === 1L), name))
    } else None
  }

  /** The gate: run the real DAG for both eras through [[TableRepo]] over
    * the real metadata corpus. One Catalyst plan per year — 13 (resp. 9)
    * leaf scans, one union, pure projections, one hash aggregate; no
    * shuffle before the (Year, ID) aggregation, which at survey scale is
    * bounded by the household count, not the line-item count.
    */
  def realTotalExpenditure(s: SparkSession, dir: String): DataFrame = {
    require(RealMeta.available, "reference metadata corpus not found")
    val repo = new TableRepo(s, RealMeta.tables, RealMeta.schema,
      rawReader = (name, year) => raw(s, dir, name, year),
      config = RepoConfig(availability = RealMeta.tableAvailability))
    repo.table("Total_Expenditure", Seq(1382, 1400)).orderBy("Year", "ID")
  }

  /** Expenditure_Breakdown (schema.yaml:717-721): the ITEM-LEVEL cut of
    * the expenditure DAG — `table_list: [Expenditures]` with no further
    * instructions, so the gate exposes every per-item column the
    * household roll-up collapses: Table_Name, Code, the era-versioned
    * Provision_Method LABELS (variant 5 at 1400, tables.yaml:1158-1168;
    * variant 4 at 1382 — the 1379 era, where code 8 is
    * Instead_of_Cooperative_Service, tables.yaml:1179-1189), and the
    * Amount/Price columns only food (both eras) and tobacco (DYCOL era)
    * carry — food's Amount is the era-versioned `Kilos + 0.001 * Grams`
    * vs plain `Kilos` expression (schema.yaml:158-165).
    */
  def realExpenditureBreakdown(s: SparkSession, dir: String): DataFrame = {
    require(RealMeta.available, "reference metadata corpus not found")
    val repo = new TableRepo(s, RealMeta.tables, RealMeta.schema,
      rawReader = (name, year) => raw(s, dir, name, year),
      config = RepoConfig(availability = RealMeta.tableAvailability))
    repo.table("Expenditure_Breakdown", Seq(1382, 1400))
      .orderBy("Year", "ID", "Table_Name", "Code")
  }

  /** Hand-written item-level oracle: no aggregation anywhere, so every
    * synthetic row must reappear with the exact per-table column
    * dispatch transcribed from the YAML: the two pm label maps
    * (tables.yaml:1158-1177), the per-table apply_order survivals
    * (only food and tobacco keep Amount/Price — schema.yaml:5-38
    * common order vs food :199-221 / tobacco :234-243), annualization,
    * and the fillna(0) Gross/Net derivations.
    */
  val realExpenditureBreakdownSql: String = """
    WITH base AS (
      SELECT 1 + l_orderkey % 400 AS address,
             l_orderkey % 2 AS ypar,
             l_partkey % 13 AS t13,
             l_partkey % 9 AS t9,
             11111 + l_partkey % 8000 AS code,
             CASE WHEN (l_orderkey + l_linenumber) % 31 = 0 THEN NULL
                  ELSE 1 + (l_orderkey + l_linenumber) % 8 END AS pm,
             CASE WHEN l_suppkey % 11 = 0 THEN NULL
                  ELSE CAST(720 * (1 + CAST(round(l_extendedprice*100,0) AS BIGINT) % 997) AS DOUBLE) END AS exp,
             CASE WHEN l_linenumber % 3 = 0 THEN NULL
                  ELSE CAST(720 * (CAST(round(l_discount*100,0) AS BIGINT) % 7) AS DOUBLE) END AS shs
      FROM lineitem),
    items AS (
      SELECT 1400 AS Year, CAST(address AS BIGINT) AS ID,
             CASE t13 WHEN 0 THEN 'food' WHEN 1 THEN 'tobacco' WHEN 2 THEN 'cloth'
                      WHEN 3 THEN 'home' WHEN 4 THEN 'furniture' WHEN 5 THEN 'medical'
                      WHEN 6 THEN 'transportation' WHEN 7 THEN 'communication'
                      WHEN 8 THEN 'entertainment' WHEN 9 THEN 'education'
                      WHEN 10 THEN 'hotel' WHEN 11 THEN 'miscellaneous'
                      WHEN 12 THEN 'durable' END AS Table_Name,
             CAST(code AS BIGINT) AS Code,
             CASE pm WHEN 1 THEN 'Purchase' WHEN 2 THEN 'Home_Production'
                     WHEN 3 THEN 'Instead_of_Public_Service'
                     WHEN 4 THEN 'Instead_of_Cooperative_Service'
                     WHEN 5 THEN 'Instead_of_Private_Service'
                     WHEN 6 THEN 'Agricultural_Work'
                     WHEN 7 THEN 'Non_Agricultural_Work'
                     WHEN 8 THEN 'Donation' END AS Provision_Method,
             CASE WHEN t13 = 0 THEN CAST(code % 20 AS DOUBLE) + CAST(0.001 AS DOUBLE) * CAST(code % 500 AS DOUBLE)
                  WHEN t13 = 1 THEN CAST(code % 20 AS DOUBLE) END AS Amount,
             CASE WHEN t13 IN (0, 1) THEN CAST(code % 9000 AS DOUBLE) END AS Price,
             CASE WHEN t13 = 12 THEN 360 ELSE 30 END AS dur,
             coalesce(exp, 0) AS g,
             coalesce(exp, 0) - (CASE WHEN t13 = 12 THEN coalesce(shs, 0) ELSE 0 END) AS n
      FROM base WHERE ypar = 0
      UNION ALL
      SELECT 1382, CAST(address AS BIGINT),
             CASE t9 WHEN 0 THEN 'food' WHEN 1 THEN 'cloth' WHEN 2 THEN 'home'
                     WHEN 3 THEN 'furniture' WHEN 4 THEN 'medical'
                     WHEN 5 THEN 'transportation' WHEN 6 THEN 'entertainment'
                     WHEN 7 THEN 'miscellaneous' WHEN 8 THEN 'durable' END,
             CAST(code AS BIGINT),
             CASE pm WHEN 1 THEN 'Purchase' WHEN 2 THEN 'Home_Production'
                     WHEN 3 THEN 'Instead_of_Public_Service'
                     WHEN 4 THEN 'Instead_of_Private_Service'
                     WHEN 5 THEN 'Agricultural_Work'
                     WHEN 6 THEN 'Non_Agricultural_Work'
                     WHEN 7 THEN 'Donation'
                     WHEN 8 THEN 'Instead_of_Cooperative_Service' END,
             CASE WHEN t9 = 0 THEN CAST(code % 20 AS DOUBLE) END,
             CASE WHEN t9 = 0 THEN CAST(code % 9000 AS DOUBLE) END,
             CASE WHEN t9 = 8 THEN 360 ELSE 30 END,
             coalesce(exp, 0),
             coalesce(exp, 0) - (CASE WHEN t9 = 8 THEN coalesce(shs, 0) ELSE 0 END)
      FROM base WHERE ypar = 1)
    SELECT CAST(Year AS INTEGER) AS Year, ID, Table_Name, Code, Provision_Method,
           Amount, Price,
           g / dur * 360 AS Gross_Expenditure,
           n / dur * 360 AS Net_Expenditure
    FROM items"""

  /** Pre-1374 raw projections, one per tables.yaml layout window. The
    * COL-name sub-eras (tables.yaml `expenditure_common_structure`
    * :1324-1338, food :1346-1379, durable :1505-1527):
    *   1363-1368  food COL4_5 kilos / COL6 value; common COL4 value;
    *              durable = common + COL5 secondhand
    *   1369       price-system era: COL4 psys; food COL5_6 kilos /
    *              COL7 price / COL8 value; common COL5 amount / COL6
    *              value; durable COL5 value / COL6 secondhand
    *   1370-1371  food loses COL7 (price: 1370 null); common collapses
    *              to COL5 value
    *   1372-1373  food COL7 price returns (tables.yaml:1372)
    * Kilos/Amount fills are STRICTLY POSITIVE (1 + code%20): food's
    * 1363/1370 schema eras compute Price = Expenditure / Amount and the
    * session runs ANSI mode, where a zero divisor faults the query.
    */
  private def earlyTable(sl: DataFrame, name: String, year: Int): DataFrame = {
    val psys = (col("code") % 2L).as("COL4")
    val posFill = (lit(1L) + col("code") % 20L).cast(DoubleType)
    if (year <= 1368) name match {
      // food codes confined to [11100, 11500): the 1363 schema era
      // derives Duration by CLASSIFICATION over sci_coicop_1363's
      // level-4 ranges (schema.yaml food `add_classification`), and an
      // unmatched code -> null Duration -> null-as-zero divisor ->
      // ANSI DIVIDE_BY_ZERO; this window always hits one of the first
      // four level-4 items (durations 2/30/2/2, commodities.yaml:31-54)
      case "food" => sl.select(
        col("address").as("ADDRESS"),
        (lit(11100L) + col("code") % 400L).as("COL1"),
        col("pm").as("COL3"), posFill.as("COL4_5"), col("exp").as("COL6"))
      case "durable" => sl.select(
        col("address").as("ADDRESS"), col("code").as("COL1"),
        col("pm").as("COL3"), col("exp").as("COL4"), col("shs").as("COL5"))
      case _ => sl.select(
        col("address").as("ADDRESS"), col("code").as("COL1"),
        col("pm").as("COL3"), col("exp").as("COL4"))
    } else name match { // 1369-1373
      case "food" =>
        val core = Seq(col("address").as("ADDRESS"), col("code").as("COL1"),
          col("pm").as("COL3"), psys, posFill.as("COL5_6"))
        val price = if (year == 1369 || year >= 1372)
          Seq((col("code") % 9000L).cast(DoubleType).as("COL7")) else Nil
        sl.select(core ++ price :+ col("exp").as("COL8"): _*)
      case "durable" => sl.select(
        col("address").as("ADDRESS"), col("code").as("COL1"),
        col("pm").as("COL3"), psys, col("exp").as("COL5"), col("shs").as("COL6"))
      case _ =>
        val amount = if (year == 1369) Seq(posFill.as("COL5")) else Nil
        val value = col("exp").as(if (year == 1369) "COL6" else "COL5")
        sl.select(Seq(col("address").as("ADDRESS"), col("code").as("COL1"),
          col("pm").as("COL3"), psys) ++ amount :+ value: _*)
    }
  }

  /** DYCOL transition-era projections (1383-1387): the 13-table list is
    * live, but home's DYCOL layout starts 1384 (tables.yaml:1424) and
    * durable's 1384 DYCOL layout (insurance, no lender) differs from
    * the 1388 one `dycolTable` emits (tables.yaml:1529-1548); durable
    * 1383 still resolves the 1374 COL layout.
    */
  private def transitionTable(sl: DataFrame, name: String, year: Int): DataFrame =
    name match {
      case "food" | "tobacco" => dycolTable(sl, name)
      case "home" if year >= 1384 => dycolTable(sl, name)
      case "home" => sl.select( // 1383: common structure, DYCOL names
        col("address").as("ADDRESS"), col("code").as("DYCOL01"),
        col("pm").as("DYCOL02"), col("exp").as("DYCOL03"))
      case "durable" if year >= 1384 => sl.select( // 1384 layout: no lender
        col("address").as("ADDRESS"), col("code").as("DYCOL01"),
        (col("code") % 70L).cast(DoubleType).as("DYCOL02"),
        col("pm").as("DYCOL03"), col("exp").as("DYCOL04"),
        col("shs").as("DYCOL05"))
      case "durable" => colTable(sl, name) // 1383: COL era until 1384
      case _ => sl.select(
        col("address").as("ADDRESS"), col("code").as("DYCOL01"),
        col("pm").as("DYCOL02"), col("exp").as("DYCOL03"))
    }

  /** Multi-year raw reader for the plan-scaling run: serves EVERY year
    * of the real archive, 1363-1401, each year a disjoint 1/39 slice of
    * lineitem, with the era-correct raw layout per (table, year):
    * pre-1374 sub-eras via [[earlyTable]], 1374-1382 via [[colTable]],
    * the 1383-1387 transition via [[transitionTable]], 1388+ via
    * [[dycolTable]]. The real library loads ~39 survey years in one
    * call; with 9-13 raw tables per year the metadata-compiled DAG has
    * hundreds of leaf scans, and the genuine scale risk is plan-compile
    * cost, not executor work — this reader exists so RealPipelineSpec
    * can execute and time that shape. (The oracle-pinned two-year gates
    * keep their own fixed mapping in [[raw]]; this reader is additive.)
    */
  def rawMultiYear(s: SparkSession, dir: String, name: String, year: Int): Option[DataFrame] = {
    if (year < 1363 || year > 1401) return None
    val b = base(s, dir)
    val y = b.where(col("y39") === (year - 1363).toLong)
    if (year >= 1383) {
      val i = tables1383.indexOf(name)
      if (i < 0) None
      else {
        val sl = y.where(col("t13") === i.toLong)
        Some(if (year >= 1388) dycolTable(sl, name) else transitionTable(sl, name, year))
      }
    } else {
      val i = tables1363.indexOf(name)
      if (i < 0) None
      else {
        val sl = y.where(col("t9") === i.toLong)
        Some(if (year >= 1374) colTable(sl, name) else earlyTable(sl, name, year))
      }
    }
  }

  /** The FULL-archive Total_Expenditure DAG over the real metadata —
    * all 39 survey years (1363-1401), 9-13 tables each: ~450 cleaned
    * leaf scans in ONE plan. Used by RealPipelineSpec's plan-scaling
    * measurement; the balanced `CleanOps.unionAll` tree keeps the
    * driver's plan-build cost O(n log n) in leaf count where the old
    * left-deep chain re-analyzed a growing prefix per year.
    */
  def realTotalExpenditureMultiYear(s: SparkSession, dir: String, buildParallelism: Option[Int] = None): DataFrame = {
    require(RealMeta.available, "reference metadata corpus not found")
    val cfg = RepoConfig(availability = RealMeta.tableAvailability)
    val repo = new TableRepo(s, RealMeta.tables, RealMeta.schema,
      rawReader = (name, year) => rawMultiYear(s, dir, name, year),
      // the 1363-1368 food era derives Duration by classification
      // (schema.yaml food `add_classification: {name: Duration}`)
      classifications = Map("Duration" -> RealMeta.commodities("Duration")),
      config = buildParallelism.fold(cfg)(p => cfg.copy(buildParallelism = p)))
    repo.table("Total_Expenditure", 1363 to 1401)
  }

  // ------------------------------------------------------ Total_Outlay

  /** Raw reader for the outlay family: the expenditure tables sliced on
    * the outlay moduli (t14 / t10) plus the INVESTMENT table
    * (tables.yaml:1550-1588 — 1384-era DYCOL01..04, 1374-era
    * COL1/COL3/COL4/COL5; file_code absent 1363-65 and 1375-77, so its
    * availability era-gates exactly like the real archive).
    */
  def rawOutlay(s: SparkSession, dir: String, name: String, year: Int): Option[DataFrame] = {
    val b = base(s, dir)
    if (year == 1400) {
      if (name == "investment")
        Some(b.where(col("t14") === 13L && col("ypar") === 0L).select(
          col("address").as("ADDRESS"), col("code").as("DYCOL01"),
          col("pm").as("DYCOL02"), col("exp").as("DYCOL03"),
          col("shs").as("DYCOL04")))
      else {
        val i = tables1383.indexOf(name)
        if (i < 0) None
        else Some(dycolTable(b.where(col("t14") === i.toLong && col("ypar") === 0L), name))
      }
    } else if (year == 1382) {
      if (name == "investment")
        Some(b.where(col("t10") === 9L && col("ypar") === 1L).select(
          col("address").as("ADDRESS"), col("code").as("COL1"),
          col("pm").as("COL3"), col("exp").as("COL4"),
          col("shs").as("COL5")))
      else {
        val i = tables1363.indexOf(name)
        if (i < 0) None
        else Some(colTable(b.where(col("t10") === i.toLong && col("ypar") === 1L), name))
      }
    } else None
  }

  /** The THIRD real standard-table DAG family: Original_Outlays →
    * Outlays → Total_Outlay (schema.yaml:724-746, 826-877). Differs
    * from the expenditure family in exactly two reference-semantics
    * ways this gate must reproduce: the investment table joins the
    * union (with Secondhand_Sale, so Net subtracts it on TWO tables
    * now), and investment's Duration is 360 (schema.yaml:511-515).
    * `cache_result: true` on Total_Outlay runs the A9 cache over a
    * third real cache flag.
    */
  def realTotalOutlay(s: SparkSession, dir: String): DataFrame = {
    require(RealMeta.available, "reference metadata corpus not found")
    val repo = new TableRepo(s, RealMeta.tables, RealMeta.schema,
      rawReader = (name, year) => rawOutlay(s, dir, name, year),
      config = RepoConfig(availability = RealMeta.tableAvailability,
        cacheDir = Some(cacheDirFor(dir, "outlay"))))
    repo.table("Total_Outlay", Seq(1382, 1400)).orderBy("Year", "ID")
  }

  /** Hand-written oracle, structured like [[realTotalExpenditureSql]]
    * but on the outlay slices: durable AND investment carry
    * Secondhand_Sale and Duration 360 (schema.yaml:458-461, 511-515,
    * tables.yaml:1524-1526, 1578-1588); everything else is 30-day
    * Expenditure-only.
    */
  val realTotalOutlaySql: String = """
    WITH base AS (
      SELECT 1 + l_orderkey % 400 AS address,
             l_orderkey % 2 AS ypar,
             l_partkey % 14 AS t14,
             l_partkey % 10 AS t10,
             CASE WHEN l_suppkey % 11 = 0 THEN NULL
                  ELSE CAST(720 * (1 + CAST(round(l_extendedprice*100,0) AS BIGINT) % 997) AS DOUBLE) END AS exp,
             CASE WHEN l_linenumber % 3 = 0 THEN NULL
                  ELSE CAST(720 * (CAST(round(l_discount*100,0) AS BIGINT) % 7) AS DOUBLE) END AS shs
      FROM lineitem),
    items AS (
      SELECT 1400 AS Year, CAST(address AS BIGINT) AS ID,
             CASE WHEN t14 IN (12, 13) THEN 360 ELSE 30 END AS dur,
             coalesce(exp, 0) AS g,
             coalesce(exp, 0) - (CASE WHEN t14 IN (12, 13) THEN coalesce(shs, 0) ELSE 0 END) AS n
      FROM base WHERE ypar = 0
      UNION ALL
      SELECT 1382, CAST(address AS BIGINT),
             CASE WHEN t10 IN (8, 9) THEN 360 ELSE 30 END,
             coalesce(exp, 0),
             coalesce(exp, 0) - (CASE WHEN t10 IN (8, 9) THEN coalesce(shs, 0) ELSE 0 END)
      FROM base WHERE ypar = 1)
    SELECT CAST(Year AS INTEGER) AS Year, ID,
           sum(g / dur * 360) AS Gross_Expenditure,
           sum(n / dur * 360) AS Net_Expenditure
    FROM items GROUP BY 1, 2"""

  // ------------------------------------------------------ Income_Breakdown

  /** Deterministic per-row attributes for the income raw tables (1384-era
    * DYCOL specs, tables.yaml:1821-1963), mirrored in the oracle's `ib`
    * CTE. Planted nulls and edge codes exercise the reference semantics:
    * sector code 4 is UNMAPPED (income_sector_2 has 1..3,
    * tables.yaml:1645-1650) so its Income_Type stays null and the row
    * must vanish in the pandas-dropna groupby; null Is_Agricultural rows
    * likewise; null money fields hit the fillna(0) path; zero
    * other-income values hit the `Other_Incomes > 0` filter.
    */
  private def ibase(s: SparkSession, dir: String): DataFrame = {
    val c = cents(col("l_extendedprice"))
    def u(k: Int): Column =
      when(pmod(col("l_suppkey") + lit(k.toLong), lit(4L)) === 0L, lit(null).cast(DoubleType))
        .when(pmod(col("l_orderkey") + lit(k.toLong), lit(11L)) === 0L, lit(0.0))
        .otherwise(((c + lit(k * 37L)) % 50021L).cast(DoubleType))
    s.read.parquet(s"$dir/lineitem.parquet").select(
      (lit(1L) + col("l_orderkey") % 400L).as("address"),
      (col("l_orderkey") % 2L).as("ypar"),
      // 33-way year selector for the income family's full archive span
      // (Cash_Incomes' table_list starts 1369, schema.yaml:1062)
      (col("l_orderkey") % 33L).as("y33"),
      (col("l_partkey") % 5L).as("t5"),
      (lit(11111L) + col("l_partkey") % 8000L).as("code"),
      (lit(1L) + col("l_linenumber") % 4).as("member"),
      // sector/isagri derive from l_orderkey DIV 2, not l_orderkey: the
      // year slice is l_orderkey parity, so a plain `% 4` would never
      // produce sector 1/3 in the odd-key year (caught by
      // RealPipelineSpec's both-years family check)
      (lit(1L) + pmod(floor(col("l_orderkey") / 2).cast(LongType), lit(4L))).as("sector"),
      when(col("l_suppkey") % 7L === 0L, lit(null).cast(LongType))
        .otherwise(pmod(floor(col("l_orderkey") / 2).cast(LongType), lit(2L))).as("isagri"),
      when(col("l_suppkey") % 5L === 0L, lit(null).cast(DoubleType))
        .otherwise((c % 100000L).cast(DoubleType)).as("ynet"),
      when(col("l_suppkey") % 11L === 0L, lit(null).cast(DoubleType))
        .otherwise((c % 99991L).cast(DoubleType)).as("profit"),
      when(col("l_suppkey") % 3L === 0L, lit(null).cast(DoubleType))
        .otherwise((c % 40009L).cast(DoubleType)).as("subsidy"),
      u(0).as("u0"), u(1).as("u1"), u(2).as("u2"),
      u(3).as("u3"), u(4).as("u4"), u(5).as("u5"))
  }

  /** 1384-era raw income files (employment tables.yaml:1821-1838,
    * self-employed :1873-1890, other :1931-1938, subsidy :1941-1963).
    * Filler columns flow through clean+union but are projected away by
    * Cash_Incomes' apply_order. Job_Code's string replace sentinels
    * ("x0000", tables.yaml:1614) hit the numeric-raw drop path.
    */
  private def incomeRaw(sl: DataFrame, name: String): DataFrame = {
    def fill(mod: Long): Column = (col("code") % mod).cast(DoubleType)
    name match {
      case "employment_income" => sl.select(
        col("address").as("ADDRESS"), col("member").as("DYCOL01"),
        (col("member") % 3L).as("DYCOL02"), col("code").as("DYCOL03"),
        (col("code") % 97L).as("DYCOL04"), col("sector").as("DYCOL05"),
        lit(8L).as("DYCOL06"), lit(5L).as("DYCOL07"),
        fill(50L).as("DYCOL08"), fill(51L).as("DYCOL09"),
        fill(52L).as("DYCOL10"), fill(53L).as("DYCOL11"),
        fill(54L).as("DYCOL12"), fill(55L).as("DYCOL13"),
        fill(56L).as("DYCOL14"), col("ynet").as("DYCOL15"))
      case "self_employed_income" => sl.select(
        col("address").as("ADDRESS"), col("member").as("DYCOL01"),
        (col("member") % 3L).as("DYCOL02"), col("code").as("DYCOL03"),
        (col("code") % 97L).as("DYCOL04"),
        (lit(4L) + col("code") % 3L).as("DYCOL05"),
        col("isagri").as("DYCOL06"),
        lit(8L).as("DYCOL07"), lit(5L).as("DYCOL08"),
        fill(60L).as("DYCOL09"), fill(61L).as("DYCOL10"),
        fill(62L).as("DYCOL11"), fill(63L).as("DYCOL12"),
        fill(64L).as("DYCOL13"), fill(65L).as("DYCOL14"),
        col("profit").as("DYCOL15"))
      case "other_income" => sl.select(
        col("address").as("ADDRESS"), col("member").as("DYCOL01"),
        col("u0").as("DYCOL03"), col("u1").as("DYCOL04"),
        col("u2").as("DYCOL05"), col("u3").as("DYCOL06"),
        col("u4").as("DYCOL07"), col("u5").as("DYCOL08"))
      case "subsidy" => sl.select(
        col("address").as("ADDRESS"), col("member").as("DYCOL01"),
        fill(5L).as("DYCOL03"), fill(6L).as("DYCOL04"),
        col("subsidy").as("DYCOL05"))
      case other => throw new IllegalArgumentException(s"no income raw for $other")
    }
  }

  private val incomeSlices = Map(
    "employment_income" -> 1L, "self_employed_income" -> 2L,
    "other_income" -> 3L, "subsidy" -> 4L)

  /** Raw reader for the Income_Breakdown gate: years 1389 and 1400 (both
    * DYCOL-era, but the Cash_Incomes table_list and Income expression
    * era-flip at 1390 — schema.yaml:1059-1079 — so 1389 runs WITHOUT
    * subsidy and 1400 WITH it). The home slice's commodity codes are
    * steered onto the real Imputed_Rent classification's 1383-era codes
    * (commodities.yaml:2002-2024: 42111/42211 → Ownership, 42212 →
    * Mortgage) so the in-pipeline add_classification has matches.
    */
  def rawIncome(s: SparkSession, dir: String, name: String, year: Int): Option[DataFrame] = {
    if (year != 1389 && year != 1400) return None
    val yp = if (year == 1400) 0L else 1L
    val i = tables1383.indexOf(name)
    if (i >= 0) {
      val b0 = base(s, dir).where(col("t13") === i.toLong && col("ypar") === yp)
      val sl =
        if (name != "home") b0
        else b0.withColumn("code",
          when(col("code") % 5L === 0L, 42111L)
            .when(col("code") % 5L === 1L, 42211L)
            .when(col("code") % 5L === 2L, 42212L)
            .otherwise(col("code")))
      Some(dycolTable(sl, name))
    } else incomeSlices.get(name).map { t =>
      incomeRaw(ibase(s, dir).where(col("t5") === t && col("ypar") === yp), name)
    }
  }

  /** The SECOND real standard-table DAG, end-to-end: Income_Breakdown
    * (schema.yaml:1106-1122) — the union of THREE derivation families,
    * each with its own real instruction pipeline:
    *
    *   Imputed_Rent (schema.yaml:980-1008): home → in-pipeline
    *     add_classification against the REAL Imputed_Rent commodity
    *     classification → notnull/isnull pandas-query filter →
    *     Expenditure*12;
    *   NonCash_Incomes_Excluding_Imputed_Rent (schema.yaml:1011-1041):
    *     the WHOLE 13-table Expenditures DAG → Income = Net_Expenditure,
    *     Income_Type from Provision_Method label conditions → label
    *     filter;
    *   Cash_Incomes (schema.yaml:1059-1103): employment ∪ self-employed
    *     ∪ the _long_other_income MELT pipeline (∪ subsidy at 1390+,
    *     exercising the table_list era flip) → era-versioned Income
    *     expression → multi-column categorical conditions;
    *
    * then the pandas-dropna groupby-sum (unclassified income rows must
    * VANISH, Pipeline.GroupBySum). Runs at 1389 AND 1400 so both sides
    * of the 1390 era flip execute in one gate.
    */
  /** Per-(pid, fixture, gate-family) scratch dir for the real schema's
    * `cache_result: true` tables (A9 over the REAL metadata flags):
    * concurrent processes never race (pid), and fingerprint collisions
    * across different synthetic inputs (the expenditure and income
    * generators differ on home's codes at 1400) can never serve each
    * other's data (family). Delegates to [[graft.engine.Scratch]], the
    * one registry + shutdown hook that owns every scratch path in the
    * JVM.
    */
  private def cacheDirFor(dir: String, family: String): String =
    graft.engine.Scratch.dir(s"graft_realdag_$family:$dir")

  private def incomeRepo(s: SparkSession, dir: String): TableRepo = {
    require(RealMeta.available, "reference metadata corpus not found")
    new TableRepo(s, RealMeta.tables, RealMeta.schema,
      rawReader = (name, year) => rawIncome(s, dir, name, year),
      classifications = Map("Imputed_Rent" -> RealMeta.commodities("Imputed_Rent")),
      config = RepoConfig(availability = RealMeta.tableAvailability,
        cacheDir = Some(cacheDirFor(dir, "income"))))
  }

  def realIncomeBreakdown(s: SparkSession, dir: String): DataFrame =
    incomeRepo(s, dir).table("Income_Breakdown", Seq(1389, 1400))
      .orderBy("Year", "ID", "Income_Type")

  /** Total_Income (schema.yaml:1125-1139): one more real-DAG level on
    * top of Income_Breakdown. Both carry `cache_result: true`, so the
    * A9 cache materializes Income_Breakdown ONCE per (fixture, JVM) and
    * this gate's plan reads the cached parquet instead of re-deriving
    * the three income families — exercising the dependency-fingerprint
    * cache over the REAL schema's own cache flags.
    */
  def realTotalIncome(s: SparkSession, dir: String): DataFrame =
    incomeRepo(s, dir).table("Total_Income", Seq(1389, 1400))
      .orderBy("Year", "ID")

  /** Members_Income_Breakdown (schema.yaml:1142-1162): the per-MEMBER
    * cut of the income DAG — table_list is Cash_Incomes ALONE (the
    * noncash families are household-level), grouped by (Year, ID,
    * Member_Number, Income_Type). Exercises the member dimension
    * end-to-end: employment/self-employed DYCOL01, the melt pipeline's
    * Member_Number index (schema.yaml:919-923), and the 1390 subsidy
    * era flip, none of which Income_Breakdown's household groupby can
    * see.
    */
  def realMembersIncomeBreakdown(s: SparkSession, dir: String): DataFrame =
    incomeRepo(s, dir).table("Members_Income_Breakdown", Seq(1389, 1400))
      .orderBy("Year", "ID", "Member_Number", "Income_Type")

  /** Members_Total_Income (schema.yaml:1165-1181, `cache_result: true`):
    * per-member totals over Members_Income_Breakdown.
    */
  def realMembersTotalIncome(s: SparkSession, dir: String): DataFrame =
    incomeRepo(s, dir).table("Members_Total_Income", Seq(1389, 1400))
      .orderBy("Year", "ID", "Member_Number")

  // ------------------------------------- multi-year income + outlay DAGs

  /** Era-correct COL-era projections of the four income raw files, for
    * the full-archive income runs. Sub-eras transcribed from
    * tables.yaml:
    *   employment_income  — 1369 yearly-only (COL04 sector_1, COL06/08/
    *     10/12, :1793-1801), 1370 adds the monthly columns (:1803-1816),
    *     1374 shifts for Activity_Status (COL05 sector — sector_1 until
    *     1375, sector_2 from 1376 — COL06-13 money, :1818-1835);
    *   self_employed_income — 1369 COL02..COL12 (:1846-1858), 1374
    *     COL02 Activity_Status .. COL13 profit (:1859-1873);
    *   other_income — one COL layout for the whole era (COL03..COL08 +
    *     the explicit `TAX: drop`, :1918-1927);
    *   subsidy — DYCOL-only (exists from 1390, :1941-1963).
    * 1384+ delegates to the DYCOL projections in [[incomeRaw]].
    */
  private def incomeRawEra(sl: DataFrame, name: String, year: Int): DataFrame = {
    def fill(mod: Long): Column = (col("code") % mod).cast(DoubleType)
    if (year >= 1384) incomeRaw(sl, name)
    else name match {
      case "employment_income" =>
        if (year >= 1374) sl.select(
          col("address").as("ADDRESS"), col("member").as("COL01"),
          (col("member") % 3L).as("COL02"), col("code").as("COL03"),
          (col("code") % 97L).as("COL04"), col("sector").as("COL05"),
          fill(50L).as("COL06"), fill(51L).as("COL07"),
          fill(52L).as("COL08"), fill(53L).as("COL09"),
          fill(54L).as("COL10"), fill(55L).as("COL11"),
          fill(56L).as("COL12"), col("ynet").as("COL13"))
        else if (year >= 1370) sl.select(
          col("address").as("ADDRESS"), col("member").as("COL01"),
          col("code").as("COL02"), (col("code") % 97L).as("COL03"),
          col("sector").as("COL04"),
          fill(50L).as("COL05"), fill(51L).as("COL06"),
          fill(52L).as("COL07"), fill(53L).as("COL08"),
          fill(54L).as("COL09"), fill(55L).as("COL10"),
          fill(56L).as("COL11"), col("ynet").as("COL12"))
        else sl.select( // 1369: yearly columns only
          col("address").as("ADDRESS"), col("member").as("COL01"),
          col("code").as("COL02"), (col("code") % 97L).as("COL03"),
          col("sector").as("COL04"),
          fill(51L).as("COL06"), fill(53L).as("COL08"),
          fill(55L).as("COL10"), col("ynet").as("COL12"))
      case "self_employed_income" =>
        if (year >= 1374) sl.select(
          col("address").as("ADDRESS"), col("member").as("COL01"),
          (col("member") % 3L).as("COL02"), col("code").as("COL03"),
          (col("code") % 97L).as("COL04"),
          (lit(4L) + col("code") % 3L).as("COL05"),
          col("isagri").as("COL06"),
          fill(60L).as("COL07"), fill(61L).as("COL08"),
          fill(62L).as("COL09"), fill(63L).as("COL10"),
          fill(64L).as("COL11"), fill(65L).as("COL12"),
          col("profit").as("COL13"))
        else sl.select( // 1369-73
          col("address").as("ADDRESS"), col("member").as("COL01"),
          col("code").as("COL02"), (col("code") % 97L).as("COL03"),
          (lit(4L) + col("code") % 3L).as("COL04"),
          col("isagri").as("COL05"),
          fill(60L).as("COL06"), fill(61L).as("COL07"),
          fill(62L).as("COL08"), fill(63L).as("COL09"),
          fill(64L).as("COL10"), fill(65L).as("COL11"),
          col("profit").as("COL12"))
      case "other_income" => sl.select(
        col("address").as("ADDRESS"), col("member").as("COL01"),
        col("u0").as("COL03"), col("u1").as("COL04"),
        col("u2").as("COL05"), col("u3").as("COL06"),
        col("u4").as("COL07"), col("u5").as("COL08"),
        lit("x").as("TAX")) // explicit drop column (tables.yaml:1927)
      case other => throw new IllegalArgumentException(s"no COL-era income raw for $other")
    }
  }

  /** Raw reader for the FULL-ARCHIVE income runs (1369-1401, the whole
    * Cash_Incomes availability span): the NonCash side rides the same
    * era-correct expenditure projections as [[rawMultiYear]] (home's
    * commodity codes steered onto the ERA'S Imputed_Rent classification
    * codes — 31117/31128/31172 before 1383, 42111/42211/42212 from it,
    * commodities.yaml:2002-2024); the cash side serves the four income
    * files from [[ibase]]'s 33-way year slices with the era-correct
    * layouts of [[incomeRawEra]]; subsidy exists from 1390
    * (tables.yaml:1943).
    */
  def rawIncomeMultiYear(s: SparkSession, dir: String, name: String, year: Int): Option[DataFrame] = {
    if (year < 1369 || year > 1401) return None
    val expTables = if (year >= 1383) tables1383 else tables1363
    if (name == "home") {
      val i = expTables.indexOf("home")
      val sl0 = base(s, dir).where(col("y39") === (year - 1363).toLong &&
        (if (year >= 1383) col("t13") else col("t9")) === i.toLong)
      val (own1, own2, mort) =
        if (year >= 1383) (42111L, 42211L, 42212L) else (31117L, 31128L, 31172L)
      val sl = sl0.withColumn("code",
        when(col("code") % 5L === 0L, own1)
          .when(col("code") % 5L === 1L, own2)
          .when(col("code") % 5L === 2L, mort)
          .otherwise(col("code")))
      Some(if (year >= 1388) dycolTable(sl, "home")
      else if (year >= 1383) transitionTable(sl, "home", year)
      else if (year >= 1374) colTable(sl, "home")
      else earlyTable(sl, "home", year))
    } else if (expTables.contains(name)) rawMultiYear(s, dir, name, year)
    else incomeSlices.get(name).flatMap { t =>
      if (name == "subsidy" && year < 1390) None
      else Some(incomeRawEra(
        ibase(s, dir).where(col("t5") === t && col("y33") === (year - 1369).toLong),
        name, year))
    }
  }

  private def incomeMultiYearRepo(s: SparkSession, dir: String, buildParallelism: Option[Int] = None): TableRepo = {
    require(RealMeta.available, "reference metadata corpus not found")
    val base = RepoConfig(availability = RealMeta.tableAvailability,
      cacheDir = Some(cacheDirFor(dir, "income39")))
    new TableRepo(s, RealMeta.tables, RealMeta.schema,
      rawReader = (name, year) => rawIncomeMultiYear(s, dir, name, year),
      classifications = Map("Imputed_Rent" -> RealMeta.commodities("Imputed_Rent")),
      config = buildParallelism.fold(base)(p => base.copy(buildParallelism = p)))
  }

  /** Total_Income over the income family's ENTIRE availability span —
    * 33 years in one plan, crossing the 1370 monthly-column, 1374
    * Activity_Status, 1376 sector_2, 1383 Imputed_Rent-code, 1384
    * DYCOL, and 1390 subsidy eras. The reference's own load matrix
    * (tests/test_metadata/test_tables.py:27-146) is table × EVERY
    * available year; this is that span for the deepest DAG family.
    */
  def realTotalIncomeMultiYear(s: SparkSession, dir: String, buildParallelism: Option[Int] = None): DataFrame =
    incomeMultiYearRepo(s, dir, buildParallelism).table("Total_Income", 1369 to 1401)

  /** Members_Income_Breakdown over the same 33-year span (the cash-only
    * per-member cut — the family [[realMembersIncomeBreakdownSql]]'s
    * multi-year twin oracles in `real_members_income_multiyear`).
    */
  def realMembersIncomeBreakdownMultiYear(s: SparkSession, dir: String): DataFrame =
    incomeMultiYearRepo(s, dir).table("Members_Income_Breakdown", 1369 to 1401)

  /** Members_Total_Income over the full 33-year span — the last
    * standard-table family without a full-archive row (the reference's
    * load matrix, tests/test_metadata/test_tables.py:27-146, is
    * table × EVERY available year). Per-member totals over the
    * 33-year cash DAG (schema.yaml:1165-1181: groupby (Year, ID,
    * Member_Number) sum over Members_Income_Breakdown). Cacheless like
    * [[realIncomeBreakdownMultiYear]]: the schema's `cache_result`
    * flag is exercised by the two-year [[realMembersTotalIncome]]
    * gate; 33 per-year cache materializations here would serialize
    * the driver gate's budget for no added evidence.
    */
  def realMembersTotalIncomeMultiYear(s: SparkSession, dir: String): DataFrame = {
    require(RealMeta.available, "reference metadata corpus not found")
    val repo = new TableRepo(s, RealMeta.tables, RealMeta.schema,
      rawReader = (name, year) => rawIncomeMultiYear(s, dir, name, year),
      classifications = Map("Imputed_Rent" -> RealMeta.commodities("Imputed_Rent")),
      config = RepoConfig(availability = RealMeta.tableAvailability))
    repo.table("Members_Total_Income", 1369 to 1401)
  }

  /** Income_Breakdown over the full 33-year span — ALL THREE derivation
    * families era-correct at every year, which drags in the global
    * provision-method map's five variants (tables.yaml:1216-1221: 1363
    * subsidised/free purchase split, 1369 code-2 Purchase, 1374 the
    * shifted map with code 8 UNMAPPED, 1379 code 8 =
    * Instead_of_Cooperative, 1383 the modern map) and the Imputed_Rent
    * code era. Oracled end-to-end by `real_income_breakdown_multiyear`.
    * The repo is CACHELESS by design: the schema's `cache_result` flags
    * are exercised by the two-year [[realTotalIncome]] gate; here they
    * would serialize 33 per-year cache materializations into the
    * driver gate's budget for no added evidence.
    */
  def realIncomeBreakdownMultiYear(s: SparkSession, dir: String): DataFrame = {
    require(RealMeta.available, "reference metadata corpus not found")
    val repo = new TableRepo(s, RealMeta.tables, RealMeta.schema,
      rawReader = (name, year) => rawIncomeMultiYear(s, dir, name, year),
      classifications = Map("Imputed_Rent" -> RealMeta.commodities("Imputed_Rent")),
      config = RepoConfig(availability = RealMeta.tableAvailability))
    repo.table("Income_Breakdown", 1369 to 1401)
  }

  /** Raw reader for the FULL-ARCHIVE outlay runs: the expenditure
    * tables on the outlay moduli (t14 ≥1383, t10 below) through the
    * same era-correct projections as [[rawMultiYear]], plus INVESTMENT
    * with its own era ladder (tables.yaml:1550-1588): 1366 value-only,
    * 1367 +pm+secondhand, 1369 +price-system, 1374 the COL shape the
    * two-year gate pins, 1384+ DYCOL; file_code null 1363-65 and
    * 1375-77 (the availability matrix's gap — Original_Outlays'
    * versioned table_list drops it those years, schema.yaml:724-780).
    */
  def rawOutlayMultiYear(s: SparkSession, dir: String, name: String, year: Int): Option[DataFrame] = {
    if (year < 1363 || year > 1401) return None
    val y = base(s, dir).where(col("y39") === (year - 1363).toLong)
    if (name == "investment") {
      if (!((year >= 1366 && year <= 1374) || year >= 1378)) None
      else {
        val sl = y.where(if (year >= 1383) col("t14") === 13L else col("t10") === 9L)
        Some(
          if (year >= 1384) sl.select(
            col("address").as("ADDRESS"), col("code").as("DYCOL01"),
            col("pm").as("DYCOL02"), col("exp").as("DYCOL03"),
            col("shs").as("DYCOL04"))
          else if (year >= 1374) sl.select(
            col("address").as("ADDRESS"), col("code").as("COL1"),
            col("pm").as("COL3"), col("exp").as("COL4"),
            col("shs").as("COL5"))
          else if (year >= 1369) sl.select(
            col("address").as("ADDRESS"), col("code").as("COL1"),
            col("pm").as("COL3"), (col("code") % 2L).as("COL4"),
            col("exp").as("COL5"), col("shs").as("COL6"))
          else if (year >= 1367) sl.select(
            col("address").as("ADDRESS"), col("code").as("COL1"),
            col("pm").as("COL3"), col("exp").as("COL4"),
            col("shs").as("COL5"))
          else sl.select( // 1366: value only — no pm, no secondhand
            col("address").as("ADDRESS"), col("code").as("COL1"),
            col("exp").as("COL3")))
      }
    } else {
      val expTables = if (year >= 1383) tables1383 else tables1363
      val i = expTables.indexOf(name)
      if (i < 0) None
      else {
        val sl = y.where((if (year >= 1383) col("t14") else col("t10")) === i.toLong)
        Some(if (year >= 1388) dycolTable(sl, name)
        else if (year >= 1383) transitionTable(sl, name, year)
        else if (year >= 1374) colTable(sl, name)
        else earlyTable(sl, name, year))
      }
    }
  }

  /** Total_Outlay over all 39 archive years — the third family through
    * the one-plan archive, with the investment join appearing and
    * disappearing across its availability gaps exactly as the real
    * era-versioned table_list dictates. Oracled by
    * `real_total_outlay_multiyear`.
    */
  def realTotalOutlayMultiYear(s: SparkSession, dir: String): DataFrame = {
    require(RealMeta.available, "reference metadata corpus not found")
    val repo = new TableRepo(s, RealMeta.tables, RealMeta.schema,
      rawReader = (name, year) => rawOutlayMultiYear(s, dir, name, year),
      classifications = Map("Duration" -> RealMeta.commodities("Duration")),
      config = RepoConfig(availability = RealMeta.tableAvailability,
        cacheDir = Some(cacheDirFor(dir, "outlay39"))))
    repo.table("Total_Outlay", 1363 to 1401)
  }

  // ------------------------------------------- household-attribute DAGs

  /** Raw reader for the household-attribute DAGs:
    *   members_properties — COL-era at 1382 (COL01/03/04/05,
    *     tables.yaml:316-355 under the 1369 overrides) and DYCOL-era at
    *     1400 (DYCOL01/03/04/05, tables.yaml:358-369); planted null
    *     ages exercise the pandas `NaN >= 14 -> False` child-count
    *     parity;
    *   house_specifications — one row per household, 1387-era layout
    *     (ADDRESS + DYCOL01 tenure, tables.yaml:851-860);
    *   household_information — 1400 only (the 1396+ era where the
    *     in-pipeline create_season/add_weights steps are null,
    *     schema.yaml:43-72): the full 7-column raw (tables.yaml:102-137)
    *     so the 1400 apply_order's Season/Household_Type/Main_Household/
    *     Alternative_Household survive the clean.
    */
  def rawHousehold(s: SparkSession, dir: String, name: String, year: Int): Option[DataFrame] = {
    val b = base(s, dir)
    def hh(yp: Long) = b.where(col("ypar") === yp).select(col("address")).distinct()
    name match {
      case "members_properties" if year == 1400 || year == 1382 =>
        val yp = if (year == 1400) 0L else 1L
        val m = s.read.parquet(s"$dir/lineitem.parquet")
          .where(col("l_orderkey") % 2L === yp).select(
            (lit(1L) + col("l_orderkey") % 400L).as("a"),
            (lit(1L) + col("l_linenumber") % 6L).as("mn"),
            (lit(1L) + col("l_partkey") % 9L).as("rel"),
            (lit(1L) + col("l_partkey") % 2L).as("sex"),
            when(col("l_suppkey") % 13L === 0L, lit(null).cast(LongType))
              .otherwise(col("l_partkey") % 95L).as("age"))
        Some(if (year == 1400)
          m.select(col("a").as("ADDRESS"), col("mn").as("DYCOL01"),
            col("rel").as("DYCOL03"), col("sex").as("DYCOL04"),
            col("age").as("DYCOL05"))
        else
          m.select(col("a").as("ADDRESS"), col("mn").as("COL01"),
            col("rel").as("COL03"), col("sex").as("COL04"),
            col("age").as("COL05")))
      case "house_specifications" if year == 1400 || year == 1389 =>
        val yp = if (year == 1400) 0L else 1L
        Some(hh(yp).select(col("address").as("ADDRESS"),
          (lit(1L) + col("address") % 7L).as("DYCOL01")))
      case "household_information" if year == 1400 =>
        Some(hh(0L).select(col("address").as("ADDRESS"),
          (lit(1L) + col("address") % 4L).as("FASL"),
          (lit(1L) + col("address") % 12L).as("MAHMORAJEH"),
          (lit(100L) + col("address") % 57L).as("WEIGHT"),
          (lit(1L) + col("address") % 2L).as("NOEKHN"),
          (col("address") % 2L).as("TAKMIL"),
          ((col("address") + 1L) % 2L).as("JAYGOZIN")))
      case _ => None
    }
  }

  private def householdRepo(s: SparkSession, dir: String): TableRepo = {
    require(RealMeta.available, "reference metadata corpus not found")
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{StructField, StructType, IntegerType => IntT}
    // external weights for the <=1395 era (data_engine.py:700-754):
    // deterministic per-household values, mirrored in the oracle
    val extRows = (1L to 400L).map(id => Row(1389, id, 200L + id % 43L))
    val ext = s.createDataFrame(s.sparkContext.parallelize(extRows, 1),
      StructType(Seq(StructField("Year", IntT, nullable = false),
        StructField("ID", LongType, nullable = false),
        StructField("Weight", LongType, nullable = false))))
    new TableRepo(s, RealMeta.tables, RealMeta.schema,
      rawReader = (name, year) => rawHousehold(s, dir, name, year),
      externalWeights = Some(ext),
      config = RepoConfig(availability = RealMeta.tableAvailability))
  }

  /** Number_of_Members (schema.yaml:97-111): members_properties through
    * the REAL clean maps at BOTH coding eras, then the
    * apply_external_function registry (C11) — count / adult-count /
    * child-count per household (standard_tables.py:4-13).
    */
  def realNumberOfMembers(s: SparkSession, dir: String): DataFrame =
    householdRepo(s, dir).table("Number_of_Members", Seq(1382, 1400))
      .orderBy("Year", "ID")

  /** Equivalence_Scale (schema.yaml:114-130): one more DAG level —
    * Number_of_Members -> the five scales (standard_tables.py:16-26),
    * with apply_order DROPPING the intermediate Members/Adults/Childs.
    */
  def realEquivalenceScale(s: SparkSession, dir: String): DataFrame =
    householdRepo(s, dir).table("Equivalence_Scale", Seq(1382, 1400))
      .orderBy("Year", "ID")

  /** Weights (schema.yaml:575-588): add_weights over the REAL era
    * split — year 1389 resolves from the EXTERNAL weights source
    * (<=1395, data_engine.py:700-754), year 1400 from the
    * household_information table built through its own real
    * clean+instructions pipeline (the 1396+ era of schema.yaml:43-72).
    */
  def realWeights(s: SparkSession, dir: String): DataFrame =
    householdRepo(s, dir).table("Weights", Seq(1389, 1400))
      .orderBy("Year", "ID")

  /** Oracles: the `m`/`hh` CTEs mirror the synthetic input mapping;
    * the aggregation, adult cutoff (Age >= 14, with null ages counting
    * as children exactly like pandas' NaN >= 14 -> False), scale
    * formulas (shaped exactly like the engine's double expressions),
    * and the weight-source era split are re-derived from the reference.
    */
  val realNumberOfMembersSql: String = """
    WITH m AS (
      SELECT CASE WHEN l_orderkey % 2 = 0 THEN 1400 ELSE 1382 END AS Year,
             1 + l_orderkey % 400 AS ID,
             CASE WHEN l_suppkey % 13 = 0 THEN NULL ELSE l_partkey % 95 END AS age
      FROM lineitem)
    SELECT CAST(Year AS INTEGER) AS Year, CAST(ID AS BIGINT) AS ID,
           count(*) AS Members,
           CAST(sum(CASE WHEN age >= 14 THEN 1 ELSE 0 END) AS BIGINT) AS Adults,
           CAST(count(*) - sum(CASE WHEN age >= 14 THEN 1 ELSE 0 END) AS BIGINT) AS Childs
    FROM m GROUP BY 1, 2"""

  val realEquivalenceScaleSql: String =
    s"""SELECT Year, ID, CAST(1 AS INTEGER) AS Household,
           Members AS Per_Capita,
           (CAST(Adults AS DOUBLE) * CAST(0.7 AS DOUBLE)
             + CAST(Childs AS DOUBLE) * CAST(0.5 AS DOUBLE)) + CAST(0.3 AS DOUBLE) AS OECD,
           (CAST(Adults AS DOUBLE) * CAST(0.5 AS DOUBLE)
             + CAST(Childs AS DOUBLE) * CAST(0.3 AS DOUBLE)) + CAST(0.5 AS DOUBLE) AS OECD_Modified,
           sqrt(CAST(Members AS DOUBLE)) AS Square_Root
    FROM ($realNumberOfMembersSql)"""

  val realWeightsSql: String = """
    WITH hh AS (
      SELECT DISTINCT l_orderkey % 2 AS ypar, 1 + l_orderkey % 400 AS ID
      FROM lineitem)
    SELECT CAST(1389 AS INTEGER) AS Year, CAST(ID AS BIGINT) AS ID,
           CAST(200 + ID % 43 AS BIGINT) AS Weight
    FROM hh WHERE ypar = 1
    UNION ALL
    SELECT CAST(1400 AS INTEGER), CAST(ID AS BIGINT),
           CAST(100 + ID % 57 AS BIGINT)
    FROM hh WHERE ypar = 0"""

  /** Hand-written oracle: the two `*b` CTEs mirror the synthetic input
    * mapping; every derivation after them is transcribed from the YAML
    * text — the provision-method code→label→Income_Type table
    * (tables.yaml:1194-1203 × schema.yaml:1026-1033), the Imputed_Rent
    * code sets (commodities.yaml:2008-2024), the sector and
    * is-agricultural dispatch (tables.yaml:1645-1650,1724-1727 ×
    * schema.yaml:1084-1096), the other-income melt + positive filter
    * (schema.yaml:913-950), annualization (schema.yaml:663-671), and
    * pandas' dropna groupby (unmatched Income_Type rows excluded).
    */
  val realIncomeBreakdownSql: String = {
    def u(k: Int): String =
      s"""CASE WHEN (sk + $k) % 4 = 0 THEN NULL
               WHEN (ok + $k) % 11 = 0 THEN CAST(0 AS DOUBLE)
               ELSE CAST((c + ${k * 37}) % 50021 AS DOUBLE) END AS u$k"""
    s"""
    WITH L AS (
      SELECT l_orderkey AS ok, l_partkey AS pk, l_suppkey AS sk, l_linenumber AS ln,
             CAST(round(l_extendedprice*100,0) AS BIGINT) AS c,
             CAST(round(l_discount*100,0) AS BIGINT) AS d
      FROM lineitem),
    eb AS (
      SELECT 1 + ok % 400 AS address,
             CASE WHEN ok % 2 = 0 THEN 1400 ELSE 1389 END AS Year,
             pk % 13 AS t13,
             11111 + pk % 8000 AS code,
             CASE WHEN (ok + ln) % 31 = 0 THEN NULL ELSE 1 + (ok + ln) % 8 END AS pm,
             CASE WHEN sk % 11 = 0 THEN NULL ELSE CAST(720 * (1 + c % 997) AS DOUBLE) END AS exp,
             CASE WHEN ln % 3 = 0 THEN NULL ELSE CAST(720 * (d % 7) AS DOUBLE) END AS shs
      FROM L),
    noncash_excl AS (
      SELECT Year, address AS ID,
             CASE pm WHEN 2 THEN 'NonCash_HomeProduction'
                     WHEN 3 THEN 'NonCash_Public'
                     WHEN 4 THEN 'NonCash_Cooperative'
                     WHEN 5 THEN 'NonCash_Private'
                     WHEN 6 THEN 'NonCash_Agricultural'
                     WHEN 7 THEN 'NonCash_NonAgricultural'
                     WHEN 8 THEN 'NonCash_Donation' END AS Income_Type,
             (coalesce(exp, 0) - CASE WHEN t13 = 12 THEN coalesce(shs, 0) ELSE 0 END)
               / (CASE WHEN t13 = 12 THEN 360 ELSE 30 END) * 360 AS Income
      FROM eb WHERE pm IS NOT NULL AND pm <> 1),
    imputed AS (
      SELECT Year, address AS ID,
             CASE WHEN code % 5 IN (0, 1) THEN 'NonCash_ImputedRent_Ownership'
                  WHEN code % 5 = 2 THEN 'NonCash_ImputedRent_Mortgage' END AS Income_Type,
             coalesce(exp, 0) * 12 AS Income
      FROM eb
      WHERE t13 = 3 AND code % 5 <= 2 AND (pm IS NULL OR pm = 1)),
    ib AS (
      SELECT 1 + ok % 400 AS address,
             CASE WHEN ok % 2 = 0 THEN 1400 ELSE 1389 END AS Year,
             pk % 5 AS t5,
             1 + (ok // 2) % 4 AS sector,
             CASE WHEN sk % 7 = 0 THEN NULL ELSE (ok // 2) % 2 END AS isagri,
             CASE WHEN sk % 5 = 0 THEN NULL ELSE CAST(c % 100000 AS DOUBLE) END AS ynet,
             CASE WHEN sk % 11 = 0 THEN NULL ELSE CAST(c % 99991 AS DOUBLE) END AS profit,
             CASE WHEN sk % 3 = 0 THEN NULL ELSE CAST(c % 40009 AS DOUBLE) END AS subsidy,
             ${u(0)}, ${u(1)}, ${u(2)}, ${u(3)}, ${u(4)}, ${u(5)}
      FROM L),
    cash AS (
      SELECT Year, address AS ID,
             CASE sector WHEN 1 THEN 'Cash_Public' WHEN 2 THEN 'Cash_Cooperative'
                         WHEN 3 THEN 'Cash_Private' END AS Income_Type,
             coalesce(ynet, 0) AS Income
      FROM ib WHERE t5 = 1
      UNION ALL
      SELECT Year, address,
             CASE isagri WHEN 1 THEN 'Cash_Agricultural'
                         WHEN 0 THEN 'Cash_NonAgricultural' END,
             coalesce(profit, 0)
      FROM ib WHERE t5 = 2
      UNION ALL
      SELECT Year, address, 'Cash_' || t, v FROM (
        SELECT Year, address, 'Retirement' AS t, u0 AS v FROM ib WHERE t5 = 3
        UNION ALL SELECT Year, address, 'Rent', u1 FROM ib WHERE t5 = 3
        UNION ALL SELECT Year, address, 'Interest', u2 FROM ib WHERE t5 = 3
        UNION ALL SELECT Year, address, 'Aid', u3 FROM ib WHERE t5 = 3
        UNION ALL SELECT Year, address, 'Home_Production', u4 FROM ib WHERE t5 = 3
        UNION ALL SELECT Year, address, 'Transfer', u5 FROM ib WHERE t5 = 3
      ) WHERE v IS NOT NULL AND v > 0
      UNION ALL
      SELECT Year, address, 'Cash_Subsidy', coalesce(subsidy, 0)
      FROM ib WHERE t5 = 4 AND Year = 1400),
    allrows AS (
      SELECT * FROM noncash_excl
      UNION ALL SELECT * FROM imputed
      UNION ALL SELECT * FROM cash)
    SELECT CAST(Year AS INTEGER) AS Year, CAST(ID AS BIGINT) AS ID,
           Income_Type, sum(Income) AS Income
    FROM allrows WHERE Income_Type IS NOT NULL
    GROUP BY 1, 2, 3"""
  }

  /** Total_Income oracle: the Income_Breakdown oracle aggregated per
    * household (schema.yaml:1131-1132) — the exact-integer design makes
    * the re-aggregation order-independent.
    */
  val realTotalIncomeSql: String =
    s"""SELECT Year, ID, sum(Income) AS Income FROM (
    $realIncomeBreakdownSql
    ) GROUP BY 1, 2"""

  /** Members_Income_Breakdown oracle: the CASH half of the income
    * derivation (the only table in its list, schema.yaml:1144-1145)
    * re-transcribed with the member dimension carried through — the
    * employment/self-employed Member_Number raw column (DYCOL01,
    * tables.yaml:1601-1603,1771-1772), the melt's Member_Number index
    * (schema.yaml:919-923), the subsidy era flip, and the pandas-dropna
    * groupby over (Year, ID, Member_Number, Income_Type)
    * (schema.yaml:1149-1155).
    */
  val realMembersIncomeBreakdownSql: String = {
    def u(k: Int): String =
      s"""CASE WHEN (sk + $k) % 4 = 0 THEN NULL
               WHEN (ok + $k) % 11 = 0 THEN CAST(0 AS DOUBLE)
               ELSE CAST((c + ${k * 37}) % 50021 AS DOUBLE) END AS u$k"""
    s"""
    WITH L AS (
      SELECT l_orderkey AS ok, l_partkey AS pk, l_suppkey AS sk, l_linenumber AS ln,
             CAST(round(l_extendedprice*100,0) AS BIGINT) AS c
      FROM lineitem),
    ib AS (
      SELECT 1 + ok % 400 AS address,
             CASE WHEN ok % 2 = 0 THEN 1400 ELSE 1389 END AS Year,
             pk % 5 AS t5,
             1 + ln % 4 AS member,
             1 + (ok // 2) % 4 AS sector,
             CASE WHEN sk % 7 = 0 THEN NULL ELSE (ok // 2) % 2 END AS isagri,
             CASE WHEN sk % 5 = 0 THEN NULL ELSE CAST(c % 100000 AS DOUBLE) END AS ynet,
             CASE WHEN sk % 11 = 0 THEN NULL ELSE CAST(c % 99991 AS DOUBLE) END AS profit,
             CASE WHEN sk % 3 = 0 THEN NULL ELSE CAST(c % 40009 AS DOUBLE) END AS subsidy,
             ${u(0)}, ${u(1)}, ${u(2)}, ${u(3)}, ${u(4)}, ${u(5)}
      FROM L),
    cash AS (
      SELECT Year, address AS ID, member,
             CASE sector WHEN 1 THEN 'Cash_Public' WHEN 2 THEN 'Cash_Cooperative'
                         WHEN 3 THEN 'Cash_Private' END AS Income_Type,
             coalesce(ynet, 0) AS Income
      FROM ib WHERE t5 = 1
      UNION ALL
      SELECT Year, address, member,
             CASE isagri WHEN 1 THEN 'Cash_Agricultural'
                         WHEN 0 THEN 'Cash_NonAgricultural' END,
             coalesce(profit, 0)
      FROM ib WHERE t5 = 2
      UNION ALL
      SELECT Year, address, member, 'Cash_' || t, v FROM (
        SELECT Year, address, member, 'Retirement' AS t, u0 AS v FROM ib WHERE t5 = 3
        UNION ALL SELECT Year, address, member, 'Rent', u1 FROM ib WHERE t5 = 3
        UNION ALL SELECT Year, address, member, 'Interest', u2 FROM ib WHERE t5 = 3
        UNION ALL SELECT Year, address, member, 'Aid', u3 FROM ib WHERE t5 = 3
        UNION ALL SELECT Year, address, member, 'Home_Production', u4 FROM ib WHERE t5 = 3
        UNION ALL SELECT Year, address, member, 'Transfer', u5 FROM ib WHERE t5 = 3
      ) WHERE v IS NOT NULL AND v > 0
      UNION ALL
      SELECT Year, address, member, 'Cash_Subsidy', coalesce(subsidy, 0)
      FROM ib WHERE t5 = 4 AND Year = 1400)
    SELECT CAST(Year AS INTEGER) AS Year, CAST(ID AS BIGINT) AS ID,
           CAST(member AS BIGINT) AS Member_Number,
           Income_Type, sum(Income) AS Income
    FROM cash WHERE Income_Type IS NOT NULL
    GROUP BY 1, 2, 3, 4"""
  }

  /** Members_Total_Income oracle: per-member totals
    * (schema.yaml:1171-1172).
    */
  val realMembersTotalIncomeSql: String =
    s"""SELECT Year, ID, Member_Number, sum(Income) AS Income FROM (
    $realMembersIncomeBreakdownSql
    ) GROUP BY 1, 2, 3"""

  /** Hand-written oracle. The `base` CTE mirrors the synthetic input
    * mapping; everything after it re-derives the REAL pipeline from the
    * YAML text, independently of the Scala metadata interpreter:
    *   - which raw column is Expenditure/Secondhand_Sale per (table, era)
    *     collapses to "durable is the only Secondhand_Sale carrier"
    *     (tables.yaml:1505-1548) — every other synthetic table feeds
    *     `exp` into its era's Expenditure column;
    *   - Duration = 360 for durable, 30 otherwise (schema.yaml:458-461
    *     vs the per-table `expression: 30` blocks);
    *   - Gross = fillna0(Expenditure), Net = fillna0(Expenditure) -
    *     fillna0(Secondhand_Sale) (schema.yaml:663-671 via the
    *     reference's fillna(0) create_column, data_engine.py:347-368);
    *   - annualize x/Duration*360 (schema.yaml:704-712 Expenditures);
    *   - sum per (Year, ID) (schema.yaml:697-714 Total_Expenditure).
    */
  /** FULL-ARCHIVE Total_Expenditure oracle — all 39 years, re-derived
    * from the YAML independently of the engine:
    *   - table sets per era: t13 slices 0..12 from 1383, t9 slices 0..8
    *     before (Original_Expenditures' versioned table_list,
    *     schema.yaml:591-618);
    *   - Duration: durable 360 (last index both eras); food 1363-1368
    *     from the sci_coicop_1363 level-4 ranges the synthetic codes
    *     are confined to (flour/bread/cake 2, cereals 30 —
    *     commodities.yaml:29-49, the engine resolves them through the
    *     REAL add_classification); everything else 30;
    *   - Secondhand_Sale only on durable (tables.yaml:1505-1548), with
    *     fillna(0) Gross/Net and x/Duration*360 annualization.
    * Every lineitem row lands in exactly one (year, table): y39 picks
    * the year, t13/t9 the table.
    */
  val realTotalExpenditure39ySql: String = """
    WITH base AS (
      SELECT 1 + l_orderkey % 400 AS address,
             CAST(1363 + l_orderkey % 39 AS INTEGER) AS Year,
             l_partkey % 13 AS t13,
             l_partkey % 9 AS t9,
             11111 + l_partkey % 8000 AS code,
             CASE WHEN l_suppkey % 11 = 0 THEN NULL
                  ELSE CAST(720 * (1 + CAST(round(l_extendedprice*100,0) AS BIGINT) % 997) AS DOUBLE) END AS exp,
             CASE WHEN l_linenumber % 3 = 0 THEN NULL
                  ELSE CAST(720 * (CAST(round(l_discount*100,0) AS BIGINT) % 7) AS DOUBLE) END AS shs
      FROM lineitem),
    items AS (
      SELECT Year, CAST(address AS BIGINT) AS ID,
             CASE
               WHEN Year >= 1383 THEN CASE WHEN t13 = 12 THEN 360 ELSE 30 END
               WHEN Year >= 1369 THEN CASE WHEN t9 = 8 THEN 360 ELSE 30 END
               ELSE CASE WHEN t9 = 8 THEN 360
                         WHEN t9 = 0 THEN
                           CASE WHEN 11100 + code % 400 >= 11200
                                 AND 11100 + code % 400 < 11300 THEN 30 ELSE 2 END
                         ELSE 30 END
             END AS dur,
             coalesce(exp, 0) AS g,
             coalesce(exp, 0)
               - (CASE WHEN (Year >= 1383 AND t13 = 12) OR (Year < 1383 AND t9 = 8)
                       THEN coalesce(shs, 0) ELSE 0 END) AS n
      FROM base)
    SELECT Year, ID,
           sum(g / dur * 360) AS Gross_Expenditure,
           sum(n / dur * 360) AS Net_Expenditure
    FROM items GROUP BY 1, 2"""

  /** FULL-ARCHIVE Members_Income_Breakdown oracle (1369-1401): the
    * two-year cash oracle with the era dispatches the 33-year span
    * crosses — the 1376 sector map flip (sector_1 maps only 1→Public /
    * 2→Private, tables.yaml:1635-1643; sector_2 adds Cooperative,
    * :1645-1650 — unmapped codes become null categories and vanish in
    * the dropna groupby exactly like pandas) and the 1390 subsidy
    * table_list flip (schema.yaml:1059-1079).
    */
  val realMembersIncomeMultiYearSql: String = {
    def u(k: Int): String =
      s"""CASE WHEN (sk + $k) % 4 = 0 THEN NULL
               WHEN (ok + $k) % 11 = 0 THEN CAST(0 AS DOUBLE)
               ELSE CAST((c + ${k * 37}) % 50021 AS DOUBLE) END AS u$k"""
    s"""
    WITH L AS (
      SELECT l_orderkey AS ok, l_partkey AS pk, l_suppkey AS sk, l_linenumber AS ln,
             CAST(round(l_extendedprice*100,0) AS BIGINT) AS c
      FROM lineitem),
    ib AS (
      SELECT 1 + ok % 400 AS address,
             CAST(1369 + ok % 33 AS INTEGER) AS Year,
             pk % 5 AS t5,
             1 + ln % 4 AS member,
             1 + (ok // 2) % 4 AS sector,
             CASE WHEN sk % 7 = 0 THEN NULL ELSE (ok // 2) % 2 END AS isagri,
             CASE WHEN sk % 5 = 0 THEN NULL ELSE CAST(c % 100000 AS DOUBLE) END AS ynet,
             CASE WHEN sk % 11 = 0 THEN NULL ELSE CAST(c % 99991 AS DOUBLE) END AS profit,
             CASE WHEN sk % 3 = 0 THEN NULL ELSE CAST(c % 40009 AS DOUBLE) END AS subsidy,
             ${u(0)}, ${u(1)}, ${u(2)}, ${u(3)}, ${u(4)}, ${u(5)}
      FROM L),
    cash AS (
      SELECT Year, address AS ID, member,
             CASE WHEN Year <= 1375 THEN
               CASE sector WHEN 1 THEN 'Cash_Public' WHEN 2 THEN 'Cash_Private' END
             ELSE
               CASE sector WHEN 1 THEN 'Cash_Public' WHEN 2 THEN 'Cash_Cooperative'
                           WHEN 3 THEN 'Cash_Private' END
             END AS Income_Type,
             coalesce(ynet, 0) AS Income
      FROM ib WHERE t5 = 1
      UNION ALL
      SELECT Year, address, member,
             CASE isagri WHEN 1 THEN 'Cash_Agricultural'
                         WHEN 0 THEN 'Cash_NonAgricultural' END,
             coalesce(profit, 0)
      FROM ib WHERE t5 = 2
      UNION ALL
      SELECT Year, address, member, 'Cash_' || t, v FROM (
        SELECT Year, address, member, 'Retirement' AS t, u0 AS v FROM ib WHERE t5 = 3
        UNION ALL SELECT Year, address, member, 'Rent', u1 FROM ib WHERE t5 = 3
        UNION ALL SELECT Year, address, member, 'Interest', u2 FROM ib WHERE t5 = 3
        UNION ALL SELECT Year, address, member, 'Aid', u3 FROM ib WHERE t5 = 3
        UNION ALL SELECT Year, address, member, 'Home_Production', u4 FROM ib WHERE t5 = 3
        UNION ALL SELECT Year, address, member, 'Transfer', u5 FROM ib WHERE t5 = 3
      ) WHERE v IS NOT NULL AND v > 0
      UNION ALL
      SELECT Year, address, member, 'Cash_Subsidy', coalesce(subsidy, 0)
      FROM ib WHERE t5 = 4 AND Year >= 1390)
    SELECT Year, CAST(ID AS BIGINT) AS ID,
           CAST(member AS BIGINT) AS Member_Number,
           Income_Type, sum(Income) AS Income
    FROM cash WHERE Income_Type IS NOT NULL
    GROUP BY 1, 2, 3, 4"""
  }

  /** FULL-ARCHIVE Members_Total_Income oracle: per-member totals over
    * the 33-year cash breakdown (schema.yaml:1171-1172) — the same
    * one-layer wrap as the two-year [[realMembersTotalIncomeSql]].
    */
  val realMembersTotalIncomeMultiYearSql: String =
    s"""SELECT Year, ID, Member_Number, sum(Income) AS Income FROM (
    $realMembersIncomeMultiYearSql
    ) GROUP BY 1, 2, 3"""

  /** FULL-ARCHIVE Income_Breakdown oracle (1369-1401): the two-year
    * oracle's three arms with every era dispatch transcribed
    * independently from the YAML —
    *   - the GLOBAL provision-method map's variants
    *     (tables.yaml:1216-1221 → :1144-1209): variant 2 (1369, code 2
    *     = Purchase, code 1 UNMAPPED), variant 3 (1374, shifted map,
    *     code 8 unmapped), variant 4 (1379, code 8 =
    *     Instead_of_Cooperative_Service), variant 5 (1383). Unmapped
    *     codes keep their raw value (pandas rename_categories), pass
    *     the != 'Purchase' filter, match no Income_Type, and vanish in
    *     the dropna groupby — so the oracle expresses them as
    *     CASE-misses;
    *   - the Imputed_Rent classification's code era
    *     (commodities.yaml:2002-2024: 31117/31128/31172 before 1383)
    *     and the era's Purchase code in its isnull-or-Purchase filter;
    *   - the cash arms' 1376 sector_2 flip and 1390 subsidy flip
    *     (realMembersIncomeMultiYearSql's dispatches, household-level);
    *   - durable = the last slice index of the era's table list
    *     (t13 = 12 from 1383, t9 = 8 before).
    */
  val realIncomeBreakdownMultiYearSql: String = {
    def u(k: Int): String =
      s"""CASE WHEN (sk + $k) % 4 = 0 THEN NULL
               WHEN (ok + $k) % 11 = 0 THEN CAST(0 AS DOUBLE)
               ELSE CAST((c + ${k * 37}) % 50021 AS DOUBLE) END AS u$k"""
    s"""
    WITH L AS (
      SELECT l_orderkey AS ok, l_partkey AS pk, l_suppkey AS sk, l_linenumber AS ln,
             CAST(round(l_extendedprice*100,0) AS BIGINT) AS c,
             CAST(round(l_discount*100,0) AS BIGINT) AS d
      FROM lineitem),
    eb AS (
      SELECT 1 + ok % 400 AS address,
             CAST(1363 + ok % 39 AS INTEGER) AS Year,
             pk % 13 AS t13,
             pk % 9 AS t9,
             11111 + pk % 8000 AS code,
             CASE WHEN (ok + ln) % 31 = 0 THEN NULL ELSE 1 + (ok + ln) % 8 END AS pm,
             CASE WHEN sk % 11 = 0 THEN NULL ELSE CAST(720 * (1 + c % 997) AS DOUBLE) END AS exp,
             CASE WHEN ln % 3 = 0 THEN NULL ELSE CAST(720 * (d % 7) AS DOUBLE) END AS shs
      FROM L WHERE 1363 + ok % 39 >= 1369),
    noncash_excl AS (
      SELECT Year, address AS ID,
             CASE
               WHEN Year < 1374 THEN
                 CASE pm WHEN 3 THEN 'NonCash_HomeProduction'
                         WHEN 4 THEN 'NonCash_Public'
                         WHEN 5 THEN 'NonCash_Private'
                         WHEN 6 THEN 'NonCash_Agricultural'
                         WHEN 7 THEN 'NonCash_NonAgricultural'
                         WHEN 8 THEN 'NonCash_Donation' END
               WHEN Year < 1379 THEN
                 CASE pm WHEN 2 THEN 'NonCash_HomeProduction'
                         WHEN 3 THEN 'NonCash_Public'
                         WHEN 4 THEN 'NonCash_Private'
                         WHEN 5 THEN 'NonCash_Agricultural'
                         WHEN 6 THEN 'NonCash_NonAgricultural'
                         WHEN 7 THEN 'NonCash_Donation' END
               WHEN Year < 1383 THEN
                 CASE pm WHEN 2 THEN 'NonCash_HomeProduction'
                         WHEN 3 THEN 'NonCash_Public'
                         WHEN 4 THEN 'NonCash_Private'
                         WHEN 5 THEN 'NonCash_Agricultural'
                         WHEN 6 THEN 'NonCash_NonAgricultural'
                         WHEN 7 THEN 'NonCash_Donation'
                         WHEN 8 THEN 'NonCash_Cooperative' END
               ELSE
                 CASE pm WHEN 2 THEN 'NonCash_HomeProduction'
                         WHEN 3 THEN 'NonCash_Public'
                         WHEN 4 THEN 'NonCash_Cooperative'
                         WHEN 5 THEN 'NonCash_Private'
                         WHEN 6 THEN 'NonCash_Agricultural'
                         WHEN 7 THEN 'NonCash_NonAgricultural'
                         WHEN 8 THEN 'NonCash_Donation' END
             END AS Income_Type,
             (coalesce(exp, 0)
               - CASE WHEN (Year >= 1383 AND t13 = 12) OR (Year < 1383 AND t9 = 8)
                      THEN coalesce(shs, 0) ELSE 0 END)
               / (CASE WHEN (Year >= 1383 AND t13 = 12) OR (Year < 1383 AND t9 = 8)
                       THEN 360 ELSE 30 END) * 360 AS Income
      FROM eb WHERE pm IS NOT NULL),
    imputed AS (
      SELECT Year, address AS ID,
             CASE WHEN code % 5 IN (0, 1) THEN 'NonCash_ImputedRent_Ownership'
                  WHEN code % 5 = 2 THEN 'NonCash_ImputedRent_Mortgage' END AS Income_Type,
             coalesce(exp, 0) * 12 AS Income
      FROM eb
      WHERE ((Year >= 1383 AND t13 = 3) OR (Year < 1383 AND t9 = 2))
        AND code % 5 <= 2
        AND (pm IS NULL OR pm = (CASE WHEN Year < 1374 THEN 2 ELSE 1 END))),
    ib AS (
      SELECT 1 + ok % 400 AS address,
             CAST(1369 + ok % 33 AS INTEGER) AS Year,
             pk % 5 AS t5,
             1 + (ok // 2) % 4 AS sector,
             CASE WHEN sk % 7 = 0 THEN NULL ELSE (ok // 2) % 2 END AS isagri,
             CASE WHEN sk % 5 = 0 THEN NULL ELSE CAST(c % 100000 AS DOUBLE) END AS ynet,
             CASE WHEN sk % 11 = 0 THEN NULL ELSE CAST(c % 99991 AS DOUBLE) END AS profit,
             CASE WHEN sk % 3 = 0 THEN NULL ELSE CAST(c % 40009 AS DOUBLE) END AS subsidy,
             ${u(0)}, ${u(1)}, ${u(2)}, ${u(3)}, ${u(4)}, ${u(5)}
      FROM L),
    cash AS (
      SELECT Year, address AS ID,
             CASE WHEN Year <= 1375 THEN
               CASE sector WHEN 1 THEN 'Cash_Public' WHEN 2 THEN 'Cash_Private' END
             ELSE
               CASE sector WHEN 1 THEN 'Cash_Public' WHEN 2 THEN 'Cash_Cooperative'
                           WHEN 3 THEN 'Cash_Private' END
             END AS Income_Type,
             coalesce(ynet, 0) AS Income
      FROM ib WHERE t5 = 1
      UNION ALL
      SELECT Year, address,
             CASE isagri WHEN 1 THEN 'Cash_Agricultural'
                         WHEN 0 THEN 'Cash_NonAgricultural' END,
             coalesce(profit, 0)
      FROM ib WHERE t5 = 2
      UNION ALL
      SELECT Year, address, 'Cash_' || t, v FROM (
        SELECT Year, address, 'Retirement' AS t, u0 AS v FROM ib WHERE t5 = 3
        UNION ALL SELECT Year, address, 'Rent', u1 FROM ib WHERE t5 = 3
        UNION ALL SELECT Year, address, 'Interest', u2 FROM ib WHERE t5 = 3
        UNION ALL SELECT Year, address, 'Aid', u3 FROM ib WHERE t5 = 3
        UNION ALL SELECT Year, address, 'Home_Production', u4 FROM ib WHERE t5 = 3
        UNION ALL SELECT Year, address, 'Transfer', u5 FROM ib WHERE t5 = 3
      ) WHERE v IS NOT NULL AND v > 0
      UNION ALL
      SELECT Year, address, 'Cash_Subsidy', coalesce(subsidy, 0)
      FROM ib WHERE t5 = 4 AND Year >= 1390),
    allrows AS (
      SELECT * FROM noncash_excl
      UNION ALL SELECT * FROM imputed
      UNION ALL SELECT * FROM cash)
    SELECT Year, CAST(ID AS BIGINT) AS ID, Income_Type, sum(Income) AS Income
    FROM allrows WHERE Income_Type IS NOT NULL
    GROUP BY 1, 2, 3"""
  }

  /** FULL-ARCHIVE Total_Outlay oracle — the expenditure arm on the
    * outlay moduli (t14 from 1383, t10 before) plus INVESTMENT with
    * its availability gaps (absent 1363-65 and 1375-77,
    * tables.yaml:1552-1557) and era layouts: no Secondhand_Sale at all
    * in 1366 (value-only file, :1562-1564), Duration 360 always
    * (schema.yaml:505-515). Food keeps its classification durations
    * pre-1369; durable and investment both net Secondhand_Sale.
    */
  val realTotalOutlayMultiYearSql: String = """
    WITH base AS (
      SELECT 1 + l_orderkey % 400 AS address,
             CAST(1363 + l_orderkey % 39 AS INTEGER) AS Year,
             l_partkey % 14 AS t14,
             l_partkey % 10 AS t10,
             11111 + l_partkey % 8000 AS code,
             CASE WHEN l_suppkey % 11 = 0 THEN NULL
                  ELSE CAST(720 * (1 + CAST(round(l_extendedprice*100,0) AS BIGINT) % 997) AS DOUBLE) END AS exp,
             CASE WHEN l_linenumber % 3 = 0 THEN NULL
                  ELSE CAST(720 * (CAST(round(l_discount*100,0) AS BIGINT) % 7) AS DOUBLE) END AS shs
      FROM lineitem),
    items AS (
      SELECT Year, CAST(address AS BIGINT) AS ID,
             CASE
               WHEN (Year >= 1383 AND t14 IN (12, 13)) OR (Year < 1383 AND t10 IN (8, 9))
                 THEN 360
               WHEN Year < 1369 AND t10 = 0 THEN
                 CASE WHEN 11100 + code % 400 >= 11200
                       AND 11100 + code % 400 < 11300 THEN 30 ELSE 2 END
               ELSE 30
             END AS dur,
             coalesce(exp, 0) AS g,
             coalesce(exp, 0)
               - (CASE WHEN (Year >= 1383 AND t14 = 12) OR (Year < 1383 AND t10 = 8)
                         OR ((Year >= 1383 AND t14 = 13 OR Year < 1383 AND t10 = 9)
                             AND Year <> 1366)
                       THEN coalesce(shs, 0) ELSE 0 END) AS n
      FROM base
      -- investment availability gaps: those rows simply have no file
      WHERE NOT ((Year < 1366 OR (Year >= 1375 AND Year <= 1377))
                 AND ((Year >= 1383 AND t14 = 13) OR (Year < 1383 AND t10 = 9))))
    SELECT Year, ID,
           sum(g / dur * 360) AS Gross_Expenditure,
           sum(n / dur * 360) AS Net_Expenditure
    FROM items GROUP BY 1, 2"""

  val realTotalExpenditureSql: String = """
    WITH base AS (
      SELECT 1 + l_orderkey % 400 AS address,
             l_orderkey % 2 AS ypar,
             l_partkey % 13 AS t13,
             l_partkey % 9 AS t9,
             CASE WHEN l_suppkey % 11 = 0 THEN NULL
                  ELSE CAST(720 * (1 + CAST(round(l_extendedprice*100,0) AS BIGINT) % 997) AS DOUBLE) END AS exp,
             CASE WHEN l_linenumber % 3 = 0 THEN NULL
                  ELSE CAST(720 * (CAST(round(l_discount*100,0) AS BIGINT) % 7) AS DOUBLE) END AS shs
      FROM lineitem),
    items AS (
      SELECT 1400 AS Year, CAST(address AS BIGINT) AS ID,
             CASE WHEN t13 = 12 THEN 360 ELSE 30 END AS dur,
             coalesce(exp, 0) AS g,
             coalesce(exp, 0) - (CASE WHEN t13 = 12 THEN coalesce(shs, 0) ELSE 0 END) AS n
      FROM base WHERE ypar = 0
      UNION ALL
      SELECT 1382, CAST(address AS BIGINT),
             CASE WHEN t9 = 8 THEN 360 ELSE 30 END,
             coalesce(exp, 0),
             coalesce(exp, 0) - (CASE WHEN t9 = 8 THEN coalesce(shs, 0) ELSE 0 END)
      FROM base WHERE ypar = 1)
    SELECT CAST(Year AS INTEGER) AS Year, ID,
           sum(g / dur * 360) AS Gross_Expenditure,
           sum(n / dur * 360) AS Net_Expenditure
    FROM items GROUP BY 1, 2"""
}
