package graft

import graft.meta._
import graft.ops._
import graft.sources.{LoopbackHttpServer, RawSources}
import graft.streaming.StreamGate
import graft.streaming.StreamGate.{Copies, FileSink, MemorySink, Sentinel}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The operator-demonstration query catalog: one entry per implemented
  * operator from SURVEY.md §2 (+ the LLM-data-pipeline extensions), each
  * over the driver's /root/testdata parquet tables, each paired (where
  * SQL-expressible) with an equivalent DuckDB oracle.
  *
  * Numeric design rule for hash-stable oracles: aggregates run over exact
  * integers (money as `cents` = round(x*100) cast bigint; counts; small
  * longs), so sums are order-independent; any floating-point math happens
  * AFTER aggregation as a fixed IEEE expression sequence written
  * identically in both engines. Per-row double math (no aggregation) is
  * bit-identical across engines by IEEE 754.
  */
object Queries {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** Money to exact integer cents. */
  private def cents(c: Column): Column = round(c * 100, 0).cast(LongType)
  private val centsSql = (c: String) => s"CAST(round($c*100,0) AS BIGINT)"

  /** Event-time micros-since-epoch as BIGINT, robust to both `ts`
    * encodings the fixture has shipped: TIMESTAMP(MICROS) parquet (read
    * as TIMESTAMP_NTZ; session timezone is pinned UTC so the NTZ→TZ cast
    * is exact) and TIMESTAMP(NANOS) read as nanos-long via
    * spark.sql.legacy.parquet.nanosAsLong. DuckDB's `epoch_us(ts)` is
    * the oracle-side equivalent for either encoding.
    */
  private def tsUsOf(df: DataFrame, tsCol: String = "ts"): Column =
    df.schema(tsCol).dataType match {
      case LongType =>
        // The LongType branch exists for TIMESTAMP(NANOS) parquet read
        // under nanosAsLong. Guard the magnitude per-row: nanos for any
        // plausible event time are ≥1e17 (~1973); a fixture regen that
        // ships epoch-MICROS as plain INT64 would land ~1e15 and must
        // fail loudly instead of silently dividing by 1000 into
        // wrong-but-plausible results.
        expr(s"""CASE WHEN $tsCol IS NULL THEN CAST(NULL AS BIGINT)
                 WHEN abs($tsCol) < 100000000000000000 THEN
                   raise_error(concat('$tsCol: LongType assumed nanos-since-epoch but value is too small for nanos: ', CAST($tsCol AS STRING)))
                 ELSE $tsCol DIV 1000 END""")
      case _        => unix_micros(col(tsCol).cast(TimestampType))
    }

  /** Event-time as a TIMESTAMP column (micros precision), same two-encoding
    * tolerance (and nanos-magnitude guard) as [[tsUsOf]]. */
  private def tsEventTimeOf(df: DataFrame, tsCol: String = "ts"): Column =
    df.schema(tsCol).dataType match {
      case LongType => timestamp_micros(tsUsOf(df, tsCol))
      case _        => col(tsCol).cast(TimestampType)
    }

  private object NoProvider extends Pipeline.TableProvider {
    def table(name: String, years: Seq[Int]): DataFrame =
      throw new UnsupportedOperationException(name)
    def addWeights(df: DataFrame): DataFrame = df
    def addClassification(df: DataFrame, settings: Meta): DataFrame = df
    def addAttribute(df: DataFrame, settings: Meta): DataFrame = df
  }
  private def ctx(year: Int, table: String): Pipeline.Context =
    Pipeline.Context(Seq(year), table, NoProvider)

  // ------------------------------------------------------------------ A/B/C

  /** Flagship (entry): TPC-H Q1-shaped pricing summary through C10-style
    * grouped aggregation — scan, filter, projection, hash agg.
    */
  def q1Agg(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .where(col("l_shipdate") <= lit("1998-09-02"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        sum(col("l_quantity")).as("sum_qty"),
        sum(cents(col("l_extendedprice"))).as("sum_price_cents"),
        sum(cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("sum_disc_price_c4"),
        count(lit(1)).as("n"))

  private val q1Sql = """
    SELECT l_returnflag, l_linestatus,
           sum(l_quantity) AS sum_qty,
           CAST(sum(CAST(round(l_extendedprice*100,0) AS BIGINT)) AS BIGINT) AS sum_price_cents,
           CAST(sum(CAST(round(l_extendedprice*100,0) AS BIGINT) * (100 - CAST(round(l_discount*100,0) AS BIGINT))) AS BIGINT) AS sum_disc_price_c4,
           count(*) AS n
    FROM lineitem WHERE l_shipdate <= '1998-09-02'
    GROUP BY l_returnflag, l_linestatus"""

  /** B1-B4: metadata-driven clean (select+rename+scrub+type) over part. */
  def b1Clean(s: SparkSession, dir: String): DataFrame = {
    import CleanOps._
    val spec = TableCleanSpec(Vector(
      ColumnSpec("p_partkey", "PartKey", UnsignedType),
      ColumnSpec("p_name", "Name", StrType),
      ColumnSpec("p_size", "Size", IntType),
      ColumnSpec("p_retailprice", "Price", FloatType),
    ), missings = "drop")
    cleanTable(T(s, dir, "part"), spec)
  }

  private val b1Sql = """
    SELECT p_partkey AS PartKey,
           CASE WHEN regexp_matches(regexp_replace(regexp_replace(regexp_replace(regexp_replace(p_name,'·','.','g'),'\.+$','','g'),'[\n\r,@+*\[\]_?]+','','g'),'\b-','','g'), '^[\s.\-]*$')
                THEN NULL
                ELSE regexp_replace(regexp_replace(regexp_replace(regexp_replace(p_name,'·','.','g'),'\.+$','','g'),'[\n\r,@+*\[\]_?]+','','g'),'\b-','','g') END AS Name,
           CAST(p_size AS BIGINT) AS Size,
           CAST(p_retailprice AS DOUBLE) AS Price
    FROM part"""

  /** B2: sentinel replacement (string and numeric) before typing. */
  def b2Replace(s: SparkSession, dir: String): DataFrame = {
    import CleanOps._
    val spec = TableCleanSpec(Vector(
      ColumnSpec("l_orderkey", "OrderKey", UnsignedType),
      ColumnSpec("l_linenumber", "LineNumber", IntType),
      ColumnSpec("l_returnflag", "ReturnFlag", StrType, replace = Map("N" -> None)),
      ColumnSpec("l_tax", "Tax", FloatType, replace = Map("0.0" -> None)),
    ), missings = "drop")
    cleanTable(T(s, dir, "lineitem"), spec)
  }

  private val b2Sql = """
    SELECT l_orderkey AS OrderKey, CAST(l_linenumber AS BIGINT) AS LineNumber,
           NULLIF(l_returnflag, 'N') AS ReturnFlag,
           NULLIF(l_tax, 0.0) AS Tax
    FROM lineitem"""

  /** B4: boolean via true_condition + category code->label with unmapped
    * passthrough.
    */
  def b4Cast(s: SparkSession, dir: String): DataFrame = {
    import CleanOps._
    val spec = TableCleanSpec(Vector(
      ColumnSpec("l_orderkey", "OrderKey", UnsignedType),
      ColumnSpec("l_linenumber", "LineNumber", IntType),
      ColumnSpec("l_linenumber", "Is_First", BoolType(1)),
      ColumnSpec("l_linenumber", "Line_Cat", CategoryType(Map(1L -> "one", 2L -> "two"))),
    ), missings = "drop")
    // duplicate raw usage: project manually (cleanTable keys by raw name)
    val li = T(s, dir, "lineitem")
    li.select(
      cleanColumn(spec.columns(0), LongType),
      cleanColumn(spec.columns(1), IntegerType),
      cleanColumn(spec.columns(2), IntegerType),
      cleanColumn(spec.columns(3), IntegerType))
  }

  private val b4Sql = """
    SELECT l_orderkey AS OrderKey, CAST(l_linenumber AS BIGINT) AS LineNumber,
           CAST(l_linenumber AS INT) = 1 AS Is_First,
           CASE CAST(l_linenumber AS INT) WHEN 1 THEN 'one' WHEN 2 THEN 'two'
                ELSE CAST(CAST(l_linenumber AS INT) AS VARCHAR) END AS Line_Cat
    FROM lineitem"""

  /** B5/C16/C17: two differently-shaped cleans unioned by name with
    * missing columns -> null (the reference's urban/rural concat and
    * UNION ALL of standard tables).
    */
  def b5Union(s: SparkSession, dir: String): DataFrame = {
    val sup = T(s, dir, "supplier")
    val urban = sup.where(col("s_nationkey") < 12)
      .select(col("s_suppkey").as("SuppKey"), col("s_name").as("Name"),
        col("s_acctbal").as("Balance"), lit("Urban").as("Area"))
    val rural = sup.where(col("s_nationkey") >= 12)
      .select(col("s_suppkey").as("SuppKey"), col("s_name").as("Name"),
        lit("Rural").as("Area"))
    CleanOps.unionAll(Seq(urban, rural))
  }

  private val b5Sql = """
    SELECT s_suppkey AS SuppKey, s_name AS Name, s_acctbal AS Balance, 'Urban' AS Area
    FROM supplier WHERE s_nationkey < 12
    UNION ALL
    SELECT s_suppkey, s_name, NULL, 'Rural' FROM supplier WHERE s_nationkey >= 12"""

  /** C1+C2: literal Year / Table_Name via the pipeline interpreter. */
  def c1c2Literals(s: SparkSession, dir: String): DataFrame =
    Pipeline.run(T(s, dir, "region"),
      Seq(Pipeline.AddYear, Pipeline.AddTableName), ctx(1400, "region"))

  private val c1c2Sql =
    "SELECT r_regionkey, r_name, 1400 AS Year, 'region' AS Table_Name FROM region"

  /** C6 apply_order: exact projection + inline casts. */
  def c6Order(s: SparkSession, dir: String): DataFrame =
    Pipeline.run(T(s, dir, "orders"),
      Seq(Pipeline.ApplyOrder(Seq(
        "o_orderkey" -> None, "o_custkey" -> Some("int32"), "o_orderstatus" -> None))),
      ctx(1400, "orders"))

  private val c6Sql =
    "SELECT o_orderkey, CAST(o_custkey AS INTEGER) AS o_custkey, o_orderstatus FROM orders"

  /** C7 create_column numerical with NULL-AS-ZERO semantics. */
  def c7Numeric(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem")
      .withColumn("Discount", when(col("l_discount") === 0.0, lit(null)).otherwise(col("l_discount")))
    Pipeline.run(li,
      Seq(Pipeline.CreateColNumeric("Net_Price", Right("l_extendedprice - Discount * l_extendedprice"))),
      ctx(1400, "lineitem"))
      .select("l_orderkey", "l_linenumber", "Discount", "Net_Price")
  }

  private val c7Sql = """
    SELECT l_orderkey, l_linenumber,
           NULLIF(l_discount, 0.0) AS Discount,
           coalesce(l_extendedprice, 0) - coalesce(NULLIF(l_discount, 0.0), 0) * coalesce(l_extendedprice, 0) AS Net_Price
    FROM lineitem"""

  /** C8 create_column categorical — LAST matching category wins. */
  def c8Categorical(s: SparkSession, dir: String): DataFrame = {
    val cats = Seq(
      "normal" -> (MNull: Meta),
      "urgent" -> (Meta.map(Meta.k("o_orderpriority") ->
        Meta.list(MStr("1-URGENT"), MStr("2-HIGH"))): Meta),
      "low" -> (Meta.map(Meta.k("o_orderpriority") -> MStr("5-LOW")): Meta),
    )
    Pipeline.run(T(s, dir, "orders"),
      Seq(Pipeline.CreateColCategorical("Priority_Class", cats)),
      ctx(1400, "orders"))
      .select("o_orderkey", "o_orderpriority", "Priority_Class")
  }

  private val c8Sql = """
    SELECT o_orderkey, o_orderpriority,
           CASE WHEN o_orderpriority = '5-LOW' THEN 'low'
                WHEN o_orderpriority IN ('1-URGENT','2-HIGH') THEN 'urgent'
                ELSE 'normal' END AS Priority_Class
    FROM orders"""

  /** C9 apply_filter: pandas-query syntax chain (null-safe negatives). */
  def c9Filter(s: SparkSession, dir: String): DataFrame =
    Pipeline.run(T(s, dir, "lineitem"),
      Seq(Pipeline.ApplyFilter(Seq(
        "l_quantity > 30 & l_returnflag != 'N'",
        "l_linestatus == 'F'"))),
      ctx(1400, "lineitem"))
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag", "l_linestatus")

  private val c9Sql = """
    SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag, l_linestatus
    FROM lineitem
    WHERE (l_quantity > 30 AND (l_returnflag IS NULL OR l_returnflag <> 'N'))
      AND l_linestatus = 'F'"""

  /** C10 groupby-sum through the pandas-method-chain parser. */
  def c10GroupbySum(s: SparkSession, dir: String): DataFrame = {
    val step = Pipeline.parsePandasFunction(
      """table.groupby(["l_returnflag", "l_linestatus"])[["l_quantity"]].sum().reset_index()""")
    Pipeline.run(T(s, dir, "lineitem"), Seq(step), ctx(1400, "lineitem"))
  }

  private val c10SumSql = """
    SELECT l_returnflag, l_linestatus, sum(l_quantity) AS l_quantity
    FROM lineitem GROUP BY 1, 2"""

  /** Multi-level aggregation in ONE pass: ROLLUP over (flag, status)
    * produces the detail rows, per-flag subtotals, and the grand total
    * from a single shuffle (Spark expands the grouping sets map-side),
    * with grouping_id disambiguating a real NULL key from a subtotal
    * row. This replaces the manual detail-UNION-total pattern (the
    * reference's average_table "Total" row, isc_summary's second
    * aggregation) with one operator when all levels are wanted — at
    * 100 TB the difference is one fact-table pass instead of one per
    * level.
    */
  def aggRollup(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), sum(cents(col("l_extendedprice"))).as("cents"),
        grouping_id().as("gid"))

  private val aggRollupSql = """
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           CAST(sum(CAST(round(l_extendedprice*100,0) AS BIGINT)) AS BIGINT) AS cents,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)"""

  /** CUBE sibling of [[aggRollup]]: all 2^n grouping-set combinations
    * (detail, each single-dim margin, grand total) from ONE shuffle —
    * the cross-margin completion of the rollup's prefix hierarchy;
    * grouping_id disambiguates margin rows from genuine NULL keys.
    */
  def aggCube(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .cube(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), sum(cents(col("l_extendedprice"))).as("cents"),
        grouping_id().as("gid"))

  private val aggCubeSql = """
    SELECT l_returnflag, l_linestatus, count(*) AS n,
           CAST(sum(CAST(round(l_extendedprice*100,0) AS BIGINT)) AS BIGINT) AS cents,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)"""

  /** The general window-function surface in one gate: lag/lead with
    * defaults, first/last value over a running frame, ntile, dense_rank
    * and percent_rank — per-key frames over ONE (custkey, date, key)
    * sort. The integer-cents measure keeps every rank/tile decision and
    * value exact across engines; percent_rank's double is a pure
    * function of two integer ranks, identical in both.
    */
  def windowFuncs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val o = T(s, dir, "orders").select(
      col("o_custkey"), col("o_orderkey"),
      cents(col("o_totalprice")).as("pc"))
    val w = Window.partitionBy("o_custkey").orderBy(col("pc"), col("o_orderkey"))
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    o.select(col("o_custkey"), col("o_orderkey"), col("pc"),
      lag("pc", 1).over(w).as("prev_pc"),
      lead("pc", 1, -1L).over(w).as("next_pc"),
      first("pc").over(run).as("min_pc"),
      ntile(4).over(w).as("quartile"),
      dense_rank().over(w).as("drank"),
      percent_rank().over(w).as("prank"))
  }

  private val windowFuncsSql = """
    SELECT o_custkey, o_orderkey, pc,
           lag(pc, 1) OVER w AS prev_pc,
           lead(pc, 1, -1) OVER w AS next_pc,
           first_value(pc) OVER (PARTITION BY o_custkey ORDER BY pc, o_orderkey
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS min_pc,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile,
           CAST(dense_rank() OVER w AS INTEGER) AS drank,
           percent_rank() OVER w AS prank
    FROM (SELECT o_custkey, o_orderkey,
                 CAST(round(o_totalprice*100,0) AS BIGINT) AS pc FROM orders)
    WINDOW w AS (PARTITION BY o_custkey ORDER BY pc, o_orderkey)"""

  private def membersBase(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem").select(
      year(col("l_shipdate")).as("Year"),
      col("l_orderkey").as("ID"),
      col("l_linenumber").as("Member_Number"),
      col("l_quantity").cast(IntegerType).as("Age"))

  private val membersBaseSql = """
    SELECT CAST(year(l_shipdate) AS INTEGER) AS Year, l_orderkey AS ID,
           l_linenumber AS Member_Number, CAST(l_quantity AS INTEGER) AS Age
    FROM lineitem"""

  /** C10 melt (stack): wide member counts -> long (Type, Value). */
  def c10Melt(s: SparkSession, dir: String): DataFrame = {
    val wide = StandardFunctions.numberOfMembers(membersBase(s, dir))
    Pipeline.run(wide,
      Seq(Pipeline.Melt(Seq.empty, Seq("Year", "ID"), "Type", "Value")),
      ctx(1400, "members"))
  }

  private val c10MeltSql = s"""
    SELECT Year, ID, Type, Value FROM (
      SELECT Year, ID,
             CAST(count(Member_Number) AS BIGINT) AS Members,
             CAST(sum(CASE WHEN Age >= 14 THEN 1 ELSE 0 END) AS BIGINT) AS Adults,
             CAST(count(Member_Number) AS BIGINT) - CAST(sum(CASE WHEN Age >= 14 THEN 1 ELSE 0 END) AS BIGINT) AS Childs
      FROM ($membersBaseSql) GROUP BY Year, ID
    ) UNPIVOT (Value FOR Type IN (Members, Adults, Childs))"""

  /** C11+C13 external function registry: number_of_members. */
  def c13Members(s: SparkSession, dir: String): DataFrame =
    Pipeline.run(membersBase(s, dir),
      Seq(Pipeline.ExternalFunction("number_of_members")), ctx(1400, "members"))

  private val c13Sql = s"""
    SELECT Year, ID,
           CAST(count(Member_Number) AS BIGINT) AS Members,
           CAST(sum(CASE WHEN Age >= 14 THEN 1 ELSE 0 END) AS BIGINT) AS Adults,
           CAST(count(Member_Number) AS BIGINT) - CAST(sum(CASE WHEN Age >= 14 THEN 1 ELSE 0 END) AS BIGINT) AS Childs
    FROM ($membersBaseSql) GROUP BY Year, ID"""

  /** C14 equivalence scales. */
  def c14Equivalence(s: SparkSession, dir: String): DataFrame =
    StandardFunctions.equivalenceScale(StandardFunctions.numberOfMembers(membersBase(s, dir)))

  private val c14Sql = s"""
    SELECT Year, ID, Members, Adults, Childs,
           1 AS Household,
           Members AS Per_Capita,
           ((Adults * CAST(0.7 AS DOUBLE)) + (Childs * CAST(0.5 AS DOUBLE))) + CAST(0.3 AS DOUBLE) AS OECD,
           ((Adults * CAST(0.5 AS DOUBLE)) + (Childs * CAST(0.3 AS DOUBLE))) + CAST(0.5 AS DOUBLE) AS OECD_Modified,
           sqrt(CAST(Members AS DOUBLE)) AS Square_Root
    FROM ($c13Sql)"""

  /** C15 month -> season. */
  def c15Season(s: SparkSession, dir: String): DataFrame =
    StandardFunctions.createSeason(
      T(s, dir, "orders").select(col("o_orderkey"), month(col("o_orderdate")).as("Month")))

  private val c15Sql = """
    SELECT o_orderkey, CAST(month(o_orderdate) AS INTEGER) AS Month,
           CASE CAST(floor(CAST(month(o_orderdate) AS INTEGER)/3) + 1 AS INT)
                WHEN 1 THEN 'Spring' WHEN 2 THEN 'Summer'
                WHEN 3 THEN 'Autumn' WHEN 4 THEN 'Winter' END AS Season
    FROM orders"""

  /** C12 join through the pipeline with a table provider. */
  def c12Join(s: SparkSession, dir: String): DataFrame = {
    val provider = new Pipeline.TableProvider {
      def table(name: String, years: Seq[Int]): DataFrame =
        T(s, dir, "customer").select(col("c_custkey").as("CustKey"),
          col("c_mktsegment").as("Segment"))
      def addWeights(df: DataFrame): DataFrame = df
      def addClassification(df: DataFrame, settings: Meta): DataFrame = df
      def addAttribute(df: DataFrame, settings: Meta): DataFrame = df
    }
    val df = T(s, dir, "orders").select(col("o_orderkey").as("OrderKey"),
      col("o_custkey").as("CustKey"), cents(col("o_totalprice")).as("Total_Cents"))
    Pipeline.run(df, Seq(Pipeline.Join("customer", Seq("CustKey"))),
      Pipeline.Context(Seq(1400), "orders", provider))
  }

  private val c12Sql = s"""
    SELECT o_custkey AS CustKey, o_orderkey AS OrderKey,
           ${centsSql("o_totalprice")} AS Total_Cents, c_mktsegment AS Segment
    FROM orders JOIN customer ON o_custkey = c_custkey"""

  // ------------------------------------------------------------------ D1/D2

  private[graft] val partClassYaml = """
defaults:
  levels: [1, 2]
  column_names: [Part_Class]
  missing_value_replacements: {Part_Class_1: other}
items:
  small:
    level: 1
    code: {start: 0, end: 1000}
  large:
    level: 1
    code:
      1995: {start: 1000, end: 1900}
      1998: {start: 1000, end: 2000}
  tiny:
    level: 2
    code: {start: 0, end: 200}
  mid:
    level: 2
    code: [{start: 200, end: 700}, {start: 800, end: 900}]
"""

  /** D1 classification range join over (Year, Code) with year-versioned
    * ranges, level pivot, and missing-value fill.
    */
  def d1Classification(s: SparkSession, dir: String): DataFrame = {
    val meta = Meta.fromYaml(partClassYaml)
    val df = T(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      year(col("l_shipdate")).as("Year"), col("l_partkey").as("Code"))
    val years = (1995 to 2001)
    // testdata years are Gregorian — widen the resolver's year window
    val items = Classifier.compile(meta, years,
      resolver = ResolverSettings(yearRange = (1350, 2100)))
    val settings = Classifier.settingsFromMeta(meta)
    Classifier.addClassification(df, items, settings)
  }

  private[graft] val d1Sql = """
    SELECT l_orderkey, l_linenumber,
           CAST(year(l_shipdate) AS INTEGER) AS Year,
           l_partkey AS Code,
           CASE WHEN l_partkey < 1000 THEN 'small'
                WHEN year(l_shipdate) < 1998 AND l_partkey >= 1000 AND l_partkey < 1900 THEN 'large'
                WHEN year(l_shipdate) >= 1998 AND l_partkey >= 1000 AND l_partkey < 2000 THEN 'large'
                ELSE 'other' END AS Part_Class_1,
           CASE WHEN l_partkey < 200 THEN 'tiny'
                WHEN (l_partkey >= 200 AND l_partkey < 700) OR (l_partkey >= 800 AND l_partkey < 900) THEN 'mid'
                ELSE NULL END AS Part_Class_2
    FROM lineitem"""

  /** D1 plan (b): the same classification compiled to a pure column
    * expression via the native binary-search range-set expression
    * (graft.plans.RangeSetSearch, registered by GraftExtensions) — no
    * join, O(log ranges) per row.
    */
  def d1ExprClassification(s: SparkSession, dir: String): DataFrame = {
    val meta = Meta.fromYaml(partClassYaml)
    val years = (1995 to 2001)
    val items = Classifier.compile(meta, years,
      resolver = ResolverSettings(yearRange = (1350, 2100)))
    val df = T(s, dir, "lineitem").select(
      col("l_orderkey"), col("l_linenumber"),
      year(col("l_shipdate")).as("Year"), col("l_partkey").as("Code"))
    df.withColumn("Part_Class_1",
        Classifier.levelExpr(items, 1, col("Year"), col("Code"), default = Some("other")))
      .withColumn("Part_Class_2",
        Classifier.levelExpr(items, 2, col("Year"), col("Code")))
  }

  /** D1 against the reference's REAL metadata corpus: synthetic
    * (Year, Code) pairs derived from `part` are classified by the actual
    * sci_coicop code ranges of hbsir/metadata/commodities.yaml —
    * classification `original`, the reference API's default, at the
    * levels its real `defaults:` block declares — compiled through the
    * same fromYamlTemplated → CategoryResolver → Classifier chain the
    * engine uses everywhere (RealMetadataSpec proves the whole corpus
    * COMPILES; this row proves the compiled ranges CLASSIFY correctly).
    * The oracle embeds the compiled ranges as a VALUES relation,
    * era-compressed to (year_from, year_to) runs, so DuckDB
    * independently re-runs the range join and level pivot.
    */
  private lazy val realCommodityItems: Seq[Classifier.ClassItem] =
    Classifier.compile(RealMeta.commodities("original"), RealMeta.AllYears)
  private lazy val realCommoditySettings: Classifier.Settings =
    Classifier.settingsFromMeta(RealMeta.commodities("original"))

  def d1RealCommodities(s: SparkSession, dir: String): DataFrame = {
    val codes = T(s, dir, "part").select(
      (lit(1363) + pmod(col("p_partkey"), lit(39))).cast(IntegerType).as("Year"),
      (lit(10000L) + pmod(col("p_partkey") * lit(37L), lit(90000L))).as("Code"))
      .distinct()
    Classifier.addClassification(codes, realCommodityItems, realCommoditySettings)
      .orderBy("Year", "Code")
  }

  /** Era-compress compiled items to (yearFrom, yearTo, level, lo, hi, key)
    * rows: identical ranges recur across the years of one coding era, so
    * contiguous-year runs shrink the oracle's VALUES relation ~20x.
    */
  private def compressRealRanges(
      items: Seq[Classifier.ClassItem], levels: Seq[Int]): Seq[(Int, Int, Int, Long, Long, String)] = {
    val flat = for {
      i <- items if levels.contains(i.level)
      r <- i.codes.ranges
    } yield {
      require(r.step == 1, s"stepped range in ${i.key}")
      (i.level, r.start, r.end, i.key, i.year)
    }
    flat.groupBy { case (l, lo, hi, k, _) => (l, lo, hi, k) }
      .toSeq.flatMap { case ((l, lo, hi, k), rows) =>
        rows.map(_._5).distinct.sorted
          .foldLeft(List.empty[(Int, Int)]) {
            case ((a, b) :: tail, y) if y == b + 1 => (a, y) :: tail
            case (acc, y)                          => (y, y) :: acc
          }
          .map { case (y0, y1) => (y0, y1, l, lo, hi, k) }
      }
      .sortBy { case (y0, _, l, lo, _, k) => (l, lo, y0, k) }
  }

  private lazy val d1RealSql: String = {
    val levels = realCommoditySettings.levels
    val values = compressRealRanges(realCommodityItems, levels)
      .map { case (y0, y1, l, lo, hi, k) => s"($y0, $y1, $l, $lo, $hi, '$k')" }
      .mkString(",\n      ")
    val pivots = levels
      .map(l => s"max(CASE WHEN m.lvl = $l THEN m.k END) AS item_key_$l")
      .mkString(",\n           ")
    s"""
    WITH codes AS (
      SELECT DISTINCT CAST(1363 + p_partkey % 39 AS INTEGER) AS Year,
             CAST(10000 + (p_partkey * 37) % 90000 AS BIGINT) AS Code
      FROM part
    ), ranges(y0, y1, lvl, lo, hi, k) AS (VALUES
      $values
    ), matched AS (
      SELECT c.Year, c.Code, r.lvl, r.k
      FROM codes c JOIN ranges r
        ON c.Year >= r.y0 AND c.Year <= r.y1 AND c.Code >= r.lo AND c.Code < r.hi
    )
    SELECT c.Year, c.Code,
           $pivots
    FROM codes c LEFT JOIN matched m ON c.Year = m.Year AND c.Code = m.Code
    GROUP BY c.Year, c.Code"""
  }

  /** Hand-transcribed golden truths for the real `original` commodity
    * classification: (Year, Code) -> (item_key_2, item_key_3), each row
    * read BY HAND from the cited lines of
    * hbsir/metadata/commodities.yaml and NEVER derived from
    * Classifier.compile. [[d1RealCommodities]]'s oracle re-runs the
    * range join in DuckDB but its VALUES come from the same compiled
    * ranges the engine uses, so it proves join/pivot mechanics only;
    * THIS gate's oracle VALUES are the literals below, so a YAML
    * boundary mis-parse on either side fails the hash compare. Keys of
    * the form `_tobacco` appear stripped (`tobacco`) because the
    * reference presents `key.strip("_")` (metadata_utils.py:344).
    * RealMetadataSpec pins the same truths (plus level-1/5 ones) purely
    * driver-side.
    */
  private val commodityGoldenRows: Seq[(Int, Long, Option[String], Option[String])] = Seq(
    // ---- pre-1383 era: level 2 defines ONLY housing/rentals (yaml:313,319)
    (1363, 11000L, None, Some("cereals_and_cereal_products")),  // :23-29 1363-keyed [11_000,12_000), start boundary
    (1370, 11500L, None, Some("cereals_and_cereal_products")),  // :23-29
    (1382, 11999L, None, Some("cereals_and_cereal_products")),  // :23-29 end-exclusive side
    (1370, 12500L, None, None),                                 // :55-61 meat_and_sea_foods says `level: 5` (banner comment lies)
    (1375, 13500L, None, Some("milk_other_dairy_product_and_eggs")), // :81-84
    (1370, 14500L, None, Some("oils_and_fats")),                // :109-112
    (1375, 15000L, None, Some("fruits_and_vegetables")),        // :128-131 start boundary
    (1380, 16999L, None, Some("nuts_and_pulses")),              // :177-180
    (1378, 17000L, None, Some("sugar_confectionery_and_desserts_tea_coffee_and_cocoa_drinks")), // :197-199
    (1370, 18500L, None, Some("spices_condiments_and_other_food_products")), // :221-224
    (1370, 19999L, None, Some("soft_drinks_prepared_foods_and_tobacco")),    // :248-251
    (1370, 31500L, Some("housing"), None),                      // :312-315 [31_000,32_000); pre-1383 L3 stops at 20_000
    (1382, 41000L, Some("rentals_for_housing"), None),          // :318-321 [41_000,42_000), start boundary
    // ---- post-1383 era (sci_coicop_1383, yaml:364)
    (1383, 10000L, None, None),                                 // :372-377 level-1 only at 10_000 (food L2 starts 11_000)
    (1390, 11000L, Some("food"), None),                         // :380-385; L3 coverage starts at 11_100 (:388-394)
    (1390, 11150L, Some("food"), Some("cereals_and_cereal_products")), // :388-394 1383-keyed [11_100,11_200) — era flip of the code dict
    (1401, 11250L, Some("food"), Some("meat")),                 // :618-622
    (1395, 11350L, Some("food"), Some("fish_and_other_sea_foods")), // :709-713
    (1390, 11550L, Some("food"), Some("oils_fats_and_butter")), // :861-865
    (1385, 11650L, Some("food"), Some("fruits_and_nuts")),      // :919-923
    (1400, 11700L, Some("food"), Some("vegetables_and_pulses")), // :1050-1054 start boundary
    (1390, 12150L, Some("non_alcoholic_beverages"), Some("tea_coffee_and_cocoa_drinks")), // :1369-1373, :1377-1381
    (1390, 22150L, Some("tobacco"), Some("tobacco")),           // :1494-1497 L2, :1501-1504 L3 `_tobacco` stripped
    (1390, 22999L, Some("tobacco"), None),                      // :1494-1497; `_tobacco` L3 ends 22_200
    (1390, 23000L, Some("norcotics"), None),                    // :1515-1518 start-inclusive / tobacco end-exclusive
    (1390, 31150L, Some("clothing"), Some("clothing_materials")), // :1544-1547, :1551-1554 — era flip: was `housing` L2 pre-1383
    (1390, 31500L, Some("clothing"), None),                     // cleaning_repair L3 ends 31_500 (:1578-1581)
    (1401, 32100L, Some("footwear"), Some("shoes_and_other_footwear")), // :1585-1588, :1592-1595
    (1390, 41500L, Some("actual_rentals_for_housing"), None),   // :1613-1616
    (1395, 42000L, Some("imputed_rentals_for_housing"), None),  // :1620-1623 start boundary
    (1390, 112050L, Some("accommodation_services"), Some("accommodation_services")), // :1712-1715 L2, :1717-1721 L3 `_accommodation_services` stripped
    (1390, 139500L, Some("transfer_payments"), None),           // :1746-1749 `_transfer_payments` stripped
    (1400, 33500L, Some("investing_in_construction"), None),    // :1761-1764
    (1390, 34999L, Some("other_investments"), None),            // :1768-1771
  )

  /** D1 real-metadata PARSE-FIDELITY gate: classify the hand-pinned
    * (Year, Code) pairs with the engine's compiled real `original`
    * ranges; the oracle is the hand-written truth table itself — the
    * one derivation in this catalog with no compiled input on the
    * DuckDB side.
    */
  def d1GoldenCommodities(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val codes = commodityGoldenRows.map { case (y, c, _, _) => (y, c) }
      .toDF("Year", "Code")
    Classifier.addClassification(codes, realCommodityItems, realCommoditySettings)
      .orderBy("Year", "Code")
  }

  private lazy val d1GoldenSql: String = {
    def q(o: Option[String]) = o.map(k => s"'$k'").getOrElse("NULL")
    val values = commodityGoldenRows
      .map { case (y, c, k2, k3) => s"($y, $c, ${q(k2)}, ${q(k3)})" }
      .mkString(",\n      ")
    s"""
    SELECT CAST(Year AS INTEGER) AS Year, CAST(Code AS BIGINT) AS Code,
           CAST(item_key_2 AS VARCHAR) AS item_key_2,
           CAST(item_key_3 AS VARCHAR) AS item_key_3
    FROM (VALUES
      $values
    ) t(Year, Code, item_key_2, item_key_3)"""
  }

  /** Hand-transcribed golden truths for the real `original` OCCUPATION
    * classification (hbsir/metadata/occupations.yaml): (Year, Code) ->
    * item keys at levels 1-4, each read BY HAND from the cited lines
    * and never derived from Classifier.compile — the occupations twin
    * of [[commodityGoldenRows]], so BOTH classification families have a
    * compiler-independent oracle. Two parse-fidelity traps are pinned:
    * level-4 items carry SCALAR codes (`code: 1111`), matched as the
    * one-code range [c, c+1); and the YAML contains DUPLICATE map keys
    * at the same nesting (managing_directors_and_chief_executives at
    * L3:315/L4:351, subsistence_crop_farmers at L3:16135/L4:16159,
    * commissioned_armed_forces_officers at L2:23360/L3:23386/L4:23411)
    * — both the reference's yaml.safe_load and this engine's snakeyaml
    * keep the LAST occurrence, so the earlier same-named levels are
    * silently SWALLOWED: codes 1120-1129 have no level-3 key, and
    * 100-199 no level-2/3 key. A first-wins (or both-kept) parse fails
    * these rows loudly. Occupations are year-invariant (no versioned
    * items), pinned at 1363 and 1390 to prove it.
    */
  private val occupationGoldenRows: Seq[(Int, Long, Option[String], Option[String], Option[String], Option[String])] = Seq(
    (1390, 1111L, Some("managers"), Some("chief_executives_senior_officials_and_legislators"),
      Some("legislators_and_senior_officials"), Some("legislators")),       // :12-16,:69-73,:104-108,:139-143
    (1363, 1111L, Some("managers"), Some("chief_executives_senior_officials_and_legislators"),
      Some("legislators_and_senior_officials"), Some("legislators")),       // year-invariance at corpus start
    (1380, 1120L, Some("managers"), Some("chief_executives_senior_officials_and_legislators"),
      None, Some("managing_directors_and_chief_executives")),               // :351-356 swallows the :315-319 L3 range
    (1390, 1125L, Some("managers"), Some("chief_executives_senior_officials_and_legislators"),
      None, None),                                                          // in the swallowed L3 range, no L4 scalar
    (1395, 1000L, Some("managers"), None, None, None),                      // :12-16 start-inclusive; :23318-23322 end-exclusive
    (1390, 999L, Some("armed_forces_occupations"), None, None, None),       // :23318-23322 [0,1000)
    (1390, 110L, Some("armed_forces_occupations"), None, None,
      Some("commissioned_armed_forces_officers")),                          // :23411-23415 L4 swallows both L2:23360 and L3:23386
    (1400, 2211L, Some("professionals"), Some("health_professionals"),
      Some("medical_doctors"), Some("generalist_medical_practitioners")),   // :3506-3510 scalar; L1/L2/L3 ranges 2000/2200/2210
    (1400, 6310L, Some("skilled_agricultural_forestry_and_fishery_workers"),
      Some("subsistence_farmers_fishers_hunters_and_gatherers"),
      None, Some("subsistence_crop_farmers")),                              // :16159-16163 swallows the :16135-16139 L3 range
    (1390, 9999L, Some("elementary_occupations"), None, None, None),        // :21761-21765 [9000,10000); L2 coverage ends 9700
  )

  private lazy val realOccupationItems: Seq[Classifier.ClassItem] =
    Classifier.compile(RealMeta.occupations("original"), RealMeta.AllYears)
  private lazy val realOccupationSettings: Classifier.Settings =
    Classifier.settingsFromMeta(RealMeta.occupations("original"))
      .copy(levels = Seq(1, 2, 3, 4), columnNames = Seq.empty)

  def d1GoldenOccupations(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val codes = occupationGoldenRows.map { case (y, c, _, _, _, _) => (y, c) }
      .toDF("Year", "Code")
    Classifier.addClassification(codes, realOccupationItems, realOccupationSettings)
      .orderBy("Year", "Code")
  }

  private lazy val d1GoldenOccSql: String = {
    def q(o: Option[String]) = o.map(k => s"'$k'").getOrElse("NULL")
    val values = occupationGoldenRows
      .map { case (y, c, k1, k2, k3, k4) =>
        s"($y, $c, ${q(k1)}, ${q(k2)}, ${q(k3)}, ${q(k4)})" }
      .mkString(",\n      ")
    s"""
    SELECT CAST(Year AS INTEGER) AS Year, CAST(Code AS BIGINT) AS Code,
           CAST(item_key_1 AS VARCHAR) AS item_key_1,
           CAST(item_key_2 AS VARCHAR) AS item_key_2,
           CAST(item_key_3 AS VARCHAR) AS item_key_3,
           CAST(item_key_4 AS VARCHAR) AS item_key_4
    FROM (VALUES
      $values
    ) t(Year, Code, item_key_1, item_key_2, item_key_3, item_key_4)"""
  }

  /** D2 ID digit-substring attribute decode — pure expression, no join. */
  def d2Attribute(s: SparkSession, dir: String): DataFrame = {
    val df = T(s, dir, "orders").select(
      col("o_orderkey"),
      lit(1400).as("Year"),
      (lit(3000000000L) + (col("o_orderkey") * 4321L) % 1000000000L).as("ID"))
    val urbanRural = Seq(IdDecoder.AttrVersion(1400, 1401, 10, 0, 1, Map(3L -> "Urban")))
    val province = Seq(IdDecoder.AttrVersion(1400, 1401, 10, 1, 3,
      (0L to 9L).map(i => i -> s"P$i").toMap))
    val county = Seq(IdDecoder.AttrVersion(1400, 1401, 10, 4, 7))
    val out1 = IdDecoder.addAttribute(df, urbanRural, IdDecoder.Settings("Urban_Rural"))
    val out2 = IdDecoder.addAttribute(out1, province, IdDecoder.Settings("Province"))
    IdDecoder.addAttribute(out2, county, IdDecoder.Settings("County", aspect = "code"))
  }

  private val d2Sql = """
    SELECT o_orderkey, 1400 AS Year,
           3000000000 + (o_orderkey * 4321) % 1000000000 AS ID,
           CASE (3000000000 + (o_orderkey * 4321) % 1000000000) % 10000000000 // 1000000000
                WHEN 3 THEN 'Urban' END AS Urban_Rural,
           CASE WHEN ((3000000000 + (o_orderkey * 4321) % 1000000000) % 1000000000 // 10000000) < 10
                THEN 'P' || CAST((3000000000 + (o_orderkey * 4321) % 1000000000) % 1000000000 // 10000000 AS VARCHAR)
                ELSE NULL END AS Province,
           CAST((3000000000 + (o_orderkey * 4321) % 1000000000) % 1000000 // 1000 AS VARCHAR) AS County
    FROM orders"""

  /** E5 select: filter by a decoded ID attribute — the decode is a pure
    * expression, so the filter is a plain pushdown-able predicate.
    */
  def e5Select(s: SparkSession, dir: String): DataFrame = {
    val df = T(s, dir, "orders").select(
      col("o_orderkey"),
      lit(1400).as("Year"),
      (lit(3000000000L) + (col("o_orderkey") * 4321L) % 1000000000L).as("ID"))
    val province = Seq(IdDecoder.AttrVersion(1400, 1401, 10, 1, 3,
      (0L to 9L).map(i => i -> s"P$i").toMap))
    IdDecoder.addAttribute(df, province, IdDecoder.Settings("Province", outputCol = Some("_p")))
      .where(col("_p") === "P3").drop("_p")
  }

  private val e5Sql = """
    SELECT o_orderkey, 1400 AS Year,
           3000000000 + (o_orderkey * 4321) % 1000000000 AS ID
    FROM orders
    WHERE (3000000000 + (o_orderkey * 4321) % 1000000000) % 1000000000 // 10000000 = 3"""

  /** E16 — geo enrichment join against the reference's REAL map metadata
    * (map_drawer.py:8-43 + metadata/maps.yaml + household.yaml): orders
    * tagged with a real Province name are left-joined to a geoseries
    * built exactly as the reference builds it — shapefile attribute rows
    * (PCODE, geometry) joined to maps.yaml's survey-code→PCODE pairs
    * renamed by household.yaml's Province names. Geometries are
    * deterministic WKT stand-ins (shapefile decode is upstream ingest,
    * out of scope); the two dimension joins broadcast, the fact side
    * never shuffles. The oracle re-runs all three joins in DuckDB from
    * VALUES relations generated from the SAME parsed metadata.
    */
  private lazy val e16AreaMap = Geo.areaMap(RealMeta.maps, "humandata", "Province")
  private lazy val e16Names: Map[Long, String] = RealMeta.areaNames("Province")

  /** Deterministic stand-in geometry: a unit square at x = the numeric
    * suffix of the PCODE — identical string literal on both sides. */
  private def e16WktOf(pcode: String): String = {
    val i = pcode.filter(_.isDigit).toLong
    s"POLYGON (($i 0, ${i + 1} 0, ${i + 1} 1, $i 1, $i 0))"
  }

  def e16Geo(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val am = e16AreaMap
    val geomDf = am.codes.values.toSeq.sorted.map(p => (p, e16WktOf(p)))
      .toDF(am.codeColumn, "geometry")
    val geoseries = Geo.createGeoSeries(geomDf, am, e16Names, "Province")
    val fact = T(s, dir, "orders").select(
      col("o_orderkey"),
      element_at(typedlit(e16Names), col("o_orderkey") % 31).as("Province"))
    Geo.addGeometry(fact, geoseries).orderBy("o_orderkey")
  }

  private lazy val e16Sql: String = {
    val am = e16AreaMap
    def q(sv: String) = sv.replace("'", "''")
    val nameVals = e16Names.toSeq.sortBy(_._1)
      .map { case (c, n) => s"($c, '${q(n)}')" }.mkString(", ")
    val codeVals = am.codes.toSeq.sortBy(_._1)
      .map { case (c, p) => s"($c, '${q(p)}')" }.mkString(", ")
    val geomVals = am.codes.values.toSeq.sorted
      .map(p => s"('${q(p)}', '${e16WktOf(p)}')").mkString(", ")
    s"""
    WITH names(pc, Province) AS (VALUES $nameVals),
         codes(pc, pcode) AS (VALUES $codeVals),
         geos(pcode, geometry) AS (VALUES $geomVals),
         geoseries AS (
           SELECT n.Province, g.geometry
           FROM geos g LEFT JOIN codes c ON g.pcode = c.pcode
                       LEFT JOIN names n ON c.pc = n.pc),
         fact AS (
           SELECT o_orderkey, n.Province
           FROM orders LEFT JOIN names n ON o_orderkey % 31 = n.pc)
    SELECT f.o_orderkey, f.Province, g.geometry
    FROM fact f LEFT JOIN geoseries g ON f.Province = g.Province"""
  }

  /** E16 at the REGION level: the humandata.Region block of the real
    * maps.yaml (~429 county-level PCODEs, maps.yaml:49+) with names from
    * household.yaml's County block — the survey's region coding IS the
    * county coding (maps.yaml Region keys 1..13 = household.yaml County
    * names :199-213). The County name block is year-versioned with
    * nulled-out reassigned counties (household.yaml:395-435), so names
    * resolve at 1400 ([[RealMeta.areaNamesAt]]; the reference reads the
    * block raw, map_drawer.py:13, which would hand a year-dict to the
    * geoseries index for those codes). The fact carries BOTH Region and
    * Province columns, so this gate also pins the Region-over-Province
    * auto-detect (map_drawer.py:34-37 / [[Geo.addGeometry]]).
    */
  private lazy val e16RegionMap = Geo.areaMap(RealMeta.maps, "humandata", "Region")
  private lazy val e16RegionNames: Map[Long, String] = RealMeta.areaNamesAt("County", 1400)

  def e16GeoRegion(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val am = e16RegionMap
    val geomDf = am.codes.values.toSeq.sorted.map(p => (p, e16WktOf(p)))
      .toDF(am.codeColumn, "geometry")
    val geoseries = Geo.createGeoSeries(geomDf, am, e16RegionNames, "Region")
    val fact = T(s, dir, "orders").select(
      col("o_orderkey"),
      element_at(typedlit(e16RegionNames), col("o_orderkey") % 920).as("Region"),
      element_at(typedlit(e16Names), col("o_orderkey") % 31).as("Province"))
    // no explicit area: the detector must prefer Region over Province
    Geo.addGeometry(fact, geoseries).orderBy("o_orderkey")
  }

  private lazy val e16RegionSql: String = {
    val am = e16RegionMap
    def q(sv: String) = sv.replace("'", "''")
    val regionNameVals = e16RegionNames.toSeq.sortBy(_._1)
      .map { case (c, n) => s"($c, '${q(n)}')" }.mkString(", ")
    val provNameVals = e16Names.toSeq.sortBy(_._1)
      .map { case (c, n) => s"($c, '${q(n)}')" }.mkString(", ")
    val codeVals = am.codes.toSeq.sortBy(_._1)
      .map { case (c, p) => s"($c, '${q(p)}')" }.mkString(", ")
    val geomVals = am.codes.values.toSeq.sorted
      .map(p => s"('${q(p)}', '${e16WktOf(p)}')").mkString(", ")
    s"""
    WITH rnames(pc, Region) AS (VALUES $regionNameVals),
         pnames(pc, Province) AS (VALUES $provNameVals),
         codes(pc, pcode) AS (VALUES $codeVals),
         geos(pcode, geometry) AS (VALUES $geomVals),
         geoseries AS (
           SELECT r.Region, g.geometry
           FROM geos g LEFT JOIN codes c ON g.pcode = c.pcode
                       LEFT JOIN rnames r ON c.pc = r.pc),
         fact AS (
           SELECT o_orderkey, r.Region, p.Province
           FROM orders LEFT JOIN rnames r ON o_orderkey % 920 = r.pc
                       LEFT JOIN pnames p ON o_orderkey % 31 = p.pc)
    SELECT f.o_orderkey, f.Region, f.Province, g.geometry
    FROM fact f LEFT JOIN geoseries g ON f.Region = g.Region"""
  }

  /** D2 with the EXTERNAL-FILE code path (County 1387-1391,
    * household.yaml:180-194): year 1388 decodes through a broadcast
    * (ID → code) mapping (the reference dict-maps the ID column over the
    * loaded `counties` file, decoder.py:588-598) while year 1393 decodes
    * positionally from digits 2-5 of the 11-digit ID — both dispatched
    * by [[IdDecoder.compileOpt]] over the REAL household.yaml in ONE
    * query. Planted edge cases: county code 8 (absent from the name map,
    * household.yaml:199-213 skips it) labels NULL in both paths, and
    * every 7th external household is missing from the mapping → NULL.
    * The oracle's name table is HAND-written from the YAML text.
    */
  def d2CountyExternal(s: SparkSession, dir: String): DataFrame = {
    val layouts = IdDecoder.compileOpt(RealMeta.household, "County", Seq(1388, 1393))
    val base = T(s, dir, "orders").select(col("o_orderkey"))
    val fact = base.select(
      col("o_orderkey"),
      when(col("o_orderkey") % 2 === 0, lit(1388)).otherwise(lit(1393)).as("Year"),
      when(col("o_orderkey") % 2 === 0,
        lit(3000000000L) + col("o_orderkey") % 1000000000L)
        .otherwise(lit(20000000000L) + (lit(1L) + col("o_orderkey") % 13L) * 1000000L
          + col("o_orderkey") % 1000000L).as("ID"))
    def counties(year: Int, file: String): DataFrame = {
      require(year == 1388 && file == "counties",
        s"unexpected external mapping request: ($year, $file)")
      base.where(col("o_orderkey") % 2 === 0 && col("o_orderkey") % 7 =!= 0)
        .select((lit(3000000000L) + col("o_orderkey") % 1000000000L).as("ID"),
          (lit(1L) + (lit(3000000000L) + col("o_orderkey") % 1000000000L) % 13L).as("code"))
    }
    IdDecoder.addAttributeLayouts(fact, layouts, counties, IdDecoder.Settings("County"))
      .orderBy("o_orderkey")
  }

  /** Name table hand-transcribed from household.yaml:199-213 (the
    * Markazi-province counties; code 8 intentionally absent). */
  private val d2CountySql = """
    WITH cn(code, name) AS (VALUES
      (1,'Arak'),(2,'Ashtian'),(3,'Tafresh'),(4,'Khomein'),(5,'Delijan'),
      (6,'Saveh'),(7,'Shazand'),(9,'Mahallat'),(10,'Zarandieh'),
      (11,'Komeijan'),(12,'Khondab'),(13,'Farahan')),
    f AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 2 = 0 THEN 1388 ELSE 1393 END AS Year,
             CASE WHEN o_orderkey % 2 = 0 THEN 3000000000 + o_orderkey % 1000000000
                  ELSE 20000000000 + (1 + o_orderkey % 13) * 1000000 + o_orderkey % 1000000
             END AS ID
      FROM orders),
    coded AS (
      SELECT o_orderkey, Year, ID,
             CASE WHEN Year = 1393 THEN (ID % 10000000000) // 1000000
                  WHEN o_orderkey % 7 <> 0 THEN 1 + ID % 13
                  ELSE NULL END AS c
      FROM f)
    SELECT o_orderkey, CAST(Year AS INTEGER) AS Year, CAST(ID AS BIGINT) AS ID,
           cn.name AS County
    FROM coded LEFT JOIN cn ON coded.c = cn.code"""

  /** A1/A8: CSV sink + scan round-trip through the clean layer (raw CSV
    * arrives untyped; the clean projection restores types).
    */
  def a1CsvRoundtrip(s: SparkSession, dir: String): DataFrame = {
    import CleanOps._
    val tmp = graft.engine.Scratch.dir(s"graft_a1_csv:$dir")
    T(s, dir, "supplier")
      .select(col("s_suppkey"), col("s_name"), col("s_acctbal"))
      .write.mode("overwrite").option("header", "true").csv(tmp)
    val raw = s.read.option("header", "true").csv(tmp)
    val spec = TableCleanSpec(Vector(
      ColumnSpec("s_suppkey", "SuppKey", UnsignedType),
      ColumnSpec("s_name", "Name", StrType),
      ColumnSpec("s_acctbal", "Balance", FloatType),
    ), missings = "drop")
    cleanTable(raw, spec)
  }

  /** A3: remote parquet over HTTP (data_engine.py:242-248 — tables are
    * fetched from a public parquet mirror; default URL at
    * config/default_settings.yaml:37). The zero-egress stand-in is a
    * loopback range-serving HTTP server over a parquet copy of the
    * customer table; the READ path is the real thing: the same
    * `spark.read.parquet` plan running through [[HttpRangeFileSystem]]
    * (HEAD for length, bounded range GETs for footer + column chunks —
    * the S3A access pattern over plain HTTP). Oracle: the table read
    * locally. RawSourcesSpec pins the protocol behavior (ranged reads
    * actually happen, filters/pruning still push into the scan).
    */
  def a3HttpParquet(s: SparkSession, dir: String): DataFrame = {
    val cust = T(s, dir, "customer")
    val tmp = graft.engine.Scratch.dir(s"graft_a3_http:$dir")
    cust.write.mode("overwrite").parquet(tmp)
    val parts = new java.io.File(tmp).listFiles()
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
      .sortBy(_.getName)
    val (port, _) = LoopbackHttpServer.serve(tmp)
    val urls = parts.map(f => s"http://127.0.0.1:$port/${f.getName}").toSeq
    RawSources.readRemote(s, urls).select(cust.columns.map(col).toSeq: _*)
  }
  private val a3Sql = "SELECT * FROM customer"

  /** JSONL sink + declared-schema scan round-trip over the documents
    * corpus — the LLM-pipeline interchange path (gzip'd
    * object-per-line). The gate proves losslessness: the round-tripped
    * corpus must hash-equal the parquet original, and the scan declares
    * its schema (no inference pass — at 100 TB inference is a full extra
    * corpus read).
    */
  def jsonlRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val tmp = graft.engine.Scratch.dir(s"graft_jsonl:$dir")
    RawSources.writeJsonl(docs, tmp)
    RawSources.readJsonl(s, tmp, docs.schema)
      .select(docs.columns.map(col).toSeq: _*)
  }

  private val jsonlSql = "SELECT doc_id, text, lang, source, n_chars FROM documents"

  /** ORC sink + declared-schema scan round-trip over the documents
    * corpus — same losslessness gate as [[jsonlRoundtrip]], proving the
    * engine's second columnar format preserves every value (the oracle
    * reads the parquet original; the Spark side reads back what it
    * wrote as ORC).
    */
  def orcRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val tmp = graft.engine.Scratch.dir(s"graft_orc:$dir")
    RawSources.writeOrc(docs, tmp)
    RawSources.readOrc(s, tmp, docs.schema)
      .select(docs.columns.map(col).toSeq: _*)
  }

  /** Z-order layout round-trip (Layout.writeZOrdered): orders written
    * range-partitioned + sorted on the Morton interleave of
    * (o_custkey mod 1024, o_orderkey mod 1024), read back with the
    * z-value recomputed. The oracle recomputes the SAME bit-interleave
    * in DuckDB over the original table ([[Layout.zValueSql]] — the
    * engine-portability proof) and the hash compare doubles as the
    * losslessness check on the rewritten files. File-level envelope
    * tightness (the property that makes row-group stats prune BOTH
    * dims) is asserted per-file in LayoutSpec.
    */
  def zorderRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val orders = T(s, dir, "orders").select("o_orderkey", "o_custkey")
    val dims = Seq(col("o_custkey") % 1024, col("o_orderkey") % 1024)
    val tmp = graft.engine.Scratch.dir(s"graft_zorder:$dir")
    Layout.writeZOrdered(orders, tmp, dims, bits = 10, numFiles = 8)
    s.read.parquet(tmp)
      .select(col("o_orderkey"), col("o_custkey"),
        Layout.zValue(Seq(col("o_custkey") % 1024, col("o_orderkey") % 1024), bits = 10).as("zval"))
  }

  private val zorderSql = {
    val z = graft.ops.Layout.zValueSql(Seq("(o_custkey % 1024)", "(o_orderkey % 1024)"), bits = 10)
    s"SELECT o_orderkey, o_custkey, $z AS zval FROM orders"
  }

  /** Small-file compaction round-trip (Layout.compact): the documents
    * corpus is first shattered into 64 splinter files (the streaming-
    * sink / over-parallel-ingest pathology), then compacted by byte
    * budget into a handful; the gate reads the compacted layout back
    * and must hash-equal the original corpus. File-count mechanics are
    * asserted in LayoutSpec; here the oracle proves the rewrite loses
    * and alters nothing.
    */
  def compactRoundtrip(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val base = graft.engine.Scratch.dir(s"graft_compact:$dir")
    docs.repartition(64).write.mode("overwrite").parquet(s"$base/shattered")
    Layout.compact(s, s"$base/shattered", s"$base/compacted", targetFileBytes = 4L * 1024 * 1024)
    s.read.parquet(s"$base/compacted")
      .select(docs.columns.map(col).toSeq: _*)
  }

  private val a1Sql = """
    SELECT s_suppkey AS SuppKey, s_name AS Name, CAST(s_acctbal AS DOUBLE) AS Balance
    FROM supplier"""

  // ------------------------------------------------------------------ E

  /** E6 add_weight: broadcast left join of per-(Year,ID) weights. */
  def e6Weight(s: SparkSession, dir: String): DataFrame = {
    val fact = T(s, dir, "orders").select(
      lit(1400).as("Year"), col("o_custkey").as("ID"), col("o_orderkey").as("OrderKey"))
    val weights = T(s, dir, "customer").select(
      lit(1400).as("Year"), col("c_custkey").as("ID"),
      cents(col("c_acctbal")).as("Weight"))
    Stats.addWeight(fact, weights)
  }

  private val e6Sql = s"""
    SELECT 1400 AS Year, o_custkey AS ID, o_orderkey AS OrderKey,
           ${centsSql("c_acctbal")} AS Weight
    FROM orders LEFT JOIN customer ON o_custkey = c_custkey"""

  /** E10 weighted average with null-x-still-weighs-denominator. */
  def e10WeightedAvg(s: SparkSession, dir: String): DataFrame = {
    val df = T(s, dir, "lineitem").select(
      when(col("l_quantity") === 50.0, lit(null)).otherwise(col("l_quantity")).as("Qty"),
      cents(col("l_extendedprice")).as("Weight"))
    Stats.weightedAverage(df, Seq("Qty")).select(round(col("Qty"), 6).as("Qty"))
  }

  private val e10Sql = s"""
    SELECT round(sum(NULLIF(l_quantity, 50.0) * ${centsSql("l_extendedprice")})
                 / CAST(sum(${centsSql("l_extendedprice")}) AS BIGINT), 6) AS Qty
    FROM lineitem"""

  /** E11 grouped weighted averages over several columns. */
  def e11AverageTable(s: SparkSession, dir: String): DataFrame = {
    val df = T(s, dir, "lineitem").select(
      col("l_returnflag"),
      when(col("l_quantity") === 50.0, lit(null)).otherwise(col("l_quantity")).as("Qty"),
      (col("l_quantity") + 1.0).as("QtyPlus"),
      cents(col("l_extendedprice")).as("Weight"))
    Stats.averageTable(df, Seq("Qty", "QtyPlus"), Seq("l_returnflag"))
      .select(col("l_returnflag"), round(col("Qty"), 6).as("Qty"), round(col("QtyPlus"), 6).as("QtyPlus"))
  }

  private val e11SqlReal = s"""
    SELECT l_returnflag,
           round(sum(NULLIF(l_quantity, 50.0) * ${centsSql("l_extendedprice")}) / CAST(sum(${centsSql("l_extendedprice")}) AS BIGINT), 6) AS Qty,
           round(sum((l_quantity + 1.0) * ${centsSql("l_extendedprice")}) / CAST(sum(${centsSql("l_extendedprice")}) AS BIGINT), 6) AS QtyPlus
    FROM lineitem GROUP BY l_returnflag"""

  /** E12 weighted quantile: cumulative weight / total weight per year. */
  def e12Quantile(s: SparkSession, dir: String): DataFrame = {
    val df = T(s, dir, "orders").select(
      year(col("o_orderdate")).as("Year"),
      col("o_orderkey").as("ID"),
      cents(col("o_totalprice")).as("Values"),
      (lit(1L) + col("o_orderkey") % 7L).as("Weight"))
    Stats.addQuantile(df, "Values", "Weight", Seq("Year"))
  }

  private val e12Sql = """
    SELECT CAST(year(o_orderdate) AS INTEGER) AS Year, o_orderkey AS ID,
           CAST(round(o_totalprice*100,0) AS BIGINT) AS Values,
           1 + o_orderkey % 7 AS Weight,
           CAST(sum(1 + o_orderkey % 7) OVER (PARTITION BY year(o_orderdate) ORDER BY CAST(round(o_totalprice*100,0) AS BIGINT), o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           / CAST(sum(1 + o_orderkey % 7) OVER (PARTITION BY year(o_orderdate)) AS DOUBLE) AS Quantile
    FROM orders"""

  /** E12×D2 composition — the reference's standard analysis path
    * (quantile.py:119-156): decode a grouping attribute from the
    * household ID (`_add_attributes`), then compute the weighted
    * quantile PER (Year, attribute) group. Two reference semantics this
    * composition adds over plain e12: rows whose attribute decodes to
    * null fall out of the pandas groupby (dropna) and re-align with a
    * NULL quantile — here the null-key partition computes in its own
    * window and is masked, identical result with no join-back; null
    * Values behave as in e12 (dropped from the cum/total weights, null
    * quantile). One shuffle per window partition set; the decode itself
    * is a pure expression on the scan.
    */
  def e12dAttrQuantile(s: SparkSession, dir: String): DataFrame = {
    val df = T(s, dir, "orders").select(
      year(col("o_orderdate")).as("Year"),
      // multiplier coprime to 7e9 AND large enough that small orderkeys
      // still spread across the full residue range (leading digits 3..9)
      // key reduced mod 7e9 BEFORE the multiply: same residue by modular
      // identity, but (7e9-1)*1234567891 ~ 8.6e18 stays under Long.Max
      // where raw sf10 keys (~9.9e9) would overflow
      (lit(3000000000L) +
        ((col("o_orderkey") % 7000000000L) * 1234567891L) % 7000000000L).as("ID"),
      when(col("o_orderkey") % 11L === 0L, lit(null).cast(LongType))
        .otherwise(cents(col("o_totalprice"))).as("Values"),
      (lit(1L) + col("o_orderkey") % 7L).as("Weight"))
    // leading ID digit spans 3..9; only 3/4 are mapped, so 5..9 decode
    // to null and must surface with a null Quantile
    val ur = Seq(IdDecoder.AttrVersion(1990, 2010, 10, 0, 1,
      Map(3L -> "Urban", 4L -> "Rural")))
    val dec = IdDecoder.addAttribute(df, ur, IdDecoder.Settings("Urban_Rural"))
    Stats.addQuantile(dec, "Values", "Weight", Seq("Year", "Urban_Rural"))
      .withColumn("Quantile", when(col("Urban_Rural").isNotNull, col("Quantile")))
  }

  private val e12dSql = """
    WITH basefr AS (
      SELECT year(o_orderdate) AS Year,
             3000000000 + ((o_orderkey % 7000000000) * 1234567891) % 7000000000 AS ID,
             CASE WHEN o_orderkey % 11 = 0 THEN NULL
                  ELSE CAST(round(o_totalprice*100,0) AS BIGINT) END AS Values,
             1 + o_orderkey % 7 AS Weight
      FROM orders),
    dec AS (
      SELECT *, CASE ID % 10000000000 // 1000000000
                     WHEN 3 THEN 'Urban' WHEN 4 THEN 'Rural' END AS Urban_Rural
      FROM basefr)
    SELECT CAST(Year AS INTEGER) AS Year, CAST(ID AS BIGINT) AS ID, Values, Weight, Urban_Rural,
           CASE WHEN Urban_Rural IS NOT NULL AND Values IS NOT NULL THEN
             CAST(sum(CASE WHEN Values IS NOT NULL THEN Weight END)
                    OVER (PARTITION BY Year, Urban_Rural
                          ORDER BY Values ASC NULLS FIRST, ID ASC
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / CAST(sum(CASE WHEN Values IS NOT NULL THEN Weight END)
                      OVER (PARTITION BY Year, Urban_Rural) AS DOUBLE)
           END AS Quantile
    FROM dec"""

  /** E9×E12 composition — the FULL `calculate_quantile` path
    * (quantile.py:158-170): the household value table is divided by the
    * chosen equivalence scale (OECD here) BEFORE the cumulative-weight
    * quantile. One broadcast join (the scale table is household-count
    * sized) + one window shuffle; the scale derives from the same
    * per-member synthetic table as c14, so the oracle replays the whole
    * chain: members → scales → division → conditioned windows.
    */
  def e12eEquivQuantile(s: SparkSession, dir: String): DataFrame = {
    val scale = c14Equivalence(s, dir).select("Year", "ID", "OECD")
    val fact = T(s, dir, "lineitem")
      .groupBy(year(col("l_shipdate")).as("Year"), col("l_orderkey").as("ID"))
      .agg(sum(cents(col("l_extendedprice"))).as("Values"))
      .withColumn("Weight", lit(1L) + col("ID") % 7L)
    val adj = Stats.adjustByEquivalenceScale(fact, scale, Seq("Values"), "OECD")
    Stats.addQuantile(adj, "Values", "Weight", Seq("Year"))
  }

  private val e12eSql = s"""
    WITH f AS (
      SELECT CAST(year(l_shipdate) AS INTEGER) AS Year, l_orderkey AS ID,
             CAST(sum(${centsSql("l_extendedprice")}) AS BIGINT) AS Values
      FROM lineitem GROUP BY 1, 2),
    sc AS (SELECT Year, ID, OECD FROM ($c14Sql)),
    adj AS (
      SELECT f.Year, f.ID, CAST(f.Values AS DOUBLE) / sc.OECD AS Values,
             1 + f.ID % 7 AS Weight
      FROM f JOIN sc ON f.Year = sc.Year AND f.ID = sc.ID)
    SELECT Year, ID, Values, Weight,
           CAST(sum(Weight) OVER (PARTITION BY Year ORDER BY Values ASC, ID ASC
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
           / CAST(sum(Weight) OVER (PARTITION BY Year) AS DOUBLE) AS Quantile
    FROM adj"""

  /** E13 decile binning — floor(q*10)+1 clipped, not ntile. */
  def e13Decile(s: SparkSession, dir: String): DataFrame = {
    val df = T(s, dir, "orders").select(
      year(col("o_orderdate")).as("Year"),
      col("o_orderkey").as("ID"),
      cents(col("o_totalprice")).as("Values"),
      (lit(1L) + col("o_orderkey") % 7L).as("Weight"))
    Stats.addDecile(df, "Values", "Weight", Seq("Year"))
  }

  private val e13Sql = """
    SELECT Year, ID, Values, Weight,
           CAST(least(greatest(CAST(floor(Quantile * 10) + 1 AS INT), 1), 10) AS INT) AS Decile
    FROM (""" + e12Sql + ")"

  /** Weighted median (p50 value) per year — group-level companion of the
    * per-row quantile. The percentile value does not depend on tie
    * order, so unlike e12_quantile it needs no ID tie-break. The
    * operator returns doubles; the cents are exact in a double and go
    * back to BIGINT, the oracle's type.
    */
  def e12bWeightedMedian(s: SparkSession, dir: String): DataFrame = {
    val df = T(s, dir, "orders").select(
      year(col("o_orderdate")).as("Year"),
      cents(col("o_totalprice")).as("Values"),
      (lit(1L) + col("o_orderkey") % 7L).as("Weight"))
    Stats.quantileTable(df, "Values", "Weight", Seq("Year"), Seq(0.5), Seq("median_cents"))
      .withColumn("median_cents", col("median_cents").cast(LongType))
  }

  private val e12bSql = """
    SELECT Year, min(Values) AS median_cents FROM (""" + e12Sql + """
    ) WHERE Quantile >= 0.5 GROUP BY Year"""

  /** E12 one-pass variant: the weighted-median VALUE per group via the
    * mergeable bounded-centroid sketch ([[WeightedQuantileSketch]]) —
    * the extreme-group-cardinality path that never sorts rows. EXACT
    * here by construction: l_quantity has 50 distinct values, far under
    * the 128-centroid capacity, and the cent-integer weights make every
    * sum order-independent, so the sketch must equal the sort-based
    * oracle bit-for-bit.
    */
  def e12cMedianSketch(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem")
      .withColumn("w_cents", cents(col("l_extendedprice")))
    // all three quartiles out of ONE single-pass buffer per group,
    // through the public entry point that owns the window/sketch
    // routing (native TypedImperativeAggregate under the hood — the
    // udaf twin is cross-checked bit-for-bit in
    // WeightedQuantileSketchSpec, the window/sketch entry-point pair in
    // StatsSpec).
    Stats.quantileTable(li, "l_quantity", "w_cents",
        groupby = Seq("l_returnflag"), ps = Seq(0.25, 0.5, 0.75),
        outs = Seq("q1_qty", "median_qty", "q3_qty"), useSketch = true)
      .orderBy("l_returnflag")
  }

  /** Bench-only crossover pair (SCALE.md, E12): the SAME weighted median
    * at EXTREME group cardinality (one group per l_orderkey — ~150k
    * groups at sf0.1, rows-per-group ~4) computed both ways, so the
    * "sketch vs window" guidance carries a measured number.
    * [[e12WindowHiCard]] pays a full (group, value)-sort under a window
    * function before its aggregate; [[e12SketchHiCard]] is ONE hash
    * aggregate with map-side partial merge and no sort. At low group
    * counts the window path's sort amortizes and its exactness wins; as
    * groups → rows the sort dominates and the sketch's fixed-size
    * mergeable state takes over. Not oracled (the pair is a perf probe;
    * the semantics of both paths are gated by e12_quantile /
    * e12b_weighted_median / e12c_median_sketch).
    */
  def e12WindowHiCard(s: SparkSession, dir: String): DataFrame =
    Stats.quantileTable(hiCardLineitem(s, dir), "V", "W", Seq("G"))

  def e12SketchHiCard(s: SparkSession, dir: String): DataFrame =
    Stats.quantileTable(hiCardLineitem(s, dir), "V", "W", Seq("G"), useSketch = true)

  private def hiCardLineitem(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem").select(col("l_orderkey").as("G"),
      col("l_quantity").as("V"), cents(col("l_extendedprice")).as("W"))

  private val e12cSql = """
    WITH s AS (
      SELECT l_returnflag, CAST(l_quantity AS DOUBLE) AS v,
             CAST(sum(CAST(round(l_extendedprice * 100, 0) AS BIGINT)) AS BIGINT) AS w
      FROM lineitem GROUP BY 1, 2),
    c AS (
      SELECT l_returnflag, v,
             sum(w) OVER (PARTITION BY l_returnflag ORDER BY v) AS cum,
             sum(w) OVER (PARTITION BY l_returnflag) AS tot
      FROM s)
    SELECT l_returnflag,
           min(CASE WHEN cum >= 0.25 * tot THEN v END) AS q1_qty,
           min(CASE WHEN cum >= 0.5 * tot THEN v END) AS median_qty,
           min(CASE WHEN cum >= 0.75 * tot THEN v END) AS q3_qty
    FROM c GROUP BY 1 ORDER BY 1"""

  /** E7+E8 CPI join + deflation (CPI derived per-year for the demo). */
  def e7e8Cpi(s: SparkSession, dir: String): DataFrame = {
    val orders = T(s, dir, "orders").select(
      col("o_orderkey").as("OrderKey"),
      year(col("o_orderdate")).as("Year"),
      cents(col("o_totalprice")).as("Total_Cents"))
    val cpi = orders.groupBy("Year").agg(sum(col("Total_Cents")).as("CPI"))
    val withCpi = Stats.addCpi(orders, cpi, Seq("Year"))
    Stats.adjustByCpi(withCpi, Seq("Total_Cents"))
      .select(col("OrderKey"), col("Year"), col("Total_Cents").as("Deflated"))
  }

  private val e7e8Sql = """
    SELECT o.OrderKey, o.Year, CAST(o.Total_Cents AS DOUBLE) / CAST(c.CPI AS DOUBLE) * 100 AS Deflated
    FROM (SELECT o_orderkey AS OrderKey, CAST(year(o_orderdate) AS INTEGER) AS Year,
                 CAST(round(o_totalprice*100,0) AS BIGINT) AS Total_Cents FROM orders) o
    JOIN (SELECT CAST(year(o_orderdate) AS INTEGER) AS Year, CAST(sum(CAST(round(o_totalprice*100,0) AS BIGINT)) AS BIGINT) AS CPI
          FROM orders GROUP BY 1) c USING (Year)"""

  /** E9 equivalence-scale adjustment: join scale on (Year,ID), divide. */
  def e9Equivalence(s: SparkSession, dir: String): DataFrame = {
    val scale = c14Equivalence(s, dir).select("Year", "ID", "Per_Capita")
    val fact = T(s, dir, "lineitem").select(
      year(col("l_shipdate")).as("Year"), col("l_orderkey").as("ID"),
      col("l_linenumber"), cents(col("l_extendedprice")).as("Price_Cents"))
    Stats.adjustByEquivalenceScale(fact, scale, Seq("Price_Cents"), "Per_Capita")
  }

  private val e9Sql = s"""
    SELECT f.Year, f.ID, f.l_linenumber,
           CAST(f.Price_Cents AS DOUBLE) / s.Per_Capita AS Price_Cents
    FROM (SELECT CAST(year(l_shipdate) AS INTEGER) AS Year, l_orderkey AS ID, l_linenumber,
                 ${centsSql("l_extendedprice")} AS Price_Cents FROM lineitem) f
    JOIN (SELECT Year, ID, Members AS Per_Capita FROM ($c13Sql)) s
      ON f.Year = s.Year AND f.ID = s.ID"""

  // ------------------------------------------------- composed ISC flagship

  /** The composed end-to-end flagship, mirroring the reference's golden
    * test (tests/test_package/package/test_by_examples.py:7-69): ONE plan
    * chaining clean projection -> C12 household join -> C9 pandas-query
    * filter -> D1 year-versioned classification -> C10 household
    * groupby-sum (pandas-chain parser) -> D2 ID-digit area decode -> E6
    * add_weight -> per-(Year, class, area) weighted means divided by the
    * AREA-level total weight (the reference's weights_sum semantics:
    * households with no surviving expenditure still weigh the
    * denominator), plus the reference's "Total" class row. One DuckDB
    * oracle checks the whole composition, so inter-operator drift
    * (naming, null handling, year versioning across steps) is gated —
    * not just each link.
    *
    * Plan shape at scale: the fact table flows through pure projections
    * (filter, classification expression, area decode) into one hash
    * aggregate; the household registry — one row per household, so it
    * GROWS WITH THE FACT DATA — joins twice, both deliberately
    * UNHINTED: AQE broadcasts while the registry fits under
    * autoBroadcastJoinThreshold and degrades to a shuffle join past it,
    * instead of a forced-broadcast driver OOM at 100×. Only `den`
    * (per Year×area — genuinely bounded) is broadcast-hinted. The Total
    * row is a second aggregation over the already-reduced per-household
    * frame. IscPlanSpec asserts no ResolvedHint sits over a
    * fact-derived side.
    */
  /** The household registry (the weight table): one row per order, with
    * a synthetic 10-digit household ID whose second digit encodes area,
    * decoded (D2) to Urban_Rural (0-4 urban, 5-9 rural).
    */
  private def iscRegistry(s: SparkSession, dir: String): DataFrame = {
    val households = T(s, dir, "orders").select(
      year(col("o_orderdate")).as("Year"),
      col("o_orderkey").as("ID"),
      // (a mod m)*b mod m == a*b mod m: reducing the key first keeps the
      // product under Long.MaxValue for ANY inflated key (sf10 keys reach
      // ~9.9e9; a raw key*987654321 overflows past ~9.3e9) while producing
      // bit-identical HIDs at every scale
      (lit(3000000000L) +
        ((col("o_orderkey") % 1000000000L) * 987654321L) % 1000000000L).as("HID"),
      (lit(1L) + col("o_orderkey") % 7L).as("Weight"))
    val urVersions = Seq(IdDecoder.AttrVersion(1995, 2002, 10, 1, 2,
      (0L to 9L).map(d => d -> (if (d < 5) "Urban" else "Rural")).toMap))
    IdDecoder.addAttribute(households, urVersions,
      IdDecoder.Settings("Urban_Rural", idCol = "HID")).drop("HID")
  }

  /** Expenditures fact: cents-exact clean projection of lineitem with
    * the C9 filter applied through the pandas-query parser.
    */
  private def iscFact(s: SparkSession, dir: String): DataFrame = {
    val exp0 = T(s, dir, "lineitem").select(
      col("l_orderkey").as("ID"),
      col("l_partkey").as("Code"),
      cents(col("l_extendedprice")).as("Gross_C"),
      (cents(col("l_extendedprice")) * (lit(100L) - cents(col("l_discount")))).as("Net_C"))
    Pipeline.run(exp0,
      Seq(Pipeline.ApplyFilter(Seq("Gross_C > 1000000"))), ctx(0, "exp"))
  }

  def iscSummary(s: SparkSession, dir: String): DataFrame =
    iscCompose(iscRegistry(s, dir), iscFact(s, dir))

  /** The flagship composition downstream of the registry/fact sources —
    * shared verbatim by [[iscSummary]] (plain parquet scans) and
    * [[iscSummaryBucketed]] (bucketed-by-ID at-rest layout), so the
    * bucketed gate row proves the LAYOUT alone removes the shuffles.
    */
  private def iscCompose(registry: DataFrame, filtered: DataFrame): DataFrame = {
    // C12: attach the household's survey year
    val fact = filtered.join(registry.select("ID", "Year"), Seq("ID"))
    // D1: year-versioned classification of the commodity code — via the
    // NATIVE range-set expression, not the distinct-dict join: the
    // flagship needs one single-aspect level, so the pure-expression
    // twin (hash-proven equal to the join path — d1_classification and
    // d1_expr_classification share one oracle) classifies in-line with
    // zero extra shuffle, no per-query validation action, and ambiguity
    // still rejected at plan build (RangeSet.lookup). The sf1 probe
    // measured the difference at 10×: 4.87s join-path vs 0.29s expr.
    val meta = Meta.fromYaml(partClassYaml)
    val items = Classifier.compile(meta, 1995 to 2001,
      resolver = ResolverSettings(yearRange = (1350, 2100)))
    val classified = fact.withColumn("Part_Class_1",
      Classifier.levelExpr(items, 1, col("Year"), col("Code"), default = Some("other")))
    // C10: household-level groupby-sum via the pandas-chain parser
    val hh = Pipeline.run(classified,
      Seq(Pipeline.parsePandasFunction(
        """table.groupby(["Year", "ID", "Part_Class_1"])[["Gross_C", "Net_C"]].sum().reset_index()""")),
      ctx(0, "exp"))
    // E6: attach area + weight from the registry (unhinted — the
    // registry is fact-sized; AQE picks broadcast only while it fits)
    val withW = Stats.addWeight(hh, registry, broadcastWeights = false)
    // weighted sums per (Year, class, area); the reference's Total row
    // is the ROLLUP of the per-class reduction — the weighted sums are
    // exact integer (long) sums, so summing the 48-row per-class frame
    // is bit-identical to re-aggregating the fact table, and the plan
    // computes the fact pipeline ONCE: both branches sit above the same
    // (Year, class, area) exchange, which ReuseExchange dedups — at
    // 100 TB that is one fact scan+join pass instead of two
    val perClass = withW.groupBy("Year", "Part_Class_1", "Urban_Rural").agg(
      sum(col("Gross_C") * col("Weight")).as("WG"),
      sum(col("Net_C") * col("Weight")).as("WN"))
    val totals = perClass.groupBy("Year", "Urban_Rural")
      .agg(sum("WG").as("WG"), sum("WN").as("WN"))
      .withColumn("Part_Class_1", lit("Total"))
    val num = perClass.unionByName(totals)
    // denominator: total weight per (Year, area) over ALL households
    val den = registry.groupBy("Year", "Urban_Rural").agg(sum("Weight").as("WSum"))
    num.join(broadcast(den), Seq("Year", "Urban_Rural"))
      .select(col("Year"), col("Part_Class_1"), col("Urban_Rural"),
        (col("WG").cast(DoubleType) / col("WSum").cast(DoubleType)).as("Gross_Mean"),
        (col("WN").cast(DoubleType) / col("WSum").cast(DoubleType)).as("Net_Mean"))
      .orderBy("Year", "Part_Class_1", "Urban_Rural")
  }

  private val iscSummarySql = """
    WITH hh0 AS (
      SELECT CAST(year(o_orderdate) AS INTEGER) AS Year,
             o_orderkey AS ID,
             1 + o_orderkey % 7 AS Weight,
             CASE WHEN (3000000000 + ((o_orderkey % 1000000000) * 987654321) % 1000000000) % 1000000000 // 100000000 < 5
                  THEN 'Urban' ELSE 'Rural' END AS Urban_Rural
      FROM orders),
    exp0 AS (
      SELECT l_orderkey AS ID, l_partkey AS Code,
             CAST(round(l_extendedprice*100,0) AS BIGINT) AS Gross_C,
             CAST(round(l_extendedprice*100,0) AS BIGINT)
               * (100 - CAST(round(l_discount*100,0) AS BIGINT)) AS Net_C
      FROM lineitem
      WHERE CAST(round(l_extendedprice*100,0) AS BIGINT) > 1000000),
    fact AS (
      SELECT e.ID, h.Year, e.Gross_C, e.Net_C,
             CASE WHEN e.Code < 1000 THEN 'small'
                  WHEN h.Year < 1998 AND e.Code >= 1000 AND e.Code < 1900 THEN 'large'
                  WHEN h.Year >= 1998 AND e.Code >= 1000 AND e.Code < 2000 THEN 'large'
                  ELSE 'other' END AS Part_Class_1
      FROM exp0 e JOIN hh0 h USING (ID)),
    hh AS (
      SELECT Year, ID, Part_Class_1,
             CAST(sum(Gross_C) AS BIGINT) AS Gross_C,
             CAST(sum(Net_C) AS BIGINT) AS Net_C
      FROM fact GROUP BY 1, 2, 3),
    w AS (
      SELECT h.Year, h.Part_Class_1, b.Urban_Rural,
             h.Gross_C * b.Weight AS WGross, h.Net_C * b.Weight AS WNet
      FROM hh h LEFT JOIN hh0 b USING (Year, ID)),
    num AS (
      SELECT Year, Part_Class_1, Urban_Rural,
             CAST(sum(WGross) AS BIGINT) AS WG, CAST(sum(WNet) AS BIGINT) AS WN
      FROM w GROUP BY 1, 2, 3
      UNION ALL
      SELECT Year, 'Total', Urban_Rural,
             CAST(sum(WGross) AS BIGINT), CAST(sum(WNet) AS BIGINT)
      FROM w GROUP BY 1, 3),
    den AS (
      SELECT Year, Urban_Rural, CAST(sum(Weight) AS BIGINT) AS WSum
      FROM hh0 GROUP BY 1, 2)
    SELECT n.Year, n.Part_Class_1, n.Urban_Rural,
           CAST(n.WG AS DOUBLE) / CAST(d.WSum AS DOUBLE) AS Gross_Mean,
           CAST(n.WN AS DOUBLE) / CAST(d.WSum AS DOUBLE) AS Net_Mean
    FROM num n JOIN den d USING (Year, Urban_Rural)"""

  /** One-time (per JVM × fixture dir) bucketed materialization of the
    * flagship's two sources: fact and registry written bucketed-and-
    * sorted by ID ([[graft.sources.RawSources.writeBucketed]]) — the
    * at-rest layout a production deployment would maintain for the
    * engine's hottest join pattern (fact ⋈ per-household frames on the
    * household ID, reference data_engine.py:439,785).
    */
  private val iscBucketedTables =
    new java.util.concurrent.ConcurrentHashMap[String, (String, String)]()

  private def iscBucketed(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val h = java.lang.Long.toHexString(
      scala.util.hashing.MurmurHash3.stringHash(dir).toLong & 0xFFFFFFFFL)
    val base = graft.engine.Scratch.dir(s"graft_isc_bucketed:$dir")
    val (factT, regT) = iscBucketedTables.computeIfAbsent(dir, d => {
      val (ft, rt) = (s"graft_isc_fact_$h", s"graft_isc_reg_$h")
      graft.sources.RawSources.writeBucketed(
        iscFact(s, d), ft, s"$base/fact", Seq("ID"), numBuckets = 16)
      graft.sources.RawSources.writeBucketed(
        iscRegistry(s, d), rt, s"$base/registry", Seq("ID"), numBuckets = 16)
      (ft, rt)
    })
    // the memo is JVM-global but catalog registration is SESSION-scoped:
    // a later SparkSession in the same JVM (test suites) finds the files
    // on disk with no catalog entry — re-attach instead of throwing
    if (!s.catalog.tableExists(factT))
      graft.sources.RawSources.registerBucketed(s, factT, s"$base/fact", Seq("ID"), 16)
    if (!s.catalog.tableExists(regT))
      graft.sources.RawSources.registerBucketed(s, regT, s"$base/registry", Seq("ID"), 16)
    (s.table(factT), s.table(regT))
  }

  /** The flagship over the BUCKETED at-rest layout: same composition,
    * same oracle — the only change is the two sources. Both sides being
    * co-bucketed (and sorted) by ID, EVERY household-keyed stage loses
    * its exchange: the registry-attach join, the per-household
    * aggregation (grouping keys ⊇ the bucket key), and the weight
    * re-attach join all run bucket-local; the only shuffles left are
    * the final bounded (Year, class, area) aggregates. At 100 TB this
    * is the difference between shuffling the fact table 2-3× per query
    * and shuffling a 48-row reduction — the write cost is paid ONCE and
    * amortized over every downstream query (the first bench run pays
    * it; warm runs measure the layout). BucketedIscPlanSpec asserts the
    * no-household-shuffle property on the physical plan.
    *
    * The (Year, ID) weight join rides the ID-only bucketing via
    * `spark.sql.requireAllClusterKeysForCoPartition=false` (set in the
    * Verify/Bench sessions): hash(ID) co-partitions any join whose keys
    * are a superset of {ID}, which the conservative default refuses.
    */
  def iscSummaryBucketed(s: SparkSession, dir: String): DataFrame = {
    val (fact, registry) = iscBucketed(s, dir)
    iscCompose(registry, fact)
  }

  // ------------------------------------------------- LLM data-pipeline ops

  /** Exact dedup by normalized-content fingerprint. */
  def dedupExact(s: SparkSession, dir: String): DataFrame =
    TextOps.exactDedup(T(s, dir, "documents"))

  private val dedupExactSql = """
    SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fingerprint,
           min(doc_id) AS doc_id, count(*) AS dup_count
    FROM documents GROUP BY 1"""

  /** Paragraph-level dedup across the corpus. The synthetic corpus is
    * single-line, so the query PLANTS sub-document structure: every 3rd
    * document gains a two-line boilerplate footer (shared across those
    * docs — only its FIRST occurrence survives), and the first five
    * documents are cloned under offset ids (their single content line
    * dedups away, so clones of footer-free docs vanish entirely while
    * clones of footered docs keep nothing either — the footer already
    * occurred at the original). Exercises first-occurrence-wins, the
    * blank-paragraph exemption, and full-document elimination, all
    * hash-verified against DuckDB replaying the same split/window.
    */
  def dedupParagraphsQ(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
    val idType = docs.schema("doc_id").dataType
    val boiler = docs.select(col("doc_id"),
      when(col("doc_id") % 3 === 0,
        concat(col("text"), lit("\nall rights reserved\nsubscribe here")))
        .otherwise(col("text")).as("text"))
    val clones = boiler.where(col("doc_id") < 5)
      .select((col("doc_id") + lit(200000)).cast(idType).as("doc_id"), col("text"))
    Dedup.dedupParagraphs(boiler.unionByName(clones)).orderBy("doc_id")
  }

  private val dedupParagraphsSql = """
    WITH b AS (
      SELECT doc_id,
             CASE WHEN doc_id % 3 = 0
                  THEN text || chr(10) || 'all rights reserved' || chr(10) || 'subscribe here'
                  ELSE text END AS text
      FROM documents),
    u AS (
      SELECT doc_id, text FROM b
      UNION ALL
      SELECT doc_id + 200000, text FROM b WHERE doc_id < 5),
    p AS (
      SELECT doc_id, unnest(range(len(ps))) AS pos, unnest(ps) AS para
      FROM (SELECT doc_id, string_split(text, chr(10)) AS ps FROM u)),
    k AS (
      SELECT doc_id, pos, para,
             row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS occ
      FROM p)
    SELECT doc_id, string_agg(para, chr(10) ORDER BY pos) AS text
    FROM k WHERE trim(para) = '' OR occ = 1
    GROUP BY doc_id"""

  /** Per-document text statistics. */
  def textStats(s: SparkSession, dir: String): DataFrame =
    TextOps.textStats(T(s, dir, "documents"))
      .select("doc_id", "n_chars_calc", "n_tokens", "n_distinct_tokens", "n_digits", "n_punct")

  /** Gopher-style intra-document repetition signals. The synthetic
    * corpus is single-line, so duplicated lines are PLANTED onto every
    * 4th document (two identical appended lines — the pii_redact
    * pattern: both the hit and the no-op paths get hash-verified);
    * bigram repetition occurs naturally in the generated text.
    */
  def repSignals(s: SparkSession, dir: String): DataFrame = {
    val planted = when(col("doc_id") % 4 === 0,
      concat(col("text"), lit("\nend of section\nend of section")))
      .otherwise(col("text"))
    TextOps.repetitionSignals(
        T(s, dir, "documents").withColumn("text", planted))
      .orderBy("doc_id")
  }

  /** Corpus-frequency boilerplate removal (Dedup.removeFrequentLines).
    * The synthetic corpus is single-line, so the query PLANTS the three
    * regimes the threshold rule separates: a "subscribe" footer on every
    * 2nd document (df ≈ corpus/2 ≫ maxDf=10 → removed EVERYWHERE,
    * including its first occurrence — the semantic difference from
    * dedup_paragraphs), a boundary footer on exactly 10 documents
    * (df = maxDf → survives, strict >), and a rare footer on 3
    * documents (survives). One extra document consists ONLY of the
    * frequent line and must vanish from the result entirely. DuckDB
    * replays the split / distinct-doc-count / anti-join / reassembly.
    */
  def removeFrequentLinesQ(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
    val idType = docs.schema("doc_id").dataType
    val planted = docs.select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 2 === 0, lit("\nsubscribe to our newsletter"))
          .otherwise(lit("")),
        when(col("doc_id") < 10, lit("\nboundary footer line"))
          .otherwise(lit("")),
        when(col("doc_id") < 3, lit("\nrare footer line"))
          .otherwise(lit(""))).as("text"))
    val pure = docs.where(col("doc_id") === 0).select(
      (col("doc_id") + lit(300000)).cast(idType).as("doc_id"),
      lit("subscribe to our newsletter").as("text"))
    Dedup.removeFrequentLines(planted.unionByName(pure), maxDf = 10)
      .orderBy("doc_id")
  }

  private val removeFrequentLinesSql = """
    WITH u AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 2 = 0 THEN chr(10) || 'subscribe to our newsletter' ELSE '' END
             || CASE WHEN doc_id < 10 THEN chr(10) || 'boundary footer line' ELSE '' END
             || CASE WHEN doc_id < 3 THEN chr(10) || 'rare footer line' ELSE '' END AS text
      FROM documents
      UNION ALL
      SELECT doc_id + 300000, 'subscribe to our newsletter' FROM documents WHERE doc_id = 0),
    p AS (
      SELECT doc_id, unnest(range(len(ls))) AS pos, unnest(ls) AS line
      FROM (SELECT doc_id, string_split(text, chr(10)) AS ls FROM u)),
    f AS (
      SELECT trim(line) AS key FROM p WHERE trim(line) <> ''
      GROUP BY 1 HAVING count(DISTINCT doc_id) > 10)
    SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS text
    FROM p WHERE trim(line) = '' OR trim(line) NOT IN (SELECT key FROM f)
    GROUP BY doc_id
    ORDER BY doc_id"""

  /** Exact substring-span dedup (Dedup.dedupSpans, the Lee et al.
    * ExactSubstr rule at k=8 token windows). Planted regimes: a
    * 12-token sentence appended to every 5th document (cross-document
    * duplicated span — the lowest doc_id keeps it, every other
    * occurrence is excised), and a 10-token phrase appended TWICE to
    * every 7th-mod-3 document (intra-document repetition — the second
    * copy is excised even with no other document involved; doc 10 gets
    * both plants, exercising overlap at the text tail). Natural
    * duplicated 8-grams in the generated corpus dedup identically on
    * both sides. DuckDB replays tokenization, windowing, corpus-first
    * selection, positional deletion, and reassembly.
    */
  /** The planted span texts shared by every dedup_spans gate. */
  private val spanShared = "the quick brown fox jumps over the lazy dog near the riverbank"
  private val spanRep = "copy this exact phrase twice in a row please now"

  /** documents with the two planted duplicate-span regimes appended
    * (see [[dedupSpansQ]]'s doc) — the common input of all span gates.
    */
  private def spanPlantedDocs(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
    docs.select(col("doc_id"),
      concat(col("text"),
        when(col("doc_id") % 5 === 0, lit(" " + spanShared)).otherwise(lit("")),
        when(col("doc_id") % 7 === 3, lit(" " + spanRep + " " + spanRep))
          .otherwise(lit(""))).as("text"))
  }

  def dedupSpansQ(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupSpans(spanPlantedDocs(s, dir), k = 8).orderBy("doc_id")

  /** The at-scale `hashKeys` configuration of dedupSpans (8-byte
    * xxhash64 shuffle keys, window strings never leave their
    * projection), hash-pinned against the SAME oracle as the exact
    * path: on a collision-free corpus the outputs are identical, so a
    * divergence means the hashed path dropped or kept a span the exact
    * semantics would not — the semantic_dedup_k32 discipline of gating
    * the production configuration, not just the reference point.
    */
  def dedupSpansHashedQ(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupSpans(spanPlantedDocs(s, dir), k = 8, hashKeys = true).orderBy("doc_id")

  /** The span-dedup oracle body, optionally restricted to the
    * deterministic md5 doc sample AT THE OUTPUT (reassembly + final
    * rows only — duplicate detection, corpus-first selection, and the
    * deletion set stay CORPUS-WIDE, so a sampled doc's text is exactly
    * its slice of the full run's output).
    *
    * Formulation note (the sf100 feasibility fix): the original oracle
    * replayed windows with `string_agg(...) OVER (PARTITION BY doc_id
    * ...)` and picked corpus-firsts with `row_number() OVER (PARTITION
    * BY win ...)` — the latter is a GLOBAL SORT of every window string
    * (~215M × ~50B at sf100), the wall that forced the r14 sf100 skip.
    * This form mirrors the Spark plan instead: per-doc window HASHES
    * via list_transform (linear, no window function), duplicate
    * detection as a hash aggregate on 8-byte keys, window TEXT
    * re-derived only for dup-hash occurrences (DuckDB's `hash` differs
    * from Spark's xxhash64 — irrelevant, both are internal pruning;
    * the text re-verification makes the oracle collision-immune), and
    * corpus-firsts as `min(struct)` hash aggregates. No global string
    * sort anywhere; every stage is a hash aggregate or hash join.
    */
  private def dedupSpansSqlOf(sampleFraction: Option[Double]): String = {
    val sampleCte = sampleFraction.map(f =>
      s""",
    smp AS (
      SELECT doc_id FROM u
      WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '${Curation.hashSampleThreshold(f)}')""").getOrElse("")
    val toksSrc = if (sampleFraction.isDefined) "tl JOIN smp USING (doc_id)" else "tl"
    val outSrc = if (sampleFraction.isDefined) "u JOIN smp USING (doc_id)" else "u"
    s"""
    WITH u AS (
      SELECT doc_id,
             text
             || CASE WHEN doc_id % 5 = 0 THEN ' $spanShared' ELSE '' END
             || CASE WHEN doc_id % 7 = 3 THEN ' $spanRep $spanRep' ELSE '' END AS text
      FROM documents),
    tl AS (
      SELECT doc_id,
             CASE WHEN norm = '' THEN CAST([] AS VARCHAR[]) ELSE string_split(norm, ' ') END AS l
      FROM (SELECT doc_id, trim(regexp_replace(coalesce(text, ''), '\\s+', ' ', 'g')) AS norm FROM u))$sampleCte,
    occ AS (
      SELECT doc_id,
             unnest(range(0, greatest(len(l) - 7, 0))) AS pos,
             unnest(list_transform(range(0, greatest(len(l) - 7, 0)),
                                   i -> hash(array_to_string(l[i + 1:i + 8], ' ')))) AS h
      FROM tl),
    duph AS (SELECT h FROM occ GROUP BY h HAVING count(*) > 1),
    occd AS (
      SELECT o.doc_id, o.pos, array_to_string(t.l[o.pos + 1:o.pos + 8], ' ') AS win
      FROM occ o JOIN duph USING (h) JOIN tl t ON o.doc_id = t.doc_id),
    firsts AS (
      SELECT win, min(struct_pack(d := doc_id, p := pos)) AS f
      FROM occd GROUP BY win HAVING count(*) > 1),
    del AS (
      SELECT DISTINCT doc_id, pos FROM (
        SELECT o.doc_id, unnest(generate_series(o.pos, o.pos + 7)) AS pos
        FROM occd o JOIN firsts x USING (win)
        WHERE struct_pack(d := o.doc_id, p := o.pos) <> x.f)),
    toks AS (
      SELECT doc_id, unnest(range(0, len(l))) AS pos, unnest(l) AS tok FROM $toksSrc),
    reb AS (
      SELECT t.doc_id, string_agg(t.tok, ' ' ORDER BY t.pos) AS text
      FROM toks t LEFT JOIN del x ON t.doc_id = x.doc_id AND t.pos = x.pos
      WHERE x.doc_id IS NULL
      GROUP BY t.doc_id)
    SELECT u.doc_id, coalesce(reb.text, '') AS text
    FROM $outSrc LEFT JOIN reb USING (doc_id)
    ORDER BY u.doc_id"""
  }

  private val dedupSpansSql = dedupSpansSqlOf(None)
  private val dedupSpansSampleSql = dedupSpansSqlOf(Some(0.01))

  /** The at-scale gate slice of [[dedupSpansQ]]: full span-dedup (the
    * deletion set is corpus-wide), output restricted to the
    * deterministic 1% md5(doc_id) sample — the formulation that keeps
    * the sf100 DuckDB replay's expensive stage (per-doc reassembly +
    * the output string compare) at 1/100th volume while duplicate
    * detection still covers all ~215M windows. Gated at every sf; at
    * sf100 this row (plus the _hashed twin and the closed-form
    * [[dedupSpansInvariantsQ]]) is the family's hash evidence.
    */
  def dedupSpansSampleQ(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupSpans(spanPlantedDocs(s, dir), k = 8)
      .where(Curation.hashSamplePredicate(col("doc_id"), 0.01))
      .orderBy("doc_id")

  def dedupSpansHashedSampleQ(s: SparkSession, dir: String): DataFrame =
    Dedup.dedupSpans(spanPlantedDocs(s, dir), k = 8, hashKeys = true)
      .where(Curation.hashSamplePredicate(col("doc_id"), 0.01))
      .orderBy("doc_id")

  /** Closed-form invariants of the planted spans, checked over the
    * ENTIRE corpus (the complement of the 1% sampled slice): exactly
    * one document (the corpus-first, doc 0) still contains the full
    * 12-token shared sentence; exactly one (doc 3, the lowest
    * doc_id % 7 = 3) still contains the 10-token repeated phrase, and
    * none contains it twice. The oracle is pure literals — the
    * expected values follow from ExactSubstr semantics alone (every
    * non-first occurrence's k-windows cover all planted tokens), not
    * from replaying the computation, which is what makes this row
    * feasible at ANY scale. Robust to natural duplicate text: a doc
    * whose entire text duplicates a lower doc loses its plant too,
    * and corpus-first plants sit in the lowest-doc_id carriers by
    * construction (doc_id dominates the (doc, pos) order).
    */
  def dedupSpansInvariantsQ(s: SparkSession, dir: String): DataFrame = {
    val out = Dedup.dedupSpans(spanPlantedDocs(s, dir), k = 8)
    out.agg(
      sum(when(col("text").contains(spanShared), 1L).otherwise(0L)).as("docs_keeping_shared"),
      sum(when(col("text").contains(spanRep + " " + spanRep), 1L).otherwise(0L)).as("docs_keeping_double_rep"),
      sum(when(col("text").contains(spanRep), 1L).otherwise(0L)).as("docs_keeping_rep"))
  }

  private val dedupSpansInvariantsSql = """
    SELECT CAST(1 AS BIGINT) AS docs_keeping_shared,
           CAST(0 AS BIGINT) AS docs_keeping_double_rep,
           CAST(1 AS BIGINT) AS docs_keeping_rep"""

  /** CCNet-style bigram-LM quality scoring (TextOps.lmScore),
    * self-scored: the documents corpus is both the model and the scored
    * set, so every bigram is in-vocabulary and the oracle's inner joins
    * replay Spark's left joins exactly. Per-bigram log-probabilities
    * are frozen to the half-up 1e-6 integer grid (the tfidf_topk
    * determinism rule), so the per-doc aggregation is integer-exact on
    * both engines; the mean divides back to a double post-aggregation.
    */
  def lmScoreQ(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").select(col("doc_id"), col("text"))
    TextOps.lmScore(docs, docs).orderBy("doc_id")
  }

  /** Bigram-LM scoring CTEs (integer-grid log-probs; see [[lmScoreQ]])
    * shared by the lm_score gate and the CCNet bucket gate. Ends at
    * `agg` = (doc_id, n_bigrams, lm_micro).
    */
  private def lmScoreCtesOn(src: String) = s"""norm AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(regexp_replace(lower(coalesce(text, '')),'[^a-z0-9\\s]+',' ','g')),'\\s+'), x -> x <> '') AS t
      FROM $src),
    uc AS (
      SELECT u, count(*) AS c1
      FROM (SELECT unnest(t) AS u FROM norm) GROUP BY u),
    v AS (SELECT count(*) AS vs FROM uc),
    bgall AS (
      SELECT doc_id, unnest(gs) AS bg
      FROM (SELECT doc_id,
                   CASE WHEN len(t) < 2 THEN CAST([] AS VARCHAR[])
                        ELSE list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1]) END AS gs
            FROM norm)),
    bc AS (SELECT bg, count(*) AS c2 FROM bgall GROUP BY bg),
    scored AS (
      SELECT a.doc_id,
             CAST(floor(ln(CAST(bc.c2 + 1 AS DOUBLE) / CAST(uc.c1 + v.vs AS DOUBLE)) * 1e6 + 0.5) AS BIGINT) AS lp
      FROM bgall a
      JOIN bc ON a.bg = bc.bg
      JOIN uc ON string_split(a.bg, ' ')[1] = uc.u
      CROSS JOIN v),
    agg AS (
      SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
             CAST(sum(lp) AS BIGINT) AS lm_micro
      FROM scored GROUP BY doc_id)"""

  private val lmScoreCtes = lmScoreCtesOn("documents")

  private val lmScoreSql = s"""
    WITH $lmScoreCtes
    SELECT d.doc_id,
           coalesce(agg.n_bigrams, 0) AS n_bigrams,
           agg.lm_micro,
           CAST(agg.lm_micro AS DOUBLE) / 1e6 / agg.n_bigrams AS lm_logprob
    FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
    ORDER BY d.doc_id"""

  /** CCNet's end artifact: the corpus partitioned into head / middle /
    * tail thirds PER LANGUAGE by LM score (Wenzek et al. 2020 §4.3 —
    * head = best-scoring third, the slice most pipelines keep). Exact
    * per-language tertiles via ntile(3) over (lm_logprob DESC, doc_id)
    * — the total order makes the bucket assignment deterministic, and
    * lm_logprob itself is already hash-verified cross-engine by the
    * lm_score gate, so the window replays identically in DuckDB. Docs
    * with no bigrams are unscorable and excluded (CCNet drops them).
    *
    * Scale note: ntile's per-language window is the EXACT gate
    * formulation; at 100 TB per-language global sorts are replaced by
    * quantile CUTOFFS + a comparison — the same window-for-gate /
    * sketch-for-scale trade the e12 quantile family records, and what
    * CCNet itself does (bucket thresholds from a sampled score
    * distribution, not a corpus sort).
    */
  def ccnetBuckets(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = T(s, dir, "documents")
    val scored = TextOps.lmScore(docs.select(col("doc_id"), col("text")), docs)
      .where(col("n_bigrams") > 0)
    val t = ntile(3).over(
      Window.partitionBy("lang").orderBy(col("lm_logprob").desc, col("doc_id").asc))
    docs.select(col("doc_id"), col("lang")).join(scored, Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("lm_logprob"),
        when(t === 1, "head").when(t === 2, "middle").otherwise("tail").as("bucket"))
      .orderBy("doc_id")
  }

  private val ccnetBucketsSql = s"""
    WITH $lmScoreCtes,
    sc AS (
      SELECT d.doc_id, d.lang,
             CAST(agg.lm_micro AS DOUBLE) / 1e6 / agg.n_bigrams AS lm_logprob
      FROM documents d JOIN agg ON d.doc_id = agg.doc_id
      WHERE agg.n_bigrams > 0)
    SELECT doc_id, lang, lm_logprob,
           CASE ntile(3) OVER (PARTITION BY lang ORDER BY lm_logprob DESC, doc_id)
                WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END AS bucket
    FROM sc ORDER BY doc_id"""

  /** The SCALE formulation of [[ccnetBuckets]] — what CCNet actually
    * runs at corpus size (Wenzek et al. 2020 §4.3 computes bucket
    * thresholds from a scored SAMPLE, not a corpus sort): per-language
    * tertile CUTOFFS from a deterministic 25% md5 hash sample
    * (seedless, engine-portable — the hash_sample gate's proven
    * cross-engine predicate), then bucket assignment as a comparison
    * against the broadcast cutoffs. No per-language global sort ever
    * touches the corpus: the only ordered pass runs over the sample's
    * distinct (lang, score) rows, whose size the sample fraction
    * bounds at any corpus scale, and the assignment join is
    * broadcast-shaped (one row per language).
    *
    * EXACTLY oracled, no tolerance: the sample membership, the
    * lower-weighted-percentile cutoff rule (min v with cum ≥ p·tot —
    * the e12 family's rule), and the ≤-comparisons replay
    * bit-identically in DuckDB (scores are the lm_score-gated doubles;
    * cutoff arithmetic is CAST(tot AS DOUBLE)/3.0 in both engines).
    * Bucket sizes are approximately balanced (sampling error), which
    * is the trade the production shape makes — the exact-tertile
    * contract lives in the sibling [[ccnetBuckets]] gate. Languages
    * absent from the sample would drop (inner join); CcnetBucketsSpec
    * asserts the fixture's languages are all sampled.
    */
  def ccnetBucketsScaled(s: SparkSession, dir: String): DataFrame =
    ccnetScaledOn(T(s, dir, "documents"))

  /** [[ccnetBucketsScaled]] with a deterministic REPLICA-WINDOW corpus —
    * the formulation that keeps the ccnet/lm family hash-gateable at
    * corpus scales where the full-corpus DuckDB replay outgrows the
    * box's temp disk (the `dedup_spans_sample` / `minhash_near_dups_
    * sample` discipline applied to LM bucketing; SCALE.md round 16
    * records the 5M-doc replay exhausting a ~60 GB ceiling).
    *
    * The window is the 1-in-50 inflation-replica sample
    * (`doc_id div 1e8 ≡ 0 (mod 50)` — InflateSf's key-shift unit), and
    * BOTH the LM model and the bucket cutoffs are computed ON the
    * window: exactly CCNet's production shape (Wenzek et al. 2020 —
    * the scoring model is trained on a fixed reference sample and the
    * head/middle/tail thresholds come from a scored sample, neither is
    * a corpus-global computation), so the windowed row is a faithful
    * operator, not a weakened gate. Everything in the oracle is then
    * bounded by the window (~100k docs at sf100 vs 5M), with no
    * structural-inflation assumptions: a corpus-global model would
    * need corpus-global token counts, and the inflation's per-doc
    * token salting admits rare cross-replica suffix collisions
    * ("x1"+"23" = "x12"+"3") that break count localization — the
    * window-trained model sidesteps that class entirely. At the
    * sf0.01 driver gate every doc_id < 1e8, the window is the whole
    * corpus, and the row degenerates to exact equality with
    * `ccnet_buckets_scaled`. Full-corpus feasibility evidence stays
    * with the unsampled rows, benched at every sf.
    */
  def ccnetBucketsSample(s: SparkSession, dir: String): DataFrame =
    ccnetScaledOn(T(s, dir, "documents")
      .where(expr("(doc_id div 100000000) % 50 = 0")))

  private def ccnetScaledOn(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = TextOps.lmScore(docs.select(col("doc_id"), col("text")), docs)
      .where(col("n_bigrams") > 0)
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("lm_logprob"))
    val sample = scored.where(graft.ops.Curation.hashSamplePredicate(col("doc_id"), 0.25))
    val cum = sample.groupBy("lang", "lm_logprob").agg(count(lit(1)).as("_w"))
      .withColumn("_cum",
        sum("_w").over(Window.partitionBy("lang").orderBy("lm_logprob")))
      .withColumn("_tot", sum("_w").over(Window.partitionBy("lang")))
    val cuts = cum.groupBy("lang").agg(
      min(when(col("_cum") >= col("_tot").cast(DoubleType) / lit(3.0),
        col("lm_logprob"))).as("t1"),
      min(when(col("_cum") >= col("_tot").cast(DoubleType) * lit(2.0) / lit(3.0),
        col("lm_logprob"))).as("t2"))
    scored.join(broadcast(cuts), Seq("lang"))
      .select(col("doc_id"), col("lang"), col("lm_logprob"),
        when(col("lm_logprob") <= col("t1"), "tail")
          .when(col("lm_logprob") <= col("t2"), "middle")
          .otherwise("head").as("bucket"))
      .orderBy("doc_id")
  }

  private def ccnetScaledSqlOn(src: String) = s"""${lmScoreCtesOn(src)},
    sc AS (
      SELECT d.doc_id, d.lang,
             CAST(agg.lm_micro AS DOUBLE) / 1e6 / agg.n_bigrams AS lm_logprob
      FROM $src d JOIN agg ON d.doc_id = agg.doc_id
      WHERE agg.n_bigrams > 0),
    cw AS (
      SELECT lang, lm_logprob AS v, count(*) AS w FROM sc
      WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '${graft.ops.Curation.hashSampleThreshold(0.25)}'
      GROUP BY 1, 2),
    cc AS (
      SELECT lang, v,
             sum(w) OVER (PARTITION BY lang ORDER BY v) AS cum,
             sum(w) OVER (PARTITION BY lang) AS tot
      FROM cw),
    cuts AS (
      SELECT lang,
             min(CASE WHEN cum >= CAST(tot AS DOUBLE) / 3.0 THEN v END) AS t1,
             min(CASE WHEN cum >= CAST(tot AS DOUBLE) * 2.0 / 3.0 THEN v END) AS t2
      FROM cc GROUP BY 1)
    SELECT sc.doc_id, sc.lang, sc.lm_logprob,
           CASE WHEN sc.lm_logprob <= cuts.t1 THEN 'tail'
                WHEN sc.lm_logprob <= cuts.t2 THEN 'middle'
                ELSE 'head' END AS bucket
    FROM sc JOIN cuts USING (lang)
    ORDER BY sc.doc_id"""

  private val ccnetBucketsScaledSql = s"WITH ${ccnetScaledSqlOn("documents")}"

  private val ccnetBucketsSampleSql = s"""
    WITH dw AS MATERIALIZED (
      SELECT doc_id, lang, text FROM documents
      WHERE (doc_id // 100000000) % 50 = 0),
    ${ccnetScaledSqlOn("dw")}"""

  private val repSignalsSql = """
    WITH docs AS (
      SELECT doc_id,
             CASE WHEN doc_id % 4 = 0
                  THEN text || chr(10) || 'end of section' || chr(10) || 'end of section'
                  ELSE text END AS text
      FROM documents),
    lines AS (
      SELECT doc_id, line, count(*) AS n
      FROM (SELECT doc_id, unnest(string_split(coalesce(text, ''), chr(10))) AS line FROM docs)
      GROUP BY 1, 2),
    ls AS (
      SELECT doc_id,
             sum(n * length(line)) AS all_chars,
             sum(CASE WHEN n > 1 THEN n * length(line) ELSE 0 END) AS dup_chars
      FROM lines GROUP BY 1),
    toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(coalesce(text, '')), '\s+'), x -> x <> '') AS t,
             length(coalesce(text, '')) AS nc
      FROM docs),
    bgc AS (
      SELECT doc_id, nc, g, count(*) AS n
      FROM (SELECT doc_id, nc, unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS g
            FROM toks WHERE len(t) >= 2)
      GROUP BY 1, 2, 3),
    top AS (
      SELECT doc_id, n, g, nc FROM (
        SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, g ASC) AS rk FROM bgc)
      WHERE rk = 1)
    SELECT d.doc_id,
           round(coalesce(CAST(ls.dup_chars AS DOUBLE) / nullif(ls.all_chars, 0), 0.0), 6) AS dup_line_frac,
           round(coalesce(CAST(top.n * length(top.g) AS DOUBLE) / nullif(top.nc, 0), 0.0), 6) AS top_bigram_frac
    FROM docs d LEFT JOIN ls USING (doc_id) LEFT JOIN top USING (doc_id)
    ORDER BY doc_id"""

  private val textStatsSql = """
    SELECT doc_id,
           CAST(length(text) AS INT) AS n_chars_calc,
           CAST(len(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> '')) AS INT) AS n_tokens,
           CAST(len(list_distinct(list_filter(string_split_regex(trim(text), '\s+'), x -> x <> ''))) AS INT) AS n_distinct_tokens,
           CAST(length(text) - length(regexp_replace(text, '[0-9]', '', 'g')) AS INT) AS n_digits,
           CAST(length(text) - length(regexp_replace(text, '[\.,;:!\?]', '', 'g')) AS INT) AS n_punct
    FROM documents"""

  /** PII redaction as a pure codegen projection: PII surface forms are
    * PLANTED onto every 5th document (the synthetic corpus has none), so
    * both the hit and the no-op paths are hash-verified. The same
    * RE2-compatible patterns run in Spark (Java regex) and DuckDB (RE2).
    */
  def piiRedact(s: SparkSession, dir: String): DataFrame = {
    val planted = when(col("doc_id") % 5 === 0,
      concat(col("text"),
        lit(" contact bob@example.com call 555-123-4567 ip 10.0.0.1")))
      .otherwise(col("text"))
    Dedup.scatter(T(s, dir, "documents")).select(col("doc_id"),
      Curation.redactPii(planted).as("redacted"))
  }

  private val piiRedactSql = s"""
    SELECT doc_id,
           regexp_replace(regexp_replace(regexp_replace(
             CASE WHEN doc_id % 5 = 0
                  THEN text || ' contact bob@example.com call 555-123-4567 ip 10.0.0.1'
                  ELSE text END,
             '${Curation.EmailPattern}', '<EMAIL>', 'g'),
             '${Curation.PhonePattern}', '<PHONE>', 'g'),
             '${Curation.Ipv4Pattern}', '<IP>', 'g') AS redacted
    FROM documents"""

  /** Benchmark-contamination check: documents sharing >= 5 distinct
    * 3-shingles with a probe set (the first 5 documents stand in for a
    * benchmark suite). Probe side broadcast — benchmark-bounded.
    */
  def contamination(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val probes = docs.where(col("doc_id") < 5)
      .select(col("doc_id").as("probe_id"), col("text"))
    Curation.contaminationCheck(docs, probes, k = 3, minShared = 5)
      .orderBy("doc_id", "probe_id")
  }

  private val contaminationSql = """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(regexp_replace(lower(text),'[^a-z0-9\s]+',' ','g')),'\s+'), x -> x <> '') AS toks
      FROM documents),
    s AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(range(1, len(toks) - 1),
                       i -> array_to_string(list_slice(toks, i, i+2), ' ')) END) AS sh
      FROM t),
    du AS (SELECT doc_id, unnest(sh) AS g FROM s),
    pu AS (SELECT doc_id AS probe_id, unnest(sh) AS g FROM s WHERE doc_id < 5)
    SELECT du.doc_id, pu.probe_id, count(*) AS n_shared
    FROM du JOIN pu ON du.g = pu.g
    GROUP BY 1, 2 HAVING count(*) >= 5"""

  /** Contamination REMOVAL: the corpus minus every document the check
    * flags (here the first 5 docs self-match as probes, plus any
    * organic 5-shingle overlap) — the act half of the check-then-act
    * loop, anti-joined on the slim flagged-id set.
    */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val probes = docs.where(col("doc_id") < 5)
      .select(col("doc_id").as("probe_id"), col("text"))
    Curation.decontaminate(docs, probes, k = 3, minShared = 5)
      .select("doc_id", "source").orderBy("doc_id")
  }

  private val decontaminateSql = """
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(regexp_replace(lower(text),'[^a-z0-9\s]+',' ','g')),'\s+'), x -> x <> '') AS toks
      FROM documents),
    s AS (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(range(1, len(toks) - 1),
                       i -> array_to_string(list_slice(toks, i, i+2), ' ')) END) AS sh
      FROM t),
    du AS (SELECT doc_id, unnest(sh) AS g FROM s),
    pu AS (SELECT doc_id AS probe_id, unnest(sh) AS g FROM s WHERE doc_id < 5),
    flagged AS (
      SELECT du.doc_id
      FROM du JOIN pu ON du.g = pu.g
      GROUP BY du.doc_id, pu.probe_id HAVING count(*) >= 5)
    SELECT d.doc_id, d.source FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM flagged)"""

  /** Deterministic hash sampling at 25% — reproducible (seedless) and
    * portable: the same md5-prefix decision evaluates identically in
    * Spark and DuckDB, which is exactly what the oracle verifies.
    */
  def hashSample(s: SparkSession, dir: String): DataFrame =
    Curation.hashSample(T(s, dir, "documents"), 0.25).select("doc_id", "source")

  private val hashSampleSql = s"""
    SELECT doc_id, source FROM documents
    WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '${Curation.hashSampleThreshold(0.25)}'"""

  /** Deterministic stratified bottom-k sample: exactly 10 docs per
    * source, the k lowest md5-prefix hashes with key tie-break
    * (Curation.stratifiedSample). The rank filter sits directly on the
    * row_number so Spark plans a WindowGroupLimit (map-side per-stratum
    * top-k BEFORE the exchange — asserted in CurationSpec); the oracle
    * replays rank and membership with DuckDB's row_number over the same
    * engine-portable hash order.
    */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame =
    Curation.stratifiedSample(T(s, dir, "documents"), k = 10)
      .select("doc_id", "source", "sample_rank")

  private val stratifiedSampleSql = """
    SELECT doc_id, source, sample_rank FROM (
      SELECT doc_id, source,
             CAST(row_number() OVER (
               PARTITION BY source
               ORDER BY substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) ASC, doc_id ASC) AS INT)
               AS sample_rank
      FROM documents)
    WHERE sample_rank <= 10"""

  /** Source-weighted data mixing: keep all of src0, half of src1, a
    * fifth of src2, drop every other source.
    */
  def mixSources(s: SparkSession, dir: String): DataFrame =
    Curation.mixSources(T(s, dir, "documents"),
      Map("src0" -> 1.0, "src1" -> 0.5, "src2" -> 0.2))
      .select("doc_id", "source")

  private val mixSourcesSql = s"""
    SELECT doc_id, source FROM documents
    WHERE CASE
      WHEN source = 'src0' THEN TRUE
      WHEN source = 'src1' THEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '${Curation.hashSampleThreshold(0.5)}'
      WHEN source = 'src2' THEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '${Curation.hashSampleThreshold(0.2)}'
      ELSE FALSE END"""

  /** Token-budget shard packing per source stratum (greedy sequential
    * fill at 2000 tokens); exclusive-prefix-sum window, one shuffle by
    * stratum.
    */
  def packShards(s: SparkSession, dir: String): DataFrame =
    Curation.packShards(T(s, dir, "documents"), budget = 2000L)
      .select("doc_id", "source", "n_tokens", "shard")

  private val packShardsSql = """
    WITH t AS (
      SELECT doc_id, source,
             len(list_filter(string_split_regex(regexp_replace(text,'^\s+|\s+$','','g'),'\s+'), x -> x <> '')) AS n_tokens
      FROM documents)
    SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
           CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens) / 2000.0) AS INT) AS shard
    FROM t"""

  /** Deterministic 80/10/10 train/val/test assignment. */
  def assignSplits(s: SparkSession, dir: String): DataFrame =
    Curation.assignSplit(T(s, dir, "documents"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("doc_id", "split")
      .orderBy("doc_id")

  private val assignSplitsSql = {
    val t80 = Curation.hashSampleThreshold(0.8)
    val t90 = Curation.hashSampleThreshold(0.9)
    s"""
    SELECT doc_id,
           CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '$t80' THEN 'train'
                WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '$t90' THEN 'val'
                ELSE 'test' END AS split
    FROM documents ORDER BY doc_id"""
  }

  /** Context-window chunking at a 64-token window with a 48-token
    * stride (overlapping windows — the interesting membership path; the
    * disjoint stride==size case degenerates to floor(pos/size)).
    */
  def chunkDocs(s: SparkSession, dir: String): DataFrame =
    Curation.chunkDocuments(T(s, dir, "documents"), chunkTokens = 64, stride = 48)
      .orderBy("doc_id", "chunk_id")

  private val chunkDocsSql = """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(coalesce(text, '')), '\s+'), x -> x <> '') AS t
      FROM documents),
    tr AS (
      SELECT doc_id, unnest(t) AS tok, unnest(range(len(t))) AS pos
      FROM toks WHERE len(t) > 0),
    tc AS (
      SELECT doc_id, tok, pos,
             unnest(range(greatest(0, CAST(floor(CAST(pos - 64 + 48 AS DOUBLE) / 48) AS BIGINT)),
                          CAST(floor(CAST(pos AS DOUBLE) / 48) AS BIGINT) + 1)) AS chunk_id
      FROM tr)
    SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id, CAST(count(*) AS INT) AS n_tokens,
           string_agg(tok, ' ' ORDER BY pos) AS chunk_text
    FROM tc GROUP BY 1, 2 ORDER BY doc_id, chunk_id"""

  /** Language-ID heuristic (stopword-hit argmax). Scattered: a pure
    * projection over an under-partitioned fixture runs on one task.
    */
  def langId(s: SparkSession, dir: String): DataFrame =
    Dedup.scatter(T(s, dir, "documents")).select(col("doc_id"), col("lang"),
      TextOps.languageId(col("text")).as("pred_lang"))

  /** The language-ID CASE expression over a `text` column — shared by
    * the lang_id oracle and the composed curation-pipeline oracle.
    */
  private val langIdCaseSql = {
    def score(words: Seq[String]) =
      s"len(list_intersect(list_distinct(list_filter(string_split_regex(trim(lower(text)), '\\s+'), x -> x <> '')), [${words.map(w => s"'$w'").mkString(",")}]))"
    val m = TextOps.defaultMarkers.toMap
    val sEn = score(m("en")); val sDe = score(m("de")); val sEs = score(m("es")); val sFr = score(m("fr"))
    s"""CASE WHEN ($sEn + $sDe + $sEs + $sFr) = 0 THEN 'und'
                WHEN $sEn >= greatest($sDe, $sEs, $sFr) THEN 'en'
                WHEN $sDe >= greatest($sEs, $sFr) THEN 'de'
                WHEN $sEs >= $sFr THEN 'es'
                ELSE 'fr' END"""
  }

  private val langIdSql = s"""
    SELECT doc_id, lang, $langIdCaseSql AS pred_lang
    FROM documents"""

  /** Quality scoring. Scattered (same rationale as [[langId]]). */
  def qualityScore(s: SparkSession, dir: String): DataFrame =
    Dedup.scatter(T(s, dir, "documents")).select(col("doc_id"),
      TextOps.qualityScore(col("text")).as("quality"))

  /** The rounded quality expression over a `text` column — shared by the
    * quality_score oracle and the composed curation-pipeline oracle.
    */
  // floor(x*1e6 + 0.5)/1e6, NOT round(x, 6): Spark rounds through the
  // decimal string, DuckDB rounds the scaled double — they disagree on
  // half-ties, which quality's ratio sums actually hit (2 docs at sf0.1)
  private val qualityExprSql = """(floor(greatest(0.0,
        (((0.4 * least(length(text)/500.0, 1.0))
         + (0.3 * (CASE WHEN len(list_filter(string_split_regex(trim(text),'\s+'), x -> x <> '')) > 0
                        THEN len(list_distinct(list_filter(string_split_regex(trim(text),'\s+'), x -> x <> '')))
                             / CAST(len(list_filter(string_split_regex(trim(text),'\s+'), x -> x <> '')) AS DOUBLE)
                        ELSE 0.0 END)))
         + (0.2 * (CASE WHEN (CASE WHEN len(list_filter(string_split_regex(trim(text),'\s+'), x -> x <> '')) > 0
                                   THEN length(text) / CAST(len(list_filter(string_split_regex(trim(text),'\s+'), x -> x <> '')) AS DOUBLE)
                                   ELSE 0.0 END) BETWEEN 3 AND 12 THEN 1.0 ELSE 0.5 END)))
        - (0.3 * (CASE WHEN length(text) > 0
                       THEN (length(text) - length(regexp_replace(text,'[0-9]','','g'))) / CAST(length(text) AS DOUBLE)
                       ELSE 0.0 END))) * 1000000.0 + 0.5) / 1000000.0)"""

  private val qualityScoreSql = s"""
    SELECT doc_id, $qualityExprSql AS quality
    FROM documents"""

  /** The composed curation FLAGSHIP: the full training-data intake flow
    * as ONE Catalyst plan with ONE end-to-end DuckDB oracle —
    * PII-redact → language-ID gate → quality gate → exact dedup (full
    * stats via min_by on the kept representative) → deterministic 50%
    * hash-sample. This is the LLM-pipeline sibling of `isc_summary`:
    * every stage is individually gate-proven, and this row proves the
    * COMPOSITION — filters and projections fuse into the scan, the only
    * shuffle is the fingerprint hash-aggregate, and the sample predicate
    * costs one md5 on the already-reduced representative set. At 100 TB
    * the shape is: codegen'd scan-side projections, one map-combined
    * shuffle keyed by content hash, then a cheap reduced-side filter —
    * no second pass over the corpus anywhere.
    */
  def curationPipeline(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val planted = when(col("doc_id") % 5 === 0,
      concat(col("text"),
        lit(" contact bob@example.com call 555-123-4567 ip 10.0.0.1")))
      .otherwise(col("text"))
    // The one-element explode is a GENERATOR BARRIER: CollapseProject
    // cannot merge projections through a Generate node, so the redacted
    // text is computed ONCE per row and every downstream expression
    // (lang-ID, quality, tokens, fingerprint) references the attribute.
    // Without it the optimizer inlines the redaction subtree into every
    // consumer — ~50 copies in the fused Filter+Project — and the
    // generated method blows past Janino's limits, knocking the whole
    // stage out of codegen. The barrier costs nothing: no shuffle, one
    // array alloc per row, and the stage stays whole-stage-codegen'd.
    // scatter first: at sf fixtures the 5000-doc corpus is ONE parquet
    // row group = one task, serializing every regex/tokenize below onto
    // a single core (measured 3.6s single-task at sf0.1); at corpus
    // scale the input already has enough partitions and this no-ops
    val redacted = Dedup.scatter(docs).select(col("doc_id"),
      explode(array(Curation.redactPii(planted))).as("text"))
    // The scores deliberately stay withColumn + where, NOT behind a
    // second generator barrier. Round 18 tried barriers here on the
    // premise that the pushed-down filter re-evaluates the language-ID
    // tree without subexpression sharing — measured FALSE: a fused
    // FilterExec's codegen eliminates the ~16 repeated tokenize
    // subtrees exactly like a Project, while GenerateExec evaluates its
    // generator expression with NO subexpression elimination (so a
    // barrier made every row pay all 16) AND a barrier defeats the
    // lazy-AND short-circuit that skips `quality` for every non-en
    // row. sf10 A/B: 10.6s this shape vs 22.4-23.2s behind barriers.
    val scored = redacted
      .withColumn("pred_lang", TextOps.languageId(col("text")))
      .withColumn("quality", TextOps.qualityScore(col("text")))
      .withColumn("n_tokens", TextOps.tokenCount(col("text")).cast(IntegerType))
    val kept = scored.where(col("pred_lang") === "en" && col("quality") >= 0.45)
    val deduped = kept
      .groupBy(TextOps.fingerprint(col("text")).as("fingerprint"))
      .agg(
        min(col("doc_id")).as("doc_id"),
        count(lit(1)).as("dup_count"),
        min_by(col("quality"), col("doc_id")).as("quality"),
        min_by(col("n_tokens"), col("doc_id")).as("n_tokens"))
    Curation.hashSample(deduped, 0.5)
      .select("doc_id", "dup_count", "quality", "n_tokens")
  }

  private val curationPipelineSql = s"""
    WITH red AS (
      SELECT doc_id,
             regexp_replace(regexp_replace(regexp_replace(
               CASE WHEN doc_id % 5 = 0
                    THEN text || ' contact bob@example.com call 555-123-4567 ip 10.0.0.1'
                    ELSE text END,
               '${Curation.EmailPattern}', '<EMAIL>', 'g'),
               '${Curation.PhonePattern}', '<PHONE>', 'g'),
               '${Curation.Ipv4Pattern}', '<IP>', 'g') AS text
      FROM documents),
    scored AS (
      SELECT doc_id, text,
             $langIdCaseSql AS pred_lang,
             $qualityExprSql AS quality,
             CAST(len(list_filter(string_split_regex(trim(text), '\\s+'), x -> x <> '')) AS INT) AS n_tokens
      FROM red),
    kept AS (
      SELECT * FROM scored WHERE pred_lang = 'en' AND quality >= CAST(0.45 AS DOUBLE)),
    dd AS (
      SELECT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
             min(doc_id) AS doc_id,
             count(*) AS dup_count,
             min_by(quality, doc_id) AS quality,
             min_by(n_tokens, doc_id) AS n_tokens
      FROM kept GROUP BY 1)
    SELECT doc_id, dup_count, quality, n_tokens
    FROM dd
    WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 8) < '${Curation.hashSampleThreshold(0.5)}'"""

  /** N-gram Jaccard between consecutive documents (bounded pair set). */
  def ngramJaccard(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val a = docs.select(col("doc_id").as("id_a"), col("text").as("text_a"))
    val b = docs.select(col("doc_id").as("id_b"), col("text").as("text_b"))
    a.join(b, col("id_b") === col("id_a") + 1)
      .select(col("id_a"), col("id_b"),
        round(Dedup.ngramJaccard(col("text_a"), col("text_b")), 6).as("jaccard"))
  }

  private val ngramJaccardSql = {
    def sh(t: String) =
      s"""(CASE WHEN len(list_filter(string_split_regex(trim(regexp_replace(lower($t),'[^a-z0-9\\s]+',' ','g')),'\\s+'), x -> x <> '')) <= 3
               THEN [array_to_string(list_filter(string_split_regex(trim(regexp_replace(lower($t),'[^a-z0-9\\s]+',' ','g')),'\\s+'), x -> x <> ''), ' ')]
               ELSE list_transform(range(1, len(list_filter(string_split_regex(trim(regexp_replace(lower($t),'[^a-z0-9\\s]+',' ','g')),'\\s+'), x -> x <> '')) - 1),
                    i -> array_to_string(list_slice(list_filter(string_split_regex(trim(regexp_replace(lower($t),'[^a-z0-9\\s]+',' ','g')),'\\s+'), x -> x <> ''), i, i+2), ' '))
          END)"""
    s"""
    SELECT a.doc_id AS id_a, b.doc_id AS id_b,
           round(CASE WHEN len(list_distinct(list_concat(${sh("a.text")}, ${sh("b.text")}))) > 0
                 THEN CAST(len(list_intersect(list_distinct(${sh("a.text")}), list_distinct(${sh("b.text")}))) AS DOUBLE)
                      / CAST(len(list_distinct(list_concat(${sh("a.text")}, ${sh("b.text")}))) AS DOUBLE)
                 ELSE 0.0 END, 6) AS jaccard
    FROM documents a JOIN documents b ON b.doc_id = a.doc_id + 1"""
  }

  /** MinHash-LSH candidate pairs restricted to high-confidence signature
    * agreement (est_jaccard >= 0.5), with a DuckDB oracle. The estimate
    * itself is hash-derived (not SQL-expressible), but the testdata's
    * pair-similarity distribution is bimodal — true near-dups have
    * jaccard >= 0.9 with measured est_jaccard >= 0.890625, background
    * noise has jaccard <= 0.07 whose 64-hash estimate concentrates within
    * ±0.1 — so {est_jaccard >= 0.5} equals the brute-force jaccard >= 0.6
    * pair set exactly (the minhash_near_dups argument applied to the
    * estimate column). Exercises signature build, banding, candidate
    * join, AND the signature-agreement estimate against ground truth.
    */
  def minhashPairs(s: SparkSession, dir: String): DataFrame =
    Dedup.minHashPairs(T(s, dir, "documents"))
      .where(col("est_jaccard") >= 0.5)
      .select("id_a", "id_b")
      .orderBy("id_a", "id_b")

  /** The full near-duplicate pipeline with a DuckDB oracle: MinHash-LSH
    * candidate generation -> exact n-gram-Jaccard verification at
    * threshold 0.6. The oracle computes ALL true pairs >= 0.6 exactly
    * (prefix-filtered set-similarity join, see [[nearDupPairCtes]]);
    * the outputs agree because the testdata's pair-similarity
    * distribution is bimodal (planted near-dups >= 0.9, background noise
    * <= 0.07) and 32 bands of 2 rows give P(miss | j >= 0.9) ~= 1e-23 —
    * LSH recall at the threshold is deterministic in practice, which is
    * exactly the property a production dedup at 100 TB relies on.
    */
  def minhashNearDups(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    Dedup.pairJaccard(docs, Dedup.minHashCandidates(docs, bands = 32))
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .where(col("jaccard") >= 0.6)
      .orderBy("id_a", "id_b")
  }

  /** Exact true-Jaccard pair CTEs shared by the near-dup and cluster
    * oracles. Candidate generation is a PREFIX-FILTERED set-similarity
    * join (All-Pairs, Bayardo et al. WWW'07), not an O(n²) cross join,
    * so the same oracle SQL is DuckDB-feasible from the 500-doc driver
    * gate up through the 500k-doc sf10 sweep. Completeness is a
    * theorem, not a heuristic: every gate consumes `p` through
    * `round(j,6) >= 0.6`, i.e. true j >= 0.5999995 > 0.55, and for any
    * pair with J(x,y) >= 0.55 the intersection has at least
    * ceil(11·|x|/20) shingles (|x∩y| = J·|x∪y| >= J·|x|, integer),
    * which cannot fit inside x's suffix of ceil(11·|x|/20)-1 shingles
    * — so x's rarest-first prefix of |x| - ceil(11·|x|/20) + 1
    * shingles must share an element with y, and the prefix-vs-full-
    * index join emits the pair. The bound is computed with EXACT
    * integer arithmetic, (11*n + 19) // 20: the float form
    * ceil(0.55*n) overshoots by 1 whenever 0.55*n is an exact integer
    * (binary 0.55·20 = 11.000000000000002 → ceil 12), which would
    * shorten the prefix below the theorem's requirement for a pair at
    * exactly J = 0.55. Candidates are then verified EXACTLY: |x∩y| counted by
    * the shared-shingle equi-join (sh is already distinct, so count(*)
    * IS the set intersection), |x∪y| = |x| + |y| − |x∩y| — the same
    * values the old list_intersect/list_concat formula produced, as
    * relational joins instead of per-pair list scans. `p`'s qualifying
    * rows — and every downstream oracle result — are identical to the
    * brute force (hash-verified, and cross-checked pair-for-pair
    * against the O(n²) formulation at sf0.01 and sf0.1), while the
    * cost tracks shingle rarity instead of n². CTEs are MATERIALIZED:
    * ex/s fan out to several consumers and DuckDB's default inlining
    * re-computed the shingling once per reference.
    */
  private def nearDupPairCtes(src: String): String = s"""t AS MATERIALIZED (
      SELECT doc_id,
             list_filter(string_split_regex(trim(regexp_replace(lower(text),'[^a-z0-9\\s]+',' ','g')),'\\s+'), x -> x <> '') AS toks
      FROM $src),
    s AS MATERIALIZED (
      SELECT doc_id,
             list_distinct(CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
                  ELSE list_transform(range(1, len(toks) - 1),
                       i -> array_to_string(list_slice(toks, i, i+2), ' ')) END) AS sh
      FROM t),
    ex AS MATERIALIZED (
      SELECT doc_id, unnest(sh) AS g, len(sh) AS n FROM s),
    gdf AS MATERIALIZED (
      SELECT g, count(*) AS df FROM ex GROUP BY g),
    pref AS MATERIALIZED (
      SELECT doc_id, g FROM (
        SELECT ex.doc_id, ex.g, ex.n,
               row_number() OVER (PARTITION BY ex.doc_id
                                  ORDER BY gdf.df, ex.g) AS r
        FROM ex JOIN gdf USING (g))
      WHERE r <= n - ((11 * n + 19) // 20) + 1),
    cand AS MATERIALIZED (
      SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
                      greatest(a.doc_id, b.doc_id) AS id_b
      FROM pref a JOIN ex b USING (g)
      WHERE a.doc_id <> b.doc_id),
    inter AS MATERIALIZED (
      SELECT c.id_a, c.id_b, count(*) AS i
      FROM cand c
      JOIN ex a ON a.doc_id = c.id_a
      JOIN ex b ON b.doc_id = c.id_b AND b.g = a.g
      GROUP BY c.id_a, c.id_b),
    nn AS MATERIALIZED (
      SELECT doc_id, len(sh) AS n FROM s),
    p AS (
      SELECT i.id_a, i.id_b,
             CASE WHEN (na.n + nb.n - i.i) > 0
                  THEN CAST(i.i AS DOUBLE)
                       / CAST(na.n + nb.n - i.i AS DOUBLE)
                  ELSE 1.0 END AS j
      FROM inter i JOIN nn na ON na.doc_id = i.id_a
                   JOIN nn nb ON nb.doc_id = i.id_b)"""

  private val minhashNearDupsSql = s"""
    WITH ${nearDupPairCtes("documents")}
    SELECT id_a, id_b, round(j, 6) AS jaccard FROM p WHERE round(j, 6) >= 0.6"""

  private val minhashPairsSql = s"""
    WITH ${nearDupPairCtes("documents")}
    SELECT id_a, id_b FROM p WHERE round(j, 6) >= 0.6"""

  /** [[minhashNearDups]] with a deterministic REPLICA-WINDOW readout —
    * the formulation that makes the operator hash-gateable at corpus
    * scales where the full-corpus pair oracle outgrows DuckDB (the
    * `dedup_spans_sample` discipline applied to near-dup pairs).
    *
    * The OPERATOR runs on the FULL corpus: signature build, banding,
    * candidate join, and exact verification all see every document, so
    * any at-scale recall loss (bucket density, hot keys) is live in
    * the plan under test. Only the READOUT is windowed: the gate keeps
    * pairs whose BOTH endpoints fall in a deterministic 1-in-50 sample
    * of inflation replicas (`doc_id div STRIDE ≡ 0 (mod 50)`, STRIDE =
    * 1e8 — InflateSf's key-shift unit). Because the inflation planted
    * near-dup structure strictly WITHIN replicas (cross-replica
    * shingle sets are disjoint by the per-replica token suffix), the
    * sample unit is the replica, and the windowed pair set is exactly
    * the pair set of the sampled SUB-corpus — which is what the oracle
    * computes with the same prefix-filtered All-Pairs join over
    * `documents WHERE (doc_id // 1e8) % 50 = 0`. At sf100 that is a
    * 100k-doc oracle (20 of 1000 replicas) against a 5M-doc operator
    * run; at the sf0.01 driver gate every doc_id < 1e8, the window is
    * the whole corpus, and the row degenerates to exact equality with
    * `minhash_near_dups`.
    *
    * The window filters verified pairs: the candidate and verify caches
    * hold every pair of the full corpus. Banding recall is a PER-PAIR
    * property (a pair collides iff its own two signatures agree on a
    * band, independent of every other document — no cap, no bucket
    * interaction), so the windowed pair set is the sub-corpus pair set.
    * The full-corpus run's feasibility evidence stays with the unsampled
    * `minhash_near_dups` row, benched at every sf.
    */
  def minhashNearDupsSample(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    Dedup.pairJaccard(docs, Dedup.minHashCandidates(docs, bands = 32))
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .where(col("jaccard") >= 0.6)
      .where(expr("(id_a div 100000000) % 50 = 0 AND (id_b div 100000000) % 50 = 0"))
      .orderBy("id_a", "id_b")
  }

  private val minhashNearDupsSampleSql = s"""
    WITH docs_rs AS MATERIALIZED (
      SELECT * FROM documents WHERE (doc_id // 100000000) % 50 = 0),
    ${nearDupPairCtes("docs_rs")}
    SELECT id_a, id_b, round(j, 6) AS jaccard FROM p WHERE round(j, 6) >= 0.6"""

  /** Signature-build stage alone (perf probe; rows-only). The raw
    * Array[Long] signature is digested to one deterministic scalar per
    * row (xxhash64 over the array) — the driver's pandas row-sort cannot
    * order ndarray cells, so array columns must never reach the gate.
    */
  /** The MinHash signature kernel under a DuckDB-checkable contract.
    * Raw signature values are xxhash64-specific (no DuckDB equivalent),
    * so the gate checks the kernel's verifiable INVARIANTS instead:
    * every signature carries exactly 64 hashes, and a planted EXACT
    * COPY (same text, different id) produces an IDENTICAL signature —
    * signatures are a pure function of the text, so any
    * nondeterminism, id-dependence, or per-row state in the kernel
    * fails this row. Raw values are exercised end-to-end by the
    * exactly-oracled minhash_pairs / minhash_near_dups rows.
    */
  def minhashSigs(s: SparkSession, dir: String): DataFrame = {
    val sigs = Dedup.minHashSignatures(plantedCorpus(T(s, dir, "documents")))
    val a = sigs.where(col("doc_id") < 25)
      .select(col("doc_id"), col("_sig").as("_sa"))
    val b = sigs.where(col("doc_id") >= 10000)
      .select((col("doc_id") - 10000).as("doc_id"), col("_sig").as("_sb"))
    a.join(b, Seq("doc_id"))
      .select(col("doc_id"),
        size(col("_sa")).cast(IntegerType).as("sig_len"),
        (col("_sa") === col("_sb")).as("copy_sig_equal"))
      .orderBy("doc_id")
  }

  private val minhashSigsSql = """
    SELECT doc_id, 64 AS sig_len, TRUE AS copy_sig_equal
    FROM documents WHERE doc_id < 25"""

  /** SimHash exact-duplicate detection with a DuckDB oracle: the corpus
    * is unioned with id-offset EXACT copies of the first 25 documents and
    * the pipeline runs at maxDistance = 0 (pairs with identical 64-bit
    * SimHash), restricted to (original, planted-copy) pairs. SimHash is a
    * deterministic function of the normalized token multiset, so every
    * copy collides with its original; the only way another pair could
    * enter is a natural equal-hash pair touching a doc_id < 25, and the
    * corpus has exactly ONE natural equal-hash pair — (107, 387), both
    * ids >= 25 (fixed dataset property, measured) — so the output is
    * exactly the 25 planted pairs the oracle enumerates. Exercises the
    * kernel, banding, the bucket-capped candidate join, and the distance
    * filter end-to-end with hash verification. (Distance-0 recall is
    * never sacrificed by the bucket cap: equal-hash pairs that meet only
    * in an oversized bucket are recovered by the full-hash star pass.)
    */
  /** Planted-copy corpus shared by the simhash pair gates: the first 25
    * documents unioned back in as exact copies at doc_id + 10000. */
  private def plantedCorpus(docs: DataFrame): DataFrame = {
    val idType = docs.schema("doc_id").dataType
    val planted = docs.where(col("doc_id") < 25)
      .select((col("doc_id") + lit(10000)).cast(idType).as("doc_id"), col("text"))
    docs.select("doc_id", "text").unionByName(planted)
  }

  /** The simhash pair oracles enumerate exactly the 25 planted pairs;
    * that equality holds ONLY if every equal-hash group touching a
    * planted id is exactly {a, a+10000} — a ≥3-member group would make
    * the hot-bucket star pass emit rep→member links instead of the full
    * pairwise set, and a natural doc sharing a planted hash would add a
    * (natural, copy) row the oracle doesn't list. The fixture satisfies
    * this today (the one natural equal-hash pair is (107, 387), both
    * outside the planted range); assert it so a future fixture/seed
    * change fails LOUDLY here rather than as a confusing gate hash diff.
    *
    * The check is a fixture property, not a query property, so it is
    * MEMOIZED per fixture dir: the first simhash pair gate built in a
    * JVM pays the one bounded corpus pass; subsequent plan
    * constructions over the same dir (the sibling capped query, bench
    * re-runs) are free. Without this, BOTH pair queries re-ran the
    * full-corpus job at every plan build (the eager-construction
    * anti-pattern this repo otherwise bans from library code).
    */
  private val plantedIsolationChecked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def assertPlantedHashIsolation(corpus: DataFrame, dir: String): Unit = {
    if (plantedIsolationChecked.contains(dir)) return
    val bad = Dedup.simHashes(corpus)
      .groupBy("_sh")
      .agg(min("doc_id").as("lo"), max("doc_id").as("hi"), count(lit(1)).as("n"))
      // only GROUPS (n >= 2) can mint candidate pairs: a singleton whose
      // id happens to exceed 10000 (every doc of an id-shifted inflated
      // corpus) is vacuously isolated and must not trip the guard
      .where(col("n") >= 2 && (col("lo") < 25 || col("hi") >= 10000) &&
        !(col("n") === 2 && col("lo") < 25 && col("hi") === col("lo") + 10000))
      .select("lo", "hi", "n").limit(1).collect()
    require(bad.isEmpty,
      s"simhash planted-pair oracle precondition violated: equal-hash group " +
        s"(lo=${bad.head.get(0)}, hi=${bad.head.get(1)}, n=${bad.head.get(2)}) " +
        "touches the planted id range but is not an {a, a+10000} pair")
    plantedIsolationChecked.add(dir)
  }

  def simhashPairs(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val corpus = plantedCorpus(docs)
    assertPlantedHashIsolation(corpus, dir)
    Dedup.simHashCandidates(corpus, maxDistance = 0, bands = 8, maxBucketSize = 1000)
      .where(col("id_a") < 10000 && col("id_b") >= 10000)
      .select("id_a", "id_b")
      .orderBy("id_a", "id_b")
  }

  private val simhashPairsSql = """
    SELECT doc_id AS id_a, doc_id + 10000 AS id_b
    FROM documents WHERE doc_id < 25"""

  /** The planted-copy query again, but with `maxBucketSize` = 50 —
    * BELOW sf0.01's largest (band,key) bucket (88 members) — so the
    * hot-bucket census, the capped pairwise pass, AND the star +
    * sorted-neighbor recovery rules all execute under hash
    * verification, not just in DedupSpec. The oracle is identical:
    * planted copies have hamming-0 hashes, and hamming-0 recall is
    * complete under the cap (pairwise for cool buckets, the full-hash
    * star for hot ones — each copy's equal-hash group is exactly
    * {original, copy}, giving the (a, a+10000) link verbatim; the one
    * natural equal-hash pair (107, 387) is cut by the id-range filter).
    */
  def simhashPairsCapped(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val corpus = plantedCorpus(docs)
    assertPlantedHashIsolation(corpus, dir)
    Dedup.simHashCandidates(corpus, maxDistance = 0, bands = 8, maxBucketSize = 50)
      .where(col("id_a") < 10000 && col("id_b") >= 10000)
      .select("id_a", "id_b")
      .orderBy("id_a", "id_b")
  }

  /** The SATURATED regime's gate: `maxBucketSize` = 10 puts sf0.01's
    * largest (band,key) bucket (88 members) past the sub-band pass's
    * 8·cap = 80 bound, so the documented saturation fallback — star +
    * sorted-neighbor ONLY, no sub-band refinement — actually executes
    * under hash verification (every other simhash row stays in the
    * cool or cap-adjacent regimes at the driver gate). Round 16
    * measured WHY the fallback is the design (not an economy): an
    * ungated sub-band pass at saturation density generates a
    * semantically quadratic candidate set (SCALE.md round 16), so the
    * gate pins the load-shedding behavior the operator deliberately
    * keeps. One invariants row, all computed Spark-side, oracle pure
    * literals:
    *
    *   - `planted_found` = 25: hamming-0 recall survives saturation.
    *     Equal-hash docs share every band bucket; a planted copy pair
    *     meets in the capped join if any shared bucket is cool and in
    *     the full-hash star otherwise — the fallback's unconditional
    *     guarantee, independent of cap, window, or bucket size.
    *   - `saturation_exercised`: ≥ 1 bucket above 8·cap (via
    *     [[Dedup.simHashBucketCensus]] — the same banding algebra the
    *     operator runs), so this row FAILS LOUDLY if a fixture regen
    *     or parameter edit quietly drops the gate back into the
    *     regimes other rows already cover.
    *   - `within_pair_bound`: output pairs ≤ the operator's documented
    *     census-derived cost bound — Σ C(n,2) over cool buckets, plus
    *     hot membership · (1 + window) for star + sorted-neighbor,
    *     plus 8 · cap-adjacent membership · (cap/2 + window) for the
    *     sub-band pass — pinning that the degraded path's output
    *     volume (and so its shuffle) stays inside the contract that
    *     makes the cap scale-safe.
    *
    * maxDistance = 3 (not 0) so the run takes the full recovery
    * machinery's code path — at 0 the operator rightly skips the
    * sub-band pass, and the saturation branch would be dead code.
    */
  def simhashPairsSaturated(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val corpus = plantedCorpus(docs)
    assertPlantedHashIsolation(corpus, dir)
    val cap = 10
    val window = 8
    val out = Dedup.simHashCandidates(corpus, maxDistance = 3, bands = 8,
      maxBucketSize = cap, neighborWindow = window)
    val census = Dedup.simHashBucketCensus(corpus, bands = 8)
    val bounds = census.agg(
      sum(when(col("_n") > 8 * cap, 1L).otherwise(0L)).as("_saturated"),
      (sum(when(col("_n") <= cap, col("_n") * (col("_n") - 1) / 2).otherwise(0L)) +
        sum(when(col("_n") > cap, col("_n") * (1 + window)).otherwise(0L)) +
        sum(when(col("_n") > cap && col("_n") <= 8 * cap,
          col("_n") * 8 * (cap / 2 + window)).otherwise(0L))).as("_bound"))
    val counts = out.agg(
      sum(when(col("id_a") < 25 && col("id_b") === col("id_a") + 10000 &&
        col("hamming") === 0, 1L).otherwise(0L)).as("_planted"),
      count(lit(1)).as("_pairs"))
    // two 1-row aggregates: the cross join is a broadcast scalar
    counts.crossJoin(bounds).select(
      col("_planted").as("planted_found"),
      (col("_saturated") >= 1L).as("saturation_exercised"),
      (col("_pairs") <= col("_bound")).as("within_pair_bound"))
  }

  private val simhashPairsSaturatedSql = """
    SELECT CAST(25 AS BIGINT) AS planted_found,
           TRUE AS saturation_exercised,
           TRUE AS within_pair_bound"""

  /** SimHash-bucketed near-dup pipeline, oracled against the exact-pair
    * CTE MINUS the measured SimHash blind-spot list: banded candidates
    * -> exact n-gram-Jaccard verify at 0.6. SimHash is a deterministic
    * function of the text (no seeds, no sampling), so recall at the
    * operating point is a fixed property of the dataset: 8 bands
    * pigeonhole-guarantee recall to Hamming distance 7 (bands = 4 would
    * be WRONG here: two pairs at jaccard >= 0.97 sit at hamming 5 and 7
    * and share no 16-bit slice), and the narrow 8-bit key space is made
    * scale-safe by the hot-bucket cap (maxBucketSize = 1000) with the
    * star + sorted-neighbor recovery passes.
    *
    * BEYOND the hamming-7 envelope, Jaccard-completeness is NOT a
    * SimHash contract — hamming estimates token-frequency cosine, not
    * shingle Jaccard — and the round-15 skip-free sf1 sweep proved the
    * fixture exercises that boundary: docs (1166, 4828) share 90.9% of
    * shingles (j = 0.909091) yet sit at hamming 10 with differing bits
    * in ALL EIGHT bands (xor bytes 01 80 14 08 80 41 02 20 — no clean
    * slice), so NO bucket cap, window, or recovery pass can surface
    * them; they are findable by MinHash (Jaccard-native banding, the
    * exactly-oracled sibling row) but structurally invisible to
    * bands=8 SimHash. The oracle therefore subtracts the pinned
    * blind-spot list — the (107, 387) measured-fixture-property
    * pattern — and SimhashBlindSpotSpec re-derives each pin's
    * diagnostic (hamming, per-band disagreement, true jaccard) from
    * the corpus so a fixture or kernel change fails the SPEC loudly
    * rather than surfacing as a bare gate hash diff. The pinned pair
    * lives in the sf0.1-and-up corpora (doc_ids >= 500); at the
    * sf0.01 driver gate the subtraction matches nothing and the
    * oracle degenerates to exact equality, which holds there.
    */
  def simhashNearDups(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    // SimHash's 8-bit band keys are unselective (~50 candidate pairs per
    // doc at sf0.1); pairJaccard shingles each document once for all of
    // its pairs
    val cands = Dedup.simHashCandidates(docs, maxDistance = 16, bands = 8,
      maxBucketSize = 1000)
    Dedup.pairJaccard(docs, cands)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .where(col("jaccard") >= 0.6)
      .orderBy("id_a", "id_b")
  }

  /** SimHash blind-spot pairs: true near-dup pairs (jaccard >= 0.6)
    * measured OUTSIDE the bands=8 pigeonhole envelope — hamming > 7
    * with NO agreeing 8-bit band, so structurally invisible to the
    * banded join regardless of cap or recovery passes (see
    * [[simhashNearDups]]). Every entry is re-derived from the corpus
    * by SimhashBlindSpotSpec, which fails LOUDLY if a pin stops being
    * a blind spot (fixture regen, kernel change) or if NEW blind-spot
    * pairs appear unpinned.
    */
  val simhashBlindSpot: Seq[(Long, Long)] = Seq((1166L, 4828L))

  // guard: an empty pin list must NOT emit "AND NOT ()" (a DuckDB
  // syntax error) — e.g. after a fixture regen clears the pins
  private val simhashBlindSpotClause =
    if (simhashBlindSpot.isEmpty) ""
    else simhashBlindSpot
      .map { case (a, b) => s"(id_a = $a AND id_b = $b)" }
      .mkString("\n      AND NOT (", " OR ", ")")

  private val simhashNearDupsSql = s"""
    WITH ${nearDupPairCtes("documents")}
    SELECT id_a, id_b, round(j, 6) AS jaccard FROM p
    WHERE round(j, 6) >= 0.6$simhashBlindSpotClause"""

  /** Census-driven near-dup auto-routing, COOL fixture: the engine
    * ACTS on the saturation boundary round 16 measured
    * ([[graft.ops.Dedup.nearDupsAuto]]) instead of documenting the
    * hand-off. The corpus is the replica-0 window (`doc_id < 1e8` —
    * the whole corpus at the sf0.01 gate, the sf0.1 corpus verbatim
    * under any inflation), which stays inside SimHash's recovery
    * regime at the production cap (n ≤ 5000 ≪ 8·1000), so the census
    * must route SIMHASH at every sf and the verified pair set must
    * equal the exact ground truth minus the pinned structural blind
    * spots — the same contract as `simhash_near_dups`, now reached
    * THROUGH the dispatcher, with the taken route pinned as an output
    * column the oracle states as a literal.
    */
  def nearDupsAutoQ(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents").where(col("doc_id") < 100000000L)
    val (route, cands) = Dedup.nearDupsAuto(docs)
    Dedup.pairJaccard(docs, cands)
      .select(lit(route).as("route"), col("id_a"), col("id_b"),
        round(col("jaccard"), 6).as("jaccard"))
      .where(col("jaccard") >= 0.6)
      .orderBy("id_a", "id_b")
  }

  private val nearDupsAutoSql = s"""
    WITH dw AS MATERIALIZED (
      SELECT doc_id, text FROM documents WHERE doc_id < 100000000),
    ${nearDupPairCtes("dw")}
    SELECT 'simhash' AS route, id_a, id_b, round(j, 6) AS jaccard FROM p
    WHERE round(j, 6) >= 0.6$simhashBlindSpotClause"""

  /** Census-driven near-dup auto-routing, SATURATED fixture: volume
    * replicas of the replica-0 window with per-replica token suffixes —
    * texts DISTINCT across replicas (shingles disjoint, so MinHash
    * banding stays selective) while the 8-bit SimHash band keyspace
    * collapses under sheer density: replication targets ≥ 24000 docs,
    * putting the mean bucket at ≥ 24000/256 = 93.75, and max ≥ mean,
    * so some bucket exceeds the sub-band regime (8·cap = 80 at the
    * gate's cap = 10) BY CONSTRUCTION at every sf — saturation from
    * density,
    * the regime the census exists to catch (mass-duplication is exact
    * dedup's job upstream). The dispatcher must therefore route
    * MINHASH, and the 25 planted exact copies (identical signatures →
    * banding recall certain) must all surface at jaccard 1.0. Output
    * is the saturated-gate boolean shape (`simhash_pairs_saturated`
    * precedent): the oracle states the route, the census verdict, and
    * the planted count as literals; the Spark side must DERIVE them.
    */
  def nearDupsAutoSaturatedQ(s: SparkSession, dir: String): DataFrame = {
    val base = T(s, dir, "documents").where(col("doc_id") < 100000000L)
      .select("doc_id", "text")
    // replicate only to the pigeonhole target (fixed corpus size, not a
    // fixed factor): a 50x factor on the 5000-doc window was pure waste
    // — the guarantee needs >= 24000 docs, no more. One bounded driver
    // row carries the count plus the two fixture invariants the replica
    // arithmetic leans on; the oracle outputs are volume-independent
    // booleans, so the adaptive factor never reaches the compare.
    val stats = base.agg(count(lit(1)).as("n"), max("doc_id").as("mx"),
      sum(when(col("doc_id") < 25, 1L).otherwise(0L)).as("low")).head()
    // fixture-drift guards (round-17 advice): the replica stride is 1e6
    // and the planted set is exactly doc_id 0..24 — a regenerated
    // fixture violating either would silently collide replica ids or
    // flip planted_found; fail fast with a diagnostic instead.
    require(stats.getLong(1) < 1000000L,
      s"saturated fixture: window max doc_id ${stats.getLong(1)} >= replica stride 1e6")
    require(stats.getLong(2) == 25L,
      s"saturated fixture: expected exactly 25 docs with doc_id < 25, got ${stats.getLong(2)}")
    val reps = math.max(2, math.ceil(24000.0 / stats.getLong(0)).toInt)
    val corpus = (0 until reps).map { r =>
      // per-replica token suffix via ONE codegen regexp_replace (every
      // non-space run gets the suffix) — the transform(split(...))
      // formulation evaluated its lambda INTERPRETED per token and
      // dominated the gate's corpus-construction pass. Whitespace
      // handling differs trivially from the old form (original spacing
      // kept, no phantom token on edge whitespace); the gate's derived
      // booleans are construction-shape-independent: replicas stay
      // shingle-disjoint (suffix per replica), the ≥ 24000-doc density
      // pigeonhole is count-based, and the planted copies are verbatim.
      val t =
        if (r == 0) col("text")
        else regexp_replace(col("text"), "(\\S+)", s"$$1q$r")
      base.select((col("doc_id") + lit(r * 1000000L)).as("doc_id"), t.as("text"))
    }.reduce(_.unionByName(_))
    // planted ids live one replica-stride ABOVE the last replica, so no
    // adaptive factor can ever collide them with replica territory
    val plantedShift = reps.toLong * 1000000L
    val planted = base.where(col("doc_id") < 25)
      .select((col("doc_id") + lit(plantedShift)).as("doc_id"), col("text"))
    // the constructed corpus feeds THREE passes (dispatcher hashing,
    // verify shingling, the census readout) — persist it so the
    // union-of-transforms is built once
    val full = corpus.unionByName(planted)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cap = 10
    // nearDupsAutoDetail: the dispatcher's own (persisted) census backs
    // the saturation readout below — the previous simHashBucketCensus
    // call here re-hashed the 24k-doc corpus a SECOND time to rebuild
    // the exact frame the dispatcher had just aggregated
    val (route, cands, census) = Dedup.nearDupsAutoDetail(full, maxBucketSize = cap)
    val verified = Dedup.pairJaccard(full, cands)
      .select(col("id_a"), col("id_b"), round(col("jaccard"), 6).as("jaccard"))
      .where(col("jaccard") >= 0.6)
    val saturatedBuckets = census
      .agg(sum(when(col("_n") > 8L * cap, 1L).otherwise(0L)).as("_sat"))
    verified.agg(
      sum(when(col("id_a") < 25 && col("id_b") === col("id_a") + plantedShift &&
        col("jaccard") === 1.0, 1L).otherwise(0L)).as("planted_found"))
      .crossJoin(saturatedBuckets)
      .select(lit(route).as("route"),
        (col("_sat") >= 1L).as("saturation_exercised"),
        col("planted_found"))
  }

  private val nearDupsAutoSaturatedSql = """
    SELECT 'minhash' AS route,
           TRUE AS saturation_exercised,
           CAST(25 AS BIGINT) AS planted_found"""

  /** Brute-force exact cosine top-k (k=5, 3 query vectors). */
  def annBruteTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    Ann.bruteForceTopK(emb, emb.where(col("vec_id") < 3), k = 5)
      .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"),
        col("rank").cast(IntegerType).as("rank"))
  }

  private val annBruteSql = """
    WITH q AS (SELECT vec_id AS query_id, embedding AS qvec FROM embeddings WHERE vec_id < 3),
    scored AS (
      SELECT q.query_id, e.vec_id AS neighbor_id,
             CASE WHEN (sqrt(list_sum(list_transform(list_zip(q.qvec, q.qvec), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE))))
                       * sqrt(list_sum(list_transform(list_zip(e.embedding, e.embedding), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE))))) > 0
                  THEN list_sum(list_transform(list_zip(q.qvec, e.embedding), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(list_zip(q.qvec, q.qvec), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE))))
                          * sqrt(list_sum(list_transform(list_zip(e.embedding, e.embedding), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)))))
                  ELSE 0.0 END AS cos_raw
      FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id)
    SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine,
           CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC) AS INT) AS rank
    FROM scored
    QUALIFY rank <= 5"""

  /** Int8-quantized brute-force top-k (k=5, same 3 query vectors as
    * `ann_brute_topk`). EXACTLY oracled, not tolerance-compared: the
    * per-vector max-abs quantization is one deterministic round() both
    * engines replay, and every quantized dot is a sum of integer
    * products — bit-identical doubles, so ranks and r6 cosines match
    * DuckDB hash-for-hash. AnnSpec separately audits recall vs the
    * float path (the approximation trade the 4×-smaller storage buys).
    */
  def annInt8TopK(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    Ann.int8TopK(emb, emb.where(col("vec_id") < 3), k = 5)
      .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"),
        col("rank").cast(IntegerType).as("rank"))
  }

  private val annInt8Sql = """
    WITH qz AS (
      SELECT vec_id,
             CASE WHEN m > 0
                  THEN list_transform(embedding, x -> round(CAST(x AS DOUBLE) * 127.0 / m))
                  ELSE list_transform(embedding, x -> CAST(0.0 AS DOUBLE)) END AS q
      FROM (SELECT vec_id, embedding,
                   CAST(list_max(list_transform(embedding, x -> abs(x))) AS DOUBLE) AS m
            FROM embeddings)),
    qq AS (SELECT vec_id AS query_id, q AS qvec FROM qz WHERE vec_id < 3),
    scored AS (
      SELECT qq.query_id, e.vec_id AS neighbor_id,
             CASE WHEN (sqrt(list_sum(list_transform(list_zip(qq.qvec, qq.qvec), p -> p[1]*p[2])))
                       * sqrt(list_sum(list_transform(list_zip(e.q, e.q), p -> p[1]*p[2])))) > 0
                  THEN list_sum(list_transform(list_zip(qq.qvec, e.q), p -> p[1]*p[2]))
                       / (sqrt(list_sum(list_transform(list_zip(qq.qvec, qq.qvec), p -> p[1]*p[2])))
                          * sqrt(list_sum(list_transform(list_zip(e.q, e.q), p -> p[1]*p[2]))))
                  ELSE 0.0 END AS cos_raw
      FROM qz e CROSS JOIN qq WHERE e.vec_id <> qq.query_id)
    SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine,
           CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC) AS INT) AS rank
    FROM scored
    QUALIFY rank <= 5"""

  /** Embedding-cosine near-dup pipeline with a DuckDB oracle. The raw
    * testdata embeddings contain no true near-dups, so the query PLANTS
    * them: the corpus is unioned with id-offset copies of its first 25
    * vectors, each perturbed by zeroing element 1 — an exact float
    * operation both engines reproduce bit-for-bit (no arithmetic), giving
    * planted cosines >= 0.9449 vs a measured noise ceiling of 0.5129. The
    * sign-LSH candidate join at the default operating point (16 planes,
    * 4 bands) provably finds all 25 planted pairs on this data (the
    * collision set of a deterministic hash is a fixed dataset property),
    * so the output equals the brute-force >= 0.8 pair set the oracle
    * computes — the embedding-space sibling of minhash_near_dups.
    */
  def annCosineDedup(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val idType = emb.schema("vec_id").dataType
    val planted = emb.where(col("vec_id") < 25).select(
      (col("vec_id") + lit(10000)).cast(idType).as("vec_id"),
      concat(array(lit(0.0f)), slice(col("embedding"), 2, 63)).as("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionByName(planted)
    Ann.cosineNearDupPairs(corpus, threshold = 0.8, dim = 64)
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
      .orderBy("id_a", "id_b")
  }

  private val annCosineDedupSql = """
    WITH u AS (
      SELECT vec_id AS id, embedding AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 10000, list_concat([CAST(0.0 AS FLOAT)], embedding[2:64])
      FROM embeddings WHERE vec_id < 25),
    p AS (
      SELECT a.id AS id_a, b.id AS id_b,
             CASE WHEN (sqrt(list_sum(list_transform(list_zip(a.v, a.v), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE))))
                       * sqrt(list_sum(list_transform(list_zip(b.v, b.v), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE))))) > 0
                  THEN list_sum(list_transform(list_zip(a.v, b.v), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(list_zip(a.v, a.v), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE))))
                          * sqrt(list_sum(list_transform(list_zip(b.v, b.v), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)))))
                  ELSE 0.0 END AS cos_raw
      FROM u a JOIN u b ON a.id < b.id)
    SELECT id_a, id_b, round(cos_raw, 6) AS cosine
    FROM p WHERE cos_raw >= CAST(0.8 AS DOUBLE)"""

  /** The centroid-split near-dup pairs (Ann.cosineNearDupPairs with
    * `centroids`): the SAME planted corpus as `ann_cosine_dedup`,
    * candidates bounded by (cluster, band, key) — the SemDeDup
    * composition applied to the PAIRS operator, whose band-bucket
    * quadratic residue at a fixed operating point was the honest sf10
    * wall (SCALE.md r13 finding #2). The oracle replays the cluster
    * assignment (argmax cosine over the 32 fixed-id centroids, ties to
    * the higher id) and restricts the exact pair join to same-cluster
    * pairs — so a near-dup pair straddling a cluster boundary is
    * excluded from BOTH engines, gating exactly the semantics the
    * operator promises (within-cluster recall; the unrestricted pair
    * set remains `ann_cosine_dedup`'s contract).
    */
  def annCosineDedupClusteredQ(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val idType = emb.schema("vec_id").dataType
    val planted = emb.where(col("vec_id") < 25).select(
      (col("vec_id") + lit(10000)).cast(idType).as("vec_id"),
      concat(array(lit(0.0f)), slice(col("embedding"), 2, 63)).as("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionByName(planted)
    val ctrs = emb.where(col("vec_id").isin(semanticK32CentroidIds: _*))
      .select(col("vec_id").cast(LongType), col("embedding")).collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1).toSeq
    Ann.cosineNearDupPairs(corpus, threshold = 0.8, dim = 64, centroids = Some(ctrs))
      .select(col("id_a"), col("id_b"), round(col("cosine"), 6).as("cosine"))
      .orderBy("id_a", "id_b")
  }

  private def annCosineDedupClusteredSql: String = s"""
    WITH u AS (
      SELECT vec_id AS id, embedding AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 10000, list_concat([CAST(0.0 AS FLOAT)], embedding[2:64])
      FROM embeddings WHERE vec_id < 25),
    ctr AS (
      SELECT vec_id AS cid, embedding AS cv FROM embeddings
      WHERE vec_id IN (${semanticK32CentroidIds.mkString(", ")})),
    scored AS (
      SELECT u.id, u.v, ctr.cid,
             CASE WHEN (sqrt(list_sum(list_transform(list_zip(u.v, u.v), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE))))
                       * sqrt(list_sum(list_transform(list_zip(ctr.cv, ctr.cv), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE))))) > 0
                  THEN list_sum(list_transform(list_zip(u.v, ctr.cv), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(list_zip(u.v, u.v), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE))))
                          * sqrt(list_sum(list_transform(list_zip(ctr.cv, ctr.cv), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)))))
                  ELSE 0.0 END AS sim
      FROM u CROSS JOIN ctr),
    asg AS (
      SELECT id, v, cid AS cluster
      FROM scored
      QUALIFY row_number() OVER (PARTITION BY id ORDER BY sim DESC, cid DESC) = 1),
    p AS (
      SELECT a.id AS id_a, b.id AS id_b,
             CASE WHEN (sqrt(list_sum(list_transform(list_zip(a.v, a.v), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE))))
                       * sqrt(list_sum(list_transform(list_zip(b.v, b.v), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE))))) > 0
                  THEN list_sum(list_transform(list_zip(a.v, b.v), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(list_zip(a.v, a.v), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE))))
                          * sqrt(list_sum(list_transform(list_zip(b.v, b.v), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)))))
                  ELSE 0.0 END AS cos_raw
      FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.id < b.id)
    SELECT id_a, id_b, round(cos_raw, 6) AS cosine
    FROM p WHERE cos_raw >= CAST(0.8 AS DOUBLE)"""

  /** SemDeDup gate (Ann.semanticDedup): the SAME planted corpus as
    * `ann_cosine_dedup`, clustered against 8 fixed-id centroid vectors
    * and pruned by the keep-least-central rule. The centroid set is
    * bounded metadata both engines derive INDEPENDENTLY from the
    * parquet (fixed literal ids — not a compiled artifact shared
    * between the sides): DuckDB re-runs assignment (argmax cosine,
    * ties to the higher centroid id — the greatest(struct) order),
    * within-cluster pairing, and the drop rule from scratch as plain
    * SQL over all within-cluster pairs. The Spark side restricts
    * candidate pairs to band collisions; equality with the oracle's
    * unrestricted pair set holds by the `ann_cosine_dedup` fixture
    * property (noise cosine ceiling 0.5129 < 0.8, and every planted
    * >= 0.8 pair collides at the 16-plane/4-band operating point), so
    * the gate also re-verifies that completeness claim each run.
    * The Spark-side centroid collect is 8 rows — metadata, not data.
    */
  private val semanticCentroidIds = Seq(2, 17, 29, 41, 53, 67, 79, 97)

  /** The k-GROWTH operating point, gated: same corpus, same rules, but
    * k = 32 centroids — the configuration class the production
    * prescription (k ∝ n, see [[semanticDedupScaled]]) actually runs,
    * which until round 14 was bench-only. The oracle is the identical
    * full DuckDB replay (assignment argmax over 32 centroids,
    * within-cluster pairs, keep-least-central), so the composed
    * operator — native nearest-centroid kernel included — is
    * hash-pinned at a corpus-proportional k, not just the k=8 fixed
    * point. Centroid ids 1,4,...,94 all exist at every sf.
    */
  private val semanticK32CentroidIds: Seq[Int] = (0 until 32).map(i => 3 * i + 1)

  def semanticDedupQ(s: SparkSession, dir: String): DataFrame =
    semanticDedupQFor(s, dir, semanticCentroidIds)

  def semanticDedupK32Q(s: SparkSession, dir: String): DataFrame =
    semanticDedupQFor(s, dir, semanticK32CentroidIds)

  private def semanticDedupQFor(s: SparkSession, dir: String, centroidIds: Seq[Int]): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val idType = emb.schema("vec_id").dataType
    val planted = emb.where(col("vec_id") < 25).select(
      (col("vec_id") + lit(10000)).cast(idType).as("vec_id"),
      concat(array(lit(0.0f)), slice(col("embedding"), 2, 63)).as("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionByName(planted)
    val ctrs = emb.where(col("vec_id").isin(centroidIds: _*))
      .select(col("vec_id").cast(LongType), col("embedding")).collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1).toSeq
    Ann.semanticDedup(corpus, ctrs, threshold = 0.8, dim = 64)
      .select(col("vec_id"), col("cluster"),
        round(col("centroid_sim"), 6).as("centroid_sim"))
      .orderBy("vec_id")
  }

  private def semanticDedupSqlFor(centroidIds: Seq[Int]): String = s"""
    WITH u AS (
      SELECT vec_id AS id, embedding AS v FROM embeddings
      UNION ALL
      SELECT vec_id + 10000, list_concat([CAST(0.0 AS FLOAT)], embedding[2:64])
      FROM embeddings WHERE vec_id < 25),
    ctr AS (
      SELECT vec_id AS cid, embedding AS cv FROM embeddings
      WHERE vec_id IN (${centroidIds.mkString(", ")})),
    scored AS (
      SELECT u.id, u.v, ctr.cid,
             CASE WHEN (sqrt(list_sum(list_transform(list_zip(u.v, u.v), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE))))
                       * sqrt(list_sum(list_transform(list_zip(ctr.cv, ctr.cv), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE))))) > 0
                  THEN list_sum(list_transform(list_zip(u.v, ctr.cv), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(list_zip(u.v, u.v), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE))))
                          * sqrt(list_sum(list_transform(list_zip(ctr.cv, ctr.cv), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)))))
                  ELSE 0.0 END AS sim
      FROM u CROSS JOIN ctr),
    asg AS (
      SELECT id, v, cid AS cluster, sim AS csim
      FROM scored
      QUALIFY row_number() OVER (PARTITION BY id ORDER BY sim DESC, cid DESC) = 1),
    p AS (
      SELECT a.id AS ia, a.csim AS ca, b.id AS ib, b.csim AS cb,
             CASE WHEN (sqrt(list_sum(list_transform(list_zip(a.v, a.v), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE))))
                       * sqrt(list_sum(list_transform(list_zip(b.v, b.v), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE))))) > 0
                  THEN list_sum(list_transform(list_zip(a.v, b.v), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)))
                       / (sqrt(list_sum(list_transform(list_zip(a.v, a.v), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE))))
                          * sqrt(list_sum(list_transform(list_zip(b.v, b.v), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)))))
                  ELSE 0.0 END AS cs
      FROM asg a JOIN asg b ON a.cluster = b.cluster AND a.id < b.id),
    drops AS (
      SELECT DISTINCT CASE WHEN (ca, ia) < (cb, ib) THEN ib ELSE ia END AS id
      FROM p WHERE cs >= CAST(0.8 AS DOUBLE))
    SELECT id AS vec_id, CAST(cluster AS INTEGER) AS cluster,
           round(csim, 6) AS centroid_sim
    FROM asg WHERE id NOT IN (SELECT id FROM drops)
    ORDER BY vec_id"""

  private val semanticDedupSql = semanticDedupSqlFor(semanticCentroidIds)
  private val semanticDedupK32Sql = semanticDedupSqlFor(semanticK32CentroidIds)

  /** Distributed-centroid SemDeDup gate (round-18 scale-ceiling fix):
    * SAME corpus, centroid set, threshold, and DuckDB oracle as
    * `semantic_dedup_k32`, but assignment runs
    * [[graft.ops.Ann.semanticDedupDistributed]] — centroids carried as
    * a DataFrame joined on a coarse-cell key, a ⌈√k⌉-cell coarse
    * codebook as the ONLY plan-baked centroid state, and FULL probing
    * (exact by construction, so the unchanged oracle is the right
    * truth). AnnSpec pins the plan property (no k-proportional
    * literal) and the bit-equality with the literal-kernel route; this
    * row proves the whole operator (two-level assignment + join-back +
    * pair/drop spine) against the hand-written replay at every sf.
    */
  def semanticDedupDistributedQ(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val emb = T(s, dir, "embeddings")
    val idType = emb.schema("vec_id").dataType
    val planted = emb.where(col("vec_id") < 25).select(
      (col("vec_id") + lit(10000)).cast(idType).as("vec_id"),
      concat(array(lit(0.0f)), slice(col("embedding"), 2, 63)).as("embedding"))
    val corpus = emb.select("vec_id", "embedding").unionByName(planted)
    // 32-row centroid collect: bounded model metadata, exactly as the
    // k32 gate documents; production at large k reads the centroid
    // frame from parquet and never collects it
    val ctrs = emb.where(col("vec_id").isin(semanticK32CentroidIds: _*))
      .select(col("vec_id").cast(LongType), col("embedding")).collect()
      .map(r => (r.getLong(0).toInt, r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1).toSeq
    val cells = math.ceil(math.sqrt(ctrs.size.toDouble)).toInt
    val stride = math.max(1, ctrs.size / cells)
    val coarse = ctrs.indices.by(stride).take(cells).map(i => ctrs(i)._2).toArray
    Ann.semanticDedupDistributed(corpus, ctrs.toDF("cluster", "centroid"), coarse,
      threshold = 0.8, dim = 64)
      .select(col("vec_id"), col("cluster"),
        round(col("centroid_sim"), 6).as("centroid_sim"))
      .orderBy("vec_id")
  }

  /** LSH top-k at the production operating point (16 planes, 4 bands —
    * genuinely approximate, unlike `ann_lsh_full_recall`), gated as a
    * RECALL AUDIT: the LSH result set joins against the exact top-15
    * (computed by the already-oracled brute-force machinery) and the
    * output is the per-query recall summary — result count, hits inside
    * the true top-5, and the worst true rank any returned neighbor
    * holds (an LSH result OUTSIDE the top-15 would surface as 9999 and
    * fail the gate loudly). LSH here is a deterministic function of the
    * data (fixed hyperplane seed, no sampling), and since round 9 the
    * oracle REPLAYS it end-to-end in DuckDB — sign bits from spliced
    * plane literals, band keys, collision candidates, exact re-score
    * with the Spark tie-breaks — so the row holds at every sf (at
    * sf0.01 the summary works out to recall@5 = 4/5, 3/5, 3/5, every
    * returned neighbor within the true top-11). The same machinery at
    * full recall is exactly-oracled by `ann_lsh_full_recall`; this row
    * pins the quality of the approximation the 100 TB operating point
    * buys its bucket locality with.
    */
  /** The PURE approximate path (bench-only, via [[benchExtra]]): what a
    * production query runs — no brute-force audit attached, so the
    * bench row times the LSH plan alone.
    */
  def annLshQuery(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    Ann.lshTopK(emb, emb.where(col("vec_id") < 3), k = 5, dim = 64)
      .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"),
        col("rank").cast(IntegerType).as("rank"))
  }

  def annLshTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val queries = emb.where(col("vec_id") < 3)
    val lsh = Ann.lshTopK(emb, queries, k = 5, dim = 64)
    val brute = Ann.bruteForceTopK(emb, queries, k = 15)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("_brank"))
    lsh.select("query_id", "neighbor_id")
      .join(brute, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_returned"),
        sum(when(col("_brank") <= 5, 1L).otherwise(0L)).as("hits_top5"),
        max(coalesce(col("_brank").cast(LongType), lit(9999L))).as("max_brute_rank"))
      .orderBy("query_id")
  }

  /** FULL LSH REPLAY oracle (replaced the round-8 fixture-constant
    * VALUES table, which was measured at sf0.01 and failed at any other
    * scale): DuckDB re-derives the 16 sign bits per vector from the
    * spliced hyperplane literals, folds them into the same 4-bit band
    * keys, regenerates band-collision candidates, re-scores them with
    * the exact cosine and the Spark tie-breaks, and aggregates the same
    * recall summary against its own brute-force top-15 — a true oracle
    * at EVERY sf, same technique as annPipelineSql's centroid replay.
    */
  private val annLshTopKSql = {
    val planes = Ann.hyperplanes(16, 64, seed = 42L)
    val values = planes.zipWithIndex
      .map { case (p, i) => s"($i, [${p.mkString(", ")}]::DOUBLE[])" }.mkString(", ")
    def dotSql(a: String, b: String) =
      s"list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)))"
    def cosSql(a: String, b: String) = {
      val normProd = s"(sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"
      s"CASE WHEN $normProd > 0 THEN ${dotSql(a, b)} / $normProd ELSE 0.0 END"
    }
    s"""
    WITH pl(pid, pvec) AS (VALUES $values),
    sb AS (
      SELECT e.vec_id, pl.pid,
             CASE WHEN ${dotSql("e.embedding", "pl.pvec")} >= 0 THEN 1 ELSE 0 END AS bit
      FROM embeddings e CROSS JOIN pl),
    bk AS (
      SELECT vec_id, pid // 4 AS band,
             sum(bit * (1 << (pid % 4))) AS key
      FROM sb GROUP BY vec_id, pid // 4),
    cand AS (
      SELECT DISTINCT qb.vec_id AS query_id, cb.vec_id AS neighbor_id
      FROM bk cb JOIN bk qb ON cb.band = qb.band AND cb.key = qb.key
      WHERE qb.vec_id < 3 AND cb.vec_id <> qb.vec_id),
    scored AS (
      SELECT c.query_id, c.neighbor_id,
             ${cosSql("eq.embedding", "en.embedding")} AS cos_raw
      FROM cand c
      JOIN embeddings eq ON eq.vec_id = c.query_id
      JOIN embeddings en ON en.vec_id = c.neighbor_id),
    lsh AS (
      SELECT query_id, neighbor_id
      FROM (SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC) AS rn
            FROM scored)
      WHERE rn <= 5),
    brute AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY ${cosSql("q.embedding", "e.embedding")} DESC, e.vec_id ASC) AS brank
      FROM embeddings e CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 3) q
      WHERE e.vec_id <> q.vec_id
      QUALIFY brank <= 15)
    SELECT l.query_id,
           count(*) AS n_returned,
           CAST(sum(CASE WHEN b.brank <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS hits_top5,
           max(coalesce(b.brank, 9999)) AS max_brute_rank
    FROM lsh l LEFT JOIN brute b USING (query_id, neighbor_id)
    GROUP BY l.query_id"""
  }

  /** The LSH top-k machinery at full recall: 16 bands of ONE bit each —
    * a pair escapes candidacy only if all 16 sign bits differ (measure
    * zero in practice; verified empty-miss on this data), so the banded
    * join + pair dedup + vector re-attach + window pipeline must
    * reproduce the exact brute-force top-k the oracle computes. The
    * production operating point (fewer, wider bands) trades this recall
    * for bucket locality; its recall curve is AnnSpec's job.
    */
  def annLshFullRecall(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    Ann.lshTopK(emb, emb.where(col("vec_id") < 3), k = 5, dim = 64,
      numPlanes = 16, bands = 16)
      .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"),
        col("rank").cast(IntegerType).as("rank"))
  }

  /** Multimodal plumbing in the gate: text bytes as an opaque binary
    * payload column, features extracted per-partition by the (stub)
    * decoder via the mapPartitions path, then verified against a DuckDB
    * oracle. The unnormalized stub histogram is integer-valued (exact in
    * Float), so each bucket exports as a BIGINT the oracle recomputes
    * from character codes (the docs are ASCII: byte == code point).
    * Raw Array[Float] must never reach the gate (driver row-sort).
    */
  def multimodalFeatures(s: SparkSession, dir: String): DataFrame = {
    val media = T(s, dir, "documents").select(
      col("doc_id").as("media_id"),
      lit("text/plain").as("mime"),
      col("text").cast("binary").as("payload"),
      lit(null).cast(IntegerType).as("meta_width"),
      lit(null).cast(IntegerType).as("meta_height"),
      lit(null).cast(LongType).as("meta_duration_ms"))
    val feats = Multimodal.extractFeatures(
      media, new Multimodal.StubDecoder(16, normalize = false))
    val buckets = (0 until 16).map(j =>
      element_at(col("features"), j + 1).cast(LongType).as(s"c$j"))
    feats.select(col("media_id") +: size(col("features")).cast(IntegerType).as("n_features") +: buckets: _*)
  }

  private val multimodalSql = {
    val buckets = (0 until 16).map(j =>
      // (?s) so '.' matches newline too — the Spark side histograms every
      // byte, and a '\n' (bucket c10) must not silently vanish here
      s"len(list_filter(regexp_extract_all(text, '(?s).'), c -> unicode(c) % 16 = $j)) AS c$j").mkString(",\n           ")
    s"""
    SELECT doc_id AS media_id, 16 AS n_features,
           $buckets
    FROM documents"""
  }

  /** Exact duplicate clusters via iterative min-label propagation over
    * the verified near-dup pair graph. The oracle recomputes connected
    * components with a recursive transitive-closure CTE — chains must
    * collapse to ONE minimum-id representative in both engines.
    */
  def dedupClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val pairs = Dedup.pairJaccard(docs, Dedup.minHashCandidates(docs, bands = 32))
      .where(round(col("jaccard"), 6) >= 0.6)
    Dedup.duplicateClusters(docs.select("doc_id"), pairs)
      .orderBy("doc_id")
  }

  private val dedupClustersSql = s"""
    WITH RECURSIVE ${nearDupPairCtes("documents")},
    e AS (
      SELECT id_a AS a, id_b AS b FROM p WHERE round(j, 6) >= 0.6
      UNION
      SELECT id_b, id_a FROM p WHERE round(j, 6) >= 0.6),
    reach(a, b) AS (
      SELECT a, b FROM e
      UNION
      SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a)
    SELECT d.doc_id, least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS cluster_id
    FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
    GROUP BY d.doc_id"""

  /** [[dedupClusters]] with the deterministic REPLICA-WINDOW readout —
    * the `minhash_near_dups_sample` discipline applied to connected
    * components, which makes the CC operator hash-gateable at corpus
    * scales where the full recursive-closure oracle outgrows DuckDB.
    * Window-locality is SOUND for CC on inflated corpora for the same
    * reason it is for the pair gate: cross-replica shingle sets are
    * disjoint, so no component ever spans replicas and the window
    * corpus's component structure IS the full corpus's restricted to
    * the window. The large-star/small-star rounds run their full
    * algorithm on the window's pair graph; full-corpus feasibility
    * evidence stays with the benched unsampled row. At the sf0.01
    * driver gate the window is the whole corpus and the row
    * degenerates to exact equality with `dedup_clusters`.
    */
  def dedupClustersSample(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    val pairs = Dedup.pairJaccard(docs, Dedup.minHashCandidates(docs, bands = 32))
      .where(round(col("jaccard"), 6) >= 0.6)
      .where(expr("(id_a div 100000000) % 50 = 0 AND (id_b div 100000000) % 50 = 0"))
    Dedup.duplicateClusters(docs.where(expr("(doc_id div 100000000) % 50 = 0")).select("doc_id"),
      pairs)
      .orderBy("doc_id")
  }

  private val dedupClustersSampleSql = s"""
    WITH RECURSIVE dw AS MATERIALIZED (
      SELECT doc_id, text FROM documents
      WHERE (doc_id // 100000000) % 50 = 0),
    ${nearDupPairCtes("dw")},
    e AS (
      SELECT id_a AS a, id_b AS b FROM p WHERE round(j, 6) >= 0.6
      UNION
      SELECT id_b, id_a FROM p WHERE round(j, 6) >= 0.6),
    reach(a, b) AS (
      SELECT a, b FROM e
      UNION
      SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a)
    SELECT d.doc_id, least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS cluster_id
    FROM dw d LEFT JOIN reach r ON r.a = d.doc_id
    GROUP BY d.doc_id"""

  /** Quality-aware near-dup collapse: exact duplicate clusters over the
    * verified near-dup pair graph, keeping each cluster's BEST-QUALITY
    * document (quality desc, doc_id as the deterministic tiebreak) —
    * real curation keeps the best copy of duplicated content, not the
    * lowest id. One row per surviving document. Composes three
    * individually-gated operators (minhash near-dup pairs, large-star/
    * small-star CC, quality scoring) under ONE end-to-end oracle: the
    * DuckDB side recomputes components with a recursive closure and
    * picks the same per-cluster argmax. Scale shape: the cluster labels
    * are pair-bounded, the quality join is a projection-fused scan, and
    * the per-cluster argmax is one window over cluster-partitioned rows.
    */
  def dedupBestQuality(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = T(s, dir, "documents")
    val pairs = Dedup.pairJaccard(docs, Dedup.minHashCandidates(docs, bands = 32))
      .where(round(col("jaccard"), 6) >= 0.6)
    val clusters = Dedup.duplicateClusters(docs.select("doc_id"), pairs)
    val scored = docs.select(col("doc_id"), TextOps.qualityScore(col("text")).as("quality"))
    val win = Window.partitionBy("cluster_id").orderBy(col("quality").desc, col("doc_id").asc)
    clusters.join(scored, Seq("doc_id"))
      .withColumn("_rk", row_number().over(win))
      .where(col("_rk") === 1)
      .select(col("cluster_id"), col("doc_id"), col("quality"))
      .orderBy("cluster_id")
  }

  private val dedupBestQualitySql = s"""
    WITH RECURSIVE ${nearDupPairCtes("documents")},
    e AS (
      SELECT id_a AS a, id_b AS b FROM p WHERE round(j, 6) >= 0.6
      UNION
      SELECT id_b, id_a FROM p WHERE round(j, 6) >= 0.6),
    reach(a, b) AS (
      SELECT a, b FROM e
      UNION
      SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a),
    cl AS (
      SELECT d.doc_id, least(d.doc_id, coalesce(min(r.b), d.doc_id)) AS cluster_id
      FROM documents d LEFT JOIN reach r ON r.a = d.doc_id
      GROUP BY d.doc_id),
    q AS (SELECT doc_id, $qualityExprSql AS quality FROM documents)
    SELECT cluster_id, doc_id, quality FROM (
      SELECT cl.cluster_id, cl.doc_id, q.quality,
             row_number() OVER (PARTITION BY cl.cluster_id
                                ORDER BY q.quality DESC, cl.doc_id) AS rk
      FROM cl JOIN q USING (doc_id))
    WHERE rk = 1"""

  /** IVF ANN at full probe: write the corpus partitioned by its nearest
    * centroid, then query probing EVERY cluster — the partition-pruned
    * scan degenerates to the whole corpus and the result must equal the
    * exact brute-force top-k, which is what the oracle computes. (Partial
    * probes trade recall for pruning; their recall bound is AnnSpec's
    * job, not an exact oracle's.)
    */
  def ivfTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val centroids = Ann.hyperplanes(4, 64, seed = 7L)
    val tmp = graft.engine.Scratch.dir(s"graft_ivf_gate:$dir")
    Ann.ivfWrite(emb, tmp, centroids)
    Ann.ivfTopK(tmp, emb.where(col("vec_id") < 3), centroids, k = 5, nProbe = 4)
      .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"),
        col("rank").cast(IntegerType).as("rank"))
  }

  /** IVF + int8 at-rest layout, gated end-to-end: the corpus is written
    * cluster-partitioned AND int8-quantized ([[Ann.ivfWriteInt8]]), then
    * queried at FULL probe — which must return exactly the
    * already-oracled `ann_int8_topk` result (same oracle SQL). Proves
    * quantize-at-write → partition-pruned scan → integer-dot re-score
    * round-trips through parquet with nothing lost.
    */
  def ivfInt8TopK(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val centroids = Ann.hyperplanes(4, 64, seed = 7L)
    val tmp = graft.engine.Scratch.dir(s"graft_ivf_i8_gate:$dir")
    Ann.ivfWriteInt8(emb, tmp, centroids)
    Ann.ivfTopKInt8(tmp, emb.where(col("vec_id") < 3), centroids, k = 5, nProbe = 4)
      .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"),
        col("rank").cast(IntegerType).as("rank"))
  }

  /** ANN flagship: the full IVF lifecycle as ONE pipeline — train
    * centroids (one Lloyd iteration from the deterministic hyperplane
    * init), write the corpus cluster-partitioned ([[Ann.ivfWrite]] —
    * the at-rest ANN layout), then answer queries probing their 2
    * nearest trained clusters over the partition-pruned scan. The
    * oracle re-derives the SAME trained centroids (bit-identical: the
    * Lloyd sums run over scaled integers, and the gate's kmeans_step
    * row already pins the mean arithmetic), replays cluster assignment
    * and probe selection with the Spark tie-breaks (assign: higher cid
    * wins ties; probe: lower cid), and re-scores exactly the probed
    * partitions — so this checks the pruned path end-to-end, not the
    * degenerate full-probe case (ivf_topk's job).
    */
  def annPipeline(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val init = Ann.hyperplanes(4, 64, seed = 7L)
    val trained = Ann.trainCentroids(emb, init, iterations = 1)
    val tmp = graft.engine.Scratch.dir(s"graft_ann_pipe:$dir")
    Ann.ivfWrite(emb, tmp, trained)
    Ann.ivfTopK(tmp, emb.where(col("vec_id") < 3), trained, k = 5, nProbe = 2)
      .select(col("query_id"), col("neighbor_id"), round(col("cosine"), 6).as("cosine"),
        col("rank").cast(IntegerType).as("rank"))
  }

  private val annPipelineSql = {
    val cs = Ann.hyperplanes(4, 64, seed = 7L)
    val values = cs.zipWithIndex
      .map { case (c, i) => s"($i, [${c.mkString(", ")}]::DOUBLE[])" }.mkString(", ")
    def dotSql(a: String, b: String) =
      s"list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)))"
    def cosSql(a: String, b: String) = {
      val normProd = s"(sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"
      s"CASE WHEN $normProd > 0 THEN ${dotSql(a, b)} / $normProd ELSE 0.0 END"
    }
    s"""
    WITH c(cid, cvec) AS (VALUES $values),
    a0 AS (
      SELECT e.vec_id, e.embedding, c.cid, ${cosSql("e.embedding", "c.cvec")} AS sim
      FROM embeddings e CROSS JOIN c),
    best0 AS (
      SELECT vec_id, embedding, cid
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid DESC) AS rn FROM a0)
      WHERE rn = 1),
    m AS (
      SELECT cid AS cluster, CAST(i - 1 AS INT) AS pos,
             CAST(sum(CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 16777216.0) AS BIGINT)) AS DOUBLE)
               / count(*) / 16777216.0 AS mean
      FROM best0, range(1, 65) t(i)
      GROUP BY 1, 2),
    tc AS (
      SELECT c.cid, coalesce(tm.tvec, c.cvec) AS tvec
      FROM c LEFT JOIN (SELECT cluster, list(mean ORDER BY pos) AS tvec FROM m GROUP BY cluster) tm
        ON tm.cluster = c.cid),
    a1 AS (
      SELECT e.vec_id, e.embedding, t.cid, ${cosSql("e.embedding", "t.tvec")} AS sim
      FROM embeddings e CROSS JOIN tc t),
    assign AS (
      SELECT vec_id, embedding, cid
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid DESC) AS rn FROM a1)
      WHERE rn = 1),
    probes AS (
      SELECT vec_id AS query_id, embedding AS qvec, cid
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid ASC) AS rn
            FROM a1 WHERE vec_id < 3)
      WHERE rn <= 2),
    cand AS (
      SELECT p.query_id, p.qvec, x.vec_id AS neighbor_id, x.embedding
      FROM probes p JOIN assign x ON x.cid = p.cid
      WHERE x.vec_id <> p.query_id),
    scored AS (
      SELECT query_id, neighbor_id, ${cosSql("qvec", "embedding")} AS cos_raw FROM cand)
    SELECT query_id, neighbor_id, round(cos_raw, 6) AS cosine,
           CAST(row_number() OVER (PARTITION BY query_id ORDER BY cos_raw DESC, neighbor_id ASC) AS INT) AS rank
    FROM scored
    QUALIFY rank <= 5"""
  }

  /** One Lloyd centroid-training step for IVF, per-dimension means
    * exploded. Deterministic because the sums run over scaled integers
    * (x 2^24) — order-independent — and every float op (cosine
    * assignment, final division) has the identical expression shape in
    * the DuckDB oracle, whose centroids are spliced in as full-precision
    * double literals (Double.toString round-trips).
    */
  def kmeansStep(s: SparkSession, dir: String): DataFrame =
    Ann.kmeansMeans(T(s, dir, "embeddings"), Ann.hyperplanes(4, 64, seed = 7L))
      .orderBy("cluster", "pos")

  private val kmeansStepSql = {
    val cs = Ann.hyperplanes(4, 64, seed = 7L)
    val values = cs.zipWithIndex
      .map { case (c, i) => s"($i, [${c.mkString(", ")}]::DOUBLE[])" }.mkString(", ")
    def dotSql(a: String, b: String) =
      s"list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)))"
    val normProd = s"(sqrt(${dotSql("e.embedding", "e.embedding")}) * sqrt(${dotSql("c.cvec", "c.cvec")}))"
    s"""
    WITH c(cid, cvec) AS (VALUES $values),
    a AS (
      SELECT e.vec_id, e.embedding, c.cid,
             CASE WHEN $normProd > 0
                  THEN ${dotSql("e.embedding", "c.cvec")} / $normProd
                  ELSE 0.0 END AS sim
      FROM embeddings e CROSS JOIN c),
    best AS (
      SELECT vec_id, embedding, cid
      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, cid DESC) AS rn FROM a)
      WHERE rn = 1),
    m AS (
      SELECT cid AS cluster, CAST(i - 1 AS INT) AS pos,
             CAST(round(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 16777216.0) AS BIGINT) AS sv
      FROM best, range(1, 65) t(i))
    SELECT cluster, pos, count(*) AS n,
           CAST(sum(sv) AS DOUBLE) / count(*) / 16777216.0 AS mean
    FROM m GROUP BY 1, 2"""
  }

  /** Full-Lloyd IVF training iterated TO CONVERGENCE
    * ([[Ann.trainToConvergence]]) on a separable fixture whose converged
    * state has a CLOSED FORM the oracle states without iterating:
    * vectors are shrunk 100× and translated by group (g = vec_id mod 4)
    * along orthogonal one-hot axes (+100 at dim 16·g), so cosine
    * separation between groups is total (own-seed cosine ≈ 1, cross
    * ≈ 8/10⁴); seeded from each group's min-id vector, the FIRST
    * assignment is already the final one, iteration 1 moves centroids
    * to the group means, and iteration 2 reproduces them BIT-EXACTLY
    * (scaled-integer sums) — movement 0 hits tol = 0 and the loop
    * stops at exactly 2 iterations, which the output pins alongside
    * the converged per-(cluster, pos) means. The oracle computes group
    * means directly (one aggregate, no recursion) with the identical
    * integer-scaling expression shape.
    */
  def kmeansConverged(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val pts = emb.select(col("vec_id"),
      pmod(col("vec_id"), lit(4L)).cast(IntegerType).as("g"),
      transform(col("embedding"),
        (x, i) => x.cast(DoubleType) * lit(0.01) +
          when(i === pmod(col("vec_id"), lit(4L)).cast(IntegerType) * 16, lit(100.0))
            .otherwise(lit(0.0))).as("vec"))
    // seeds: each group's min-id vector — 4 rows, deterministic order
    val seeds = pts.join(
        pts.groupBy("g").agg(min("vec_id").as("vec_id")), Seq("g", "vec_id"), "left_semi")
      .orderBy("g").select("vec").collect()
      .map(_.getSeq[Double](0).toArray)
    val (centroids, iters) = Ann.trainToConvergence(pts, seeds, tol = 0.0,
      maxIterations = 10, vecCol = "vec")
    Ann.kmeansMeans(pts, centroids, "vec")
      .select(col("cluster"), col("pos"), col("n"), col("mean"),
        lit(iters).as("iterations"))
      .orderBy("cluster", "pos")
  }

  private val kmeansConvergedSql = """
    WITH m AS (
      SELECT CAST(vec_id % 4 AS INT) AS cluster, CAST(i - 1 AS INT) AS pos,
             CAST(round((CAST(embedding[CAST(i AS INT)] AS DOUBLE) * CAST(0.01 AS DOUBLE) +
                         CASE WHEN (i - 1) = (vec_id % 4) * 16
                              THEN CAST(100 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END)
                        * 16777216.0) AS BIGINT) AS sv
      FROM embeddings, range(1, 65) t(i))
    SELECT cluster, pos, count(*) AS n,
           CAST(sum(sv) AS DOUBLE) / count(*) / 16777216.0 AS mean,
           CAST(2 AS INT) AS iterations
    FROM m GROUP BY 1, 2
    ORDER BY cluster, pos"""

  /** Two-phase salted aggregation: must equal the plain grouped sum (the
    * salt only changes parallelism, never the result — sums are over
    * exact integers).
    */
  def skewSaltedAgg(s: SparkSession, dir: String): DataFrame = {
    val df = T(s, dir, "lineitem")
      .select(col("l_returnflag"), cents(col("l_extendedprice")).as("price_cents"))
    Skew.saltedSum(df, Seq("l_returnflag"), Seq("price_cents"), salt = 8)
  }

  private val skewSaltedSql = s"""
    SELECT l_returnflag, CAST(sum(${centsSql("l_extendedprice")}) AS BIGINT) AS price_cents
    FROM lineitem GROUP BY l_returnflag"""

  // ------------------------------------------------------------------ events

  /** Hourly tumbling-window aggregation over the events table.
    * Bucketing is integer math on event-time micros ([[tsUsOf]] absorbs
    * the fixture's ts encoding).
    */
  def eventsWindowAgg(s: SparkSession, dir: String): DataFrame = {
    val ev0 = T(s, dir, "events")
    ev0.withColumn("_ts_us", tsUsOf(ev0))
      .groupBy(col("event_type"),
        expr("(_ts_us DIV 3600000000) * 3600").as("hour_epoch"))
      .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
  }

  private val eventsWindowSql = s"""
    SELECT event_type, CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
           count(*) AS n, CAST(sum(${centsSql("value")}) AS BIGINT) AS value_cents
    FROM events GROUP BY 1, 2"""

  /** The hourly aggregation of [[eventsWindowAgg]] over an events stream,
    * watermarked on event time. A sentinel row (see
    * [[graft.streaming.StreamGate.Sentinel]]) must flow into the
    * aggregation: a `user_id != -1` filter here gets predicate-pushed
    * BELOW the EventTimeWatermark node, so the watermark would never see
    * the bumped timestamp and the final 2 hours of windows would stay open
    * (observed: 3370 of 3385 rows). Its window is dropped on readback
    * instead, by [[beforeSentinelHour]].
    */
  private def hourlyStream(src: StreamGate.Source): DataFrame = {
    val ev = src.events()
    ev.withColumn("_event_time", tsEventTimeOf(ev))
      .withWatermark("_event_time", "2 hours")
      .groupBy(col("event_type"), window(col("_event_time"), "1 hour"))
      .agg(count(lit(1)).as("n"), sum(cents(col("value"))).as("value_cents"))
      .select(col("event_type"),
        unix_timestamp(col("window.start")).as("hour_epoch"),
        col("n"), col("value_cents"))
  }

  /** Hourly windows up to the last real hour of the events: drops the
    * sentinel's window, one day past the real data (a bounded driver
    * scalar pins the boundary). */
  private def beforeSentinelHour(s: SparkSession, dir: String): Column = {
    val ev = T(s, dir, "events")
    col("hour_epoch") <= (ev.agg(max(tsUsOf(ev))).head().getLong(0) / 3600000000L) * 3600L
  }

  /** The SAME hourly aggregation run by the Structured Streaming engine
    * into a complete-mode memory sink. Its result must equal the batch
    * plan's (and the DuckDB oracle's) exactly: batch/stream parity on the
    * same input is what makes the streaming path trustworthy for
    * backfills.
    */
  val eventsWindowStream: StreamGate = new StreamGate(Copies(1), MemorySink, hourlyStream)

  /** Streaming PARQUET FILE SINK with checkpointed exactly-once commit:
    * a file-landing stream is trustworthy through the checkpoint +
    * `_spark_metadata` manifest protocol (a batch's files count once the
    * manifest commits, and readers go through it, so half-written batches
    * are invisible). The hourly aggregation runs in APPEND mode (windows
    * must CLOSE to emit, hence the sentinel), then STARTS AGAIN on the
    * same checkpoint with no new input and must emit zero new rows:
    * restart idempotence, the exactly-once property under the recovery
    * path. The oracle is `events_window_agg`'s.
    */
  val eventsStreamSink: StreamGate = new StreamGate(Sentinel(1, beforeSentinelHour), FileSink,
    hourlyStream,
    check = r => {
      val afterFirst = r.sinkRows.count()
      r.restart() // same checkpoint, no new input: must be a no-op
      val afterSecond = r.sinkRows.count()
      require(afterSecond == afterFirst,
        s"restart on the same checkpoint emitted rows: $afterFirst -> $afterSecond")
    })

  private val streamRecoveryGate =
    new StreamGate(Sentinel(10, beforeSentinelHour), FileSink, hourlyStream)

  /** CRASH-RECOVERY evidence for the checkpointed file sink:
    * [[eventsStreamSink]] proves a COMPLETED run restarts as a no-op;
    * this row proves recovery from an INTERRUPTED run. The corpus replays
    * as ~10 time-ordered files + sentinel, one file per trigger; the first
    * start is KILLED after its first committed micro-batch (stop() aborts
    * the in-flight batch), and a second start on the same checkpoint must
    * drain the rest so that the manifest readback still equals the batch
    * oracle: no windows lost from the committed prefix, none duplicated by
    * the re-run batch, and part files orphaned by the kill invisible.
    * Micro-batches at this sf are fast, so catching the stream mid-flight
    * is retried (fresh sink per attempt) and the interruption is
    * REQUIRED, never downgraded to a completed-run restart.
    */
  def eventsStreamRecovery(s: SparkSession, dir: String): DataFrame =
    streamRecoveryGate.staged(s, dir) { st =>
      // one recovery attempt; Right(sink) when the kill landed mid-replay,
      // Left(()) when the replay outran the poll and the attempt is void
      def attempt(i: Int): Either[Unit, String] = {
        val at = st.freshSink(s"a$i")
        val q1 = st.start(at)
        val deadline = System.nanoTime + 120L * 1000 * 1000 * 1000
        while (q1.isActive && q1.recentProgress.isEmpty && System.nanoTime < deadline)
          Thread.sleep(2)
        val caughtLive = q1.isActive
        // stop() aborts the in-flight batch and waits for the query thread;
        // a batch aborted mid-commit stays as the stopped query's exception,
        // and for this gate that IS the crash being simulated: recovery
        // must work from whatever state the checkpoint holds
        q1.stop()
        val committed = q1.recentProgress.map(_.batchId).distinct.length
        if (!caughtLive || committed == 0 || committed >= st.nFiles) Left(())
        else {
          st.drain(at) // same checkpoint: resume, not restart
          require(st.manifested(at), "recovered file sink wrote no _spark_metadata manifest")
          Right(at)
        }
      }
      val at = (1 to 5).iterator.map(attempt).collectFirst { case Right(a) => a }
        .getOrElse(sys.error(
          s"could not interrupt the ${st.nFiles}-file replay mid-stream in 5 attempts — " +
            "the crash-recovery evidence is gone; raise timeSplits"))
      st.read(at)
    }

  /** Stream-static enrichment join: the events STREAM joins the static
    * nation dim (user_id mod 25 as the synthetic FK) and aggregates per
    * nation. The static side is planned per micro-batch as an ordinary
    * broadcast hash join (the stream never shuffles for the join); the
    * oracle is the same join+aggregate in batch SQL.
    */
  val eventsEnrichStream: StreamGate = new StreamGate(Copies(1), MemorySink,
    src => src.events()
      .withColumn("n_nationkey", (col("user_id") % 25).cast(IntegerType))
      .join(T(src.s, src.dir, "nation").select(col("n_nationkey"), col("n_name")), Seq("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(count(lit(1)).as("n_events"), sum(cents(col("value"))).as("value_cents")),
    readback = _.orderBy("n_name"))
  private val eventsEnrichStreamSql = """
    SELECT n.n_name, count(*) AS n_events,
           CAST(sum(CAST(round(e.value*100,0) AS BIGINT)) AS BIGINT) AS value_cents
    FROM events e JOIN nation n ON CAST(e.user_id % 25 AS INT) = n.n_nationkey
    GROUP BY n.n_name"""

  /** Streaming exact dedup with a REAL duplicate load: the source
    * directory holds TWO copies of the events file, so every event
    * arrives twice and `dropDuplicatesWithinWatermark` must collapse
    * the stream back to exactly the original rows — which is what the
    * oracle (a plain SELECT over events) asserts.
    */
  val eventsDedupStream: StreamGate = new StreamGate(Copies(2), FileSink,
    src => {
      val ev = src.events()
      // compare at microsecond precision — DuckDB's epoch_us(ts) is the
      // oracle-side equivalent for either ts encoding
      val stream = ev.withColumn("ts_us", tsUsOf(ev))
        .withColumn("ts", timestamp_micros(col("ts_us")))
      graft.streaming.EventStreams.dedupEvents(stream, Seq("event_id"))
    },
    readback = _.select(col("event_id"), col("ts_us"), col("user_id"), col("event_type"),
      col("value"), col("props")).orderBy("event_id"))
  private val eventsDedupStreamSql = """
    SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type, value, props
    FROM events"""

  /** Gap-based sessionization (30-min inactivity) via window functions. */
  def eventsSessionize(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val ev0 = T(s, dir, "events")
    val tsUs = tsUsOf(ev0)
    val ev = ev0
      .withColumn("prev_us", lag(tsUs, 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_us").isNull ||
          tsUs - col("prev_us") > 1800000000L, 1L).otherwise(0L))
      .withColumn("session_id",
        sum(col("new_session")).over(byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    ev.groupBy("user_id")
      .agg(max(col("session_id")).as("n_sessions"), count(lit(1)).as("n_events"))
  }

  private val eventsSessionizeSql = """
    WITH e AS (
      SELECT user_id, event_id, ts,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      FROM events),
    flagged AS (
      SELECT user_id, event_id, ts,
             CASE WHEN prev_us IS NULL OR epoch_us(ts) - prev_us > 1800000000 THEN 1 ELSE 0 END AS new_session
      FROM e),
    sessions AS (
      SELECT user_id,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
      FROM flagged)
    SELECT user_id, CAST(max(session_id) AS BIGINT) AS n_sessions, count(*) AS n_events
    FROM sessions GROUP BY user_id"""

  /** Sketch-based distinct counting, gated as an HONEST AUDIT: per
    * source, the exact distinct fingerprint count plus a boolean
    * asserting the HLL++ estimate (approx_count_distinct, rsd 2%)
    * landed within 5% of it. The oracle recomputes the exact count and
    * expects `within` TRUE — if Spark's sketch ever strays past the
    * tolerance the gate fails loudly. At 100 TB the sketch is the only
    * viable distinct count: fixed-size partial state (no distinct
    * shuffle of the keys themselves), mergeable across partitions.
    */
  def approxDistinct(s: SparkSession, dir: String): DataFrame = {
    val fp = TextOps.fingerprint(col("text"))
    T(s, dir, "documents")
      .groupBy("source")
      .agg(count_distinct(fp).as("n_exact"),
        approx_count_distinct(fp, rsd = 0.02).as("_n_approx"))
      .select(col("source"), col("n_exact"),
        (abs(col("_n_approx") - col("n_exact")).cast(DoubleType) / col("n_exact") <= 0.05)
          .as("within"))
      .orderBy("source")
  }

  private val approxDistinctSql = """
    SELECT source,
           count(DISTINCT md5(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')))) AS n_exact,
           TRUE AS within
    FROM documents GROUP BY source"""

  /** Daily active users + cumulative distinct-to-date — the sketch-REUSE
    * pattern: one `hll_sketch_agg` pass builds a mergeable per-day
    * sketch (Datasketches HLL, fixed-size state), and every cumulative
    * number is a `hll_union_agg` over the already-built sketches — the
    * corpus is scanned ONCE no matter how many running totals are
    * derived. At 100 TB this is the only viable "distinct users to
    * date" plan: the exact alternative re-scans an expanding prefix per
    * day (quadratic). Gated as an HONEST AUDIT (approx_distinct's
    * pattern): exact DAU and exact cumulative count hash-compare, plus
    * a boolean asserting the sketch estimate landed within 5% of exact.
    * The exact cumulative rides the first-seen-day trick — count users
    * whose min(day) ≤ d via one agg + a running sum over the
    * metadata-bounded day table (single-partition window over ~30 rows,
    * not the fact table).
    */
  def eventsDailyActive(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ev0 = T(s, dir, "events")
    val ev = ev0.select(col("user_id"), tsUsOf(ev0).as("_us"))
      .withColumn("day", expr("_us DIV 86400000000"))
    val daily = ev.groupBy("day")
      .agg(count_distinct(col("user_id")).as("dau_exact"),
        hll_sketch_agg(col("user_id")).as("_sk"))
    val wCum = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val withCum = daily.withColumn("_cum_est",
      hll_sketch_estimate(hll_union_agg(col("_sk")).over(wCum)))
    val firstSeen = ev.groupBy("user_id").agg(min(col("day")).as("fday"))
    val newPerDay = firstSeen.groupBy(col("fday").as("day")).agg(count(lit(1)).as("_new"))
    withCum.join(newPerDay, Seq("day"), "left")
      .withColumn("cum_exact", sum(coalesce(col("_new"), lit(0L))).over(wCum))
      .select(col("day"), col("dau_exact"), col("cum_exact"),
        (abs(col("_cum_est") - col("cum_exact")).cast(DoubleType) / col("cum_exact") <= 0.05)
          .as("within"))
      .orderBy("day")
  }

  private val eventsDailyActiveSql = """
    WITH e AS (
      SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id FROM events),
    daily AS (SELECT day, count(DISTINCT user_id) AS dau_exact FROM e GROUP BY day),
    fs AS (SELECT user_id, min(day) AS fday FROM e GROUP BY user_id),
    npd AS (SELECT fday AS day, count(*) AS nnew FROM fs GROUP BY fday)
    SELECT d.day, d.dau_exact,
           CAST(sum(coalesce(n.nnew, 0)) OVER (ORDER BY d.day
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_exact,
           TRUE AS within
    FROM daily d LEFT JOIN npd n ON d.day = n.day"""

  /** As-of join: every event picks up the most recent "status" row at
    * or before its timestamp per user (every 20th event doubles as a
    * status update — both sides derive deterministically from the
    * events table). Oracled against DuckDB's NATIVE ASOF LEFT JOIN —
    * an independent implementation of the same point-in-time
    * semantics, not a replay of ours. The fixture has no (user, ts)
    * collisions on the right side (checked), so the inclusive-tie rule
    * is exercised only where both engines agree by construction.
    */
  def asofJoinQ(s: SparkSession, dir: String): DataFrame = {
    val ev0 = T(s, dir, "events")
    val ev = ev0.withColumn("ts_us", tsUsOf(ev0))
    val left = ev.select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
    val right = ev.where(col("event_id") % 20 === 0)
      .select(col("user_id"), col("ts_us"),
        col("event_id").as("status_id"), col("value").as("status_value"))
    AsofJoin.asofJoin(left, right, "ts_us", Seq("user_id"), Seq("status_id"))
      .select("event_id", "user_id", "ts_us", "value", "status_id", "status_value")
      .orderBy("event_id")
  }

  private val asofJoinSql = """
    WITH r AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id AS status_id, value AS status_value
      FROM events WHERE event_id % 20 = 0)
    SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us, l.value,
           r.status_id, r.status_value
    FROM events l
    ASOF LEFT JOIN r ON l.user_id = r.user_id AND epoch_us(l.ts) >= r.ts_us"""

  /** FORWARD as-of join (earliest status at or after each event) —
    * the direction="forward" half of the merge_asof surface, oracled
    * against DuckDB's native ASOF with the inequality flipped (`<=`
    * defines the forward direction there) — again an independent
    * implementation, not a replay.
    */
  def asofJoinForwardQ(s: SparkSession, dir: String): DataFrame = {
    val ev0 = T(s, dir, "events")
    val ev = ev0.withColumn("ts_us", tsUsOf(ev0))
    val left = ev.select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
    val right = ev.where(col("event_id") % 20 === 0)
      .select(col("user_id"), col("ts_us"),
        col("event_id").as("status_id"), col("value").as("status_value"))
    AsofJoin.asofJoin(left, right, "ts_us", Seq("user_id"), Seq("status_id"),
      direction = AsofJoin.Forward)
      .select("event_id", "user_id", "ts_us", "value", "status_id", "status_value")
      .orderBy("event_id")
  }

  private val asofJoinForwardSql = """
    WITH r AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id AS status_id, value AS status_value
      FROM events WHERE event_id % 20 = 0)
    SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us, l.value,
           r.status_id, r.status_value
    FROM events l
    ASOF LEFT JOIN r ON l.user_id = r.user_id AND epoch_us(l.ts) <= r.ts_us"""

  /** NEAREST as-of join (closer of backward/forward, ties backward —
    * pandas merge_asof direction="nearest") with a tolerance: matches
    * farther than 10 minutes are dropped wholesale. The oracle composes
    * DuckDB's two native ASOF directions and replays the same
    * choose-and-filter arithmetic — per-candidate tolerance BEFORE the
    * nearest choice, so a closer-but-out-of-tolerance side cannot
    * shadow the in-tolerance one.
    */
  def asofJoinNearestQ(s: SparkSession, dir: String): DataFrame = {
    val ev0 = T(s, dir, "events")
    val ev = ev0.withColumn("ts_us", tsUsOf(ev0))
    val left = ev.select(col("event_id"), col("user_id"), col("ts_us"), col("value"))
    val right = ev.where(col("event_id") % 20 === 0)
      .select(col("user_id"), col("ts_us"),
        col("event_id").as("status_id"), col("value").as("status_value"))
    AsofJoin.asofJoin(left, right, "ts_us", Seq("user_id"), Seq("status_id"),
      direction = AsofJoin.Nearest, tolerance = Some(600000000L))
      .select("event_id", "user_id", "ts_us", "value", "status_id", "status_value")
      .orderBy("event_id")
  }

  private val asofJoinNearestSql = """
    WITH r AS (
      SELECT user_id, epoch_us(ts) AS ts_us, event_id AS status_id, value AS status_value
      FROM events WHERE event_id % 20 = 0),
    b AS (
      SELECT l.event_id,
             CASE WHEN epoch_us(l.ts) - r.ts_us <= 600000000 THEN r.ts_us END AS m_ts,
             CASE WHEN epoch_us(l.ts) - r.ts_us <= 600000000 THEN r.status_id END AS m_sid,
             CASE WHEN epoch_us(l.ts) - r.ts_us <= 600000000 THEN r.status_value END AS m_sv
      FROM events l
      ASOF LEFT JOIN r ON l.user_id = r.user_id AND epoch_us(l.ts) >= r.ts_us),
    f AS (
      SELECT l.event_id,
             CASE WHEN r.ts_us - epoch_us(l.ts) <= 600000000 THEN r.ts_us END AS m_ts,
             CASE WHEN r.ts_us - epoch_us(l.ts) <= 600000000 THEN r.status_id END AS m_sid,
             CASE WHEN r.ts_us - epoch_us(l.ts) <= 600000000 THEN r.status_value END AS m_sv
      FROM events l
      ASOF LEFT JOIN r ON l.user_id = r.user_id AND epoch_us(l.ts) <= r.ts_us)
    SELECT l.event_id, l.user_id, epoch_us(l.ts) AS ts_us, l.value,
           CASE WHEN b.m_ts IS NOT NULL AND (f.m_ts IS NULL
                      OR epoch_us(l.ts) - b.m_ts <= f.m_ts - epoch_us(l.ts))
                THEN b.m_sid ELSE f.m_sid END AS status_id,
           CASE WHEN b.m_ts IS NOT NULL AND (f.m_ts IS NULL
                      OR epoch_us(l.ts) - b.m_ts <= f.m_ts - epoch_us(l.ts))
                THEN b.m_sv ELSE f.m_sv END AS status_value
    FROM events l
    JOIN b ON b.event_id = l.event_id
    JOIN f ON f.event_id = l.event_id"""

  /** Trailing-hour rolling aggregates per user over irregular event
    * times ([[TimeSeries.rolling]], RANGE frame): for every event, the
    * count and cents-sum of that user's events in [ts - 1h, ts]. RANGE
    * (not ROWS) makes equal-timestamp peers aggregate identically —
    * deterministic under any tie order — and Spark evaluates the
    * trailing frame incrementally after one sort per user partition.
    */
  def eventsRolling(s: SparkSession, dir: String): DataFrame = {
    val ev0 = T(s, dir, "events")
    val ev = ev0.select(col("event_id"), col("user_id"), tsUsOf(ev0).as("ts_us"),
      cents(col("value")).as("_c"))
    TimeSeries.rolling(ev, "ts_us", Seq("user_id"), 3600000000L,
      Seq("n_1h" -> count(lit(1)), "cents_1h" -> sum(col("_c"))))
      .select("event_id", "user_id", "ts_us", "n_1h", "cents_1h")
      .orderBy("event_id")
  }

  private val eventsRollingSql = """
    SELECT event_id, user_id, epoch_us(ts) AS ts_us,
           count(*) OVER w AS n_1h,
           CAST(sum(CAST(round(value*100,0) AS BIGINT)) OVER w AS BIGINT) AS cents_1h
    FROM events
    WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)"""

  /** Long→wide pivot with an EXPLICIT value vocabulary: per-user event
    * counts, one column per event type. The explicit list keeps the
    * plan single-pass (no values-discovery scan + collect before the
    * real aggregation) and the output schema stable when a partition
    * happens to miss a type — both required at 100 TB, where pivot
    * without a vocabulary is two corpus scans and a schema that drifts
    * with the data. Compiles to one hash aggregate with 5 conditional
    * counts, which is exactly what the oracle writes out.
    */
  def eventsPivot(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      // scope the zero-fill to the pivoted columns — an unscoped fill
      // would also rewrite a NULL group key to 0
      .na.fill(0L, Seq("click", "error", "purchase", "signup", "view"))
      .orderBy("user_id")

  private val eventsPivotSql = """
    SELECT user_id,
           CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS click,
           CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS BIGINT) AS error,
           CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
           CAST(sum(CASE WHEN event_type = 'signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
           CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS BIGINT) AS view
    FROM events GROUP BY user_id"""

  /** Set operators over derived key sets: purchasers ∩ viewers ∖
    * high-severity-error users. Spark's INTERSECT/EXCEPT are
    * aggregate-backed (left-semi/anti over distinct rows — hash
    * shuffles on the full row as the key, no sort), the relational
    * complement of the curation layer's explicit anti-joins; both
    * engines implement SQL set semantics (distinct output), which the
    * oracle mirrors.
    *
    * The EXCEPT leg is value-thresholded (`value > 200`): the events
    * fixture is dense (every user has every event type), so an
    * unrestricted `∖ error-users` would empty the result and the gate
    * would hash two empty sets — schema-only evidence. The threshold
    * keeps both legs discriminating at sf0.01 and sf0.1, enforced by
    * a loud one-time precondition below.
    */
  def setOps(s: SparkSession, dir: String): DataFrame = {
    val ev = T(s, dir, "events")
    def users(t: String) = ev.where(col("event_type") === t).select("user_id")
    val kept = users("purchase").intersect(users("view"))
    val excluded = ev
      .where(col("event_type") === "error" && col("value") > 200)
      .select("user_id")
    assertSetOpsDiscriminates(kept, excluded, dir)
    kept.except(excluded).orderBy("user_id")
  }

  /** One-time-per-fixture guard that the set_ops gate stays
    * non-degenerate: the EXCEPT must remove at least one user AND
    * leave at least one — otherwise the oracle hash proves nothing
    * about set semantics (the round-11 failure mode: an empty result
    * hashed equal to an empty oracle).
    */
  private val setOpsDiscriminationChecked =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private def assertSetOpsDiscriminates(
      kept: DataFrame, excluded: DataFrame, dir: String): Unit = {
    if (setOpsDiscriminationChecked.contains(dir)) return
    val removed = kept.intersect(excluded).limit(1).count()
    val surviving = kept.except(excluded).limit(1).count()
    require(removed > 0,
      "set_ops precondition violated: the EXCEPT leg removes no user — " +
        "the gate would be insensitive to EXCEPT semantics")
    require(surviving > 0,
      "set_ops precondition violated: the EXCEPT leg removes every user — " +
        "the gate would hash an empty result (schema-only evidence)")
    setOpsDiscriminationChecked.add(dir)
  }

  private val setOpsSql = """
    SELECT user_id FROM events WHERE event_type = 'purchase'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'view'
    EXCEPT
    SELECT user_id FROM events WHERE event_type = 'error' AND value > 200"""

  /** JSON property extraction over the events `props` column: ONE typed
    * from_json parse per row against an explicit schema, then an
    * ordinary aggregate over the extracted field. The explicit schema
    * is the scale rule: `get_json_object` re-parses the string once
    * per PATH and schema inference (`schema_of_json`) is an extra
    * corpus pass — from_json with a declared struct parses once,
    * yields typed columns, and stays inside codegen. Oracled against
    * DuckDB's independent JSON extension.
    */
  def jsonExtract(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "events")
      .select(col("event_type"),
        from_json(col("props"), StructType(Seq(StructField("k", IntegerType))))
          .getField("k").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("k")).as("k_sum"),
        min(col("k")).as("k_min"), max(col("k")).as("k_max"))
      .orderBy("event_type")

  private val jsonExtractSql = """
    SELECT event_type, count(*) AS n,
           CAST(sum(CAST(json_extract_string(props, '$.k') AS INT)) AS BIGINT) AS k_sum,
           min(CAST(json_extract_string(props, '$.k') AS INT)) AS k_min,
           max(CAST(json_extract_string(props, '$.k') AS INT)) AS k_max
    FROM events GROUP BY event_type"""

  /** Explicit salted join ([[Skew.saltedJoin]]): the fact side salted
    * into 8 deterministic buckets, the dim side replicated 8×, join on
    * (key, salt) — the by-construction skew split for when one join key
    * holds more rows than an executor (AQE's skew handling is the first
    * resort; this is the explicit tool). The oracle is the PLAIN join +
    * aggregate: salting must be result-invariant.
    */
  def skewSaltedJoin(s: SparkSession, dir: String): DataFrame = {
    val li = T(s, dir, "lineitem")
      .select(col("l_suppkey").as("SK"), cents(col("l_extendedprice")).as("C"))
    val sup = T(s, dir, "supplier").select(col("s_suppkey").as("SK"), col("s_nationkey"))
    Skew.saltedJoin(li, sup, Seq("SK"), salt = 8)
      .groupBy("s_nationkey")
      .agg(count(lit(1)).as("n"), sum(col("C")).as("cents"))
      .orderBy("s_nationkey")
  }

  private val skewSaltedJoinSql = """
    SELECT s_nationkey, count(*) AS n,
           CAST(sum(CAST(round(l_extendedprice*100,0) AS BIGINT)) AS BIGINT) AS cents
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_nationkey"""

  /** Sessionization via the NATIVE session_window operator — the
    * built-in-first sibling of the flatMapGroupsWithState sessionizer
    * (EventStreams.sessionize) and the gaps-and-islands window
    * (events_sessionize): one vectorized groupBy, streaming-capable
    * with a watermark unchanged. Boundary semantics differ from the
    * window formulation and the oracle mirrors them: an event exactly
    * `gap` after the previous one starts a NEW session (its window
    * TOUCHES the previous one's end; Spark merges only overlapping
    * windows), hence `>=` in the oracle's new-session flag where
    * events_sessionize uses `>`.
    */
  def eventsSessionWindow(s: SparkSession, dir: String): DataFrame = {
    val ev0 = T(s, dir, "events")
    val ev = ev0.withColumn("_et", tsEventTimeOf(ev0))
    ev.groupBy(col("user_id"), session_window(col("_et"), "30 minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"), sum(cents(col("value"))).as("value_cents"))
      .select(col("user_id"),
        unix_micros(col("sw.start")).as("start_us"),
        unix_micros(col("sw.end")).as("end_us"),
        col("n_events"), col("value_cents"))
  }

  private val eventsSessionWindowSql = """
    WITH e AS (
      SELECT user_id, event_id, epoch_us(ts) AS ts_us, value,
             lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev_us
      FROM events),
    flagged AS (
      SELECT user_id, event_id, ts_us, value,
             CASE WHEN prev_us IS NULL OR ts_us - prev_us >= 1800000000 THEN 1 ELSE 0 END AS new_session
      FROM e),
    sess AS (
      SELECT user_id, ts_us, value,
             sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM flagged)
    SELECT user_id, min(ts_us) AS start_us, max(ts_us) + 1800000000 AS end_us,
           count(*) AS n_events,
           CAST(sum(CAST(round(value*100,0) AS BIGINT)) AS BIGINT) AS value_cents
    FROM sess GROUP BY user_id, sid"""

  /** Session rows of a real user: drops the sentinel's (user_id -1). */
  private def notSentinelUser(s: SparkSession, dir: String): Column = col("user_id") =!= -1L

  /** The native session_window sessionizer run by the Structured
    * Streaming engine — the streaming twin of [[eventsSessionWindow]]
    * (same groupBy, same 30-minute gap) against the same DuckDB oracle.
    * The corpus replays as 5 time-ordered files + sentinel, one file per
    * trigger, so watermark advance and state eviction cross ≥6 genuine
    * micro-batches (not one bulk batch + one drain).
    */
  val eventsSessionStream: StreamGate = new StreamGate(Sentinel(5, notSentinelUser), FileSink,
    src => {
      val ev = src.events()
      ev.withColumn("_et", tsEventTimeOf(ev))
        .withWatermark("_et", "2 hours")
        .groupBy(col("user_id"), session_window(col("_et"), "30 minutes").as("sw"))
        .agg(count(lit(1)).as("n_events"), sum(cents(col("value"))).as("value_cents"))
        .select(col("user_id"),
          unix_micros(col("sw.start")).as("start_us"),
          unix_micros(col("sw.end")).as("end_us"),
          col("n_events"), col("value_cents"))
    },
    check = r => {
      // loud evidence the run was genuinely multi-batch: one admitted
      // file per trigger → ≥ timeSplits+1 micro-batches (a silent fall
      // back to bulk admission would still hash-match, hiding the very
      // state-handoff this gate exists to exercise). The staged file
      // count is the actual one: range chunking may produce fewer chunks
      // than requested on a low-cardinality ts domain.
      val nFiles = r.nFiles
      val nBatches = r.query.recentProgress.map(_.batchId).distinct.length
      require(nBatches >= nFiles,
        s"expected >= $nFiles micro-batches (maxFilesPerTrigger=1 over " +
          s"$nFiles staged files), got $nBatches")
      require(nFiles >= 3, // data chunks + sentinel: multi-batch or bust
        s"staging produced only $nFiles files — the multi-batch evidence is gone")
    },
    readback = _.orderBy("user_id", "start_us"))

  /** The CUSTOM-STATE sessionizer ([[graft.streaming.EventStreams
    * .sessionize]], flatMapGroupsWithState + event-time timeout) under a
    * real stream, oracled like its built-in siblings. Closed sessions emit
    * in-batch; each user's final OPEN session emits via event-time TIMEOUT
    * when the sentinel advances the watermark, so the oracle exercises the
    * state-eviction path that bounds memory on an unbounded stream. The
    * state machine works in epoch MILLIS with a strict `>` gap rule, and
    * the oracle mirrors both (epoch_ms, gap > 1800000). Values become
    * integer cents BEFORE sessionization, so the state's running double
    * sum is exact and same-millisecond ties cannot perturb the hash.
    */
  val eventsSessionizeFmgws: StreamGate = new StreamGate(Sentinel(1, notSentinelUser), FileSink,
    src => {
      import src.s.implicits._
      val ev = src.events()
      val typed = ev.select(col("event_id"),
        tsEventTimeOf(ev).as("ts"),
        col("user_id"), col("event_type"),
        cents(col("value")).cast(DoubleType).as("value"))
        .as[graft.streaming.EventStreams.Event]
      graft.streaming.EventStreams.sessionize(typed, gapSeconds = 1800).toDF()
    },
    readback = _.select(col("user_id"),
      unix_millis(col("session_start")).as("start_ms"),
      unix_millis(col("session_end")).as("end_ms"),
      col("n_events"), col("total_value").as("total_c"))
      .orderBy("user_id", "start_ms"))
  private val eventsSessionizeFmgwsSql = """
    WITH e AS (
      SELECT user_id, event_id, epoch_ms(ts) AS ms,
             CAST(round(value*100,0) AS BIGINT) AS c
      FROM events),
    l AS (
      SELECT user_id, event_id, ms, c,
             lag(ms) OVER (PARTITION BY user_id ORDER BY ms, event_id) AS prev
      FROM e),
    f AS (
      SELECT user_id, event_id, ms, c,
             CASE WHEN prev IS NULL OR ms - prev > 1800000 THEN 1 ELSE 0 END AS ns
      FROM l),
    x AS (
      SELECT user_id, ms, c,
             sum(ns) OVER (PARTITION BY user_id ORDER BY ms, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
      FROM f)
    SELECT user_id, min(ms) AS start_ms, max(ms) AS end_ms,
           count(*) AS n_events,
           CAST(CAST(sum(c) AS BIGINT) AS DOUBLE) AS total_c
    FROM x GROUP BY user_id, sid"""

  /** Stream-stream interval join: each `view` event joins `purchase`
    * events of the same user within 30 minutes after it — the attribution
    * shape. The two sides are SEPARATE file-stream sources over the same
    * staged events (distinct lineage, so key columns resolve without
    * self-join ambiguity), each watermarked; the join condition
    * time-bounds the purchase side in both directions, which lets the
    * join evict state at watermark + horizon. Inner join ⇒ every match
    * emits in append mode, so the run must reproduce the oracle's batch
    * interval join, compared at microsecond precision on both engines
    * (epoch_us arithmetic, mirroring Spark's micros event time). Its
    * per-batch floor is a state-store commit per partition × 4 store
    * types × 2 sides.
    */
  val eventsStreamJoin: StreamGate = new StreamGate(Copies(1), FileSink,
    src => {
      def side(evType: String, idAs: String, tsAs: String) = {
        val ev = src.events()
        ev.where(col("event_type") === evType)
          .select(col("event_id").as(idAs), col("user_id"),
            tsEventTimeOf(ev).as(tsAs), col("value"))
          .withWatermark(tsAs, "2 hours")
      }
      val views = side("view", "view_id", "view_time").drop("value")
      val purchases = side("purchase", "purchase_id", "purchase_time")
      graft.streaming.EventStreams.intervalJoin(
        views, purchases, Seq("user_id"), "view_time", "purchase_time",
        horizonSeconds = 1800)
        .select(views("user_id"), col("view_id"), col("purchase_id"),
          (unix_micros(col("purchase_time")) - unix_micros(col("view_time"))).as("lag_us"),
          cents(col("value")).as("value_cents"))
    },
    readback = _.orderBy("view_id", "purchase_id"))
  private val eventsStreamJoinSql = """
    SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
           epoch_us(p.ts) - epoch_us(v.ts) AS lag_us,
           CAST(round(p.value*100,0) AS BIGINT) AS value_cents
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND epoch_us(p.ts) >= epoch_us(v.ts)
     AND epoch_us(p.ts) <= epoch_us(v.ts) + 1800000000
    WHERE v.event_type = 'view' AND p.event_type = 'purchase'"""

  /** Per-document TF-IDF top-3 terms (TextOps.tfidfTopTerms). The score
    * ranking is integer arithmetic on the 6-decimal-frozen idf (see the
    * operator scaladoc), so ranks and scores hash-match DuckDB exactly.
    */
  def tfidfTopK(s: SparkSession, dir: String): DataFrame =
    TextOps.tfidfTopTerms(T(s, dir, "documents"), k = 3)
      .orderBy("doc_id", "term")

  private val tfidfTopKSql = """
    WITH toks AS (
      SELECT doc_id,
             unnest(list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+'), x -> x <> '')) AS term
      FROM documents),
    tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
    dfc AS (SELECT term, count(*) AS n_docs_with_term FROM tf GROUP BY 1),
    n AS (SELECT count(*) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.term, tf.tf, dfc.n_docs_with_term,
             tf.tf * CAST(floor(ln((n.n + 1.0) / (dfc.n_docs_with_term + 1.0)) * 1000000.0 + 0.5) AS BIGINT) AS ss
      FROM tf JOIN dfc USING (term) CROSS JOIN n)
    SELECT doc_id, term, tf, n_docs_with_term, CAST(ss AS DOUBLE) / 1000000.0 AS score
    FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY ss DESC, term ASC) AS rk
          FROM scored)
    WHERE rk <= 3"""

  /** Corpus-level top-20 bigrams (TextOps.topNgrams) — integer counts,
    * deterministic (count desc, ngram asc) boundary, exact oracle.
    */
  def ngramTopK(s: SparkSession, dir: String): DataFrame =
    TextOps.topNgrams(T(s, dir, "documents"), n = 2, k = 20)

  private val ngramTopKSql = """
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\s+'), x -> x <> '') AS t
      FROM documents),
    ng AS (
      SELECT unnest(list_transform(range(1, len(t)), i -> t[i] || ' ' || t[i + 1])) AS ngram
      FROM toks WHERE len(t) >= 2)
    SELECT ngram, count(*) AS n_occurrences
    FROM ng GROUP BY 1
    ORDER BY n_occurrences DESC, ngram ASC LIMIT 20"""

  /** Winnowed (MOSS) document fingerprints, k=3 token shingles, window
    * w=4 — the rolling-hash fingerprinting primitive
    * (TextOps.winnowFingerprints). The oracle replays the FULL
    * algorithm independently in DuckDB: same normalization, same
    * md5-prefix shingle hashes, and the rightmost-minimum selection
    * re-derived per window via a positional range join +
    * row_number(ORDER BY fp, pos DESC) instead of Spark's single
    * struct-min window pass — two different plans, bit-identical
    * selected sets.
    */
  def winnowFingerprintsQ(s: SparkSession, dir: String): DataFrame =
    TextOps.winnowFingerprints(T(s, dir, "documents"), k = 3, w = 4)
      .orderBy("doc_id", "pos")

  private def winnowBaseSql(k: Int, w: Int): String = s"""
    WITH toks AS (
      SELECT doc_id,
             list_filter(string_split_regex(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g')), '\\s+'), x -> x <> '') AS t
      FROM documents),
    tn AS (SELECT doc_id, t, len(t) AS n FROM toks),
    grams AS (
      SELECT doc_id, i - 1 AS pos,
             substring(md5(${(0 until k).map(j => s"t[i + $j]").mkString(" || ' ' || ")}), 1, 16) AS fp
      FROM tn, unnest(range(1, n - $k + 2)) AS u(i)
      WHERE n >= $k),
    m AS (SELECT doc_id, count(*) AS m FROM grams GROUP BY 1),
    starts AS (
      SELECT g.doc_id, g.pos AS i FROM grams g JOIN m USING (doc_id)
      WHERE g.pos <= greatest(m.m - $w, 0)),
    cand AS (
      SELECT s.doc_id, s.i, g.pos, g.fp,
             row_number() OVER (PARTITION BY s.doc_id, s.i ORDER BY g.fp ASC, g.pos DESC) AS rn
      FROM starts s JOIN grams g ON s.doc_id = g.doc_id AND g.pos BETWEEN s.i AND s.i + $w - 1),
    winnowed AS (SELECT DISTINCT doc_id, pos, fp FROM cand WHERE rn = 1)"""

  private val winnowFingerprintsSql =
    winnowBaseSql(3, 4) +
      "\n    SELECT doc_id, CAST(pos AS INTEGER) AS pos, fp FROM winnowed"

  /** Fingerprint-overlap near-duplicates over the winnowed set
    * (TextOps.winnowNearDups, minShared=3, maxDf=20): at the fixture's
    * scale this surfaces EXACTLY the planted near-dup pairs — the same
    * 25-pair truth set the MinHash and SimHash gates converge on, found
    * by a third independent mechanism (deterministic positional
    * minima, not random permutations or hyperplanes).
    */
  def winnowNearDupsQ(s: SparkSession, dir: String): DataFrame =
    TextOps.winnowNearDups(T(s, dir, "documents"), k = 3, w = 4, minShared = 3, maxDf = 20)

  private val winnowNearDupsSql = winnowBaseSql(3, 4) + """,
    sel AS (SELECT DISTINCT doc_id, fp FROM winnowed),
    dfc AS (SELECT fp, count(*) AS ndocs FROM sel GROUP BY 1),
    kept AS (SELECT s.doc_id, s.fp FROM sel s JOIN dfc USING (fp) WHERE dfc.ndocs <= 20)
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared
    FROM kept a JOIN kept b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2 HAVING count(*) >= 3"""

  /** Incremental near-dup maintenance (TextOps.incrementalNearDups):
    * the lower half of the corpus is fingerprinted ONCE and persisted
    * as a slim at-rest (doc_id, fp) index; the upper half arrives as an
    * increment whose near-dups against the base are found by joining
    * its fresh fingerprints to the index — the base TEXT is never
    * re-read. The oracle is the one-shot DuckDB winnow replay
    * restricted to cross-boundary pairs, which the incremental
    * composition must equal exactly (including the union-side df-cap).
    * The midpoint boundary is derived from max(doc_id) in both engines,
    * so the row is sf-agnostic; the fixture plants cross-boundary
    * near-dup pairs at every sf.
    */
  def incrementalNearDupsQ(s: SparkSession, dir: String): DataFrame = {
    val docs = T(s, dir, "documents")
    // bounded driver scalar (one row): the synthetic base/increment split
    val bound = (docs.agg(max("doc_id")).head.getLong(0) + 1L) / 2L
    val tmp = graft.engine.Scratch.dir(s"graft_winnow_idx:$dir")
    TextOps.winnowIndex(docs.where(col("doc_id") < bound))
      .write.mode("overwrite").parquet(tmp)
    TextOps.incrementalNearDups(docs.where(col("doc_id") >= bound), s.read.parquet(tmp))
  }

  private val incrementalNearDupsSql = winnowBaseSql(3, 4) + """,
    sel AS (SELECT DISTINCT doc_id, fp FROM winnowed),
    dfc AS (SELECT fp, count(*) AS ndocs FROM sel GROUP BY 1),
    kept AS (SELECT s.doc_id, s.fp FROM sel s JOIN dfc USING (fp) WHERE dfc.ndocs <= 20),
    bnd AS (SELECT (max(doc_id) + 1) // 2 AS b FROM documents)
    SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b, count(*) AS shared
    FROM kept a JOIN kept b2 ON a.fp = b2.fp CROSS JOIN bnd
    WHERE a.doc_id < bnd.b AND b2.doc_id >= bnd.b
    GROUP BY 1, 2 HAVING count(*) >= 3"""

  /** Johnson–Lindenstrauss random projection gated as a RECALL AUDIT
    * (the ann_lsh_topk pattern): corpus and queries project 64 → 16
    * dims through the deterministic seed-7 matrix, brute-force top-5
    * runs in PROJECTED space, and the output is the per-query summary
    * against the exactly-oracled full-space top-15 (result count, hits
    * inside the true top-5, worst true rank — an out-of-top-15 result
    * surfaces as 9999 and fails the gate loudly). The oracle REPLAYS
    * the projection end-to-end in DuckDB from spliced matrix literals —
    * dot products evaluate left-to-right in both engines, so the
    * projected vectors are bit-identical and the row holds at every sf.
    * This pins the approximation quality of the 4× narrower vectors the
    * 100 TB path ships to its banding/bucketing stages.
    */
  def rpTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings")
    val proj = Ann.randomProject(col("embedding"), dim = 64, outDim = 16, seed = 7L)
    val corpusP = emb.select(col("vec_id"), proj.as("embedding"))
    val queriesP = emb.where(col("vec_id") < 3).select(col("vec_id"), proj.as("embedding"))
    val rp = Ann.bruteForceTopK(corpusP, queriesP, k = 5)
    val brute = Ann.bruteForceTopK(emb, emb.where(col("vec_id") < 3), k = 15)
      .select(col("query_id"), col("neighbor_id"), col("rank").as("_brank"))
    rp.select("query_id", "neighbor_id")
      .join(brute, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_returned"),
        sum(when(col("_brank") <= 5, 1L).otherwise(0L)).as("hits_top5"),
        max(coalesce(col("_brank").cast(LongType), lit(9999L))).as("max_brute_rank"))
      .orderBy("query_id")
  }

  private val rpTopKSql = {
    val planes = Ann.hyperplanes(16, 64, seed = 7L)
    val values = planes.zipWithIndex
      .map { case (p, i) => s"($i, [${p.mkString(", ")}]::DOUBLE[])" }.mkString(", ")
    def dotSql(a: String, b: String) =
      s"list_sum(list_transform(list_zip($a, $b), p -> CAST(p[1] AS DOUBLE)*CAST(p[2] AS DOUBLE)))"
    def cosSql(a: String, b: String) = {
      val normProd = s"(sqrt(${dotSql(a, a)}) * sqrt(${dotSql(b, b)}))"
      s"CASE WHEN $normProd > 0 THEN ${dotSql(a, b)} / $normProd ELSE 0.0 END"
    }
    s"""
    WITH pm(pid, pvec) AS (VALUES $values),
    proj AS (
      SELECT vec_id, list(d ORDER BY pid) AS p
      FROM (SELECT e.vec_id, pm.pid, ${dotSql("e.embedding", "pm.pvec")} AS d
            FROM embeddings e CROSS JOIN pm)
      GROUP BY vec_id),
    rp AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY ${cosSql("q.p", "c.p")} DESC, c.vec_id ASC) AS rn
      FROM proj c CROSS JOIN (SELECT * FROM proj WHERE vec_id < 3) q
      WHERE c.vec_id <> q.vec_id
      QUALIFY rn <= 5),
    brute AS (
      SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
             row_number() OVER (PARTITION BY q.vec_id
               ORDER BY ${cosSql("q.embedding", "e.embedding")} DESC, e.vec_id ASC) AS brank
      FROM embeddings e CROSS JOIN (SELECT * FROM embeddings WHERE vec_id < 3) q
      WHERE e.vec_id <> q.vec_id
      QUALIFY brank <= 15)
    SELECT r.query_id,
           count(*) AS n_returned,
           CAST(sum(CASE WHEN b.brank <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS hits_top5,
           max(coalesce(b.brank, 9999)) AS max_brute_rank
    FROM rp r LEFT JOIN brute b USING (query_id, neighbor_id)
    GROUP BY r.query_id"""
  }

  /** Top-k by price with deterministic tiebreak. */
  def topK(s: SparkSession, dir: String): DataFrame =
    T(s, dir, "lineitem")
      .select(col("l_orderkey"), col("l_linenumber"), cents(col("l_extendedprice")).as("price_cents"))
      .orderBy(col("price_cents").desc, col("l_orderkey").asc, col("l_linenumber").asc)
      .limit(10)

  private val topKSql = """
    SELECT l_orderkey, l_linenumber, CAST(round(l_extendedprice*100,0) AS BIGINT) AS price_cents
    FROM lineitem ORDER BY price_cents DESC, l_orderkey ASC, l_linenumber ASC LIMIT 10"""

  // ------------------------------------------------------------------ registry

  type QueryFn = (SparkSession, String) => DataFrame

  /** What a catalog row needs of the reference metadata corpus
    * ([[RealMeta]]) beyond the synthetic fixtures. */
  sealed trait CorpusUse
  /** Runs on the synthetic fixtures alone. */
  case object NoCorpus extends CorpusUse
  /** The query reads the corpus; its oracle SQL is a literal string. */
  case object CorpusQuery extends CorpusUse
  /** The query reads the corpus and its oracle SQL is generated from it. */
  case object CorpusQueryAndSql extends CorpusUse

  /** One catalog row. The oracle SQL is built on first use, so a row
    * whose SQL is generated from the corpus costs nothing until asked for.
    * `query` is the row's result; `plan` builds the same DataFrame without
    * running anything a streaming row runs to produce it (for a batch row
    * the two are one function).
    */
  final class CatalogEntry(val name: String, val query: QueryFn, val plan: QueryFn,
      sql: => String, val corpus: CorpusUse) {
    lazy val oracleSql: String = sql
    /** The query can run in this environment. */
    def runnable: Boolean = corpus == NoCorpus || RealMeta.available
    /** The oracle SQL can be built in this environment. */
    def sqlBuildable: Boolean = corpus != CorpusQueryAndSql || RealMeta.available
    /** Why the query cannot run here, for the `unavailable` records of
      * Verify and Bench; None when it can. */
    def unavailableReason: Option[String] =
      if (runnable) None
      else Some(s"needs the reference metadata corpus, not found at ${RealMeta.root}" +
        " (set GRAFT_REFERENCE_METADATA)")
  }

  private def entry(name: String, query: QueryFn, sql: => String,
      corpus: CorpusUse = NoCorpus): CatalogEntry =
    new CatalogEntry(name, query, query, sql, corpus)

  /** A row run by a [[StreamGate]]: its stream starts in `query` only. */
  private def streamEntry(name: String, gate: StreamGate, sql: => String): CatalogEntry =
    new CatalogEntry(name, gate.run, gate.plan, sql, NoCorpus)

  /** Every query with its DuckDB oracle SQL; ordered for stable bench
    * diffs. Every row carries an oracle SQL. 21 rows need the reference
    * metadata corpus (`GRAFT_REFERENCE_METADATA`, default
    * [[graft.meta.RealMeta.root]]): `d1_real_commodities`, the two
    * `d1_golden_*` rows, `e16_geo`, `e16_geo_region`,
    * `d2_county_external` and the 15 `real_*` rows. They are tagged by
    * [[CorpusUse]]: where [[RealMeta.available]] is false their queries
    * cannot run, and the three [[CorpusQueryAndSql]] rows cannot build
    * their oracle SQL either. Callers that walk the catalog leave those
    * rows out only then, by [[CatalogEntry.runnable]] /
    * [[CatalogEntry.sqlBuildable]].
    */
  val catalog: Seq[CatalogEntry] = Seq(
    entry("q1_agg", q1Agg _, q1Sql),
    entry("b1_clean", b1Clean _, b1Sql),
    entry("b2_replace", b2Replace _, b2Sql),
    entry("b4_cast", b4Cast _, b4Sql),
    entry("b5_union", b5Union _, b5Sql),
    entry("c1c2_literals", c1c2Literals _, c1c2Sql),
    entry("c6_order", c6Order _, c6Sql),
    entry("c7_numeric", c7Numeric _, c7Sql),
    entry("c8_categorical", c8Categorical _, c8Sql),
    entry("c9_filter", c9Filter _, c9Sql),
    entry("c10_groupby_sum", c10GroupbySum _, c10SumSql),
    entry("agg_rollup", aggRollup _, aggRollupSql),
    entry("agg_cube", aggCube _, aggCubeSql),
    entry("window_funcs", windowFuncs _, windowFuncsSql),
    entry("c10_melt", c10Melt _, c10MeltSql),
    entry("c12_join", c12Join _, c12Sql),
    entry("c13_members", c13Members _, c13Sql),
    entry("c14_equivalence", c14Equivalence _, c14Sql),
    entry("c15_season", c15Season _, c15Sql),
    entry("d1_classification", d1Classification _, d1Sql),
    entry("d1_expr_classification", d1ExprClassification _, d1Sql),
    entry("d1_real_commodities", d1RealCommodities _, d1RealSql, CorpusQueryAndSql),
    entry("d1_golden_commodities", d1GoldenCommodities _, d1GoldenSql, CorpusQuery),
    entry("d1_golden_occupations", d1GoldenOccupations _, d1GoldenOccSql, CorpusQuery),
    entry("d2_attribute", d2Attribute _, d2Sql),
    entry("e5_select", e5Select _, e5Sql),
    entry("e16_geo", e16Geo _, e16Sql, CorpusQueryAndSql),
    entry("e16_geo_region", e16GeoRegion _, e16RegionSql, CorpusQueryAndSql),
    entry("d2_county_external", d2CountyExternal _, d2CountySql, CorpusQuery),
    entry("a1_csv_roundtrip", a1CsvRoundtrip _, a1Sql),
    entry("a3_http_parquet", a3HttpParquet _, a3Sql),
    entry("jsonl_roundtrip", jsonlRoundtrip _, jsonlSql),
    entry("orc_roundtrip", orcRoundtrip _, jsonlSql),
    entry("zorder_roundtrip", zorderRoundtrip _, zorderSql),
    entry("compact_roundtrip", compactRoundtrip _, jsonlSql),
    entry("e6_weight", e6Weight _, e6Sql),
    entry("e10_weighted_avg", e10WeightedAvg _, e10Sql),
    entry("e11_average_table", e11AverageTable _, e11SqlReal),
    entry("e12_quantile", e12Quantile _, e12Sql),
    entry("e12d_attr_quantile", e12dAttrQuantile _, e12dSql),
    entry("e12e_equiv_quantile", e12eEquivQuantile _, e12eSql),
    entry("e13_decile", e13Decile _, e13Sql),
    entry("e12b_weighted_median", e12bWeightedMedian _, e12bSql),
    entry("e12c_median_sketch", e12cMedianSketch _, e12cSql),
    entry("e7e8_cpi", e7e8Cpi _, e7e8Sql),
    entry("e9_equivalence", e9Equivalence _, e9Sql),
    entry("isc_summary", iscSummary _, iscSummarySql),
    entry("isc_summary_bucketed", iscSummaryBucketed _, iscSummarySql),
    entry("dedup_exact", dedupExact _, dedupExactSql),
    entry("dedup_paragraphs", dedupParagraphsQ _, dedupParagraphsSql),
    entry("remove_frequent_lines", removeFrequentLinesQ _, removeFrequentLinesSql),
    entry("dedup_spans", dedupSpansQ _, dedupSpansSql),
    entry("dedup_spans_hashed", dedupSpansHashedQ _, dedupSpansSql),
    entry("dedup_spans_sample", dedupSpansSampleQ _, dedupSpansSampleSql),
    entry("dedup_spans_hashed_sample", dedupSpansHashedSampleQ _, dedupSpansSampleSql),
    entry("dedup_spans_invariants", dedupSpansInvariantsQ _, dedupSpansInvariantsSql),
    entry("lm_score", lmScoreQ _, lmScoreSql),
    entry("ccnet_buckets", ccnetBuckets _, ccnetBucketsSql),
    entry("ccnet_buckets_scaled", ccnetBucketsScaled _, ccnetBucketsScaledSql),
    entry("ccnet_buckets_sample", ccnetBucketsSample _, ccnetBucketsSampleSql),
    entry("text_stats", textStats _, textStatsSql),
    entry("rep_signals", repSignals _, repSignalsSql),
    entry("pii_redact", piiRedact _, piiRedactSql),
    entry("contamination", contamination _, contaminationSql),
    entry("decontaminate", decontaminate _, decontaminateSql),
    entry("pack_shards", packShards _, packShardsSql),
    entry("chunk_docs", chunkDocs _, chunkDocsSql),
    entry("assign_splits", assignSplits _, assignSplitsSql),
    entry("hash_sample", hashSample _, hashSampleSql),
    entry("stratified_sample", stratifiedSample _, stratifiedSampleSql),
    entry("mix_sources", mixSources _, mixSourcesSql),
    entry("curation_pipeline", curationPipeline _, curationPipelineSql),
    entry("lang_id", langId _, langIdSql),
    entry("quality_score", qualityScore _, qualityScoreSql),
    entry("ngram_jaccard", ngramJaccard _, ngramJaccardSql),
    entry("minhash_pairs", minhashPairs _, minhashPairsSql),
    entry("minhash_near_dups", minhashNearDups _, minhashNearDupsSql),
    entry("minhash_near_dups_sample", minhashNearDupsSample _, minhashNearDupsSampleSql),
    entry("minhash_sigs", minhashSigs _, minhashSigsSql),
    entry("simhash_pairs", simhashPairs _, simhashPairsSql),
    entry("simhash_pairs_capped", simhashPairsCapped _, simhashPairsSql),
    entry("simhash_pairs_saturated", simhashPairsSaturated _, simhashPairsSaturatedSql),
    entry("simhash_near_dups", simhashNearDups _, simhashNearDupsSql),
    entry("near_dups_auto", nearDupsAutoQ _, nearDupsAutoSql),
    entry("near_dups_auto_saturated", nearDupsAutoSaturatedQ _, nearDupsAutoSaturatedSql),
    entry("ann_brute_topk", annBruteTopK _, annBruteSql),
    entry("ann_int8_topk", annInt8TopK _, annInt8Sql),
    entry("ann_lsh_topk", annLshTopK _, annLshTopKSql),
    entry("ann_cosine_dedup", annCosineDedup _, annCosineDedupSql),
    entry("ann_cosine_dedup_clustered", annCosineDedupClusteredQ _, annCosineDedupClusteredSql),
    entry("semantic_dedup", semanticDedupQ _, semanticDedupSql),
    entry("semantic_dedup_k32", semanticDedupK32Q _, semanticDedupK32Sql),
    entry("semantic_dedup_distributed", semanticDedupDistributedQ _, semanticDedupK32Sql),
    entry("multimodal_features", multimodalFeatures _, multimodalSql),
    entry("dedup_clusters", dedupClusters _, dedupClustersSql),
    entry("dedup_clusters_sample", dedupClustersSample _, dedupClustersSampleSql),
    entry("dedup_best_quality", dedupBestQuality _, dedupBestQualitySql),
    entry("ivf_topk", ivfTopK _, annBruteSql),
    entry("ivf_int8_topk", ivfInt8TopK _, annInt8Sql),
    entry("kmeans_step", kmeansStep _, kmeansStepSql),
    entry("kmeans_converged", kmeansConverged _, kmeansConvergedSql),
    entry("ann_pipeline", annPipeline _, annPipelineSql),
    entry("skew_salted_agg", skewSaltedAgg _, skewSaltedSql),
    entry("events_window_agg", eventsWindowAgg _, eventsWindowSql),
    streamEntry("events_window_stream", eventsWindowStream, eventsWindowSql),
    streamEntry("events_stream_sink", eventsStreamSink, eventsWindowSql),
    new CatalogEntry("events_stream_recovery", eventsStreamRecovery, streamRecoveryGate.plan,
      eventsWindowSql, NoCorpus),
    streamEntry("events_dedup_stream", eventsDedupStream, eventsDedupStreamSql),
    entry("events_sessionize", eventsSessionize _, eventsSessionizeSql),
    entry("events_session_window", eventsSessionWindow _, eventsSessionWindowSql),
    streamEntry("events_session_stream", eventsSessionStream, eventsSessionWindowSql),
    streamEntry("events_sessionize_fmgws", eventsSessionizeFmgws, eventsSessionizeFmgwsSql),
    entry("asof_join", asofJoinQ _, asofJoinSql),
    entry("asof_join_forward", asofJoinForwardQ _, asofJoinForwardSql),
    entry("asof_join_nearest", asofJoinNearestQ _, asofJoinNearestSql),
    entry("events_rolling", eventsRolling _, eventsRollingSql),
    entry("events_pivot", eventsPivot _, eventsPivotSql),
    entry("set_ops", setOps _, setOpsSql),
    entry("json_extract", jsonExtract _, jsonExtractSql),
    entry("events_daily_active", eventsDailyActive _, eventsDailyActiveSql),
    entry("skew_salted_join", skewSaltedJoin _, skewSaltedJoinSql),
    entry("approx_distinct", approxDistinct _, approxDistinctSql),
    streamEntry("events_enrich_stream", eventsEnrichStream, eventsEnrichStreamSql),
    streamEntry("events_stream_join", eventsStreamJoin, eventsStreamJoinSql),
    entry("tfidf_topk", tfidfTopK _, tfidfTopKSql),
    entry("ngram_topk", ngramTopK _, ngramTopKSql),
    entry("winnow_fingerprints", winnowFingerprintsQ _, winnowFingerprintsSql),
    entry("winnow_near_dups", winnowNearDupsQ _, winnowNearDupsSql),
    entry("incremental_near_dups", incrementalNearDupsQ _, incrementalNearDupsSql),
    entry("rp_topk", rpTopK _, rpTopKSql),
    entry("ann_lsh_full_recall", annLshFullRecall _, annBruteSql),
    entry("topk", topK _, topKSql),
    // engine path: metadata doc -> schema DAG -> clean -> pipeline -> cache
    entry("e1_load_table", EngineQueries.e1LoadTable _, EngineQueries.e1Sql),
    entry("c17_multiyear", EngineQueries.c17MultiYear _, EngineQueries.c17Sql),
    entry("e2_schema_table", EngineQueries.e2SchemaTable _, EngineQueries.e2Sql),
    entry("a9_cache", EngineQueries.a9Cache _, EngineQueries.a9Sql),
    entry("a9_cache_bucketed", EngineQueries.a9CacheBucketed _, EngineQueries.a9Sql),
    entry("e14_external", EngineQueries.e14External _, EngineQueries.e14Sql),
    entry("e14_cleaned", EngineQueries.e14Cleaned _, EngineQueries.e14CleanedSql),
    entry("e15_view", EngineQueries.e15View _, Queries.d1Sql),
    entry("e18_availability", EngineQueries.e18Availability _, EngineQueries.e18Sql),
    // real-metadata DAG execution: raw (era-correct columns) -> cleaned
    // -> Original_Expenditures -> Expenditures -> Total_Expenditure
    entry("real_total_expenditure", RealPipeline.realTotalExpenditure _,
      RealPipeline.realTotalExpenditureSql, CorpusQuery),
    entry("real_income_breakdown", RealPipeline.realIncomeBreakdown _,
      RealPipeline.realIncomeBreakdownSql, CorpusQuery),
    entry("real_total_income", RealPipeline.realTotalIncome _,
      RealPipeline.realTotalIncomeSql, CorpusQuery),
    entry("real_members_income_breakdown", RealPipeline.realMembersIncomeBreakdown _,
      RealPipeline.realMembersIncomeBreakdownSql, CorpusQuery),
    entry("real_members_total_income", RealPipeline.realMembersTotalIncome _,
      RealPipeline.realMembersTotalIncomeSql, CorpusQuery),
    entry("real_total_outlay", RealPipeline.realTotalOutlay _,
      RealPipeline.realTotalOutlaySql, CorpusQuery),
    entry("real_expenditure_breakdown", RealPipeline.realExpenditureBreakdown _,
      RealPipeline.realExpenditureBreakdownSql, CorpusQuery),
    // full-archive (one-plan) gates: every family across its entire
    // real availability span, oracled end-to-end
    entry("real_total_expenditure_39y",
      ((s: SparkSession, dir: String) =>
        RealPipeline.realTotalExpenditureMultiYear(s, dir).orderBy("Year", "ID")),
      RealPipeline.realTotalExpenditure39ySql, CorpusQuery),
    entry("real_members_income_multiyear",
      ((s: SparkSession, dir: String) =>
        RealPipeline.realMembersIncomeBreakdownMultiYear(s, dir)
          .orderBy("Year", "ID", "Member_Number", "Income_Type")),
      RealPipeline.realMembersIncomeMultiYearSql, CorpusQuery),
    entry("real_members_total_income_multiyear",
      ((s: SparkSession, dir: String) =>
        RealPipeline.realMembersTotalIncomeMultiYear(s, dir)
          .orderBy("Year", "ID", "Member_Number")),
      RealPipeline.realMembersTotalIncomeMultiYearSql, CorpusQuery),
    entry("real_income_breakdown_multiyear",
      ((s: SparkSession, dir: String) =>
        RealPipeline.realIncomeBreakdownMultiYear(s, dir)
          .orderBy("Year", "ID", "Income_Type")),
      RealPipeline.realIncomeBreakdownMultiYearSql, CorpusQuery),
    entry("real_total_outlay_multiyear",
      ((s: SparkSession, dir: String) =>
        RealPipeline.realTotalOutlayMultiYear(s, dir).orderBy("Year", "ID")),
      RealPipeline.realTotalOutlayMultiYearSql, CorpusQuery),
    entry("real_number_of_members", RealPipeline.realNumberOfMembers _,
      RealPipeline.realNumberOfMembersSql, CorpusQuery),
    entry("real_equivalence_scale", RealPipeline.realEquivalenceScale _,
      RealPipeline.realEquivalenceScaleSql, CorpusQuery),
    entry("real_weights", RealPipeline.realWeights _,
      RealPipeline.realWeightsSql, CorpusQuery),
  )

  /** Bench-only queries: timed by Bench, absent from the correctness
    * catalog. `ann_lsh_query` keeps the pure approximate path's timing
    * signal — its gate sibling `ann_lsh_topk` wraps the same plan in a
    * brute-force recall audit whose exact scan would otherwise dominate
    * (and mask regressions in) the LSH wall-clock.
    */
  /** Bench-only: [[Ann.semanticDedup]] with the k-growth operating rule
    * TURNED — k = max(8, n/2500) centroids (8 at sf0.1, 80 at sf10, 800
    * at sf100), so mean cluster size stays ~2500 and the within-cluster
    * banded verification keeps its small-corpus residue at every scale.
    * The oracled `semantic_dedup` gate pins correctness at a FIXED k=8;
    * the SCALE.md 1000× probe measures that fixed point degrading to
    * 944s at 2M vectors; this row is the documented fix, measured.
    * Centroids are the k lowest-id corpus vectors (TakeOrdered — exists
    * at any inflation factor, k-bounded collect of model metadata:
    * k×64 doubles ≈ 400 KB at k=800), labeled 0..k-1 in id order; the
    * count() feeding k is a parquet-footer rowcount, not a scan.
    */
  def semanticDedupScaled(s: SparkSession, dir: String): DataFrame = {
    val emb = T(s, dir, "embeddings").select(col("vec_id"), col("embedding"))
    val n = emb.count()
    val k = math.max(8L, n / 2500L).toInt
    val ctrs = emb.orderBy("vec_id").limit(k).collect()
      .map(r => r.getSeq[Float](1).map(_.toDouble).toArray)
      .zipWithIndex.map { case (v, i) => (i, v) }.toSeq
    Ann.semanticDedup(emb, ctrs, threshold = 0.8, dim = 64)
  }

  val benchExtra: Map[String, (SparkSession, String) => DataFrame] =
    Map("ann_lsh_query" -> (annLshQuery _),
      "e12_window_hicard" -> (e12WindowHiCard _),
      "e12_sketch_hicard" -> (e12SketchHiCard _),
      "semantic_dedup_scaled" -> (semanticDedupScaled _))

  /** Subset used by Bench at sf0.1 (representative of every operator
    * family). Pure format-round-trip writers (a1_csv_roundtrip,
    * jsonl/orc round-trips) are excluded — their wall-clock is sink
    * I/O, not operator work. `events_stream_sink` is the DELIBERATE
    * exception to that rule: it writes parquet + a checkpoint and runs
    * two stream starts per invocation, because the checkpointed-landing
    * fixed cost IS the thing being measured (see SCALE.md).
    */
  val benchNames: Seq[String] = Seq(
    "q1_agg", "b1_clean", "c7_numeric", "c8_categorical", "c10_groupby_sum",
    "c12_join", "c13_members", "d1_classification", "d1_expr_classification",
    "d2_attribute", "e5_select", "e10_weighted_avg", "e12_quantile", "e12c_median_sketch",
    "e12_window_hicard", "e12_sketch_hicard", "e13_decile",
    "e7e8_cpi", "e9_equivalence", "isc_summary", "isc_summary_bucketed",
    "dedup_exact", "dedup_paragraphs", "remove_frequent_lines", "dedup_spans", "dedup_spans_hashed", "lm_score", "ccnet_buckets", "ccnet_buckets_scaled", "ccnet_buckets_sample", "text_stats", "rep_signals", "lang_id", "quality_score", "ngram_jaccard",
    "tfidf_topk", "ngram_topk", "winnow_fingerprints", "winnow_near_dups",
    "pii_redact", "contamination", "decontaminate", "pack_shards", "chunk_docs",
    "stratified_sample", "curation_pipeline",
    "minhash_pairs", "minhash_near_dups", "simhash_pairs", "simhash_near_dups",
    "near_dups_auto", "near_dups_auto_saturated",
    "ann_brute_topk", "ann_int8_topk", "ann_lsh_query", "rp_topk",
    "ann_cosine_dedup", "ann_cosine_dedup_clustered", "semantic_dedup", "semantic_dedup_k32", "semantic_dedup_distributed", "semantic_dedup_scaled", "ivf_topk", "ivf_int8_topk", "kmeans_step", "kmeans_converged", "ann_pipeline", "dedup_clusters", "skew_salted_agg",
    "multimodal_features",
    "events_window_agg", "events_window_stream", "events_stream_sink",
    "events_dedup_stream", "events_enrich_stream",
    "events_stream_join",
    "approx_distinct",
    "events_sessionize", "events_session_window", "events_session_stream",
    "asof_join", "asof_join_nearest", "events_rolling", "skew_salted_join",
    "agg_rollup", "agg_cube", "window_funcs", "events_pivot", "set_ops", "json_extract",
    "events_daily_active", "topk",
    // the flagship real-metadata DAG: deliberately the UNCACHED variant
    // (realTotalExpenditure builds no A9 cache dir), so every run pays
    // the full 13+9-scan union + metadata-compiled projections — the
    // cost being tracked is plan compilation + single-pass execution,
    // not a cached-parquet read
    "real_total_expenditure",
    // appended so the earlier rows keep their "mins" positions
    "events_stream_recovery", "events_sessionize_fmgws")
}
