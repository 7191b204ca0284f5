package perfbench

import java.io.{File, PrintWriter}

import scala.util.Random

import graft.engine.{RepoConfig, TableRepo}
import graft.meta.Meta
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** An HBSIR-shaped survey generated from a seed: the metadata documents the
  * engine is driven by, and raw per-(table, year) CSV files in the
  * reference's layout (upper-case raw column names, every value a string).
  *
  * The metadata is year-versioned the way the reference's is: the raw
  * expenditure column is renamed in 1380, the gross-expenditure instruction
  * changes form in 1390, a province is added in 1390, and every even
  * second-level commodity group splits in two in 1399.
  */
object Survey {
  val FirstYear = 1363
  val LastYear = 1401

  /** Distinct commodity codes in the pool. The decoders' cost depends on it;
    * 1000 is the size of the reference's commodity list.
    */
  val CommodityCodes = 1000

  /** Households per year, expenditure rows per household (mean) — the input
    * size of one workload.
    */
  final case class Size(households: Int, foodPerHousehold: Int, durablePerHousehold: Int)

  val tables: Seq[String] = Seq("food", "durable", "household_information", "members_properties")

  def rawColumns(table: String, year: Int): Seq[String] = table match {
    case "food" | "durable"       => Seq("ADDRESS", "CODE", if (year < 1380) "VALUE" else "EXPENDITURE")
    case "household_information" => Seq("ADDRESS", "WEIGHT")
    case "members_properties"    => Seq("ADDRESS", "MEMBER", "AGE")
  }

  val tablesYaml: String = {
    val expenditure = """
  settings: {missings: error}
  columns:
    1363:
      ADDRESS: {new_name: ID, type: unsigned}
      CODE: {new_name: Code, type: unsigned}
      VALUE: {new_name: Expenditure, type: float}
    1380:
      ADDRESS: {new_name: ID, type: unsigned}
      CODE: {new_name: Code, type: unsigned}
      EXPENDITURE: {new_name: Expenditure, type: float}
"""
    s"""
food:$expenditure
durable:$expenditure
household_information:
  columns:
    ADDRESS: {new_name: ID, type: unsigned}
    WEIGHT: {new_name: Weight, type: unsigned}
members_properties:
  columns:
    ADDRESS: {new_name: ID, type: unsigned}
    MEMBER: {new_name: Member_Number, type: unsigned}
    AGE: {new_name: Age, type: unsigned}
"""
  }

  val schemaYaml: String = """
food:
  instructions:
    - add_year
    - add_table_name
    - create_column: {name: Duration, type: numerical, expression: 30}
durable:
  instructions:
    - add_year
    - add_table_name
    - create_column: {name: Duration, type: numerical, expression: 360}
household_information:
  instructions:
    - add_year
members_properties:
  instructions:
    - add_year
Original_Expenditures:
  table_list: [food, durable]
  instructions:
    1363:
      - create_column: {name: Gross_Expenditure, type: numerical, expression: "Expenditure / Duration * 360"}
    1390:
      - create_column: {name: Gross_Expenditure, type: numerical, expression: "Expenditure * 360 / Duration"}
Expenditures:
  table_list: Original_Expenditures
  cache_result: true
Total_Expenditure:
  table_list: Expenditures
  instructions:
    - apply_pandas_function: 'table.groupby(["Year", "ID"])[["Gross_Expenditure"]].sum().reset_index()'
Number_of_Members:
  table_list: members_properties
  instructions:
    - apply_external_function: schema_functions.number_of_members
Equivalence_Scale:
  table_list: Number_of_Members
  instructions:
    - apply_external_function: schema_functions.equivalence_scale
"""

  /** Household IDs are 8 digits: urban (1) or rural (2), a two-digit
    * province, and a five-digit sequence number.
    */
  val Provinces: Seq[Int] = 10 to 30
  val NewProvince = 31
  val NewProvinceYear = 1390

  val householdYaml: String = {
    def names(codes: Seq[Int]) = codes.map(c => s"$c: P$c").mkString("{", ", ", "}")
    s"""
ID_Length: 8
Urban_Rural:
  code:
    position: {start: 0, end: 1}
  name: {1: Urban, 2: Rural}
Province:
  code:
    position: {start: 1, end: 3}
  name:
    $FirstYear: ${names(Provinces)}
    $NewProvinceYear: ${names(Provinces :+ NewProvince)}
"""
  }

  /** The commodity pool: 125 three-digit groups of 8 codes each. */
  def commodityPool(seed: Long): IndexedSeq[Int] = {
    val rnd = new Random(seed ^ 0x5eedL)
    val groups = rnd.shuffle((100 to 999).toVector).take(CommodityCodes / 8).sorted
    groups.flatMap(g => rnd.shuffle((0 to 99).toVector).take(8).sorted.map(g * 100 + _))
  }

  val SplitYear = 1399

  /** A three-level classification of the pool: the first digit, the first
    * two (even ones split at [[SplitYear]]) and the first three.
    */
  def classificationYaml(pool: Seq[Int]): String = {
    val sb = new StringBuilder
    sb ++= "defaults:\n  levels: [1, 2, 3]\n  column_names: [Commodity_L1, Commodity_L2, Commodity_L3]\nitems:\n"
    def range(lo: Int, hi: Int) = s"{start: $lo, end: $hi}"
    for (d <- 1 to 9) sb ++= s"  G$d: {level: 1, code: ${range(d * 10000, d * 10000 + 10000)}}\n"
    for (p <- pool.map(_ / 1000).distinct.sorted) {
      val lo = p * 1000
      if (p % 2 == 0) {
        sb ++= s"  S$p: {level: 2, code: {$FirstYear: ${range(lo, lo + 1000)}, $SplitYear: ${range(lo, lo + 500)}}}\n"
        sb ++= s"  S${p}b: {level: 2, code: {$SplitYear: ${range(lo + 500, lo + 1000)}}}\n"
      } else sb ++= s"  S$p: {level: 2, code: ${range(lo, lo + 1000)}}\n"
    }
    for (p <- pool.map(_ / 100).distinct.sorted)
      sb ++= s"  I$p: {level: 3, code: ${range(p * 100, p * 100 + 100)}}\n"
    sb.result()
  }

  /** Writes every raw table for `years` under `dir` as `<table>/<year>.csv`. */
  def writeRaw(dir: String, years: Seq[Int], size: Size, pool: IndexedSeq[Int], seed: Long): Unit =
    for (y <- years) {
      val rnd = new Random(seed * 10007L + y)
      val provinces = if (y >= NewProvinceYear) Provinces :+ NewProvince else Provinces
      val writers = tables.map { t =>
        val f = new File(s"$dir/$t/$y.csv")
        f.getParentFile.mkdirs()
        val w = new PrintWriter(f, "UTF-8")
        w.println(rawColumns(t, y).mkString(","))
        t -> (f, w)
      }.toMap
      def row(t: String, values: Any*): Unit = writers(t)._2.println(values.mkString(","))
      for (h <- 0 until size.households) {
        val id = (if (rnd.nextDouble() < 0.6) 1 else 2) * 10000000L +
          provinces(rnd.nextInt(provinces.size)) * 100000L + h
        row("household_information", id, 100 + rnd.nextInt(900))
        val members = 1 + rnd.nextInt(7)
        for (m <- 1 to members) row("members_properties", id, m, if (m == 1) 18 + rnd.nextInt(60) else rnd.nextInt(80))
        for (_ <- 0 until 1 + rnd.nextInt(2 * size.foodPerHousehold - 1))
          row("food", id, pool(rnd.nextInt(pool.size)), 1 + rnd.nextInt(100000))
        for (_ <- 0 until rnd.nextInt(2 * size.durablePerHousehold + 1))
          row("durable", id, pool(rnd.nextInt(pool.size)), 1 + rnd.nextInt(1000000))
      }
      writers.values.foreach(_._2.close())
    }

  /** Reads one raw file with the engine's string typing: every column a
    * string, named from the file's header, no inference job.
    */
  def rawReader(spark: SparkSession, dir: String)(table: String, year: Int): Option[DataFrame] = {
    val path = s"$dir/$table/$year.csv"
    if (!new File(path).isFile) None
    else Some(spark.read.option("header", "true")
      .schema(StructType(rawColumns(table, year).map(StructField(_, StringType))))
      .csv(path))
  }

  def repo(spark: SparkSession, rawDir: String, pool: Seq[Int], config: RepoConfig): TableRepo =
    new TableRepo(
      spark,
      tablesMeta = Meta.fromYaml(tablesYaml),
      schemaMeta = Meta.fromYaml(schemaYaml),
      rawReader = rawReader(spark, rawDir),
      classifications = Map("Commodity" -> Meta.fromYaml(classificationYaml(pool))),
      householdMeta = Meta.fromYaml(householdYaml),
      // every year's weights come from household_information, none from an
      // external weights file
      config = config.copy(externalWeightsYearMax = FirstYear - 1),
    )

  /** Plain Spark SQL over the raw files, independent of the engine: the
    * figures every survey result is checked against.
    */
  final class Expected(spark: SparkSession, dir: String, years: Seq[Int]) {
    // the header names vary by year, so the files are read by position and
    // their header lines dropped
    private def read(table: String, cols: String*): DataFrame =
      spark.read.schema(StructType(cols.map(StructField(_, StringType))))
        .csv(years.map(y => s"$dir/$table/$y.csv"): _*)
        .where(col("address") =!= "ADDRESS")
        .withColumn("year", regexp_extract(input_file_name(), "([0-9]{4})\\.csv", 1).cast("int"))

    private val views = Seq(
      "food" -> read("food", "address", "code", "value"),
      "durable" -> read("durable", "address", "code", "value"),
      "hh" -> read("household_information", "address", "weight"),
      "members" -> read("members_properties", "address", "member", "age"),
    )
    views.foreach { case (n, df) => df.createOrReplaceTempView(s"raw_$n") }

    private def rows(sql: String) = spark.sql(sql).collect().toSeq

    // food is bought over 30 days and durables over 360; both are
    // annualised to 360 days
    spark.sql("""
      SELECT year, CAST(address AS BIGINT) AS id, CAST(code AS BIGINT) AS code,
             CAST(value AS DOUBLE) * 12 AS gross FROM raw_food
      UNION ALL
      SELECT year, CAST(address AS BIGINT), CAST(code AS BIGINT), CAST(value AS DOUBLE) FROM raw_durable
    """).createOrReplaceTempView("exp")
    spark.sql("SELECT year, CAST(address AS BIGINT) AS id, CAST(weight AS DOUBLE) AS weight FROM raw_hh")
      .createOrReplaceTempView("w")

    /** year -> (expenditure rows, total gross expenditure) */
    val expenditure: Map[Int, (Long, Double)] =
      rows("SELECT year, count(*), sum(gross) FROM exp GROUP BY year")
        .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2))).toMap

    /** first code digit -> total gross expenditure, all years */
    val byDigit: Map[Int, Double] =
      rows("SELECT CAST(code DIV 10000 AS INT), sum(gross) FROM exp GROUP BY 1")
        .map(r => r.getInt(0) -> r.getDouble(1)).toMap

    /** expenditure rows of urban households */
    val urbanRows: Long =
      rows("SELECT count(*) FROM exp WHERE id DIV 10000000 = 1").head.getLong(0)

    /** year -> (households, sum of weights, largest weight) */
    val households: Map[Int, (Long, Double, Double)] =
      rows("""SELECT w.year, count(*), sum(weight), max(weight) FROM w
              WHERE EXISTS (SELECT 1 FROM exp e WHERE e.year = w.year AND e.id = w.id)
              GROUP BY w.year""")
        .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap

    /** (year, urban or rural) -> weighted mean gross expenditure per row */
    val weightedMean: Map[(Int, String), Double] =
      rows("""SELECT e.year, CASE WHEN e.id DIV 10000000 = 1 THEN 'Urban' ELSE 'Rural' END,
                     sum(gross * weight) / sum(weight)
              FROM exp e JOIN w ON e.year = w.year AND e.id = w.id GROUP BY 1, 2""")
        .map(r => (r.getInt(0), r.getString(1)) -> r.getDouble(2)).toMap

    /** year -> sum over households of gross expenditure per member */
    val perCapita: Map[Int, Double] =
      rows("""SELECT t.year, sum(t.total / m.n) FROM
                (SELECT year, id, sum(gross) AS total FROM exp GROUP BY year, id) t
                JOIN (SELECT year, CAST(address AS BIGINT) AS id, count(*) AS n
                      FROM raw_members GROUP BY 1, 2) m
                ON t.year = m.year AND t.id = m.id
              GROUP BY t.year""")
        .map(r => r.getInt(0) -> r.getDouble(1)).toMap
  }
}
