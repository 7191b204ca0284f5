package graft.engine

import java.io.{File, PrintWriter}

import scala.util.Random

import graft.meta._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/** A year-versioned survey archive over 1363–1401, written as raw per-(table,
  * year) CSV files in the reference's layout: upper-case raw column names,
  * every value a string. Its metadata changes three times, so a multi-year
  * build has three eras: the raw expenditure column is renamed in 1380, and
  * the gross-expenditure instruction changes form in 1390.
  */
object EraFixtures {
  val FirstYear = 1363
  val LastYear = 1401
  val years: Seq[Int] = FirstYear to LastYear
  val eras: Seq[Seq[Int]] = Seq(1363 to 1379, 1380 to 1389, 1390 to 1401)

  val tables: Seq[String] = Seq("food", "durable", "household_information", "members_properties")

  def rawColumns(table: String, year: Int): Seq[String] = table match {
    case "food" | "durable"       => Seq("ADDRESS", "CODE", if (year < 1380) "VALUE" else "EXPENDITURE")
    case "household_information" => Seq("ADDRESS", "WEIGHT")
    case "members_properties"    => Seq("ADDRESS", "MEMBER", "AGE")
  }

  val tablesYaml: String = {
    val expenditure = """
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
"""

  /** Writes every raw table for `years` under `dir` as `<table>/<year>.csv`.
    * Household IDs repeat from year to year, as survey addresses do.
    */
  def writeRaw(dir: String, years: Seq[Int], households: Int = 4): Unit =
    for (y <- years) {
      val rnd = new Random(y)
      val writers = tables.map { t =>
        val f = new File(s"$dir/$t/$y.csv")
        f.getParentFile.mkdirs()
        val w = new PrintWriter(f, "UTF-8")
        w.println(rawColumns(t, y).mkString(","))
        t -> w
      }.toMap
      def row(t: String, values: Any*): Unit = writers(t).println(values.mkString(","))
      for (h <- 0 until households) {
        val id = (if (h % 2 == 0) 1 else 2) * 10000000L + 23 * 100000L + h
        row("household_information", id, 1 + rnd.nextInt(9))
        for (m <- 1 to 1 + rnd.nextInt(3)) row("members_properties", id, m, rnd.nextInt(70))
        for (_ <- 0 until 1 + rnd.nextInt(3)) row("food", id, 11000 + rnd.nextInt(9000), 1 + rnd.nextInt(1000))
        row("durable", id, 31000 + rnd.nextInt(9000), 1 + rnd.nextInt(10000))
      }
      writers.values.foreach(_.close())
    }

  /** One raw file, every column a string, named from the file's header. */
  def rawReader(spark: SparkSession, dir: String)(table: String, year: Int): Option[DataFrame] = {
    val path = s"$dir/$table/$year.csv"
    if (!new File(path).isFile) None
    else Some(spark.read.option("header", "true")
      .schema(StructType(rawColumns(table, year).map(StructField(_, StringType))))
      .csv(path))
  }

  /** A repo over the archive under `dir`; `reader` replaces [[rawReader]]. */
  def repo(spark: SparkSession, dir: String, cacheDir: Option[String] = None,
           reader: Option[(String, Int) => Option[DataFrame]] = None): TableRepo =
    new TableRepo(
      spark,
      tablesMeta = Meta.fromYaml(tablesYaml),
      schemaMeta = Meta.fromYaml(schemaYaml),
      rawReader = reader.getOrElse(rawReader(spark, dir)),
      config = RepoConfig(cacheDir = cacheDir, externalWeightsYearMax = FirstYear - 1),
    )
}
