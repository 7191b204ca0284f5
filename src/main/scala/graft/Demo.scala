package graft

import graft.api.Api
import graft.engine.{RepoConfig, TableRepo}
import graft.meta._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Executable usage example: the full user surface over a tiny inline
  * survey fixture — load, classify, decode attributes, weight, deflate,
  * decile, weighted means. Mirrors the reference's README walkthrough
  * (README.md:38-435) shape end to end. Run: `runMain graft.Demo`.
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark: SparkSession = GraftSession.local()
    import spark.implicits._

    val tablesMeta = Meta.fromYaml("""
food:
  columns:
    ADDRESS: {new_name: ID, type: unsigned}
    CODE: {new_name: Code, type: unsigned}
    EXPENDITURE: {new_name: Expenditure, type: float}
household_information:
  columns:
    ADDRESS: {new_name: ID, type: unsigned}
    WEIGHT: {new_name: Weight, type: unsigned}
""")
    val schemaMeta = Meta.fromYaml("""
food:
  instructions:
    - add_year
    - create_column: {name: Duration, type: numerical, expression: 30}
household_information:
  instructions: [add_year]
Expenditures:
  table_list: food
  instructions:
    - create_column: {name: Gross_Expenditure, type: numerical, expression: "Expenditure / Duration * 360"}
Total_Expenditure:
  table_list: Expenditures
  instructions:
    - apply_pandas_function: 'table.groupby(["Year", "ID"])[["Gross_Expenditure"]].sum().reset_index()'
""")
    val commodities = Meta.fromYaml("""
defaults:
  levels: [1]
  column_names: [Food_NonFood]
  missing_value_replacements: {Food_NonFood: NonFood}
items:
  Food:
    level: 1
    code: {start: 11000, end: 20000}
  NonFood:
    level: 1
""")
    val household = Meta.fromYaml("""
ID_Length: 8
Urban_Rural:
  code:
    position: {start: 0, end: 1}
  name: {1: Urban, 2: Rural}
""")

    def raw(name: String): Option[DataFrame] = name match {
      case "food" => Some(Seq(
        (12300001L, 11100L, 300.0), (12300001L, 21000L, 100.0),
        (12300002L, 11200L, 600.0), (21100001L, 12000L, 150.0),
      ).toDF("ADDRESS", "CODE", "EXPENDITURE"))
      case "household_information" => Some(Seq(
        (12300001L, 2L), (12300002L, 3L), (21100001L, 4L),
      ).toDF("ADDRESS", "WEIGHT"))
      case _ => None
    }

    val repo = new TableRepo(spark, tablesMeta, schemaMeta, (n, _) => raw(n),
      classifications = Map("Food_NonFood" -> commodities),
      householdMeta = household, config = RepoConfig())
    val cpi = Seq(("Urban", 1400, 100.0), ("Rural", 1400, 50.0)).toDF("Urban_Rural", "Year", "CPI")
    implicit val api: Api = new Api(spark, repo, cpi = Some(cpi))
    import Api.RichDF

    println("== processed Expenditures ==")
    val exp = api.loadTable("Expenditures", Seq(1400))
    exp.show()

    println("== classified view + weights + urban/rural ==")
    val classified = exp.view("Food_NonFood")
    val hh = classified.groupBy("Year", "ID", "Food_NonFood")
      .agg(sum("Gross_Expenditure").as("Gross_Expenditure"))
    val enriched = api.addAttribute(api.addWeight(hh), "Urban_Rural")
    enriched.show()

    println("== weighted average by Urban_Rural ==")
    api.averageTable(enriched, Seq("Gross_Expenditure"), Seq("Urban_Rural")).show()

    println("== CPI-deflated totals with deciles ==")
    val tot = api.loadTable("Total_Expenditure", Seq(1400))
    api.addDecile(api.adjustByCpi(tot, Seq("Gross_Expenditure"))).show()

    println("== select rural only ==")
    api.select(tot, "Urban_Rural", "Rural").show()

    spark.stop()
  }
}
