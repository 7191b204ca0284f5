package graft.engine

import graft.SparkSpec
import graft.meta.Meta
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.col

/** Multi-year builds over a year-versioned archive ([[EraFixtures]]): one
  * plan branch per era, each era's raw files read as one relation, and the
  * same rows as the years' single-year builds.
  */
class EraSpec extends SparkSpec {

  private lazy val dir: String = {
    val d = tempDir("graft_era_archive").toString
    EraFixtures.writeRaw(d, EraFixtures.years)
    d
  }

  /** For each raw table, how many relations of the plan read its files. */
  private def relationsByTable(df: DataFrame): Map[String, Int] =
    df.queryExecution.analyzed.collect { case l: LogicalRelation => l.relation }
      .collect { case r: HadoopFsRelation => r.location.rootPaths.map(_.getParent.getName).distinct }
      .flatten.groupBy(identity).map { case (t, rs) => t -> rs.size }

  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col).toSeq: _*).collect().map(_.toString).toSeq.sorted

  private def singleYears(r: TableRepo, name: String, years: Seq[Int]): Seq[String] =
    rows(years.map(y => r.table(name, Seq(y))).reduce(_.unionByName(_)))

  /** Analysed nodes of `Total_Expenditure` over the 39 years: 3 eras of
    * (2 relations + their year and clean projections + 2 pipelines + union)
    * + groupby, against 642 for 39 per-year branches.
    */
  private val archiveNodeBound = 80

  test("an archive builds one branch per era: one relation per raw table and era, no job") {
    val r = EraFixtures.repo(spark, dir)
    val (total, jobs) = jobsDuring(r.table("Total_Expenditure", EraFixtures.years))
    assert(jobs == 0, s"building the archive started $jobs jobs")
    assert(relationsByTable(total) == Map("food" -> 3, "durable" -> 3))
    var nodes = 0
    total.queryExecution.analyzed.foreach(_ => nodes += 1)
    assert(nodes <= archiveNodeBound, s"$nodes analysed nodes")
    assert(YearLineage.of(total) == Some(EraFixtures.years))
    assert(rows(total) == singleYears(r, "Total_Expenditure", EraFixtures.years))
  }

  test("a table grouped by ID alone is built once per year, with the same rows") {
    // household IDs repeat across years: one groupby over an era would
    // sum each household's years together
    val r = EraFixtures.repo(spark, dir).withExtraSchemas(Meta.fromYaml("""
Household_Spend:
  table_list: Expenditures
  instructions:
    - apply_pandas_function: 'table.groupby(["ID"])[["Gross_Expenditure"]].sum().reset_index()'
"""))
    val years = 1377 to 1382
    val spend = r.table("Household_Spend", years)
    assert(relationsByTable(spend) == Map("food" -> years.size, "durable" -> years.size))
    assert(rows(spend) == singleYears(r, "Household_Spend", years))
    // its input, keyed on Year, still takes one branch per era
    assert(relationsByTable(r.table("Total_Expenditure", years)) == Map("food" -> 2, "durable" -> 2))
  }

  test("an era whose raw column types differ by year is cleaned year by year, with the same rows") {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.Project
    // one year's expenditure column arrives typed: the clean reads each
    // raw column's type, and a union would coerce it with the other years'
    val typed = 1370
    val reader: (String, Int) => Option[DataFrame] = (t, y) =>
      EraFixtures.rawReader(spark, dir)(t, y).map(df =>
        if (t == "food" && y == typed) df.withColumn("VALUE", col("VALUE").cast("double")) else df)
    val r = EraFixtures.repo(spark, dir, reader = Some(reader))
    // how many times `df`'s pipeline computes `Duration`: once per clean
    def cleans(df: DataFrame): Int = df.queryExecution.analyzed.collect {
      case p: Project if p.projectList.exists {
        case a: Alias => a.name == "Duration"
        case _ => false
      } => p
    }.size
    val years = 1368 to 1372
    val food = r.table("food", years)
    assert(cleans(food) == years.size)
    assert(cleans(r.table("durable", years)) == 1)
    assert(YearLineage.of(food) == Some(years))
    assert(rows(food) == singleYears(r, "food", years))
  }

  test("weights and joins over an era equal the single-year builds") {
    val r = EraFixtures.repo(spark, dir).withExtraSchemas(Meta.fromYaml("""
Members_Spend:
  table_list: Total_Expenditure
  instructions:
    - join: Number_of_Members
    - add_weights
"""))
    val years = 1386 to 1393
    val (spend, jobs) = jobsDuring(r.table("Members_Spend", years))
    assert(jobs == 0)
    assert(relationsByTable(spend).values.forall(_ == 2), relationsByTable(spend))
    assert(rows(spend) == singleYears(r, "Members_Spend", years))
    assert(rows(r.weights(years, adjustForHouseholdSize = true)) ==
      rows(years.map(y => r.weights(Seq(y), adjustForHouseholdSize = true)).reduce(_.unionByName(_))))
  }
}
