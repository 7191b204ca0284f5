package graft.engine

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.meta._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class YearLineageSpec extends SparkSpec {

  private val years = Seq(1398, 1399)

  /** The fixture survey, except that 1398's expenditure codes are shifted
    * past 900000 and 1398 has no household_information file.
    */
  private def repo(cacheDir: Option[String] = None): TableRepo = new TableRepo(
    spark,
    tablesMeta = Meta.fromYaml(HbsFixtures.tablesYaml),
    schemaMeta = Meta.fromYaml(HbsFixtures.schemaYaml),
    rawReader = {
      case ("household_information", 1398) => None
      case (n @ ("food" | "durable"), 1398) =>
        HbsFixtures.raw(spark)(n).map(_.withColumn("CODE", col("CODE") + 900000L))
      case (n, _) => HbsFixtures.raw(spark)(n)
    },
    classifications = Map("Food_NonFood" -> Meta.fromYaml(HbsFixtures.commoditiesYaml)("Food_NonFood")),
    householdMeta = Meta.fromYaml(HbsFixtures.householdYaml),
    config = RepoConfig(cacheDir = cacheDir),
  )

  /** The same rows as a frame the user built: no lineage. */
  private def userBuilt(df: DataFrame): DataFrame =
    spark.createDataFrame(df.collect().toSeq.asJava, df.schema)

  private def rows(df: DataFrame): Seq[String] =
    df.select(df.columns.sorted.map(col).toSeq: _*).collect().map(_.toString).toSeq.sorted

  test("a union of per-year branches carries every branch's year") {
    val food = repo().table("food", years)
    assert(YearLineage.of(food) == Some(years))
    assert(repo().yearsOf(userBuilt(food)) == years)
  }

  test("joins and grouping keys pass the year through; other aggregates do not") {
    val r = repo()
    val total = r.table("Total_Expenditure", Seq(1399))
    assert(YearLineage.of(total) == Some(Seq(1399)))
    assert(YearLineage.of(r.addWeights(total)) == Some(Seq(1399)))
    val exp = r.table("Expenditures", years)
    assert(YearLineage.of(exp.groupBy("Year").agg(sum("Gross_Expenditure"))) == Some(years))
    assert(YearLineage.of(exp.groupBy("ID").agg(max("Year").as("Year"))).isEmpty)
    // the year of a right-side row a left join may null out is not known
    val right = userBuilt(exp).select("ID").distinct()
      .join(exp.select("ID", "Year"), Seq("ID"), "left")
    assert(YearLineage.of(right).isEmpty)
  }

  test("a filter that empties a year: lineage keeps it, results equal the probe path") {
    val r = repo()
    val exp = r.table("Expenditures", years).where(col("Code") < 900000L)
    assert(YearLineage.of(exp) == Some(years))
    val probed = userBuilt(exp)
    assert(r.yearsOf(probed) == Seq(1399))
    // 1398 has no household_information: weights over the lineage years
    // fail to build, and the call takes the probed years instead
    assert(rows(r.addWeights(exp)) == rows(r.addWeights(probed)))
    assert(rows(r.addClassification(exp, MStr("Food_NonFood"))) ==
      rows(r.addClassification(probed, MStr("Food_NonFood"))))
    assert(rows(r.addAttribute(exp, MStr("Urban_Rural"))) ==
      rows(r.addAttribute(probed, MStr("Urban_Rural"))))
    assert(rows(r.selectBy(exp, "Urban_Rural", "Rural")) ==
      rows(r.selectBy(probed, "Urban_Rural", "Rural")))
  }

  test("a frame the user built has no lineage and is probed") {
    import spark.implicits._
    val df = Seq((1400, HbsFixtures.U1, 11100L), (1401, HbsFixtures.R1, 12000L)).toDF("Year", "ID", "Code")
    assert(YearLineage.of(df).isEmpty)
    assert(repo().yearsOf(df) == Seq(1400, 1401))
  }

  test("unionByName with a missing Year has no lineage and still raises the null-year error") {
    val r = repo()
    val withYear = r.table("food", Seq(1399))
    val noYear = r.cleanedTable("food", Seq(1399))
    val df = withYear.unionByName(noYear, allowMissingColumns = true)
    assert(YearLineage.of(df).isEmpty)
    val e = intercept[IllegalArgumentException](r.addWeights(df))
    assert(e.getMessage.contains("null/non-numeric years"))
  }

  test("A9 reads carry the year only for entries written with the lineage marker") {
    val dir = tempDir("graft_year_lineage").toFile
    val written = repo(Some(dir.toString)).table("Expenditures", years)
    val entries = dir.listFiles().map(_.getName).filter(_.startsWith("Expenditures_")).sorted
    assert(entries.length == 2 && entries.forall(_.endsWith("_year.parquet")), entries.toSeq)

    // a new repo reads the marked entries, inferring their schema once
    val marked = repo(Some(dir.toString)).table("Expenditures", years)
    assert(YearLineage.of(marked) == Some(years))
    assert(marked.schema == written.schema)
    val markedRows = rows(marked)
    assert(markedRows == rows(written))

    // the same files without the marker: Year is read from the files and
    // its years are probed
    dir.listFiles().filter(_.getName.endsWith("_year.parquet")).foreach(f =>
      assert(f.renameTo(new java.io.File(dir, f.getName.stripSuffix("_year.parquet") + ".parquet"))))
    val r = repo(Some(dir.toString))
    val unmarked = r.table("Expenditures", years)
    assert(YearLineage.of(unmarked).isEmpty)
    assert(r.yearsOf(unmarked) == years)
    assert(unmarked.schema("Year").dataType == marked.schema("Year").dataType)
    assert(rows(unmarked) == markedRows)
  }
}
