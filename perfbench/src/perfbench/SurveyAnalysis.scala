package perfbench

import java.io.File

import graft.api.Api
import graft.engine.RepoConfig
import graft.meta.{CategoryResolver, Meta, VersionResolver}
import graft.sources.RawSources
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.columnar.InMemoryRelation
import org.apache.spark.sql.functions._

import Workloads.{median, _}

/** The reference's analyst path over two survey years, on either side of the
  * classification's 1399 split: load the A9-cached expenditures, classify
  * them by a three-level commodity classification, decode an ID-embedded
  * attribute, weight, average, take deciles and adjust by an equivalence
  * scale. Every call goes through [[Api]].
  *
  * Set-up writes the raw files and the A9 cache of `Expenditures`, so the
  * write side of the cache counts in `setup_s` and its read side in the
  * operations.
  */
final class SurveyAnalysis(env: Env) extends Workload {
  import env.spark
  val years: Seq[Int] = 1398 to 1399
  val size = Survey.Size(households = 450, foodPerHousehold = 12, durablePerHousehold = 2)
  /** The archive window of the traced plan-build tier. */
  val archiveYears: Seq[Int] = Survey.FirstYear to Survey.LastYear
  val archiveSize = Survey.Size(households = 8, foodPerHousehold = 3, durablePerHousehold = 1)

  private var dir: String = _
  private var pool: IndexedSeq[Int] = _
  private var api: Api = _
  private var want: Survey.Expected = _
  private var exp, cls, ur, weighted, total, totalW: DataFrame = _

  private def surveyApi(rawDir: String, config: RepoConfig): Api =
    new Api(spark, Survey.repo(spark, rawDir, pool, config))

  def setup(d: String): Unit = {
    dir = d
    pool = Survey.commodityPool(env.seed)
    Survey.writeRaw(s"$dir/raw", years, size, pool, env.seed)
    api = surveyApi(s"$dir/raw", RepoConfig(cacheDir = Some(s"$dir/cache")))
    noop(api.loadTable("Expenditures", years))
  }

  override def prepareChecks(): Unit = want = new Survey.Expected(spark, s"$dir/raw", years)

  private def checkTotals(obs: Map[String, Any]): Unit = years.foreach { y =>
    expectEq(s"households $y", num(obs, s"n_$y").toLong, want.households(y)._1)
    expectClose(s"total $y", num(obs, s"s_$y"), want.expenditure(y)._2)
  }

  /** An observed sum that is null when no row matched. */
  private def sumOrZero(obs: Map[String, Any], key: String): Double =
    if (obs.get(key).contains(null)) 0.0 else num(obs, key)

  def ops: Seq[Op] = Seq(
    Op("load_expenditures", "engine.cache_read",
      () => api.loadTable("Expenditures", years),
      perYear(years, "Gross_Expenditure"),
      obs => years.foreach { y =>
        val (n, g) = want.expenditure(y)
        expectEq(s"rows $y", num(obs, s"n_$y").toLong, n)
        expectClose(s"gross $y", num(obs, s"s_$y"), g)
      }, exp = _),
    Op("add_classification", "ops.decoders.classify",
      () => api.addClassification(exp, "Commodity"),
      (1 to 9).map(d => sum(when(col("Commodity_L1") === s"G$d", col("Gross_Expenditure"))).as(s"g$d")) :+
        count(when(col("Commodity_L3").isNull || col("Commodity_L2").isNull, 1)).as("unclassified"),
      obs => {
        expectEq("unclassified rows", num(obs, "unclassified").toLong, 0L)
        for (d <- 1 to 9) expectClose(s"group G$d", sumOrZero(obs, s"g$d"), want.byDigit.getOrElse(d, 0.0))
      }, cls = _),
    Op("add_attribute", "ops.decoders.attribute",
      () => api.addAttribute(cls, "Urban_Rural"),
      Seq(count(when(col("Urban_Rural") === "Urban", 1)).as("urban")),
      obs => expectEq("urban rows", num(obs, "urban").toLong, want.urbanRows), ur = _),
    Op("add_weight", "engine.weights",
      () => api.addWeight(ur),
      Seq(count(when(col("Weight").isNull, 1)).as("unweighted")),
      obs => expectEq("unweighted rows", num(obs, "unweighted").toLong, 0L), weighted = _),
    Op("average_table", "ops.stats.average",
      () => api.averageTable(weighted, Seq("Gross_Expenditure"), Seq("Year", "Urban_Rural")),
      for (y <- years; u <- Seq("Urban", "Rural")) yield
        max(when(col("Year") === y && col("Urban_Rural") === u, col("Gross_Expenditure"))).as(s"m_${y}_$u"),
      obs => for (y <- years; u <- Seq("Urban", "Rural"))
        expectClose(s"weighted mean $y $u", num(obs, s"m_${y}_$u"), want.weightedMean((y, u)))),
    Op("load_total", "engine.cache_read",
      () => api.loadTable("Total_Expenditure", years),
      perYear(years, "Gross_Expenditure"), checkTotals, total = _),
    Op("weight_total", "engine.weights",
      () => api.addWeight(total),
      years.map(y => sum(when(col("Year") === y, col("Weight"))).as(s"w_$y")),
      obs => years.foreach(y => expectClose(s"weight $y", num(obs, s"w_$y"), want.households(y)._2)),
      totalW = _),
    Op("add_decile", "ops.stats.quantile",
      () => api.addDecile(totalW),
      for (y <- years; d <- 1 to 10) yield
        sum(when(col("Year") === y && col("Decile") === d, col("Weight"))).as(s"d_${y}_$d"),
      // each decile carries a tenth of the year's weight, to within one
      // household's weight
      obs => for (y <- years; d <- 1 to 10) {
        val (_, w, maxW) = want.households(y)
        val got = sumOrZero(obs, s"d_${y}_$d")
        if (math.abs(got - w / 10) > maxW * (1 + 1e-9))
          throw new CheckFailed(s"decile $d of $y carries weight $got, expected ${w / 10} ± $maxW")
      }),
    Op("equivalence_scale", "ops.stats.equivalence",
      () => api.adjustByEquivalenceScale(total, Seq("Gross_Expenditure"), "Per_Capita"),
      perYear(years, "Gross_Expenditure"),
      obs => years.foreach(y => expectClose(s"per capita $y", num(obs, s"s_$y"), want.perCapita(y)))),
  )

  /** The layers the operation list reaches only in set-up, or not at all:
    * the metadata layer and the engine's plan build over the 1363–1401
    * archive window (built and planned, not run), the clean layer, and the
    * write side of the A9 cache, plain and bucketed by ID.
    */
  override def traceExtras(t: Tracer): Map[String, Double] = {
    val docs = Seq(Survey.tablesYaml, Survey.schemaYaml, Survey.householdYaml,
      Survey.classificationYaml(pool))
    val Seq(tables, schema, household, classification) = t.span("meta.parse")(docs.map(Meta.fromYaml))
    t.span("meta.resolve") {
      for (y <- archiveYears) {
        for (doc <- Seq(tables, schema); (_, m) <- doc.asMap) new VersionResolver(m, y).getVersion
        new VersionResolver(household, y).getVersion
        new CategoryResolver(classification, y).categorizeMetadata
      }
    }

    Survey.writeRaw(s"$dir/archive", archiveYears, archiveSize, pool, env.seed)
    val archive = surveyApi(s"$dir/archive", RepoConfig())
    // median of three builds: one build is a few hundred milliseconds
    val builds = (1 to 3).map(_ => t.span("engine.plan_build") {
      val df = archive.loadTable("Total_Expenditure", archiveYears)
      df.queryExecution.executedPlan
      df
    })
    var nodes = 0
    builds.last.queryExecution.analyzed.foreach(_ => nodes += 1)
    val planBuildS = median(t.spans.filter(_.name == "engine.plan_build").map(_.seconds).toSeq)

    t.span("ops.pipeline.clean") {
      noop(api.loadTable("food", years, "cleaned"))
      noop(api.loadTable("members_properties", years, "cleaned"))
    }

    val cacheDir = s"$dir/extras-cache"
    t.span("engine.cache_write")(surveyApi(s"$dir/raw", RepoConfig(cacheDir = Some(cacheDir)))
      .loadTable("Expenditures", years))
    // Expenditures reads the food and durable files only
    val ratio = dirBytes(new File(cacheDir)).toDouble /
      Seq("food", "durable").map(t => dirBytes(new File(s"$dir/raw/$t"))).sum
    val input = api.loadTable("Expenditures", years).persist()
    noop(input)
    t.span("sources.bucketed_write")(
      RawSources.writeBucketed(input, "perfbench_bucketed", s"$dir/extras-bucketed", Seq("ID"), env.cores))
    input.unpersist()
    spark.sql("DROP TABLE IF EXISTS perfbench_bucketed")

    // the rows of the matched dictionary that addClassification persists,
    // as its cache counted them while it filled
    val dictRows = api.addClassification(api.loadTable("Expenditures", years), "Commodity")
      .queryExecution.withCachedData.collect { case r: InMemoryRelation => r }
      .filter(_.cacheBuilder.isCachedColumnBuffersLoaded)
      .map(_.cacheBuilder.rowCountStats.value.toDouble).sum

    Map(
      "engine.plan_build_s" -> planBuildS,
      "engine.plan_nodes" -> nodes.toDouble,
      "engine.bytes_written_per_input_byte" -> ratio,
      "ops.decoders.dict_rows" -> dictRows,
    )
  }
}
