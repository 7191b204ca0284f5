package graft.api

import graft.SparkSpec
import graft.engine.HbsFixtures
import graft.meta._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class ApiSpec extends SparkSpec {
  import HbsFixtures.{U1, U2, R1, R2}

  private def api(): Api = {
    import spark.implicits._
    val cpi = Seq(("Urban", 1400, 100.0), ("Rural", 1400, 50.0))
      .toDF("Urban_Rural", "Year", "CPI")
    new Api(spark, HbsFixtures.repo(spark), cpi = Some(cpi))
  }

  test("loadTable dispatches raw / cleaned / processed forms") {
    val a = api()
    assert(a.loadTable("food", Seq(1400), "raw").columns.contains("ADDRESS"))
    val cleaned = a.loadTable("food", Seq(1400), "cleaned")
    assert(cleaned.columns.toSet == Set("ID", "Code", "Expenditure"))
    val processed = a.loadTable("food", Seq(1400))
    assert(processed.columns.contains("Duration"))
  }

  test("createTableWithSchema registers an ad-hoc derived table") {
    val a = api()
    val schema = Meta.fromYaml("""
table_list: [food]
instructions:
  - apply_filter: "Code >= 20000"
""")
    val t = a.createTableWithSchema("NonFood_Only", schema, Seq(1400))
    assert(t.count() == 1)
  }

  test("view accessor sugars add_classification") {
    implicit val a: Api = api()
    import Api.RichDF
    val exp = a.loadTable("Expenditures", Seq(1400))
    assert(exp.view("Food_NonFood").columns.contains("Food_NonFood"))
  }

  test("addCpi auto-decodes Urban_Rural and adjustByCpi deflates") {
    val a = api()
    val tot = a.loadTable("Total_Expenditure", Seq(1400))
    val adj = a.adjustByCpi(tot, Seq("Gross_Expenditure")).collect()
      .map(r => r.getAs[Long]("ID") -> r.getAs[Double]("Gross_Expenditure")).toMap
    // Urban CPI 100 -> unchanged; Rural CPI 50 -> doubled
    assert(adj(U1) == 4800.0 && adj(U2) == 7920.0)
    assert(adj(R1) == 3600.0 && adj(R2) == 720.0)
    assert(!a.adjustByCpi(tot, Seq("Gross_Expenditure")).columns.contains("CPI"))
  }

  test("adjustByEquivalenceScale divides by per-capita members") {
    val a = api()
    val tot = a.loadTable("Total_Expenditure", Seq(1400))
    val adj = a.adjustByEquivalenceScale(tot, Seq("Gross_Expenditure"), "Per_Capita")
      .collect().map(r => r.getAs[Long]("ID") -> r.getAs[Double]("Gross_Expenditure")).toMap
    assert(adj(U1) == 2400.0) // 4800 / 2 members
    assert(adj(R1) == 600.0)  // 1800 / 3 members
  }

  test("select filters by decoded attribute") {
    val a = api()
    val tot = a.loadTable("Total_Expenditure", Seq(1400))
    assert(a.select(tot, "Urban_Rural", "Rural").count() == 2)
  }

  test("averageTable auto-adds weights") {
    val a = api()
    val tot = a.loadTable("Total_Expenditure", Seq(1400))
    val avg = a.averageTable(tot, Seq("Gross_Expenditure"), Seq("Year")).collect()(0)
    // (4800*2 + 7920*3 + 1800*4 + 360*1) / (2+3+4+1) = 40920 / 10
    assert(avg.getAs[Double]("Gross_Expenditure") == 4092.0)
  }

  test("addClassificationAuto detects commodity vs occupation (E3)") {
    import spark.implicits._
    import graft.engine.{RepoConfig, TableRepo}
    val commodityDoc = Meta.fromYaml("""
defaults:
  levels: [1]
  column_names: [Commodity]
items:
  food: {level: 1, code: {start: 0, end: 10000}}
""")
    val occupationDoc = Meta.fromYaml("""
defaults:
  levels: [1]
  column_names: [Occupation]
items:
  farmer: {level: 1, code: {start: 0, end: 2000000}}
""")
    val repo = new TableRepo(spark, MNull, MNull, (_, _) => None,
      classifications = Map("commodity" -> commodityDoc, "occupation" -> occupationDoc))
    val a = new Api(spark, repo)

    // default commodity column present -> commodity
    val dfC = Seq((1400, 123L), (1400, 9999L)).toDF("Year", "Code")
    assert(a.addClassificationAuto(dfC).columns.contains("Commodity"))
    // default job column present -> occupation
    val dfJ = Seq((1400, 654321L)).toDF("Year", "Job_Code")
    assert(a.addClassificationAuto(dfJ).columns.contains("Occupation"))
    // explicit code column: magnitude probe decides
    val big = Seq((1400, 150000L), (1400, 220000L)).toDF("Year", "MyCode")
    assert(a.addClassificationAuto(big, Some("MyCode")).columns.contains("Occupation"))
    val small = Seq((1400, 12L), (1400, 700L)).toDF("Year", "MyCode")
    assert(a.addClassificationAuto(small, Some("MyCode")).columns.contains("Commodity"))
    // no recognizable column -> the reference's error
    intercept[IllegalArgumentException] {
      a.addClassificationAuto(Seq((1400, 1L)).toDF("Year", "X"))
    }
    // the default columns come from the settings overlay, not literals
    val renamed = new Api(spark, repo, settings = Settings.fromYaml("columns: {commodity_code: Item}"))
    val dfItem = Seq((1400, 123L), (1400, 9999L)).toDF("Year", "Item")
    assert(renamed.addClassificationAuto(dfItem).columns.contains("Commodity"))
  }

  test("settings overlay: user doc over package doc over packaged defaults") {
    // packaged defaults
    val d = Settings.default
    assert(d.yearBounds == YearParser.YearBounds(1363, 1401))
    assert(d.weightCol == "Weight" && d.idCol == "ID")
    assert(d.nominalColumns.contains("Gross_Expenditure"))
    assert(d.groupbyColumns == Seq("Year", "Urban_Rural"))
    // precedence: user (rightmost) > package > default, merged per leaf
    val s = Settings.fromYaml(
      "last_year: 1399\ncolumns: {weight: W}",        // package-level overlay
      "columns: {weight: W2}\nnominal_columns: [Expenditure]") // user overlay
    assert(s.yearBounds == YearParser.YearBounds(1363, 1399)) // package survives
    assert(s.weightCol == "W2")                               // user wins the leaf
    assert(s.idCol == "ID")                                   // untouched leaf keeps default
    assert(s.nominalColumns == Seq("Expenditure"))
  }

  test("settings overlay changes adjustByCpi's default column set") {
    import spark.implicits._
    val cpi = Seq(("Urban", 1400, 100.0), ("Rural", 1400, 50.0))
      .toDF("Urban_Rural", "Year", "CPI")
    def gross(a: Api) = {
      val tot = a.loadTable("Total_Expenditure", Seq(1400))
      a.adjustByCpi(tot).collect()
        .map(r => r.getAs[Long]("ID") -> r.getAs[Double]("Gross_Expenditure")).toMap
    }
    // defaults: Gross_Expenditure is nominal -> deflated (Rural CPI 50 doubles)
    val base = new Api(spark, HbsFixtures.repo(spark), cpi = Some(cpi))
    assert(gross(base)(R1) == 3600.0)
    // user overlay drops it from nominal_columns -> untouched by default call
    val overlaid = new Api(spark, HbsFixtures.repo(spark), cpi = Some(cpi),
      settings = Settings.fromYaml("nominal_columns: [Expenditure]"))
    assert(gross(overlaid)(R1) == 1800.0)
    // default-years leaf drives the year-string entry point
    val bounded = new Api(spark, HbsFixtures.repo(spark), cpi = Some(cpi),
      settings = Settings.fromYaml("first_year: 1400\nlast_year: 1400"))
    assert(bounded.loadTable("Total_Expenditure", "all").count() == 4)
  }

  test("addDecile bins by the total-expenditure distribution and joins back") {
    val a = api()
    val tot = a.loadTable("Total_Expenditure", Seq(1400))
    val deciles = a.addDecile(tot).collect()
      .map(r => r.getAs[Long]("ID") -> r.getAs[Int]("Decile")).toMap
    // weights: U1=2,U2=3,R1=4,R2=1; sorted by value: R2(360,w1) R1(1800,w4) U1(4800,w2) U2(7920,w3)
    // cum/total: R2 .1 -> decile 2? floor(0.1*10)+1 = 2; R1 .5 -> 6; U1 .7 -> 8; U2 1.0 -> 10
    assert(deciles == Map(R2 -> 2, R1 -> 6, U1 -> 8, U2 -> 10))
    // broadcast escape hatch: same result with the hint disabled
    val noBc = a.addQuantileOn(tot, bins = 10, out = "Decile", broadcastQuantiles = false)
      .collect().map(r => r.getAs[Long]("ID") -> r.getAs[Int]("Decile")).toMap
    assert(noBc == deciles)
  }

  test("building the analyst chain over engine-built frames starts no Spark job") {
    val years = Seq(1399, 1400)
    def chain(a: Api): DataFrame = {
      val exp = a.loadTable("Expenditures", years)
      val weighted = a.addWeight(a.addAttribute(a.addClassification(exp, "Food_NonFood"), "Urban_Rural"))
      val avg = a.averageTable(weighted, Seq("Gross_Expenditure"), Seq("Year", "ID", "Urban_Rural"))
      a.adjustByEquivalenceScale(a.addDecile(avg), Seq("Gross_Expenditure"))
    }
    val cacheDir = tempDir("graft_api_jobs").toString
    val cached = new Api(spark, HbsFixtures.repo(spark, cacheDir = Some(cacheDir)))
    // the first load writes the A9 entries, which is a job of its own
    cached.loadTable("Expenditures", years)
    for ((label, a) <- Seq("without an A9 cache" -> new Api(spark, HbsFixtures.repo(spark)),
                           "with an A9 cache" -> cached)) {
      val (df, jobs) = jobsDuring(chain(a))
      assert(jobs == 0, s"$label: building the chain started $jobs jobs")
      // one row per (Year, household), each with a decile
      val out = df.collect()
      assert(out.length == 8 && out.forall(r => !r.isNullAt(r.fieldIndex("Decile"))), label)
    }
  }

  test("nearDuplicatePairs + duplicateClusters: managed handle owns every cache") {
    import spark.implicits._
    spark.catalog.clearCache()
    val a = api()
    // fully disjoint token sets per doc: the only near-dup pair is the
    // planted exact copy (shared shingles across distinct docs would
    // band-collide and merge clusters)
    def text(i: Int) = (0 until 8).map(w => s"w${i}x$w").mkString(" ")
    val docs = (0 until 40).map(i => (i.toLong, text(i))).toDF("doc_id", "text")
    val corpus = docs.unionByName(Seq((1000L, text(7))).toDF("doc_id", "text"))
    val h = graft.ops.StorageHandle()
    val pairs = a.nearDuplicatePairs(corpus, "minhash", h)
    val clusters = a.duplicateClusters(corpus, pairs.select("id_a", "id_b"), h)
    // (pair construction is lazy; the clustering call iterates to its
    // fixed point, leaving the star forest pinned behind the lazy result)
    val labels = clusters.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels(1000L) == 7L && labels(7L) == 7L)
    assert(spark.sparkContext.getPersistentRDDs.nonEmpty,
      "the pipelines must have pinned their signature/pair/star caches")
    h.release(blocking = true)
    assert(spark.sparkContext.getPersistentRDDs.isEmpty,
      "release() must drop every cached frame both pipelines pinned")
    assert(intercept[IllegalArgumentException](
      a.nearDuplicatePairs(corpus, "bogus", h)).getMessage.contains("bogus"))
    // threshold semantics: minhash filters the jaccard estimate (the
    // planted exact copy survives any threshold); simhash maps it to a
    // hamming bound and rejects thresholds past the 16-band guarantee
    val strict = a.nearDuplicatePairs(corpus, "minhash", h, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(strict.toSeq == Seq((7L, 1000L)))
    val sh = a.nearDuplicatePairs(corpus, "simhash", h)
    assert(sh.where(col("id_a") === 7 && col("id_b") === 1000)
      .collect().head.getAs[Int]("hamming") == 0)
    h.release(blocking = true)
    assert(intercept[IllegalArgumentException](
      a.nearDuplicatePairs(corpus, "simhash", h, threshold = 0.5))
      .getMessage.contains("distance"))
  }
}
