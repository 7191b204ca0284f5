package graft.api

import graft.meta._
import graft.engine.TableRepo
import graft.ops._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The user surface, mirroring the reference's public API
  * (hbsir/__init__.py:35-48 — load_table, create_table_with_schema,
  * add_classification, add_attribute, select, add_weight, add_cpi,
  * adjust_by_cpi, adjust_by_equivalence_scale, plus
  * calculator.{weighted_average, average_table, add_quantile/decile/
  * percentile} and the `view` accessor).
  *
  * Thin, stateless delegation onto the engine + operator layers; every
  * method is lazy DataFrame algebra, so user call chains compose into one
  * Catalyst plan, and over frames the engine built a call starts no Spark
  * job: the survey years come from the plan's lineage
  * ([[graft.engine.YearLineage]]). A frame the user built has no such
  * lineage, so calls that need its years probe them with a small query.
  * [[addClassificationAuto]] with an explicit code column keeps its
  * magnitude probe on purpose: the classification it picks depends on
  * the data.
  */
class Api(
    val spark: SparkSession,
    val repo: TableRepo,
    /** E14 external dataset resolver (CPI/Gini/counties sources). */
    external: Option[graft.external.ExternalData] = None,
    /** CPI lookup (keys ++ "CPI" column) for add_cpi/adjust_by_cpi. */
    cpi: Option[DataFrame] = None,
    cpiKeys: Seq[String] = Seq("Urban_Rural", "Year"),
    /** Layered runtime settings (default years, default column names,
      * nominal columns) — packaged defaults unless the user overlays a
      * config doc via [[Settings.apply]] (`setup_config` semantics,
      * hbsir/__init__.py:35-48, metadata_reader.py:216-256).
      */
    settings: Settings = Settings.default,
) {

  /** Default nominal columns deflated by adjustByCpi when none given
    * (config/default_settings.yaml:80-87, via the settings overlay).
    */
  def nominalColumns: Seq[String] = settings.nominalColumns

  /** E12/E13 value-source aliases (quantile.py:52-60). */
  private val variableTables = Map(
    "Income" -> ("Total_Income", "Income"),
    "Expenditure" -> ("Total_Expenditure", "Gross_Expenditure"),
    "Gross_Expenditure" -> ("Total_Expenditure", "Gross_Expenditure"),
    "Net_Expenditure" -> ("Total_Expenditure", "Net_Expenditure"),
  )

  // ------------------------------------------------------------- E1/E2 load

  /** E1 load_table: raw / cleaned / processed forms (api.py:94-191). */
  def loadTable(name: String, years: Seq[Int], form: String = "processed"): DataFrame =
    form match {
      case "processed" => repo.table(name, years)
      case "cleaned"   => repo.cleanedTable(name, years)
      case "raw"       => repo.rawTable(name, years)
      case other       => throw new IllegalArgumentException(s"form $other")
    }

  /** E1 with the reference's year-string syntax (E17): `"1365, 80-83"`,
    * `"all"`, `"last"` (utils/parsing_utils.py:13-101).
    */
  def loadTable(name: String, years: String, form: String,
                bounds: YearParser.YearBounds): DataFrame =
    loadTable(name, YearParser.parse(years, bounds), form)

  /** Year bounds default to the settings overlay's `first_year`/
    * `last_year` (default_settings.yaml:40-41).
    */
  def loadTable(name: String, years: String): DataFrame =
    loadTable(name, years, "processed", settings.yearBounds)

  /** E2 create_table_with_schema: register an ad-hoc schema document
    * (table_list + instructions) and build it (api.py:194-257).
    */
  def createTableWithSchema(name: String, schema: Meta, years: Seq[Int]): DataFrame =
    repo.withExtraSchemas(Meta.map(Meta.k(name) -> schema)).table(name, years)

  // -------------------------------------------------------------- decorators

  /** E3 add_classification. */
  def addClassification(df: DataFrame, name: String): DataFrame =
    repo.addClassification(df, MStr(name))

  /** E3 with the reference's classification-type auto-detect
    * (api.py:313-325): when no explicit code column is given, the
    * presence of the default commodity column vs the default job
    * column decides (`columns.commodity_code` / `columns.job_code` of
    * the settings overlay: "Code" and "Job_Code" unless renamed,
    * default_settings.yaml:73-78); when one IS given, a one-column
    * magnitude probe decides — commodity codes are <= 10 000 for at
    * least 90% of rows, occupation codes are larger. The reference
    * scans the full column (api.py:313-325); so do we while the
    * optimizer-estimated input is small (exact and deterministic). Past
    * that, the probe is bounded to 100k values, which makes it a
    * constant-cost action at any table size but samples whichever
    * partitions answer first — sound ONLY under the hard precondition
    * that code magnitude is homogeneous within a table (true of every
    * reference table; callers introducing mixed-magnitude code columns
    * must pass the classification explicitly).
    */
  def addClassificationAuto(df: DataFrame, codeCol: Option[String] = None): DataFrame = {
    val (classType, codeColumn) = codeCol match {
      case Some(c) =>
        val small = df.select(col(c)).queryExecution.optimizedPlan.stats.sizeInBytes <= (64L << 20)
        val probe = if (small) df.select(col(c)) else df.select(col(c)).limit(100000)
        val share = probe.agg(
          avg(when(col(c) <= 10000, 1.0).otherwise(0.0))).collect()(0)
        // empty/all-null probe: the reference's `NaN < 0.9` is False in
        // pandas (api.py:313-325), so the null average means commodity
        val frac = if (share.isNullAt(0)) 1.0 else share.getDouble(0)
        (if (frac < 0.9) "occupation" else "commodity") -> c
      case None if df.columns.contains(settings.commodityCodeCol) => "commodity" -> settings.commodityCodeCol
      case None if df.columns.contains(settings.jobCodeCol)       => "occupation" -> settings.jobCodeCol
      case None => throw new IllegalArgumentException("Missing Code Column")
    }
    repo.addClassification(df,
      Meta.map(Meta.k("name") -> MStr(classType), Meta.k("code_col") -> MStr(codeColumn)))
  }

  /** E4 add_attribute. */
  def addAttribute(df: DataFrame, name: String): DataFrame =
    repo.addAttribute(df, MStr(name))

  /** E5 select: filter by decoded geography attribute. */
  def select(df: DataFrame, attribute: String, value: String): DataFrame =
    repo.selectBy(df, attribute, value)

  /** E6 add_weight. */
  def addWeight(df: DataFrame, adjustForHouseholdSize: Boolean = false): DataFrame =
    repo.addWeights(df, adjustForHouseholdSize)

  /** E14 external_data.load_table: name-addressed external dataset. */
  def externalTable(name: String): DataFrame =
    external.getOrElse(throw new IllegalStateException("no external data source configured"))
      .loadTable(name)

  /** E7 add_cpi: broadcast-join the CPI lookup; auto-decodes Urban_Rural
    * when the split CPI needs it and the column is absent (api.py:467-517).
    * The lookup comes from the explicit `cpi` DataFrame or, failing that,
    * the external registry's `cpi` dataset.
    */
  def addCpi(df: DataFrame): DataFrame = {
    val lookup = cpi.orElse(external.map(_.loadTable("cpi")))
      .getOrElse(throw new IllegalStateException("no CPI source configured"))
    if (cpiKeys.contains("Urban_Rural") && !df.columns.contains("Urban_Rural")) {
      val withUr = repo.addAttribute(df, MStr("Urban_Rural"))
      Stats.addCpi(withUr, lookup, cpiKeys).drop("Urban_Rural")
    } else Stats.addCpi(df, lookup, cpiKeys)
  }

  /** E8 adjust_by_cpi: deflate nominal columns (col / CPI * 100). */
  def adjustByCpi(df: DataFrame, columns: Seq[String] = Seq.empty): DataFrame = {
    val cols =
      if (columns.nonEmpty) columns
      else nominalColumns.filter(df.columns.contains)
    val hadCpi = df.columns.contains("CPI")
    val withCpi = if (hadCpi) df else addCpi(df)
    val adjusted = Stats.adjustByCpi(withCpi, cols)
    if (hadCpi) adjusted else adjusted.drop("CPI")
  }

  /** E9 adjust_by_equivalence_scale. */
  def adjustByEquivalenceScale(
      df: DataFrame, columns: Seq[String], scale: String = "Per_Capita"): DataFrame = {
    val years = repo.yearsOf(df)
    Stats.adjustByEquivalenceScale(df, repo.table("Equivalence_Scale", years), columns, scale)
  }

  // -------------------------------------------------------------- statistics

  /** E10 weighted_average; the weight column defaults from the settings
    * overlay (default_settings.yaml:78).
    */
  def weightedAverage(df: DataFrame, columns: Seq[String], weightCol: String = null): DataFrame =
    Stats.weightedAverage(df, columns, Option(weightCol).getOrElse(settings.weightCol))

  /** E11 average_table: auto-adds Weight when absent (average.py:64-112). */
  def averageTable(
      df: DataFrame,
      columns: Seq[String] = Seq.empty,
      groupby: Seq[String] = Seq.empty,
      weighted: Boolean = true,
  ): DataFrame = {
    val wc = settings.weightCol
    val withW =
      if (!weighted || df.columns.contains(wc)) df
      else repo.addWeights(df)
    Stats.averageTable(withW, columns, groupby, wc, weighted)
  }

  /** E12/E13 add_quantile/decile/percentile on a named total variable:
    * the quantile is computed over the variable's OWN total table for all
    * households (`for_all`, quantile.py:107-117), optionally equivalence-
    * adjusted, then joined back to the caller's rows by (Year, ID).
    */
  def addQuantileOn(
      df: DataFrame,
      on: String = "Gross_Expenditure",
      bins: Int = -1,
      out: String = "Quantile",
      equivalenceScale: Option[String] = None,
      /** The quantile lookup is one row per household — broadcast by
        * default; false lets AQE pick the join for fact-sized lookups.
        */
      broadcastQuantiles: Boolean = true,
  ): DataFrame = {
    val (tableName, valueCol) = variableTables(on)
    val years = repo.yearsOf(df)
    var values = repo.table(tableName, years)
      .select(col("Year"), col("ID"), col(valueCol).as("_values"))
    values = equivalenceScale.fold(values)(scale =>
      Stats.adjustByEquivalenceScale(values, repo.table("Equivalence_Scale", years),
        Seq("_values"), scale))
    val weighted = repo.addWeights(values)
    val q0 = Stats.addQuantile(weighted, "_values", "Weight", Seq("Year"), "_q")
    val q = if (bins > 0) q0.withColumn("_q", Stats.binQuantile(col("_q"), bins)) else q0
    val lookup = q.select(col("Year"), col("ID"), col("_q").as(out))
    df.join(if (broadcastQuantiles) broadcast(lookup) else lookup,
      Seq("Year", "ID"), "left")
  }

  def addDecile(df: DataFrame, on: String = "Gross_Expenditure"): DataFrame =
    addQuantileOn(df, on, bins = 10, out = "Decile")

  def addPercentile(df: DataFrame, on: String = "Gross_Expenditure"): DataFrame =
    addQuantileOn(df, on, bins = 100, out = "Percentile")

  // -------------------------------------------------------------- near-dups

  /** Near-duplicate candidate pairs over a document corpus, with the
    * persisted-intermediate lifecycle owned by the CALLER's `handle` —
    * the user-facing consumer of the managed [[StorageHandle]] contract.
    *
    * Every near-dup pipeline persists signature and slim-pair frames
    * that must outlive the returned plan's first action, so the library
    * can never safely drop them itself. The contract here:
    *
    *   1. create a handle — `val h = StorageHandle()`;
    *   2. build — `val pairs = api.nearDuplicatePairs(df, "minhash", h)`
    *      (fully lazy: no Spark job runs until YOUR first action);
    *   3. consume `pairs` (collect / write / join downstream);
    *   4. `h.release()` — every cache the pipeline pinned is dropped.
    *
    * `threshold` is the similarity floor in EVERY method's own metric:
    * `"minhash"` filters the signature-agreement Jaccard estimate
    * (returns (id_a, id_b, est_jaccard >= threshold)); `"simhash"` maps
    * it to a Hamming bound — similarity ≈ 1 - hamming/64, so
    * maxDistance = ⌊(1-threshold)·64⌋, with 16 bands pigeonholing
    * recall to distance 15 and the hot-bucket cap keeping the narrow
    * 4-bit keys pair-safe (returns (id_a, id_b, hamming); building it
    * runs one job, the bucket census readout, and needs integral ids);
    * `"cosine"` — sign-LSH over `vecCol` (dim required) — filters exact
    * cosine (returns (id_a, id_b, cosine)).
    */
  def nearDuplicatePairs(
      df: DataFrame,
      method: String,
      handle: StorageHandle,
      idCol: String = "doc_id",
      textCol: String = "text",
      vecCol: String = "embedding",
      dim: Int = 0,
      threshold: Double = 0.8,
  ): DataFrame = method match {
    case "minhash" =>
      Dedup.minHashPairs(df, textCol, idCol, handle = handle)
        .where(col("est_jaccard") >= threshold)
    case "simhash" =>
      val maxDistance = math.max(0, ((1.0 - threshold) * 64).toInt)
      require(maxDistance <= 15,
        s"simhash threshold $threshold maps to hamming distance $maxDistance; " +
          "16-band recall is only guaranteed to distance 15 — use minhash " +
          "or cosine for looser thresholds")
      Dedup.simHashCandidates(df, textCol, idCol, maxDistance = maxDistance,
        bands = 16, maxBucketSize = 1000, handle = handle)
    case "cosine" =>
      require(dim > 0, "cosine near-dups need the embedding dimension (dim)")
      Ann.cosineNearDupPairs(df, threshold, dim, idCol = idCol, vecCol = vecCol,
        handle = handle)
    case other =>
      throw new IllegalArgumentException(
        s"unknown near-dup method $other (expected minhash | simhash | cosine)")
  }

  /** Exact duplicate-cluster labels from near-dup pairs (large-star/
    * small-star connected components), same handle contract as
    * [[nearDuplicatePairs]]: the converged star forest stays cached
    * behind the returned plan until `handle.release()`.
    */
  def duplicateClusters(
      df: DataFrame,
      pairs: DataFrame,
      handle: StorageHandle,
      idCol: String = "doc_id",
  ): DataFrame =
    Dedup.duplicateClusters(df.select(col(idCol)), pairs, idCol, handle = handle)
}

object Api {
  /** E15 `view` accessor sugar: `df.view("Food_NonFood")`
    * (hbsir/hbsframe.py:9-34).
    */
  implicit class RichDF(private val df: DataFrame) extends AnyVal {
    def view(classification: String)(implicit api: Api): DataFrame =
      api.addClassification(df, classification)
  }
}
