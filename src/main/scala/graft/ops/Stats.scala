package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** E6-E13 — the survey-statistics layer: sampling weights, weighted means,
  * weighted quantiles/deciles/percentiles, CPI deflation, equivalence-scale
  * adjustment (hbsir/calculator/average.py, quantile.py, api.py:436-609).
  *
  * Everything is a lazy `DataFrame => DataFrame` combinator; joins against
  * metadata-sized tables (weights per year, CPI, equivalence scales) are
  * broadcast so the fact side never shuffles for them.
  */
object Stats {

  /** E6 add_weight: left-join per-(Year,ID) sampling weights
    * (api.py:436-464, data_engine.py:757-786). `weights` must carry
    * (yearCol, idCol, weightCol). Broadcast: ≤ ~40k households/yr in the
    * reference; for a fact-sized weight table pass broadcastWeights=false.
    */
  def addWeight(
      df: DataFrame,
      weights: DataFrame,
      yearCol: String = "Year",
      idCol: String = "ID",
      broadcastWeights: Boolean = true,
  ): DataFrame = {
    val w = if (broadcastWeights) broadcast(weights) else weights
    df.join(w, Seq(yearCol, idCol), "left")
  }

  /** E10 weighted_average semantics (average.py:43-61): for each column,
    * `sum(x*w) / sum(w)` where a null x contributes nothing to the
    * numerator but its weight STILL counts in the denominator — the
    * denominator is the unconditioned total weight. Returns the aggregate
    * expressions so callers can embed them in any groupBy.
    */
  def weightedAverageAggs(columns: Seq[String], weightCol: String): Seq[Column] =
    columns.map { c =>
      (sum(col(c) * col(weightCol)) / sum(col(weightCol))).as(c)
    }

  /** E10: global weighted average — one output row. */
  def weightedAverage(df: DataFrame, columns: Seq[String], weightCol: String = "Weight"): DataFrame = {
    require(df.columns.contains(weightCol), s"Weight column $weightCol not in table")
    val aggs = weightedAverageAggs(columns, weightCol)
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** E11 average_table: weighted average per group (average.py:64-112).
    * `columns` defaults to all numeric non-key columns. Partial (map-side)
    * aggregation comes free from Catalyst's hash aggregate.
    */
  def averageTable(
      df: DataFrame,
      columns: Seq[String] = Seq.empty,
      groupby: Seq[String] = Seq.empty,
      weightCol: String = "Weight",
      weighted: Boolean = true,
  ): DataFrame = {
    val base = if (weighted) df else df.withColumn(weightCol, lit(1))
    val cols =
      if (columns.nonEmpty) columns
      else base.schema.fields.collect {
        case f if f.dataType.isInstanceOf[NumericType]
          && !groupby.contains(f.name) && f.name != weightCol && f.name != "ID" => f.name
      }.toSeq
    val aggs = weightedAverageAggs(cols, weightCol)
    if (groupby.isEmpty) base.agg(aggs.head, aggs.tail: _*)
    else base.groupBy(groupby.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** E12 weighted quantile (quantile.py:119-146): per group (groupby ++
    * Year when annual), sort by value and assign each non-null-valued row
    * `cumulative weight / total weight`. Null-valued rows get a null
    * quantile (the reference drops them before the cumsum and aligns
    * back, quantile.py:124,166-169).
    *
    * Plan shape: two window functions over one sort — a running
    * `sum(w) rows unboundedPreceding..current` and a partition-total
    * `sum(w)`; Catalyst evaluates both in a single Window node after one
    * shuffle+sort per group. This is exact (not ntile — ntile equalizes
    * row counts, not weight mass). Ties on value are broken by
    * `tieBreaker` for determinism.
    *
    * At scale: the shuffle is by group key and the sort is within
    * partitions; per-year household counts (~tens of millions at 100 TB)
    * sort-spill safely. For skewed single-group use, pre-range-partition
    * on the value column.
    */
  def addQuantile(
      df: DataFrame,
      valueCol: String,
      weightCol: String = "Weight",
      groupby: Seq[String] = Seq("Year"),
      out: String = "Quantile",
      tieBreaker: Seq[String] = Seq("ID"),
  ): DataFrame = {
    val v = col(valueCol)
    // null weights count as 0 in cum/total (pandas cumsum/iloc semantics
    // differ only when nulls are present in weights; reference weights are
    // non-null by construction)
    val wNonNull = when(v.isNotNull, col(weightCol))
    // a requested-but-entirely-absent tie-break would leave tied values
    // with RUN-DEPENDENT cumulative quantiles (sort order among ties
    // varies with partitioning/retries) — fail fast instead of being
    // silently nondeterministic; pass tieBreaker = Seq.empty to opt out
    val presentTies = tieBreaker.filter(df.columns.contains)
    require(tieBreaker.isEmpty || presentTies.nonEmpty,
      s"addQuantile: none of the tie-breaker columns $tieBreaker exist in " +
        s"(${df.columns.mkString(", ")}) — quantiles of tied values would be nondeterministic")
    val orderCols = (v.asc_nulls_first +: presentTies.map(col(_).asc))
    val win = Window.partitionBy(groupby.map(col): _*).orderBy(orderCols: _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val winAll = Window.partitionBy(groupby.map(col): _*)
    df.withColumn(out,
      when(v.isNotNull, sum(wNonNull).over(win) / sum(wNonNull).over(winAll)))
  }

  /** E13 binning (quantile.py:194-203): `floor(q*bins)+1` clipped to
    * [1, bins]. NOT ntile.
    */
  def binQuantile(q: Column, bins: Int): Column =
    least(greatest((floor(q * lit(bins)) + 1).cast(IntegerType), lit(1)), lit(bins))

  private def binned(df: DataFrame, valueCol: String, weightCol: String,
                     groupby: Seq[String], out: String, bins: Int): DataFrame = {
    // the intermediate must not clobber a user column of the same name
    val tmp = s"_q_tmp_$out"
    require(!df.columns.contains(tmp),
      s"addQuantile intermediate column $tmp already exists in the input")
    addQuantile(df, valueCol, weightCol, groupby, tmp)
      .withColumn(out, binQuantile(col(tmp), bins)).drop(tmp)
  }

  def addDecile(
      df: DataFrame, valueCol: String, weightCol: String = "Weight",
      groupby: Seq[String] = Seq("Year"), out: String = "Decile",
  ): DataFrame = binned(df, valueCol, weightCol, groupby, out, 10)

  def addPercentile(
      df: DataFrame, valueCol: String, weightCol: String = "Weight",
      groupby: Seq[String] = Seq("Year"), out: String = "Percentile",
  ): DataFrame = binned(df, valueCol, weightCol, groupby, out, 100)

  /** Per-group weighted percentile VALUES, any number of `ps` in one
    * pass — the one operator that returns them (p = 0.5 is the weighted
    * median), and the one that owns the window-vs-sketch choice
    * (SURVEY §4). Each percentile is the LOWER weighted percentile: the
    * smallest value whose cumulative weight share reaches p.
    *
    *   - `useSketch = false` (default): EXACT. One window pass sorts
    *     every row within its group to build cumulative weight shares,
    *     then one hash aggregate takes the lower percentile per p. The
    *     shuffle carries the ROWS — right whenever groups are big
    *     relative to group count (the survey shape: a handful of years,
    *     millions of households each).
    *   - `useSketch = true`: the one-pass bounded-centroid sketch
    *     ([[WeightedQuantileSketch]], native TypedImperativeAggregate
    *     when GraftExtensions is installed). Map-side partials mean the
    *     shuffle carries one ≤ `maxCentroids` buffer per (partition,
    *     group), never the rows. Switch to it when the shuffle would
    *     carry rows instead of buffers — extreme group cardinality
    *     (groups ≈ rows/constant), where sorting every row by group is
    *     the bottleneck. Exact while a group's distinct value count
    *     stays ≤ `maxCentroids`; Ben-Haim–Tom-Tov-compressed past that.
    *
    * Both paths drop null values and null/non-positive weights and emit
    * the same schema: `groupby ++ outs`, every percentile a double.
    * `outs` defaults to `p25`-style names (`p12_5` for fractional).
    */
  def quantileTable(
      df: DataFrame,
      valueCol: String,
      weightCol: String = "Weight",
      groupby: Seq[String] = Seq("Year"),
      ps: Seq[Double] = Seq(0.5),
      outs: Seq[String] = Nil,
      useSketch: Boolean = false,
      maxCentroids: Int = 128,
  ): DataFrame = {
    require(ps.nonEmpty && ps.forall(p => p >= 0 && p <= 1),
      s"percentiles must be in [0,1], got $ps")
    val names =
      if (outs.nonEmpty) {
        require(outs.length == ps.length, s"outs (${outs.length}) must match ps (${ps.length})")
        outs
      } else ps.map(p => "p" + BigDecimal(p * 100).underlying.stripTrailingZeros.toPlainString.replace(".", "_"))
    // the one rule for which rows count, on both routes
    val valid = col(valueCol).isNotNull && col(weightCol).isNotNull && col(weightCol) > 0
    lazy val clean = df.where(valid)
    if (useSketch) {
      val native = df.sparkSession.sessionState.catalog.isRegisteredFunction(
        org.apache.spark.sql.catalyst.FunctionIdentifier("wq_percentiles"))
      // the native aggregate drops null values and null/non-positive
      // weights ROW-SIDE (proven by WeightedQuantileSketchSpec), so the
      // explicit pre-filter would only add a pass — measurable when the
      // weight is a COMPUTED column the scan can't push (+1.5 s on 60M
      // rows at sf10, round 17). The udaf twin gets the filter: its
      // row-side null behavior is the encoder's, not the kernel's.
      // Group-presence parity: the unfiltered native scan would still
      // EMIT a group whose every row is invalid (empty buffer → NaN
      // percentiles) while the filtered routes drop it — so the native
      // route also counts valid rows IN THE SAME aggregate (no extra
      // pass) and filters the all-invalid groups out.
      val g = groupby.map(col)
      val (v, w) = (col(valueCol).cast("double"), col(weightCol).cast("double"))
      val qs =
        if (native)
          df.groupBy(g: _*).agg(
            WeightedQuantileSketch.weightedPercentilesNativeAgg(ps, maxCentroids)(v, w).as("_qs"),
            count(when(valid, 1)).as("_nvalid"),
          ).where(col("_nvalid") > 0)
        else
          clean.groupBy(g: _*)
            .agg(WeightedQuantileSketch.weightedPercentilesAgg(ps, maxCentroids)(v, w).as("_qs"))
      qs.select(g ++ names.zipWithIndex.map { case (n, i) =>
        element_at(col("_qs"), i + 1).as(n)
      }: _*)
    } else {
      // one window pass shared by every p; min(value | share >= p) per p
      // is the lower-percentile rule the sketch's bufPercentile applies.
      val aggs = ps.zip(names).map { case (p, n) =>
        min(when(col("_q") >= p, col(valueCol).cast("double"))).as(n)
      }
      // no tie-breaker needed: unlike per-row quantile ASSIGNMENT, the
      // percentile VALUE is tie-order independent — the cumulative
      // share where a value's run of ties ends is fixed, so whether
      // min(...) picks that value doesn't depend on intra-tie order.
      addQuantile(clean, valueCol, weightCol, groupby, "_q", tieBreaker = Seq.empty)
        .groupBy(groupby.map(col): _*)
        .agg(aggs.head, aggs.tail: _*)
    }
  }

  /** E7 add_cpi: broadcast-join the CPI lookup on (separateBy?, Year)
    * (api.py:467-517). `cpi` carries the join keys plus a `CPI` column.
    */
  def addCpi(df: DataFrame, cpi: DataFrame, keys: Seq[String] = Seq("Year")): DataFrame =
    df.join(broadcast(cpi), keys, "left")

  /** E8 adjust_by_cpi: deflate nominal columns — `col / CPI * 100`
    * (api.py:520-560).
    */
  def adjustByCpi(df: DataFrame, columns: Seq[String], cpiCol: String = "CPI"): DataFrame =
    columns.foldLeft(df)((acc, c) =>
      acc.withColumn(c, col(c) / col(cpiCol) * lit(100)))

  /** E9 adjust_by_equivalence_scale: join the scale on (Year,ID), divide,
    * drop (api.py:563-609). The scale table is household-count-sized in
    * the reference, so broadcast is the default; pass
    * broadcastScale=false when it is fact-sized (the same escape hatch
    * as [[addWeight]]) and AQE picks the join strategy.
    */
  def adjustByEquivalenceScale(
      df: DataFrame,
      scaleTable: DataFrame,
      columns: Seq[String],
      scale: String = "Per_Capita",
      keys: Seq[String] = Seq("Year", "ID"),
      broadcastScale: Boolean = true,
  ): DataFrame = {
    val slim = scaleTable.select((keys.map(col) :+ col(scale)): _*)
    val joined = df.join(if (broadcastScale) broadcast(slim) else slim, keys, "left")
    columns.foldLeft(joined)((acc, c) => acc.withColumn(c, col(c) / col(scale)))
      .drop(scale)
  }
}
