package graft.ops

import graft.meta._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The pipeline-instruction operator set (SURVEY.md §2 C1-C17): the
  * reference's declarative derived-table language
  * (hbsir/core/data_engine.py:282-449, instructions authored in
  * hbsir/metadata/schema.yaml), compiled to lazy DataFrame transforms so
  * a whole standard-table lineage stays one Catalyst plan.
  */
object Pipeline {

  /** Dependency hook for steps that pull in other tables (C3 add_weights,
    * C12 join): the engine's table builder implements this.
    */
  trait TableProvider {
    def table(name: String, years: Seq[Int]): DataFrame
    def addWeights(df: DataFrame): DataFrame
    def addClassification(df: DataFrame, settings: Meta): DataFrame
    def addAttribute(df: DataFrame, settings: Meta): DataFrame
    /** Whether `name` is a dimension-sized table safe to broadcast in a
      * C12 join. Default true (the reference only joins metadata-derived
      * tables — weights, equivalence scales — all ≤ tens of thousands of
      * rows/yr); providers must return false for fact-sized tables so a
      * 100 TB join falls back to a shuffle join under AQE.
      */
    def broadcastable(name: String): Boolean = true
  }

  /** Named external functions (C11; the reference dynamic-imports python
    * functions, data_engine.py:422-432 — here a closed registry of the
    * three registered functions C13-C15 plus user extensions).
    */
  type FnRegistry = Map[String, DataFrame => DataFrame]

  /** The steps run over one era: a set of survey years whose builds
    * resolve identically. A frame built for one year holds that year's
    * rows; a frame built for several carries each row's year in
    * [[EraYear]].
    */
  final case class Context(
      years: Seq[Int],
      tableName: String,
      provider: TableProvider,
      functions: FnRegistry = StandardFunctions.registry,
  ) {
    require(years.nonEmpty, s"no years to build $tableName for")
  }

  /** The column in which a multi-year era's frames carry each row's
    * survey year, from the leaf up, whether or not the table adds `Year`.
    * The engine drops it from the tables it returns.
    */
  val EraYear = "graft_era_year"

  /** Each row's survey year in a frame built for `years`. */
  def yearOf(years: Seq[Int]): Column =
    if (years.size == 1) lit(years.head) else col(EraYear)

  /** Whether running `steps` over a frame that holds several years gives,
    * for every year, the rows that running them over that year alone
    * gives — `Some` of whether `Year` still holds each row's year after
    * them, or `None`. `yearIn`: whether it does before them.
    *
    * Row-wise steps qualify. So do the steps that key on `Year` while it
    * holds each row's year: the decorators, a groupby-sum or a join on
    * keys that include it, and the registry functions (row-wise, or
    * grouped by `(Year, ID)`). Any other step does not.
    */
  def yearsApart(steps: Seq[Step], yearIn: Boolean): Option[Boolean] =
    steps.foldLeft(Option(yearIn)) {
      case (None, _) => None
      case (Some(live), step) => step match {
        case AddYear => Some(true)
        case AddTableName | ApplyFilter(_) => Some(live)
        case CreateColNumeric(name, _) => Some(live && name != "Year")
        case CreateColCategorical(name, _) => Some(live && name != "Year")
        case ApplyOrder(cols) => Some(live && cols.exists(_._1 == "Year"))
        case Melt(drop, ids, varName, valueName) =>
          Some(live && ids.contains("Year") && !drop.contains("Year") &&
            varName != "Year" && valueName != "Year")
        case GroupBySum(keys, _) => if (live && keys.contains("Year")) Some(true) else None
        case Join(_, columns) => if (live && columns.contains("Year")) Some(true) else None
        case ExternalFunction(name) =>
          if (live && StandardFunctions.registry.contains(name)) Some(true) else None
        case AddWeights | AddClassification(_) | AddAttribute(_) => if (live) Some(true) else None
      }
    }

  sealed trait Step
  case object AddYear extends Step
  case object AddTableName extends Step
  case object AddWeights extends Step
  final case class AddClassification(settings: Meta) extends Step
  final case class AddAttribute(settings: Meta) extends Step
  final case class ApplyOrder(cols: Seq[(String, Option[String])]) extends Step
  final case class CreateColNumeric(name: String, expression: Either[Long, String]) extends Step
  final case class CreateColCategorical(name: String, categories: Seq[(String, Meta)]) extends Step
  final case class ApplyFilter(conditions: Seq[String]) extends Step
  final case class GroupBySum(keys: Seq[String], valueCols: Option[Seq[String]]) extends Step
  final case class Melt(drop: Seq[String], ids: Seq[String], varName: String, valueName: String) extends Step
  final case class ExternalFunction(name: String) extends Step
  final case class Join(tableName: String, columns: Seq[String]) extends Step

  // ---------------------------------------------------------------- compile

  /** Compile a year-resolved `instructions:` list (Meta) into steps.
    * Mirrors Pipeline._extract_method_name dispatch
    * (data_engine.py:303-311); null steps are skipped (run(), :294-296).
    */
  def compile(instructions: Meta): Vector[Step] = instructions match {
    case MNull => Vector.empty
    case MList(items) => items.flatMap(compileStep)
    case other => compileStep(other).toVector
  }

  private def compileStep(m: Meta): Option[Step] = m match {
    case MNull => None
    case MStr(name) => Some(byName(name, MNull))
    case mm: MMap =>
      val (k, v) = mm.entries.head
      val noInput = Set("add_year", "add_table_name", "add_weights")
      // input-less value means no-op for input-requiring instructions
      // (data_engine.py: each `_method(None)` returns immediately)
      if (v == MNull && !noInput(k.asString)) None else Some(byName(k.asString, v))
    case other => throw new IllegalArgumentException(s"bad instruction: $other")
  }

  private def byName(name: String, input: Meta): Step = name match {
    case "add_year"       => AddYear
    case "add_table_name" => AddTableName
    case "add_weights"    => AddWeights
    case "add_classification" => AddClassification(input)
    case "add_attribute"      => AddAttribute(input)
    case "apply_order" =>
      ApplyOrder(input.asList.map {
        case MStr(c)  => c -> None
        case mm: MMap =>
          val (k, v) = mm.entries.head
          k.asString -> Some(v.asStr)
        case other => throw new IllegalArgumentException(s"bad order: $other")
      })
    case "create_column" =>
      val cname = input("name").asStr
      input("type").asStr match {
        case "numerical" =>
          input("expression") match {
            case MInt(i) => CreateColNumeric(cname, Left(i))
            case e       => CreateColNumeric(cname, Right(e.asStr))
          }
        case "categorical" =>
          CreateColCategorical(cname, input("categories").asMap.map {
            case (k, cond) => k.asString -> cond
          })
        case other => throw new IllegalArgumentException(s"bad type: $other")
      }
    case "apply_filter" =>
      ApplyFilter(input match {
        case MStr(s)     => Seq(s)
        case MList(i)    => i.map(_.asStr)
        case MNull       => Seq.empty
        case other       => throw new IllegalArgumentException(s"$other")
      })
    case "apply_pandas_function" => parsePandasFunction(input.asStr)
    case "apply_external_function" =>
      // "module.fn" -> registry key is the bare function name
      ExternalFunction(input.asStr.split('.').last)
    case "join" =>
      input match {
        case MStr(t) => Join(t, Seq("Year", "ID"))
        case mm: MMap =>
          Join(mm("table_name").asStr,
            mm.get("columns").map(_.asList.map(_.asStr)).getOrElse(Seq("Year", "ID")))
        case other => throw new IllegalArgumentException(s"$other")
      }
    case other => throw new IllegalArgumentException(s"unknown instruction $other")
  }

  /** The two pandas-method-chain shapes the reference metadata uses
    * (data_engine.py:414-420; schema.yaml:704-706,919-925,1113-1173):
    * groupby(keys)[cols].sum() and the stack/melt chain.
    */
  def parsePandasFunction(s0: String): Step = {
    val s = s0.replace("\n", " ")
    val gb = "\\.groupby\\(\\s*\\[([^\\]]*)\\][^)]*\\)".r
    val sel = "\\)\\s*\\[\\[([^\\]]*)\\]\\]".r
    def names(group: String): Seq[String] =
      group.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")
        .stripPrefix("'").stripSuffix("'")).filter(_.nonEmpty).toSeq
    if (s.contains(".stack()")) {
      val drop = "\\.drop\\(columns=\\[([^\\]]*)\\]\\)".r.findFirstMatchIn(s)
        .map(m => names(m.group(1))).getOrElse(Seq.empty)
      val ids = "\\.set_index\\(\\[([^\\]]*)\\]\\)".r.findFirstMatchIn(s)
        .map(m => names(m.group(1)))
        .getOrElse(throw new IllegalArgumentException(s"melt without set_index: $s"))
      val axis = "\\.set_axis\\(\\[([^\\]]*)\\]".r.findFirstMatchIn(s)
        .map(m => names(m.group(1)))
        .getOrElse(throw new IllegalArgumentException(s"melt without set_axis: $s"))
      Melt(drop, ids, axis(axis.size - 2), axis.last)
    } else if (s.contains(".sum(")) {
      val keys = gb.findFirstMatchIn(s)
        .map(m => names(m.group(1)))
        .getOrElse(throw new IllegalArgumentException(s"sum without groupby: $s"))
      val cols = sel.findFirstMatchIn(s).map(m => names(m.group(1)))
      GroupBySum(keys, cols)
    } else throw new IllegalArgumentException(s"unsupported pandas function: $s")
  }

  // ---------------------------------------------------------------- execute

  def run(df: DataFrame, steps: Seq[Step], ctx: Context): DataFrame =
    steps.foldLeft(df)((acc, s) => runStep(acc, s, ctx))

  /** The era-year column, when `df` carries it, appended to `cols`. */
  private def withEraYear(df: DataFrame, cols: Seq[String]): Seq[String] =
    if (df.columns.contains(EraYear) && !cols.contains(EraYear)) cols :+ EraYear else cols

  def runStep(df: DataFrame, step: Step, ctx: Context): DataFrame = step match {
    case AddYear       => df.withColumn("Year", yearOf(ctx.years))
    case AddTableName  => df.withColumn("Table_Name", lit(ctx.tableName))
    case AddWeights    => ctx.provider.addWeights(df)
    case AddClassification(s) => ctx.provider.addClassification(df, s)
    case AddAttribute(s)      => ctx.provider.addAttribute(df, s)

    case ApplyOrder(cols) =>
      // project to exact list + inline casts (data_engine.py:334-345)
      df.select(cols.map { case (c, t) =>
        t.map(tt => col(c).cast(sparkType(tt)).as(c)).getOrElse(col(c))
      } ++ withEraYear(df, Nil).map(col): _*)

    case CreateColNumeric(name, Left(i)) => df.withColumn(name, lit(i))
    case CreateColNumeric(name, Right(e)) =>
      df.withColumn(name, expr(numericExprSql(e, df.columns.toSet)))

    case CreateColCategorical(name, categories) =>
      // Sequential assignment — LAST matching category wins, and each
      // category's condition is evaluated against the PARTIALLY-UPDATED
      // column, exactly like the reference's chain of df.loc writes
      // (data_engine.py:370-405): a self-referencing scalar/list
      // condition may match values an EARLIER category just assigned
      // (e.g. ("Rural", [...]) then ("Settlement", "Rural") relabels the
      // fresh "Rural" rows). Catalyst collapses the chained projections
      // into one, so this stays a single codegen'd select.
      val init =
        if (df.columns.contains(name)) df.withColumn(name, col(name).cast(StringType))
        else df.withColumn(name, lit(null).cast(StringType))
      categories.foldLeft(init) { case (acc, (cat, cond)) =>
        acc.withColumn(name,
          when(categoryCondition(name, cond, acc), lit(cat)).otherwise(col(name)))
      }

    case ApplyFilter(conds) =>
      conds.foldLeft(df)((acc, c) => acc.filter(expr(PandasQuery.toSql(c))))

    case GroupBySum(keys, valueCols) =>
      val targets = valueCols.getOrElse {
        df.schema.fields.collect {
          case f if !keys.contains(f.name) && f.name != EraYear &&
            f.dataType.isInstanceOf[NumericType] => f.name
        }.toSeq
      }
      require(targets.nonEmpty,
        s"groupby-sum over [${keys.mkString(",")}] on table '${ctx.tableName}': no numeric value columns")
      val aggs = targets.map(c => sum(col(c)).as(c))
      // pandas groupby DROPS null-keyed rows (dropna=True default) while
      // Spark keeps them as a null group: an unclassified Income_Type row
      // must vanish from Income_Breakdown exactly as the reference's
      // .groupby(...).sum() makes it vanish (data_engine.py:414-420).
      // The drop is applied to the null GROUPS after aggregation, not to
      // rows before it — identical output (null-keyed rows land only in
      // null-keyed groups), but a pre-agg filter on a computed key gets
      // pushed into upstream joins as a join condition, re-evaluating
      // the key expression (measured on the flagship: the classification
      // CASE chain evaluated per join row, +40% query time).
      // foldLeft, not reduce: zero keys (a global `.groupby([]).sum()`
      // chain) must stay a valid global aggregate, not empty.reduce
      // the era year is a key too: it equals the `Year` key wherever
      // [[yearsApart]] lets an era run this step
      df.groupBy(withEraYear(df, keys).map(col): _*).agg(aggs.head, aggs.tail: _*)
        .filter(keys.map(col(_).isNotNull).foldLeft(lit(true))(_ && _))

    case Melt(drop, ids, varName, valueName) =>
      val dropped = df.drop(drop: _*)
      val idCols = withEraYear(dropped, ids)
      val values = dropped.columns.filterNot(idCols.contains).toSeq
      // pandas .stack() drops NaN -> filter nulls after unpivot
      dropped.unpivot(idCols.map(col).toArray, values.map(col).toArray, varName, valueName)
        .filter(col(valueName).isNotNull)

    case ExternalFunction(name) =>
      val out = ctx.functions.getOrElse(name,
        throw new IllegalArgumentException(s"unregistered function $name"))(df)
      // a registry function that groups by (Year, ID) drops the era year;
      // `Year` holds it wherever [[yearsApart]] lets an era run this step
      if (df.columns.contains(EraYear) && !out.columns.contains(EraYear))
        out.withColumn(EraYear, col("Year").cast(IntegerType))
      else out

    case Join(tableName, columns) =>
      // inner merge with recursively-built table for the years present
      // (data_engine.py:434-449). Broadcast only when the provider marks
      // the table dimension-sized; fact-fact joins shuffle (AQE picks the
      // strategy) instead of OOMing the driver at scale.
      val other0 = ctx.provider.table(tableName, ctx.years)
      val other = if (ctx.provider.broadcastable(tableName)) broadcast(other0) else other0
      df.join(other, columns, "inner")
  }

  /** pandas astype() type names -> Spark types (data_engine.py:334-345). */
  def sparkType(t: String): DataType = t.toLowerCase match {
    case "int" | "integer" | "int64" | "unsigned" => LongType
    case "int32"                                  => IntegerType
    case "float" | "float64" | "double"           => DoubleType
    case "str" | "string" | "category"            => StringType
    case "bool" | "boolean"                       => BooleanType
    case other => throw new IllegalArgumentException(s"unknown type $other")
  }

  /** C7 numerical expression with NULL-AS-ZERO semantics: the reference
    * fillna(0)s every referenced column before evaluating
    * (data_engine.py:347-368) — annualization math depends on it. Column
    * identifiers get wrapped in coalesce(col, 0).
    */
  private[ops] def numericExprSql(e: String, columns: Set[String]): String = {
    val tokens = e.split("[\\+\\-\\*/\\s.()]+").filter(_.nonEmpty)
    val refs = tokens.filter(t => !t.forall(c => c.isDigit)).distinct
    refs.foldLeft(e) { (acc, name) =>
      if (columns.contains(name))
        // quoteReplacement: a column name containing '$' or '\' would
        // otherwise be interpreted as a group reference by replaceAll
        acc.replaceAll(s"\\b${java.util.regex.Pattern.quote(name)}\\b",
          java.util.regex.Matcher.quoteReplacement(s"coalesce(`$name`, 0)"))
      else acc
    }
  }

  /** Condition compiler for C8 categorical create_column
    * (data_engine.py:386-405): null -> always; scalar -> self-equality;
    * list -> isin; map -> AND of other-column conditions.
    */
  private def categoryCondition(name: String, cond: Meta, df: DataFrame): Column =
    cond match {
      case MNull => lit(true)
      case MStr(s)  => col(name) === lit(s)
      case MInt(i)  => col(name) === lit(i)
      case MBool(b) => col(name) === lit(b)
      case MList(items) => col(name).isin(items.map(metaLit): _*)
      case mm: MMap =>
        mm.entries.map { case (k, v) =>
          v match {
            case MList(items) => col(k.asString).isin(items.map(metaLit): _*)
            case MBool(b)     => col(k.asString) === lit(b)
            case scalar       => col(k.asString) === lit(metaLit(scalar))
          }
        }.reduce(_ && _)
      case other => throw new IllegalArgumentException(s"bad condition: $other")
    }

  private def metaLit(m: Meta): Any = m match {
    case MInt(i)  => i
    case MDbl(d)  => d
    case MStr(s)  => s
    case MBool(b) => b
    case other    => throw new IllegalArgumentException(s"bad literal: $other")
  }
}

/** The reference's three registered external functions (C13-C15,
  * hbsir/schema_functions/standard_tables.py:4-38) as native transforms.
  */
object StandardFunctions {

  /** Per-(Year,ID) member counts: total, adults (Age>=14), childs.
    * `Members` counts non-null Member_Number (pandas NamedAgg "count").
    */
  def numberOfMembers(df: DataFrame): DataFrame =
    df.groupBy("Year", "ID")
      .agg(
        count(col("Member_Number")).cast(LongType).as("Members"),
        sum(when(col("Age") >= 14, 1).otherwise(0)).cast(LongType).as("Adults"))
      .withColumn("Childs", col("Members") - col("Adults"))

  /** Household/Per_Capita/OECD/OECD_Modified/Square_Root scales
    * (standard_tables.py:16-26).
    */
  def equivalenceScale(df: DataFrame): DataFrame =
    df.withColumn("Household", lit(1))
      .withColumn("Per_Capita", col("Members"))
      .withColumn("OECD", col("Adults") * 0.7 + col("Childs") * 0.5 + lit(0.3))
      .withColumn("OECD_Modified", col("Adults") * 0.5 + col("Childs") * 0.3 + lit(0.5))
      .withColumn("Square_Root", sqrt(col("Members")))

  /** Month -> season categorical, exactly the reference's
    * `Month.floordiv(3)+1 -> {1:Spring,2:Summer,3:Autumn,4:Winter}`
    * (standard_tables.py:29-38; months outside the map -> null).
    */
  def createSeason(df: DataFrame): DataFrame = {
    val num = floor(col("Month") / 3) + 1
    df.withColumn("Season",
      when(num === 1, "Spring").when(num === 2, "Summer")
        .when(num === 3, "Autumn").when(num === 4, "Winter")
        .otherwise(lit(null).cast(StringType)))
  }

  val registry: Pipeline.FnRegistry = Map(
    "number_of_members" -> numberOfMembers,
    "equivalence_scale" -> equivalenceScale,
    "create_season" -> createSeason,
  )
}
