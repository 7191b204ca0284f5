package graft.ops

import graft.meta._
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The "cleaned" layer (B1-B5): metadata-driven column select/rename,
  * sentinel replacement, string scrubbing, and typing.
  *
  * Semantics from hbsir/core/data_cleaner.py:141-227 driven by
  * hbsir/metadata/tables.yaml. Everything compiles to Column expressions
  * so the whole clean stays inside one projection (single codegen stage,
  * pushdown-friendly) rather than the reference's per-column eager passes.
  */
object CleanOps {

  sealed trait ColType
  case object StrType extends ColType
  case object UnsignedType extends ColType
  case object IntType extends ColType
  case object FloatType extends ColType
  final case class BoolType(trueCondition: Long) extends ColType
  final case class CategoryType(categories: Map[Long, String]) extends ColType

  final case class ColumnSpec(
      rawName: String,
      newName: String,
      typ: ColType,
      replace: Map[String, Option[String]] = Map.empty,
  )

  final case class TableCleanSpec(
      columns: Vector[ColumnSpec],
      missings: String, // "drop" | "error"
      /** Raw columns the metadata EXPLICITLY marks `drop`
        * (data_cleaner.py:146-147): known columns skipped without
        * consulting the missings policy — distinct from columns absent
        * from metadata, which under the default `missings: error` are a
        * hard failure. Conflating the two would make every real
        * expenditure file throw on its `DYCOL07: drop` column.
        */
      dropped: Set[String] = Set.empty,
  )

  /** Compile a year-resolved table metadata block (tables.yaml shape:
    * `columns: {RAWNAME: {new_name, type, replace, ...}}`) to a spec.
    */
  def compileSpec(tableMeta: Meta, year: Int,
                  resolver: ResolverSettings = ResolverSettings()): TableCleanSpec = {
    val resolved = new VersionResolver(tableMeta, year, resolver).getVersion
    // Default policy is "error" like the reference's default_table_settings
    // (tables.yaml:82-83) — silently dropping unknown raw columns would
    // hide metadata drift.
    val missings = resolved
      .get("settings").flatMap(_.get("missings")).map(_.asStr).getOrElse("error")
    val colsMeta = resolved("columns").asMap
    val dropped = colsMeta.collect {
      case (k, MStr("drop")) => k.asString.toUpperCase
    }.toSet
    val cols = colsMeta.flatMap {
      case (k, MStr("drop")) => None
      // a column spec resolved to null marks a year the raw file does
      // not carry that column (tables.yaml:1347-1378, e.g. food COL4
      // 1363/1374): the reference never sees it because it iterates the
      // raw file's actual columns (data_cleaner.py:141-154)
      case (_, MNull) => None
      case (k, cm) =>
        val typ = cm.get("type").map(_.asStr) match {
          case None | Some("string") => StrType
          case Some("unsigned")      => UnsignedType
          case Some("integer")       => IntType
          case Some("float")         => FloatType
          case Some("boolean")       => BoolType(cm("true_condition").asLong)
          case Some("category") =>
            CategoryType(cm("categories").asMap.map {
              case (IKey(i), v) => i -> v.asStr
              case (SKey(s), v) => s.toLong -> v.asStr
            }.toMap)
          case Some(other) => throw new IllegalArgumentException(s"type $other")
        }
        val replace = cm.get("replace") match {
          case Some(rm: MMap) => rm.entries.map {
            case (rk, MNull)  => rk.asString -> None
            case (rk, rv)     => rk.asString -> Some(rv.asStr)
          }.toMap
          case _ => Map.empty[String, Option[String]]
        }
        Some(ColumnSpec(k.asString, cm("new_name").asStr, typ, replace))
    }
    TableCleanSpec(cols, missings, dropped)
  }

  /** General string scrubbing (data_cleaner.py:216-227): middle-dot -> '.',
    * strip trailing dots, remove junk chars, leading '-' after word break,
    * blank/dot/dash-only -> null. Applied only to string-typed raw input.
    */
  def generalCleaning(c: Column): Column = {
    val midDot = regexp_replace(c, "·", ".")
    val rstrip = regexp_replace(midDot, "\\.+$", "")
    val junk = regexp_replace(rstrip, "[\\n\\r,@+*\\[\\]_?]+", "")
    val dash = regexp_replace(junk, "\\b-", "")
    when(dash.rlike("^[\\s.\\-]*$"), lit(null)).otherwise(dash)
  }

  /** One column's full clean as a single expression.
    *
    * The string scrub (generalCleaning) only applies when the raw input is
    * actually a string: the reference's _general_cleaning returns
    * numeric-dtype columns untouched (data_cleaner.py:216-227), and
    * round-tripping numerics through strings corrupts values (Spark renders
    * large doubles in scientific notation, which casts back to null).
    */
  def cleanColumn(spec: ColumnSpec, rawType: DataType = StringType): Column = {
    val raw = col(spec.rawName)
    // pandas .replace is SIMULTANEOUS: every condition tests the
    // ORIGINAL value, never another replacement's output — a chained
    // fold (when(acc === from)) would let {1->0, 0->null} null out raw
    // 1s, with the outcome depending on map iteration order
    // A replace key that is not ITSELF a numeric literal can never match
    // a NUMERIC raw column (pandas .replace just never fires): the real
    // metadata carries string sentinels like Job_Code's "x0000"
    // (tables.yaml:1614) and the income ADDRESS sentinels "00" ..
    // "12" (tables.yaml:1592-1597) that only occur in string-typed
    // raw files — against a numeric source they must be dropped. The
    // key-shape check is a strict regex, NOT `trim.toDoubleOption`:
    // both String.trim and Java's parseDouble discard every char
    // <= U+0020, so "12" would otherwise parse as 12 and null out
    // five real household IDs in year 1374 (caught by the
    // real_members_income_multiyear gate). YAML-numeric keys ("3",
    // "0.0", "1e5") still match numerically.
    val numKey = "^[+-]?(\\d+\\.?\\d*|\\.\\d+)([eE][+-]?\\d+)?$".r
    def numericKey(s: String): Option[Double] = {
      val t = s.strip() // Unicode whitespace only; keeps control chars
      if (numKey.matches(t)) t.toDoubleOption else None
    }
    val applicable = rawType match {
      case _: NumericType =>
        spec.replace.flatMap { case (from, to) =>
          numericKey(from).map(d => (d, to))
        }.toSeq
      case _ => spec.replace.toSeq
    }
    val replaced =
      if (applicable.isEmpty) raw
      else {
        val cases = applicable.map { case (from, to) =>
          val fromLit: Column = from match {
            case d: Double => lit(d).cast(rawType)
            case s: String => lit(s)
          }
          (raw === fromLit) -> to.map(lit(_).cast(rawType)).getOrElse(lit(null).cast(rawType))
        }
        cases.tail.foldLeft(when(cases.head._1, cases.head._2)) {
          case (acc, (cond, v)) => acc.when(cond, v)
        }.otherwise(raw)
      }
    val isNumericRaw = rawType.isInstanceOf[NumericType]
    val scrubbed =
      if (isNumericRaw) replaced else generalCleaning(replaced.cast(StringType))
    val typed = spec.typ match {
      case StrType      => scrubbed.cast(StringType)
      case UnsignedType => scrubbed.cast(LongType)
      case IntType      => scrubbed.cast(LongType)
      case FloatType    => scrubbed.cast(DoubleType)
      case BoolType(t)  => scrubbed.cast(IntegerType) === lit(t)
      case CategoryType(cats) =>
        // parse guard: under ANSI mode (Spark 4 default) casting a
        // non-integer string throws — a category column may legitimately
        // carry non-code values, which the fallback below preserves.
        // Numeric raw columns bypass the string-render regex entirely:
        // a pandas-origin int column widened to double by NaN renders
        // codes as "3.0", which the integer regex rejects — the whole
        // column would silently fall back to raw strings. Whole-valued
        // in-range numerics ARE codes; NaN (pandas' missing marker) and
        // fractional values carry none.
        val codes = rawType match {
          case _: NumericType =>
            val d = scrubbed.cast(DoubleType)
            when(d.isNotNull && !isnan(d) &&
              d >= Int.MinValue.toDouble && d <= Int.MaxValue.toDouble &&
              d === floor(d), d.cast(IntegerType))
          case _ =>
            when(scrubbed.cast(StringType).rlike("^\\s*-?[0-9]+\\s*$"),
              scrubbed).cast(IntegerType)
        }
        // Unmapped codes keep their original value (pandas
        // cat.rename_categories leaves unlisted categories as-is) so
        // downstream notnull() filters behave like the reference. The
        // fallback coalesces through the ORIGINAL scrubbed string: a
        // non-integer raw value ("Urban", "n/a") must survive, not be
        // destroyed by the int-cast round-trip. Numeric NaN stays null —
        // it is the missing marker, not a value.
        val fallback = rawType match {
          case _: NumericType =>
            when(!isnan(scrubbed.cast(DoubleType)), scrubbed.cast(StringType))
          case _ => scrubbed.cast(StringType)
        }
        // ONE map-literal probe instead of a per-category when/otherwise
        // fold: the folded form duplicates the (already guarded) `codes`
        // expression per category, and every downstream reference to the
        // cleaned column — pushed-down filters, categorical-condition
        // projections — inlines the whole thing again; across a 13-table
        // DAG that compounded into megabyte expression trees that cost
        // the optimizer minutes (real_income_breakdown). try_element_at
        // is null-on-missing under ANSI, exactly the fold's fallthrough.
        val mappable = cats.collect {
          case (k, v) if k >= Int.MinValue && k <= Int.MaxValue => k.toInt -> v
        }
        if (mappable.isEmpty) coalesce(codes.cast(StringType), fallback)
        else coalesce(try_element_at(typedlit(mappable), codes),
          codes.cast(StringType), fallback)
    }
    typed.as(spec.newName)
  }

  /** B1-B4: raw DataFrame -> cleaned DataFrame in one projection.
    * Columns absent from metadata follow the `missings` policy
    * (data_cleaner.py:157-179); matching is case-insensitive on upper()
    * like the reference's `column_name.upper()`. A multi-year era's
    * [[Pipeline.EraYear]] passes through.
    */
  def cleanTable(raw: DataFrame, spec: TableCleanSpec): DataFrame = {
    val specByRaw = spec.columns.map(c => c.rawName.toUpperCase -> c).toMap
    val rawTypes = raw.schema.fields.map(f => f.name -> f.dataType).toMap
    val projections = raw.columns.toSeq.flatMap { c =>
      if (c == Pipeline.EraYear) Some(col(c)) else specByRaw.get(c.toUpperCase) match {
        case Some(cs) => Some(cleanColumn(cs.copy(rawName = c), rawTypes(c)))
        case None if spec.dropped(c.toUpperCase) => None
        case None if spec.missings == "error" =>
          throw new IllegalArgumentException(s"column '$c' not found in metadata")
        case None => None
      }
    }
    raw.select(projections: _*)
  }

  /** B5/C16/C17: union with schema alignment — the reference's UNION ALL
    * (pd.concat, data_engine.py:627-645); missing columns become null.
    *
    * Built as a BALANCED tree, not a left-deep `reduce`: `unionByName`
    * resolves eagerly, so a left-deep chain re-analyzes the growing
    * prefix at every step — O(n²) plan-build driver time that measured
    * ~0.75→1.0s per added year by year 20 of a multi-year load and
    * projects to ~40s at the full 39-year real archive. The tree
    * analyzes O(n log n) nodes total, and column order is unchanged:
    * each merge appends right-side-only columns after the left's, so
    * any tree shape yields first-occurrence-in-sequence order.
    */
  def unionAll(tables: Seq[DataFrame]): DataFrame = {
    val nonEmpty = tables.filter(_.columns.nonEmpty)
    require(nonEmpty.nonEmpty,
      "unionAll: no tables with columns to union (every input was empty or filtered out)")
    var level: Seq[DataFrame] = nonEmpty
    while (level.size > 1)
      level = level.grouped(2).map {
        case Seq(a, b) => a.unionByName(b, allowMissingColumns = true)
        case Seq(single) => single
      }.toSeq
    level.head
  }
}
