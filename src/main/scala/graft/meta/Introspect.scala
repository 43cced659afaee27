package graft.meta

import graft.operators.PartitionStats
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Sort}
import org.apache.spark.sql.graftbridge.SessionBridge
import org.apache.spark.sql.types._
import scala.annotation.tailrec

/** M1–M3 introspection operators (reference file_info.rs, sqls.rs).
  *
  * The example generator reproduces the reference's schema-aware template
  * set (sqls.rs:561-628): pick the first string/int/float/date/any
  * columns — skipping generated-looking names — and instantiate ~20 query
  * shapes. The templates double as the SQL-surface conformance checklist
  * (each one must run through GraftSql).
  */
object Introspect {

  /** M1 — shape, in ONE Spark job with no exchange of its own (a
    * `count()` takes two under AQE, its scan stage and its final stage).
    * The count runs over the frame's order-free plan: the root `Project`
    * and `Sort` nodes of its cache-substituted logical plan are peeled
    * off, since neither changes the row count, and peeling stops at the
    * first node of any other kind (`Limit`, `Filter`, `Aggregate`,
    * `Window`, `Generate`, …) or at a cached frame. The rest is re-hosted
    * on `df`'s session and counted by one [[PartitionStats]] pass. So a
    * sorted frame never runs its range-partition sort (sampling job and
    * shuffle) to be counted, a cached frame takes 1 job and 1 stage, and
    * a `GROUP BY` its map stage plus 1. `graft.Container.shape` skips
    * the count when the pipeline already knows it. */
  def shape(df: DataFrame): (Long, Int) = {
    val counted = SessionBridge.ofRows(df.sparkSession, orderFree(df.queryExecution.withCachedData))
    (PartitionStats.of(counted, nonNull = false).rows.sum, df.columns.length)
  }

  @tailrec private def orderFree(plan: LogicalPlan): LogicalPlan = plan match {
    case p: Project => orderFree(p.child)
    case s: Sort    => orderFree(s.child)
    case other      => other
  }

  /** M2 — schema listing (name, dtype, index). */
  def schemaListing(df: DataFrame): Seq[(String, String, Int)] =
    df.schema.fields.zipWithIndex.map { case (f, i) => (f.name, f.dataType.simpleString, i) }.toSeq

  // ---- M3: example-query synthesis ------------------------------------

  /** Generated/aggregate-looking names skipped when picking source
    * columns (reference COLS_FILTER_OUT, sqls.rs:15-31). */
  val ColsFilterOut: Seq[String] = Seq(
    "Row Number", "Average", "Frequency", "Total", "As Float", "Category",
    "Calculation Result", "Row Count", "Unique Values", "Minimum",
    "Maximum", "New Name for", "+ 10%", "DMY (day/month/year)")

  def isFilteredCol(name: String): Boolean = {
    val t = name.trim
    t.isEmpty || ColsFilterOut.exists(t.contains)
  }

  /** Nth (0-based) non-filtered column satisfying the dtype predicate. */
  def findNthCol(schema: StructType, n: Int, pred: DataType => Boolean): Option[String] =
    schema.fields.iterator
      .filter(f => !isFilteredCol(f.name) && pred(f.dataType))
      .slice(n, n + 1).map(_.name).toSeq.headOption

  private def isString(d: DataType) = d == StringType
  private def isInt(d: DataType) = d match {
    case ByteType | ShortType | IntegerType | LongType => true; case _ => false
  }
  private def isFloat(d: DataType) = d == FloatType || d == DoubleType
  // TimestampNTZType included: unadjusted parquet timestamps read as NTZ
  // in Spark 4, and the reference's date templates (STRFTIME) apply to
  // any datetime column regardless of zone semantics
  private def isDate(d: DataType) =
    d == DateType || d == TimestampType || d == TimestampNTZType
  private def isAny(d: DataType) = d != NullType

  val DefaultQuery: String = "-- Select all columns and rows\nSELECT *\nFROM AllData;"

  private def bq(c: String) = s"`$c`"

  /** The full example set for a schema (reference sql_commands,
    * sqls.rs:561-628). Every emitted query is runnable via GraftSql. */
  def sqlExamples(schema: StructType, table: String = "AllData"): Seq[String] = {
    val strCol = findNthCol(schema, 0, isString)
    val intCol = findNthCol(schema, 0, isInt)
    val floatCol = findNthCol(schema, 0, isFloat)
    val dateCol = findNthCol(schema, 0, isDate)
    val any0 = findNthCol(schema, 0, isAny)
    val any1 = findNthCol(schema, 1, isAny)
    val any2 = findNthCol(schema, 2, isAny)
    val numCol = intCol.orElse(floatCol)
    val groupCol = dateCol.orElse(intCol).orElse(strCol).orElse(any0)

    val out = Seq.newBuilder[String]
    out += DefaultQuery
    out += s"-- Limit the number of rows returned\nSELECT *\nFROM $table\nLIMIT 50;"

    for (c1 <- strCol; c2 <- numCol) out +=
      s"-- Select specific columns by name\nSELECT\n    ${bq(c1)},\n    ${bq(c2)}\nFROM $table;"

    for (c1 <- any0; c2 <- any2) out +=
      s"-- Select all columns EXCEPT specific ones\nSELECT *\nEXCEPT (${bq(c1)}, ${bq(c2)})\nFROM $table;"

    for (c1 <- any0; c2 <- any1) out +=
      s"-- Rename columns while selecting all others\nSELECT *\nRENAME (${bq(c1)} AS `New Name for ${c1}`, ${bq(c2)} AS `New Name for ${c2}`)\nFROM $table;"

    for (c <- floatCol) out +=
      s"-- Replace a column's values in-place (here: rounded)\nSELECT *\nREPLACE (ROUND(${bq(c)}, 2) AS ${bq(c)})\nFROM $table;"

    for (c1 <- intCol; c2 <- strCol) out +=
      s"-- Replace cell values conditionally\nSELECT *\nREPLACE (\n    CASE WHEN ${bq(c1)} IS NULL THEN 0 ELSE ${bq(c1)} END AS ${bq(c1)}\n)\nFROM $table;"

    for (cf <- floatCol; ci <- intCol) out +=
      s"-- Add computed columns from existing ones\nSELECT\n    *,\n    ${bq(cf)} * 1.10 AS `${cf} + 10%`,\n    ${bq(ci)} + 1 AS `${ci} Calculation Result`\nFROM $table;"

    for (c1 <- any0; c2 <- any1; cf <- floatCol) out +=
      s"-- Combined EXCEPT + REPLACE + RENAME\nSELECT *\nEXCEPT (${bq(c1)})\nREPLACE (ROUND(${bq(cf)}, 1) AS ${bq(cf)})\nRENAME (${bq(c2)} AS `New Name for ${c2}`)\nFROM $table;"

    for (c <- intCol) out +=
      s"-- Cast an integer column to float\nSELECT\n    ${bq(c)},\n    CAST(${bq(c)} AS DOUBLE) AS `${c} As Float`\nFROM $table;"

    for (c <- numCol) out +=
      s"-- Conditional logic with CASE WHEN\nSELECT\n    *,\n    CASE\n        WHEN ${bq(c)} > 100 THEN 'High'\n        WHEN ${bq(c)} > 10 THEN 'Medium'\n        ELSE 'Low'\n    END AS `${c} Category`\nFROM $table;"

    for (c <- any0) out +=
      s"-- Filter rows with NULL values\nSELECT *\nFROM $table\nWHERE ${bq(c)} IS NOT NULL;"

    for (c <- intCol) out +=
      s"-- Filter by integer comparison\nSELECT *\nFROM $table\nWHERE ${bq(c)} >= 10;"

    for (c <- strCol) out +=
      s"-- Filter by string pattern (ILIKE is case-insensitive)\nSELECT *\nFROM $table\nWHERE ${bq(c)} ILIKE '%a%';"

    for (ci <- intCol; cs <- strCol) out +=
      s"-- Combine filters with AND/OR and BETWEEN\nSELECT *\nFROM $table\nWHERE (${bq(ci)} BETWEEN 1 AND 1000) AND ${bq(cs)} IS NOT NULL;"

    for (c1 <- strCol; c2 <- numCol) out +=
      s"-- Sort by multiple columns\nSELECT *\nFROM $table\nORDER BY ${bq(c1)} ASC, ${bq(c2)} DESC;"

    for (cg <- groupCol; cc <- any2) out +=
      s"-- Count rows per group\nSELECT\n    ${bq(cg)},\n    COUNT(${bq(cc)}) AS `${cc} Row Count`,\n    COUNT(DISTINCT ${bq(cc)}) AS `${cc} Unique Values`\nFROM $table\nGROUP BY ${bq(cg)}\nORDER BY ${bq(cg)};"

    for (cs <- strCol; cn <- numCol) out +=
      s"-- Sum per group\nSELECT\n    ${bq(cs)},\n    SUM(${bq(cn)}) AS `${cn} Total`\nFROM $table\nGROUP BY ${bq(cs)};"

    for (cs <- strCol; cn <- numCol) out +=
      s"-- Multiple aggregates per group\nSELECT\n    ${bq(cs)},\n    COUNT(*) AS `Row Count`,\n    AVG(${bq(cn)}) AS `${cn} Average`,\n    MIN(${bq(cn)}) AS `${cn} Minimum`,\n    MAX(${bq(cn)}) AS `${cn} Maximum`\nFROM $table\nGROUP BY ${bq(cs)};"

    for (cs <- strCol; cn <- numCol) out +=
      s"-- Filter groups with HAVING on an aggregate alias\nSELECT\n    ${bq(cs)},\n    AVG(${bq(cn)}) AS `${cn} Average`\nFROM $table\nGROUP BY ${bq(cs)}\nHAVING `${cn} Average` > 0;"

    for (c <- dateCol) out +=
      s"-- Format dates with STRFTIME\nSELECT\n    ${bq(c)},\n    STRFTIME(${bq(c)}, '%d/%m/%Y') AS `${c} DMY (day/month/year)`\nFROM $table;"

    for (c1 <- any0; c2 <- any2) out +=
      s"-- Unique combinations of columns\nSELECT DISTINCT\n    ${bq(c1)},\n    ${bq(c2)}\nFROM $table;"

    out.result()
  }

  /** Numeric column summary in long form: one row per numeric column with
    * exact-arithmetic stats (count/nulls/min/max, 2dp-rounded sum; mean as
    * an IEEE division of the rounded sum — engine-reproducible, unlike
    * round(avg)). One aggregation job over all columns at once. */
  def numericSummary(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val numeric = df.schema.fields.filter(_.dataType.isInstanceOf[NumericType]).map(_.name)
    require(numeric.nonEmpty, "no numeric columns to summarize")
    val aggs = numeric.flatMap { c =>
      Seq(count(col(c)).as(s"__n_$c"),
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"__nn_$c"),
        min(col(c)).cast("double").as(s"__min_$c"),
        max(col(c)).cast("double").as(s"__max_$c"),
        round(sum(col(c)), 2).as(s"__sum_$c"))
    }
    val row = df.agg(aggs.head, aggs.tail: _*)
    // one plan branch regardless of column count: the single aggregate
    // row explodes into per-column struct rows (a union of N selects
    // would replan the aggregation N times)
    val entries = numeric.map { c =>
      struct(
        lit(c).as("col_name"),
        col(s"__n_$c").as("n"),
        col(s"__nn_$c").as("n_null"),
        col(s"__min_$c").as("min"),
        col(s"__max_$c").as("max"),
        col(s"__sum_$c").cast("double").as("sum"),
        (col(s"__sum_$c").cast("double") / col(s"__n_$c")).as("mean"))
    }
    row.select(explode(array(entries: _*)).as("e")).select(col("e.*"))
  }

  // ---- M4: cell formatting (presentation-layer pure functions) ---------

  /** Per-dtype alignment (reference data_format.rs:61-106): numbers right,
    * booleans/dates center, text left. */
  sealed trait Align
  case object Left extends Align
  case object Right extends Align
  case object Center extends Align

  def alignmentFor(dt: DataType): Align = dt match {
    case _: NumericType => Right
    case BooleanType | DateType | TimestampType | TimestampNTZType => Center
    // the reference centers Duration columns (data_format.rs:39-40);
    // Spark's counterparts are the interval types
    case _: DayTimeIntervalType | _: YearMonthIntervalType => Center
    case _ => Left
  }

  /** Per-column decimal/layout overrides (reference
    * decimal_and_layout_v2.rs:10-11 COL_SPECIAL/COL_DECIMAL behind the
    * format-special build flag): float columns whose name matches an
    * override pattern (unanchored regex — the reference uses substring
    * `contains`) format with that many decimals and CENTER; other floats
    * use the global decimals and the dtype alignment. */
  final case class FormatConfig(
      floatDecimals: Int = 2,
      /** unanchored column-name regex → decimals for matching floats
        * (reference default: the Alíq/Aliq tax-rate columns at 4). */
      decimalOverrides: Seq[(String, Int)] = Seq("Alíq|Aliq" -> 4))

  private def overrideFor(name: String, cfg: FormatConfig): Option[Int] =
    cfg.decimalOverrides.collectFirst {
      case (p, d) if p.r.findFirstIn(name).isDefined => d
    }

  /** (decimals, alignment) for a column — the get_decimal_and_layout
    * port (decimal_and_layout_v2.rs:21-70): floats get Some(decimals)
    * (override-aware), everything else None; special float columns
    * center. */
  def decimalAndAlignment(name: String, dt: DataType,
      cfg: FormatConfig = FormatConfig()): (Option[Int], Align) = dt match {
    case FloatType | DoubleType =>
      overrideFor(name, cfg) match {
        case Some(d) => (Some(d), Center)
        case None    => (Some(cfg.floatDecimals), alignmentFor(dt))
      }
    case other => (None, alignmentFor(other))
  }

  /** Compact duration rendering in the reference's Duration-column style
    * (data_format.rs:39-40 centers Durations; polars prints e.g.
    * "1d 2h 3m 4s"): largest-to-smallest nonzero units, sub-second as
    * millis/micros, negative carried as a leading sign. */
  def formatDuration(d: java.time.Duration): String = {
    if (d.isZero) return "0s"
    val sign = if (d.isNegative) "-" else ""
    val abs = d.abs()
    val days = abs.toDays
    val h = abs.toHoursPart
    val m = abs.toMinutesPart
    val s = abs.toSecondsPart
    val micros = abs.toNanosPart / 1000
    val parts = Seq(
      days -> "d", h.toLong -> "h", m.toLong -> "m", s.toLong -> "s",
      (micros / 1000).toLong -> "ms", (micros % 1000).toLong -> "µs")
      .collect { case (v, u) if v > 0 => s"$v$u" }
    // nonzero but sub-microsecond (unreachable from Spark's µs-precision
    // intervals, but this is public API): never return "" — that is the
    // null rendering
    if (parts.isEmpty) "0s" else sign + parts.mkString(" ")
  }

  /** Null → "", floats with fixed decimals (default 2), durations/
    * periods humanized, others toString (reference
    * data_container.rs:508-543, decimal_and_layout_v2.rs,
    * data_format.rs:39-40). Spark surfaces DayTimeIntervalType cells as
    * java.time.Duration and YearMonthIntervalType as java.time.Period. */
  def formatCell(value: Any, dt: DataType, floatDecimals: Int = 2): String =
    value match {
      case null => ""
      case d: Double => s"%.${floatDecimals}f".format(d)
      case f: Float  => s"%.${floatDecimals}f".format(f.toDouble)
      case d: java.time.Duration => formatDuration(d)
      case p: java.time.Period =>
        // normalize via total months: Period.isNegative is true when ANY
        // unit is negative, so Period.of(1, -2, 0) is really +10 months,
        // not "-1y 2mo"
        val tm = p.toTotalMonths
        val sign = if (tm < 0) "-" else ""
        val (y, mo) = (math.abs(tm) / 12, math.abs(tm) % 12)
        val parts = Seq(y -> "y", mo -> "mo").collect { case (v, u) if v > 0 => s"$v$u" }
        if (parts.isEmpty) "0mo" else sign + parts.mkString(" ")
      case other     => other.toString
    }

  /** Column-aware cell formatting: decimals resolved per column via
    * [[decimalAndAlignment]]. */
  def formatCell(value: Any, colName: String, dt: DataType,
      cfg: FormatConfig): String =
    formatCell(value, dt, decimalAndAlignment(colName, dt, cfg)._1
      .getOrElse(cfg.floatDecimals))
}
