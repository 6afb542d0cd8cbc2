package graft.checks

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.model.{ValidationResult, ValidationStatus}

/** A data-quality check over a DataFrame.
  *
  * Engine counterpart of the reference's hand-rolled validation tests
  * (pager-workflow.py:117-233) and the Great Expectations vocabulary the
  * platform pins (airflow/requirements.txt:3). Each check compiles to
  * declarative Spark expressions so Catalyst keeps pushdown/pruning and
  * whole-stage codegen on the path.
  */
trait Check {
  def name: String
  def run(df: DataFrame): ValidationResult

  /** Optional second pass to enrich a failed verdict (e.g. fetch a bounded
    * offender sample). Runs AFTER the cheap fused aggregate, and only when
    * the caller passes a failed result — at scale the extra job is paid
    * only on the failure path, and implementations must stay bounded
    * (top-k, never full-cardinality collects). */
  def refine(df: DataFrame, r: ValidationResult): ValidationResult = r
}

/** A check whose verdict derives from aggregate expressions — i.e. it can
  * be evaluated in a SINGLE pass over the table, and any number of such
  * checks over the same table can be fused into ONE job/scan via
  * [[CheckSuite.runBatched]]. At 100 TB this is the difference between one
  * table scan per suite and one per check.
  */
trait AggCheck extends Check {
  /** Short, column-safe identifier used to prefix agg aliases in batch mode. */
  final def safeName: String = name.replaceAll("[^A-Za-z0-9_]", "_")

  /** Aggregate columns, each aliased `${prefix}<alias>`. */
  def aggColumns(prefix: String): Seq[Column]

  /** Build the verdict from the aggregated row (aliases under `prefix`). */
  def evaluate(row: Row, prefix: String): ValidationResult

  final def run(df: DataFrame): ValidationResult = {
    val cols = aggColumns("")
    refine(df, evaluate(df.agg(cols.head, cols.tail: _*).head(), ""))
  }
}

/** Shared helpers for value-level checks: `elementCount` = all rows,
  * `unexpectedCount` = non-null rows violating the predicate (ANSI
  * ternary-logic: NULL never "violates" a value predicate — matches the
  * reference's SQL NOT IN semantics, pager-workflow.py:215; the ''-default
  * row-rule variant is rules.RegionWhitelistRule). */
abstract class ValueCheck extends AggCheck {
  def column: String
  /** Predicate that flags a row as unexpected (evaluated only on non-null). */
  def unexpected: Column
  def describe: String

  /** GE's `row_condition` kwarg: when set, the expectation sees ONLY rows
    * satisfying this predicate — `element_count`, `unexpected_count`, and
    * the `mostly` basis all fold it into the same fused aggregate (no
    * second scan, no pre-filtered DataFrame). Set via
    * [[ConditionedCheck]]; None = unconditioned (every existing check). */
  def rowCondition: Option[Column] = None
  protected final def conditioned(c: Column): Column =
    rowCondition.map(_ && c).getOrElse(c)

  /** Rows that can conform or violate, BEFORE the row condition. Column
    * checks: the column is non-null. Pair checks override with GE's
    * not-both-missing default (`ignore_row_if`), not-null with every row. */
  def basisRaw: Column = col(column).isNotNull

  /** Rows forming GE's `mostly` denominator: the unconditioned basis
    * restricted to the row condition. */
  final def mostlyBasis: Column = conditioned(basisRaw)

  override def aggColumns(prefix: String): Seq[Column] = Seq(
    count(when(rowCondition.getOrElse(lit(true)), lit(1)))
      .as(s"${prefix}element_count"),
    count(when(conditioned(unexpected), lit(1)))
      .as(s"${prefix}unexpected_count"))

  override def evaluate(row: Row, prefix: String): ValidationResult = {
    val total = row.getAs[Long](s"${prefix}element_count")
    val bad   = row.getAs[Long](s"${prefix}unexpected_count")
    val pct   = if (total == 0) 0.0 else bad.toDouble / total * 100.0
    ValidationResult(
      validationName = name,
      status = if (bad == 0) ValidationStatus.Passed else ValidationStatus.Failed,
      message =
        if (bad == 0) s"$describe: all $total records passed"
        else s"$describe: $bad of $total records unexpected",
      elementCount = total, unexpectedCount = bad, unexpectedPercent = pct)
  }
}

/** GE's `mostly` tolerance kwarg — the single most-used GE kwarg in real
  * suites (core vocabulary of the 0.18 release the reference pins,
  * airflow/requirements.txt:3): a column expectation passes when at least
  * `mostly` fraction of rows conform, i.e. success iff
  * `unexpected_percent ≤ (1 − mostly)·100`.
  *
  * GE basis: for value predicates the percent is over the check's
  * [[ValueCheck.mostlyBasis]] rows — non-null for column checks, GE's
  * not-both-missing default for pair checks — while for not-null the
  * nulls ARE the violations and the basis is all rows. A null-heavy
  * column under an all-rows basis would pass checks GE fails.
  * `mostly = 1.0` (GE's own default, which real suites state explicitly)
  * is accepted and degenerates to zero tolerance.
  *
  * Modeled as a wrapper so every counting check gets tolerance without
  * touching its scan count: the inner check's fused aggregate columns are
  * reused (plus one basis counter — same single pass), only the verdict
  * threshold changes. Wrapping an aggregate-verdict check (row counts,
  * mean bounds…) is rejected at construction, matching GE, where
  * `mostly` exists only on column map expectations. */
final case class MostlyCheck(inner: AggCheck, mostly: Double) extends AggCheck {
  require(mostly > 0.0 && mostly <= 1.0, s"mostly ($mostly) must be in (0, 1]")
  private val value = inner match {
    case v: ValueCheck => v
    case _ => throw new IllegalArgumentException(
      s"mostly is not meaningful for '${inner.name}' — it applies to " +
        "row-counting (column map) expectations only")
  }
  val name: String = inner.name
  override def aggColumns(prefix: String): Seq[Column] =
    value.aggColumns(prefix) :+
      count(when(value.mostlyBasis, lit(1))).as(s"${prefix}nonnull_count")
  override def evaluate(row: Row, prefix: String): ValidationResult = {
    val base = inner.evaluate(row, prefix)
    val basis = row.getAs[Long](s"${prefix}nonnull_count")
    val pct =
      if (basis == 0) 0.0 else base.unexpectedCount.toDouble / basis * 100.0
    val ok = pct <= (1.0 - mostly) * 100.0
    base.copy(
      status = if (ok) ValidationStatus.Passed else ValidationStatus.Failed,
      unexpectedPercent = pct,
      message =
        if (ok && base.unexpectedCount > 0)
          s"${base.message} — within mostly=$mostly tolerance"
        else if (!ok)
          s"${base.message} — exceeds mostly=$mostly tolerance"
        else base.message)
  }
  /** Offender samples stay failure-path-only (a within-tolerance pass
    * should not pay the inner check's refine job). */
  override def refine(df: DataFrame, r: ValidationResult): ValidationResult =
    if (r.status == ValidationStatus.Failed) inner.refine(df, r) else r
}

/** GE's `row_condition` kwarg — a conditional expectation: validate the
  * column only where `conditionSql` (a Spark SQL boolean expression over
  * the table's columns) holds. Core GE 0.18 vocabulary alongside `mostly`
  * (airflow/requirements.txt:3); suites ported from real deployments use
  * it constantly ("o_totalprice >= 0, but only for finalized orders").
  *
  * A wrapper, like [[MostlyCheck]]: the condition folds into the inner
  * check's fused aggregate counters via [[ValueCheck.rowCondition]] —
  * element count, unexpected count, and the mostly basis all see only
  * condition rows, still in ONE scan. Composes inside `mostly`
  * (`MostlyCheck(ConditionedCheck(...), m)`): the tolerance denominator
  * is then the conditioned basis, matching GE. */
final case class ConditionedCheck(inner: ValueCheck, conditionSql: String)
  extends ValueCheck {
  require(conditionSql.trim.nonEmpty, "row_condition must be non-empty")
  val name: String = s"${inner.name}:where:$conditionSql"
  def column: String = inner.column
  def unexpected: Column = inner.unexpected
  def describe: String = s"${inner.describe} (where $conditionSql)"
  override def basisRaw: Column = inner.basisRaw
  /** ANDed with any condition the inner check carries itself (the pair
    * checks model `ignore_row_if` as a built-in row condition). */
  override def rowCondition: Option[Column] =
    Some(inner.rowCondition.map(_ && expr(conditionSql)).getOrElse(expr(conditionSql)))
  /** The offender sample must honor the condition too: refine over the
    * restricted frame (failure-path-only, so the filter job is paid only
    * when the conditioned check actually failed). */
  override def refine(df: DataFrame, r: ValidationResult): ValidationResult =
    inner.refine(df.filter(expr(conditionSql)), r)
}

/** G1/D1/R2 — `expect_table_row_count_to_be_between` (min=1 ⇒ non-empty).
  * Reference: COUNT(*) tests at pager-workflow.py:126,133,159,174,189;
  * empty-input rule analysis.md:9 (`validate_data_quality`). */
final case class RowCountCheck(
    minRows: Long = 1L, maxRows: Long = Long.MaxValue)
  extends AggCheck {
  val name = "row_count_between"
  override def aggColumns(prefix: String): Seq[Column] =
    Seq(count(lit(1)).as(s"${prefix}element_count"))
  override def evaluate(row: Row, prefix: String): ValidationResult = {
    val n = row.getAs[Long](s"${prefix}element_count")
    val ok = n >= minRows && n <= maxRows
    ValidationResult(name,
      if (ok) ValidationStatus.Passed else ValidationStatus.Failed,
      if (ok) s"table has $n rows (expected [$minRows, $maxRows])"
      else s"row count $n outside [$minRows, $maxRows]",
      elementCount = n,
      unexpectedCount = if (ok) 0L else 1L)
  }
}

/** G2/D2 — `expect_column_values_to_not_be_null`.
  * Reference: `WHERE SalesTerritoryKey IS NULL` count, pager-workflow.py:127,134.
  * The nulls ARE the violations, so the basis is every row (under a
  * `row_condition`, every condition row) — unlike value predicates, where
  * a null row can neither conform nor violate. */
final case class NotNullCheck(column: String) extends ValueCheck {
  val name = s"not_null:$column"
  def unexpected: Column = col(column).isNull
  def describe: String = s"$column not null"
  override def basisRaw: Column = lit(true)
}

/** G3/D4/R1 — `expect_column_values_to_be_in_set` (whitelist).
  * Reference: NOT-IN whitelist check pager-workflow.py:205-221; row-level
  * variant analysis.md:9 (`validate_region_whitelist`).
  *
  * The count lives in the (fusable) aggregate; the sorted offender sample
  * is fetched in [[refine]] as a separate bounded query — distinct →
  * orderBy → limit(k) compiles to TakeOrderedAndProject (per-partition
  * top-k, never a full-cardinality collect), and runs only on failure. */
final case class InSetCheck(
    column: String, allowed: Seq[String], sampleSize: Int = 20)
  extends ValueCheck {
  val name = s"in_set:$column"
  def unexpected: Column = !col(column).isin(allowed: _*)
  def describe: String = s"$column in {${allowed.take(4).mkString(",")}${if (allowed.size > 4) ",…" else ""}}"

  override def refine(df: DataFrame, r: ValidationResult): ValidationResult =
    if (r.unexpectedCount == 0) r
    else {
      // D5 guarded client fetch: the limit() makes the result provably
      // bounded, so the driver-side materialization is legal.
      val sample = graft.Client.fetchColumn[String](
        df.filter(unexpected).select(col(column).cast("string").as("__v"))
          .distinct().orderBy(col("__v")).limit(sampleSize), "__v")
      r.copy(
        partialUnexpectedList = sample,
        message = s"$describe: unauthorized values ${sample.mkString("[", ", ", "]")}")
    }
}

/** G4 — `expect_column_values_to_not_be_in_set` (blocklist dual of G3). */
final case class NotInSetCheck(column: String, blocked: Seq[String])
  extends ValueCheck {
  val name = s"not_in_set:$column"
  def unexpected: Column = col(column).isin(blocked: _*)
  def describe: String = s"$column not in blocklist(${blocked.size})"
}

/** G5/R4 — `expect_column_values_to_be_between`.
  * Reference business rule: `value < 0` fails (analysis.md:9,
  * `validate_business_rules`). */
final case class BetweenCheck(
    column: String,
    min: Option[Double] = None, max: Option[Double] = None)
  extends ValueCheck {
  val name = s"between:$column"
  def unexpected: Column = {
    val lo = min.map(col(column) < _)
    val hi = max.map(col(column) > _)
    (lo, hi) match {
      case (Some(l), Some(h)) => l || h
      case (Some(l), None)    => l
      case (None, Some(h))    => h
      case _                  => lit(false)
    }
  }
  def describe: String = s"$column in [${min.getOrElse("-inf")}, ${max.getOrElse("+inf")}]"
}

/** G9 — `expect_column_values_to_match_regex`.
  * Reference: ISO-8601 timestamp strings in fixtures (analysis.md:9). */
final case class RegexCheck(column: String, pattern: String)
  extends ValueCheck {
  val name = s"regex:$column"
  def unexpected: Column = !col(column).rlike(pattern)
  def describe: String = s"$column matches /$pattern/"
}

/** G10 — `expect_column_values_to_be_of_type` via cast null-diff:
  * a non-null value whose `try_cast` to the target type is null is not of
  * (or coercible to) that type. */
final case class TypeCastCheck(column: String, targetType: String)
  extends ValueCheck {
  val name = s"type:$column:$targetType"
  def unexpected: Column =
    col(column).isNotNull && expr(s"try_cast(`$column` AS $targetType)").isNull
  def describe: String = s"$column castable to $targetType"
}

/** GE's column-pair `ignore_row_if` kwarg → the basis rows a pair
  * expectation measures over: rows matching the mode are EXCLUDED.
  *  - `both_values_are_missing` (GE default): basis = at least one side
  *    present;
  *  - `either_value_is_missing`: basis = both sides present;
  *  - `neither`: basis = every row. */
private[checks] object IgnoreRowIf {
  val modes = Seq("both_values_are_missing", "either_value_is_missing", "neither")
  def basis(a: String, b: String, mode: String): Column = mode match {
    case "both_values_are_missing" => col(a).isNotNull || col(b).isNotNull
    case "either_value_is_missing" => col(a).isNotNull && col(b).isNotNull
    case "neither"                 => lit(true)
    case other => throw new IllegalArgumentException(
      s"unknown ignore_row_if '$other' — one of ${modes.mkString(", ")}")
  }
}

/** G12 — `expect_column_pair_values_A_to_be_greater_than_B`
  * (generalizes R4's cross-column business rules).
  *
  * `ignore_row_if` is modeled as a built-in row condition (GE filters
  * ignored rows OUT of the expectation entirely), so `element_count`,
  * `unexpected_count`, and the `mostly` denominator all exclude ignored
  * rows — and an invalid mode throws at CONSTRUCTION, not first use.
  *
  * Deliberate SQL-engine parity (ADVICE r4): under the default mode a
  * one-sided-null row is in the basis but the null comparison is never
  * `unexpected` (ANSI ternary logic), so it always registers as
  * conforming — exactly GE's SparkDF/SQLAlchemy engines. GE's pandas
  * engine differs (NaN comparisons count as unexpected); this engine is
  * Spark, so SQL semantics are the contract, and the DuckDB oracles
  * replay the same ternary logic. */
final case class PairGreaterCheck(a: String, b: String, orEqual: Boolean = false,
                                  ignoreRowIf: String = "both_values_are_missing")
  extends ValueCheck {
  require(IgnoreRowIf.modes.contains(ignoreRowIf),
    s"unknown ignore_row_if '$ignoreRowIf' — one of ${IgnoreRowIf.modes.mkString(", ")}")
  val column = a
  val name = s"pair_greater:$a>$b"
  def unexpected: Column =
    if (orEqual) col(a) < col(b) else col(a) <= col(b)
  def describe: String = s"$a ${if (orEqual) ">=" else ">"} $b"
  override def basisRaw: Column = lit(true)
  override def rowCondition: Option[Column] =
    Some(IgnoreRowIf.basis(a, b, ignoreRowIf))
}

/** `expect_column_pair_values_to_be_equal` — the equality sibling of G12
  * (same basis/null/`ignore_row_if` contract). */
final case class PairEqualCheck(a: String, b: String,
                                ignoreRowIf: String = "both_values_are_missing")
  extends ValueCheck {
  require(IgnoreRowIf.modes.contains(ignoreRowIf),
    s"unknown ignore_row_if '$ignoreRowIf' — one of ${IgnoreRowIf.modes.mkString(", ")}")
  val column = a
  val name = s"pair_equal:$a=$b"
  def unexpected: Column = col(a) =!= col(b)
  def describe: String = s"$a = $b"
  override def basisRaw: Column = lit(true)
  override def rowCondition: Option[Column] =
    Some(IgnoreRowIf.basis(a, b, ignoreRowIf))
}

/** `expect_column_values_to_be_null` — the inverse of G2: non-null values
  * are the violations, so (like not-null) the basis is ALL rows. A
  * ValueCheck, so `row_condition` and `mostly` compose the usual way. */
final case class NullCheck(column: String) extends ValueCheck {
  val name = s"null:$column"
  def unexpected: Column = col(column).isNotNull
  def describe: String = s"$column null"
  override def basisRaw: Column = lit(true)
}

/** G11 — `expect_column_mean/min/max_to_be_between` (aggregate profiling). */
final case class AggBoundsCheck(
    column: String, statistic: String, // "mean" | "min" | "max" | "sum" | "stddev"
    lo: Double, hi: Double)
  extends AggCheck {
  val name = s"agg_bounds:$statistic:$column"
  private def statCol: Column = statistic match {
    case "mean"   => avg(col(column))
    case "min"    => min(col(column))
    case "max"    => max(col(column))
    case "sum"    => sum(col(column))
    case "stddev" => stddev_samp(col(column))
    case other    => throw new IllegalArgumentException(s"unknown statistic $other")
  }
  override def aggColumns(prefix: String): Seq[Column] = Seq(
    count(lit(1)).as(s"${prefix}element_count"),
    statCol.cast("double").as(s"${prefix}observed"))
  override def evaluate(row: Row, prefix: String): ValidationResult = {
    val total = row.getAs[Long](s"${prefix}element_count")
    val idx = row.fieldIndex(s"${prefix}observed")
    val observed = if (row.isNullAt(idx)) Double.NaN else row.getDouble(idx)
    val ok = !observed.isNaN && observed >= lo && observed <= hi
    ValidationResult(name,
      if (ok) ValidationStatus.Passed else ValidationStatus.Failed,
      s"$statistic($column) = $observed, expected [$lo, $hi]",
      elementCount = total, unexpectedCount = if (ok) 0L else 1L)
  }
}

/** G7/G8 — `expect_column_values_to_be_unique` /
  * `expect_compound_columns_to_be_unique` (key hygiene implied by the
  * reference's PK null checks, pager-workflow.py:127,134).
  *
  * Not expressible as a plain aggregate (needs per-key grouping), so it is
  * its own single job: partial-aggregated groupBy (map-side combine) then a
  * tiny second-level agg — 1 shuffle of (key, count) pairs, never raw rows.
  * `unexpectedCount` = rows belonging to a duplicated key (GE semantics).
  */
final case class UniqueCheck(columns: Seq[String]) extends Check {
  val name = s"unique:${columns.mkString(",")}"
  def run(df: DataFrame): ValidationResult = {
    val grouped = df.groupBy(columns.map(col): _*).agg(count(lit(1)).as("cnt"))
    val row = grouped.agg(
      sum("cnt").as("element_count"),
      sum(when(col("cnt") > 1, col("cnt")).otherwise(lit(0))).as("dup_rows"),
      count(when(col("cnt") > 1, lit(1))).as("dup_keys")).head()
    val total = row.getAs[Long]("element_count")
    val dupRows = row.getAs[Long]("dup_rows")
    val dupKeys = row.getAs[Long]("dup_keys")
    ValidationResult(name,
      if (dupRows == 0) ValidationStatus.Passed else ValidationStatus.Failed,
      if (dupRows == 0) s"(${columns.mkString(",")}) unique across $total rows"
      else s"$dupKeys duplicated keys covering $dupRows rows of $total",
      elementCount = total, unexpectedCount = dupRows,
      unexpectedPercent = if (total == 0) 0.0 else dupRows.toDouble / total * 100.0)
  }
}

/** G13 — `expect_column_value_lengths_to_be_between`. */
final case class ValueLengthCheck(column: String, minLen: Int, maxLen: Int)
  extends ValueCheck {
  val name = s"value_length:$column"
  def unexpected: Column =
    length(col(column)) < minLen || length(col(column)) > maxLen
  def describe: String = s"length($column) in [$minLen, $maxLen]"
}

/** G14 — `expect_column_unique_value_count_to_be_between`. Exact distinct
  * count — a partial-aggregable two-level aggregate at scale (Spark
  * rewrites count(distinct) to expand+2-phase agg); declare
  * [[ApproxDistinctCountCheck]] (`approx: true` in a suite file) when
  * ±2% suffices on very hot columns. */
final case class DistinctCountCheck(column: String, lo: Long, hi: Long)
  extends AggCheck {
  val name = s"distinct_count:$column"
  override def aggColumns(prefix: String): Seq[Column] = Seq(
    count(lit(1)).as(s"${prefix}element_count"),
    countDistinct(col(column)).as(s"${prefix}observed"))
  override def evaluate(row: Row, prefix: String): ValidationResult = {
    val total = row.getAs[Long](s"${prefix}element_count")
    val observed = row.getAs[Long](s"${prefix}observed")
    val ok = observed >= lo && observed <= hi
    ValidationResult(name,
      if (ok) ValidationStatus.Passed else ValidationStatus.Failed,
      s"distinct($column) = $observed, expected [$lo, $hi]",
      elementCount = total, unexpectedCount = if (ok) 0L else 1L)
  }
}

/** G14-approx — the `approx: true` variant: HyperLogLog++
  * (`approx_count_distinct`, default rsd 5%) instead of the exact
  * expand+2-phase aggregate. At 100 TB an exact distinct on a hot
  * wide column shuffles every distinct value; the sketch is a fixed-size
  * buffer merged map-side. Fuses like any AggCheck. The estimate is
  * deterministic for a given dataset (hash-based sketch, no RNG) but NOT
  * engine-portable — a DuckDB oracle can only range-assert that the true
  * cardinality sits inside the declared bounds (both engines then agree
  * on the VERDICT whenever the bounds dominate the rsd error, which is
  * how a suite should use it: bounds at least ~3·rsd away from the true
  * value on both sides). */
final case class ApproxDistinctCountCheck(
    column: String, lo: Long, hi: Long, rsd: Double = 0.05)
  extends AggCheck {
  require(rsd > 0.0 && rsd < 1.0, s"rsd ($rsd) must be in (0, 1)")
  val name = s"distinct_count_approx:$column"
  override def aggColumns(prefix: String): Seq[Column] = Seq(
    count(lit(1)).as(s"${prefix}element_count"),
    approx_count_distinct(col(column), rsd).as(s"${prefix}observed"))
  override def evaluate(row: Row, prefix: String): ValidationResult = {
    val total = row.getAs[Long](s"${prefix}element_count")
    val observed = row.getAs[Long](s"${prefix}observed")
    val ok = observed >= lo && observed <= hi
    ValidationResult(name,
      if (ok) ValidationStatus.Passed else ValidationStatus.Failed,
      s"approx_distinct($column) = $observed (rsd=$rsd), expected [$lo, $hi]",
      elementCount = total, unexpectedCount = if (ok) 0L else 1L)
  }
}

/** `expect_column_proportion_of_unique_values_to_be_between` — distinct
  * values over non-null values (GE's definition), the standard key-ness /
  * cardinality-profile expectation. Fuses like any AggCheck: the exact
  * distinct rides Spark's expand+2-phase rewrite in the same job. */
final case class ProportionUniqueCheck(column: String, lo: Double, hi: Double)
  extends AggCheck {
  val name = s"proportion_unique:$column"
  override def aggColumns(prefix: String): Seq[Column] = Seq(
    count(lit(1)).as(s"${prefix}element_count"),
    countDistinct(col(column)).as(s"${prefix}distinct"),
    count(col(column)).as(s"${prefix}nonnull"))
  override def evaluate(row: Row, prefix: String): ValidationResult = {
    val total = row.getAs[Long](s"${prefix}element_count")
    val distinct = row.getAs[Long](s"${prefix}distinct")
    val nonnull = row.getAs[Long](s"${prefix}nonnull")
    val proportion = if (nonnull == 0) Double.NaN else distinct.toDouble / nonnull
    val ok = !proportion.isNaN && proportion >= lo && proportion <= hi
    ValidationResult(name,
      if (ok) ValidationStatus.Passed else ValidationStatus.Failed,
      s"proportion_unique($column) = $distinct/$nonnull, expected [$lo, $hi]",
      elementCount = total, unexpectedCount = if (ok) 0L else 1L)
  }
}

/** G15 — `expect_column_quantile_values_to_be_between`: exact interpolated
  * percentile (Spark `percentile`; the same linear-interpolation
  * definition as ANSI quantile_cont, so it is oracle-comparable —
  * `approx_percentile` is not engine-portable). Exact percentile sorts
  * within the aggregation; for very large columns declare
  * [[ApproxQuantileCheck]] (`approx: true` in a suite file) and drop the
  * oracle to a range assertion. */
final case class QuantileCheck(
    column: String, quantile: Double, lo: Double, hi: Double)
  extends AggCheck {
  val name = s"quantile:$column:$quantile"
  override def aggColumns(prefix: String): Seq[Column] = Seq(
    count(lit(1)).as(s"${prefix}element_count"),
    round(expr(s"percentile(`$column`, $quantile)"), 4)
      .as(s"${prefix}observed"))
  override def evaluate(row: Row, prefix: String): ValidationResult = {
    val total = row.getAs[Long](s"${prefix}element_count")
    val idx = row.fieldIndex(s"${prefix}observed")
    val observed = if (row.isNullAt(idx)) Double.NaN else row.getDouble(idx)
    val ok = !observed.isNaN && observed >= lo && observed <= hi
    ValidationResult(name,
      if (ok) ValidationStatus.Passed else ValidationStatus.Failed,
      s"p$quantile($column) = $observed, expected [$lo, $hi]",
      elementCount = total, unexpectedCount = if (ok) 0L else 1L)
  }
}

/** G15-approx — the `approx: true` variant: Greenwald-Khanna
  * (`approx_percentile`) instead of the exact within-aggregate sort. At
  * 100 TB the exact percentile buffers the whole column per group; the
  * GK sketch is bounded by the accuracy parameter and merges map-side.
  * Deterministic for a given dataset, but not engine-portable — same
  * range-assertion oracle contract as [[ApproxDistinctCountCheck]]:
  * declare bounds comfortably wider than the sketch's rank error
  * (±1/accuracy of the rank) and both engines agree on the verdict. */
final case class ApproxQuantileCheck(
    column: String, quantile: Double, lo: Double, hi: Double,
    accuracy: Int = 10000)
  extends AggCheck {
  require(quantile >= 0.0 && quantile <= 1.0, s"quantile in [0,1]: $quantile")
  require(accuracy > 0, s"accuracy ($accuracy) must be positive")
  val name = s"quantile_approx:$column:$quantile"
  override def aggColumns(prefix: String): Seq[Column] = Seq(
    count(lit(1)).as(s"${prefix}element_count"),
    round(expr(s"approx_percentile(`$column`, $quantile, $accuracy)")
      .cast("double"), 4).as(s"${prefix}observed"))
  override def evaluate(row: Row, prefix: String): ValidationResult = {
    val total = row.getAs[Long](s"${prefix}element_count")
    val idx = row.fieldIndex(s"${prefix}observed")
    val observed = if (row.isNullAt(idx)) Double.NaN else row.getDouble(idx)
    val ok = !observed.isNaN && observed >= lo && observed <= hi
    ValidationResult(name,
      if (ok) ValidationStatus.Passed else ValidationStatus.Failed,
      s"approx_p$quantile($column) = $observed, expected [$lo, $hi]",
      elementCount = total, unexpectedCount = if (ok) 0L else 1L)
  }
}

/** G6/R3 — `expect_table_columns_to_match_set` / `expect_column_to_exist`.
  * Reference: `validate_schema_compliance` required-fields rule
  * (analysis.md:9). Pure metadata — no Spark job. */
final case class SchemaCheck(
    requiredFields: Seq[String], exactMatch: Boolean = false)
  extends Check {
  val name = s"schema:${requiredFields.mkString(",")}"
  def run(df: DataFrame): ValidationResult = {
    val actual = df.schema.fieldNames.toSet
    val missing = requiredFields.filterNot(actual.contains).sorted
    val extra = if (exactMatch) (actual -- requiredFields.toSet).toSeq.sorted else Nil
    val ok = missing.isEmpty && extra.isEmpty
    ValidationResult(name,
      if (ok) ValidationStatus.Passed else ValidationStatus.Failed,
      if (ok) s"schema has all required fields (${requiredFields.size})"
      else s"missing fields: ${missing.mkString("[", ",", "]")}" +
        (if (extra.nonEmpty) s"; unexpected fields: ${extra.mkString("[", ",", "]")}" else ""),
      elementCount = actual.size.toLong,
      unexpectedCount = (missing.size + extra.size).toLong,
      partialUnexpectedList = missing ++ extra)
  }
}

/** G22 — `expect_column_values_to_be_increasing` / `_decreasing`
  * (GE 0.18 tail vocabulary, VERDICT r15 ask #5). GE checks row order;
  * a distributed engine has no row order, so the check is monotonicity
  * of `column` under an explicit `orderBy` key (numeric or temporal —
  * each normalized to a NATIVE exact representation: integral types
  * stay long, DATE becomes unix_date days, TIMESTAMP/TIMESTAMP_NTZ
  * become unix_micros longs, narrow scale-0 decimals become long;
  * only genuinely fractional types compare as doubles, via the
  * order-isomorphic sortable-bits transform. ADVICE r15: the previous
  * cast("double") funnel was an ILLEGAL Spark cast for DATE and
  * TIMESTAMP_NTZ, and silently collapsed distinct longs above 2^53).
  *
  * Scale shape — NO global window, NO single-partition sort: range
  * partition on the order key (partition ids come out range-ordered),
  * sort WITHIN partitions only, one mapPartitions pass per partition
  * emitting (rows, violations, first, last), then the driver stitches
  * the ≤numPartitions boundary pairs — the per-partition fold is the
  * whole scan, and the cross-partition work is bounded by partition
  * count, not rows. Ties on the order key sort by the value in the
  * check's FAVORABLE direction (lenient-on-ties: an order-key tie is
  * not evidence of disorder), which also makes the count deterministic
  * under non-unique order keys. */
final case class MonotonicCheck(column: String, orderBy: String,
    increasing: Boolean = true, strictly: Boolean = false)
  extends Check {
  private def dirTag =
    (if (increasing) "incr" else "decr") + (if (strictly) "_strict" else "")
  val name = s"monotonic:$dirTag:$column:by:$orderBy"
  def run(df: DataFrame): ValidationResult = {
    import org.apache.spark.sql.types._
    // Both columns must BE orderable-as-number types: a silent lossy
    // cast of a string column would null every row, drop the whole
    // basis, and return a vacuous PASS on arbitrarily disordered data
    // — the same silent-empty-result class Dedup.requireSigLong guards
    // against (r15 review finding #1). Each admitted type normalizes
    // to a native EXACT column (ADVICE r15: cast("double") is illegal
    // for DATE/TIMESTAMP_NTZ on Spark 4 and collapses distinct longs
    // above 2^53): integral/temporal/narrow-decimal → long (NTZ by
    // zone-free wall-clock arithmetic — session-zone reinterpretation
    // is non-monotonic across DST), float/double/fractional-decimal →
    // double (the one genuinely fractional lane); scale-0 decimals
    // wider than long are REJECTED loudly rather than lossily
    // collapsed. Returns (normalized column, is-long-lane).
    def normalize(c: String): (Column, Boolean) = {
      val dt = df.schema(df.schema.fieldIndex(c)).dataType
      dt match {
        case DateType => (unix_date(col(c)).cast("long"), true)
        case TimestampType => (unix_micros(col(c)), true)
        case TimestampNTZType =>
          // NTZ carries no zone, so normalize it ARITHMETICALLY —
          // wall-date days + wall-clock micros, both zone-free.
          // Casting to TimestampType instead would reinterpret the
          // wall time in the SESSION zone, which across a DST
          // transition is non-monotonic (spring-forward gap times
          // resolve past later wall times; ADVICE r16): a genuinely
          // monotonic NTZ column could report fabricated violations.
          val days = unix_date(col(c).cast(DateType)).cast("long")
          val tod = hour(col(c)).cast("long") * lit(3600000000L) +
            minute(col(c)).cast("long") * lit(60000000L) +
            // SECOND extracts DECIMAL(8,6) seconds-with-fraction;
            // ×10⁶ in decimal arithmetic is exact integer micros.
            (date_part(lit("SECOND"), col(c)) * lit(1000000)).cast("long")
          (days * lit(86400000000L) + tod, true)
        case ByteType | ShortType | IntegerType | LongType =>
          (col(c).cast("long"), true)
        case d: DecimalType if d.scale == 0 && d.precision <= 18 =>
          (col(c).cast("long"), true)
        case d: DecimalType if d.scale == 0 =>
          // Wider-than-long INTEGER decimals must not ride the double
          // lane: distinct values above 2^53 would silently collapse —
          // the exact class the long lane exists to prevent (ADVICE
          // r16). Reject loudly; the caller can pre-bucket or declare
          // within DECIMAL(18,0).
          throw new IllegalArgumentException(
            s"monotonic check cannot compare '$c' " +
              s"DECIMAL(${d.precision},0) exactly: integers above 2^53 " +
              "collapse in a double cast — re-declare within " +
              "DECIMAL(18,0) or pre-scale explicitly")
        case FloatType | DoubleType | _: DecimalType =>
          (col(c).cast("double"), false)
        case other => throw new IllegalArgumentException(
          s"monotonic check needs a numeric/temporal column, '$c' is " +
            s"$other — a lossy cast would silently empty the basis")
      }
    }
    val (oCol, _) = normalize(orderBy)
    val (vCol, vLong) = normalize(column)
    val prepared = df
      .select(oCol.as("__o"), vCol.as("__v"))
      .filter(col("__o").isNotNull && col("__v").isNotNull)
    val secondary = if (increasing) col("__v").asc else col("__v").desc
    val sorted = prepared
      .repartitionByRange(col("__o"))
      .sortWithinPartitions(col("__o").asc, secondary)
    // Plain locals so the executor closure serializes values, not the
    // check instance. The fold runs entirely on primitive longs: the
    // long lane reads values natively (exact to the full 64 bits);
    // the double lane maps each value through the order-isomorphic
    // sortable-bits transform, whose long order IS
    // java.lang.Double.compare's total order (NaN greater than
    // everything, matching both Spark's sort order and DuckDB's
    // comparison semantics — IEEE primitive comparisons would
    // silently skip every NaN adjacency, r15 review finding #2).
    val (inc, str, isLong) = (increasing, strictly, vLong)
    val bad: (Long, Long) => Boolean = (prev, cur) => {
      val c = java.lang.Long.compare(cur, prev)
      if (inc) { if (str) c <= 0 else c < 0 }
      else { if (str) c >= 0 else c > 0 }
    }
    val sums = sorted.rdd.mapPartitionsWithIndex { (pid, it) =>
      def sortableBits(d: Double): Long = {
        val b = java.lang.Double.doubleToLongBits(d)
        if (b >= 0L) b else b ^ Long.MaxValue
      }
      var cnt = 0L; var viol = 0L
      var first = 0L; var last = 0L; var any = false
      it.foreach { r =>
        val v = if (isLong) r.getLong(1) else sortableBits(r.getDouble(1))
        if (!any) { first = v; any = true }
        else if (bad(last, v)) viol += 1
        last = v; cnt += 1
      }
      if (!any) Iterator.empty
      else Iterator.single((pid, cnt, viol, first, last))
    }.collect().sortBy(_._1) // bounded: one row per non-empty partition
    val boundary = sums.iterator.sliding(2).withPartial(false).count {
      w => bad(w(0)._5, w(1)._4) // last of partition p vs first of p+1
    }
    val total = sums.map(_._2).sum
    val viol = sums.map(_._3).sum + boundary
    ValidationResult(name,
      if (viol == 0L) ValidationStatus.Passed else ValidationStatus.Failed,
      s"$column ${if (increasing) "increasing" else "decreasing"}" +
        s"${if (strictly) " strictly" else ""} by $orderBy: " +
        s"$viol adjacent violations over $total rows",
      elementCount = total, unexpectedCount = viol,
      unexpectedPercent =
        if (total == 0L) 0.0 else viol.toDouble / total * 100.0)
  }
}

/** G22 — `expect_column_most_common_value_to_be_in_set` (GE 0.18 tail
  * vocabulary). Passes iff EVERY value attaining the maximum count is
  * in `allowed` (GE's observed value is the tied-mode list — one
  * disallowed co-mode fails). One job: partial-agg groupBy(value)
  * census, then a tiny second-level aggregate comparing the best
  * allowed count against the best disallowed count — no mode fetch,
  * no second scan, adversarial tie counts never reach the driver. */
final case class MostCommonValueCheck(column: String, allowed: Seq[String])
  extends Check {
  val name = s"most_common_in_set:$column"
  def run(df: DataFrame): ValidationResult = {
    val counts = df.filter(col(column).isNotNull)
      .groupBy(col(column).cast("string").as("__v"))
      .agg(count(lit(1)).as("__cnt"))
    val row = counts.agg(
      sum("__cnt").as("n_rows"),
      max(when(!col("__v").isin(allowed: _*), col("__cnt"))).as("max_out"),
      max(col("__cnt")).as("max_all"),
      max(struct(col("__cnt"), col("__v"))).as("top")).head()
    val total = if (row.isNullAt(0)) 0L else row.getAs[Long]("n_rows")
    val maxOut = if (row.isNullAt(1)) 0L else row.getAs[Long]("max_out")
    val maxAll = if (row.isNullAt(2)) 0L else row.getAs[Long]("max_all")
    val observed =
      if (row.isNullAt(3)) "<empty>" else row.getStruct(3).getString(1)
    // An empty table has no mode to violate the set — vacuous pass,
    // like InSetCheck over zero rows.
    val ok = total == 0L || maxOut < maxAll
    ValidationResult(name,
      if (ok) ValidationStatus.Passed else ValidationStatus.Failed,
      s"most common $column = $observed (count $maxAll of $total)" +
        (if (ok) " within set" else " — a disallowed value attains the mode"),
      elementCount = total, unexpectedCount = if (ok) 0L else 1L)
  }
}

/** G23 — `expect_column_kl_divergence_to_be_less_than` (GE 0.18 tail
  * vocabulary, VERDICT r15 next #5): KL(observed ‖ declared) of a
  * categorical column against a DECLARED partition object, on the PSI
  * machinery's exact micro-nat integer discipline
  * ([[graft.ext.PsiDrift]]): weights are declared in integer PPM
  * summing to exactly 1,000,000 (so two engines replay the same
  * grid), each observed value contributes ONE rounding —
  * round(1e6·(n/N)·ln(n·10⁶ / (N·ppm))) — and the verdict
  * integer-sums the contributions, so aggregation order can never
  * perturb it (or the registered lane's hash). Contributions can be
  * negative (p < q), but Spark's HALF_UP and DuckDB's
  * half-away-from-zero agree on negatives, and the boundary slack is
  * audited in MicroNatSlackSpec. An observed value OUTSIDE the
  * partition makes the true divergence infinite — the check FAILS
  * against any finite threshold, with the out-of-partition rows as
  * unexpectedCount (GE's q=0-with-p>0 convention).
  *
  * Scale shape: ONE corpus shuffle (the partial-agg value census —
  * |distinct values| rows for the categorical columns this screen
  * exists for); everything after is arithmetic on that tiny census
  * via broadcast joins (the PsiDrift pattern). NULLs fall out of the
  * basis — a missing value is NotNullCheck's business, not a shape
  * question. */
final case class KlDivergenceCheck(column: String,
    partitionValues: Seq[String], weightsPpm: Seq[Long],
    threshold: Double) extends Check {
  require(partitionValues.nonEmpty &&
      partitionValues.size == weightsPpm.size,
    "partition needs equal-length non-empty values/weights")
  require(partitionValues.distinct.size == partitionValues.size,
    s"duplicate partition values in $partitionValues")
  require(weightsPpm.forall(_ > 0L),
    "every declared weight must be positive — a zero-weight element " +
      "is an out-of-partition declaration; drop it instead")
  require(weightsPpm.sum == 1000000L,
    s"weights must sum to exactly 1,000,000 ppm, got ${weightsPpm.sum}")
  require(threshold > 0, s"threshold ($threshold) must be positive")
  // Threshold in the name: one column legitimately carries several KL
  // screens against different declarations.
  val name = s"kl_divergence:$column:lt:$threshold"

  /** The per-value micro-nat census `(value, n, ppm, contrib_micro)` —
    * the registered lane ships these rows alongside the verdict so the
    * oracle pins every contribution, not just their sum. `ppm` (and
    * `contrib_micro`) are NULL for observed values outside the
    * declared partition. The value census is pinned once
    * ([[graft.Pin]]): it feeds BOTH the contribution join and the total
    * — unpinned, each would re-scan the corpus; the census is |distinct
    * values| rows at ANY corpus size, so the pin is free — the PsiDrift
    * discipline. */
  def census(df: DataFrame): DataFrame = {
    val session = df.sparkSession
    import session.implicits._
    val part = partitionValues.zip(weightsPpm).toDF("__v", "ppm")
    val counts = graft.Pin(df.filter(col(column).isNotNull)
      .groupBy(col(column).cast("string").as("__v"))
      .agg(count(lit(1)).as("n")))
    val totals = counts.agg(sum(col("n")).as("__N"))
    counts.join(broadcast(part), Seq("__v"), "left")
      .crossJoin(broadcast(totals))
      .select(col("__v").as("value"), col("n"), col("ppm"),
        when(col("ppm").isNotNull,
          round((col("n").cast("double") / col("__N"))
            * log(col("n").cast("double") * lit(1000000.0)
              / (col("__N").cast("double") * col("ppm").cast("double")))
            * lit(1000000.0), 0).cast("long")).as("contrib_micro"))
  }

  def run(df: DataFrame): ValidationResult = runFromCensus(census(df))

  /** Derive the verdict from an ALREADY-BUILT [[census]] frame — the
    * one-scan path for callers that also ship the census rows (the
    * registered g23 lane): compute the census once, feed both the
    * verdict aggregate and the output rows from it, instead of
    * scanning (and checkpointing) the corpus twice per check
    * (VERDICT r16 #3). `run` is this over a fresh census. */
  def runFromCensus(censusDf: DataFrame): ValidationResult = {
    val row = censusDf.agg(
      sum(col("n")).as("total"),
      sum(when(col("ppm").isNull, col("n"))).as("n_out"),
      sum(col("contrib_micro")).as("kl_micro")).head()
    val total = if (row.isNullAt(0)) 0L else row.getLong(0)
    val nOut = if (row.isNullAt(1)) 0L else row.getLong(1)
    val klMicro = if (row.isNullAt(2)) 0L else row.getLong(2)
    val kl = klMicro / 1e6
    // An empty basis has no distribution to diverge — vacuous pass,
    // the MostCommonValueCheck convention.
    val ok = total == 0L || (nOut == 0L && kl < threshold)
    ValidationResult(name,
      if (ok) ValidationStatus.Passed else ValidationStatus.Failed,
      if (nOut > 0L)
        s"$nOut rows of $column fall outside the declared partition — " +
          "KL is infinite"
      else f"KL($column observed vs declared) = $kl%.6f vs threshold " +
        f"$threshold%.6f over $total rows",
      elementCount = total, unexpectedCount = nOut)
  }
}

/** G24 — `expect_column_chisquare_test_p_value_to_be_greater_than`
  * (GE 0.18's other distribution check, VERDICT r16 next #4): Pearson's
  * χ² goodness-of-fit of a categorical column against a DECLARED
  * partition object, on the G23/PSI exact-integer discipline. Weights
  * are integer PPM summing to exactly 1,000,000; per value the
  * difference D = n·10⁶ − N·ppm is computed EXACTLY in long
  * arithmetic, and the value contributes ONE rounding —
  * round(D²/(N·ppm)) in micro-χ² units (10⁶·(n − N·p)²/(N·p) —
  * algebraically D²/(N·ppm), always ≥ 0 so the HALF_UP vs
  * half-away-from-zero distinction never engages). The verdict
  * integer-sums the contributions and gates on a DECLARED critical
  * value instead of a run-time p-value lookup — χ² < critical(df, q)
  * iff p-value > α = 1 − q; the df→critical table ships as plan
  * constants ([[ChiSquareCheck.criticalValue]]). Unlike KL, a
  * DECLARED-but-unobserved value contributes (its expected count:
  * D = −N·ppm → contrib = N·ppm exactly), so the census FULL-joins
  * the partition grid. An observed value OUTSIDE the partition makes
  * the statistic infinite — FAILS any critical value, out-of-partition
  * rows as unexpectedCount (the G23 convention).
  *
  * Scale shape: identical to [[KlDivergenceCheck]] — ONE corpus
  * shuffle (the partial-agg value census), then arithmetic on the
  * pinned |distinct|-row census. */
final case class ChiSquareCheck(column: String,
    partitionValues: Seq[String], weightsPpm: Seq[Long],
    critical: Double) extends Check {
  require(partitionValues.nonEmpty &&
      partitionValues.size == weightsPpm.size,
    "partition needs equal-length non-empty values/weights")
  require(partitionValues.distinct.size == partitionValues.size,
    s"duplicate partition values in $partitionValues")
  require(weightsPpm.forall(_ > 0L),
    "every declared weight must be positive — a zero-weight element " +
      "is an out-of-partition declaration; drop it instead")
  require(weightsPpm.sum == 1000000L,
    s"weights must sum to exactly 1,000,000 ppm, got ${weightsPpm.sum}")
  require(critical > 0, s"critical value ($critical) must be positive")
  val name = s"chi_square:$column:lt:$critical"

  /** The per-value micro-χ² census `(value, n, ppm, contrib_micro)` —
    * FULL coverage: observed values LEFT-extended with ppm (NULL =
    * out-of-partition, contrib NULL), declared-but-unobserved values
    * appended with n = 0 (their expected-count term is real χ² mass).
    * The counts census is pinned ([[graft.Pin]]) and is |distinct
    * values| rows at any corpus size (the [[KlDivergenceCheck.census]]
    * discipline). */
  def census(df: DataFrame): DataFrame = {
    val session = df.sparkSession
    import session.implicits._
    val part = partitionValues.zip(weightsPpm).toDF("__v", "ppm")
    val counts = graft.Pin(df.filter(col(column).isNotNull)
      .groupBy(col(column).cast("string").as("__v"))
      .agg(count(lit(1)).as("n")))
    val totals = counts.agg(sum(col("n")).as("__N"))
    // Census-side full coverage without a full-outer shuffle: observed
    // LEFT-joins the broadcast grid; unobserved declared values are the
    // grid anti-joined against the (tiny, pinned) counts.
    val observed = counts.join(broadcast(part), Seq("__v"), "left")
    val unobserved = part
      .join(counts.select(col("__v")), Seq("__v"), "left_anti")
      .select(col("__v"), lit(0L).as("n"), col("ppm"))
    val d = col("n") * lit(1000000L) - col("__N") * col("ppm") // exact long
    observed.select(col("__v"), col("n"), col("ppm"))
      .unionByName(unobserved)
      .crossJoin(broadcast(totals))
      .select(col("__v").as("value"), col("n"), col("ppm"),
        when(col("ppm").isNotNull,
          round(d.cast("double") * d.cast("double")
            / (col("__N") * col("ppm")).cast("double"), 0).cast("long"))
          .as("contrib_micro"))
  }

  def run(df: DataFrame): ValidationResult = runFromCensus(census(df))

  /** Verdict from an already-built [[census]] frame — the one-scan path
    * for the registered lane (the [[KlDivergenceCheck.runFromCensus]]
    * contract). */
  def runFromCensus(censusDf: DataFrame): ValidationResult = {
    val row = censusDf.agg(
      sum(col("n")).as("total"),
      sum(when(col("ppm").isNull, col("n"))).as("n_out"),
      sum(col("contrib_micro")).as("chi2_micro")).head()
    val total = if (row.isNullAt(0)) 0L else row.getLong(0)
    val nOut = if (row.isNullAt(1)) 0L else row.getLong(1)
    val chiMicro = if (row.isNullAt(2)) 0L else row.getLong(2)
    val chi2 = chiMicro / 1e6
    val ok = total == 0L || (nOut == 0L && chi2 < critical)
    ValidationResult(name,
      if (ok) ValidationStatus.Passed else ValidationStatus.Failed,
      if (nOut > 0L)
        s"$nOut rows of $column fall outside the declared partition — " +
          "chi-square is infinite"
      else f"chi2($column observed vs declared) = $chi2%.6f vs critical " +
        f"$critical%.6f over $total rows",
      elementCount = total, unexpectedCount = nOut)
  }
}

object ChiSquareCheck {
  /** Upper-tail χ² critical values — the df→critical table as PLAN
    * CONSTANTS (no p-value machinery at run time): quantile q of the
    * χ²(df) distribution, so a GE declaration "p-value > α" gates as
    * "statistic < criticalValue(df, 1 − α)". Standard published 3-dp
    * table, df 1–10 × q ∈ {0.90, 0.95, 0.99}. */
  val criticalTable: Map[(Int, Double), Double] = Map(
    (1, 0.90) -> 2.706, (1, 0.95) -> 3.841, (1, 0.99) -> 6.635,
    (2, 0.90) -> 4.605, (2, 0.95) -> 5.991, (2, 0.99) -> 9.210,
    (3, 0.90) -> 6.251, (3, 0.95) -> 7.815, (3, 0.99) -> 11.345,
    (4, 0.90) -> 7.779, (4, 0.95) -> 9.488, (4, 0.99) -> 13.277,
    (5, 0.90) -> 9.236, (5, 0.95) -> 11.070, (5, 0.99) -> 15.086,
    (6, 0.90) -> 10.645, (6, 0.95) -> 12.592, (6, 0.99) -> 16.812,
    (7, 0.90) -> 12.017, (7, 0.95) -> 14.067, (7, 0.99) -> 18.475,
    (8, 0.90) -> 13.362, (8, 0.95) -> 15.507, (8, 0.99) -> 20.090,
    (9, 0.90) -> 14.684, (9, 0.95) -> 16.919, (9, 0.99) -> 21.666,
    (10, 0.90) -> 15.987, (10, 0.95) -> 18.307, (10, 0.99) -> 23.209)

  /** Critical value for df = k−1 categories at significance α (the GE
    * p_value threshold): loud on an untabulated (df, α) — the caller
    * declares an explicit critical_value instead of getting a silent
    * approximation. */
  def criticalValue(df: Int, alpha: Double): Double = {
    val q = 1.0 - alpha
    criticalTable.getOrElse((df, math.rint(q * 100) / 100),
      throw new IllegalArgumentException(
        s"no tabulated chi-square critical value for df=$df, " +
          s"alpha=$alpha — declare an explicit critical_value " +
          "(table covers df 1-10, alpha 0.10/0.05/0.01)"))
  }
}

object CheckSuite {
  /** Fuse all agg-expressible checks over one table into a SINGLE Spark
    * job (one scan, one partial+final aggregate). The scale property the
    * reference can't have (it issues one warehouse query per test,
    * pager-workflow.py:126-233): here a 100 TB table funds an entire
    * suite with one read. */
  def runBatched(df: DataFrame, checks: Seq[AggCheck]): Seq[graft.model.ValidationResult] = {
    if (checks.isEmpty) return Nil
    // Position-qualified prefixes: two same-named checks (e.g. a hard and
    // a mostly-tolerant BetweenCheck on one column — both named
    // 'between:<col>') would otherwise emit colliding aliases, and
    // Row.getAs-by-name silently resolves BOTH to the first check's
    // counters.
    def prefix(i: Int, c: AggCheck) = s"c${i}__${c.safeName}__"
    val cols = checks.zipWithIndex.flatMap { case (c, i) => c.aggColumns(prefix(i, c)) }
    val row = df.agg(cols.head, cols.tail: _*).head()
    checks.zipWithIndex.map { case (c, i) =>
      c.refine(df, c.evaluate(row, prefix(i, c)))
    }
  }
}
