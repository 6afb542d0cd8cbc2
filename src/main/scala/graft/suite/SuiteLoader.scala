package graft.suite

import org.apache.spark.sql.SparkSession

import graft.{Decl, Tables}
import graft.checks._

/** One table's expectations as declared in a suite file (unbound — no
  * DataFrame yet; [[SuiteLoader.bind]] attaches the testdata tables). */
final case class TableSpec(table: String, checks: Seq[Check])

/** A parsed expectation suite. */
final case class SuiteSpec(suiteName: String, tables: Seq[TableSpec])

/** Declarative expectation-suite loader — the authoring surface the
  * reference platform intends but never populated: its GE project config
  * declares an ExpectationsStore with an empty `expectations/` dir
  * (/root/reference/great_expectations/great_expectations.yml:6-10,
  * expectations/.gitkeep) and pins great-expectations 0.18.8
  * (airflow/requirements.txt:3). A DQ-platform user adds an expectation by
  * editing a JSON/YAML file, not by recompiling Scala; this loader
  * compiles such files to the engine's [[graft.checks.Check]] vocabulary
  * (G1–G15), which [[ValidationSuite]] then fuses to one scan per table.
  *
  * File shape (JSON or YAML — GE-0.18-style expectation names/kwargs):
  * {{{
  * { "suite_name": "core",
  *   "tables": [
  *     { "table": "orders",
  *       "expectations": [
  *         { "type": "expect_column_values_to_not_be_null",
  *           "kwargs": { "column": "o_custkey" } } ] } ] }
  * }}}
  *
  * GE-parity kwargs: `mostly` (tolerance — at least that fraction of rows
  * must conform; compiles to [[graft.checks.MostlyCheck]] around the
  * counting check) and the multi-quantile `quantile_ranges` form of
  * `expect_column_quantile_values_to_be_between` (unrolled to one
  * [[graft.checks.QuantileCheck]] per quantile; the single-`quantile`
  * shorthand also works). Cross-run drift is
  * `expect_row_count_within_pct_of_last_run` with a required
  * `max_pct_change` (GE's URN-based evaluation parameters reduce to this
  * one store-backed lookup here) — suites declaring it must bind through
  * [[bindWithHistory]].
  *
  * Files are read through [[graft.Decl]]: an unknown key at any level
  * (a misspelt kwarg, a table's misspelt `expectations`) and a mistyped
  * value (`"min_value": "abc"`, an integer bound given as 2.5,
  * `approx: "yes"`) are rejected with the key's path, never defaulted.
  */
object SuiteLoader {

  /** Parse suite text. `yaml = true` for YAML; default JSON. */
  def parse(text: String, yaml: Boolean = false): SuiteSpec =
    Decl.parse(text, yaml)(read)

  /** Load a suite from a filesystem path, or (fallback) the classpath —
    * checked-in suites ship as resources so Verify/Bench need no cwd
    * assumptions. Extension picks the format (.yaml/.yml vs .json). */
  def load(path: String): SuiteSpec = Decl.load(path)(read)

  private def read(root: Decl.Node): SuiteSpec = {
    val tables = root.objs("tables").map { t =>
      TableSpec(t.str("table"),
        t.objs("expectations").flatMap(e => toChecks(e.str("type"), e.obj("kwargs"))))
    }
    SuiteSpec(root.strOpt("suite_name").getOrElse("unnamed"), tables)
  }

  /** Bind a parsed suite to the testdata tables under `sfDir`. Rejects
    * suites containing cross-run expectations — those need a result-store
    * history, so use [[bindWithHistory]]. */
  def bind(spark: SparkSession, sfDir: String, spec: SuiteSpec): Seq[TableChecks] = {
    val unresolved = spec.tables
      .flatMap(t => t.checks.collect { case u: UnresolvedDriftCheck => s"${t.table}.${u.name}" })
    require(unresolved.isEmpty,
      s"suite has cross-run expectations ${unresolved.mkString(", ")} — " +
        "bind with bindWithHistory(storeDir) so baselines can be resolved")
    spec.tables.map(t =>
      TableChecks(t.table, Tables.load(spark, sfDir, t.table), t.checks))
  }

  /** Bind with a [[graft.sink.ResultStore]] history: each declared
    * cross-run expectation resolves its baseline from the store's latest
    * recorded run of the table's row-count check. On the FIRST run (no
    * history for the table yet) the drift check is omitted — the run
    * bootstraps the baseline the next one validates against.
    *
    * A drift-declaring table that lacks a row-count expectation gets a
    * `RowCountCheck(0)` injected — min 0, so the UNDECLARED check can
    * never itself fail the suite (an empty bootstrap table must not trip
    * a gate the user never wrote); its only job is recording the baseline
    * under `<table>.row_count_between`, without which the drift check
    * would be silently omitted on EVERY run — a regression detector that
    * never fires (ADVICE r3). A recorded baseline of 0 rows resolves like
    * a missing one (drift against an empty run is undefined — the next
    * non-empty run re-bootstraps). */
  def bindWithHistory(spark: SparkSession, sfDir: String, spec: SuiteSpec,
                      storeDir: String): Seq[TableChecks] =
    spec.tables.map { t =>
      val declared =
        if (t.checks.exists(_.isInstanceOf[UnresolvedDriftCheck]) &&
            !t.checks.exists(_.isInstanceOf[RowCountCheck]))
          t.checks :+ RowCountCheck(minRows = 0L)
        else t.checks
      val checks = declared.flatMap {
        case UnresolvedDriftCheck(pct) =>
          EvaluationParameters.lastRunElementCount(
              spark, storeDir, s"${t.table}.row_count_between")
            .filter { case (_, n) => n > 0 }
            .map { case (runId, n) => RowCountDriftCheck(runId, n, pct) }
            .toSeq
        case c => Seq(c)
      }
      TableChecks(t.table, Tables.load(spark, sfDir, t.table), checks)
    }

  // ------------------------------------------------------------ expectation map

  /** GE 0.18 expectation name → engine checks. Unknown names throw (a
    * silently-dropped expectation is a check that never runs). One
    * expectation usually yields one check; the multi-quantile
    * `quantile_ranges` form unrolls to several. A `row_condition` kwarg
    * (Spark SQL predicate; `condition_parser`, when present, must be
    * "spark") wraps each counting check in [[ConditionedCheck]]; a
    * `mostly` kwarg then wraps in [[MostlyCheck]] — so a conditioned
    * tolerance measures over condition rows, as GE does. Either kwarg on
    * an expectation type that doesn't support it throws (a tolerance or
    * condition that silently does nothing is worse than an error). */
  private[suite] def toChecks(expectationType: String, kw: Decl.Node): Seq[Check] = {
    val ranges =
      if (expectationType != "expect_column_quantile_values_to_be_between") None
      else kw.objOpt("quantile_ranges")
    val base: Seq[Check] = ranges match {
      case Some(qr) => quantileRanges(kw, qr)
      case None => Seq(toCheck(expectationType, kw))
    }
    val conditioned = kw.strOpt("row_condition") match {
      case None => base
      case Some(cond) =>
        kw.strOpt("condition_parser").foreach { p =>
          require(p == "spark",
            s"unsupported condition_parser '$p' — row_condition here is a " +
              "Spark SQL predicate (declare 'spark' or omit)")
        }
        base.map {
          // GE's not-null keeps nulls in the basis (they ARE the
          // violations); the lifted ValueCheck variant preserves that
          // under the condition.
          case n: NotNullCheck => ConditionedCheck(NotNullWhereCheck(n.column), cond)
          case v: ValueCheck => ConditionedCheck(v, cond)
          case other => throw new IllegalArgumentException(
            s"row_condition is not supported for $expectationType " +
              s"(check ${other.name}) — it applies to column map expectations only")
        }
    }
    kw.doubleOpt("mostly") match {
      case None => conditioned
      case Some(mostly) => conditioned.map {
        case a: AggCheck => MostlyCheck(a, mostly)
        case other => throw new IllegalArgumentException(
          s"'mostly' is not supported for $expectationType (check ${other.name})")
      }
    }
  }

  /** GE's one-expectation-many-quantiles form:
    * `quantile_ranges: { quantiles: [..], value_ranges: [[lo,hi],..] }`
    * unrolled to per-quantile checks (null bound → unbounded, as GE). */
  private def quantileRanges(kw: Decl.Node, qr: Decl.Node): Seq[Check] = {
    val column = kw.str("column")
    val qs = qr.doubles("quantiles")
    val ranges = qr.ranges("value_ranges").map { case (lo, hi) =>
      (lo.getOrElse(Double.NegativeInfinity), hi.getOrElse(Double.PositiveInfinity))
    }
    require(qs.size == ranges.size,
      s"quantile_ranges needs equal-length quantiles/value_ranges, " +
        s"got ${qs.size} quantiles and ${ranges.size} ranges")
    val approx = kw.boolOpt("approx").getOrElse(false)
    qs.zip(ranges).map { case (q, (lo, hi)) =>
      if (approx) ApproxQuantileCheck(column, q, lo, hi)
      else QuantileCheck(column, q, lo, hi)
    }
  }

  private def toCheck(expectationType: String, kw: Decl.Node): Check =
    expectationType match {
      case "expect_table_row_count_to_be_between" =>
        RowCountCheck(kw.longOpt("min_value").getOrElse(1L),
          kw.longOpt("max_value").getOrElse(Long.MaxValue))
      case "expect_column_values_to_not_be_null" =>
        NotNullCheck(kw.str("column"))
      case "expect_column_values_to_be_in_set" =>
        InSetCheck(kw.str("column"), kw.strings("value_set"))
      case "expect_column_values_to_not_be_in_set" =>
        NotInSetCheck(kw.str("column"), kw.strings("value_set"))
      case "expect_column_values_to_be_between" =>
        BetweenCheck(kw.str("column"),
          kw.doubleOpt("min_value"), kw.doubleOpt("max_value"))
      case "expect_column_values_to_match_regex" =>
        RegexCheck(kw.str("column"), kw.str("regex"))
      case "expect_column_values_to_be_of_type" =>
        TypeCastCheck(kw.str("column"), kw.str("type_"))
      case "expect_column_values_to_be_null" =>
        NullCheck(kw.str("column"))
      case "expect_column_pair_values_a_to_be_greater_than_b" =>
        PairGreaterCheck(kw.str("column_A"), kw.str("column_B"),
          kw.boolOpt("or_equal").getOrElse(false),
          kw.strOpt("ignore_row_if").getOrElse("both_values_are_missing"))
      case "expect_column_pair_values_to_be_equal" =>
        PairEqualCheck(kw.str("column_A"), kw.str("column_B"),
          kw.strOpt("ignore_row_if").getOrElse("both_values_are_missing"))
      case "expect_column_proportion_of_unique_values_to_be_between" =>
        ProportionUniqueCheck(kw.str("column"),
          kw.doubleOpt("min_value").getOrElse(0.0),
          kw.doubleOpt("max_value").getOrElse(1.0))
      case "expect_column_median_to_be_between" =>
        // GE's median == interpolated p50 — the exact quantile check.
        QuantileCheck(kw.str("column"), 0.5,
          kw.doubleOpt("min_value").getOrElse(Double.NegativeInfinity),
          kw.doubleOpt("max_value").getOrElse(Double.PositiveInfinity))
      case "expect_column_mean_to_be_between" =>
        aggBounds(kw, "mean")
      case "expect_column_min_to_be_between" =>
        aggBounds(kw, "min")
      case "expect_column_max_to_be_between" =>
        aggBounds(kw, "max")
      case "expect_column_sum_to_be_between" =>
        aggBounds(kw, "sum")
      case "expect_column_stdev_to_be_between" =>
        aggBounds(kw, "stddev")
      case "expect_column_values_to_be_increasing" |
           "expect_column_values_to_be_decreasing" =>
        // GE's implicit row order does not exist in a distributed
        // engine — the suite must DECLARE the order key. Required like
        // the quantile kwarg: silently defaulting would validate a
        // meaningless ordering.
        val orderBy = kw.strOpt("order_by").getOrElse(throw new IllegalArgumentException(
          "missing 'order_by' — a distributed table has no row order; " +
            "declare the key the sequence is read in"))
        MonotonicCheck(kw.str("column"), orderBy,
          increasing = expectationType.endsWith("increasing"),
          strictly = kw.boolOpt("strictly").getOrElse(false))
      case "expect_column_most_common_value_to_be_in_set" =>
        MostCommonValueCheck(kw.str("column"), kw.strings("value_set"))
      case "expect_column_kl_divergence_to_be_less_than" =>
        // GE's categorical partition_object: {values, weights}. Weights
        // land as integer PPM (the check requires an exact 1,000,000
        // sum — a declaration two engines can replay bit-for-bit).
        // Rounding dust is apportioned by LARGEST REMAINDER (ADVICE
        // r16): naive per-weight math.round rejected valid GE
        // partitions like three equal thirds (3 × 333,333 = 999,999
        // ppm) even though the doubles sum to 1.0. Floor each exact
        // ppm, then give the residual (< size when the weights
        // genuinely sum to ~1.0) to the largest fractional remainders,
        // position-tie-broken for determinism. A weight vector that
        // does NOT sum to ~1.0 leaves a residual the apportionment
        // refuses to absorb, and the check's own exact-sum guard still
        // fails loudly.
        val po = kw.obj("partition_object")
        KlDivergenceCheck(kw.str("column"), po.strings("values"),
          weightsToPpm(po.doubles("weights")), kw.double("threshold"))
      case "expect_column_chisquare_test_p_value_to_be_greater_than" =>
        // GE's other distribution check (G24). Same partition_object →
        // PPM discipline as KL above; the p-value gate resolves to a
        // DECLARED critical value — either an explicit `critical_value`
        // kwarg, or the plan-constant table at df = |values| − 1 and
        // the declared significance `p_value` (GE's default 0.05).
        val po = kw.obj("partition_object")
        val values = po.strings("values")
        val ppm = weightsToPpm(po.doubles("weights"))
        val pValue = kw.doubleOpt("p_value").getOrElse(0.05)
        val critical = kw.doubleOpt("critical_value")
          .getOrElse(ChiSquareCheck.criticalValue(values.size - 1, pValue))
        ChiSquareCheck(kw.str("column"), values, ppm, critical)
      case "expect_column_values_to_be_unique" =>
        UniqueCheck(Seq(kw.str("column")))
      case "expect_compound_columns_to_be_unique" =>
        UniqueCheck(kw.strings("column_list"))
      case "expect_column_value_lengths_to_be_between" =>
        // Clamp instead of narrowing: .toInt of an out-of-Int-range bound
        // silently wraps negative and fails every value.
        def asLen(v: Long): Int =
          math.min(math.max(v, 0L), Int.MaxValue.toLong).toInt
        ValueLengthCheck(kw.str("column"),
          asLen(kw.longOpt("min_value").getOrElse(0L)),
          asLen(kw.longOpt("max_value").getOrElse(Int.MaxValue.toLong)))
      case "expect_column_unique_value_count_to_be_between" =>
        // `approx: true` → the HLL sketch variant for very hot columns.
        // ORACLE NOTE: the estimate is not engine-portable, so a suite
        // declaring it must size bounds so the verdict, not the value, is
        // what both engines agree on (see ApproxDistinctCountCheck).
        val (lo14, hi14) = (kw.longOpt("min_value").getOrElse(0L),
          kw.longOpt("max_value").getOrElse(Long.MaxValue))
        if (kw.boolOpt("approx").getOrElse(false))
          ApproxDistinctCountCheck(kw.str("column"), lo14, hi14)
        else DistinctCountCheck(kw.str("column"), lo14, hi14)
      case "expect_column_quantile_values_to_be_between" =>
        // A defaulted quantile (missing/typoed kwarg → 0.0) would build a
        // p0 check that validates nothing — required, like other kwargs.
        val q = kw.double("quantile")
        val (lo15, hi15) = (kw.doubleOpt("min_value").getOrElse(Double.NegativeInfinity),
          kw.doubleOpt("max_value").getOrElse(Double.PositiveInfinity))
        if (kw.boolOpt("approx").getOrElse(false))
          ApproxQuantileCheck(kw.str("column"), q, lo15, hi15)
        else QuantileCheck(kw.str("column"), q, lo15, hi15)
      case "expect_table_columns_to_match_set" =>
        SchemaCheck(kw.strings("column_set"),
          kw.boolOpt("exact_match").getOrElse(false))
      case "expect_row_count_within_pct_of_last_run" =>
        // Required like the quantile kwarg: a typo ('max_pct_chnage')
        // silently defaulting to 10% changes the declared tolerance.
        UnresolvedDriftCheck(kw.double("max_pct_change"))
      case other =>
        throw new IllegalArgumentException(s"unknown expectation type: $other")
    }

  private def aggBounds(kw: Decl.Node, stat: String): AggBoundsCheck =
    AggBoundsCheck(kw.str("column"), stat,
      kw.doubleOpt("min_value").getOrElse(Double.NegativeInfinity),
      kw.doubleOpt("max_value").getOrElse(Double.PositiveInfinity))

  /** GE partition_object weights → integer PPM by LARGEST-REMAINDER
    * apportionment (ADVICE r16): floor each weight's exact ppm, then
    * hand the residual (< size when the weights genuinely sum to ~1.0)
    * to the largest fractional remainders, position-tie-broken. A
    * vector that does NOT sum to ~1.0 leaves a residual this refuses
    * to absorb — the checks' own exact-1,000,000 guard stays loud. */
  private def weightsToPpm(raw: Seq[Double]): Seq[Long] = {
    val floors = raw.map(w => math.floor(w * 1e6).toLong)
    val residual = 1000000L - floors.sum
    if (residual <= 0L || residual > raw.size) floors
    else {
      val bumped = raw.indices
        .sortBy(i => (-(raw(i) * 1e6 - floors(i)), i))
        .take(residual.toInt).toSet
      floors.zipWithIndex.map { case (f, i) => if (bumped(i)) f + 1L else f }
    }
  }
}
