package graft

import graft.checks._
import graft.suite.SuiteLoader

/** Declarative expectation-suite loader: parse (JSON + YAML), the
  * GE-name → check mapping, error paths, and the checked-in suite run
  * end-to-end on the testdata. */
class SuiteLoaderSpec extends SparkSpec {

  private val json =
    """{
      |  "suite_name": "t",
      |  "tables": [
      |    { "table": "orders",
      |      "expectations": [
      |        { "type": "expect_table_row_count_to_be_between",
      |          "kwargs": { "min_value": 10, "max_value": 100 } },
      |        { "type": "expect_column_values_to_be_in_set",
      |          "kwargs": { "column": "s", "value_set": ["A", "B"] } },
      |        { "type": "expect_column_values_to_be_between",
      |          "kwargs": { "column": "v", "min_value": 0.5 } },
      |        { "type": "expect_column_pair_values_a_to_be_greater_than_b",
      |          "kwargs": { "column_A": "hi", "column_B": "lo", "or_equal": true } },
      |        { "type": "expect_compound_columns_to_be_unique",
      |          "kwargs": { "column_list": ["k1", "k2"] } },
      |        { "type": "expect_column_quantile_values_to_be_between",
      |          "kwargs": { "column": "v", "quantile": 0.95, "max_value": 9.5 } }
      |      ] }
      |  ]
      |}""".stripMargin

  test("JSON parse maps GE expectation names to engine checks with kwargs") {
    val spec = SuiteLoader.parse(json)
    assert(spec.suiteName == "t")
    val checks = spec.tables.head.checks
    assert(checks(0) == RowCountCheck(10L, 100L))
    assert(checks(1) == InSetCheck("s", Seq("A", "B")))
    assert(checks(2) == BetweenCheck("v", min = Some(0.5), max = None))
    assert(checks(3) == PairGreaterCheck("hi", "lo", orEqual = true))
    assert(checks(4) == UniqueCheck(Seq("k1", "k2")))
    assert(checks(5) ==
      QuantileCheck("v", 0.95, Double.NegativeInfinity, 9.5))
  }

  test("YAML parses to the same checks as the equivalent JSON") {
    val yaml =
      """suite_name: t
        |tables:
        |  - table: orders
        |    expectations:
        |      - type: expect_column_values_to_not_be_null
        |        kwargs: { column: o_custkey }
        |      - type: expect_column_values_to_match_regex
        |        kwargs: { column: p, regex: "^[1-5]$" }
        |""".stripMargin
    val spec = SuiteLoader.parse(yaml, yaml = true)
    assert(spec.tables.head.checks ==
      Seq(NotNullCheck("o_custkey"), RegexCheck("p", "^[1-5]$")))
  }

  test("unknown expectation type and malformed kwargs throw (never drop silently)") {
    val bad =
      """{"tables":[{"table":"t","expectations":[
        |  {"type":"expect_total_nonsense","kwargs":{}}]}]}""".stripMargin
    val e = intercept[IllegalArgumentException](SuiteLoader.parse(bad))
    assert(e.getMessage.contains("expect_total_nonsense"))
    val noColumn =
      """{"tables":[{"table":"t","expectations":[
        |  {"type":"expect_column_values_to_not_be_null","kwargs":{}}]}]}""".stripMargin
    intercept[IllegalArgumentException](SuiteLoader.parse(noColumn))
    // Mistyped values and misspelt keys are rejected with the key's
    // path, never coerced or defaulted.
    def table(expectations: String) =
      s"""{"tables":[{"table":"t","expectations":[$expectations]}]}"""
    Seq(
      table("""{"type":"expect_column_values_to_be_between",
              |  "kwargs":{"column":"v","min_value":"abc"}}""".stripMargin) ->
        "kwargs.min_value must be a number",
      table("""{"type":"expect_table_row_count_to_be_between",
              |  "kwargs":{"min_value":2.5}}""".stripMargin) ->
        "kwargs.min_value must be an integer",
      table("""{"type":"expect_column_unique_value_count_to_be_between",
              |  "kwargs":{"column":"c","max_value":10,"approx":"yes"}}""".stripMargin) ->
        "kwargs.approx must be a boolean",
      table("""{"type":"expect_column_values_to_be_between",
              |  "kwargs":{"column":"v","min_vale":0.0}}""".stripMargin) ->
        "kwargs.min_vale",
      """{"tables":[{"table":"t","expectation":[
        |  {"type":"expect_column_values_to_not_be_null",
        |   "kwargs":{"column":"c"}}]}]}""".stripMargin ->
        "present here: table, expectation"
    ).foreach { case (doc, offending) =>
      val e = intercept[IllegalArgumentException](SuiteLoader.parse(doc))
      assert(e.getMessage.contains(offending), e.getMessage)
    }
  }

  test("drift expectations resolve against store history at bind time") {
    import graft.sink.ResultStore
    import graft.suite.{TableChecks, ValidationSuite}
    val driftSuite = SuiteLoader.parse(
      """{"tables":[{"table":"orders","expectations":[
        |  {"type":"expect_row_count_within_pct_of_last_run",
        |   "kwargs":{"max_pct_change": 15.0}}]}]}""".stripMargin)
    assert(driftSuite.tables.head.checks == Seq(UnresolvedDriftCheck(15.0)))

    // Plain bind refuses: the baseline cannot come from the suite file.
    intercept[IllegalArgumentException](SuiteLoader.bind(spark, sfDir, driftSuite))
    // Unresolved check never silently passes if someone runs it anyway.
    intercept[IllegalStateException](
      UnresolvedDriftCheck(15.0).run(Tables.orders(spark, sfDir)))

    // First run: empty store → the drift check is omitted (bootstrap),
    // and a default RowCountCheck is INJECTED so this very run records
    // the baseline — without it a drift-only suite would omit the check
    // on every run forever (ADVICE r3).
    val store = java.nio.file.Files.createTempDirectory("graft_loader_drift").toString
    val first = SuiteLoader.bindWithHistory(spark, sfDir, driftSuite, store)
    assert(first.head.checks.map(_.name) == Seq("row_count_between"))

    // Persist the first run; rebind: the placeholder becomes a concrete
    // check against the recorded count, and the suite passes (0% drift).
    val seed = ValidationSuite.run(first)
    ResultStore.write(spark, seed, store, "2026-02-01T00:00:00Z")
    val bound = SuiteLoader.bindWithHistory(spark, sfDir, driftSuite, store)
    assert(bound.head.checks.map(_.name) ==
      Seq("row_count_drift:15.0pct", "row_count_between"))
    val result = ValidationSuite.run(bound)
    assert(result.passed && result.totalCount == 2)
  }

  test("a zero-row recorded baseline resolves like a missing one (re-bootstrap)") {
    import graft.sink.ResultStore
    import graft.suite.{TableChecks, ValidationSuite}
    val driftSuite = SuiteLoader.parse(
      """{"tables":[{"table":"orders","expectations":[
        |  {"type":"expect_row_count_within_pct_of_last_run",
        |   "kwargs":{"max_pct_change": 15.0}}]}]}""".stripMargin)
    val store = java.nio.file.Files.createTempDirectory("graft_zero_base").toString
    // Record a baseline from an EMPTY table (min 0 — the injected check's
    // configuration, which must not fail on it either).
    val empty = Tables.orders(spark, sfDir).filter("1 = 0")
    val seed = ValidationSuite.run(Seq(TableChecks("orders", empty,
      Seq(RowCountCheck(minRows = 0L)))))
    assert(seed.passed, "a zero-row bootstrap must not fail the injected check")
    ResultStore.write(spark, seed, store, "2026-03-01T00:00:00Z")
    // Drift against a 0-count baseline is undefined → omitted, not thrown.
    val bound = SuiteLoader.bindWithHistory(spark, sfDir, driftSuite, store)
    assert(bound.head.checks.map(_.name) == Seq("row_count_between"))
  }

  test("max_pct_change is required — a typoed kwarg must not default silently") {
    val typoed =
      """{"tables":[{"table":"orders","expectations":[
        |  {"type":"expect_row_count_within_pct_of_last_run",
        |   "kwargs":{"max_pct_chnage": 15.0}}]}]}""".stripMargin
    val e = intercept[IllegalArgumentException](SuiteLoader.parse(typoed))
    assert(e.getMessage.contains("max_pct_change"))
  }

  test("mostly compiles to a tolerance-thresholded check with GE semantics") {
    import org.apache.spark.sql.Row
    // 10 rows, 3 violations = 30% unexpected.
    val data = df((1 to 10).map(i => Row(i.toLong, if (i <= 3) -1.0 else 5.0)),
      "id BIGINT, v DOUBLE")
    def betweenWith(mostly: Double) = SuiteLoader.parse(
      s"""{"tables":[{"table":"t","expectations":[
         |  {"type":"expect_column_values_to_be_between",
         |   "kwargs":{"column":"v","min_value":0.0,"mostly":$mostly}}]}]}""".stripMargin)
      .tables.head.checks.head
    val tolerant = betweenWith(0.7).run(data)   // 30% <= 30% tolerance
    assert(tolerant.passed && tolerant.unexpectedCount == 3)
    assert(tolerant.message.contains("mostly=0.7"))
    val strict = betweenWith(0.8).run(data)     // 30% > 20% tolerance
    assert(!strict.passed && strict.unexpectedCount == 3)
    // The wrapper preserves the inner name (GE: mostly is a kwarg, not an
    // expectation identity).
    assert(betweenWith(0.7).name == "between:v")
  }

  test("mostly on a non-counting expectation throws instead of silently no-oping") {
    val bad =
      """{"tables":[{"table":"t","expectations":[
        |  {"type":"expect_table_row_count_to_be_between",
        |   "kwargs":{"min_value":1,"mostly":0.9}}]}]}""".stripMargin
    val e = intercept[IllegalArgumentException](SuiteLoader.parse(bad))
    assert(e.getMessage.contains("mostly"))
  }

  test("row_condition wraps counting checks; counters see only condition rows") {
    import org.apache.spark.sql.Row
    // 6 rows; condition s='F' selects 3, of which 1 violates v >= 0.
    val data = df(Seq(
      Row(1L, "F", -1.0), Row(2L, "F", 5.0), Row(3L, "F", 6.0),
      Row(4L, "O", -9.0), Row(5L, "O", -9.0), Row(6L, "O", 1.0)),
      "id BIGINT, s STRING, v DOUBLE")
    val check = SuiteLoader.parse(
      """{"tables":[{"table":"t","expectations":[
        |  {"type":"expect_column_values_to_be_between",
        |   "kwargs":{"column":"v","min_value":0.0,
        |             "row_condition":"s = 'F'","condition_parser":"spark"}}]}]}""".stripMargin)
      .tables.head.checks.head
    assert(check == ConditionedCheck(
      BetweenCheck("v", min = Some(0.0), max = None), "s = 'F'"))
    val r = check.run(data)
    assert(!r.passed)
    assert(r.elementCount == 3)      // condition rows only
    assert(r.unexpectedCount == 1)   // the O-row violations are invisible
  }

  test("row_condition composes with mostly: tolerance over condition rows") {
    import org.apache.spark.sql.Row
    // Condition picks 4 rows, 1 of 4 violates = 25% — passes mostly=0.75,
    // fails mostly=0.8. The unconditioned violation rate would be 3/6.
    val data = df(Seq(
      Row(1L, "F", -1.0), Row(2L, "F", 5.0), Row(3L, "F", 6.0), Row(4L, "F", 7.0),
      Row(5L, "O", -9.0), Row(6L, "O", -9.0)),
      "id BIGINT, s STRING, v DOUBLE")
    def parse(mostly: Double) = SuiteLoader.parse(
      s"""{"tables":[{"table":"t","expectations":[
         |  {"type":"expect_column_values_to_be_between",
         |   "kwargs":{"column":"v","min_value":0.0,"mostly":$mostly,
         |             "row_condition":"s = 'F'"}}]}]}""".stripMargin)
      .tables.head.checks.head
    val ok = parse(0.75).run(data)
    assert(ok.passed && ok.unexpectedCount == 1)
    assert(!parse(0.8).run(data).passed)
  }

  test("row_condition on not_null keeps nulls in the conditioned basis") {
    import org.apache.spark.sql.Row
    val data = df(Seq(
      Row(1L, "F", "x"), Row(2L, "F", null), Row(3L, "O", null)),
      "id BIGINT, s STRING, c STRING")
    val check = SuiteLoader.parse(
      """{"tables":[{"table":"t","expectations":[
        |  {"type":"expect_column_values_to_not_be_null",
        |   "kwargs":{"column":"c","row_condition":"s = 'F'"}}]}]}""".stripMargin)
      .tables.head.checks.head
    val r = check.run(data)
    assert(!r.passed)
    assert(r.elementCount == 2 && r.unexpectedCount == 1) // row 3 invisible
  }

  test("row_condition rejects non-spark parsers and non-map expectations") {
    val badParser =
      """{"tables":[{"table":"t","expectations":[
        |  {"type":"expect_column_values_to_be_between",
        |   "kwargs":{"column":"v","min_value":0,
        |             "row_condition":"s = 'F'","condition_parser":"pandas"}}]}]}""".stripMargin
    val e1 = intercept[IllegalArgumentException](SuiteLoader.parse(badParser))
    assert(e1.getMessage.contains("condition_parser"))
    val badType =
      """{"tables":[{"table":"t","expectations":[
        |  {"type":"expect_table_row_count_to_be_between",
        |   "kwargs":{"min_value":1,"row_condition":"s = 'F'"}}]}]}""".stripMargin
    val e2 = intercept[IllegalArgumentException](SuiteLoader.parse(badType))
    assert(e2.getMessage.contains("row_condition"))
  }

  test("pair_equal, to_be_null, proportion_unique, and median map with kwargs") {
    val spec = SuiteLoader.parse(
      """{"tables":[{"table":"t","expectations":[
        |  {"type":"expect_column_pair_values_to_be_equal",
        |   "kwargs":{"column_A":"a","column_B":"b"}},
        |  {"type":"expect_column_pair_values_a_to_be_greater_than_b",
        |   "kwargs":{"column_A":"hi","column_B":"lo",
        |             "ignore_row_if":"either_value_is_missing"}},
        |  {"type":"expect_column_values_to_be_null",
        |   "kwargs":{"column":"deleted_at"}},
        |  {"type":"expect_column_proportion_of_unique_values_to_be_between",
        |   "kwargs":{"column":"k","min_value":0.9}},
        |  {"type":"expect_column_median_to_be_between",
        |   "kwargs":{"column":"v","min_value":1.0,"max_value":2.0}}]}]}""".stripMargin)
      .tables.head.checks
    assert(spec == Seq(
      PairEqualCheck("a", "b"),
      PairGreaterCheck("hi", "lo", orEqual = false,
        ignoreRowIf = "either_value_is_missing"),
      NullCheck("deleted_at"),
      ProportionUniqueCheck("k", 0.9, 1.0),
      QuantileCheck("v", 0.5, 1.0, 2.0)))
    // An invalid ignore_row_if throws at parse time (check construction),
    // never lazily at first use.
    val e = intercept[IllegalArgumentException](SuiteLoader.parse(
      """{"tables":[{"table":"t","expectations":[
        |  {"type":"expect_column_pair_values_to_be_equal",
        |   "kwargs":{"column_A":"a","column_B":"b",
        |             "ignore_row_if":"sometimes"}}]}]}""".stripMargin))
    assert(e.getMessage.contains("ignore_row_if"))
  }

  test("ignore_row_if changes the pair basis; to_be_null counts non-nulls") {
    import org.apache.spark.sql.Row
    val data = df(Seq(
      Row(5.0, 1.0), Row(null, 2.0), Row(3.0, null), Row(null, null)),
      "a DOUBLE, b DOUBLE")
    // Ignored rows are excluded from the expectation ENTIRELY (GE filters
    // them out): element_count and the mostly denominator agree.
    // Default: not-both-missing → 3 rows; 'either' → 1; 'neither' → 4.
    def counts(mode: String) = {
      val m = MostlyCheck(PairGreaterCheck("a", "b", ignoreRowIf = mode), 0.5)
      val cols = m.aggColumns("")
      val row = data.agg(cols.head, cols.tail: _*).head()
      (row.getAs[Long]("element_count"), row.getAs[Long]("nonnull_count"))
    }
    assert(counts("both_values_are_missing") == ((3L, 3L)))
    assert(counts("either_value_is_missing") == ((1L, 1L)))
    assert(counts("neither") == ((4L, 4L)))
    // An invalid mode throws at construction.
    intercept[IllegalArgumentException](PairEqualCheck("a", "b", "sometimes"))
    // PairEqualCheck: ANSI nulls — only the fully-present unequal row flags.
    val eq = PairEqualCheck("a", "b").run(data)
    assert(eq.unexpectedCount == 1L && eq.elementCount == 3L)
    // NullCheck: the two non-null 'b after filter'… plain: 2 non-null a.
    val nu = NullCheck("a").run(data)
    assert(nu.unexpectedCount == 2L && !nu.passed)
    // …and composes with mostly over ALL rows (2/4 = 50% violations).
    assert(MostlyCheck(NullCheck("a"), 0.5).run(data).passed)
    assert(!MostlyCheck(NullCheck("a"), 0.6).run(data).passed)
  }

  test("approx: true compiles to the sketch-backed checks and range-asserts") {
    val spec = SuiteLoader.parse(
      """{"tables":[{"table":"t","expectations":[
        |  {"type":"expect_column_unique_value_count_to_be_between",
        |   "kwargs":{"column":"c","min_value":1,"max_value":10,"approx":true}},
        |  {"type":"expect_column_quantile_values_to_be_between",
        |   "kwargs":{"column":"v","quantile":0.5,"min_value":0.0,
        |             "max_value":100.0,"approx":true}},
        |  {"type":"expect_column_quantile_values_to_be_between",
        |   "kwargs":{"column":"v","approx":true,"quantile_ranges":{
        |     "quantiles":[0.25, 0.75],"value_ranges":[[0.0, 50.0],[null, 99.0]]}}}
        |]}]}""".stripMargin).tables.head.checks
    assert(spec == Seq(
      ApproxDistinctCountCheck("c", 1L, 10L),
      ApproxQuantileCheck("v", 0.5, 0.0, 100.0),
      ApproxQuantileCheck("v", 0.25, 0.0, 50.0),
      ApproxQuantileCheck("v", 0.75, Double.NegativeInfinity, 99.0)))
    // On real data the estimates land inside honest bounds: 5 segments,
    // median acctbal well within [1000, 8000].
    val customer = Tables.customer(spark, sfDir)
    val d = ApproxDistinctCountCheck("c_mktsegment", 1L, 10L).run(customer)
    assert(d.passed, d.message)
    val q = ApproxQuantileCheck("c_acctbal", 0.5, 1000.0, 8000.0).run(customer)
    assert(q.passed, q.message)
  }

  test("quantile_ranges unrolls to one QuantileCheck per quantile") {
    val spec = SuiteLoader.parse(
      """{"tables":[{"table":"t","expectations":[
        |  {"type":"expect_column_quantile_values_to_be_between",
        |   "kwargs":{"column":"v","quantile_ranges":{
        |     "quantiles":[0.25, 0.5, 0.95],
        |     "value_ranges":[[0.0, 1.0], [null, 2.0], [3.0, null]]}}}]}]}""".stripMargin)
    assert(spec.tables.head.checks == Seq(
      QuantileCheck("v", 0.25, 0.0, 1.0),
      QuantileCheck("v", 0.5, Double.NegativeInfinity, 2.0),
      QuantileCheck("v", 0.95, 3.0, Double.PositiveInfinity)))
    val mismatched =
      """{"tables":[{"table":"t","expectations":[
        |  {"type":"expect_column_quantile_values_to_be_between",
        |   "kwargs":{"column":"v","quantile_ranges":{
        |     "quantiles":[0.25, 0.5], "value_ranges":[[0.0, 1.0]]}}}]}]}""".stripMargin
    intercept[IllegalArgumentException](SuiteLoader.parse(mismatched))
  }

  test("checked-in testdata_core suite loads from the classpath and runs: " +
    "only the deliberately-failing segment whitelist fails") {
    val spec = SuiteLoader.load("suites/testdata_core.json")
    assert(spec.suiteName == "testdata_core")
    assert(spec.tables.map(_.table) == Seq("orders", "customer", "lineitem"))
    val result = graft.suite.ValidationSuite.run(
      SuiteLoader.bind(spark, sfDir, spec))
    assert(result.totalCount == 19)
    // The conditioned expectation sees only finalized orders.
    val cond = result.details.find(
      _.validationName == "orders.between:o_totalprice:where:o_orderstatus = 'F'").get
    assert(cond.passed && cond.elementCount > 0)
    // Approx variants pass inside their verdict-level bounds.
    assert(result.details.exists(r =>
      r.validationName == "customer.distinct_count_approx:c_mktsegment" && r.passed))
    assert(result.details.exists(r =>
      r.validationName == "customer.quantile_approx:c_acctbal:0.5" && r.passed))
    // The mostly-tolerated between check passes WITH violations on record.
    val mostly = result.details
      .find(_.validationName == "orders.between:o_totalprice").get
    assert(mostly.passed && mostly.unexpectedCount > 0)
    val failed = result.details.filterNot(_.passed).map(_.validationName)
    assert(failed == Seq("customer.in_set:c_mktsegment"),
      s"unexpected failure set: $failed")
    // The failed in-set check refines a bounded offender sample (D5 path).
    val inSet = result.details.find(_.validationName == "customer.in_set:c_mktsegment").get
    assert(inSet.partialUnexpectedList == Seq("MACHINERY"))
  }
}
