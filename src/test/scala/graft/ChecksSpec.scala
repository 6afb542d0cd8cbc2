package graft

import org.apache.spark.sql.Row
import graft.checks._
import graft.model.ValidationStatus

/** Per-check unit tests: pass case, fail case, and the null edges that
  * SURVEY.md §7.4 flags (ANSI ternary semantics for value checks; the
  * D4-vs-R1 divergence has its own spec in NullSemanticsSpec). */
class ChecksSpec extends SparkSpec {

  private val regions = df(Seq(
    Row(1L, "Northwest", 10.0),
    Row(2L, "Southwest", -5.0),
    Row(3L, null, 7.5),
    Row(4L, "Northwest", 20.0)),
    "id BIGINT, region STRING, value DOUBLE")

  test("RowCountCheck passes on non-empty, fails on empty") {
    assert(RowCountCheck().run(regions).passed)
    val empty = regions.filter("id < 0")
    val r = RowCountCheck().run(empty)
    assert(r.status == ValidationStatus.Failed)
    assert(r.elementCount == 0L)
  }

  test("RowCountCheck enforces an upper bound") {
    val r = RowCountCheck(minRows = 1, maxRows = 2).run(regions)
    assert(r.status == ValidationStatus.Failed)
  }

  test("NotNullCheck counts null rows") {
    val r = NotNullCheck("region").run(regions)
    assert(r.status == ValidationStatus.Failed)
    assert(r.elementCount == 4L && r.unexpectedCount == 1L)
    assert(NotNullCheck("id").run(regions).passed)
  }

  test("InSetCheck flags non-members, nulls never violate (ANSI)") {
    val r = InSetCheck("region", Seq("Northwest")).run(regions)
    // Southwest is out-of-set; the NULL row is NOT counted (ternary logic)
    assert(r.unexpectedCount == 1L)
    assert(r.elementCount == 4L)
    assert(r.partialUnexpectedList == Seq("Southwest"))
    assert(InSetCheck("region", Seq("Northwest", "Southwest")).run(regions).passed)
  }

  test("InSetCheck refine sample is sorted and bounded") {
    val many = df((1 to 30).map(i => Row(f"bad_$i%02d")), "region STRING")
    val r = InSetCheck("region", Seq("ok"), sampleSize = 5).run(many)
    assert(r.unexpectedCount == 30L)
    assert(r.partialUnexpectedList == Seq("bad_01", "bad_02", "bad_03", "bad_04", "bad_05"))
  }

  test("NotInSetCheck flags blocklisted values") {
    val r = NotInSetCheck("region", Seq("Southwest")).run(regions)
    assert(r.unexpectedCount == 1L)
    assert(NotInSetCheck("region", Seq("Atlantis")).run(regions).passed)
  }

  test("BetweenCheck bounds, nulls never violate") {
    val r = BetweenCheck("value", min = Some(0.0)).run(regions)
    assert(r.unexpectedCount == 1L) // only the -5.0 row
    assert(BetweenCheck("value", min = Some(-10.0), max = Some(100.0)).run(regions).passed)
  }

  test("RegexCheck matches shape") {
    val ts = df(Seq(Row("2025-09-19T14:09:00Z"), Row("not-a-timestamp")), "ts STRING")
    val r = RegexCheck("ts", "^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}Z$").run(ts)
    assert(r.unexpectedCount == 1L && r.elementCount == 2L)
  }

  test("TypeCastCheck flags uncastable non-nulls only") {
    val vals = df(Seq(Row("12.5"), Row("abc"), Row(null)), "v STRING")
    val r = TypeCastCheck("v", "DOUBLE").run(vals)
    assert(r.unexpectedCount == 1L) // "abc"; null is not a type violation
  }

  test("PairGreaterCheck compares column pairs") {
    val pairs = df(Seq(Row(10.0, 5.0), Row(3.0, 3.0), Row(1.0, 2.0)), "a DOUBLE, b DOUBLE")
    assert(PairGreaterCheck("a", "b").run(pairs).unexpectedCount == 2L) // 3<=3, 1<=2
    assert(PairGreaterCheck("a", "b", orEqual = true).run(pairs).unexpectedCount == 1L)
  }

  test("runBatched keeps same-named checks independent (no alias collision)") {
    // Both checks are named 'between:v'; before position-qualified
    // prefixes the second silently evaluated the FIRST check's counters.
    val data = df((1 to 10).map(i => Row(i.toLong, i.toDouble)),
      "id BIGINT, v DOUBLE")
    val hard = BetweenCheck("v", min = Some(0.0))                     // passes
    val tight = MostlyCheck(BetweenCheck("v", max = Some(5.0)), 0.6)  // 50% > 40% tol
    val rs = CheckSuite.runBatched(data, Seq(hard, tight))
    assert(rs(0).passed && rs(0).unexpectedCount == 0)
    assert(!rs(1).passed && rs(1).unexpectedCount == 5)
  }

  test("MostlyCheck uses GE's non-null basis for value predicates") {
    // 10 rows: 6 NULL, 3 violations among 4 non-null = 75% unexpected on
    // the GE basis (non-null), only 30% over all rows. GE fails this at
    // mostly=0.5; an all-rows basis would wrongly pass it.
    val data = df((1 to 10).map { i =>
      Row(i.toLong, if (i <= 6) null else if (i <= 9) java.lang.Double.valueOf(-1.0)
          else java.lang.Double.valueOf(5.0))
      }, "id BIGINT, v DOUBLE")
    val r = MostlyCheck(BetweenCheck("v", min = Some(0.0)), 0.5).run(data)
    assert(!r.passed && r.unexpectedCount == 3)
    assert(math.abs(r.unexpectedPercent - 75.0) < 1e-9)
    // NotNullCheck keeps the all-rows basis (nulls ARE the violations):
    // 6/10 = 60% nulls passes mostly=0.3 (tolerates 70%), fails 0.5.
    assert(MostlyCheck(NotNullCheck("v"), 0.3).run(data).passed)
    assert(!MostlyCheck(NotNullCheck("v"), 0.5).run(data).passed)
    // mostly = 1.0 (GE's default, stated explicitly in real suites) is
    // legal and degenerates to zero tolerance.
    val zeroTol = MostlyCheck(BetweenCheck("v", min = Some(-10.0)), 1.0).run(data)
    assert(zeroTol.passed)
    assert(!MostlyCheck(BetweenCheck("v", min = Some(0.0)), 1.0).run(data).passed)
  }

  test("AggBoundsCheck evaluates statistics against bounds") {
    assert(AggBoundsCheck("value", "mean", 0.0, 20.0).run(regions).passed) // mean=8.125
    assert(!AggBoundsCheck("value", "max", 0.0, 10.0).run(regions).passed) // max=20
    assert(AggBoundsCheck("value", "min", -10.0, 0.0).run(regions).passed)
  }

  test("UniqueCheck counts duplicated keys and their rows") {
    val r = UniqueCheck(Seq("region")).run(regions.filter("region IS NOT NULL"))
    assert(r.status == ValidationStatus.Failed)
    assert(r.unexpectedCount == 2L) // two Northwest rows
    assert(UniqueCheck(Seq("id")).run(regions).passed)
  }

  test("UniqueCheck compound keys") {
    val r = UniqueCheck(Seq("region", "value")).run(regions)
    assert(r.passed) // (Northwest,10) vs (Northwest,20) differ
  }

  test("SchemaCheck reports missing and unexpected fields") {
    assert(SchemaCheck(Seq("id", "region")).run(regions).passed)
    val r = SchemaCheck(Seq("id", "missing_col")).run(regions)
    assert(!r.passed && r.partialUnexpectedList.contains("missing_col"))
    val exact = SchemaCheck(Seq("id", "region"), exactMatch = true).run(regions)
    assert(!exact.passed && exact.partialUnexpectedList.contains("value"))
  }

  test("ValueLengthCheck bounds string lengths, nulls never violate") {
    val names = df(Seq(Row("ok"), Row("toolongvalue"), Row(null)), "v STRING")
    val r = ValueLengthCheck("v", 1, 8).run(names)
    assert(r.unexpectedCount == 1L && r.elementCount == 3L)
  }

  test("DistinctCountCheck compares exact cardinality to bounds") {
    assert(DistinctCountCheck("region", 1, 2).run(regions).passed) // {Northwest, Southwest}
    assert(!DistinctCountCheck("region", 3, 10).run(regions).passed)
  }

  test("QuantileCheck evaluates exact interpolated percentiles") {
    val vals = df((1 to 100).map(i => Row(i.toDouble)), "v DOUBLE")
    assert(QuantileCheck("v", 0.5, 50.0, 51.0).run(vals).passed)   // median 50.5
    assert(!QuantileCheck("v", 0.95, 0.0, 90.0).run(vals).passed)  // p95 ≈ 95.05
  }

  test("ConditionedCheck restricts counters AND the refined offender sample") {
    val data = df(Seq(
      Row("F", "bad1"), Row("F", "ok"), Row("O", "bad2"), Row("O", "ok")),
      "s STRING, v STRING")
    val check = ConditionedCheck(InSetCheck("v", Seq("ok")), "s = 'F'")
    val r = check.run(data)
    assert(!r.passed && r.elementCount == 2 && r.unexpectedCount == 1)
    // The offender sample honors the condition: bad2 (an O-row) is absent.
    assert(r.partialUnexpectedList == Seq("bad1"))
    assert(r.message.contains("bad1") && !r.message.contains("bad2"))
  }

  test("ApproxDistinctCountCheck and ApproxQuantileCheck fuse like any AggCheck") {
    val vals = df((1 to 1000).map(i => Row((i % 37).toLong, i.toDouble)),
      "k BIGINT, v DOUBLE")
    val checks = Seq[AggCheck](
      ApproxDistinctCountCheck("k", 30L, 45L),  // true 37; rsd 5% stays inside
      ApproxQuantileCheck("v", 0.5, 400.0, 600.0)) // true median 500.5
    val batched = CheckSuite.runBatched(vals, checks)
    assert(batched.forall(_.passed), batched.map(_.message).mkString("; "))
    // And the bounds actually bite.
    assert(!ApproxDistinctCountCheck("k", 100L, 200L).run(vals).passed)
    assert(!ApproxQuantileCheck("v", 0.5, 0.0, 100.0).run(vals).passed)
  }

  test("bounded-statistic checks: verdict, counts and message text") {
    val empty = regions.filter("id < 0")
    val cases = Seq(
      AggBoundsCheck("value", "mean", 0.0, 10.0).run(regions) ->
        (true, 4L, 0L, "mean(value) = 8.125, expected [0.0, 10.0]"),
      AggBoundsCheck("value", "mean", 0.0, 10.0).run(empty) ->
        (false, 0L, 1L, "mean(value) = NaN, expected [0.0, 10.0]"),
      DistinctCountCheck("region", 1L, 1L).run(regions) ->
        (false, 4L, 1L, "distinct(region) = 2, expected [1, 1]"),
      ApproxDistinctCountCheck("region", 1L, 5L).run(regions) ->
        (true, 4L, 0L, "approx_distinct(region) = 2 (rsd=0.05), expected [1, 5]"),
      QuantileCheck("value", 0.5, 0.0, 100.0).run(regions) ->
        (true, 4L, 0L, "p0.5(value) = 8.75, expected [0.0, 100.0]"),
      ApproxQuantileCheck("value", 0.5, 8.0, 100.0).run(regions) ->
        (false, 4L, 1L, "approx_p0.5(value) = 7.5, expected [8.0, 100.0]"))
    for ((r, (passed, total, unexpected, message)) <- cases) {
      assert(r.passed == passed && r.elementCount == total &&
        r.unexpectedCount == unexpected && r.message == message,
        r.toString)
    }
  }

  test("CheckSuite.runBatched fuses checks with identical verdicts") {
    val checks = Seq(
      RowCountCheck(), NotNullCheck("region"),
      InSetCheck("region", Seq("Northwest")), BetweenCheck("value", min = Some(0.0)))
    val batched = CheckSuite.runBatched(regions, checks)
    val individual = checks.map(_.run(regions))
    assert(batched.map(r => (r.validationName, r.status, r.elementCount, r.unexpectedCount)) ==
      individual.map(r => (r.validationName, r.status, r.elementCount, r.unexpectedCount)))
  }

  // --------------------------------------------- G22 GE-tail vocabulary

  test("MonotonicCheck counts adjacent violations across partition boundaries") {
    // 200 ordered rows → repartitionByRange spreads them over many
    // partitions, so boundary stitching is genuinely exercised. Values
    // dip at every multiple of 50 (4 inversions for increasing).
    val rows = (1 to 200).map(i =>
      Row(i.toLong, if (i % 50 == 0) -1.0 else i.toDouble))
    val data = df(rows, "ord BIGINT, v DOUBLE")
    val inc = MonotonicCheck("v", "ord").run(data)
    // each dip is ONE adjacency violation (the drop in; the rise out is
    // increasing again): 4 dips → 4
    assert(inc.elementCount == 200L && inc.unexpectedCount == 4L,
      inc.message)
    assert(!inc.passed)
    // ord itself is strictly increasing by ord.
    val strict = MonotonicCheck("ord", "ord", strictly = true).run(data)
    assert(strict.passed && strict.unexpectedCount == 0L)
  }

  test("MonotonicCheck: strictness counts ties; decreasing mirrors; " +
       "ties on the order key are lenient") {
    val data = df(Seq(
      Row(1L, 5.0), Row(2L, 5.0), Row(3L, 4.0), Row(4L, 4.0), Row(5L, 3.0)),
      "ord BIGINT, v DOUBLE")
    assert(MonotonicCheck("v", "ord", increasing = false).run(data).passed)
    val strict = MonotonicCheck("v", "ord", increasing = false,
      strictly = true).run(data)
    assert(!strict.passed && strict.unexpectedCount == 2L) // two plateaus
    // order-key ties sort the value favorably: (ord=1, v∈{1,2}) is not
    // disorder for an increasing check regardless of physical layout.
    val tied = df(Seq(Row(1L, 2.0), Row(1L, 1.0), Row(2L, 3.0)),
      "ord BIGINT, v DOUBLE")
    assert(MonotonicCheck("v", "ord").run(tied).passed)
    // nulls (in value or order key) drop out of the basis.
    val withNulls = df(Seq(Row(1L, 1.0), Row(2L, null), Row(3L, 2.0)),
      "ord BIGINT, v DOUBLE")
    val r = MonotonicCheck("v", "ord").run(withNulls)
    assert(r.passed && r.elementCount == 2L)
  }

  test("MonotonicCheck rejects non-orderable columns and counts NaN " +
       "by total order (r15 review findings)") {
    // A string column silently casts to all-nulls — must be loud, not
    // a vacuous PASS on an empty basis.
    val strs = df(Seq(Row(1L, "2024-01-02"), Row(2L, "2024-01-01")),
      "ord BIGINT, v STRING")
    intercept[IllegalArgumentException] {
      MonotonicCheck("v", "ord").run(strs)
    }
    intercept[IllegalArgumentException] {
      MonotonicCheck("ord", "v").run(strs)
    }
    // NaN compares by TOTAL order (greater than everything — Spark's
    // sort order and DuckDB's comparison semantics agree): the descent
    // out of a NaN counts, the ascent into it does not.
    val nan = df(Seq(Row(1L, 1.0), Row(2L, Double.NaN), Row(3L, 0.5)),
      "ord BIGINT, v DOUBLE")
    val r = MonotonicCheck("v", "ord").run(nan)
    assert(!r.passed && r.unexpectedCount == 1L && r.elementCount == 3L,
      r.message)
  }

  test("MonotonicCheck: DATE/TIMESTAMP_NTZ columns work and 64-bit " +
       "longs above 2^53 compare exactly (ADVICE r15)") {
    // DATE and TIMESTAMP_NTZ were admitted by the guard but threw
    // AnalysisException in the old cast("double") funnel.
    val dates = df(Seq(
      Row(1L, java.sql.Date.valueOf("2024-01-01")),
      Row(2L, java.sql.Date.valueOf("2024-01-03")),
      Row(3L, java.sql.Date.valueOf("2024-01-02"))),
      "ord BIGINT, v DATE")
    val rd = MonotonicCheck("v", "ord").run(dates)
    assert(!rd.passed && rd.unexpectedCount == 1L, rd.message)
    // ...and as the ORDER key too: by date order the ord sequence is
    // 1, 3, 2 — one inversion.
    val ro = MonotonicCheck("ord", "v").run(dates)
    assert(!ro.passed && ro.unexpectedCount == 1L, ro.message)
    val ntz = df(Seq(
      Row(1L, java.time.LocalDateTime.of(2024, 1, 1, 0, 0)),
      Row(2L, java.time.LocalDateTime.of(2024, 1, 2, 0, 0))),
      "ord BIGINT, v TIMESTAMP_NTZ")
    assert(MonotonicCheck("v", "ord").run(ntz).passed)
    // Distinct longs above 2^53 collapse to EQUAL doubles — the native
    // long lane must still see the inversion (and a strict check must
    // still see the adjacent "tie" as two distinct values).
    val big = (1L << 53) + 1L
    val longs = df(Seq(Row(1L, big + 1L), Row(2L, big)),
      "ord BIGINT, v BIGINT")
    val rl = MonotonicCheck("v", "ord").run(longs)
    assert(!rl.passed && rl.unexpectedCount == 1L,
      s"2^53+2 -> 2^53+1 must count as an inversion: ${rl.message}")
    assert(MonotonicCheck("v", "ord", increasing = false,
      strictly = true).run(longs).passed)
  }

  test("MonotonicCheck NTZ is zone-free: monotonic wall times through " +
       "a DST spring-forward gap pass in a DST session zone, and " +
       "micros compare exactly (ADVICE r16)") {
    // America/New_York 2021-03-14: 02:00-03:00 wall time does not
    // exist. Under the old cast-to-session-zone normalization, 02:30
    // resolved to the instant 03:30 EDT — LATER than wall 03:00 — so
    // this strictly increasing NTZ column reported a fabricated
    // violation. The arithmetic lane never consults the zone.
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val gap = df(Seq(
        Row(1L, java.time.LocalDateTime.of(2021, 3, 14, 1, 30)),
        Row(2L, java.time.LocalDateTime.of(2021, 3, 14, 2, 30)),
        Row(3L, java.time.LocalDateTime.of(2021, 3, 14, 3, 0))),
        "ord BIGINT, v TIMESTAMP_NTZ")
      val r = MonotonicCheck("v", "ord", strictly = true).run(gap)
      assert(r.passed, s"DST gap fabricated a violation: ${r.message}")
      // Fall-back repeats wall hour 01:xx — wall times stay strictly
      // increasing, so NTZ (zone-free) must pass strictly.
      val fb = df(Seq(
        Row(1L, java.time.LocalDateTime.of(2021, 11, 7, 1, 15)),
        Row(2L, java.time.LocalDateTime.of(2021, 11, 7, 1, 45)),
        Row(3L, java.time.LocalDateTime.of(2021, 11, 7, 2, 5))),
        "ord BIGINT, v TIMESTAMP_NTZ")
      assert(MonotonicCheck("v", "ord", strictly = true).run(fb).passed)
      // Micro-resolution inversion still detected (exactness).
      val micro = df(Seq(
        Row(1L, java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0, 2000)),
        Row(2L, java.time.LocalDateTime.of(2024, 1, 1, 0, 0, 0, 1000))),
        "ord BIGINT, v TIMESTAMP_NTZ")
      val rm = MonotonicCheck("v", "ord").run(micro)
      assert(!rm.passed && rm.unexpectedCount == 1L, rm.message)
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("MonotonicCheck rejects wider-than-long scale-0 decimals loudly " +
       "instead of collapsing them through double (ADVICE r16)") {
    val wide = df(Seq(
      Row(1L, new java.math.BigDecimal(((BigInt(1) << 53) + 2).bigInteger)),
      Row(2L, new java.math.BigDecimal(((BigInt(1) << 53) + 1).bigInteger))),
      "ord BIGINT, v DECIMAL(38,0)")
    val ex = intercept[IllegalArgumentException] {
      MonotonicCheck("v", "ord").run(wide)
    }
    assert(ex.getMessage.contains("DECIMAL(38,0)"), ex.getMessage)
    // Fractional wide decimals keep the documented double lane.
    val frac = df(Seq(
      Row(1L, new java.math.BigDecimal("1.5")),
      Row(2L, new java.math.BigDecimal("2.5"))),
      "ord BIGINT, v DECIMAL(38,2)")
    assert(MonotonicCheck("v", "ord").run(frac).passed)
  }

  test("MostCommonValueCheck: mode membership, disallowed co-mode fails") {
    val data = df(Seq(
      Row("a"), Row("a"), Row("b"), Row("b"), Row("c")),
      "k STRING")
    // tied modes {a, b}: both allowed → pass; b missing → fail.
    assert(MostCommonValueCheck("k", Seq("a", "b")).run(data).passed)
    assert(!MostCommonValueCheck("k", Seq("a", "c")).run(data).passed)
    // unique mode a: c need not be allowed.
    val uni = df(Seq(Row("a"), Row("a"), Row("c")), "k STRING")
    assert(MostCommonValueCheck("k", Seq("a")).run(uni).passed)
    // empty table: vacuous pass (no mode exists to violate the set).
    val empty = df(Seq.empty[Row], "k STRING")
    val r = MostCommonValueCheck("k", Seq("a")).run(empty)
    assert(r.passed && r.elementCount == 0L)
  }

  test("KlDivergenceCheck: matching shape passes, skew fails, " +
       "out-of-partition is infinite, declarations are guarded") {
    // 80/20 over two values — matches the declared 800000/200000.
    val rows = (1 to 100).map(i => Row(if (i <= 80) "a" else "b"))
    val data = df(rows, "k STRING")
    val exact = KlDivergenceCheck("k", Seq("a", "b"),
      Seq(800000L, 200000L), 0.001).run(data)
    assert(exact.passed && exact.elementCount == 100L, exact.message)
    // Same data against an inverted declaration: KL = .8·ln4 + .2·ln.25
    // ≈ 0.8317 — fails a 0.5 threshold, passes a loose 1.0.
    val skew = KlDivergenceCheck("k", Seq("a", "b"),
      Seq(200000L, 800000L), 0.5)
    assert(!skew.run(data).passed)
    assert(KlDivergenceCheck("k", Seq("a", "b"),
      Seq(200000L, 800000L), 1.0).run(data).passed)
    // An observed value with no declared mass → infinite divergence:
    // fails ANY threshold, the stray rows counted.
    val strays = df(rows ++ Seq(Row("c"), Row("c")), "k STRING")
    val inf = KlDivergenceCheck("k", Seq("a", "b"),
      Seq(800000L, 200000L), 1e9).run(strays)
    assert(!inf.passed && inf.unexpectedCount == 2L, inf.message)
    // Census rows carry the per-value integer contributions; the
    // stray value's ppm/contrib are null.
    val cen = KlDivergenceCheck("k", Seq("a", "b"),
        Seq(800000L, 200000L), 1.0).census(strays)
      .collect().map(r => r.getString(0) -> r.isNullAt(3)).toMap
    assert(cen == Map("a" -> false, "b" -> false, "c" -> true))
    // Empty basis: vacuous pass (no distribution to diverge).
    assert(KlDivergenceCheck("k", Seq("a"), Seq(1000000L), 0.1)
      .run(data.filter("k = 'zzz'")).passed)
    // Declaration guards: ppm sum, zero weights, duplicate values.
    intercept[IllegalArgumentException] {
      KlDivergenceCheck("k", Seq("a", "b"), Seq(5000L, 200000L), 0.1)
    }
    intercept[IllegalArgumentException] {
      KlDivergenceCheck("k", Seq("a", "b"), Seq(1000000L, 0L), 0.1)
    }
    intercept[IllegalArgumentException] {
      KlDivergenceCheck("k", Seq("a", "a"), Seq(500000L, 500000L), 0.1)
    }
  }

  test("ChiSquareCheck: matching shape passes, skew fails, unobserved " +
       "declared values carry expected-count mass, out-of-partition is " +
       "infinite (G24)") {
    // 80/20 over two values, declared 800000/200000: D = 0 for both →
    // statistic exactly 0, passes any critical value.
    val rows = (1 to 100).map(i => Row(if (i <= 80) "a" else "b"))
    val data = df(rows, "k STRING")
    val exact = ChiSquareCheck("k", Seq("a", "b"),
      Seq(800000L, 200000L), 0.001).run(data)
    assert(exact.passed && exact.elementCount == 100L, exact.message)
    // Inverted declaration: chi2 = (80-20)²/20 + (20-80)²/80 = 225.
    val inv = ChiSquareCheck("k", Seq("a", "b"),
      Seq(200000L, 800000L), 3.841)
    val rInv = inv.run(data)
    assert(!rInv.passed, rInv.message)
    assert(rInv.message.contains("225.000000"), rInv.message)
    assert(ChiSquareCheck("k", Seq("a", "b"),
      Seq(200000L, 800000L), 226.0).run(data).passed)
    // A DECLARED value never observed enters the census at n = 0 with
    // its expected-count contribution: declare thirds over a/b/c with
    // c absent — term for c is N·p = 100·(1/3) ≈ 33.33.
    val thirds = ChiSquareCheck("k", Seq("a", "b", "c"),
      Seq(333334L, 333333L, 333333L), 5.991)
    val cen3 = thirds.census(data).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.isNullAt(3),
        if (r.isNullAt(3)) 0L else r.getLong(3))).toMap
    assert(cen3("c") == ((0L, false, 33333300L)), cen3.toString)
    assert(!thirds.run(data).passed)
    // An observed value with no declared mass → infinite statistic:
    // fails ANY critical value, stray rows counted, null contrib.
    val strays = df(rows ++ Seq(Row("z"), Row("z")), "k STRING")
    val inf = ChiSquareCheck("k", Seq("a", "b"),
      Seq(800000L, 200000L), 1e12).run(strays)
    assert(!inf.passed && inf.unexpectedCount == 2L, inf.message)
    // Empty basis: vacuous pass; declaration guards shared with KL.
    assert(ChiSquareCheck("k", Seq("a"), Seq(1000000L), 0.1)
      .run(data.filter("k = 'zzz'")).passed)
    intercept[IllegalArgumentException] {
      ChiSquareCheck("k", Seq("a", "b"), Seq(5000L, 200000L), 0.1)
    }
    intercept[IllegalArgumentException] {
      ChiSquareCheck("k", Seq("a", "a"), Seq(500000L, 500000L), 0.1)
    }
    // The plan-constant critical table: tabulated lookups resolve,
    // untabulated (df, alpha) pairs are loud.
    assert(ChiSquareCheck.criticalValue(4, 0.05) == 9.488)
    assert(ChiSquareCheck.criticalValue(4, 0.01) == 13.277)
    intercept[IllegalArgumentException] {
      ChiSquareCheck.criticalValue(11, 0.05)
    }
    intercept[IllegalArgumentException] {
      ChiSquareCheck.criticalValue(4, 0.07)
    }
  }

  test("SuiteLoader wires the G24 chi-square expectation") {
    import graft.suite.SuiteLoader
    val yaml =
      """suite_name: g24
        |tables:
        |  - table: t
        |    expectations:
        |      - type: expect_column_chisquare_test_p_value_to_be_greater_than
        |        kwargs:
        |          column: k
        |          partition_object: { values: [a, b, c, d, e],
        |                              weights: [0.2, 0.2, 0.2, 0.2, 0.2] }
        |          p_value: 0.05
        |      - type: expect_column_chisquare_test_p_value_to_be_greater_than
        |        kwargs:
        |          column: k
        |          partition_object: { values: [a, b], weights: [0.5, 0.5] }
        |          critical_value: 42.0
        |""".stripMargin
    val checks = SuiteLoader.parse(yaml, yaml = true).tables.head.checks
    assert(checks == Seq(
      ChiSquareCheck("k", Seq("a", "b", "c", "d", "e"),
        Seq(200000L, 200000L, 200000L, 200000L, 200000L), 9.488),
      ChiSquareCheck("k", Seq("a", "b"), Seq(500000L, 500000L), 42.0)))
    // Untabulated significance without an explicit critical_value: loud.
    val bad =
      """suite_name: g24bad
        |tables:
        |  - table: t
        |    expectations:
        |      - type: expect_column_chisquare_test_p_value_to_be_greater_than
        |        kwargs:
        |          column: k
        |          partition_object: { values: [a, b], weights: [0.5, 0.5] }
        |          p_value: 0.07
        |""".stripMargin
    intercept[IllegalArgumentException] {
      SuiteLoader.parse(bad, yaml = true)
    }
  }

  test("SuiteLoader wires the G22 expectation names") {
    import graft.suite.SuiteLoader
    val yaml =
      """suite_name: g22
        |tables:
        |  - table: t
        |    expectations:
        |      - type: expect_column_values_to_be_increasing
        |        kwargs: { column: v, order_by: ord, strictly: true }
        |      - type: expect_column_values_to_be_decreasing
        |        kwargs: { column: v, order_by: ord }
        |      - type: expect_column_most_common_value_to_be_in_set
        |        kwargs: { column: k, value_set: [a, b] }
        |      - type: expect_column_kl_divergence_to_be_less_than
        |        kwargs:
        |          column: k
        |          partition_object: { values: [a, b], weights: [0.75, 0.25] }
        |          threshold: 0.1
        |""".stripMargin
    val checks = SuiteLoader.parse(yaml, yaml = true).tables.head.checks
    assert(checks == Seq(
      MonotonicCheck("v", "ord", increasing = true, strictly = true),
      MonotonicCheck("v", "ord", increasing = false),
      MostCommonValueCheck("k", Seq("a", "b")),
      KlDivergenceCheck("k", Seq("a", "b"), Seq(750000L, 250000L), 0.1)))
    // order_by is required — a silent default would validate nothing.
    val bad =
      """suite_name: g22bad
        |tables:
        |  - table: t
        |    expectations:
        |      - type: expect_column_values_to_be_increasing
        |        kwargs: { column: v }
        |""".stripMargin
    intercept[IllegalArgumentException] {
      SuiteLoader.parse(bad, yaml = true)
    }
  }

  test("SuiteLoader apportions KL partition weights by largest " +
       "remainder: equal thirds load; a short sum still fails loudly " +
       "(ADVICE r16)") {
    import graft.suite.SuiteLoader
    def klYaml(weights: String, values: String = "[a, b, c]") =
      s"""suite_name: kl
         |tables:
         |  - table: t
         |    expectations:
         |      - type: expect_column_kl_divergence_to_be_less_than
         |        kwargs:
         |          column: k
         |          partition_object: { values: $values, weights: $weights }
         |          threshold: 0.1
         |""".stripMargin
    // Three equal thirds: each floors to 333,333 ppm; the 1-ppm
    // residual goes to the largest remainder, position-first.
    val thirds = SuiteLoader
      .parse(klYaml("[0.3333333333333333, 0.3333333333333333, " +
        "0.3333333333333333]"), yaml = true)
      .tables.head.checks.head.asInstanceOf[KlDivergenceCheck]
    assert(thirds.weightsPpm.sum == 1000000L)
    assert(thirds.weightsPpm.sorted == Seq(333333L, 333333L, 333334L))
    // Unequal remainders: the bump lands on the LARGEST remainder
    // (0.2857... = 285714.28 loses to 0.5714... = 571428.57).
    val sevenths = SuiteLoader
      .parse(klYaml("[0.14285714285714285, 0.2857142857142857, " +
        "0.5714285714285714]"), yaml = true)
      .tables.head.checks.head.asInstanceOf[KlDivergenceCheck]
    assert(sevenths.weightsPpm.sum == 1000000L)
    assert(sevenths.weightsPpm == Seq(142857L, 285714L, 571429L),
      sevenths.weightsPpm.toString)
    // Exact ppm multiples pass through untouched.
    val exact = SuiteLoader
      .parse(klYaml("[0.75, 0.25]", values = "[a, b]"), yaml = true)
      .tables.head.checks.head.asInstanceOf[KlDivergenceCheck]
    assert(exact.weightsPpm == Seq(750000L, 250000L))
    // A genuinely short declaration is NOT silently normalized — the
    // check's exact-sum guard still fires.
    val ex = intercept[IllegalArgumentException] {
      SuiteLoader.parse(klYaml("[0.4, 0.4]", values = "[a, b]"),
        yaml = true)
    }
    assert(ex.getMessage.contains("1,000,000"), ex.getMessage)
  }
}
