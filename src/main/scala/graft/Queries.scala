package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.etl.Stages

/** The lane bodies of the engine's query surface (SURVEY.md §2
  * inventory). Each is a `(SparkSession, sfDir) => DataFrame`, registered
  * in [[Lanes.all]] with the ANSI SQL that DuckDB replays over the same
  * parquet tables (or its rows-only twin). Conventions, per
  * SURVEY.md §7.4:
  *   - deterministic output: every row-returning query ends in orderBy on
  *     a unique key; aggregates are single-row or ordered;
  *   - float aggregates rounded (2–4 dp) in BOTH engines;
  *   - column names aliased identically in Spark and SQL (driver hashes
  *     after sorting columns by name).
  */
object Queries {

  /** The reference's 10-value region whitelist analog
    * (pager-workflow.py:205-209) over the testdata's NATION_* names:
    * NATION_20..24 are deliberately excluded so the flagship check has
    * real violations to surface (mirrors test-pager-action.py:186's
    * intentionally-excluded region). */
  val regionWhitelist: Seq[String] = (0 to 19).map(i => s"NATION_$i")

  val marketSegments: Seq[String] =
    Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD") // MACHINERY deliberately excluded

  import Tables._

  // ---------------------------------------------------------------- D-series
  /** D1 — full-scan row count (pager-workflow.py:126). */
  def d1Count(s: SparkSession, d: String): DataFrame =
    lineitem(s, d).agg(count(lit(1)).as("cnt"))

  /** D2 — filtered null-key count (pager-workflow.py:127). Filter is
    * pushed to the parquet scan (IsNull pushdown). */
  def d2NullKeys(s: SparkSession, d: String): DataFrame =
    orders(s, d).filter(col("o_custkey").isNull)
      .agg(count(lit(1)).as("null_cnt"))

  /** D3 — distinct projection (pager-workflow.py:212-216). Column-pruned
    * scan of one column, hash-aggregate distinct. */
  def d3Distinct(s: SparkSession, d: String): DataFrame =
    region(s, d).select(col("r_name").as("region_name"))
      .distinct().orderBy("region_name")

  /** D4 — anti-membership whitelist over the staging model
    * (pager-workflow.py:205-221): DISTINCT region_name NOT IN (whitelist).
    * ANSI NOT-IN null semantics (null row silently dropped) — the
    * ''-default row-rule variant is [[r1RegionWhitelist]]. */
  def d4WhitelistViolations(s: SparkSession, d: String): DataFrame =
    Stages.stgTerritory(nation(s, d), region(s, d))
      .select("region_name").distinct()
      .filter(!col("region_name").isin(regionWhitelist: _*))
      .orderBy("region_name")

  // ---------------------------------------------------------------- R-series
  /** R1 — row-level whitelist rule (analysis.md:9,
    * `validate_region_whitelist`): missing region defaults to '' before
    * the membership test, then the sorted offender set is collected. */
  def r1RegionWhitelist(s: SparkSession, d: String): DataFrame =
    nation(s, d)
      .select(coalesce(col("n_name"), lit("")).as("region"))
      .filter(!coalesce(col("region"), lit("")).isin(regionWhitelist: _*))
      .distinct().orderBy("region")

  /** R2 — non-empty input rule (analysis.md:9, `validate_data_quality`). */
  def r2NonEmpty(s: SparkSession, d: String): DataFrame =
    customer(s, d).agg(
      count(lit(1)).as("record_count"),
      (count(lit(1)) > 0).as("passed"))

  /** R3 — schema-compliance rule (analysis.md:9,
    * `validate_schema_compliance`: required fields region/timestamp/value
    * → events' event_type/ts/value): rows with any required field null. */
  def r3SchemaCompliance(s: SparkSession, d: String): DataFrame =
    events(s, d).agg(
      count(lit(1)).as("element_count"),
      count(when(col("event_type").isNull || col("ts").isNull || col("value").isNull, lit(1)))
        .as("noncompliant"))

  /** R4 — business rule `value < 0` with missing-value default 0
    * (analysis.md:9, `validate_business_rules`). */
  def r4BusinessRule(s: SparkSession, d: String): DataFrame =
    events(s, d).agg(
      count(lit(1)).as("element_count"),
      count(when(coalesce(col("value"), lit(0.0)) < 0, lit(1))).as("violations"))

  // ---------------------------------------------------------------- T-series
  /** T1 — staging model stg_territory (SURVEY.md §2.4). */
  def t1StgTerritory(s: SparkSession, d: String): DataFrame =
    Stages.stgTerritory(nation(s, d), region(s, d)).orderBy("territory_key")

  /** T2 — staging model stg_salesperson. */
  def t2StgSalesperson(s: SparkSession, d: String): DataFrame =
    Stages.stgSalesperson(supplier(s, d)).orderBy("salesperson_key")

  /** T3 — mart model: one-shuffle fact join + broadcast dims. */
  def t3MartSales(s: SparkSession, d: String): DataFrame =
    Stages.martSalesPerformance(
      // Full-width slice ON PURPOSE (r18): the spread's partitioning is
      // REUSED by the l_orderkey join (guide 2.4 -- same key, same
      // count, no second exchange), so the width must equal the join's
      // shuffle width or the join itself narrows to the spread's
      // width. A measured 1 MB/task "right-sizing" to ~10 slices did
      // exactly that (1.63 s vs 1.15 s at 32c, clean windows); the
      // residual 8-vs-32-core inversion (0.87 vs 1.16 s) is the
      // lane's size at this SF, not the spread.
      spreadDocs(lineitem(s, d), "l_orderkey"),
      orders(s, d), customer(s, d), nation(s, d), region(s, d))
      .orderBy("region_name", "nation_name")

  /** T3b — the mart under ROLLUP ([[graft.etl.Stages.martSalesRollup]]):
    * nation rows + region subtotals + the grand total from ONE aggregate
    * over the same fact join; level = grouping(region)·2 +
    * grouping(nation) spelled out so the bit convention is the query's,
    * not an engine's. */
  def t3MartRollup(s: SparkSession, d: String): DataFrame =
    Stages.martSalesRollup(
      // Full width -- the t3MartSales exchange-reuse rationale.
      spreadDocs(lineitem(s, d), "l_orderkey"),
      orders(s, d), customer(s, d), nation(s, d), region(s, d))
      .orderBy("grouping_level", "region_name", "nation_name")

  /** T4 — SCD-2 snapshot merge ([[graft.etl.Scd2]]): dimension history
    * under a mutating source. The plant exercises every branch: closed
    * prior versions for custkey%50==0 (pass-through untouched), a
    * snapshot where %10==0 changed acctbal (+50 → close at ts + new
    * open version), %7==0-and-not-%10==0 keys absent (stay open —
    * hard deletes ignored), everything else unchanged (stay open), and
    * five brand-new keys (re-keyed past a SCALE-SAFE offset → plain
    * inserts). Ordered on (custkey, valid_from) — unique by
    * construction: a key has at most one version per effective date.
    *
    * The offset is `(floor(max(custkey)/100000)+1)·100000` via a
    * one-row broadcast cross join (the Mixing totals discipline, no
    * driver collect) — 100000 at sf≤0.1, but still collision-free at
    * sf1 where 150k customers would swallow a fixed +100000 re-key
    * into duplicate-key updates (ADVICE r10); the oracle replays the
    * same scalar subquery. */
  /** The shared T4/S7 SCD-2 plant — ONE definition, because the
    * streaming lane's batch replay hash-checks against the SAME oracle
    * (a drifted private copy would silently diverge the two): returns
    * (history = closed plants + open slice, updates, effective ts). */
  private def scd2Plant(s: SparkSession, d: String)
      : (DataFrame, DataFrame, Column) = {
    val cust = customer(s, d)
    val off = cust.agg(
      ((floor(max(col("c_custkey")) / lit(100000.0)) + 1) * lit(100000L))
        .as("__off"))
    val d1 = to_date(lit("2026-01-01"))
    val d2 = to_date(lit("2026-02-01"))
    val open = cust.select(col("c_custkey"), col("c_mktsegment"),
      col("c_acctbal"), d1.as("valid_from"),
      lit(null).cast("date").as("valid_to"), lit(true).as("is_current"))
    val closedPlant = cust.filter(col("c_custkey") % 50 === 0)
      .select(col("c_custkey"), col("c_mktsegment"),
        (col("c_acctbal") - 100).as("c_acctbal"),
        to_date(lit("2025-06-01")).as("valid_from"),
        d1.as("valid_to"), lit(false).as("is_current"))
    val updates = cust
      .filter(!(col("c_custkey") % 7 === 0 && !(col("c_custkey") % 10 === 0)))
      .withColumn("c_acctbal", when(col("c_custkey") % 10 === 0,
        col("c_acctbal") + 50).otherwise(col("c_acctbal")))
      .unionByName(cust.filter(col("c_custkey") <= 5)
        .crossJoin(broadcast(off))
        .withColumn("c_custkey", (col("c_custkey") + col("__off")).cast("long"))
        .drop("__off"))
      .select("c_custkey", "c_mktsegment", "c_acctbal")
    (closedPlant.unionByName(open), updates, d2)
  }

  def t4Scd2Snapshot(s: SparkSession, d: String): DataFrame = {
    val (history, updates, ts) = scd2Plant(s, d)
    graft.etl.Scd2.snapshot(history, updates,
        keys = Seq("c_custkey"), tracked = Seq("c_mktsegment", "c_acctbal"),
        ts = ts)
      .orderBy("c_custkey", "valid_from")
  }

  /** S7 — STREAMING SCD-2 upsert, batch-replayed ([[graft.stream
    * .StreamingScd2]], VERDICT r10 next #7): the T4 update snapshot
    * arrives as THREE key-partitioned micro-batches (`custkey mod 3`),
    * each driven through the foreachBatch engine path
    * (`upsertBatch` — the exact code a live stream runs per trigger).
    * Because [[graft.etl.Scd2.snapshot]] leaves keys absent from a
    * batch untouched, the sequential merges at one effective ts
    * compose to the one-shot T4 merge — so this hash-checks against
    * the SAME oracle, proving the stream's per-batch semantics, and
    * live MemoryStream parity is pinned by StreamingScd2Spec. */
  def s7StreamScd2(s: SparkSession, d: String): DataFrame = {
    val (history, updates, ts) = scd2Plant(s, d)
    val state = new graft.stream.StreamingScd2.DimState(history)
    (0L to 2L).foreach { b =>
      graft.stream.StreamingScd2.upsertBatch(state,
        updates.filter(pmod(col("c_custkey"), lit(3L)) === b),
        keys = Seq("c_custkey"), tracked = Seq("c_mktsegment", "c_acctbal"),
        ts = ts)
    }
    state.current.orderBy("c_custkey", "valid_from")
  }

  // ---------------------------------------------------------------- G-series
  // Great Expectations vocabulary (SURVEY.md §2.6) — each compiled to Spark
  // aggregations; value checks follow ANSI ternary null semantics.

  private def pct(df: DataFrame): DataFrame =
    df.withColumn("unexpected_percent",
      round(col("unexpected_count") * lit(100.0) / col("element_count"), 4))

  /** G1 — row-count bounds for every testdata table in one result. Each
    * count is a metadata-cheap scan (no columns read). */
  def g1RowCounts(s: SparkSession, d: String): DataFrame =
    Tables.all.map { t =>
      load(s, d, t).agg(count(lit(1)).as("cnt"))
        .select(lit(t).as("table_name"), col("cnt"))
    }.reduce(_.union(_)).orderBy("table_name")

  /** G2 — not-null over the orders key/attribute columns, one scan. */
  def g2NotNull(s: SparkSession, d: String): DataFrame =
    orders(s, d).agg(
      count(lit(1)).as("element_count"),
      count(when(col("o_orderkey").isNull, lit(1))).as("null_orderkey"),
      count(when(col("o_custkey").isNull, lit(1))).as("null_custkey"),
      count(when(col("o_orderdate").isNull, lit(1))).as("null_orderdate"))

  /** G3 — in-set over customer market segments (MACHINERY deliberately
    * outside the allowed set), with a bounded sorted offender sample.
    * The sample comes from a distinct→orderBy→limit top-k
    * (TakeOrderedAndProject — per-partition top-k, never an unbounded
    * collect_set into one agg buffer), cross-joined onto the one-row
    * counts aggregate. */
  def g3InSet(s: SparkSession, d: String): DataFrame = {
    val bad = !col("c_mktsegment").isin(marketSegments: _*)
    val counts = pct(customer(s, d).agg(
      count(lit(1)).as("element_count"),
      count(when(bad, lit(1))).as("unexpected_count")))
    val sample = customer(s, d).filter(bad)
      .select(col("c_mktsegment")).distinct().orderBy("c_mktsegment").limit(20)
      .agg(coalesce(array_join(collect_list(col("c_mktsegment")), ","), lit(""))
        .as("unexpected_sample"))
    counts.crossJoin(sample)
      .select("element_count", "unexpected_count", "unexpected_percent", "unexpected_sample")
  }

  /** G4 — not-in-set blocklist dual: orders stuck in status 'P'. */
  def g4NotInSet(s: SparkSession, d: String): DataFrame =
    pct(orders(s, d).agg(
      count(lit(1)).as("element_count"),
      count(when(col("o_orderstatus").isin("P"), lit(1))).as("unexpected_count")))

  /** G5 — value-range bounds on lineitem quantity and discount, one scan. */
  def g5Between(s: SparkSession, d: String): DataFrame =
    lineitem(s, d).agg(
      count(lit(1)).as("element_count"),
      count(when(col("l_quantity") < 1 || col("l_quantity") > 50, lit(1)))
        .as("qty_out_of_range"),
      count(when(col("l_discount") < 0 || col("l_discount") > 0.1, lit(1)))
        .as("discount_out_of_range"))

  /** G6 — table columns match: lineitem's column set, as ordered rows
    * (pure metadata on the Spark side — no job beyond schema read). */
  def g6SchemaColumns(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    lineitem(s, d).schema.fieldNames.sorted.toSeq.toDF("column_name")
  }

  /** G7 — single-column uniqueness on the orders PK: one partial-agg
    * shuffle of (key,count) pairs, never raw rows. */
  def g7Unique(s: SparkSession, d: String): DataFrame =
    orders(s, d).groupBy("o_orderkey").agg(count(lit(1)).as("cnt"))
      .agg(
        count(when(col("cnt") > 1, lit(1))).as("dup_keys"),
        coalesce(sum(when(col("cnt") > 1, col("cnt"))), lit(0L)).as("dup_rows"))

  /** G8 — compound uniqueness on lineitem (orderkey, linenumber). */
  def g8CompoundUnique(s: SparkSession, d: String): DataFrame =
    lineitem(s, d).groupBy("l_orderkey", "l_linenumber").agg(count(lit(1)).as("cnt"))
      .agg(
        count(when(col("cnt") > 1, lit(1))).as("dup_keys"),
        coalesce(sum(when(col("cnt") > 1, col("cnt"))), lit(0L)).as("dup_rows"))

  /** G9 — regex shape check on order priority codes. */
  def g9Regex(s: SparkSession, d: String): DataFrame =
    pct(orders(s, d).agg(
      count(lit(1)).as("element_count"),
      count(when(!col("o_orderpriority").rlike("^[1-5]-[A-Z ]+$"), lit(1)))
        .as("unexpected_count")))

  /** G10 — type conformance via cast null-diff: events.props (JSON text)
    * must NOT be silently castable to a number; user_id must be. */
  def g10TypeCast(s: SparkSession, d: String): DataFrame =
    events(s, d).agg(
      count(lit(1)).as("element_count"),
      count(when(col("props").isNotNull && expr("try_cast(props AS DOUBLE)").isNull, lit(1)))
        .as("props_non_numeric"),
      count(when(col("user_id").isNotNull && expr("try_cast(user_id AS STRING)").isNull, lit(1)))
        .as("user_id_non_string"))

  /** G11 — aggregate profiling bounds on customer balances. The mean
    * accumulates in DECIMAL (exact, order-independent) and divides once
    * in double — see Stages.martSalesPerformance. */
  def g11AggBounds(s: SparkSession, d: String): DataFrame =
    customer(s, d).agg(
      count(lit(1)).as("element_count"),
      round(sum(col("c_acctbal").cast("decimal(18,4)")).cast("double") /
        count(col("c_acctbal")), 2).as("mean_acctbal"),
      round(min(col("c_acctbal")), 2).as("min_acctbal"),
      round(max(col("c_acctbal")), 2).as("max_acctbal"))

  /** G12 — column-pair rule: extended price must exceed quantity. */
  def g12PairGreater(s: SparkSession, d: String): DataFrame =
    pct(lineitem(s, d).agg(
      count(lit(1)).as("element_count"),
      count(when(col("l_extendedprice") <= col("l_quantity"), lit(1)))
        .as("unexpected_count")))

  /** G13–G15 — value-length, distinct-count, and quantile expectations
    * over customer, fused into one scan (the quantile sorts inside the
    * same aggregate). */
  def g13G15Profile(s: SparkSession, d: String): DataFrame =
    customer(s, d).agg(
      count(lit(1)).as("element_count"),
      count(when(length(col("c_name")) < 5 || length(col("c_name")) > 30, lit(1)))
        .as("name_length_out_of_range"),
      countDistinct(col("c_mktsegment")).as("distinct_segments"),
      round(expr("percentile(c_acctbal, 0.5)"), 4).as("median_acctbal"),
      round(expr("percentile(c_acctbal, 0.95)"), 4).as("p95_acctbal"))

  // ------------------------------------------------------------ V/P-series
  /** V2 — the post-transform validation suite itself as a query: the
    * engine's ValidationSuite (run-all, per-check capture, one fused job
    * per table) over the T1–T3 outputs, with the flagship whitelist.
    * Output = the reference's per-test summary table
    * (pager-workflow.py:236-245). */
  def v2SuiteSummary(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val result = graft.pipeline.Pipeline.validateTransformed(
      graft.pipeline.Pipeline.transform(s, d), regionWhitelist)
    result.details
      .map(r => (r.validationName, r.status, r.elementCount, r.unexpectedCount))
      .toDF("validation_name", "status", "element_count", "unexpected_count")
      .orderBy("validation_name")
  }

  /** G16 — the declarative expectation-suite surface (the GE authoring
    * loop the reference scaffolds but never populates): the checked-in
    * JSON suite is parsed by [[graft.suite.SuiteLoader]], compiled to
    * engine checks, and run through the fused ValidationSuite — adding an
    * expectation is a file edit, not a recompile. */
  def g16DeclarativeSuite(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val spec = graft.suite.SuiteLoader.load("suites/testdata_core.json")
    val result = graft.suite.ValidationSuite.run(
      graft.suite.SuiteLoader.bind(s, d, spec))
    result.details
      .map(r => (r.validationName, r.status, r.elementCount, r.unexpectedCount))
      .toDF("validation_name", "status", "element_count", "unexpected_count")
      .orderBy("validation_name")
  }

  /** V5 — cross-run drift checks (the EvaluationParameterStore loop):
    * a baseline "previous run" — the orders table minus keys ≡ 0 mod 10,
    * a deterministic ~10% shrink — is validated and persisted through the
    * real [[graft.sink.ResultStore]]; its recorded count is then read
    * back as an evaluation parameter for two [[graft.checks
    * .RowCountDriftCheck]]s over today's full table: ±15% admits the
    * ~11% drift, ±5% flags it. */
  /** Memoized drift baselines: the "previous run" is written through the
    * real ResultStore and read back ONCE per (JVM, sfDir) — without this,
    * every plan-building context (Explain, each Bench warm-up and rep)
    * re-ran the baseline suite and leaked a fresh temp store dir. */
  private val driftBaselines =
    scala.collection.concurrent.TrieMap.empty[String, (String, Long)]

  def v5DriftCheck(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import graft.checks.{EvaluationParameters, RowCountCheck, RowCountDriftCheck}
    import graft.suite.{TableChecks, ValidationSuite}
    val (runId, base) = driftBaselines.getOrElseUpdate(d, {
      val store = java.nio.file.Files
        .createTempDirectory("graft_drift_store").toString
      val baseline = orders(s, d).filter(col("o_orderkey") % 10 =!= 0)
      val prior = ValidationSuite.run(
        Seq(TableChecks("orders", baseline, Seq(RowCountCheck()))))
      graft.sink.ResultStore.write(s, prior, store, "2026-01-01T00:00:00Z")
      EvaluationParameters
        .lastRunElementCount(s, store, "orders.row_count_between")
        .getOrElse(sys.error("baseline run missing from drift store"))
    })
    val result = ValidationSuite.run(Seq(TableChecks("orders", orders(s, d),
      Seq(RowCountDriftCheck(runId, base, 15.0),
        RowCountDriftCheck(runId, base, 5.0)))))
    result.details
      .map(r => (r.validationName, r.status, r.elementCount, r.unexpectedCount,
        BigDecimal(r.unexpectedPercent).setScale(4, BigDecimal.RoundingMode.HALF_UP)
          .toDouble))
      .toDF("validation_name", "status", "element_count", "unexpected_count",
        "pct_change")
      .orderBy("validation_name")
  }

  /** V6 — the GE-checkpoint analog end-to-end: the checked-in checkpoint
    * file loads the declarative suite, runs it fused, persists results
    * through the ResultStore, and the QUERY OUTPUT is the store read
    * back — so the correctness row covers the file → run → persist →
    * read loop, not just the in-memory verdicts. */
  def v6CheckpointRun(s: SparkSession, d: String): DataFrame = {
    val runId = "2026-01-01T00:00:00Z"
    val store = persistedIndexDir("graft_ckpt_store", d) { dir =>
      val spec = graft.suite.Checkpoint.load("checkpoints/testdata_core.json")
      graft.suite.Checkpoint.run(s, d, spec, dir, runId)
    }
    graft.sink.ResultStore.read(s, store, Some(runId))
      .select("run_id", "validation_name", "status",
        "element_count", "unexpected_count")
      .orderBy("validation_name")
  }

  /** P1–P4 — the Glue ETL diamond's final (beta) layer. */
  def p5EtlDiamond(s: SparkSession, d: String): DataFrame =
    graft.etl.PharmaEtl.betaLayer(s, d)

  /** V1 — the pre-transform gate itself as a query (runGate over the raw
    * dims; all checks pass on the testdata, so the gate admits). */
  def v1RawGate(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.pipeline.Pipeline.validateRaw(s, d).details
      .map(r => (r.validationName, r.status, r.elementCount, r.unexpectedCount))
      .toDF("validation_name", "status", "element_count", "unexpected_count")
      .orderBy("validation_name")
  }

  // ---------------------------------------------------------------- X-series
  // LLM-training-data operators (SURVEY.md §2.7) over documents/embeddings.
  import graft.ext.{Anomaly, Dedup, Multimodal, Similarity, TextAnalysis}

  /** X1a — exact dedup on normalized text: keep-first per fingerprint. */
  def x1ExactDedup(s: SparkSession, d: String): DataFrame =
    Dedup.exactDedup(documents(s, d))
      .select("doc_id", "lang", "source", "n_chars").orderBy("doc_id")

  /** The keeper-policy test plant — ONE definition shared by
    * [[x1DedupKeepBest]] and [[x10KeepbestFunnel]] (and mirrored by
    * both oracles): docs 0–9 re-keyed +10000 with whitespace padding,
    * so each plant normalizes into its original's family while
    * carrying MORE raw characters — the raw-longest keeper must pick
    * it wherever min-key would keep the original. */
  private def paddedDocs(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    docs.unionByName(docs.filter(col("doc_id") < 10)
      .withColumn("doc_id", col("doc_id") + 10000)
      .withColumn("text", concat(lit("  "), col("text"), lit("  ")))
      .withColumn("n_chars", length(col("text")).cast("long")))
  }

  /** X1a-best — keeper-policy exact dedup: keep the LONGEST raw copy
    * per duplicate family (quality = `length(text)`), ties to min
    * doc_id. The [[paddedDocs]] plant makes the policy observable: the
    * padded +10000 copies normalize into their originals' families but
    * carry MORE raw characters, so keep-best must pick them everywhere
    * min-key dedup would keep the original — a survivor set provably
    * different from [[x1ExactDedup]]'s. Null-text plants stay null
    * (concat null-propagates in both engines) and lose on the
    * null-quality floor's min-key tie-break. */
  def x1DedupKeepBest(s: SparkSession, d: String): DataFrame =
    Dedup.exactDedupKeepBest(paddedDocs(s, d), length(col("text")))
      .select("doc_id", "lang", "source", "n_chars").orderBy("doc_id")

  /** The cross-shard test plant every incremental/streaming dedup
    * query shares: history = docs 0–299; shard = docs 300+ plus
    * planted cross-shard duplicates (docs 0–9 re-keyed +10000 — new
    * ids, history text) and, with `withSecondCopy`, planted
    * intra-shard duplicates of those (docs 0–4 re-keyed +20000, which
    * must lose the intra-shard min-key race AND match history). ONE
    * definition: the +10000/+20000 legs are exactly what the shared
    * incremental-dedup oracle replays, so a drifted private copy would
    * silently diverge a rows-only query from its parity spec. */
  private[graft] def plantedShard(docs: DataFrame, withSecondCopy: Boolean)
      : (DataFrame, DataFrame) = {
    val history = docs.filter(col("doc_id") < 300)
    val base = docs.filter(col("doc_id") >= 300)
      .unionByName(docs.filter(col("doc_id") < 10)
        .withColumn("doc_id", col("doc_id") + 10000))
    val shard =
      if (withSecondCopy) base.unionByName(docs.filter(col("doc_id") < 5)
        .withColumn("doc_id", col("doc_id") + 20000))
      else base
    (history, shard)
  }

  /** Deterministic corpus for the planted-copy oracle variants of the
    * randomized-family dedup paths (the [[x1EmbedNeardup]] trick,
    * generalized): every document's text is rewritten to
    * `greatest(4, n_tok)` repetitions of a token unique to its doc_id,
    * so (a) any two DISTINCT documents share zero 4-gram shingles — no
    * hash family at any band layout can ever make them candidates
    * (MinHash collision probability equals Jaccard = 0; SimHash
    * signatures are independent 64-bit patterns, P(Hamming ≤ 6) ≈
    * 5·10⁻¹²) — while (b) planted re-keyed copies stay byte-identical
    * to their source — identical signatures, detected by EVERY family
    * with estimated Jaccard exactly 1.0 / Hamming exactly 0. Detection
    * is therefore hash-family-invariant, and a DuckDB oracle replays
    * the exact survivor/pair set from the planted structure alone.
    * Shingle-count structure (n_tok) still derives from the real
    * table, so corpus size and per-doc shingle mass track the data. */
  private def uniquifiedDocs(s: SparkSession, d: String): DataFrame =
    documents(s, d)
      .withColumn("__nt", TextAnalysis.tokenCount(col("text")))
      .select(col("doc_id"), col("source"),
        expr("trim(repeat(concat('d', cast(doc_id as string), 'x '), " +
          "cast(greatest(4, __nt) as int)))").as("text"))

  /** S3-planted — [[s3StreamNeardup]]'s operator with a fully
    * deterministic plant: history = uniquified docs < 300's MinHash
    * index; shard = uniquified docs ≥ 300 (all-new — zero shared
    * shingles with history) plus re-keyed byte-identical copies of
    * docs 0–9 (est. Jaccard 1.0 — drop at any band layout). The DuckDB
    * NOT-EXISTS oracle replays the survivor set exactly; the
    * general-background behavior stays covered by the rows-only
    * [[s3StreamNeardup]]. */
  def s3PlantedNeardup(s: SparkSession, d: String): DataFrame = {
    val u = uniquifiedDocs(s, d)
    val history = u.filter(col("doc_id") < 300)
    val shard = u.filter(col("doc_id") >= 300)
      .unionByName(u.filter(col("doc_id") < 10)
        .withColumn("doc_id", col("doc_id") + 10000))
    val historySigs = Pin(Dedup.minhashSignatures(history, n = 4))
    graft.stream.StreamingDedup.minhashDropStreamAgainst(
        shard, historySigs, n = 4, bands = 8, minSim = 0.7)
      .select("doc_id").orderBy("doc_id")
  }

  /** S4-planted — the SimHash analog of [[s3PlantedNeardup]]: same
    * uniquified plant through [[graft.stream.StreamingDedup
    * .simhashDropStreamAgainst]]; copies drop at Hamming 0, background
    * survives (independent 64-bit signatures). Same NOT-EXISTS
    * oracle shape. */
  def s4PlantedSimhash(s: SparkSession, d: String): DataFrame = {
    val u = uniquifiedDocs(s, d)
    val history = u.filter(col("doc_id") < 300)
    val shard = u.filter(col("doc_id") >= 300)
      .unionByName(u.filter(col("doc_id") < 10)
        .withColumn("doc_id", col("doc_id") + 10000))
    val historySigs = Pin(Dedup.simhashSignatures(history, n = 4))
    graft.stream.StreamingDedup.simhashDropStreamAgainst(
        shard, historySigs, n = 4, maxHamming = 6)
      .select("doc_id").orderBy("doc_id")
  }

  /** X1c-planted — [[x1MinhashPairs]]'s operator over the uniquified
    * corpus plus byte-identical copies of docs 0–4 re-keyed +20000:
    * the pair set is exactly {(i, i+20000) | i < 5} at est_jaccard
    * 1.0 for ANY hash family (identical signatures agree on all 64
    * rows; distinct docs share no shingles so no background candidate
    * ever forms). The oracle replays it as a self-join on rebuilt
    * text equality. */
  def x1MinhashPlanted(s: SparkSession, d: String): DataFrame = {
    val u = uniquifiedDocs(s, d)
    val corpus = u.unionByName(u.filter(col("doc_id") < 5)
      .withColumn("doc_id", col("doc_id") + 20000))
    Dedup.minhashPairs(corpus, n = 4, bands = 8, minSim = 0.7)
  }

  /** X1d-planted — the SimHash pair analog: planted copies collide at
    * Hamming exactly 0; background signatures are independent 64-bit
    * patterns (no shared shingles), so the banded join yields no
    * candidate and the pair set is deterministic. */
  def x1SimhashPlanted(s: SparkSession, d: String): DataFrame = {
    val u = uniquifiedDocs(s, d)
    val corpus = u.unionByName(u.filter(col("doc_id") < 5)
      .withColumn("doc_id", col("doc_id") + 20000))
    Dedup.simhashPairs(corpus, n = 4, maxHamming = 6)
  }

  /** X1h — incremental (cross-shard) exact dedup, the nightly-pipeline
    * shape: today's shard dedups within itself, then against the frozen
    * fingerprint index of prior shards (keep-history). Plant per
    * [[plantedShard]]; output = surviving shard doc_ids; every plant
    * must be absent. */
  def x1IncrementalDedup(s: SparkSession, d: String): DataFrame = {
    val (history, shard) = plantedShard(documents(s, d), withSecondCopy = true)
    Dedup.exactDedupAgainst(shard, Dedup.fingerprints(history))
      .select("doc_id").orderBy("doc_id")
  }

  /** X1a+bloom — the same cross-shard plant as [[x1IncrementalDedup]]
    * through [[Dedup.exactDedupAgainstBloom]]: bloom-negative survivors
    * bypass the history anti join map-side, positives verify exactly.
    * Hash-matches the SAME NOT-EXISTS oracle — the sketch is
    * result-invisible by construction (no false negatives; positives
    * verified). Sized small (fpp 0.05) so false positives actually
    * occur and the verify path is exercised, not vacuous. */
  def x1BloomDedup(s: SparkSession, d: String): DataFrame = {
    val (history, shard) = plantedShard(documents(s, d), withSecondCopy = true)
    val historyFp = Pin(Dedup.fingerprints(history))
    val bloom = graft.ext.BloomIndex.build(historyFp,
      expectedItems = 1000L, fpp = 0.05)
    Dedup.exactDedupAgainstBloom(shard, historyFp, bloom)
      .select("doc_id").orderBy("doc_id")
  }

  /** X1h-best — keeper-policy INCREMENTAL dedup ([[graft.ext.Dedup
    * .exactDedupKeepBestAgainst]], VERDICT r10 next #4): intra-shard
    * keep-best (max raw length, ties min key), then unconditional drop
    * vs the frozen history fingerprint index. Two plant legs prove the
    * two halves:
    *
    *  - docs 300–309 re-keyed +10000 and padded: LONGER than their
    *    in-shard originals and absent from history → the padded copy
    *    must WIN intra-shard (min-key dedup would keep the original);
    *  - docs 0–9 re-keyed +30000 and padded: strictly higher quality
    *    than the history copy, alone in their shard family → they
    *    survive intra-shard but MUST drop against history anyway — the
    *    keeper policy never overrides the immutable-history contract
    *    (the index carries no quality to compare; shipped shards don't
    *    rewrite).
    *
    * Output = surviving shard doc_ids; the oracle replays the padded
    * unions, the DESC/ASC keeper window, and the NOT-EXISTS history
    * drop. */
  def x1KeepbestAgainst(s: SparkSession, d: String): DataFrame = {
    val (history, shard) = keepbestPlant(s, d)
    Dedup.exactDedupKeepBestAgainst(shard, Dedup.fingerprints(history),
        length(col("text")))
      .select("doc_id").orderBy("doc_id")
  }

  /** The keeper-incremental plant — ONE definition shared by
    * [[x1KeepbestAgainst]] and [[x1KeepbestBloom]] (both hash against
    * the same oracle replay of these exact unions, so a drifted
    * private copy would silently diverge them). */
  private def keepbestPlant(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val docs = documents(s, d)
    def pad(df: DataFrame, off: Int): DataFrame = df
      .withColumn("doc_id", col("doc_id") + off)
      .withColumn("text", concat(lit("  "), col("text"), lit("  ")))
      .withColumn("n_chars", length(col("text")).cast("long"))
    val history = docs.filter(col("doc_id") < 300)
    val shard = docs.filter(col("doc_id") >= 300)
      .unionByName(pad(
        docs.filter(col("doc_id") >= 300 && col("doc_id") < 310), 10000))
      .unionByName(pad(docs.filter(col("doc_id") < 10), 30000))
    (history, shard)
  }

  /** X1h-best+bloom — the keeper lane through the [[graft.ext.Dedup
    * .exactDedupKeepBestAgainstBloom]] sketch gate: same plant as
    * [[x1KeepbestAgainst]], hash-matched against the SAME oracle (the
    * sketch is result-invisible — no false negatives, positives
    * verified; the x1_bloom_dedup contract applied to the keeper
    * policy). Sized small (fpp 0.05) so false positives occur and the
    * verify path is exercised, not vacuous. */
  def x1KeepbestBloom(s: SparkSession, d: String): DataFrame = {
    val (history, shard) = keepbestPlant(s, d)
    val historyFp = Pin(Dedup.fingerprints(history))
    val bloom = graft.ext.BloomIndex.build(historyFp,
      expectedItems = 1000L, fpp = 0.05)
    Dedup.exactDedupKeepBestAgainstBloom(shard, historyFp, bloom,
        length(col("text")))
      .select("doc_id").orderBy("doc_id")
  }

  /** X17 — soft dedup: every copy kept, duplicate families down-
    * weighted to ~one document of sampling mass
    * ([[graft.ext.Dedup.softDedupWeights]]). The [[plantedShard]]
    * union gives known family sizes (3 for docs 0–4, 2 for docs 5–9,
    * plus whatever the corpus itself repeats); the oracle re-derives
    * the census and the floor(10⁶/n) weight independently. */
  def x17SoftDedup(s: SparkSession, d: String): DataFrame = {
    val (history, shard) = plantedShard(documents(s, d), withSecondCopy = true)
    graft.ext.Dedup.softDedupWeights(history.unionByName(shard))
      .select("doc_id", "soft_dup_count", "soft_weight_ppm")
      .orderBy("doc_id")
  }

  /** X1b — exact n-gram Jaccard near-dup pairs via shingle inverted
    * index (testdata has planted near-duplicates at sim ≥ 0.97).
    * n=4: the corpus draws from a ~31-word vocabulary, so 3-gram document
    * frequency is huge (avg ~27 at sf0.1 → ~22M candidate pairs); 4-grams
    * keep the planted dups (identical pair set at ≥0.8) with ~1/30th the
    * inverted-index fan-out. */
  def x1JaccardPairs(s: SparkSession, d: String): DataFrame =
    Dedup.jaccardPairs(documents(s, d), n = 4, minSim = 0.8)

  /** X1c — MinHash-LSH candidate near-dup pairs (signature-estimated
    * Jaccard; randomized family is engine-specific → rows-only check,
    * recall asserted against X1b in the test suite). 8 bands × 8 rows:
    * planted dups (jac ≈ 0.97 → band-collision ~0.78, ≥1-of-8 ≈ 1.0)
    * all surface, while the corpus's moderate-jac background (every doc
    * shares the ~31-word vocabulary) stays out of the candidate set. */
  def x1MinhashPairs(s: SparkSession, d: String): DataFrame =
    Dedup.minhashPairs(documents(s, d), n = 4, bands = 8, minSim = 0.7)

  /** X1d — SimHash Hamming-banded near-dup pairs (rows-only check).
    * The bucket cap IS engaged here (VERDICT r8 #1): on this low-entropy
    * corpus the uncapped band join approaches all-pairs, and planted
    * recall under caps far tighter than 64 is pinned by DedupSpec. */
  def x1SimhashPairs(s: SparkSession, d: String): DataFrame =
    Dedup.simhashPairs(documents(s, d), n = 4, maxHamming = 6,
      maxBucketSize = Some(64))

  /** X1f — fuzzy-dedup resolution: the X1b pair set resolved to keep/drop
    * decisions via connected components (min-label propagation) and
    * keep-lowest-per-cluster. One row per document that appears in any
    * candidate pair; the oracle replays the components with a recursive
    * reachability CTE over the same jaccard pairs. */
  def x1DedupGroups(s: SparkSession, d: String): DataFrame = {
    val pairs = Dedup.jaccardPairs(documents(s, d), n = 4, minSim = 0.8)
    graft.ext.DedupResolve.connectedComponents(pairs)
      .select(col("id").as("doc_id"), col("component").as("cluster_id"),
        (col("id") === col("component")).as("keep"))
      .orderBy("doc_id")
  }

  /** X1g — cross-corpus span-level dedup (C4/RefinedWeb "keep one
    * occurrence of a duplicated span"): token-block spans (width 8 —
    * the testdata has no newline structure, so line granularity would
    * degenerate to whole-document dedup), duplicated blocks dropped
    * everywhere but their first (doc_id, pos) occurrence, documents
    * reassembled. One row per document: span census + the md5 of the
    * rewritten text, so a single wrong keep/drop decision on either
    * engine breaks the hash. */
  def x1SpanDedup(s: SparkSession, d: String): DataFrame =
    graft.ext.SpanDedup.dedupTokenSpans(documents(s, d), width = 8, minCount = 2)
      .select(col("doc_id"), col("n_spans"), col("n_dropped"),
        md5(col("text").cast("binary")).as("text_md5"))
      .orderBy("doc_id")

  /** X1g2 — exact-SUBSTRING dedup (Lee et al. shape): every 17th doc
    * gains the same 12-token phrase at an ALIGNMENT-BREAKING offset
    * (0–2 'off' pad tokens by doc_id % 3), so fixed 8-token blocks hash
    * it differently per doc and would miss it — the stride-1 window
    * census must drop it everywhere except doc 0's copy. One row per
    * document with the md5 of the rebuilt text: a single wrong
    * keep/drop decision on either engine breaks the hash. */
  def x1SubstringDedup(s: SparkSession, d: String): DataFrame = {
    val planted = spreadDocs(documents(s, d)).withColumn("text",
      when(pmod(col("doc_id"), lit(17)) === 0,
        concat(col("text"), expr("repeat(' off', doc_id % 3)"),
          lit(" the shared boilerplate sentence that repeats across many" +
            " documents verbatim exactly once")))
        .otherwise(col("text")))
    graft.ext.SpanDedup.dedupSubstrings(planted, width = 8, minCount = 2)
      .select(col("doc_id"), col("n_tokens"), col("n_dropped"),
        md5(col("text").cast("binary")).as("text_md5"))
      .orderBy("doc_id")
  }

  /** X1e — embedding-cosine near-duplicate pairs. The base corpus has no
    * pairs above 0.52, so five exact copies (vec_id + 100000) are planted
    * deterministically; identical vectors share every LSH band, so the
    * bucketed candidate generation finds them with probability 1 and the
    * output equals the brute-force oracle. */
  def x1EmbedNearDup(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    // Offset derived from the corpus, not hard-coded: a fixed constant
    // would collide with real ids at larger scale factors. Kept INSIDE the
    // plan (one-row aggregate broadcast-crossed onto the planted rows) so
    // merely constructing this query runs zero Spark jobs — the old
    // `.head()` here executed a full embeddings scan at plan-build time
    // (VERDICT r2 "What's wrong" #3).
    val offset = emb.agg((max(col("vec_id")) + 1).as("__offset"))
    val planted = emb.filter(col("vec_id") < 5)
      .crossJoin(broadcast(offset))
      .select((col("vec_id") + col("__offset")).as("vec_id"),
        col("embedding"), col("label"))
    Similarity.nearDupPairs(emb.unionByName(planted), minSim = 0.95)
  }

  /** X2e — SemDeDup decisions over the planted-copy corpus. Oracle-
    * checkable DESPITE the un-replayable k-means: identical vectors are
    * assigned identically by the quantizer (a pure function of the
    * vector), so at minCosine=0.95 — above the base corpus's 0.52
    * maximum — the within-cluster pair set equals the global brute-force
    * pair set at ANY k, and the oracle replays that plus the component
    * resolution. */
  def x2SemDedup(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val offset = emb.agg((max(col("vec_id")) + 1).as("__offset"))
    val planted = emb.filter(col("vec_id") < 5)
      .crossJoin(broadcast(offset))
      .select((col("vec_id") + col("__offset")).as("vec_id"),
        col("embedding"), col("label"))
    graft.ext.SemDedup.decisions(emb.unionByName(planted), k = 8, iters = 2,
      minCosine = 0.95)
  }

  /** X2a — exact brute-force cosine top-k: 10 query vectors, k=5. */
  def x2TopkCosine(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
  }

  /** X2g — hard-negative mining ([[graft.ext.Similarity
    * .hardNegatives]]): per query, the 5 most-similar candidates in
    * the [0.0, 0.95] cosine band — related enough to be informative,
    * below the near-dup gate so no positive leaks into the negative
    * set (the contrastive-training data need). Deterministic (6-dp
    * sim, id tiebreak), so the oracle replays the band filter and the
    * ranking exactly; duplicate exclusion proven with a planted copy
    * in SimilaritySpec. */
  def x2HardNegatives(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    Similarity.hardNegatives(emb, emb.filter(col("vec_id") < 10),
      k = 5, minSim = 0.0, maxSim = 0.95)
  }

  /** X2f — Matryoshka two-stage retrieval: 16-of-64-dim candidate
    * search (k·4 = 20 candidates), exact full-dim re-rank to k = 5.
    * Deterministic end to end — the oracle replays BOTH stages (the
    * truncated-prefix ranking and the full-dim re-rank), making this
    * the hash-checked fast-retrieval lane next to the rows-only
    * LSH/IVF ones. */
  def x2MrlTopk(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    Similarity.mrlTopK(emb, emb.filter(col("vec_id") < 10),
      k = 5, dims = 16, candMult = 4)
  }

  /** X2b — LSH-bucketed approximate top-k (rows-only check; recall vs
    * X2a asserted in the test suite; the planted twin below is the
    * oracle-checked lane). */
  def x2AnnTopk(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    Similarity.annTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
  }

  /** Query vectors byte-identical to corpus vectors 0-9, re-keyed past
    * the corpus id range — the planted fixture shared by the ANN and IVF
    * oracle twins. */
  private def plantedQueryVecs(emb: DataFrame): DataFrame = {
    val offset = emb.agg((max(col("vec_id")) + 1).as("__offset"))
    emb.filter(col("vec_id") < 10)
      .crossJoin(broadcast(offset))
      .select((col("vec_id") + col("__offset")).as("vec_id"),
        col("embedding"), col("label"))
  }

  /** X2b-planted — [[x2AnnTopk]]'s operator with byte-identical planted
    * query vectors: an identical vector produces the identical sign
    * signature under ANY hyperplane family (always a candidate, in every
    * band), and its cosine is exactly 1.0 — far above the base corpus's
    * pairwise maximum (~0.52) — so the rank-1 row (source vector,
    * sim 1.0) is hash-family-invariant and a brute-force DuckDB replay
    * is a true oracle. Ranks 2+ remain family-specific, so only rank 1
    * is emitted (the [[x1MinhashPlanted]] trick applied to X2b). */
  def x2AnnPlanted(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    Similarity.annTopK(emb, plantedQueryVecs(emb), k = 5)
      .filter(col("rank") === 1)
      .orderBy("query_id")
  }

  /** X2c — IVF (k-means coarse quantizer) approximate top-k (rows-only
    * check; exactness at nProbe=k asserted in the test suite). */
  def x2IvfTopk(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val model = graft.ext.IvfIndex.build(emb, k = 8, iters = 2)
    // Pin the top-k, then release the index cache.
    Pin.releasing(graft.ext.IvfIndex
      .topK(model, emb, emb.filter(col("vec_id") < 10), k = 5, nProbe = 3))(
      model.release())
  }

  /** X2c-planted — [[x2IvfTopk]]'s operator over the planted queries:
    * the coarse quantizer is a pure function of the vector, so a
    * byte-identical query scores the k centroids identically to its
    * source and always probes the source's inverted list — the source
    * is a candidate under ANY centroid seed/iteration count, and at
    * cosine exactly 1.0 it is the rank-1 row. Same brute-force oracle
    * as [[x2AnnPlanted]]. */
  def x2IvfPlanted(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val model = graft.ext.IvfIndex.build(emb, k = 8, iters = 2)
    // Pin the rank-1 rows, then release the index cache.
    Pin.releasing(graft.ext.IvfIndex
      .topK(model, emb, plantedQueryVecs(emb), k = 5, nProbe = 3)
      .filter(col("rank") === 1)
      .orderBy("query_id"))(model.release())
  }

  /** X2i — product-quantization ADC top-k over the real embeddings
    * ([[graft.ext.PqIndex]]): codebooks trained with the deterministic
    * first-K seeding, the corpus compressed to M=4 byte codes, queries
    * scored via the per-query LUT + O(M) ADC lookups. Approximate by
    * nature (the X2b/X2c posture) — rows-only, recall pinned against
    * bruteForceTopK in PqIndexSpec, certainty carried by the
    * [[x2PqPlanted]] twin. */
  def x2PqTopk(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    // Measured recall@5 vs brute force: 0.80 at sf0.01 / 0.90 at
    // sf0.001 under m=32 × k=128 × 3 iters (still 8× compression) —
    // the near-random corpus is PQ's WORST case (no manifold to
    // exploit: m=4 × k=16 cratered to 0.16, m=8 × k=64 to 0.36);
    // real embedding clusters quantize far coarser. Floor pinned in
    // PqIndexSpec. Codebooks + codes persist once per JVM (the
    // x16_dsir_against train-once-probe-cheaply contract; save→load
    // probe parity pinned in PqIndexSpec).
    val dir = persistedIndexDir("pq_index", d) { dir =>
      val model = graft.ext.PqIndex.train(emb, m = 32, k = 128, iters = 3)
      graft.ext.PqIndex.save(model,
        graft.ext.PqIndex.encode(model, emb), dir)
    }
    val (model, codes) = graft.ext.PqIndex.load(s, dir)
    graft.ext.PqIndex.topK(model, codes,
        emb.filter(col("vec_id") < 10), kNN = 5)
      .orderBy("query_id", "rank")
  }

  /** X2i-planted — the SAME encode/LUT/ADC machinery under an EXPLICIT
    * codebook that reproduces its constructed corpus exactly: every
    * sub-vector IS a codeword (4 distinct small-integer codewords per
    * sub-space, vector m-th slice = codeword (vec_id + m) % 4), so
    * encoding is reconstruction-error-ZERO and the ADC score equals
    * the exact integer dot product — which a DuckDB replay computes in
    * closed form. The randomized-family twin contract (x2_ann_planted)
    * applied to PQ. */
  /** The shared X2i planted construction: an explicit codebook whose
    * codewords ARE the constructed corpus's sub-vectors (reconstruction
    * error zero), in MIPS mode (normalized = false — the exactness
    * contract needs the RAW integer dot the oracle replays in closed
    * form). */
  private def pqPlanted(s: SparkSession, d: String)
      : (graft.ext.PqIndex.Model, DataFrame) = {
    val (m, kk, subDim) = (4, 4, 2)
    val books = Array.tabulate(m, kk, subDim)((mm, p, j) =>
      (((p + 1) * (mm + j + 1)) % 5 - 2).toDouble)
    val corpus = embeddings(s, d).select(col("vec_id"),
      array((0 until m * subDim).map { i =>
        val (mm, j) = (i / subDim, i % subDim)
        ((pmod(col("vec_id") + lit(mm), lit(4)) + 1) * lit(mm + j + 1) % 5 - 2)
          .cast("double")
      }: _*).as("embedding"))
    (graft.ext.PqIndex.Model(m, kk, subDim, books, normalized = false),
      corpus)
  }

  def x2PqPlanted(s: SparkSession, d: String): DataFrame = {
    val (model, corpus) = pqPlanted(s, d)
    graft.ext.PqIndex.topK(model, graft.ext.PqIndex.encode(model, corpus),
        corpus.filter(col("vec_id") < 5), kNN = 5)
      .orderBy("query_id", "rank")
  }

  /** X2i-ivfpq — the residual-encoded IVFADC serving shape ([[graft
    * .ext.PqIndex.trainIvfAdc]]/[[graft.ext.PqIndex.topKIvfAdc]],
    * Jégou et al. 2011): the coarse quantizer prunes to nProbe
    * inverted lists, ADC re-ranks only those candidates' RESIDUAL
    * codes (`x − centroid(x)` — most of the recall at fixed bytes) —
    * the billion-scale standard. BOTH artifacts (coarse centroids +
    * PQ codebooks/codes, one bundle) persist once per JVM and the
    * serve path probes the LOADED bundle with no corpus-scale build
    * (VERDICT r13 ask #1; the r12 fit-once contract). Approximate
    * twice over (coarse prune × code quantization) → rows-only,
    * twinned by [[x2IvfpqPlanted]]; recall vs brute force pinned
    * strictly above the raw-vector PQ floor in PqIndexSpec. */
  def x2IvfpqTopk(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val dir = persistedIndexDir("ivfadc_index", d) { dir =>
      val (model, codes) = graft.ext.PqIndex.trainIvfAdc(emb,
        kCoarse = 8, coarseIters = 2, m = 32, k = 128, iters = 3)
      graft.ext.PqIndex.saveIvfAdc(model, codes, dir)
    }
    val (model, codes) = graft.ext.PqIndex.loadIvfAdc(s, dir)
    graft.ext.PqIndex.topKIvfAdc(model, codes,
        emb.filter(col("vec_id") < 10), kNN = 5, nProbe = 3)
      .orderBy("query_id", "rank")
  }

  /** X2i-ivfpq-planted — the full IVFADC path under the oracle: an
    * EXPLICIT bundle whose coarse centroids are orthogonal 100-scaled
    * block vectors (c₀ hot in dims 0–3, c₁ in dims 4–7) and whose
    * residual codebook is [[pqPlanted]]'s; corpus vector =
    * c_{id mod 2} + the pqPlanted residual (entries in ±2, so cosine
    * assignment provably lands on id mod 2 — the hot block dominates
    * every cross term). Residual quantization error is ZERO, so
    * `q·c + ADC(residual codes)` equals the exact integer dot q·x —
    * which the oracle replays in closed form (base + residual per
    * grid cell). nProbe = 2 probes every list: the composition IS the
    * exhaustive scan, in MIPS mode (normalized = false), all-integer
    * arithmetic end to end. */
  def x2IvfpqPlanted(s: SparkSession, d: String): DataFrame = {
    val (m, kk, subDim) = (4, 4, 2)
    val books = Array.tabulate(m, kk, subDim)((mm, p, j) =>
      (((p + 1) * (mm + j + 1)) % 5 - 2).toDouble)
    val cents = Array.tabulate(2, m * subDim)((g, i) =>
      if ((g == 0) == (i < 4)) 100.0 else 0.0)
    val model = graft.ext.PqIndex.IvfAdc(cents,
      graft.ext.PqIndex.Model(m, kk, subDim, books, normalized = false),
      normalized = false)
    val corpus = embeddings(s, d).select(col("vec_id"),
      array((0 until m * subDim).map { i =>
        val (mm, j) = (i / subDim, i % subDim)
        val hot = when(
          pmod(col("vec_id"), lit(2)) === lit(if (i < 4) 0L else 1L),
          lit(100.0)).otherwise(lit(0.0))
        hot +
          ((pmod(col("vec_id") + lit(mm), lit(4)) + 1) * lit(mm + j + 1) % 5
            - 2).cast("double")
      }: _*).as("embedding"))
    graft.ext.PqIndex.topKIvfAdc(model,
        graft.ext.PqIndex.encodeIvfAdc(model, corpus),
        corpus.filter(col("vec_id") < 5), kNN = 5, nProbe = 2)
      .orderBy("query_id", "rank")
  }

  /** X2b-against — the persisted-LSH-index probe ([[graft.ext.Similarity
    * .saveBands]] → [[graft.ext.Similarity.annTopKAgainst]]): the band
    * index is built and SAVED once (signatures + the hyperplane params
    * row), then today's planted queries band under the SAVED params and
    * probe it — byte-identical vectors reproduce the saved signatures
    * under any persisted family, so rank-1 is round-trip-invariant at
    * cosine exactly 1.0. Same brute-force oracle as [[x2AnnPlanted]];
    * save→probe vs fresh-annTopK parity pinned in SimilaritySpec. */
  /** Lazily-initialized per-JVM persisted-index directories, keyed by
    * (index, dataset). The `…Against` queries probe a SAVED index —
    * the deployment contract is fit/save ONCE, probe per run — so
    * rebuilding and re-saving the (deterministic) index on every
    * invocation both mismeasured the probe and leaked one index copy
    * into /tmp per bench rep (ADVICE r9). First invocation builds +
    * saves; every later one probes the same directory. Keyed by the
    * data dir too: one JVM runs several scale factors (tests vs bench)
    * and must not probe another corpus's index. */
  private val indexDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  /** Spread a corpus frame before a CPU-dense per-row stage — the
    * shared [[graft.ext.Spread.sized]] helper (see its doc for the
    * size-proportional width policy and the corpus-scale identity
    * guard). `bytesPerTask` is the per-call-site work-density knob:
    * the default fits expression-dense passes over the documents
    * corpus; sites whose per-byte work is an order heavier (e.g. the
    * X38 trigram cross join) pass a smaller slice size. */
  private def spreadDocs(df: DataFrame, key: String = "doc_id",
      bytesPerTask: Long = graft.ext.Spread.DefaultBytesPerTask): DataFrame =
    graft.ext.Spread.sized(df, key, bytesPerTask)

  private def persistedIndexDir(index: String, d: String)
                               (build: String => Unit): String =
    indexDirs.computeIfAbsent(s"$index @ $d", _ => {
      val dir = java.nio.file.Files.createTempDirectory(index).toString
      build(dir)
      dir
    })

  def x2AnnAgainst(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val dir = persistedIndexDir("lsh_index", d)(
      graft.ext.Similarity.saveBands(emb, _))
    graft.ext.Similarity
      .annTopKAgainst(s, dir, emb, plantedQueryVecs(emb), k = 5)
      .filter(col("rank") === 1)
      .orderBy("query_id")
      .localCheckpoint(true) // materialize before the temp index ages out
  }

  /** X2c-against — the persisted-index ANN probe ([[graft.ext.IvfIndex
    * .save]] → [[graft.ext.IvfIndex.topKAgainst]]): the index is built
    * ONCE, saved to parquet, and today's queries probe the LOADED index
    * — no Lloyd's pass over the historical corpus at query time (the
    * X1h `…Against` contract for similarity search). Queries are the
    * planted byte-identical vectors, so rank-1 is centroid-seed- and
    * serialization-invariant at cosine exactly 1.0 — same brute-force
    * oracle as [[x2IvfPlanted]]; save→load→probe vs fresh-build parity
    * is pinned by SkewIvfSpec. */
  def x2IvfAgainst(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val dir = persistedIndexDir("ivf_index", d) { dir =>
      val model = graft.ext.IvfIndex.build(emb, k = 8, iters = 2)
      graft.ext.IvfIndex.save(model, dir)
      model.release()
    }
    val out = graft.ext.IvfIndex
      .topKAgainst(s, dir, emb, plantedQueryVecs(emb), k = 5, nProbe = 3)
      .filter(col("rank") === 1)
      .orderBy("query_id")
      .localCheckpoint(true) // materialize before the temp index ages out
    out
  }

  /** X2d — int8-quantized exact top-k: the same 10-query top-5 as X2a
    * but over scalar-quantized vectors (4× smaller candidate rows; the
    * per-vector scales cancel in cosine). Deterministically
    * oracle-checked — quantization is plain double arithmetic. */
  def x2QuantTopk(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    graft.ext.Quantize.quantTopK(emb, emb.filter(col("vec_id") < 10), k = 5)
  }

  /** X2h — embedding-space outlier detection ([[graft.ext.Outliers
    * .centroidOutliers]]): the 5 vectors farthest from their label's
    * centroid, per label — the embedding-side quality screen
    * (mislabeled / off-topic / corrupted documents). Integer-exact
    * over the shared X2d int8 quantization: the score is the rational
    * centroid's numerator n²·‖q − μ‖² in DECIMAL(38,0), the top-N cut
    * rides the X6b staged plan, and the oracle replays quantization,
    * census, distance, and one plain window over the same total
    * order. */
  def x2CentroidOutliers(s: SparkSession, d: String): DataFrame =
    // dist_num ships as a canonical integer string (the g19 discipline:
    // raw DECIMAL(38,0) output failed the driver's hasher in r12); the
    // library keeps the decimal for rank math.
    graft.ext.Outliers.centroidOutliers(embeddings(s, d), topN = 5)
      .withColumn("dist_num", col("dist_num").cast("string"))
      .orderBy("label", "rank_in_group")

  /** X6 — deterministic stratified sampling (training-data curation):
    * down-weight the over-represented 'en' stratum to 40%, halve 'zh',
    * keep the rest. Output = the per-stratum audit summary; survivors
    * are identical across runs/partitionings/engines (keyed hash, no
    * RNG), so the whole thing hash-matches a DuckDB replay. */
  def x6StratifiedSample(s: SparkSession, d: String): DataFrame =
    graft.ext.Sampling.sampleSummary(documents(s, d), "doc_id", "lang",
      rates = Map("en" -> 0.4, "zh" -> 0.5))

  /** X6b — deterministic train/val/test split census (98/1/1 by hash
    * band): disjoint by construction, replayed via the shared bucket
    * formula. */
  def x6Splits(s: SparkSession, d: String): DataFrame =
    graft.ext.Sampling.splitSummary(documents(s, d), "doc_id",
      Seq("train" -> 0.98, "val" -> 0.01, "test" -> 0.01))

  /** X6c — composed sample→split at ONE seed: the round-5 failure mode
    * (one unsalted hash fully correlated the two selections, so a 98/1/1
    * split of any sampled corpus routed EVERY survivor to 'train') as an
    * oracle-checked regression gate. Sampling keeps ~50% by the unsalted
    * hash; the split then bands the survivors by the SPLIT-salted hash —
    * all three splits must land documents, and the exact census replays
    * both hashes in SQL. */
  def x6SampleThenSplit(s: SparkSession, d: String): DataFrame =
    graft.ext.Sampling.splitSummary(
      graft.ext.Sampling.stratifiedSample(documents(s, d), "doc_id", "lang",
        Map.empty, defaultRate = 0.5),
      "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))

  /** X6b — exact top-5 documents per language by `n_chars`
    * ([[graft.ext.TopK.topNPerGroup]] — the two-stage skew-safe plan;
    * see its Scaladoc for why a bare global window is the terminal-
    * writer bottleneck reborn in selection). The oracle replays the
    * selection with a plain window over the same TOTAL order
    * (score DESC, doc_id ASC), proving the staged plan exact. */
  def x6TopPerStratum(s: SparkSession, d: String): DataFrame =
    graft.ext.TopK.topNPerGroup(documents(s, d), "lang", "n_chars", n = 5)
      .select(col("lang"), col("rank_in_group").cast("long").as("rank_in_group"),
        col("doc_id"), col("n_chars"))
      .orderBy("lang", "rank_in_group")

  /** X6c — exact per-stratum QUOTA sample: exactly k documents per
    * language, drawn by seeded keyed-hash order — the sampling need
    * the rate-based X6 cannot express (a rate gives BINOMIAL counts
    * per stratum; a curation quota — "exactly 20 docs of every
    * language for the eval set" — needs exact k). The draw key is
    * [[graft.ext.Sampling.orderKey]] (the ORDER-grade finalizer —
    * hash64's no-wrap low lane is order-preserving in the key, so
    * sorting by it would quota-select nearly-consecutive ids; the
    * wrapped-multiply finalizer is what makes hash order a fair
    * draw), and the selection rides [[graft.ext.TopK.topNPerGroup]]'s
    * skew-safe staged top-N — no single-task stratum sort at any
    * corpus size. The oracle replays the draw and ONE plain window
    * over the same total order. */
  def x6QuotaSample(s: SparkSession, d: String): DataFrame =
    graft.ext.TopK.topNPerGroup(
        documents(s, d).select(col("doc_id"), col("lang"))
          .withColumn("draw", graft.ext.Sampling.orderKey(col("doc_id"), 77L)),
        "lang", "draw", n = 20)
      .select(col("lang"),
        col("rank_in_group").cast("long").as("rank_in_group"),
        col("doc_id"), col("draw"))
      .orderBy("lang", "rank_in_group")

  /** X7 — PII scan over the corpus. The testdata vocabulary contains no
    * PII, so synthetic contacts (email + phone + IP) are planted on every
    * 17th document — deterministically, replicated in the oracle — and
    * the per-source summary proves the patterns find exactly those. */
  def x7PiiScan(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val planted = docs.withColumn("text",
      when(col("doc_id") % 17 === 0,
        concat(col("text"), lit(" contact user"), col("doc_id"),
          lit("@example.com or 555-867-5309 at 10.0.0."),
          pmod(col("doc_id"), lit(256))))
        .otherwise(col("text")))
    graft.ext.Pii.scanSummary(planted)
  }

  /** X7b — checksum-validated payment-card scan ([[graft.ext.Pii
    * .redactCards]] over the native [[graft.functions.CardScan]]): the
    * corpus carries no digits, so the plants are the ONLY candidates —
    * every 17th doc gains two Luhn-VALID cards (one contiguous, one
    * 4-4-4-4 separated), every 19th two Luhn-INVALID candidates (a
    * tampered PAN and a 13-digit order number). Valid cards redact to
    * `<CARD>`; invalid candidates must survive UNTOUCHED (regex-only
    * redaction would destroy them — the over-redaction this operator
    * exists to avoid). The oracle replays the plant arithmetic and the
    * redacted text line for line — the Luhn logic itself is pinned
    * against known PANs in PiiSpec. */
  def x7CardScan(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val planted = docs.withColumn("text",
      when(col("doc_id") % 17 === 0,
        concat(col("text"),
          lit(" pay 4111111111111111 or 4539 5787 6362 1486 now")))
        .when(col("doc_id") % 19 === 0,
          concat(col("text"),
            lit(" order 4111111111111112 ref 1234567890123 end")))
        .otherwise(col("text")))
    graft.ext.Pii.redactCards(planted)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("n_card_valid") > 0, lit(1))).as("docs_with_card"),
        coalesce(sum(col("n_card_candidates").cast("long")), lit(0L))
          .as("n_candidates"),
        coalesce(sum(col("n_card_valid").cast("long")), lit(0L))
          .as("n_valid"),
        sum(pmod(conv(substring(md5(col("text")), 1, 15), 16, 10)
          .cast("long"), lit(1000000000L))).as("redacted_fp_sum"))
      .orderBy("source")
  }

  /** X8 — benchmark decontamination: the first three documents stand in
    * as the "benchmark" set; every corpus document containing ≥80% of a
    * benchmark doc's 4-grams flags (the benchmark docs themselves at
    * containment 1.0, plus any planted near-duplicates of them). */
  def x8Contamination(s: SparkSession, d: String): DataFrame = {
    val docs = spreadDocs(documents(s, d))
    val bench = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("bench_id"), col("text"))
    Dedup.contaminationPairs(docs, bench, n = 4, minContainment = 0.8)
  }

  /** X8-against — decontamination against a PERSISTED benchmark
    * shingle index ([[graft.ext.Dedup.saveBenchShingles]] →
    * [[graft.ext.Dedup.contaminationAgainst]]): the benchmark suite is
    * shingled and saved once per JVM (width carried in the artifact's
    * params row, probe-asserted), and the corpus scan joins the loaded
    * grams — the same containment tail as [[x8Contamination]] by
    * construction, so this probe hash-matches the SAME oracle; the
    * nightly fit-once contract applied to decontamination. */
  def x8ContamAgainst(s: SparkSession, d: String): DataFrame = {
    val docs = spreadDocs(documents(s, d))
    val dir = persistedIndexDir("bench_shingles", d)(dir =>
      Dedup.saveBenchShingles(
        docs.filter(col("doc_id") < 3)
          .select(col("doc_id").as("bench_id"), col("text")),
        dir, n = 4))
    Dedup.contaminationAgainst(s, dir, docs, minContainment = 0.8,
      expectN = Some(4))
  }

  /** S10 — STREAMING decontamination ([[graft.stream.StreamingDecontam
    * .contamDropStreamAgainst]]): the benchmark shingle index is fit
    * and saved once per JVM (the SAME artifact x8_contam_against
    * probes), its per-benchmark gram sets become the dim-sized static
    * side, and arriving documents gate through ONE stateless
    * projection (native per-row gram set) + ONE stream-static anti
    * join carrying the exact containment verify — no aggregation, no
    * state, so the identical code runs on a structured stream
    * (micro-batch ≡ batch pinned in StreamingDecontamSpec; this
    * registration is the batch replay, the house streaming-lane
    * discipline). The oracle is the COMPLEMENT of the x8 containment
    * CTE: survivors = documents minus the contaminated set. */
  def s10StreamDecontam(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val dir = persistedIndexDir("bench_shingles", d)(dir =>
      Dedup.saveBenchShingles(
        docs.filter(col("doc_id") < 3)
          .select(col("doc_id").as("bench_id"), col("text")),
        dir, n = 4))
    graft.stream.StreamingDecontam.contamDropStreamAgainst(
        docs, graft.stream.StreamingDecontam.benchGramSets(s, dir),
        n = 4, minContainment = 0.8)
      .select("doc_id").orderBy("doc_id")
  }

  /** S11 — STREAMING compliance scrub ([[graft.stream.StreamingRedact
    * .scrubStream]]): the X7 card + PII redaction as ONE stateless
    * serve-time projection, so raw PII never lands (micro-batch ≡
    * batch pinned in StreamingRedactSpec; this registration is the
    * batch replay, the house streaming-lane discipline). Plants: every
    * 17th doc two Luhn-VALID cards + an email, every 19th two
    * Luhn-INVALID candidates + a phone — the census proves both
    * redaction (fp of the scrubbed text) and restraint (the invalid
    * candidates and the order number survive byte-for-byte). */
  def s11StreamScrub(s: SparkSession, d: String): DataFrame = {
    val planted = documents(s, d).withColumn("text",
      when(col("doc_id") % 17 === 0,
        concat(col("text"),
          lit(" pay 4111111111111111 or 4539 5787 6362 1486 now mail user"),
          col("doc_id"), lit("@example.com")))
        .when(col("doc_id") % 19 === 0,
          concat(col("text"),
            lit(" order 4111111111111112 ref 1234567890123 call 555-867-5309")))
        .otherwise(col("text")))
    graft.stream.StreamingRedact.scrubStream(planted)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("n_card_valid") > 0 || col("n_email") > 0 ||
          col("n_phone") > 0 || col("n_ipv4") > 0, lit(1)))
          .as("docs_scrubbed"),
        coalesce(sum(col("n_card_valid").cast("long")), lit(0L))
          .as("n_valid"),
        coalesce(sum(col("n_email").cast("long")), lit(0L)).as("n_email"),
        coalesce(sum(col("n_phone").cast("long")), lit(0L)).as("n_phone"),
        sum(pmod(conv(substring(md5(col("text")), 1, 15), 16, 10)
          .cast("long"), lit(1000000000L))).as("scrubbed_fp_sum"))
      .orderBy("source")
  }

  /** X35 — date-partitioned event store ([[graft.sources
    * .TimePartitioned]]): events land Hive-partitioned by UTC day
    * (written once per JVM), then a one-week census runs over the
    * store — the time predicate prunes at DIRECTORY level
    * (PartitionFilters, pinned in TimePartitionedSpec), so at scale
    * the query reads 7 days of a years-deep store before decoding a
    * row. The oracle derives the same week straight from the raw
    * events — a hash match proves dt-derivation (UTC), the partition
    * round trip, and the pruned read return identical rows. */
  def x35TimeLayout(s: SparkSession, d: String): DataFrame = {
    val dir = persistedIndexDir("graft_dtstore", d)(dir =>
      graft.sources.TimePartitioned.writeDaily(
        Tables.events(s, d), dir, filesPerDay = 2))
    graft.sources.TimePartitioned.read(s, dir)
      .filter(col("dt").between(lit("2024-01-08"), lit("2024-01-14")))
      .groupBy(date_format(col("dt"), "yyyy-MM-dd").as("dt"),
        col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        count_distinct(col("user_id")).as("n_users"),
        // DECIMAL-accumulate, round in decimal, cast after (the
        // d-series / ADVICE r12 discipline).
        round(sum(col("value").cast("decimal(18,4)")), 2)
          .cast("double").as("value_sum"))
      .orderBy("dt", "event_type")
  }

  /** X36 — cohort retention over events ([[graft.ext.Retention
    * .cohortRetention]]): users by first-active day, distinct actives
    * per (cohort, offset), retention in integer ppm — the analytics
    * matrix as ONE distinct shuffle + a user-co-partitioned join +
    * a cohort-sized census (no corpus window). */
  def x36CohortRetention(s: SparkSession, d: String): DataFrame =
    graft.ext.Retention.cohortRetention(Tables.events(s, d))

  /** X37 — ordered-step funnel conversion ([[graft.ext.EventFunnel
    * .funnel]]): view → click → purchase, each step strictly after the
    * user's previous conversion, counts + integer-ppm conversion. */
  def x37EventFunnel(s: SparkSession, d: String): DataFrame =
    graft.ext.EventFunnel.funnel(Tables.events(s, d),
      Seq("view", "click", "purchase"))

  /** X38 — fuzzy cross-table join ([[graft.ext.FuzzyJoin.trigramJoin]]):
    * record linkage by trigram Jaccard. The plant derives a "dirty"
    * roster from customer names by deleting ONE character at the keyed
    * position `(c_custkey % (len−3)) + 3` (1-based, always past the
    * shared prefix) and links it back to the clean roster — the
    * vendor-dedup shape. Top-1 per dirty name at ≥ 0.5 quantized
    * Jaccard, dfCap 64 blocking (the ubiquitous "customer#…" prefix
    * trigrams carry no signal and are capped out of the inverted
    * index; the verify still scores FULL sets). `is_true_match` records
    * whether the origin won — on this synthetic corpus near-id names
    * (…123 vs …124) are genuinely close, so sub-100% linkage is the
    * honest answer, and both engines must agree on exactly which rows
    * win. */
  def x38FuzzyJoin(s: SparkSession, d: String): DataFrame = {
    // 8 KB/task: the trigram blocking explodes each name into ~20
    // candidate keys and the downstream cross join is the suite's
    // heaviest per-byte stage — measured fastest at full width
    // (r18 sweep: 2.1 s at 32 slices vs 8.1 s at 2).
    val cust = spreadDocs(customer(s, d), "c_custkey", bytesPerTask = 8L * 1024)
    val clean = cust.select(col("c_custkey").as("rkey"),
      col("c_name").as("rname"))
    val dirty = cust.select(col("c_custkey").as("lkey"),
      expr("""concat(
          substr(c_name, 1, ((c_custkey % (length(c_name) - 3)) + 3) - 1),
          substr(c_name, ((c_custkey % (length(c_name) - 3)) + 3) + 1))""")
        .as("lname"))
    graft.ext.FuzzyJoin.trigramJoin(
      dirty, "lkey", "lname", clean, "rkey", "rname",
      minJaccardPpm = 500000L, n = 1, dfCap = 64L)
      .select(col("lkey"), col("rkey"),
        col("rank_in_group").cast("long").as("rank_in_group"),
        col("n_inter"), col("n_union"), col("jaccard_ppm"),
        (col("lkey") === col("rkey")).as("is_true_match"))
      .orderBy("lkey")
  }

  /** G17 — referential-integrity census ([[graft.checks.Referential]]):
    * orphan foreign keys across the star schema's five FK edges, with
    * a deterministic plant (lineitem keys where `%97 == 13` re-keyed
    * +10⁹) so the orphan counter is provably live, not a constant
    * zero; the clean edges must still report exactly zero. */
  def g17Referential(s: SparkSession, d: String): DataFrame = {
    val li = lineitem(s, d).withColumn("l_orderkey",
      when(pmod(col("l_orderkey"), lit(97L)) === 13L,
        col("l_orderkey") + lit(1000000000L))
        .otherwise(col("l_orderkey")))
    graft.checks.Referential.census(Seq(
      (li, "lineitem", "l_orderkey", orders(s, d), "orders", "o_orderkey"),
      (orders(s, d), "orders", "o_custkey",
        customer(s, d), "customer", "c_custkey"),
      (customer(s, d), "customer", "c_nationkey",
        nation(s, d), "nation", "n_nationkey"),
      (supplier(s, d), "supplier", "s_nationkey",
        nation(s, d), "nation", "n_nationkey"),
      (nation(s, d), "nation", "n_regionkey",
        region(s, d), "region", "r_regionkey")))
      .orderBy("child_table", "fk_column")
  }

  /** G21 — cross-table row-count parity ([[graft.checks.Referential
    * .rowCountParity]]): GE 0.18's
    * `expect_table_row_count_to_equal_other_table` over the T1/T2
    * staging contracts — stg_territory must carry exactly nation's
    * rows (the join to region is enrichment, not filtering) and
    * stg_salesperson exactly supplier's (a 1:1 projection). The
    * reference runs this check by hand as paired count queries
    * (pager-workflow.py:126 vs :159). */
  def g21RowcountParity(s: SparkSession, d: String): DataFrame =
    graft.checks.Referential.rowCountParity(
        Stages.stgTerritory(nation(s, d), region(s, d)), "stg_territory",
        nation(s, d), "nation")
      .unionByName(graft.checks.Referential.rowCountParity(
        Stages.stgSalesperson(supplier(s, d)), "stg_salesperson",
        supplier(s, d), "supplier"))
      .orderBy("table_a")

  /** G22 — the GE 0.18 tail vocabulary (VERDICT r15 ask #5), run
    * through the REAL check engine and registered as its verdict rows:
    * [[graft.checks.MonotonicCheck]]
    * (`expect_column_values_to_be_increasing/decreasing` — range
    * partition + within-partition sort + driver boundary stitch, no
    * global window) on the events stream (ts is strictly increasing by
    * event_id: a deterministic pass with a live zero counter; value is
    * unordered: both directions FAIL with exact data-derived inversion
    * counts), [[graft.checks.MostCommonValueCheck]]
    * (`expect_column_most_common_value_to_be_in_set`, tie-exact via
    * best-allowed vs best-disallowed counts), and the sum/stdev
    * [[graft.checks.AggBoundsCheck]] bounds GE 0.18 declares
    * (`expect_column_sum/stdev_to_be_between` — the stdev bound is
    * deliberately unsatisfiable, so the FAILED path is proven live).
    * The oracle replays every verdict: inversions via lag windows,
    * the mode duel, and the bound checks (verdict-only on floats —
    * values stay off the hash). Cites the platform's declared GE
    * surface (great_expectations.yml:6-10, requirements.txt:3). */
  def g22GeTail(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = events(s, d)
    val checks: Seq[graft.checks.Check] = Seq(
      graft.checks.MonotonicCheck("ts", "event_id",
        increasing = true, strictly = true),
      graft.checks.MonotonicCheck("value", "event_id", increasing = true),
      graft.checks.MonotonicCheck("value", "event_id", increasing = false),
      graft.checks.MostCommonValueCheck("event_type", Seq("signup", "view")),
      graft.checks.AggBoundsCheck("value", "sum", 0.0, 1e12),
      graft.checks.AggBoundsCheck("value", "stddev", 1e6, 2e6))
    checks.map(_.run(ev))
      .map(r => (r.validationName, r.status, r.elementCount,
        r.unexpectedCount))
      .toDF("validation_name", "status", "element_count",
        "unexpected_count")
      .orderBy("validation_name")
  }

  /** G23 — `expect_column_kl_divergence_to_be_less_than`
    * ([[graft.checks.KlDivergenceCheck]], VERDICT r15 next #5) run
    * through the REAL check engine over three declared partitions of
    * the events type column: uniform fifths (the true shape — PASSES
    * at threshold 0.05), a click-heavy declaration (KL ≈ 0.33 — FAILS
    * at 0.25), and a four-value declaration missing 'error' (an
    * observed value with q = 0 — infinite divergence, FAILS any
    * threshold, out-of-partition rows counted). The registered frame
    * ships each check's verdict AND its per-value micro-nat census, so
    * the oracle pins every rounded contribution, not just the summed
    * verdict (the PSI exact-integer discipline; boundary slack audited
    * in MicroNatSlackSpec). */
  def g23KlDivergence(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val types = Seq("click", "error", "purchase", "signup", "view")
    val checks = Seq(
      graft.checks.KlDivergenceCheck("event_type", types,
        Seq(200000L, 200000L, 200000L, 200000L, 200000L), 0.05),
      graft.checks.KlDivergenceCheck("event_type", types,
        Seq(600000L, 100000L, 100000L, 100000L, 100000L), 0.25),
      graft.checks.KlDivergenceCheck("event_type",
        Seq("click", "purchase", "signup", "view"),
        Seq(250000L, 250000L, 250000L, 250000L), 10.0))
    checks.map { c =>
      // ONE census per check (VERDICT r16 #3): the same pinned census
      // feeds the verdict aggregate (runFromCensus) and the shipped
      // per-value rows — previously run() and census() each built and
      // checkpointed their own, scanning the corpus twice per check.
      val cen = c.census(ev)
      val r = c.runFromCensus(cen)
      cen.select(
        lit(r.validationName).as("validation_name"),
        lit(r.status).as("status"),
        lit(r.elementCount).as("element_count"),
        lit(r.unexpectedCount).as("unexpected_count"),
        col("value"), col("n"), col("ppm"), col("contrib_micro"))
    }.reduce(_ unionByName _)
      .orderBy("validation_name", "value")
  }

  /** G24 — `expect_column_chisquare_test_p_value_to_be_greater_than`
    * ([[graft.checks.ChiSquareCheck]], VERDICT r16 next #4) run through
    * the REAL check engine over three declared partitions of the
    * events type column, gated on PLAN-CONSTANT critical values
    * ([[graft.checks.ChiSquareCheck.criticalTable]]) instead of a
    * run-time p-value lookup: uniform fifths at χ²₀.₉₉(4) = 13.277
    * (the true shape — statistic ≈ 0.6–7.8 across the shipped SFs,
    * PASSES), a click-heavy declaration at χ²₀.₉₅(4) = 9.488
    * (statistic in the thousands — FAILS), and at χ²₀.₉₉(5) = 15.086
    * a five-value declaration missing 'error' but declaring
    * never-observed 'refund' (out-of-partition rows → infinite
    * statistic, FAILS; the
    * refund row ships with n = 0 and its REAL expected-count
    * contribution — the declared-but-unobserved branch is live). Each
    * check runs ONE census ([[graft.checks.ChiSquareCheck
    * .runFromCensus]]); the frame ships verdict AND per-value micro-χ²
    * census, every contribution one exact-integer-difference rounding
    * (the G23/PSI discipline). */
  def g24ChiSquare(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val types = Seq("click", "error", "purchase", "signup", "view")
    val checks = Seq(
      graft.checks.ChiSquareCheck("event_type", types,
        Seq(200000L, 200000L, 200000L, 200000L, 200000L), 13.277),
      graft.checks.ChiSquareCheck("event_type", types,
        Seq(600000L, 100000L, 100000L, 100000L, 100000L), 9.488),
      graft.checks.ChiSquareCheck("event_type",
        Seq("click", "purchase", "refund", "signup", "view"),
        Seq(200000L, 200000L, 200000L, 200000L, 200000L), 15.086))
    checks.map { c =>
      val cen = c.census(ev)
      val r = c.runFromCensus(cen)
      cen.select(
        lit(r.validationName).as("validation_name"),
        lit(r.status).as("status"),
        lit(r.elementCount).as("element_count"),
        lit(r.unexpectedCount).as("unexpected_count"),
        col("value"), col("n"), col("ppm"), col("contrib_micro"))
    }.reduce(_ unionByName _)
      .orderBy("validation_name", "value")
  }

  /** G20 — exact correlation sufficient statistics ([[graft.checks
    * .Profiling.corrStats]]): quantity vs extended price per return
    * flag — the five mergeable DECIMAL sums plus the 6-dp Pearson
    * computed once from them. The sums stay DECIMAL(38,0) inside the
    * library (mergeability is the point); at the REGISTERED boundary
    * they ship as canonical integer strings — the g19 bigint-to-string
    * discipline — because raw wide decimals proved locally-comparable
    * but driver-hash-unstable (the r12 incident; OutputTypeLintSpec
    * now bans them). */
  def g20CorrStats(s: SparkSession, d: String): DataFrame = {
    val r = graft.checks.Profiling.corrStats(lineitem(s, d),
      "l_quantity", "l_extendedprice", "l_returnflag")
    r.select(col("l_returnflag"), col("n"),
      col("sx").cast("string").as("sx"),
      col("sy").cast("string").as("sy"),
      col("sxx").cast("string").as("sxx"),
      col("syy").cast("string").as("syy"),
      col("sxy").cast("string").as("sxy"),
      col("corr6"))
  }

  /** G19 — Benford first-digit screen ([[graft.checks.Referential
    * .benford]]) over the order-price amount column: observed vs
    * expected first-digit ppm, the fraud/fabrication screen. The
    * synthetic uniform prices deviate from Benford — which is exactly
    * what the screen reports; the check is a census, not a verdict. */
  def g19Benford(s: SparkSession, d: String): DataFrame =
    graft.checks.Referential.benford(orders(s, d), "o_totalprice")

  /** G18 — functional-dependency check ([[graft.checks.Referential
    * .fdCensus]]): `region_name → zone_name` over stg_territory must
    * be functional; a planted re-keyed row maps NATION_0 to a second
    * zone, so exactly one determinant violates (the counter is
    * provably live) while every other holds. */
  def g18FdCheck(s: SparkSession, d: String): DataFrame = {
    val stg = Stages.stgTerritory(nation(s, d), region(s, d))
    val plant = stg.filter(col("territory_key") === 0L)
      .select((col("territory_key") + lit(1000L)).as("territory_key"),
        col("region_name"), lit("ZONE_X").as("zone_name"))
    graft.checks.Referential.fdCensus(
      stg.unionByName(plant), "region_name", "zone_name")
  }

  /** X52 — group-preserving split ([[graft.ext.Sampling
    * .assignSplitByGroup]]): the GroupKFold leakage guard — docs split
    * 80/10/10 by their AUTHOR group (the x50 plant's `u<id%50>`), so
    * no author straddles train/test. The census carries
    * `n_straddling_groups` (groups seen in >1 split) — the all-zero
    * column IS the guarantee, and the oracle re-derives it from
    * scratch. */
  def x52GroupSplit(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d).select(col("doc_id"),
      concat(lit("u"), pmod(col("doc_id"), lit(50L))).as("author"))
    val tagged = docs.withColumn("split",
      graft.ext.Sampling.assignSplitByGroup(col("author"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
    val straddle = tagged.groupBy("author")
      .agg(countDistinct(col("split")).as("__k"))
      .agg(count(when(col("__k") > 1, lit(1))).as("n_straddling_groups"))
    tagged.groupBy("split")
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("author")).as("n_groups"))
      .crossJoin(broadcast(straddle))
      .orderBy("split")
  }

  /** X10-split-cards — the E2E capstone REGISTERED (VERDICT r12 next
    * #7): curate → leakage-safe group split → per-split dataset card,
    * the release journey `PipelineE2ESpec` proves, under the driver's
    * oracle. The split key is the SOURCE group ([[graft.ext.Sampling
    * .assignSplitByGroup]] — same-source documents are the correlated
    * ones, so none may straddle train/val), the per-split datasheet is
    * ONE [[graft.ext.DatasetCard.card]] ROLLUP over the split column
    * (per-split rows + the corpus-total row from one shuffle), and
    * `n_straddling_sources` — re-derived from scratch by the oracle —
    * pins the leakage guarantee at ZERO. */
  def x10SplitCards(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val bench = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("bench_id"), col("text"))
    val curated = graft.ext.Curation.curate(docs, bench,
      graft.ext.Curation.Config(minTokens = 1L))
    // Pin the curated+split survivors ONCE: the frame feeds TWO
    // consumers (the straddle census and the card rollup), each of
    // which otherwise re-runs the full curation lineage —
    // contamination pass included — per reference (r18 profile: two
    // ~1.1 s single-task evaluations of the same subtree). The
    // writePacked survivor-pin discipline; at 100 TB the production
    // shape is write-then-read of the curated artifact instead.
    val split = Pin(curated.withColumn("split",
      graft.ext.Sampling.assignSplitByGroup(col("source"),
        Seq("train" -> 0.8, "val" -> 0.2))))
    val straddle = split.groupBy("source")
      .agg(countDistinct(col("split")).as("__k"))
      .agg(count(when(col("__k") > 1, lit(1))).as("n_straddling_sources"))
    graft.ext.DatasetCard.card(split, groupCol = "split")
      .crossJoin(broadcast(straddle))
      .orderBy("grouping_level", "split")
  }

  /** X50 — nested-JSON flattening: the semi-structured ingestion step
    * (crawl metadata, API payloads) — `from_json` under an EXPLICIT
    * schema (inference is a second full pass; the x29 rationale), a
    * nested-struct field path, and an array explode, censused. The
    * JSON column is CONSTRUCTED from doc_id, so the oracle replays the
    * whole parse+flatten as pure arithmetic — a parser mangling any
    * field breaks the census. Duplicate tags (doc_id ≡ same value mod
    * 3 and mod 7) must emit TWO rows — explode semantics, not
    * set semantics. */
  /** The shared X50/S15 constructed-JSON plant + schema — ONE
    * definition, because the streaming lane hash-checks against the
    * SAME oracle. */
  private def nestedJsonPlant(s: SparkSession, d: String): DataFrame =
    documents(s, d).select(col("doc_id"),
      concat(lit("{\"meta\":{\"author\":\"u"),
        pmod(col("doc_id"), lit(50L)),
        lit("\",\"tags\":[\"t"), pmod(col("doc_id"), lit(3L)),
        lit("\",\"t"), pmod(col("doc_id"), lit(7L)),
        lit("\"],\"score\":"), pmod(col("doc_id"), lit(100L)),
        lit("}}")).as("json"))
  private val nestedJsonSchema = org.apache.spark.sql.types.StructType
    .fromDDL("meta STRUCT<author: STRING, tags: ARRAY<STRING>, score: BIGINT>")

  /** Test hook: the shared plant, for StreamingIngestSpec's live
    * MemoryStream parity run. */
  private[graft] def x50PlantForSpec(s: SparkSession, d: String): DataFrame =
    nestedJsonPlant(s, d)

  private def nestedCensus(flat: DataFrame): DataFrame =
    flat.groupBy("author", "tag")
      .agg(count(lit(1)).as("n"), sum(col("score")).as("score_sum"))
      .orderBy("author", "tag")

  def x50NestedFlatten(s: SparkSession, d: String): DataFrame =
    nestedCensus(nestedJsonPlant(s, d)
      .select(col("doc_id"), from_json(col("json"), nestedJsonSchema).as("j"))
      .select(col("doc_id"), col("j.meta.author").as("author"),
        explode(col("j.meta.tags")).as("tag"),
        col("j.meta.score").as("score")))

  /** S15 — streaming semi-structured ingestion ([[graft.stream
    * .StreamingIngest]] batch replay, the stateless-lane discipline):
    * the SAME parse + flatten as X50 through the streaming code path,
    * hash-matched against the SAME oracle; live MemoryStream ≡ batch
    * + corrupt-record drop pinned in StreamingIngestSpec. */
  def s15StreamIngest(s: SparkSession, d: String): DataFrame =
    nestedCensus(graft.stream.StreamingIngest.flattenStream(
      nestedJsonPlant(s, d), "json", nestedJsonSchema,
      paths = Seq("meta.author", "meta.score"),
      arrayPath = "meta.tags", elemName = "tag"))

  /** X51 — pivot crosstab: the dashboard view — per-day event counts
    * spread across one column per event type, with the EXPLICIT value
    * list (an inferred pivot pays a distinct-values pass first, and
    * its column set drifts with the data — the x29 explicit-schema
    * rationale applied to columns). Absent cells are 0, not null. */
  def x51PivotCrosstab(s: SparkSession, d: String): DataFrame = {
    val types = Seq("view", "click", "purchase", "signup", "error")
    val piv = events(s, d)
      .withColumn("dt", date_format(to_date(col("ts")), "yyyy-MM-dd"))
      .groupBy("dt")
      .pivot("event_type", types)
      .agg(count(lit(1)))
    types.foldLeft(piv)((d2, t) =>
        d2.withColumn(t, coalesce(col(t), lit(0L))))
      .orderBy("dt")
  }

  /** X49 — rendezvous shard routing ([[graft.ext.Rendezvous]]): docs
    * routed to 8 shards by highest-random-weight, then the ring grown
    * to 9 — the census proves the minimal-disruption THEOREM: every
    * moved key moves TO the new shard (`n_moved_elsewhere` must be 0
    * on every row), and only ~1/9 of keys move at all. */
  def x49Rendezvous(s: SparkSession, d: String): DataFrame =
    graft.ext.Rendezvous.assign(
        documents(s, d).select("doc_id"), "doc_id",
        nShards = 8, seed = 42L, compareWith = Some(9))
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("key_sum"),
        count(when(col("shard_next") =!= col("shard"), lit(1)))
          .as("n_moved"),
        count(when(col("shard_next") =!= col("shard") &&
          col("shard_next") =!= 8L, lit(1))).as("n_moved_elsewhere"))
      .orderBy("shard")

  /** X48 — interval-sweep concurrency ([[graft.ext.Concurrency
    * .dailyPeak]]): max simultaneously-active sessions per UTC day at
    * the x18 12-hour gap — the capacity number session counts can't
    * answer; two-level sweep, closed intervals, midnight spans
    * clipped per day. */
  def x48Concurrency(s: SparkSession, d: String): DataFrame =
    graft.ext.Concurrency.dailyPeak(events(s, d), gapSeconds = 43200L)

  /** X47 — rolling time-series metrics ([[graft.ext.RollingMetrics
    * .rolling]]): per-(event_type, day) census with 7-day trailing
    * RANGE-framed rolling sums over the integer epoch-day (calendar
    * gaps handled without a day spine). */
  def x47RollingMetrics(s: SparkSession, d: String): DataFrame =
    graft.ext.RollingMetrics.rolling(events(s, d), days = 7)

  /** X46 — compression-ratio quality census ([[graft.ext
    * .Compressibility]]): per-(lang, band) deflate-ratio census —
    * rows-only (DuckDB ships no deflate; the engine-side ratio is
    * deterministic and partitioning-invariant, pinned in
    * CompressibilitySpec), twinned with the oracle-checked plant
    * below. */
  def x46CompressRatio(s: SparkSession, d: String): DataFrame =
    graft.ext.Compressibility.census(documents(s, d))

  /** X46b — the oracle-checked planted twin: every 13th doc's text
    * replaced by a `'z' × (200 + doc_id % 500)` constant run, whose
    * deflate ratio sits under 8% BY MATHEMATICAL CERTAINTY (a constant
    * run of ≥200 bytes deflates to a few dozen under any correct
    * deflate) — so the oracle can state every output row (doc_id,
    * n_raw, band) without running a compressor. */
  def x46PlantedRatio(s: SparkSession, d: String): DataFrame = {
    val planted = documents(s, d)
      .filter(pmod(col("doc_id"), lit(13L)) === 0L)
      .withColumn("text",
        expr("repeat('z', cast(200 + doc_id % 500 as int))"))
    graft.ext.Compressibility.ratios(planted)
      .select(col("doc_id"), col("n_raw"), col("band"))
      .orderBy("doc_id")
  }

  /** S16 — streaming robust anomaly gate ([[graft.stream
    * .StreamingMadGate]] batch replay): cuts fit on the even-event_id
    * history half, the odd half gates through them — per-(type, flag)
    * census; MemoryStream ≡ batch pinned in StreamingMadGateSpec. */
  def s16StreamMadGate(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val cuts = graft.ext.RobustStats.fit(
      ev.filter(pmod(col("event_id"), lit(2L)) === 0L))
    graft.stream.StreamingMadGate.gateStream(
        ev.filter(pmod(col("event_id"), lit(2L)) === 1L), cuts)
      .groupBy("event_type", "is_outlier")
      .agg(count(lit(1)).as("n"),
        sum(col("dev2")).as("dev2_sum"))
      .orderBy("event_type", "is_outlier")
  }

  /** X44 — robust anomaly flags ([[graft.ext.RobustStats.madCensus]]):
    * median/MAD outliers per event type at k = 3, exact through the
    * doubled-median integer trick — the robust twin of X4's z-scores. */
  def x44MadOutliers(s: SparkSession, d: String): DataFrame =
    graft.ext.RobustStats.madCensus(events(s, d))

  /** X43 — embedding-distribution drift ([[graft.ext.EmbedDrift
    * .centroidDrift]]): per-label centroid displacement between the
    * even-key and odd-key snapshot halves, with label 3's current half
    * PLANTED +0.25 on every dimension — its drift_num must dominate
    * (the detection the operator exists for; rank pinned in
    * EmbedDriftSpec, values hash-pinned by the oracle). */
  def x43EmbedDrift(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val prev = emb.filter(pmod(col("vec_id"), lit(2L)) === 0L)
    // The shift is applied in DOUBLE (cast first, then add): adding in
    // float and widening after would round differently from the
    // oracle's widen-then-add — same IEEE, different op order.
    val cur = emb.filter(pmod(col("vec_id"), lit(2L)) === 1L)
      .withColumn("embedding",
        when(col("label") === 3L,
          transform(col("embedding").cast("array<double>"),
            x => x + lit(0.25d)))
          .otherwise(col("embedding").cast("array<double>")))
    // drift_num ships as a canonical integer string (the g19
    // discipline — r12's raw DECIMAL(38,0) failed the driver's hasher).
    graft.ext.EmbedDrift.centroidDrift(prev, cur)
      .withColumn("drift_num", col("drift_num").cast("string"))
      .orderBy("label")
  }

  /** X41 — PMI collocation mining ([[graft.ext.Collocations
    * .pmiPairs]]): the corpus's statistically-bound word pairs, top 50
    * by integer micro-nat PMI at ≥5 occurrences — tokenizer merge
    * planning / boilerplate-phrase discovery. */
  def x41PmiPairs(s: SparkSession, d: String): DataFrame =
    graft.ext.Collocations.pmiPairs(documents(s, d), k = 50, minCount = 5L)

  /** X40 — dataset card ([[graft.ext.DatasetCard.card]]): the
    * per-source corpus datasheet + corpus-total row from ONE fused
    * ROLLUP aggregate — docs, token/char mass, blank and duplicate
    * rates, language spread, PII incidence, exact median length. */
  def x40DatasetCard(s: SparkSession, d: String): DataFrame =
    graft.ext.DatasetCard.card(documents(s, d))
      .orderBy("grouping_level", "source")

  /** X39 — length-bucketed padded batching ([[graft.ext.Batching]]):
    * the pad-to-batch-max counterpart of X9's concat-and-chunk. Small
    * blockSize/fanout so the testdata exercises every level of the
    * banded hierarchical rank; the audit's pad_waste_ppm is the
    * operator's deliverable. */
  def x39LengthBatches(s: SparkSession, d: String): DataFrame =
    graft.ext.Batching.batchAudit(documents(s, d),
      bandWidth = 64L, nBands = 32, batchSize = 32L,
      blockSize = 500L, fanout = 4L)
      .orderBy("band", "batch_idx")

  /** X9 — sequence packing (concat-and-chunk): the documents' token
    * stream chunked into 512-token training sequences via the two-level
    * prefix sum; every (document, sequence) span is emitted. Small
    * blockSize so the testdata actually exercises multiple blocks. */
  def x9PackSequences(s: SparkSession, d: String): DataFrame =
    graft.ext.Packing.packSequences(documents(s, d),
      seqLen = 512L, blockSize = 1000L)

  /** X9b — the pad-to-boundary packing variant: no sequence mixes two
    * documents; each doc's advance is ceil-rounded to whole sequences.
    * Same hierarchical scan, so the oracle replays it with the rounded
    * quantity in the one ordered window. */
  def x9PackPadded(s: SparkSession, d: String): DataFrame =
    graft.ext.Packing.packSequences(documents(s, d),
      seqLen = 512L, blockSize = 1000L, respectDocBoundaries = true)

  /** X9c — MATERIALIZED packed sequences (the training artifact, not
    * just the span layout): every non-final 512-token sequence is
    * exactly full, documents reassemble in key order, and the oracle
    * replays the whole composition — pack offsets, per-span token
    * slices, ordered reassembly — down to the md5 of each sequence's
    * space-joined text (one wrong token anywhere breaks the hash). */
  def x9Materialize(s: SparkSession, d: String): DataFrame =
    graft.ext.Packing.materializeSequences(documents(s, d),
        seqLen = 512L, blockSize = 1000L)
      .select(col("seq_id"), col("seq_tok"),
        md5(col("seq_text").cast("binary")).as("seq_md5"))
      .orderBy("seq_id")

  /** X10g — the TERMINAL pipeline artifact with read-back verification:
    * curate → split (BEFORE packing — no sequence may mix splits) →
    * per-split pack + materialize → split-partitioned shards →
    * re-read → per-split census (sequence count, token mass, summed
    * md5-prefix fingerprint of every sequence's text mod 10⁹). The
    * oracle independently replays the curation survivors, the salted
    * split bands, each split's pack offsets (the window PARTITIONED by
    * split), the token slices, and the ordered reassembly — a hash
    * match proves the whole chain, write and read included. */
  def x10WritePacked(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val bench = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("bench_id"), col("text"))
    // Deliberately UNSPREAD (r18, measured): the lane is ~20
    // SEQUENTIAL broadcast-build jobs (per split: block census ->
    // superblock offsets -> block offsets, each build re-evaluating
    // the token census over the pinned survivors -- a nested-broadcast
    // chain the scheduler cannot overlap). Spreading the corpus into
    // curate parallelized each job's scan but multiplied per-job
    // task overhead: 4.89 s vs 4.34 s at 32c, matched windows
    // (plans/r18/x10_write_packed_profile.txt). Collapsing the chain
    // means re-deriving pack offsets differently -- an algorithm
    // change, out of scope.
    val curated = graft.ext.Curation.curate(docs, bench,
      graft.ext.Curation.Config(minTokens = 25L, maxTokens = 90L,
        rates = Map("en" -> 0.4), seqLen = 512L))
    val dir = persistedIndexDir("packed_out", d)(_ => ())
    // Shard count = max(size-adaptive, 8): unlike x10_write_verify's 15
    // (split, source) leaf groups, the packed layout has only 3 split
    // leaves — at numShards = 1 the whole parquet encode serializes
    // through 3 tasks (measured SLOWER than the fixed 8). The fixed
    // floor keeps ~24-way write parallelism on the fixture; the
    // size-adaptive term takes over at corpus scale (guide §6 file
    // sizing). Census below is shard-invariant either way.
    graft.ext.Curation.writePacked(curated, dir,
      seqLen = 512L, blockSize = 1000L,
      numShards = math.max(graft.ext.Curation.adaptiveShards(docs), 8))
    s.read.parquet(dir)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_seqs"),
        sum(col("seq_tok")).as("n_tokens"),
        sum(pmod(conv(substring(md5(col("seq_text")), 1, 15), 16, 10)
          .cast("long"), lit(1000000000L))).as("seq_fp_sum"))
      .orderBy("split")
  }

  /** X3f — within-document bigram repetition per language (Gopher-style
    * quality rule). */
  def x3Repetition(s: SparkSession, d: String): DataFrame =
    TextAnalysis.repetitionByLang(documents(s, d), n = 2)

  /** X10 — the end-to-end curation funnel over documents: exact dedup →
    * fuzzy dedup (X1b pairs resolved via connected components) →
    * decontamination vs the first 3 docs as "benchmark" → PII redaction →
    * token-band quality filter [25, 90] → 'en' down-sampled to 40% →
    * packed into 512-token sequences. One row: survivors per stage; the
    * planted near-duplicates visibly drop at the fuzzy stage. */
  def x10CurationFunnel(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val bench = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("bench_id"), col("text"))
    // Funnel-path-only spread — the x10_keepbest_funnel rationale.
    val pairs = graft.ext.Dedup.jaccardPairs(docs, n = 4, minSim = 0.8)
    graft.ext.Curation.funnel(
      spreadDocs(docs, bytesPerTask = 128L * 1024), bench,
      graft.ext.Curation.Config(
        minTokens = 25L, maxTokens = 90L,
        rates = Map("en" -> 0.4), seqLen = 512L), fuzzyPairs = Some(pairs))
  }

  /** X10-keepbest — the funnel with the X1a-best keeper policy
    * composed in ([[graft.ext.Curation.Config.keeperQuality]]): the
    * exact-dedup stage keeps the raw-LONGEST family member over the
    * [[paddedDocs]] plant, so every planted family's canonical is the
    * +10000 copy. The divergence is observable in the audit through
    * the designed flag independence: the fuzzy stage still resolves
    * components to their min id, so a plant that wins the dedup stage
    * loses the fuzzy one — those families contribute to
    * `n_after_dedup` but not `n_after_fuzzy`, a census a min-key
    * funnel run could never produce. The oracle replays the DESC/ASC
    * keeper window inside the full funnel SQL over the same plant. */
  def x10KeepbestFunnel(s: SparkSession, d: String): DataFrame = {
    val corpus = paddedDocs(s, d)
    val bench = corpus.filter(col("doc_id") < 3)
      .select(col("doc_id").as("bench_id"), col("text"))
    // Spread ONLY the funnel's flag-pass input, not the jaccard corpus:
    // the pair builder is a chain of small eager jobs where extra
    // partitions multiply per-task overhead (r17 measured the full
    // spread NEGATIVE here; r18 re-measured — CPU 4× at equal wall),
    // while the single-aggregate flag pass was a 2-task serial stage.
    val pairs = graft.ext.Dedup.jaccardPairs(corpus, n = 4, minSim = 0.8)
    graft.ext.Curation.funnel(
      spreadDocs(corpus, bytesPerTask = 128L * 1024), bench,
      graft.ext.Curation.Config(
        minTokens = 25L, maxTokens = 90L,
        rates = Map("en" -> 0.4), seqLen = 512L,
        keeperQuality = Some(length(col("text")))),
      fuzzyPairs = Some(pairs))
  }

  /** X10b — the funnel audit grouped PER SOURCE (the recipe-debugging
    * view: which source's budget each stage ate) — the same single
    * aggregate as x10 with one more grouping key. Configured without
    * the fuzzy stage (the pair graph is x10's expensive half and is
    * already oracle-checked there); stage flags stay corpus-global,
    * only the counting is per source. */
  def x10FunnelBySource(s: SparkSession, d: String): DataFrame = {
    val docs = spreadDocs(documents(s, d))
    val bench = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("bench_id"), col("text"))
    graft.ext.Curation.funnel(docs, bench, graft.ext.Curation.Config(
        minTokens = 25L, maxTokens = 90L,
        rates = Map("en" -> 0.4), seqLen = 512L),
      groupBy = Some("source"))
  }

  /** X10c — the funnel in SOFT-dedup mode (X17 composed into X10): the
    * planted duplicate families (same union as [[x17SoftDedup]]) all
    * SURVIVE the dedup stage, carrying `soft_weight_ppm`; the audit's
    * `tokens_weighted_after_*` columns show each family contributing
    * ~one document of effective mass while the doc counts stay
    * unreduced. No fuzzy stage: exact copies are Jaccard-1.0 pairs, so
    * a pair-graph stage would re-drop the very copies soft mode
    * exists to keep. */
  def x10SoftFunnel(s: SparkSession, d: String): DataFrame = {
    val (history, shard) = plantedShard(documents(s, d), withSecondCopy = true)
    val docs = history.unionByName(shard)
    val bench = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("bench_id"), col("text"))
    graft.ext.Curation.funnel(docs, bench, graft.ext.Curation.Config(
      minTokens = 25L, maxTokens = 90L,
      rates = Map("en" -> 0.4), seqLen = 512L, softDedup = true))
  }

  /** X10-ppl — the funnel with the X15 perplexity gate (the CCNet
    * recipe): `is_quality` additionally requires the bigram-LM band of
    * the redacted text — under a model trained on docs < 300, the same
    * reference split as [[x15LmPpl]] — to clear `pplBands`. The oracle
    * replays the whole composition: redaction, token band, the LM
    * count/backoff/micro-nat arithmetic, band cut, sampling, packing. */
  def x10PplFunnel(s: SparkSession, d: String): DataFrame = {
    val docs = spreadDocs(documents(s, d))
    val bench = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("bench_id"), col("text"))
    // Gate on the PERSISTED reference LM (trained + saved once per
    // JVM, shared with x15_lm_against — the x10_dsir_funnel pattern):
    // the funnel run pays load + probe, never the reference re-train.
    val model = graft.ext.NgramLm.load(s, lmModelDir(s, d))
    graft.ext.Curation.funnel(docs, bench, graft.ext.Curation.Config(
      minTokens = 25L, maxTokens = 90L,
      rates = Map("en" -> 0.4), seqLen = 512L,
      pplModel = Some(model), pplBands = Seq("head")))
  }

  /** X10-dsir — the funnel with an EXTERNAL selection stage: the X16
    * Gumbel top-k importance resample (k = 100 over docs ≥ 300 scored
    * against the docs < 300 reference — the exact [[x16DsirSelect]]
    * draw) REPLACES the keyed-hash sampler via `selection`, the plug
    * point for weight-proportional resampling / active-learning picks /
    * human labels. Closes VERDICT r8 missing #4's second half: X16 now
    * composes into X10 like X15 does. The oracle replays the DSIR
    * weights, the Gumbel draw, and the funnel aggregate end-to-end. */
  def x10DsirFunnel(s: SparkSession, d: String): DataFrame = {
    val docs = spreadDocs(documents(s, d))
    val bench = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("bench_id"), col("text"))
    // Score against the PERSISTED bucket model (fit + saved once per
    // JVM, shared with x16_dsir_against — VERDICT r9 next #2): the
    // funnel run pays load + probe, never the two-corpus census re-fit.
    val model = graft.ext.Dsir.load(s, dsirModelDir(s, d))
    val scored = graft.ext.Dsir.weighted(
      docs.filter(col("doc_id") >= 300), model)
    val sel = graft.ext.Dsir.resampleFrom(scored, k = 100, seed = 42L)
      .select("doc_id")
    graft.ext.Curation.funnel(docs, bench, graft.ext.Curation.Config(
        minTokens = 25L, maxTokens = 90L, seqLen = 512L),
      selection = Some(sel))
  }

  /** X5b-real — PNG pixel decode through the in-JDK codec
    * ([[graft.ext.Multimodal.decodePngs]]): payloads are REAL compressed
    * PNGs (JDK encoder, per-scanline channel formula), decoding reads
    * dimensions + integer channel sums back out of the bitstream, and
    * the oracle replays the sums in closed form — PNG losslessness is
    * what makes a codec-free DuckDB oracle possible. */
  def x5PngDecode(s: SparkSession, d: String): DataFrame =
    graft.ext.Multimodal.decodePngs(
      graft.ext.Multimodal.pngMediaFromDocuments(documents(s, d)))
      .orderBy("media_id")

  /** X5c — the REAL animated-image round trip (the video lane's pixel
    * decode, VERDICT r12 missing #3: MP4 pixel decode was the one
    * documented stub — GIF ships an in-JDK codec, so the multi-FRAME
    * decode is real end-to-end like PNG/WAV): JDK-encoded indexed-color
    * GIFs of the closed-form per-frame scanline formula, decoded back
    * frame by frame through javax.imageio; indexed color is lossless,
    * so the per-frame integer channel sums equal the oracle's replay
    * exactly. */
  def x5GifDecode(s: SparkSession, d: String): DataFrame =
    graft.ext.Multimodal.decodeGifs(
      graft.ext.Multimodal.gifMediaFromDocuments(documents(s, d)))
      .orderBy("media_id", "frame_idx")

  /** X5b-wav — the REAL WAV round trip: JDK-encoded 16-bit PCM payloads
    * of the closed-form sample formula, decoded back through
    * javax.sound.sampled; PCM is lossless, so the integer sample sums
    * equal the oracle's SQL replay exactly (the [[x5PngDecode]] pattern
    * on the audio lane). */
  def x5WavDecode(s: SparkSession, d: String): DataFrame =
    graft.ext.Multimodal.decodeWavs(
      graft.ext.Multimodal.wavMediaFromDocuments(documents(s, d)))
      .orderBy("media_id")

  /** X5e — image perceptual-hash near-dup (VERDICT r13 ask #4): REAL
    * planted PNGs ([[graft.ext.Multimodal.dhashMediaFromDocuments]] —
    * 7-member families whose grid-row-0 ridge writes the first 8 hash
    * bits, so within-family Hamming = |Δvariant| and the v=5/v=6
    * members are byte-identical) are decoded back through the JDK
    * codec, dHashed ([[graft.ext.Multimodal.dhashPngs]]), and paired
    * by the SAME pigeonhole band machinery as text SimHash
    * ([[graft.ext.Dedup.hammingPairs]]). Every pixel is closed-form,
    * so the oracle recomputes every hash AND the brute-force Hamming
    * predicate — the banded engine must match it exactly (the
    * pigeonhole guarantee, hash-checked rather than trusted). */
  def x5DhashPairs(s: SparkSession, d: String): DataFrame =
    graft.ext.Dedup.hammingPairs(
      graft.ext.Multimodal.dhashPngs(
        graft.ext.Multimodal.dhashMediaFromDocuments(documents(s, d))),
      "media_id", "dhash", maxHamming = 3)
      .toDF("media_id_a", "media_id_b", "hamming")
      .orderBy("media_id_a", "media_id_b")

  /** X5e-dropset — the dedup-composition form of [[x5DhashPairs]]:
    * an image is DROPPED iff some smaller-id image sits within
    * Hamming ≤ 3 (keep-first-occurrence over the near-dup relation —
    * the image analog of the text drop-set lanes). Consumes
    * [[graft.ext.Dedup.hammingEdges]], NOT the full pair relation
    * (VERDICT r14 #1): the verdicts only need one smaller neighbor
    * per dropped image, and the star-edge relation supplies it
    * linearly where the Hamming-0 family self-join is quadratic in
    * duplicate-family size — identical drop set by construction
    * (the `DISTINCT doc_id_b` equivalence proven in hammingEdges'
    * contract and pinned in DedupSpec), so the oracle's brute-force
    * pair replay is unchanged. */
  def x5DhashDropset(s: SparkSession, d: String): DataFrame =
    graft.ext.Dedup.hammingEdges(
      graft.ext.Multimodal.dhashPngs(
        graft.ext.Multimodal.dhashMediaFromDocuments(documents(s, d))),
      "media_id", "dhash", maxHamming = 3)
      .select(col("doc_id_b").as("media_id")).distinct()
      .orderBy("media_id")

  /** X5f — REAL compressed-audio decode (VERDICT r13 ask #6): planted
    * WAVE/IMA-ADPCM containers (format tag 0x0011 — public IMA spec,
    * bit-exact integer predictor) decoded through the hand-rolled
    * state machine in [[graft.ext.Multimodal.decodeAdpcms]]; the
    * oracle replays the SAME state machine independently as a DuckDB
    * recursive CTE over the planted nibble formula, including both
    * clamps and the step/index tables — sum and position-weighted sum
    * of the decoded PCM must match exactly. */
  def x5AdpcmDecode(s: SparkSession, d: String): DataFrame =
    graft.ext.Multimodal.decodeAdpcms(
      graft.ext.Multimodal.adpcmMediaFromDocuments(documents(s, d)))
      .orderBy("media_id")

  /** X5i — AUDIO perceptual near-dup ([[graft.ext.Multimodal
    * .ahash64]]): the dedup composition the audio lane was missing —
    * images had dHash/pHash, audio only decoded. Real planted WAVs
    * (PCM lossless, so the oracle replays every sample from
    * [[graft.ext.Multimodal.ahashSample]]), hashed by the 65-window
    * energy profile with exact cross-multiplied integer comparisons,
    * paired by the SAME banded [[graft.ext.Dedup.hammingPairs]] core
    * as every other 64-bit signature family. The signature is
    * VOLUME-INVARIANT by construction, and the plant carries an exact
    * 2× re-gain member per family (byte-different payload, Hamming 0)
    * — the duplicate class byte-exact audio dedup misses. FULL oracle:
    * everything is closed-form, so the oracle recomputes every hash
    * and applies the brute-force Hamming predicate — the pigeonhole
    * recall guarantee hash-checked, the x5_dhash_pairs posture.
    * maxHamming = 3 → 4 pigeonhole bands of 16 bits — the widest
    * bucket space of the image-lane family. */
  def x5AhashPairs(s: SparkSession, d: String): DataFrame =
    graft.ext.Dedup.hammingPairs(
      graft.ext.Multimodal.ahashWavs(
        graft.ext.Multimodal.ahashMediaFromDocuments(documents(s, d))),
      "media_id", "ahash", maxHamming = 3)
      .toDF("media_id_a", "media_id_b", "hamming")
      .orderBy("media_id_a", "media_id_b")

  /** X5i-dropset — keep-first over the audio near-dup relation via
    * [[graft.ext.Dedup.hammingEdges]] (linear in duplicate-family
    * size — the VERDICT r14 #1 discipline); every re-gained copy
    * drops against its original. */
  def x5AhashDropset(s: SparkSession, d: String): DataFrame =
    graft.ext.Dedup.hammingEdges(
      graft.ext.Multimodal.ahashWavs(
        graft.ext.Multimodal.ahashMediaFromDocuments(documents(s, d))),
      "media_id", "ahash", maxHamming = 3)
      .select(col("doc_id_b").as("media_id")).distinct()
      .orderBy("media_id")

  /** X5i-against — incremental audio near-dup vs a persisted aHash
    * index (the X1h nightly posture on the audio lane, mirroring
    * [[x5DhashAgainst]]): today's shard (variants 3–6) decodes,
    * hashes, and bands against the SAVED signature parquet (variants
    * 0–2) through [[graft.ext.Dedup.hammingPairsAgainst]] — cross-side
    * (band, bucket) candidates only, exact Hamming verify — and the
    * oracle replays the brute-force cross predicate over the
    * closed-form hashes. */
  /** The X5i incremental split: history = variants 0–2 of every aHash
    * family (hashed and SAVED to parquet once per JVM), shard =
    * variants 3–6 — the ONE builder shared by the batch probe
    * ([[x5AhashAgainst]]) and the streaming drop ([[s23StreamAhash]]),
    * the dhashShardAndIndex discipline. */
  private def ahashShardAndIndex(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val media = graft.ext.Multimodal.ahashMediaFromDocuments(
      documents(s, d))
    val dir = persistedIndexDir("ahash_index", d) { dir =>
      graft.ext.Multimodal.ahashWavs(
          media.filter(expr("(media_id % 21) div 3 < 3")))
        .write.mode("overwrite").parquet(dir)
    }
    (media.filter(expr("(media_id % 21) div 3 >= 3")), s.read.parquet(dir))
  }

  def x5AhashAgainst(s: SparkSession, d: String): DataFrame = {
    val (shard, histSigs) = ahashShardAndIndex(s, d)
    graft.ext.Dedup.hammingPairsAgainst(
        graft.ext.Multimodal.ahashWavs(shard), histSigs,
        "media_id", "ahash", maxHamming = 3)
      .toDF("media_id_new", "media_id_hist", "hamming")
      .orderBy("media_id_new", "media_id_hist")
  }

  /** X5j — window-chunked LONG-CLIP audio near-dup (VERDICT r16 next
    * #2): the whole-clip aHash fingerprints minutes, so hour-scale
    * clips chunk into fixed 512-sample segments, each hashed with the
    * SAME [[graft.ext.Multimodal.ahash64]], and clips pair by SEGMENT
    * containment ([[graft.ext.Multimodal.ahashChunkPairs]] — the X8
    * containment shape on audio, hash-equality inverted-index join,
    * never all-pairs, integer cross-multiplied verdict). The plant
    * ([[graft.ext.Multimodal.ahashChunkMediaFromDocuments]]) pairs
    * six-segment clips sharing EXACTLY 3 content segments, the copy
    * re-gained 2× (byte-different samples, identical segment hashes by
    * volume invariance): containment 3/6 meets the 500,000-ppm gate
    * exactly, cross-family pairs share nothing. FULL oracle: every
    * sample is closed-form, so DuckDB replays each segment's 65-window
    * hash, the hash-0 drop, the containment counts, and the gate. */
  def x5AhashChunks(s: SparkSession, d: String): DataFrame =
    graft.ext.Multimodal.ahashChunkPairs(
      graft.ext.Multimodal.ahashChunks(
        graft.ext.Multimodal.ahashChunkMediaFromDocuments(
          documents(s, d)), segmentSamples = 512),
      minFracPpm = 500000L)
      .orderBy("media_id_a", "media_id_b")

  /** The s24 split: history = the CHUNK segment-hash index of
    * member-0 clips of EVEN families, saved to parquet once per JVM;
    * arrivals = every member-1 clip. Even-family arrivals share 3 of
    * 6 segments with an indexed clip (exactly the 500,000-ppm gate);
    * odd-family arrivals share nothing — both outcomes live. */
  private def ahashChunkIndexDir(s: SparkSession, d: String): String =
    persistedIndexDir("ahash_chunk_index", d) { dir =>
      graft.stream.StreamingChunks.chunkSegments(
          graft.ext.Multimodal.ahashChunkMediaFromDocuments(
            documents(s, d))
            .filter(expr(
              "(media_id % 6) div 3 = 0 AND (media_id div 6) % 2 = 0")),
          segmentSamples = 512)
        .write.mode("overwrite").parquet(dir)
    }

  /** S24 — streaming long-clip audio drop by SEGMENT CONTAINMENT
    * against the saved chunk index ([[graft.stream.StreamingChunks
    * .chunkDropBatch]] — the X5j near-dup as an ingest gate, the X8
    * decontamination shape on audio): an arriving clip drops iff
    * ≥ 50% of its fingerprintable segments exactly match an indexed
    * segment hash (volume-invariant, so re-gained partial copies
    * drop). Even-family arrivals drop at exactly the 3/6 boundary;
    * odd-family arrivals survive. Live per-micro-batch emission via
    * foreachBatch is pinned in StreamingChunksSpec; this batch
    * replay carries the FULL closed-form oracle. */
  def s24StreamChunks(s: SparkSession, d: String): DataFrame = {
    val hist = s.read.parquet(ahashChunkIndexDir(s, d))
    val arrivals = graft.ext.Multimodal.ahashChunkMediaFromDocuments(
        documents(s, d))
      .filter(expr("(media_id % 6) div 3 = 1"))
    graft.stream.StreamingChunks.chunkDropBatch(arrivals, hist,
        segmentSamples = 512, minFracPpm = 500000L)
      .orderBy("media_id")
  }

  /** The X5k incremental split: history = member-0 clips' frame
    * signatures (hashed and SAVED to parquet once per JVM), probes =
    * member-1 clips — the dhash/ahash ShardAndIndex discipline on
    * video. */
  private def videoShardAndIndex(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val media = graft.ext.Multimodal.videoMediaFromDocuments(
      documents(s, d))
    val dir = persistedIndexDir("video_frame_index", d) { dir =>
      graft.ext.Multimodal.videoFramePhashes(
          media.filter(expr("(media_id % 6) div 3 = 0")))
        .write.mode("overwrite").parquet(dir)
    }
    (media.filter(expr("(media_id % 6) div 3 = 1")), s.read.parquet(dir))
  }

  /** X5k-against — incremental VIDEO near-dup vs the persisted frame
    * index (the X1h nightly posture on video, completing the family:
    * images and audio both carry their `_against` probes): tonight's
    * clips decode, pHash per frame, and band against the SAVED
    * signature parquet through [[graft.ext.Multimodal
    * .frameMajorityAgainst]] — cross-side candidates only, exact
    * Hamming verify, the frame-majority containment verdict keyed
    * (new, hist). Every probe matches its family original 4/6; the
    * oracle replays the brute-force cross predicate over the
    * closed-form hashes. */
  def x5VideoAgainst(s: SparkSession, d: String): DataFrame = {
    val (probes, histFrames) = videoShardAndIndex(s, d)
    graft.ext.Multimodal.frameMajorityAgainst(
        graft.ext.Multimodal.videoFramePhashes(probes), histFrames,
        maxHamming = 4, minFracPpm = 600000L)
      .orderBy("media_id_new", "media_id_hist")
  }

  /** X10-media — the MEDIA curation funnel capstone (r17): the three
    * perceptual near-dup families composed into one per-modality
    * funnel card — images (dHash, keep-first at Hamming ≤ 3 via the
    * LINEAR `hammingEdges`), audio (aHash, same machinery), video
    * (frame-ALIGNMENT at 600,000 ppm — the order-aware verdict). One
    * row per modality: corpus size, signed (decodable/fingerprintable)
    * count, and unique survivors after the keep-first drop — the
    * dataset-card numbers a multimodal training corpus ships with.
    * FULL oracle: all three closed-form hash chains are shared with
    * their pair lanes, so every count replays exactly. */
  def x10MediaFunnel(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    // Corpus sizes census the slim document ids through the SHARED
    // generator predicates (the generators are 1-row-per-doc maps over
    // exactly these filters, so the counts are identical by
    // construction) — an aggregate cannot push below the opaque encode
    // mapPartitions, so counting the generated frames would pay a full
    // codec pass per modality just to count rows (r17 opt).
    def nMedia(pred: Column): DataFrame =
      docs.filter(pred).agg(count(lit(1)).as("n_media"))
    def card(modality: String, media: DataFrame, sigs: DataFrame,
        dropped: DataFrame): DataFrame =
      media
        .crossJoin(broadcast(sigs.agg(
          countDistinct(col("media_id")).as("n_signed"))))
        .crossJoin(broadcast(dropped.agg(
          countDistinct(col("media_id")).as("n_dropped"))))
        .select(lit(modality).as("modality"), col("n_media"),
          col("n_signed"),
          (col("n_signed") - coalesce(col("n_dropped"), lit(0L)))
            .as("n_unique"))
    // Each modality's signature frame pins ONCE (the slim (id, hash)
    // rows) and feeds both the signed census and the drop arm — one
    // decode pass per modality instead of 2–3 (r17 opt; the
    // dhashPngsDistinct pin discipline).
    // The three modality chains are INDEPENDENT pipelines of many
    // small eager jobs (pin + banded-core pins — the r17 residual
    // profile: ~30 sequential jobs, none over 1.3 s, orchestration-
    // bound). Overlap them from driver threads (guide §2.6: actions
    // are only sequential because the driver calls them sequentially;
    // each modality's job tail back-fills the cores the others leave
    // idle).
    val Seq((imgSigs, imgDrop), (audSigs, audDrop), (vidSigs, vidDrop)) =
      Pin.all(Seq[() => (DataFrame, DataFrame)](
        () => {
          val sigs = Pin(graft.ext.Multimodal.dhashPngs(
            graft.ext.Multimodal.dhashMediaFromDocuments(docs)))
          val drop = graft.ext.Dedup.hammingEdges(sigs,
              "media_id", "dhash", maxHamming = 3)
            .select(col("doc_id_b").as("media_id"))
          (sigs, drop)
        },
        () => {
          val sigs = Pin(graft.ext.Multimodal.ahashWavs(
            graft.ext.Multimodal.ahashMediaFromDocuments(docs)))
          val drop = graft.ext.Dedup.hammingEdges(sigs,
              "media_id", "ahash", maxHamming = 3)
            .select(col("doc_id_b").as("media_id"))
          (sigs, drop)
        },
        () => {
          val frames = Pin(graft.ext.Multimodal.videoFramePhashes(
            graft.ext.Multimodal.videoMediaFromDocuments(docs)))
          val sigs = frames.select(col("media_id")).distinct()
            .select(col("media_id"))
          val drop = graft.ext.Multimodal.frameAlignmentPairs(frames,
              maxHamming = 4, minFracPpm = 600000L)
            .select(col("media_id_b").as("media_id"))
          (sigs, drop)
        }))(_())
    card("audio", nMedia(graft.ext.Multimodal.ahashDocPred),
        audSigs, audDrop)
      .unionByName(card("image", nMedia(graft.ext.Multimodal.dhashDocPred),
        imgSigs, imgDrop))
      .unionByName(card("video", nMedia(graft.ext.Multimodal.videoDocPred),
        vidSigs, vidDrop))
      .orderBy("modality")
  }

  /** X5k — VIDEO near-dup (VERDICT r16 next #5): the engine decoded
    * animated-GIF frames (x5_gif_decode) and pHashed stills
    * (x5_phash_pairs) — this lane composes them. REAL six-frame
    * indexed-color GIFs ([[graft.ext.Multimodal
    * .videoMediaFromDocuments]] — lossless, decoded pixels ARE the
    * closed-form palette formula) decode frame-by-frame, each frame
    * pHashed by the SAME exact-integer DCT ([[graft.ext.Multimodal
    * .videoFramePhashes]]), and clips pair by FRAME-MAJORITY Hamming
    * match ([[graft.ext.Multimodal.frameMajorityPairs]] — the banded
    * `hammingPairs` core at τ = 4 over packed (clip, frame) row ids,
    * then the X5j integer containment verdict at 600,000 ppm). The
    * plant's family pair is the clip RE-CUT two frames later — 4 of 6
    * contents shared (666,667 ppm ≥ gate; cross-family pairs share
    * nothing). FULL oracle: DuckDB replays every frame's integer DCT
    * hash from the palette formula, the brute-force τ ≤ 4 frame
    * predicate, the distinct-frame counts, and the ppm gate. */
  def x5VideoNeardup(s: SparkSession, d: String): DataFrame =
    graft.ext.Multimodal.frameMajorityPairs(
      graft.ext.Multimodal.videoFramePhashes(
        graft.ext.Multimodal.videoMediaFromDocuments(documents(s, d))),
      maxHamming = 4, minFracPpm = 600000L)
      .orderBy("media_id_a", "media_id_b")

  /** X5k-align — TEMPORAL-ORDER-aware video near-dup ([[graft.ext
    * .Multimodal.frameAlignmentPairs]]): the majority lane treats a
    * clip as a frame SET; this one demands the shared frames appear in
    * the SAME ORDER at ONE temporal shift — matched frame pairs group
    * by `frame_b − frame_a` and the verdict takes the max
    * distinct-frame count over offsets (the re-cut/trim duplicate
    * class; a shuffled re-ordering passes majority and fails
    * alignment — pinned in VideoNeardupSpec). On the planted corpus
    * the family pair aligns 4 of 6 frames at the single offset −2
    * (member 1 is the re-cut two frames later), so the same 83 pairs
    * qualify at the 600,000-ppm gate — by the STRICTER criterion.
    * FULL oracle: the shared closed-form hash chain plus the
    * per-offset grouping and max. */
  def x5VideoAlign(s: SparkSession, d: String): DataFrame =
    graft.ext.Multimodal.frameAlignmentPairs(
      graft.ext.Multimodal.videoFramePhashes(
        graft.ext.Multimodal.videoMediaFromDocuments(documents(s, d))),
      maxHamming = 4, minFracPpm = 600000L)
      .orderBy("media_id_a", "media_id_b")

  /** X5e-groups — pair-graph RESOLUTION on the image near-dup relation
    * (the X1f composition applied to dHash): connected components of
    * the Hamming-≤3 pair graph via the SAME min-label machinery as
    * text dedup ([[graft.ext.DedupResolve.connectedComponents]]),
    * component = smallest member, keep = the representative. The
    * oracle replays the identical recursive reachability over the
    * closed-form pair CTE — image dedup is resolvable end-to-end, not
    * just detectable. Resolution consumes
    * [[graft.ext.Dedup.hammingEdges]] (VERDICT r14 #1): star +
    * representative edges span the SAME components as the full pair
    * relation — linear where the Hamming-0 family self-join is
    * quadratic in duplicate-family size — so the recursive oracle
    * over the full closed-form pair graph is unchanged. */
  def x5DhashGroups(s: SparkSession, d: String): DataFrame = {
    val pairs = graft.ext.Dedup.hammingEdges(
      graft.ext.Multimodal.dhashPngs(
        graft.ext.Multimodal.dhashMediaFromDocuments(documents(s, d))),
      "media_id", "dhash", maxHamming = 3)
    graft.ext.DedupResolve.connectedComponents(pairs)
      .select(col("id").as("media_id"), col("component").as("cluster_id"),
        (col("id") === col("component")).as("keep"))
      .orderBy("media_id")
  }

  /** The X5e incremental split: history = variants 0–2 of every dHash
    * family (dHashed and SAVED to parquet once per JVM — the persisted
    * signature index a nightly image-dedup pipeline keeps), shard =
    * variants 3–6 (today's arrivals). Returns (shard media, loaded
    * history signatures). */
  private def dhashShardAndIndex(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val media = graft.ext.Multimodal.dhashMediaFromDocuments(documents(s, d))
    val dir = persistedIndexDir("dhash_index", d) { dir =>
      graft.ext.Multimodal.dhashPngs(
          media.filter(expr("(media_id % 21) div 3 < 3")))
        .write.mode("overwrite").parquet(dir)
    }
    (media.filter(expr("(media_id % 21) div 3 >= 3")), s.read.parquet(dir))
  }

  /** X5e-against — incremental image near-dup vs the persisted dHash
    * index (the X1h nightly posture on images): today's shard decodes,
    * hashes, and bands against the SAVED signature parquet through
    * [[graft.ext.Dedup.hammingPairsAgainst]] — cross-side (band,
    * bucket) candidates only, exact Hamming verify — and the oracle
    * replays the brute-force cross predicate over closed-form
    * hashes. */
  def x5DhashAgainst(s: SparkSession, d: String): DataFrame = {
    val (shard, histSigs) = dhashShardAndIndex(s, d)
    graft.ext.Dedup.hammingPairsAgainst(
        graft.ext.Multimodal.dhashPngs(shard), histSigs,
        "media_id", "dhash", maxHamming = 3)
      .toDF("media_id_new", "media_id_hist", "hamming")
      .orderBy("media_id_new", "media_id_hist")
  }

  /** X5g — REAL JPEG round trip (VERDICT r15 ask #2: crawled images
    * are overwhelmingly JPEG, and the JDK ships the codec): planted
    * block-constant gray JPEGs (dims in MCU multiples, every 8×8 block
    * a constant — AC quantizes to exact zero) encoded at explicit
    * quality 0.95, decoded back through javax.imageio, per-MCU-block
    * luma sums compared against the closed-form plant. JPEG is LOSSY,
    * so unlike the PNG lane the sums themselves can't hash — instead
    * the lane ships the decode-fidelity VERDICT: every block's mean
    * must sit within ±4 counts of [[graft.ext.Multimodal
    * .jpegBlockLuma]] (DC quant step at q0.95 ≈ 2 → ≤1 count of mean
    * error, plus YCbCr integer rounding — measured max ≤ 2 in
    * JpegPhashSpec, so the registered tolerance carries 2× headroom;
    * ADVICE r15: the bound is a property of the JVM's ImageIO quant
    * tables, and the closed-form oracle asserts the FULL count — a
    * JDK vendor whose q0.95 DC step exceeds ~8 would fail this lane
    * legitimately; the headroom covers table variation within the
    * libjpeg-derived family every mainstream JDK ships), and the
    * oracle asserts n_blocks_within_tol = n_blocks in closed form. A
    * codec drift breaks the hash loudly. */
  def x5JpegDecode(s: SparkSession, d: String): DataFrame =
    graft.ext.Multimodal.decodeJpegs(
      graft.ext.Multimodal.jpegMediaFromDocuments(documents(s, d)))
      .select(col("media_id"), col("jpeg_w"), col("jpeg_h"),
        size(col("block_sums")).as("n_blocks"),
        expr("""size(filter(block_sums, (s, i) ->
                abs(s - 64 * (20 + (31 * media_id
                                    + 7 * (i % (jpeg_w div 8))
                                    + 13 * (i div (jpeg_w div 8))) % 200))
                <= 256))""").as("n_blocks_within_tol"))
      .orderBy("media_id")

  /** X5g-pairs — DCT perceptual-hash near-dup ([[graft.ext.Multimodal
    * .phash64]]): the re-compression-robust sibling of dHash, riding
    * the SAME banded [[graft.ext.Dedup.hammingPairs]] core. The
    * exact-integer DCT formulation (fixed-point cosine table shared
    * verbatim with the oracle, floor-div cell means, integer median
    * threshold) is what promotes the lane to a FULL oracle where a
    * float DCT would be rows-only: the oracle recomputes every hash
    * from the closed-form planted luma and applies the brute-force
    * Hamming predicate — the banded engine must equal it exactly.
    * Cross-codec stability (pHash of a JPEG re-encode lands within a
    * few bits of the PNG original) is pinned in JpegPhashSpec.
    *
    * maxHamming = 4 — a deliberate SCALE choice, not a recall
    * compromise: the pigeonhole guarantee carves 64 bits into h+1
    * bands, so bucket space is 2^(64/(h+1)) — at h = 4 that is 5 bands
    * of 12–13 bits (4,096–8,192 buckets, the dHash-lane shape), while
    * a looser h = 10 would leave 5-bit bands whose 32–64 buckets
    * degenerate the candidate join to all-pairs once distinct
    * signatures outgrow them. The planted distance distribution is
    * bimodal (within-family 0/2/4, cross-family ≥ 16 — censused in
    * the oracle), so every threshold in [4, 15] emits the IDENTICAL
    * relation; the lane registers the one that scales. */
  def x5PhashPairs(s: SparkSession, d: String): DataFrame =
    graft.ext.Dedup.hammingPairs(
      graft.ext.Multimodal.phashImages(
        graft.ext.Multimodal.phashMediaFromDocuments(documents(s, d))),
      "media_id", "phash", maxHamming = 4)
      .toDF("media_id_a", "media_id_b", "hamming")
      .orderBy("media_id_a", "media_id_b")

  /** X5h — CROSS-CODEC image near-dup dedup (VERDICT r15 next #1: the
    * production scenario pHash exists for — a crawled-image pipeline
    * meets the same picture as a lossless PNG and as somebody's JPEG
    * re-save, and must drop the re-encode against the original, which
    * byte-exact dedup and gradient-sign dHash both miss): the planted
    * pHash PNGs PLUS a REAL JDK JPEG q0.95 re-encode of every one
    * ([[graft.ext.Multimodal.reencodeJpegs]], ids offset above every
    * original), pHashed through the ONE format-agnostic decode body,
    * keep-first drop set via [[graft.ext.Dedup.hammingEdges]].
    *
    * FULL oracle by certainty bands (the x46_planted_ratio posture):
    * the planted distance distribution is three-banded — measured at
    * sf0.01: re-encode-to-own-original ≤ 4 bits, within-family
    * (either codec) ≤ 4, cross-family (either codec) ≥ 14 — so at
    * maxHamming = 6 (the JpegPhashSpec-pinned cross-codec ceiling,
    * re-measured on THIS corpus in XcodecDedupSpec; certainty holds
    * for every threshold in [4, 13]) the drop set is exactly
    * {every JPEG re-encode} ∪ {PNG b-sides of the CLOSED-FORM PNG
    * pair relation}: a re-encode always has its own original smaller
    * and within range; a PNG's smaller neighbors are all PNGs (the
    * id offset), so its verdict replays from the exact-integer pHash
    * CTE alone; and no cross-family pair can form. Spurious extra
    * pairs AMONG re-encodes cannot perturb it (their b-side is a
    * re-encode, already dropped). The JDK-drift dependence is the
    * documented x5_jpeg_decode class: a codec whose q0.95 drift
    * exceeds 6 bits fails this lane loudly — that is the lane's job.
    * maxHamming = 6 → 7 pigeonhole bands of 9–10 bits (512–1,024
    * buckets) — the same bucket-space scale argument as the h=4
    * pair lane. */
  def x5XcodecDedup(s: SparkSession, d: String): DataFrame = {
    val pngs = graft.ext.Multimodal.phashMediaFromDocuments(
      documents(s, d))
    val media = pngs.unionByName(
      graft.ext.Multimodal.reencodeJpegs(pngs, idOffset = 1000000000L))
    graft.ext.Dedup.hammingEdges(
        graft.ext.Multimodal.phashImages(media),
        "media_id", "phash", maxHamming = 6)
      .select(col("doc_id_b").as("media_id")).distinct()
      .orderBy("media_id")
  }

  /** X5h-groups — cross-codec RESOLUTION (the x5DhashGroups
    * composition on the union corpus): connected components of the
    * Hamming-≤6 pHash graph over PNG originals + their JPEG q0.95
    * re-encodes, via the SAME min-label machinery as text/image dedup.
    * Each planted family resolves to ONE cluster holding both codecs'
    * copies, labeled by its smallest PNG id (re-encode ids are offset
    * above every original, so the representative is always an
    * original — the keep flag never elects a re-save).
    *
    * FULL oracle by the x5_xcodec_dedup certainty bands, one claim
    * stronger: every within-family pair (either codec) sits ≤ 6 bits
    * (measured ≤ 4, asserted in XcodecDedupSpec), so each family is a
    * CLIQUE — the union graph's components are exactly {PNG
    * components of the closed-form pHash graph} with each re-encode
    * attached to its own original's component; no re-encode can merge
    * two components (cross-family ≥ 14 > 6 + nothing to merge within
    * a clique). The oracle replays PNG reachability recursively and
    * attaches re-encodes by construction. */
  def x5XcodecGroups(s: SparkSession, d: String): DataFrame = {
    val pngs = graft.ext.Multimodal.phashMediaFromDocuments(
      documents(s, d))
    val media = pngs.unionByName(
      graft.ext.Multimodal.reencodeJpegs(pngs, idOffset = 1000000000L))
    val edges = graft.ext.Dedup.hammingEdges(
      graft.ext.Multimodal.phashImages(media),
      "media_id", "phash", maxHamming = 6)
    graft.ext.DedupResolve.connectedComponents(edges)
      .select(col("id").as("media_id"), col("component").as("cluster_id"),
        (col("id") === col("component")).as("keep"))
      .orderBy("media_id")
  }

  /** X5e-pipeline — the PRODUCTION composition of the dHash family
    * (VERDICT r15 ask #6): the four registered lanes are standalone by
    * contract (each re-decodes the corpus — the documented
    * registered-standalone pricing), but a real pipeline runs the
    * decode+hash pass ONCE, persists the signature index, and serves
    * every consumer from it. This lane prices that shape: signatures
    * built and SAVED once per JVM ([[persistedIndexDir]]), then the
    * pair probe, the keep-first drop verdict, and the
    * connected-component resolution all read the LOADED parquet —
    * one [[graft.ext.Dedup.hammingEdges]] pass feeds all three
    * (≈ one decode pass + three cheap probes instead of four decode
    * passes). The signature build itself takes the exact-payload
    * pre-dedup arm ([[graft.ext.Multimodal.dhashPngsDistinct]] —
    * VERDICT r14 #1 tail: byte-identical re-encodes decode ONCE, the
    * dominant duplicate class at production scale; result ≡ the plain
    * decode, pinned in DHashSpec). Output is the per-image verdict
    * card: signature, cluster, CC-representative keep, and the
    * keep-first drop flag — the oracle replays all of it from the
    * closed-form hash CTE. */
  def x5DhashPipeline(s: SparkSession, d: String): DataFrame = {
    val dir = persistedIndexDir("dhash_sigs", d) { dir =>
      graft.ext.Multimodal.dhashPngsDistinct(
          graft.ext.Multimodal.dhashMediaFromDocuments(documents(s, d)))
        .write.mode("overwrite").parquet(dir)
    }
    val sigs = s.read.parquet(dir)
    val edges = graft.ext.Dedup.hammingEdges(sigs, "media_id", "dhash",
      maxHamming = 3)
    val clusters = graft.ext.DedupResolve.connectedComponents(edges)
      .select(col("id").as("media_id"), col("component").as("cluster_id"))
    val dropped = edges.select(col("doc_id_b").as("media_id")).distinct()
      .withColumn("drop_firstseen", lit(true))
    sigs.join(clusters, Seq("media_id"), "left")
      .join(dropped, Seq("media_id"), "left")
      .select(col("media_id"), col("dhash"),
        coalesce(col("cluster_id"), col("media_id")).as("cluster_id"),
        (coalesce(col("cluster_id"), col("media_id")) === col("media_id"))
          .as("keep"),
        coalesce(col("drop_firstseen"), lit(false)).as("drop_firstseen"))
      .orderBy("media_id")
  }

  /** s19 — STREAMING image near-dup drop vs the saved dHash index,
    * batch-replayed through the same code path
    * ([[graft.stream.StreamingDhash.dhashDropStreamAgainst]]): per-row
    * decode+hash, then one stream-static LEFT ANTI join per pigeonhole
    * band with the exact Hamming verify. maxHamming = 2 so the planted
    * corpus exercises BOTH outcomes (vp=3/4 shard members drop, vp=5
    * members survive at distance 3). The first streaming near-dup lane
    * with a FULL oracle — dHash is deterministic where the s3/s4
    * MinHash/SimHash families are rows-only by nature. Live
    * two-MemoryStream parity is pinned in StreamingDhashSpec. */
  def s19StreamDhash(s: SparkSession, d: String): DataFrame = {
    val (shard, histSigs) = dhashShardAndIndex(s, d)
    graft.stream.StreamingDhash.dhashDropStreamAgainst(shard, histSigs,
        maxHamming = 2)
      .orderBy("media_id")
  }

  /** s21 — STREAMING image near-dup drop vs a saved pHash index
    * (VERDICT r15 next #3 — the s19 machine generalized over the
    * signature column, [[graft.stream.StreamingDhash
    * .dropStreamAgainst]]): arriving images hash through the
    * format-agnostic [[graft.ext.Multimodal.decodePhash]] body and
    * survive one stream-static LEFT ANTI join per pigeonhole band
    * against the persisted signature parquet. History = variants 0–2
    * of every pHash family, shard = variants 3–7; at maxHamming = 2
    * BOTH outcomes are planted (most shard members sit within 2 bits
    * of a history variant, while some vp=6 members sit at distance 4
    * and survive — measured at sf0.01). pHash is deterministic, so
    * the batch replay carries the FULL closed-form oracle (the s19
    * contract on the DCT family); live two-MemoryStream parity is
    * pinned in StreamingDhashSpec. */
  def s21StreamPhash(s: SparkSession, d: String): DataFrame = {
    val media = graft.ext.Multimodal.phashMediaFromDocuments(
      documents(s, d))
    val dir = persistedIndexDir("phash_index", d) { dir =>
      graft.ext.Multimodal.phashImages(
          media.filter(expr("(media_id % 24) div 3 < 3")))
        .write.mode("overwrite").parquet(dir)
    }
    graft.stream.StreamingDhash.phashDropStreamAgainst(
        media.filter(expr("(media_id % 24) div 3 >= 3")),
        s.read.parquet(dir), maxHamming = 2)
      .orderBy("media_id")
  }

  /** s23 — STREAMING audio near-dup drop vs a saved aHash index: the
    * THIRD consumer of the generalized drop core ([[graft.stream
    * .StreamingDhash.dropStreamAgainst]] — the r16 claim that a new
    * 64-bit signature family costs one nullable hasher, proven by
    * consumption). History = variants 0–2 of every aHash family,
    * shard = variants 3–6; at maxHamming = 3 both outcomes are
    * planted (31 drop / 64 survive at sf0.01 — the re-gained v=6
    * copies of indexed-adjacent profiles drop where byte-fingerprint
    * dedup would admit them). aHash is deterministic, so the batch
    * replay carries the FULL closed-form oracle; live two-MemoryStream
    * parity is pinned in StreamingDhashSpec. */
  def s23StreamAhash(s: SparkSession, d: String): DataFrame = {
    val (shard, histSigs) = ahashShardAndIndex(s, d)
    graft.stream.StreamingDhash.ahashDropStreamAgainst(shard, histSigs,
        maxHamming = 3)
      .orderBy("media_id")
  }

  /** X19 — stage-0 text cleaning over deterministically "dirtied"
    * documents: three planted markup lanes (element wrap + script
    * payload, double-escaped entities + bare tag, trailing entities +
    * style block) exercise every rule; the oracle rebuilds the SAME
    * dirty input and replays the whole regex/replace chain at the
    * string level (md5 of the cleaned text — one wrong byte anywhere
    * breaks the hash). */
  /** Deterministically "dirtied" documents — ONE construction shared by
    * [[x19TextClean]] and [[x10CleanFunnel]] (and mirrored verbatim by
    * their oracles' shared CTE), so the two can never drift apart. */
  private def dirtiedDocs(s: SparkSession, d: String): DataFrame = {
    val lane = pmod(col("doc_id"), lit(5))
    val safe = coalesce(col("text"), lit(""))
    documents(s, d).withColumn("text",
      when(lane === 0,
        concat(lit("<p class=\"d"), col("doc_id").cast("string"), lit("\">"),
          safe,
          lit("</p> <script type=\"text/javascript\">var x = 1 < 2;</script>")))
      .when(lane === 1,
        concat(lit("A &amp;amp; B &lt;tag&gt; <BR>"), safe))
      .when(lane === 2,
        concat(safe, lit("&nbsp;&quot;q&quot;&#39;s <style>p{color:red}</style>")))
      .otherwise(col("text")))
  }

  /** S12 — STREAMING stage-0 cleaning ([[graft.stream.StreamingClean
    * .cleanStream]]): fix-encoding → NFC → line dedup → markup clean
    * as ONE stateless projection (micro-batch ≡ batch pinned in
    * StreamingCleanSpec; this registration is the batch replay). The
    * plant stacks every damage class the chain exists for — the X19
    * markup dirt, a mojibake suffix (%7), an NFD suffix (%11, mutually
    * exclusive with the mojibake branch: U+0301 is outside the
    * single-byte image and would void the repair), and the universal
    * boiler footer — and the census fingerprints the CLEANED text per
    * language, so one wrong byte from any stage anywhere breaks it. */
  def s12StreamClean(s: SparkSession, d: String): DataFrame = {
    val planted = dirtiedDocs(s, d)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(7L)) === 3L,
          concat(coalesce(col("text"), lit("")), lit(" cafÃ©")))
          .when(pmod(col("doc_id"), lit(11L)) === 4L,
            concat(coalesce(col("text"), lit("")), lit(" cafe\u0301 nfd")))
          .otherwise(col("text")))
      .withColumn("text", concat(coalesce(col("text"), lit("")),
        lit("\nboiler\nboiler\nboiler")))
    graft.stream.StreamingClean.cleanStream(planted)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(length(col("text"))).as("clean_chars"),
        sum(pmod(conv(substring(md5(col("text")), 1, 15), 16, 10)
          .cast("long"), lit(1000000000L))).as("clean_fp_sum"))
      .orderBy("lang")
  }

  /** S13 — streaming quality scoring ([[graft.stream.StreamingQuality]]
    * batch replay, the stateless-lane discipline): the X13 linear
    * scorer with a FILE-LOADED weight vector
    * (`recipes/quality_scorer.json`, classpath — the deploy artifact),
    * censused per (lang, band). MemoryStream ≡ batch pinned in
    * StreamingQualitySpec. */
  def s13StreamQuality(s: SparkSession, d: String): DataFrame = {
    val cfg = graft.ext.QualityScore.loadConfig("recipes/quality_scorer.json")
    graft.stream.StreamingQuality.scoreStream(documents(s, d), cfg)
      .groupBy("lang", "q_band")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("q_tokens")).as("tokens"),
        sum(col("q_score_num")).as("score_num_sum"))
      .orderBy("lang", "q_band")
  }

  def x19TextClean(s: SparkSession, d: String): DataFrame = {
    graft.ext.TextClean.clean(dirtiedDocs(s, d))
      .select(col("doc_id"), col("had_markup"), col("n_tok_clean"),
        md5(coalesce(col("clean_text"), lit("")).cast("binary")).as("clean_md5"))
      .orderBy("doc_id")
  }

  /** X10d — the funnel with LINE DEDUP + CLEANING FIRST (X19 composed
    * into X10): the deterministically-dirtied corpus ([[dirtiedDocs]])
    * gains a uniform three-copy boilerplate footer
    * (`\nboiler\nboiler\nboiler` — the same suffix on every document,
    * so exact-dedup families survive the plant), then flows through
    * `dedupLinesFirst = true` (the C4 line strip — the footer
    * collapses to ONE `boiler` line BEFORE cleaning destroys
    * newlines; observable in the audit because the two dropped tokens
    * shift the 25..90 quality band) and `cleanFirst = true`, so dedup
    * norms, contamination shingles, redaction, and quality all see
    * the line-deduped, cleaned text — markup-only lanes still dedup
    * against their plain twins, and benchmark quotes wrapped in
    * markup still flag. Benchmark = the RAW (clean) docs 0–2, the
    * realistic direction: benchmarks are clean, the crawl is not.
    * Funnel-vs-standalone composition parity is pinned in
    * CurationSpec. */
  def x10CleanFunnel(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val bench = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("bench_id"), col("text"))
    val planted = dirtiedDocs(s, d).withColumn("text",
      concat(coalesce(col("text"), lit("")), lit("\nboiler\nboiler\nboiler")))
    graft.ext.Curation.funnel(planted, bench,
      graft.ext.Curation.Config(
        minTokens = 25L, maxTokens = 90L,
        rates = Map("en" -> 0.4), seqLen = 512L,
        cleanFirst = true, dedupLinesFirst = true))
  }

  /** X10x — the funnel with CROSS-document boilerplate stripping first
    * (X19c composed into X10, the CCNet ordering: the shard-level line
    * dedup is the first text operation): every document gains the SAME
    * one-line footer, `Config.xdocMinDf = 3` strips every line shared
    * by ≥ 3 documents — the footer vanishes before dedup norms,
    * contamination shingles, redaction, or quality ever see it, and
    * single-line duplicate families collapse to the empty-text family
    * (their whole text IS a ≥3-doc line). Benchmark = the RAW docs
    * 0–2 (benchmarks are clean, the crawl is not — the
    * x10_clean_funnel direction). The oracle replays the line census,
    * the threshold, the ordered rebuild, and the full funnel census
    * over the rewritten corpus. */
  def x10XdedupFunnel(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val bench = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("bench_id"), col("text"))
    val planted = docs.withColumn("text",
      concat(coalesce(col("text"), lit("")),
        lit("\nsubscribe to our newsletter")))
    graft.ext.Curation.funnel(planted, bench,
      graft.ext.Curation.Config(
        minTokens = 25L, maxTokens = 90L,
        rates = Map("en" -> 0.4), seqLen = 512L,
        xdocMinDf = Some(3L)))
  }

  /** X10n — the funnel with NFC normalization composed in
    * ([[graft.ext.Curation.Config.nfcFirst]] — VERDICT r11 missing #3:
    * the standalone x19_nfc_dedup proved decomposed-form duplicates
    * walk past x10 dedup without it). Every doc < 10 gains TWO planted
    * twins with composable sequences (' é café'): a composed copy at
    * +1e6 and its NFD-decomposed form at +2e6 — different BYTES, same
    * text. With `nfcFirst = true` both normalize to one byte form
    * before the dedup census, so each +2e6 twin loses min-key to its
    * +1e6 sibling at the dedup stage — a census a non-normalizing
    * funnel could never produce (it would count both as canonical).
    * The oracle replays the whole funnel over `nfc_normalize`d text,
    * using NFC(NFD(x)) = NFC(x) to avoid computing NFD in SQL. */
  def x10NfcFunnel(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions.unicodeNormalize
    val docs = spreadDocs(documents(s, d))
    val bench = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("bench_id"), col("text"))
    val twins = docs.select("doc_id", "lang", "text")
      .filter(col("doc_id") < 10)
      .withColumn("text",
        concat(coalesce(col("text"), lit("")), lit(" é café")))
    val corpus = docs.select("doc_id", "lang", "text")
      .unionByName(twins.withColumn("doc_id", col("doc_id") + 1000000L))
      .unionByName(twins.withColumn("doc_id", col("doc_id") + 2000000L)
        .withColumn("text", unicodeNormalize(col("text"), "NFD")))
    graft.ext.Curation.funnel(corpus, bench,
      graft.ext.Curation.Config(
        minTokens = 25L, maxTokens = 90L,
        rates = Map("en" -> 0.4), seqLen = 512L,
        nfcFirst = true))
  }

  /** X10 × X19e — the funnel with encoding repair composed in
    * ([[graft.ext.Curation.Config.fixEncodingFirst]], closing the
    * standalone x19_fix_mojibake lane's hole the way nfcFirst closed
    * X19d's): for doc_id < 10, a clean twin (+1e6, real " café") and a
    * MOJIBAKE-damaged twin (+2e6, " cafÃ©") join the corpus — with
    * the repair on, the damaged twin's bytes restore to the clean
    * twin's, they form ONE dedup family, and min-key keeps +1e6 /
    * drops +2e6. The oracle replays the repair as the planted replace
    * chain and the whole funnel census over the repaired corpus. */
  def x10MojibakeFunnel(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val bench = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("bench_id"), col("text"))
    val base = docs.select("doc_id", "lang", "text")
      .filter(col("doc_id") < 10)
    val clean = base.withColumn("text",
      concat(coalesce(col("text"), lit("")), lit(" caf\u00e9")))
    val damaged = base.withColumn("text",
      concat(coalesce(col("text"), lit("")), lit(" caf\u00c3\u00a9")))
    val corpus = docs.select("doc_id", "lang", "text")
      .unionByName(clean.withColumn("doc_id", col("doc_id") + 1000000L))
      .unionByName(damaged.withColumn("doc_id", col("doc_id") + 2000000L))
    graft.ext.Curation.funnel(corpus, bench,
      graft.ext.Curation.Config(
        minTokens = 25L, maxTokens = 90L,
        rates = Map("en" -> 0.4), seqLen = 512L,
        fixEncodingFirst = true))
  }

  /** X10 × X3i — the funnel with the blocklist page gate
    * ([[graft.ext.Curation.Config.blocklist]]): every 9th document
    * gains a MIXED-CASE planted blocklist word, the gate requires zero
    * token-exact hits on the (redacted) text, and the funnel census
    * shows the quality stage eating exactly the planted docs. The
    * oracle replays the gate as the list_filter token split inside
    * the standard funnel body. */
  def x10BlocklistFunnel(s: SparkSession, d: String): DataFrame = {
    val docs = spreadDocs(documents(s, d))
    val planted = docs.select("doc_id", "lang", "text")
      .withColumn("text",
        when(pmod(col("doc_id"), lit(9L)) === 2L,
          concat(coalesce(col("text"), lit("")),
            lit(" utterly FORBIDDEN content")))
          .otherwise(col("text")))
    val bench = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("bench_id"), col("text"))
    graft.ext.Curation.funnel(planted, bench,
      graft.ext.Curation.Config(
        minTokens = 25L, maxTokens = 90L,
        rates = Map("en" -> 0.4), seqLen = 512L,
        blocklist = Seq("forbidden", "viagra")))
  }

  /** X10 × X7b — the funnel with the Luhn-gated card scrub composed in
    * ([[graft.ext.Curation.Config.redactCards]]): the x7 card plants
    * ride the corpus into the funnel, redaction rewrites the text
    * BEFORE the regex PII chain (the s11 ordering) and before any
    * token counting, so the census observes the scrub through the
    * token mass (a 4-4-4-4 card's 4 tokens collapse to ONE `<CARD>`)
    * while Luhn-INVALID candidates keep their tokens — restraint and
    * redaction both visible in one hash. */
  def x10CardFunnel(s: SparkSession, d: String): DataFrame = {
    val docs = spreadDocs(documents(s, d))
    val planted = docs.select("doc_id", "lang", "text").withColumn("text",
      when(col("doc_id") % 17 === 0,
        concat(col("text"),
          lit(" pay 4111111111111111 or 4539 5787 6362 1486 now")))
        .when(col("doc_id") % 19 === 0,
          concat(col("text"),
            lit(" order 4111111111111112 ref 1234567890123 end")))
        .otherwise(col("text")))
    val bench = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("bench_id"), col("text"))
    graft.ext.Curation.funnel(planted, bench,
      graft.ext.Curation.Config(
        minTokens = 25L, maxTokens = 90L,
        rates = Map("en" -> 0.4), seqLen = 512L,
        redactCards = true))
  }

  /** X10r — the funnel driven by a CHECKED-IN recipe file
    * (`src/main/resources/recipes/base_curation.json` →
    * [[graft.ext.CurationRecipe]] → Config — the SuiteLoader/
    * ScorerConfig authoring discipline: the recipe a training run used
    * is a reviewed, diffable artifact, not code). Loaded from the
    * CLASSPATH, not the working directory — a library query must not
    * assume the caller's cwd (r12: a bench harness launched from
    * another directory failed exactly that way). Proves the file →
    * Config → funnel loop end-to-end against the oracle. No fuzzy pair frame — recipes CONFIGURE; detector
    * frames are pipeline arguments — so the fuzzy stage is the
    * documented no-op, and the oracle is assembled from the existing
    * shared parts (gram4Ctes + benchGramsRawCtes + noFuzzyFunnelBody),
    * zero new SQL bodies to drift. */
  def x10RecipeFunnel(s: SparkSession, d: String): DataFrame = {
    val docs = spreadDocs(documents(s, d))
    val bench = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("bench_id"), col("text"))
    graft.ext.Curation.funnel(docs, bench,
      graft.ext.CurationRecipe.load("recipes/base_curation.json"))
  }

  /** X10h — the funnel with the C4 RULE BUNDLE as the quality stage
    * (the third shipped rule bundle composed into X10 like X13/X15/
    * X3g): the corpus text is punctuation-free word soup — every raw
    * line fails C4's terminal-punctuation rule — so the plant supplies
    * the prose: even docs gain three retained sentences (pass), odd
    * docs one (fail the 3-sentence floor), and every 6th doc a brace
    * line (a sentence-passing page that still fails the page gate —
    * both gates observable in n_after_quality). minTokens stays 1 so
    * the quality stage isolates the C4 verdict; the oracle replays the
    * line retention, the sentence census, and both page gates per
    * document through the SAME c4LineCtes the standalone bundle
    * uses. */
  def x10C4Funnel(s: SparkSession, d: String): DataFrame = {
    val planted = spreadDocs(documents(s, d)).withColumn("text",
      concat(coalesce(col("text"), lit("")),
        when(pmod(col("doc_id"), lit(2L)) === 0L,
          lit("\nthis is a good first sentence here." +
            "\nthis is a good second sentence here." +
            "\nthis is a good third sentence here."))
          .otherwise(lit("\nonly one good sentence lives here.")),
        when(pmod(col("doc_id"), lit(6L)) === 0L, lit("\nbrace { line"))
          .otherwise(lit(""))))
    val bench = planted.filter(col("doc_id") < 3)
      .select(col("doc_id").as("bench_id"), col("text"))
    graft.ext.Curation.funnel(planted, bench, graft.ext.Curation.Config(
      rates = Map("en" -> 0.4), seqLen = 512L, c4Gate = true))
  }

/** X10f — the funnel with the GOPHER RULE BUNDLE as the quality
    * stage (the MassiveText recipe: the published structural rules ARE
    * the quality filter; X3g composed into X10 the way X13/X15/X16/X19
    * already are): `Config.gopherPreset` gates `is_quality` on the
    * full rule conjunction evaluated over the redacted text — token
    * range, mean token length, symbol share, stopword floor, duplicate
    * bigrams/lines/paragraphs by count AND char mass, top-2/3/4-gram
    * coverage, duplicate-5..10-gram char share. `Config.minTokens` is
    * left at 1 so the quality stage isolates the Gopher verdict; the
    * oracle replays every rule per document plus the funnel census. */
  def x10GopherFunnel(s: SparkSession, d: String): DataFrame = {
    val docs = spreadDocs(documents(s, d))
    val bench = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("bench_id"), col("text"))
    graft.ext.Curation.funnel(docs, bench, graft.ext.Curation.Config(
      rates = Map("en" -> 0.4), seqLen = 512L,
      gopherPreset = Some(graft.ext.TextAnalysis.GopherPreset(
        Seq("a", "the", "and", "of")))))
  }

  /** X10f-bylang — the Gopher-gated funnel DISPATCHED PER LANGUAGE
    * (the multi-lingual corpus shape): every document is judged under
    * its own language's shipped preset ([[graft.ext.TextAnalysis
    * .gopherPresets]] — stopwords, symbol class, CJK character
    * tokenization, mean-token-length floor), unlisted languages under
    * the English defaults — ONE scan, one `when`-chain dispatch, the
    * same fused census. The oracle replays the dispatch per document:
    * language-cased tokenization, stop lists, script symbol classes,
    * and every rule. */
  def x10GopherByLang(s: SparkSession, d: String): DataFrame = {
    val docs = spreadDocs(documents(s, d))
    val bench = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("bench_id"), col("text"))
    graft.ext.Curation.funnel(docs, bench, graft.ext.Curation.Config(
      rates = Map("en" -> 0.4), seqLen = 512L,
      gopherPresets = Some(graft.ext.TextAnalysis.gopherPresets)))
  }

  /** X10e — the curated-corpus WRITER with read-back verification
    * (VERDICT r9 missing #2: the funnel previously ended at pack with
    * no deliverable): [[graft.ext.Curation.curate]]'s survivors are
    * WRITTEN as (split, source)-partitioned parquet with the
    * deterministic layout of [[graft.ext.Curation.write]] (one file
    * per directory, X12 training-order rows), then the query RE-READS
    * the shards and aggregates a per-(split, source) census — doc
    * count, token mass, key sum, and a summed md5-prefix content
    * fingerprint of the redacted text (mod 10⁹ so a billion-document
    * partition cannot overflow the 64-bit sum). The DuckDB oracle
    * derives the SAME census from the base tables, so a hash match
    * proves write → read preserved every surviving row and its exact
    * bytes — the v6 store-and-read-back discipline
    * ([[graft.suite.Checkpoint]]) applied to the corpus deliverable.
    * Row-level write→read parity and the in-file order are
    * additionally pinned by CurationSpec. */
  def x10WriteVerify(s: SparkSession, d: String): DataFrame = {
    val docs = spreadDocs(documents(s, d))
    val bench = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("bench_id"), col("text"))
    val curated = graft.ext.Curation.curate(docs, bench,
      graft.ext.Curation.Config(minTokens = 25L, maxTokens = 90L,
        rates = Map("en" -> 0.4), seqLen = 512L))
    // Fixed per-JVM target (created once, overwritten per run — the
    // write itself is the measured operator; a fresh dir per rep
    // would leak one corpus copy into /tmp per bench rep, ADVICE r9).
    val dir = persistedIndexDir("curated_out", d)(_ => ())
    // SIZE-ADAPTIVE shard count (r18; was a fixed 8): the census below
    // is shard-invariant, so the count is pure layout tuning — 8 pmod
    // shards × 15 (split, source) leaves made 120 KB-scale files whose
    // per-file open/commit latency WAS the write stage (measured: 32
    // write tasks × ~1.4 s blocked, ~45 task-seconds for ~500 rows).
    // At corpus scale the same helper sizes leaves toward ~256 MB files
    // (guide §6); the sharded-layout machinery itself stays exercised
    // and audited by x10_layout_audit's fixed-8 artifact.
    graft.ext.Curation.write(curated, dir,
      numShards = graft.ext.Curation.adaptiveShards(docs))
    s.read.parquet(dir)
      .groupBy(col("split"), col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("doc_id")).as("id_sum"),
        sum(pmod(conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long"),
          lit(1000000000L))).as("text_fp_sum"))
      .orderBy("split", "source")
  }

  /** X10f — reader-side LAYOUT AUDIT of the sharded curated corpus
    * ([[graft.ext.Curation.auditLayout]]): the written artifact is
    * re-read and every row's split band, salted order key, and shard
    * band are re-derived and counted against what the directories and
    * persisted columns claim — the consumer half of the writer's
    * determinism contract, one distributed aggregate. The corpus is
    * written ONCE per JVM (the persisted-index discipline — the write
    * itself is x10_write_verify's measured operator, not this one's);
    * the oracle independently derives the survivor census and the
    * occupied-leaf count (split × source × 8 pmod shards) from
    * the base tables and expects ZERO violations. */
  def x10LayoutAudit(s: SparkSession, d: String): DataFrame = {
    val dir = persistedIndexDir("layout_out", d) { dir =>
      val docs = documents(s, d)
      val bench = docs.filter(col("doc_id") < 3)
        .select(col("doc_id").as("bench_id"), col("text"))
      val curated = graft.ext.Curation.curate(docs, bench,
        graft.ext.Curation.Config(minTokens = 25L, maxTokens = 90L,
          rates = Map("en" -> 0.4), seqLen = 512L))
      graft.ext.Curation.write(curated, dir, numShards = 8)
    }
    graft.ext.Curation.auditLayout(s, dir, numShards = 8)
  }

  /** X19b — within-document duplicate-line removal (C4 boilerplate
    * strip): every document gains a deterministic repeated-boiler
    * footer (three copies of one line around a doc-unique keeper), the
    * engine's native [[graft.functions.DedupLines]] rewrite keeps first
    * occurrences in order, and the oracle replays the whole rewrite at
    * the string level (md5 of the deduped text — one wrong byte
    * anywhere breaks the hash; first-occurrence ORDER is part of the
    * contract, not just the surviving line set). */
  def x19LineDedup(s: SparkSession, d: String): DataFrame = {
    val planted = documents(s, d).withColumn("text",
      concat(coalesce(col("text"), lit("")),
        lit("\nboiler\nkeep "), col("doc_id").cast("string"),
        lit("\nboiler\nboiler")))
    graft.ext.TextClean.dedupLinesAudit(planted)
      .select(col("doc_id"), col("n_lines_in"), col("n_lines_out"),
        col("had_dup_lines"),
        md5(col("line_deduped").cast("binary")).as("dedup_md5"))
      .orderBy("doc_id")
  }

  /** X19c — CROSS-document boilerplate-line removal (the CCNet
    * shard-level dedup step): every document gains the SAME footer
    * line (document frequency = corpus size — unambiguously over any
    * threshold) plus a pair-shared line (`pair <doc_id/2>`, df = 2 —
    * must SURVIVE at `minDocFreq = 3`, pinning the threshold
    * boundary); naturally repeated corpus lines (the planted exact-dup
    * families) drop too, and the oracle replays all of it: the line
    * census over normalized lines, the threshold, the order-preserving
    * reassembly, and a per-source census with an md5-prefix
    * fingerprint sum over every rewritten text — one wrong byte in any
    * document breaks the hash. */
  def x19XdocDedup(s: SparkSession, d: String): DataFrame = {
    val planted = documents(s, d).withColumn("text",
      concat(coalesce(col("text"), lit("")),
        lit("\nsubscribe to our newsletter\npair "),
        (col("doc_id") / lit(2L)).cast("long").cast("string")))
    graft.ext.TextClean.dedupLinesAcross(planted, minDocFreq = 3L)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_boiler_dropped")).as("boiler_dropped"),
        count(when(col("had_boilerplate"), lit(1))).as("docs_hit"),
        sum(pmod(conv(substring(md5(col("text_xdedup")), 1, 15), 16, 10)
          .cast("long"), lit(1000000000L))).as("text_fp_sum"))
      .orderBy("source")
  }

  /** X23 — context-window chunking over the documents table: 32-token
    * windows advancing by 24 (8-token overlap — small windows so the
    * sf docs genuinely multi-chunk). The oracle re-derives chunk
    * count, the token slices, and the md5 of every chunk text. */
  def x23ChunkDocs(s: SparkSession, d: String): DataFrame =
    graft.ext.Chunking.chunkTokens(documents(s, d),
        chunkTokens = 32, overlap = 8)
      .orderBy("doc_id", "chunk_idx")

  /** X24 — TF-IDF top-3 keywords per document: the integer score
    * tf·round(10⁶·ln(N/df)) ranks deterministically (ties by term);
    * the oracle replays tf, the df census, the one micro-nat rounding,
    * and the ranked cut. */
  def x24TfidfTerms(s: SparkSession, d: String): DataFrame =
    graft.ext.TfIdf.topTerms(documents(s, d), k = 3)
      .orderBy("doc_id", "rank")

  /** X25 — corpus snapshot diff: the "new" snapshot removes every 17th
    * document, rewrites every 13th (not also 17th — removal wins), and
    * adds 20 re-keyed copies past the id range; every other document is
    * byte-identical. All four statuses occur, and the census pins WHICH
    * documents carry each status through the per-status key sum, not
    * just how many. Null-text documents ride through as `unchanged`
    * (the coalesce-to-'' fingerprint discipline). */
  def x25CorpusDiff(s: SparkSession, d: String): DataFrame = {
    val old = documents(s, d)
    val newer = old
      .filter(pmod(col("doc_id"), lit(17L)) =!= 0L)
      .withColumn("text",
        when(pmod(col("doc_id"), lit(13L)) === 0L,
          concat(lit("edited v2: "), coalesce(col("text"), lit(""))))
          .otherwise(col("text")))
      .unionByName(old.filter(col("doc_id") < 20)
        .withColumn("doc_id", col("doc_id") + lit(1000000L)))
    graft.ext.CorpusDiff.summary(old, newer)
  }

  /** X26 — quality-ordered exact token-budget cut ([[graft.ext.BudgetCut]]
    * — the staged "best 12k tokens" selection: band census → driver walk
    * → ordered window over ONE band). Quality = `n_chars`, the 12000
    * budget lands the cut mid-corpus at sf0.01 (~44% of ~27k tokens kept)
    * and in the top slice at sf0.1 (~4% of ~271k) — both exercise a real
    * crossing. The oracle replays the cut as the NAIVE un-partitioned
    * global window (`sum(toks) OVER (ORDER BY n_chars DESC, doc_id)`
    * with an explicit ROWS frame) — the plan this operator exists to
    * avoid — so any staged-vs-global divergence (a band boundary
    * splitting a tie, an off-by-one at the crossing doc) breaks the
    * hash. Output: per-source census of the kept set. */
  def x26BudgetCut(s: SparkSession, d: String): DataFrame =
    graft.ext.BudgetCut.cut(documents(s, d), qualityCol = "n_chars",
        budget = 12000L)
      .groupBy("source")
      .agg(count(lit(1)).as("kept_docs"),
        sum("tokens").as("kept_tokens"),
        min("doc_id").as("min_doc"),
        max("doc_id").as("max_doc"))
      .orderBy("source")

  /** Per-document REAL BPE token counts under the saved k=8 vocab —
    * the x53d serving shape (distinct words segment once, documents
    * join by word), LEFT-joined back onto every document so docs with
    * no census-admissible word carry an explicit 0 (they cost nothing
    * against a budget but remain cuttable rows). */
  private def bpeDocTokens(s: SparkSession, d: String): DataFrame = {
    val merges = graft.ext.BpeTrain.loadMerges(s, bpeMergesDir(s, d))
      .orderBy("step").collect() // bounded: the k-row merge list
      .map(r => r.getAs[String]("left") -> r.getAs[String]("right")).toSeq
    val dw = documents(s, d).select(col("doc_id"),
        explode(graft.ext.TextAnalysis.tokens(lower(col("text"))))
          .as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
    val vocab = dw.select("word").distinct()
      .withColumn("n_syms",
        size(graft.ext.BpeTrain.segment(col("word"), merges)).cast("long"))
    documents(s, d).select(col("doc_id"), col("source"), col("n_chars"))
      .join(dw.join(vocab, "word").groupBy("doc_id")
        .agg(sum("n_syms").as("bpe_tokens")), Seq("doc_id"), "left")
      .withColumn("bpe_tokens", coalesce(col("bpe_tokens"), lit(0L)))
  }

  /** X26-bpe — the token-budget cut denominated in REAL BPE tokens
    * (x26's own contract names the gap: "a real budget is BPE
    * tokens"; the whitespace lane approximates it). Composes the
    * saved x53 vocab's per-document counts ([[bpeDocTokens]]) with
    * the SAME staged band-census cut machinery ([[graft.ext.BudgetCut
    * .cutBy]] — the caller-supplied-counter generalization of `cut`),
    * quality-ordered by n_chars, budget 30,000 BPE tokens (a real cut
    * at every shipped SF — neither empty nor total). The oracle
    * re-derives the merges from the census chain, replays the apply
    * chain per distinct word, and cuts with the naive global window
    * the staged plan provably equals. */
  def x26BudgetBpe(s: SparkSession, d: String): DataFrame =
    graft.ext.BudgetCut.cutBy(bpeDocTokens(s, d), qualityCol = "n_chars",
        budget = 30000L, tokensOf = col("bpe_tokens"))
      .groupBy("source")
      .agg(count(lit(1)).as("kept_docs"),
        sum("tokens").as("kept_tokens"),
        min("doc_id").as("min_doc"),
        max("doc_id").as("max_doc"))
      .orderBy("source")

  /** S25 — streaming BPE token counting under the saved vocab
    * ([[graft.stream.StreamingBpe.tokenCounts]] — the x53d serving
    * result as a stateless per-document projection, merge list as
    * plan literals): the ingest-path token-budget meter. Each
    * arriving document segments its OWN words inside one expression
    * (no census join, no state store); both formulations apply the
    * identical greedy fuse, so this batch replay binds to the SAME
    * oracle as x53_bpe_count — the two serving shapes can never
    * drift. Live MemoryStream parity pinned in StreamingBpeSpec. */
  def s25StreamBpe(s: SparkSession, d: String): DataFrame = {
    val merges = graft.ext.BpeTrain.loadMerges(s, bpeMergesDir(s, d))
      .orderBy("step").collect() // bounded: the k-row merge list
      .map(r => r.getAs[String]("left") -> r.getAs[String]("right")).toSeq
    // Batch replay spreads the corpus first (r17 opt): the per-document
    // merge-replay expression is the whole cost and would otherwise run
    // inside the unsplittable single-task scan stage. The LIVE path is
    // untouched — a stream's parallelism comes from its source.
    graft.stream.StreamingBpe.tokenCounts(spreadDocs(documents(s, d)), merges)
      .orderBy("doc_id")
  }

  /** X21 — AS-OF join: each event annotated with the user's latest
    * 'purchase' event at-or-before it ([[graft.ext.AsofJoin]] — the
    * point-in-time-correct feature lookup). Right side deduped
    * deterministically per (user, ts) by max event_id; DuckDB's native
    * ASOF LEFT JOIN replays the exact semantics. */
  def x21AsofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val purchases = graft.ext.AsofJoin.dedupRight(
      ev.filter(col("event_type") === "purchase")
        .select("user_id", "ts", "event_id", "value"),
      keyCol = "user_id", timeCol = "ts", tieCol = "event_id")
    graft.ext.AsofJoin.asofJoin(
        ev.select("event_id", "user_id", "ts", "event_type"),
        purchases,
        keyCol = "user_id", leftTime = "ts", rightTime = "ts",
        rightCols = Seq("event_id", "value"))
      .select(col("event_id"), col("user_id"), col("ts"),
        col("asof_event_id").as("ref_event_id"),
        col("asof_value").as("ref_value"))
      .orderBy("event_id")
  }

  /** X42 — point-in-time dimension enrichment ([[graft.ext.AsofJoin
    * .enrichAsOf]]): every event joined to the dimension VERSION valid
    * at its timestamp — the T4 SCD-2 consumer. The plant builds a
    * three-version tier history per event user with keyed validity
    * boundaries (bronze → silver → gold, contiguous), and DROPS the
    * silver version for every 11th user so a real history GAP exists:
    * events landing in it must enrich NULL (proving the valid_to
    * check, not just the as-of pick). */
  /** The shared X42/S14 enrichment plant — ONE definition, because the
    * streaming lane's batch replay hash-checks against the SAME oracle:
    * returns (facts, three-version tier dimension with the 11th-user
    * silver gap). */
  private def enrichPlant(s: SparkSession, d: String)
      : (DataFrame, DataFrame) = {
    val ev = events(s, d)
      .select(col("event_id"), col("user_id"), col("ts"))
    val users = ev.select("user_id").distinct()
    val vt1 = date_add(to_date(lit("2024-01-08")),
      pmod(col("user_id"), lit(7L)).cast("int")).cast("timestamp")
    val vt2 = date_add(to_date(lit("2024-01-18")),
      pmod(col("user_id"), lit(9L)).cast("int")).cast("timestamp")
    val v1 = users.select(col("user_id"), lit("bronze").as("tier"),
      to_date(lit("2024-01-01")).cast("timestamp").as("valid_from"),
      vt1.as("valid_to"))
    val v2 = users.filter(pmod(col("user_id"), lit(11L)) =!= 0L)
      .select(col("user_id"), lit("silver").as("tier"),
        vt1.as("valid_from"), vt2.as("valid_to"))
    val v3 = users.select(col("user_id"), lit("gold").as("tier"),
      vt2.as("valid_from"),
      lit(null).cast("timestamp").as("valid_to"))
    (ev, v1.unionByName(v2).unionByName(v3))
  }

  def x42Scd2Enrich(s: SparkSession, d: String): DataFrame = {
    val (ev, dim) = enrichPlant(s, d)
    graft.ext.AsofJoin.enrichAsOf(ev, dim,
        keyCol = "user_id", timeCol = "ts", attrs = Seq("tier"))
      .select(col("event_id"), col("user_id"), col("dim_tier"),
        col("dim_valid_from"))
      .orderBy("event_id")
  }

  /** S14 — streaming point-in-time enrichment ([[graft.stream
    * .StreamingEnrich]] batch replay): the SERVE-time form of X42 —
    * arriving facts enrich against the broadcast dimension history via
    * one stream-static validity join; hash-matched against the SAME
    * oracle as `x42_scd2_enrich` (batch ≡ asof formulation pinned in
    * StreamingEnrichSpec along with live MemoryStream parity). */
  def s14StreamEnrich(s: SparkSession, d: String): DataFrame = {
    val (ev, dim) = enrichPlant(s, d)
    graft.stream.StreamingEnrich.enrichStream(ev, dim,
        keyCol = "user_id", timeCol = "ts", attrs = Seq("tier"))
      .select(col("event_id"), col("user_id"), col("dim_tier"),
        col("dim_valid_from"))
      .orderBy("event_id")
  }

  /** X22 — range join: every event matched back to its containing
    * session interval ([[graft.ext.RangeJoin]] over [[x18Sessionize]]'s
    * sessions — a self-consistency pair: sessions partition each user's
    * timeline, so every event lands in exactly one interval). Bin width
    * 1 day ≈ the sf session durations. Oracle = the plain BETWEEN join
    * over the same session derivation. */
  def x22RangeJoin(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val sessions = graft.ext.Sessionize.summary(ev, gapSeconds = 43200L)
      .select("user_id", "session_idx", "start_ts", "end_ts")
    graft.ext.RangeJoin.rangeJoin(
        ev.select("event_id", "user_id", "ts"), sessions,
        keyCol = "user_id", leftTime = "ts",
        rightStart = "start_ts", rightEnd = "end_ts")
      .select("event_id", "user_id", "session_idx")
      .orderBy("event_id", "session_idx")
  }

  /** S18 — watermarked stream-stream interval join ([[graft.stream
    * .StreamingIntervalJoin]] batch replay): view impressions joined
    * to purchase conversions within 12 h per user — the attribution
    * serving form of X22. On complete in-order data the stream emits
    * exactly the plain BETWEEN join, so this lane hash-matches the
    * DuckDB replay (the s14/x42 shared-oracle contract); live
    * two-MemoryStream parity and the watermark late-drop are pinned
    * in StreamingIntervalJoinSpec. */
  def s18StreamJoin(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val imps = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("imp_id"), col("user_id"), col("ts"))
    val convs = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("conv_id"), col("user_id"), col("ts"))
    graft.stream.StreamingIntervalJoin.joinWithin(
        imps, convs, keyCol = "user_id", leftTime = "ts",
        rightTime = "ts", withinSeconds = 43200L)
      .select(col("imp_id"), col("r_conv_id").as("conv_id"),
        col("user_id"),
        (unix_timestamp(col("r_ts")) - unix_timestamp(col("ts")))
          .as("lag_sec"))
      .orderBy("imp_id", "conv_id")
  }

  /** S20 — the LEFT-OUTER half of the s18 vocabulary (VERDICT r15 ask
    * #3): every impression, attributed if a conversion lands within
    * 12 h, null-extended otherwise. Live semantics (unmatched row
    * emitted exactly once, only after the watermark passes
    * `ts + within + delay`; a late conversion never resurrects it) are
    * pinned in StreamingIntervalJoinSpec; on complete in-order data
    * the stream emits exactly the plain LEFT JOIN BETWEEN, which is
    * what this batch replay hash-checks. Within an imp_id the
    * null-extended row exists only when NO match does, so the
    * (imp_id, conv_id) order never compares a null against a non-null
    * — the Spark/DuckDB null-ordering divergence can't bite. */
  def s20StreamOuterJoin(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val imps = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("imp_id"), col("user_id"), col("ts"))
    val convs = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("conv_id"), col("user_id"), col("ts"))
    graft.stream.StreamingIntervalJoin.joinWithin(
        imps, convs, keyCol = "user_id", leftTime = "ts",
        rightTime = "ts", withinSeconds = 43200L,
        joinType = "left_outer")
      .select(col("imp_id"), col("r_conv_id").as("conv_id"),
        col("user_id"),
        (unix_timestamp(col("r_ts")) - unix_timestamp(col("ts")))
          .as("lag_sec"))
      .orderBy("imp_id", "conv_id")
  }

  /** S22 — the FULL-OUTER completion of the s18/s20 interval-join
    * vocabulary (VERDICT r15 next #6): every impression AND every
    * conversion, matched within 12 h per user, null-extended on
    * whichever side is missing. Live semantics (each unmatched row
    * emitted exactly once, only after the OTHER side's watermark can
    * prove no partner can still arrive; a late arrival never
    * resurrects either side) are pinned in StreamingIntervalJoinSpec;
    * on complete in-order data the stream emits exactly the plain
    * FULL JOIN BETWEEN, which this batch replay hash-checks. Unlike
    * s20, null keys DO reach the ORDER BY (conversion-only rows have
    * null imp_id) — Spark sorts nulls FIRST by default where DuckDB
    * sorts them LAST, so the sort pins `asc_nulls_last` explicitly to
    * the oracle's convention. */
  def s22StreamFullOuter(s: SparkSession, d: String): DataFrame = {
    val ev = events(s, d)
    val imps = ev.filter(col("event_type") === "view")
      .select(col("event_id").as("imp_id"), col("user_id"), col("ts"))
    val convs = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("conv_id"), col("user_id"), col("ts"))
    graft.stream.StreamingIntervalJoin.joinWithin(
        imps, convs, keyCol = "user_id", leftTime = "ts",
        rightTime = "ts", withinSeconds = 43200L,
        joinType = "full_outer")
      .select(col("imp_id"), col("r_conv_id").as("conv_id"),
        col("user_id"),
        (unix_timestamp(col("r_ts")) - unix_timestamp(col("ts")))
          .as("lag_sec"))
      .orderBy(col("imp_id").asc_nulls_last, col("conv_id").asc_nulls_last)
  }

  /** X20 — weekly PSI drift of the events value distribution per event
    * type vs the earliest week ([[graft.ext.PsiDrift.psiByWeek]]). The
    * oracle replays bins, +1 smoothing over the union grid, and the
    * per-bin micro-nat rounding; integer sums keep aggregation order
    * out of the hash. */
  def x20PsiDrift(s: SparkSession, d: String): DataFrame =
    graft.ext.PsiDrift.psiByWeek(events(s, d))

  /** S5 — streaming sessionization, batch-replayed through the SAME
    * `flatMapGroupsWithState` fold as the live stream
    * ([[graft.stream.StreamingSessionize.sessionSummaries]]): every
    * session closes on complete data, so the result must hash-match
    * the SAME window-formulation oracle as [[x18Sessionize]] — custom
    * streaming state proven against batch SQL. Live micro-batch
    * emission (inline gap close + watermark-timeout close) is pinned
    * in StreamingSessionizeSpec. */
  def s5StreamSessions(s: SparkSession, d: String): DataFrame =
    graft.stream.StreamingSessionize.sessionSummaries(
      events(s, d), gapSeconds = 43200L)

  /** X18 — event sessionization over the events table: 12-hour
    * inactivity gap (the sf events stream has median inter-event gaps
    * ~7 h per user, so real multi-session structure emerges). The
    * oracle replays the gaps-and-islands window and the rollup; the
    * decimal-accumulated value sum keeps the 2 dp round off float
    * boundaries. */
  def x18Sessionize(s: SparkSession, d: String): DataFrame =
    graft.ext.Sessionize.summary(events(s, d), gapSeconds = 43200L)

  /** X18-builtin — the SAME sessionization through Spark's native
    * `session_window` aggregation, duelled against the identical x18
    * oracle (VERDICT r16 next #7). The built-in is NOT a drop-in: it
    * merges events at full-precision gap < duration where the
    * gaps-and-islands convention keeps a floor-second gap ≤ threshold
    * in-session — on this corpus's sub-second timestamps the naive
    * `session_window(ts, "12 hours")` splits one sf0.1 session the
    * window formulation keeps (the boundary gap sits in
    * [43200 s, 43201 s)). The adapter makes the semantics EQUAL by
    * construction: floor ts to whole seconds and set the duration to
    * gap+1 — merge iff floored diff < 43201 ⟺ floor-gap ≤ 43200 ⟺
    * x18's strict-> rule (divergence + adapter both pinned in
    * SessionWindowDuelSpec). `session_idx` is ranked over window
    * starts per user (the built-in emits window bounds, not ordinals
    * — one of the continuity features the custom-state s5 lane
    * carries natively, along with its open-session sentinel and
    * timeout-driven exactly-once emission for streams). */
  def x18SessionBuiltin(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("user_id")).orderBy(col("sw.start"))
    events(s, d)
      .withColumn("ts_floor",
        timestamp_seconds(unix_timestamp(col("ts"))))
      .groupBy(col("user_id"),
        session_window(col("ts_floor"), "43201 seconds").as("sw"))
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts")).as("start_ts"),
        max(col("ts")).as("end_ts"),
        (unix_timestamp(max(col("ts"))) - unix_timestamp(min(col("ts"))))
          .as("duration_s"),
        round(sum(col("value").cast("decimal(18,4)")), 2).cast("double")
          .as("total_value"))
      .withColumn("session_idx", row_number().over(w).cast("long"))
      .select(col("user_id"), col("session_idx"), col("n_events"),
        col("start_ts"), col("end_ts"), col("duration_s"),
        col("total_value"))
      .orderBy(col("user_id"), col("session_idx"))
  }

  /** X45 — within-session funnel ([[graft.ext.Sessionize.assign]] ∘
    * [[graft.ext.EventFunnel.funnel]]): the X37 ordered-step funnel
    * with the SESSION as the conversion unit — "did the user get from
    * view to purchase in ONE sitting" (4-hour gap — at this corpus's
    * event density a 1-hour gap leaves step 3 empty), the stricter
    * product question X37's lifetime funnel can't ask. The funnel key
    * is the `user:session` composite; machinery otherwise unchanged,
    * so the composition is two audited operators, zero new bodies. */
  def x45SessionFunnel(s: SparkSession, d: String): DataFrame = {
    val sess = graft.ext.Sessionize.assign(events(s, d),
        gapSeconds = 14400L)
      .withColumn("session_key",
        concat_ws(":", col("user_id"), col("session_idx")))
    graft.ext.EventFunnel.funnel(sess, Seq("view", "click", "purchase"),
      userCol = "session_key")
  }

  /** X11 — key-skew profile: the heaviest join keys on the fact table
    * with their share of rows, the diagnostic that decides between AQE,
    * salting, and broadcast (ext/Skew). */
  def x11SkewProfile(s: SparkSession, d: String): DataFrame =
    graft.ext.Skew.keySkewProfile(lineitem(s, d), "l_suppkey", k = 10)

  /** X11b — the salted join itself through the correctness gate: the
    * lineitem fact sprayed across 8 salt sub-keys joins the supplier dim
    * (replicated 8×), aggregated per supplier. The DuckDB oracle is the
    * PLAIN join — hash equality proves the spray+replicate layout is
    * result-invisible at data scale, not just on the unit fixture. The
    * big side keeps (orderkey, linenumber) so the full-row spray hash
    * actually spreads a hot supplier's rows across salts. */
  def x11SaltedJoin(s: SparkSession, d: String): DataFrame = {
    val big = lineitem(s, d).select(col("l_suppkey").as("s_suppkey"),
      col("l_orderkey"), col("l_linenumber"))
    val small = supplier(s, d).select(col("s_suppkey"), col("s_nationkey"))
    graft.ext.Skew.saltedJoin(big, small, "s_suppkey", salt = 8)
      .groupBy("s_suppkey")
      .agg(count(lit(1)).as("n_lines"), max(col("s_nationkey")).as("nation_key"))
      .orderBy("s_suppkey")
  }

  /** X12a — corpus mixing to a token budget: per-source supply census →
    * deterministic keep-rate → recipe audit. src0 is deliberately
    * UNDER-supplied relative to its 50% share (rate caps at 1.0 — the
    * epochs>1 signal), src1/src2 sample fractionally, every other source
    * has weight 0 and drops — all three regimes through one oracle. */
  def x12TokenMix(s: SparkSession, d: String): DataFrame =
    graft.ext.Mixing.mixSummary(documents(s, d),
      weights = Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2),
      totalTokens = 3000L)

  /** X12b — deterministic global training order (mix → shuffle → pack):
    * the first 50 documents of the keyed-hash order, engine-replayable. */
  def x12TrainingOrder(s: SparkSession, d: String): DataFrame =
    graft.ext.Mixing.trainingOrder(documents(s, d))
      .select(col("doc_id"), col("shuffle_key")).limit(50)

  /** X12c — temperature-scaled mixing (share ∝ supply^α, α = 0.5): the
    * re-balancing recipe multilingual pretraining uses. α = 0.5 runs as
    * `sqrt`, which IEEE-754 correctly rounds in every engine, and weights
    * are integer-quantized before normalizing — so the oracle replays the
    * targets exactly, not approximately. */
  def x12TemperatureMix(s: SparkSession, d: String): DataFrame =
    graft.ext.Mixing.temperatureSummary(documents(s, d),
      alpha = 0.5, totalTokens = 10000L)

  /** X12d — weight-aware mixing: the [[x17SoftDedup]] weights CONSUMED
    * by the supply census and survivor selection
    * ([[graft.ext.Mixing.weightedMixSummary]]). The planted duplicate
    * families (3 copies of docs 0–4, 2 of docs 5–9) carry ~one
    * document's micro-token mass each through the recipe — the audit's
    * `utokens_in` is the deduplicated effective supply, and the oracle
    * replays census, threshold, and the integer keep predicate. */
  def x12WeightedMix(s: SparkSession, d: String): DataFrame = {
    val (history, shard) = plantedShard(documents(s, d), withSecondCopy = true)
    // The weight column is PERSISTED state in the nightly shape (X17
    // writes it, X12d reads it) — pin the derivation once, like the
    // s3/x15 saved-index contract: the summary's rates and achieved
    // branches would otherwise each re-run the census join.
    val weighted = Pin(Dedup.softDedupWeights(history.unionByName(shard)))
    graft.ext.Mixing.weightedMixSummary(weighted,
      weights = Map("src0" -> 0.5, "src1" -> 0.3, "src2" -> 0.2),
      totalTokens = 3000L)
  }

  /** X3a — global token frequency top-20. */
  def x3TopTokens(s: SparkSession, d: String): DataFrame =
    TextAnalysis.topTokens(documents(s, d))

  /** X3b — corpus quality metrics aggregated per language. */
  def x3QualityByLang(s: SparkSession, d: String): DataFrame =
    TextAnalysis.qualityByLang(documents(s, d))

  /** X3g — Gopher-style quality rule census per language. Every
    * threshold is an integer cross-multiplied comparison, so the
    * verdict counts replay exactly in SQL. The corpus text carries no
    * newlines or dominant n-grams, so the structural-duplication rules
    * (duplicate lines/paragraphs, top-gram share) are exercised by
    * deterministic plants — every 13th doc gains 3 duplicate lines + a
    * duplicate paragraph, every 29th (not also 13th) a dominant
    * ' badger badger' run sized to its own length — replicated verbatim
    * in the oracle (the x7_pii_scan pattern). */
  def x3GopherRules(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val base = spreadDocs(documents(s, d)
        .select(col("doc_id"), col("lang"), col("text")))
      .unionByName(gopherCjkFixtures.toDF("doc_id", "lang", "text"))
    val planted = base.withColumn("text",
      when(pmod(col("doc_id"), lit(13)) === 0,
        concat(col("text"),
          lit("\nrepeat line\nrepeat line\nrepeat line\n\nsame para\n\nsame para")))
        .when(pmod(col("doc_id"), lit(29)) === 0,
          concat(col("text"),
            expr("repeat(' badger badger', length(text) div 10 + 5)")))
        .otherwise(col("text")))
    TextAnalysis.gopherSummaryByLang(planted)
  }

  /** CJK fixtures for [[x3GopherRules]]' per-language presets — defined
    * ONCE and interpolated into the oracle's VALUES rows (the
    * [[jaKoFixtures]] discipline; all BMP, so Spark's UTF-16 length ==
    * DuckDB's codepoint length). Negative ids keep them clear of the
    * %13/%29 structural plants in BOTH engines (pmod ≠ 0, and DuckDB's
    * sign-of-dividend % ≠ 0). The zh/ja/ko PASS rows are ≥ 50
    * punctuation-free script characters with ≥ 2 distinct particle
    * stopwords — under the shipped presets (character tokens, script
    * symbol classes) they clear every rule, which is the whole point:
    * `pass` is reachable outside Latin text. The fourth row is
    * symbol-heavy zh (ASCII noise under a Han-only keep class) and
    * must fail. */
  val gopherCjkFixtures: Seq[(Long, String, String)] = Seq(
    (-1L, "zh",
      "这是一个关于数据质量引擎的测试文档我们在这里检查语言规则是否" +
        "能够正确通过其中包含了许多不同的汉字内容数据处理流程十分重要"),
    (-2L, "ja",
      "これはデータ品質エンジンのための試験文書でありさまざまな内容が" +
        "含まれています私たちはここで言語の規則を確認します"),
    (-3L, "zh",
      "这是一个测试文档文字内容!!!???***###$$$%%%@@@&&&((((()))))!!!???***###"),
    (-4L, "ko",
      "이것은한국어데이터품질엔진의시험문서입니다여기서우리는언어규칙이" +
        "올바르게통과하는지확인합니다내용은다양하고반복이없습니다"))

  /** X3h — the C4 cleaning heuristics end-to-end: every document gains
    * a four-line footer exercising each line rule (a retained prose
    * line, a no-terminal-punct drop, a short-line drop, a "javascript"
    * drop), every 7th document a brace-page marker and every 11th a
    * "Lorem Ipsum" phrase (case-insensitivity exercised), and the
    * oracle replays the line retention, the ordered rewrite (md5-prefix
    * fingerprint sum — one wrong byte in any page breaks it), the
    * sentence census over the RETAINED text, and both page gates. */
  def x3C4Rules(s: SparkSession, d: String): DataFrame = {
    val planted = documents(s, d).withColumn("text",
      concat(
        when(pmod(col("doc_id"), lit(7L)) === 0L,
          lit("{ brace page\n")).otherwise(lit("")),
        when(pmod(col("doc_id"), lit(11L)) === 0L,
          lit("Lorem Ipsum dolor sit amet.\n")).otherwise(lit("")),
        coalesce(col("text"), lit("")),
        lit("\nthis line has five good words.\nno terminal punctuation here" +
          "\ntiny line.\nthis javascript line is long enough.")))
    graft.ext.C4.c4Flags(planted)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("c4_pass"), lit(1))).as("n_pass"),
        sum(col("c4_lines_in")).as("lines_in"),
        sum(col("c4_lines_kept")).as("lines_kept"),
        sum(col("c4_sentences")).as("sentences"),
        sum(pmod(conv(substring(md5(col("c4_text")), 1, 15), 16, 10)
          .cast("long"), lit(1000000000L))).as("c4_fp_sum"))
      .orderBy("source")
  }

  /** X3j — corpus-wide heavy-hitter term census ([[graft.ext
    * .HeavyHitters.exactTopTerms]]): the 20 most frequent tokens
    * (stopword discovery / boilerplate detection / tokenizer vocab
    * planning). The sort+limit plans as TakeOrderedAndProject —
    * per-partition top-k, never a global sort; the bounded-memory
    * Misra–Gries sketch twin is guarantee-pinned in
    * HeavyHittersSpec. */
  def x3TopTerms(s: SparkSession, d: String): DataFrame =
    graft.ext.HeavyHitters.exactTopTerms(documents(s, d), k = 20)

  /** X3d — whitespace + BPE-ish token counting per language. */
  def x3TokenCounts(s: SparkSession, d: String): DataFrame =
    TextAnalysis.tokenCountsByLang(documents(s, d))

  /** X3c — md5 content fingerprint summary per source. */
  def x3Fingerprints(s: SparkSession, d: String): DataFrame =
    TextAnalysis.fingerprintSummary(documents(s, d))

  /** X13 — linear quality-classifier banding (fasttext-style proxy):
    * per-(lang, band) census under the default English-centric weight
    * vector. Every band decision is an integer cross-multiplied
    * comparison, so the census replays exactly in SQL. */
  def x13QualityBands(s: SparkSession, d: String): DataFrame =
    // Thresholds chosen inside the corpus's score range (~1.2–1.64
    // under the default weights) so all three bands are populated and
    // the census exercises both cut lines.
    graft.ext.QualityScore.bandCensus(documents(s, d), hi = 1450L, lo = 1300L)

  /** The deterministic (source, doc_id)-residue URL plant shared by
    * `x14_url_stage` and `x14_domain_cap` — ONE definition, mirrored
    * by the ONE shared `u` CTE on the oracle side. The corpus has no
    * url column, so this derives one from (source, doc_id): scheme
    * case, `www.`/`cdn.` labels, default ports, trailing slashes,
    * query strings, and fragments all cycle by doc_id residues, so
    * every canonicalization rule fires on real rows; path =
    * doc_id % 50 plants refetch collisions for the url-canonical
    * dedup. */
  private def plantedUrl: Column = {
    val id = col("doc_id")
    concat(
      when(id % 3 === 0, lit("HTTP")).otherwise(lit("https")), lit("://"),
      when(id % 23 === 0, lit("crawler@")).otherwise(lit("")),
      when(id % 2 === 0, lit("www.")).otherwise(lit("")),
      when(id % 13 === 0, lit("cdn.")).otherwise(lit("")),
      col("source"), lit(".example.org"),
      // Default port when %5; NON-default :8080 when %19 (blocklist
      // must still catch it — dom strips any port, curl keeps it).
      when(id % 5 === 0,
        when(id % 3 === 0, lit(":80")).otherwise(lit(":443")))
        .when(id % 19 === 0, lit(":8080")).otherwise(lit("")),
      lit("/doc/"), (id % 50).cast("string"),
      when(id % 4 === 0, lit("/")).otherwise(lit("")),
      when(id % 11 === 0, lit("?page=2")).otherwise(lit("")),
      when(id % 7 === 0, concat(lit("#sec"), id.cast("string")))
        .otherwise(lit("")))
  }
  /** X14 — the URL curation stage, oracle-checked at the STRING level
    * (per-document canonical URL + domain + verdicts, not just counts),
    * over the [[plantedUrl]] corpus; src3/src7 domains are blocklisted
    * (the subdomain suffix rule catches their `cdn.` variants). Runs
    * through [[graft.ext.Curation.annotate]] — the integrated stage,
    * not the bare functions. */
  def x14UrlStage(s: SparkSession, d: String): DataFrame = {
    val id = col("doc_id")
    val docs = documents(s, d).withColumn("url", plantedUrl)
    val emptyBench = docs.filter(id < 0)
      .select(id.as("bench_id"), col("text"))
    graft.ext.Curation.annotate(docs, emptyBench,
        graft.ext.Curation.Config(urlCol = Some("url"),
          blockedDomains = Seq("src3.example.org", "src7.example.org")))
      .select(col("doc_id"), col("url"),
        graft.ext.Url.canonicalize(col("url")).as("curl"),
        graft.ext.Url.domain(col("url")).as("dom"),
        col("is_url_ok"), col("is_url_canonical"))
      .orderBy("doc_id")
  }

  /** X14b — per-domain document cap (the RefinedWeb recipe: no domain
    * may dominate the corpus — keep the best N documents per
    * registrable domain, drop the rest): [[graft.ext.Url.domain]] as
    * the grouping key composed with [[graft.ext.TopK.topNPerGroup]]'s
    * two-stage skew-safe selection, top 3 per domain by (n_chars DESC,
    * doc_id ASC). The [[plantedUrl]] corpus yields plain + `cdn.`
    * domain variants per source (dom keeps subdomains, strips
    * `www.`/userinfo/any port), so the cap sees real multi-domain
    * structure. The oracle rebuilds dom from the SAME shared `u` CTE
    * via an independent regex restatement and replays the cap as a
    * plain window over the (n_chars DESC, doc_id ASC) total order. */
  def x14DomainCap(s: SparkSession, d: String): DataFrame =
    graft.ext.TopK.topNPerGroup(
        documents(s, d)
          .withColumn("dom", graft.ext.Url.domain(plantedUrl)),
        "dom", "n_chars", n = 3)
      .select(col("dom"),
        col("rank_in_group").cast("long").as("rank_in_domain"),
        col("doc_id"), col("n_chars"))
      .orderBy("dom", "rank_in_domain")

  /** X27 — per-source adaptive quality threshold (the FineWeb recipe:
    * cut-points are set per dump/source as a PERCENTILE of that
    * group's own score distribution, not as a global constant):
    * [[graft.ext.Calibrate.percentileGate]] over `n_chars` grouped by
    * `source`, drop the bottom decile of every source. Row-level
    * output — doc_id, its exact within-source cume_dist in ppm, and
    * the keep verdict — so the oracle (the NAIVE `cume_dist` window
    * the staged census+CDF plan avoids) pins every row's percentile,
    * not just the survivor census. All arithmetic is integer
    * (`(cum_le·10⁶) div total`), so engine and oracle must agree bit
    * for bit. */
  def x27ScorePercentile(s: SparkSession, d: String): DataFrame =
    graft.ext.Calibrate.percentileGate(
        documents(s, d).select("doc_id", "source", "n_chars"),
        scoreCol = "n_chars", groupCol = "source", minPpm = 100000L)
      .orderBy("doc_id")

  /** Lazily-built per-JVM bucketed tables, keyed by (table, dataset) —
    * the persisted-index discipline ([[persistedIndexDir]]): bucketing
    * is a WRITE-ONCE layout investment (the whole point is amortizing
    * the join shuffle across runs), so the first invocation writes the
    * external bucketed table and every later one reads the catalog
    * entry. */
  private val bucketedTables =
    new java.util.concurrent.ConcurrentHashMap[String, String]()
  private def bucketedTable(s: SparkSession, d: String, base: String,
                            cols: Seq[String], bucketCol: String,
                            numBuckets: Int): String = {
    // Collision-proof name: a 16-hex md5 prefix of the dataset path
    // (String.hashCode collisions are constructible — two colliding
    // paths would silently share one table and census the wrong
    // corpus). The name is a pure function of (base, d), so the
    // catalog-existence check below can recover when a NEW
    // SparkSession in this JVM lacks the per-session catalog entry
    // the memo was built under.
    val name = "graft_bkt_" + base + "_" + java.security.MessageDigest
      .getInstance("MD5").digest(d.getBytes("UTF-8"))
      .take(8).map("%02x".format(_)).mkString
    def build(): String = {
      val dir = java.nio.file.Files.createTempDirectory(name).toString
      graft.sources.Bucketed.writeBucketed(
        Tables.load(s, d, base).select(cols.map(col): _*),
        name, dir, bucketCol, numBuckets)
      name
    }
    val memoKey = s"$base @ $d"
    bucketedTables.computeIfAbsent(memoKey, _ => build())
    // Catalog recovery (a NEW SparkSession in this JVM lacks the
    // per-session catalog entry the memo was built under) routes the
    // rebuild THROUGH the memo (ADVICE r12): compute() serializes
    // concurrent constructions on the map entry — two threads can no
    // longer race writeBucketed/saveAsTable on the same table name —
    // and the inner re-check stops the second thread from rebuilding
    // (and orphaning another temp data dir) after the first finished.
    if (s.catalog.tableExists(name)) name
    else bucketedTables.compute(memoKey,
      (_, _) => if (s.catalog.tableExists(name)) name else build())
  }

  /** X28 — co-located join over bucketed tables ([[graft.sources
    * .Bucketed]]): orders and customer are stored bucketed+sorted on
    * their join key (8 buckets, written once per JVM — the layout
    * investment a nightly fact-fact join amortizes), so the sort-merge
    * join plans ZERO Exchange on either side (pinned in BucketedSpec).
    * Result = revenue census per market segment, DECIMAL-accumulated
    * (the d-series discipline); the oracle replays the plain join —
    * the layout must be result-invisible. */
  def x28BucketedJoin(s: SparkSession, d: String): DataFrame = {
    val o = graft.sources.Bucketed.table(s, bucketedTable(s, d,
      "orders", Seq("o_custkey", "o_totalprice"), "o_custkey", 8))
    val c = graft.sources.Bucketed.table(s, bucketedTable(s, d,
      "customer", Seq("c_custkey", "c_mktsegment"), "c_custkey", 8))
    graft.sources.Bucketed
      .colocatedJoin(o, c, o("o_custkey") === c("c_custkey"))
      .groupBy(col("c_mktsegment").as("mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        // Round in DECIMAL space, cast after (ADVICE r12, matching the
        // oracle's decimal-then-cast order — see Sessionize).
        round(sum(col("o_totalprice").cast("decimal(18,4)")), 2)
          .cast("double").as("revenue"))
      .orderBy("mktsegment")
  }

  /** X29 — JSONL round trip ([[graft.sources.Jsonl]]): the corpus is
    * exported as 4 sharded JSON-Lines files (written once per JVM —
    * the x10-writer discipline), re-read under the EXPLICIT schema in
    * FAILFAST mode, and censused per (source, lang) — doc count,
    * char sum, null-text count, and the md5-prefix fingerprint sum of
    * every text. The oracle derives the SAME census from the original
    * parquet, so one byte changed by JSON escaping/unescaping anywhere
    * in the corpus (embedded newlines, quotes, non-BMP chars) breaks
    * the hash — the round trip must be lossless. */
  /** ONE content-census definition shared by every round-trip / layout
    * lane (x29 JSONL, x32 CSV, x33 compaction): doc count, char sum,
    * null-text count, and the md5-prefix fingerprint sum per (source,
    * lang) — one escaped byte anywhere in any text breaks the hash.
    * All three lanes bind to the SAME oracle census over the original
    * parquet. */
  private def docCensus(df: DataFrame): DataFrame =
    df.groupBy("source", "lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("char_sum"),
        sum(when(col("text").isNull, 1L).otherwise(0L)).as("n_null_text"),
        sum(pmod(conv(substring(md5(col("text")), 1, 15), 16, 10).cast("long"),
          lit(1000000000L))).as("text_fp_sum"))
      .orderBy("source", "lang")

  def x29JsonlRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = persistedIndexDir("graft_jsonl", d)(dir =>
      graft.sources.Jsonl.write(documents(s, d), dir, numShards = 4))
    // Schema DERIVED from the live table (ADVICE r12): a hard-coded
    // 5-column DDL would silently drop any column the documents table
    // gains, and the "lossless round trip" proof would stop covering
    // the full row width — the exact drift this lane exists to catch.
    docCensus(graft.sources.Jsonl.read(s, dir, documents(s, d).schema.toDDL))
  }

  /** X32 — CSV round trip ([[graft.sources.Csv]]): the corpus exported
    * as 4 sharded CSV files (written once per JVM), re-read under the
    * derived schema in FAILFAST + multiLine mode, and censused — the
    * same losslessness proof as x29 for the format most likely to
    * corrupt silently (delimiters, quotes, and newlines INSIDE
    * values). Same oracle census as x29. */
  def x32CsvRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = persistedIndexDir("graft_csv", d)(dir =>
      graft.sources.Csv.write(documents(s, d), dir, numShards = 4))
    docCensus(graft.sources.Csv.read(s, dir, documents(s, d).schema.toDDL))
  }

  /** X34 — ORC round trip ([[graft.sources.Orc]]): the corpus exported
    * as 4 sharded ORC files (written once per JVM), re-read under the
    * schema-drift contract, and censused — the warehouse-interchange
    * leg of the losslessness matrix (x29 JSONL, x32 CSV). ORC is
    * binary and self-describing, so the lane's real work is proving
    * the drift check passes on a faithful write and the census still
    * hash-matches the original parquet. Same oracle census as x29. */
  def x34OrcRoundtrip(s: SparkSession, d: String): DataFrame = {
    val dir = persistedIndexDir("graft_orc", d)(dir =>
      graft.sources.Orc.write(documents(s, d), dir, numShards = 4))
    docCensus(graft.sources.Orc.read(s, dir, documents(s, d).schema))
  }

  /** X33 — small-file compaction ([[graft.sources.Compact]]): the
    * corpus is deliberately fragmented into 64 parquet files, compacted
    * back to target-sized files (one, at this sf), and the read-back
    * census must hash-match the same original-parquet oracle as
    * x29/x32 — compaction is layout-only by contract. The file-count
    * reduction itself is pinned in CompactSpec. */
  def x33CompactVerify(s: SparkSession, d: String): DataFrame = {
    val dir = persistedIndexDir("graft_compact", d) { dir =>
      documents(s, d).repartition(64, col("doc_id"))
        .write.mode("overwrite").parquet(s"$dir/frag")
      graft.sources.Compact.compact(s, s"$dir/frag", s"$dir/out",
        targetFileBytes = 64L << 20)
      ()
    }
    docCensus(s.read.parquet(s"$dir/out"))
  }

  /** X27b — the PERSISTED-threshold gate ([[graft.ext.Calibrate
    * .thresholds]] → [[graft.ext.Calibrate.save]]/`load` →
    * [[graft.ext.Calibrate.gateAgainst]]): the per-source cuts are fit
    * and SAVED once (the X1h/X15/X16 fit-once contract), then the gate
    * is a broadcast join + one comparison — map-only at serve time, no
    * CDF recomputation over today's shard. Cut ⇔ percentile
    * equivalence (score ≥ cut ⇔ pctl ≥ minPpm) is pinned in
    * CalibrateSpec; the oracle derives the cuts independently and
    * replays the comparison per row. */
  def x27PctlAgainst(s: SparkSession, d: String): DataFrame = {
    val dir = persistedIndexDir("calib_cuts", d) { dir =>
      graft.ext.Calibrate.save(
        graft.ext.Calibrate.thresholds(
          documents(s, d).select("source", "n_chars"),
          "n_chars", "source", minPpm = 100000L),
        "n_chars", "source", 100000L, dir)
    }
    val (cuts, _) = graft.ext.Calibrate.load(s, dir,
      expectScore = Some("n_chars"), expectGroup = Some("source"))
    graft.ext.Calibrate.gateAgainst(
        documents(s, d).select("doc_id", "source", "n_chars"), cuts,
        "n_chars", "source")
      .orderBy("doc_id")
  }

  /** S9 — STREAMING adaptive-threshold gating ([[graft.ext.Calibrate
    * .gateAgainst]] — the serve half of X27 as a streaming lane, the
    * way s8 is for BM25): per-source score floors are fit and SAVED on
    * the history corpus (docs < 300, once per JVM — the FineWeb
    * fit-once contract), then "tonight's shard" (docs ≥ 300) gates
    * through ONE broadcast join + one comparison — no aggregation, no
    * state, so the identical code runs on a structured stream
    * (micro-batch ≡ batch pinned in CalibrateSpec; this registration
    * is the batch replay, the house streaming-lane discipline). A
    * stratum the fit never saw, or a NULL score, never survives. The
    * oracle re-derives the cuts from the fit corpus and replays the
    * comparison per shard document. */
  def s9StreamPctlGate(s: SparkSession, d: String): DataFrame = {
    val dir = persistedIndexDir("calib_hist", d) { dir =>
      graft.ext.Calibrate.save(
        graft.ext.Calibrate.thresholds(
          documents(s, d).filter(col("doc_id") < 300)
            .select("source", "n_chars"),
          "n_chars", "source", minPpm = 100000L),
        "n_chars", "source", 100000L, dir)
    }
    val (cuts, _) = graft.ext.Calibrate.load(s, dir,
      expectScore = Some("n_chars"), expectGroup = Some("source"))
    graft.ext.Calibrate.gateAgainst(
        documents(s, d).filter(col("doc_id") >= 300)
          .select("doc_id", "source", "n_chars"), cuts,
        "n_chars", "source")
      .orderBy("doc_id")
  }

  /** X10 × X27 — the funnel with the FITTED adaptive threshold as an
    * additional quality signal (the FineWeb recipe composed into X10
    * the way X13/X15/X3g/X3h are): per-language token-count floors are
    * fit on the corpus's raw text at the 10th percentile, persisted,
    * and loaded ([[graft.ext.Calibrate]]'s fit-once contract), then
    * `Config.calibCuts` gates `is_quality` on `n_tok >= cut(lang)` —
    * a broadcast join + one comparison inside the same annotate pass.
    * The oracle re-derives the per-language cuts from scratch and
    * replays the whole funnel census. */
  def x10PctlFunnel(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val bench = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("bench_id"), col("text"))
    val dir = persistedIndexDir("calib_ntok", d) { dir =>
      graft.ext.Calibrate.save(
        graft.ext.Calibrate.thresholds(
          docs.select(col("lang"),
            graft.ext.TextAnalysis.tokenCount(col("text")).as("n_tok_raw")),
          "n_tok_raw", "lang", 100000L),
        "n_tok_raw", "lang", 100000L, dir)
    }
    val (cuts, _) = graft.ext.Calibrate.load(s, dir,
      expectScore = Some("n_tok_raw"), expectGroup = Some("lang"))
    graft.ext.Curation.funnel(docs, bench, graft.ext.Curation.Config(
      rates = Map("en" -> 0.4), seqLen = 512L, calibCuts = Some(cuts)))
  }

  /** X30 — in-engine distributed classifier TRAINING ([[graft.ext
    * .Perceptron]]): a batch perceptron learns to separate `en` from
    * non-`en` documents over the X13 integer feature set (bias,
    * stop-hits, alpha chars, punct chars, token count — the SAME
    * [[graft.ext.QualityScore.scored]] definitions the x13 oracle
    * already replays). Three epochs, each ONE corpus aggregate; the
    * output is the per-epoch audit — misclassified count before each
    * update and the full weight trajectory after it — and the oracle
    * replays all three epochs as chained CTEs, bit for bit: training,
    * not just scoring, is exactly reproducible.
    *
    * The fit consumes a [[graft.ext.Perceptron.materializeFeatures]]
    * parquet artifact (built once per JVM — the persisted-index
    * discipline): ONE text-parsing pass, then each epoch scans six
    * longs per row instead of re-extracting features from text (the
    * VERDICT r11 k-epoch re-parse fix; text-path ≡ feature-path
    * trajectory parity is pinned in PerceptronSpec). */
  def x30Perceptron(s: SparkSession, d: String): DataFrame = {
    val fc = Seq("f_one", "q_stop_hits", "q_alpha_chars", "q_punct_chars",
      "q_tokens")
    val dir = persistedIndexDir("perceptron_feats", d) { dir =>
      graft.ext.Perceptron.materializeFeatures(
        graft.ext.QualityScore.scored(documents(s, d))
          .withColumn("f_one", lit(1L))
          .withColumn("y", when(col("lang") === "en", 1L).otherwise(-1L)),
        fc, "y", dir)
    }
    graft.ext.Perceptron.fit(
        graft.ext.Perceptron.loadFeatures(s, dir, fc, "y"),
        fc, "y", epochs = 3)
      .orderBy("epoch")
  }

  /** Shared X3k persisted-model build: ONE text-parsing pass
    * materializes the integer feature frame, then the 4-class × 3-epoch
    * one-vs-rest trajectory fits from the parquet (the X30
    * materialized-features lesson) and persists like an X15 LM. */
  private def langPerceptronDir(s: SparkSession, d: String): String =
    persistedIndexDir("lang_perceptron", d) { dir =>
      graft.ext.LangTrained.features(documents(s, d))
        .write.mode("overwrite").parquet(s"$dir/feats")
      graft.ext.LangTrained.saveTrajectory(
        s.read.parquet(s"$dir/feats"), s"$dir/traj", epochs = 3)
    }

  /** X3k — learned language-ID TRAINING ([[graft.ext.LangTrained
    * .fitAll]]): the 4 one-vs-rest perceptron trajectories over the
    * script/stopword integer features — 12 rows of exact integer
    * weights the oracle replays as chained CTEs (the x30 discipline,
    * per class). */
  def x3LangTrain(s: SparkSession, d: String): DataFrame =
    graft.ext.LangTrained.loadTrajectory(s,
        s"${langPerceptronDir(s, d)}/traj")
      .orderBy("lang", "epoch")

  /** X3k-score — the TRAINED model serving ([[graft.ext.LangTrained
    * .confusionVsHeuristic]]): final weights as plan literals (the X13
    * posture), the pinned first-wins margin argmax, censused against
    * BOTH the corpus label and the X3e heuristic — the
    * learned-vs-heuristic quality screen (a census, not a verdict). */
  def x3LangTrained(s: SparkSession, d: String): DataFrame = {
    val dir = langPerceptronDir(s, d)
    val w = graft.ext.LangTrained.finalWeights(
      graft.ext.LangTrained.loadTrajectory(s, s"$dir/traj"))
    graft.ext.LangTrained.confusionVsHeuristic(spreadDocs(documents(s, d)), w)
  }

  /** S17 — streaming language-ID ([[graft.stream.StreamingLang]]): the
    * trained lid gate as a stateless streaming projection, batch-
    * replayed here through the SAME code path and censused — hash-
    * matched against the x3_lang_trained oracle (the s14/x42 shared-
    * oracle contract); live MemoryStream parity pinned in
    * StreamingLangSpec. */
  def s17StreamLang(s: SparkSession, d: String): DataFrame = {
    val dir = langPerceptronDir(s, d)
    val w = graft.ext.LangTrained.finalWeights(
      graft.ext.LangTrained.loadTrajectory(s, s"$dir/traj"))
    graft.stream.StreamingLang.classifyStream(spreadDocs(documents(s, d)), w)
      .groupBy("label", "pred_trained", "pred_heur")
      .agg(count(lit(1)).as("n"))
      .orderBy("label", "pred_trained", "pred_heur")
  }

  /** X53 — BPE merge training ([[graft.ext.BpeTrain]]): the iterative
    * pair-merge loop over the top-300 word census, 8 merges — the
    * vocab artifact persisted like an X15 LM (fit once per JVM, the
    * registered frame reads the saved merges). The oracle replays the
    * full merge TRAJECTORY as 8 chained CTEs over the same wrapped-
    * symbol string surgery (the x30 training-is-exact discipline). */
  private[graft] def bpeMergesDir(s: SparkSession, d: String): String =
    persistedIndexDir("bpe_merges", d) { dir =>
      graft.ext.BpeTrain.saveMerges(
        graft.ext.BpeTrain.fitMerges(
          graft.ext.BpeTrain.wordCensus(documents(s, d), maxWords = 300),
          merges = 8), dir)
    }

  def x53BpeTrain(s: SparkSession, d: String): DataFrame =
    graft.ext.BpeTrain.loadMerges(s, bpeMergesDir(s, d)).orderBy("step")

  /** The x53-full corpus plant: the synthetic documents are pure
    * lowercase letters, so the full-alphabet census would degenerate
    * to the classic one — this deterministic transform makes a third
    * of the corpus UPPERCASE, attaches a comma to every token of
    * another third, and appends digit/punctuation tokens to the rest
    * (mirrored verbatim by the oracle's census CTE). */
  private def caseDigitDocs(s: SparkSession, d: String): DataFrame =
    documents(s, d).withColumn("text",
      when(pmod(col("doc_id"), lit(3L)) === 0L, upper(col("text")))
        .when(pmod(col("doc_id"), lit(3L)) === 1L,
          regexp_replace(col("text"), " ", ", "))
        .otherwise(concat_ws(" ", col("text"), lit("v4.1 2024 100%"))))

  /** X53-full — FULL-ALPHABET BPE training (VERDICT r15 next #2:
    * `fullAlphabet = true` was spec-only): the same k=8 trajectory
    * machinery over the case/punctuation/digit plant, census
    * case-preserving with every non-sentinel symbol admitted
    * ([[graft.ext.BpeTrain.wordCensus]] full mode — the production
    * byte-level-style vocabulary). The oracle replays the full merge
    * trajectory as chained CTEs; at sf0.01 it contains a comma merge
    * AND an uppercase merge, so the non-letter path is
    * oracle-checked, not just spec-pinned. */
  private def bpeMergesFullDir(s: SparkSession, d: String): String =
    persistedIndexDir("bpe_merges_full", d) { dir =>
      graft.ext.BpeTrain.saveMerges(
        graft.ext.BpeTrain.fitMerges(
          graft.ext.BpeTrain.wordCensus(caseDigitDocs(s, d),
            maxWords = 300, fullAlphabet = true),
          merges = 8), dir)
    }

  def x53BpeTrainFull(s: SparkSession, d: String): DataFrame =
    graft.ext.BpeTrain.loadMerges(s, bpeMergesFullDir(s, d)).orderBy("step")

  /** The multi-byte plant for the BYTE-LEVEL trajectory: six 'café'
    * tokens per document — é is two UTF-8 bytes (0xC3 0xA9), and at
    * count 6·|docs| the café byte pairs enter the k=8 argmax at every
    * shipped SF (measured: steps 2–5 are (c,a), (ca,f), (caf,0xC3),
    * (caf0xC3, 0xA9) — the LAST one fuses ACROSS the character's byte
    * boundary, the cross-byte-boundary merge VERDICT r16 #6 asks
    * for). */
  private def byteDocs(s: SparkSession, d: String): DataFrame =
    documents(s, d).withColumn("text",
      concat(col("text"), lit(" café café café café café café")))

  private def bpeMergesBytesDir(s: SparkSession, d: String): String =
    persistedIndexDir("bpe_merges_bytes", d) { dir =>
      graft.ext.BpeTrain.saveMerges(
        graft.ext.BpeTrain.fitMerges(
          graft.ext.BpeTrain.wordCensus(byteDocs(s, d),
            maxWords = 300, fullAlphabet = true),
          merges = 8, byteLevel = true), dir)
    }

  /** X53-bytes — BYTE-LEVEL BPE training (VERDICT r16 next #6):
    * production GPT-2-style tokenizers merge UTF-8 BYTES, not code
    * points — that is what makes token budgets portable across any
    * Unicode text. Initial symbols are the census words' UTF-8 bytes
    * under the fixed byte↔char bijection b → U+0100+b (order-
    * isomorphic to byte order, so the argmax tie-break is byte order
    * on both engines — [[graft.ext.BpeTrain.fitMerges]]
    * `byteLevel = true`); the k=8 trajectory replays as the SAME
    * chained CTEs with the oracle decomposing each character into its
    * UTF-8 bytes ARITHMETICALLY from the code point (the encoding
    * rules are closed-form). The planted 'café' census member puts a
    * merge that fuses é's two bytes ACROSS the character boundary in
    * the oracle-matched trajectory. */
  def x53BpeBytes(s: SparkSession, d: String): DataFrame =
    graft.ext.BpeTrain.loadMerges(s, bpeMergesBytesDir(s, d))
      .orderBy("step")

  /** X53b — the vocab artifact APPLIED ([[graft.ext.BpeTrain
    * .segment]]): every census word tokenized under the trained merge
    * list (merges as plan literals — the X13 posture), the
    * train→tokenize round trip under the driver's oracle. The oracle
    * re-derives the merges from scratch (the x53 chained CTEs) and
    * replays the same greedy fuses, so a segmentation that disagrees
    * with the trained trajectory anywhere breaks the hash. */
  def x53BpeTokenize(s: SparkSession, d: String): DataFrame = {
    val merges = graft.ext.BpeTrain.loadMerges(s, bpeMergesDir(s, d))
      .orderBy("step").collect() // bounded: the k-row merge list
      .map(r => r.getAs[String]("left") -> r.getAs[String]("right")).toSeq
    val seg = graft.ext.BpeTrain.segment(col("word"), merges)
    graft.ext.BpeTrain.wordCensus(documents(s, d), maxWords = 300)
      .select(col("word"), col("cnt"),
        concat_ws(" ", seg).as("segmented"),
        size(seg).cast("long").as("n_symbols"))
      .orderBy(col("cnt").desc, col("word"))
  }

  /** X53d — the PRODUCTION serving shape of the trained vocab
    * (r15: `segment`'s own scaladoc names it — "materialize the
    * segmented census once and tokenize by broadcast lookup, the
    * standard vocab-table shape" — but no lane priced it): per-document
    * BPE token counts under the SAVED merge list. Each DISTINCT word
    * segments exactly once (the vocab table, computed in-flight), and
    * documents join by word — corpus cost is one explode + one
    * AQE-broadcastable join, independent of k. This is the number a
    * token-budget computation actually needs ([[x26BudgetCut]] counts
    * whitespace tokens; a real budget is BPE tokens). The oracle
    * re-derives the merges from the census chain AND replays the apply
    * chain over every distinct document word — one fused pair off
    * anywhere in any word breaks a doc's count and the hash. */
  def x53BpeCount(s: SparkSession, d: String): DataFrame = {
    val merges = graft.ext.BpeTrain.loadMerges(s, bpeMergesDir(s, d))
      .orderBy("step").collect() // bounded: the k-row merge list
      .map(r => r.getAs[String]("left") -> r.getAs[String]("right")).toSeq
    val dw = documents(s, d).select(col("doc_id"),
        explode(graft.ext.TextAnalysis.tokens(lower(col("text"))))
          .as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
    val vocab = dw.select("word").distinct()
      .withColumn("n_syms",
        size(graft.ext.BpeTrain.segment(col("word"), merges)).cast("long"))
    dw.join(vocab, "word")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum("n_syms").as("bpe_tokens"))
      .orderBy("doc_id")
  }

  /** X53c — production-DEPTH BPE training: 1024 merges over the
    * top-2000 census via the incremental pair-delta trainer
    * ([[graft.ext.BpeTrain.fitMerges]] — per step only words
    * containing the fused pair are touched, so depth is feasible
    * where the full-census loop was k × O(W·len)). A 1024-step
    * chained-MATERIALIZED-CTE oracle is infeasible in DuckDB (the
    * x46 deflate posture: deterministic but not replayable at this
    * depth) → rows-only, twinned by the fully-oracle-checked
    * [[x53BpeTrain]] (identical machinery at k=8) and the
    * BpeTrainSpec delta≡full-census proof at k=100. The trainer runs
    * to the corpus's fixed point when that comes first (the synthetic
    * sf vocabularies are small — ~31 distinct words at sf0.01 — so
    * the early stop, not the 1024 guard, usually binds; the 1024-deep
    * path itself is exercised on a long-tail vocabulary in
    * BpeTrainSpec). Output = the step-1 and every-16th trajectory
    * milestones (bounded). */
  def x53BpeDeep(s: SparkSession, d: String): DataFrame =
    graft.ext.BpeTrain.fitMerges(
        graft.ext.BpeTrain.wordCensus(documents(s, d), maxWords = 2000),
        merges = 1024)
      .filter(pmod(col("step"), lit(16L)) === 0L || col("step") === 1L)
      .orderBy("step")

  /** X12d — physical multi-epoch upsampling ([[graft.ext.Mixing
    * .upsample]]): src1 trains 2.3 epochs, src2 is downsampled to a
    * half epoch, src3 drops, the rest train once — the per-source
    * repeat factors a published LLM data recipe states, materialized.
    * Output = the per-source copy census: emitted rows, highest epoch
    * index, char mass, and a (doc_id, epoch_idx) fingerprint sum that
    * pins WHICH copies exist (the fractional-epoch keep draw is a
    * keyed hash, so the oracle re-derives every copy exactly). */
  def x12Upsample(s: SparkSession, d: String): DataFrame =
    graft.ext.Mixing.upsample(
        documents(s, d).select("doc_id", "source", "n_chars"),
        factorsPpm = Map("src1" -> 2300000L, "src2" -> 500000L,
          "src3" -> 0L))
      .groupBy("source")
      .agg(count(lit(1)).as("rows_out"),
        max(col("epoch_idx")).as("max_epoch"),
        sum(col("n_chars")).as("char_mass"),
        sum(pmod(col("doc_id") * lit(1031L) + col("epoch_idx"),
          lit(1000000000L))).as("copy_fp_sum"))
      .orderBy("source")

  /** X31 — k-anonymity release audit ([[graft.ext.Privacy]]): events
    * gated on the (user_id, event_type) quasi-identifier at k = 10 —
    * a user's rows for an event type release only if they number at
    * least 10. Output = the per-type audit a release review reads:
    * total rows, releasable rows, group counts, suppressed groups.
    * The oracle replays the census as the naive per-group window. */
  def x31Kanon(s: SparkSession, d: String): DataFrame =
    graft.ext.Privacy.kAnonymity(
        events(s, d).select("event_id", "user_id", "event_type"),
        Seq("user_id", "event_type"), k = 10L)
      .groupBy("event_type")
      .agg(count(lit(1)).as("rows_total"),
        sum(when(col("is_kanon"), 1L).otherwise(0L)).as("rows_kept"),
        countDistinct(col("user_id")).as("groups_total"),
        countDistinct(when(!col("is_kanon"), col("user_id")))
          .as("groups_suppressed"))
      .orderBy("event_type")

  /** X31b — l-DIVERSITY release audit ([[graft.ext.Privacy
    * .lDiversity]] — the homogeneity attack k-anonymity misses: a
    * customer whose orders ALL share one status discloses that status
    * to anyone who can name the customer, however many orders there
    * are). Quasi = customer, sensitive = order status, l = 3: the
    * customer's orders release only if they span all three statuses
    * (at sf0.01, 168 of 1,500 customers fail — both outcomes live at
    * every shipped SF). Output mirrors the x31 audit card, per
    * status. The oracle replays the per-customer distinct-status
    * census through a null-safe join (NULL custkey is a real quasi
    * group). */
  def x31LDiversity(s: SparkSession, d: String): DataFrame =
    graft.ext.Privacy.lDiversity(
        orders(s, d).select("o_orderkey", "o_custkey", "o_orderstatus"),
        Seq("o_custkey"), sensitiveCol = "o_orderstatus", l = 3L)
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("rows_total"),
        sum(when(col("is_ldiverse"), 1L).otherwise(0L)).as("rows_kept"),
        countDistinct(col("o_custkey")).as("groups_total"),
        countDistinct(when(!col("is_ldiverse"), col("o_custkey")))
          .as("groups_suppressed"))
      .orderBy("o_orderstatus")

  /** X19d — Unicode-normalization-aware dedup ([[graft.functions
    * .UnicodeNormalize]]): "café" composed (U+00E9) and decomposed
    * (e + U+0301) are different BYTES but the same text — byte-keyed
    * dedup norms treat them as distinct documents unless the pipeline
    * NFC-normalizes first. The plant builds, for docs < 10, a composed
    * twin (+10⁶, text ⧺ " é café") and its NFD-decomposed double
    * (+2·10⁶): byte-distinct, so WITHOUT the NFC stage they are
    * separate families; WITH it they merge and min-key keeps the
    * composed twin. The oracle needs no NFD at all — NFC∘NFD = NFC is
    * a Unicode invariant, so the decomposed twin's family key is
    * `nfc_normalize` of the composed text, and survivors' fingerprints
    * are md5 of the NFC text both engines can compute. */
  def x19NfcDedup(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions.unicodeNormalize
    val docs = documents(s, d).select("doc_id", "text")
    val twins = docs.filter(col("doc_id") < 10)
      .withColumn("text",
        concat(coalesce(col("text"), lit("")), lit(" é café")))
    val corpus = docs
      .unionByName(twins.withColumn("doc_id", col("doc_id") + 1000000L))
      .unionByName(twins.withColumn("doc_id", col("doc_id") + 2000000L)
        .withColumn("text", unicodeNormalize(col("text"), "NFD")))
      .withColumn("text", unicodeNormalize(col("text"), "NFC"))
    Dedup.exactDedup(corpus)
      .select(col("doc_id"),
        md5(coalesce(col("text"), lit(""))).as("nfc_fp"))
      .orderBy("doc_id")
  }

  /** X19e — encoding-damage repair ([[graft.functions.FixMojibake]]):
    * every 7th document gains a suffix of UTF-8-read-as-cp1252 junk
    * (cafÃ© / â€” / donâ€™t /
    * straÃe — Latin-1 two-byte, cp1252 three-byte, and the
    * invisible-C1 case), the whole corpus runs through the repair, and
    * the per-source census fingerprints the REPAIRED text — one byte
    * of over- or under-repair anywhere breaks the hash. The oracle
    * replays the planted damage vocabulary as a literal replace chain
    * (exact because clean corpus text is ASCII and passes through
    * untouched — the strict round-trip condition FixMojibakeSpec
    * pins); the general repair has no SQL replay (no Latin-1 codec in
    * the oracle engine). Map-only, zero shuffles before the census. */
  def x19FixMojibake(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions.fixMojibake
    val damaged = " caf\u00c3\u00a9 \u00e2\u20ac\u201d" +
      " don\u00e2\u20ac\u2122t stra\u00c3\u009fe"
    val planted = documents(s, d).withColumn("text",
      when(pmod(col("doc_id"), lit(7L)) === 3L,
        concat(coalesce(col("text"), lit("")), lit(damaged)))
        .otherwise(col("text")))
    planted.withColumn("fixed", fixMojibake(col("text")))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(when(!(col("fixed") <=> col("text")), 1)).as("n_repaired"),
        sum(length(col("fixed"))).as("fixed_chars"),
        sum(pmod(conv(substring(md5(col("fixed")), 1, 15), 16, 10)
          .cast("long"), lit(1000000000L))).as("fixed_fp_sum"))
      .orderBy("source")
  }

  /** X3i — blocklist page gate ([[graft.functions.BlocklistHits]], the
    * C4 "bad words" filter): one byte-level traversal per document
    * counts token-exact hits against a fixed word set (O(text) per
    * row, independent of list size — the scale contract a 2k-word
    * production list needs). Every 13th document gains a MIXED-CASE
    * plant so the census proves ASCII case folding, not just matching.
    * The oracle replays the exact token semantics as
    * list_filter(regexp_split_to_array(lower(text))). */
  def x3WordBlocklist(s: SparkSession, d: String): DataFrame = {
    import graft.functions.TextFunctions.blocklistHits
    val blocklist = Seq("vector", "merge", "slow", "customer")
    val planted = documents(s, d).withColumn("text",
      when(pmod(col("doc_id"), lit(13L)) === 5L,
        concat(coalesce(col("text"), lit("")), lit(" Slow VECTOR flagged")))
        .otherwise(col("text")))
    planted
      .withColumn("hits", blocklistHits(col("text"), blocklist))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        count(when(col("hits") > 0L, 1)).as("n_flagged"),
        sum(col("hits")).as("hits_sum"),
        max(col("hits")).as("max_hits"))
      .orderBy("source")
  }

  /** X24b — BM25 document ranking ([[graft.ext.TfIdf.bm25Rank]]): the
    * top 10 documents for the query {data, vector, merge}, scored with
    * the standard k1=1.2 / b=0.75. idf is the one micro-nat rounding;
    * every other step is integer cross-multiplication with the corpus
    * length ratio kept RATIONAL (L/N, never a float avgdl) — the
    * oracle replays idf, both floor divisions, the per-doc sum, and
    * the top-10 cut over the (score desc, doc_id asc) total order. */
  def x24Bm25Rank(s: SparkSession, d: String): DataFrame =
    graft.ext.TfIdf.bm25Rank(documents(s, d),
        Seq("data", "vector", "merge"), k = 10)
      .orderBy("rank")

  /** X24c — the persisted-inverted-index BM25 probe ([[graft.ext.TfIdf
    * .saveIndex]] → [[graft.ext.TfIdf.bm25Against]]): the corpus is
    * indexed ONCE per JVM (postings clustered+sorted by term, df
    * census, totals — the [[persistedIndexDir]] discipline) and the
    * query reads only its terms' postings. Scores are the same exact
    * integers as [[x24Bm25Rank]], so this probe hash-matches the SAME
    * oracle — save → probe ≡ fresh is also pinned in TfIdfSpec. */
  def x24Bm25Against(s: SparkSession, d: String): DataFrame = {
    val dir = persistedIndexDir("bm25_index", d)(dir =>
      graft.ext.TfIdf.saveIndex(documents(s, d), dir))
    graft.ext.TfIdf.bm25Against(s, dir, Seq("data", "vector", "merge"),
        k = 10)
      .orderBy("rank")
  }

  /** X24d — incremental index maintenance ([[graft.ext.TfIdf
    * .mergeIndexes]]): the corpus is indexed as two DISJOINT shards
    * (docs < 300 = "history", docs ≥ 300 = "tonight's crawl"), the two
    * artifacts are merged WITHOUT touching either corpus's text, and
    * the probe runs against the merged index. Every component is a
    * mergeable statistic (postings union, df adds, totals add), so the
    * merged probe must hash-match the SAME full-corpus oracle as
    * [[x24Bm25Rank]] — merged ≡ fresh-on-the-union, also pinned in
    * TfIdfSpec. Built once per JVM (the persisted-index discipline). */
  def x24Bm25Merged(s: SparkSession, d: String): DataFrame = {
    val dir = persistedIndexDir("bm25_merged", d) { dir =>
      val docs = documents(s, d)
      graft.ext.TfIdf.saveIndex(docs.filter(col("doc_id") < 300), s"$dir/a")
      graft.ext.TfIdf.saveIndex(docs.filter(col("doc_id") >= 300), s"$dir/b")
      graft.ext.TfIdf.mergeIndexes(s, s"$dir/a", s"$dir/b", s"$dir/m")
    }
    graft.ext.TfIdf.bm25Against(s, s"$dir/m",
        Seq("data", "vector", "merge"), k = 10)
      .orderBy("rank")
  }

  /** X24f — search-index document REMOVAL ([[graft.ext.TfIdf
    * .removeDocs]], mergeIndexes' inverse — the takedown/re-index
    * story): the full corpus is indexed once per JVM, then every
    * `doc_id % 7 = 3` document is REMOVED from the artifact — postings
    * anti join, per-term df decrement, doclens anti join, totals
    * re-census — without touching any corpus text. The probe against
    * the decremented index must hash-match the oracle's fresh BM25
    * over `documents WHERE NOT (doc_id % 7 = 3)`: one df or (N, L)
    * unit of drift (e.g. a removed zero-token document missed by a
    * postings-only decrement) shifts every idf and breaks the hash.
    * remove → add ≡ fresh is additionally pinned in TfIdfSpec. */
  def x24Bm25Removed(s: SparkSession, d: String): DataFrame = {
    val dir = persistedIndexDir("bm25_removed", d) { dir =>
      val docs = documents(s, d)
      graft.ext.TfIdf.saveIndex(docs, s"$dir/full")
      graft.ext.TfIdf.removeDocs(s, s"$dir/full",
        docs.filter(col("doc_id") % 7 === 3).select("doc_id"),
        s"$dir/kept")
    }
    graft.ext.TfIdf.bm25Against(s, s"$dir/kept",
        Seq("data", "vector", "merge"), k = 10)
      .orderBy("rank")
  }

  /** S8 — STREAMING relevance scoring ([[graft.ext.TfIdf
    * .scoreAgainst]]): the BM25 index is fit and saved on the history
    * corpus (docs < 300, once per JVM), its per-term idf and (N, L)
    * become plan literals, and "tonight's crawl" (docs ≥ 300) scores
    * in ONE stateless projection — no joins, no aggregation, no
    * state, so the identical code runs on a structured stream
    * (micro-batch ≡ batch pinned in TfIdfSpec; this registration is
    * the batch replay, the house streaming-lane discipline). A
    * no-hit document scores 0 with `terms_hit` 0 — the stream passes
    * every document through with its relevance, annotate-don't-drop.
    * The oracle re-derives idf from the fit corpus and replays the
    * integer formula per shard document. */
  def s8StreamBm25(s: SparkSession, d: String): DataFrame = {
    val dir = persistedIndexDir("bm25_hist", d)(dir =>
      graft.ext.TfIdf.saveIndex(
        documents(s, d).filter(col("doc_id") < 300), dir))
    graft.ext.TfIdf.scoreAgainst(s, dir,
        documents(s, d).filter(col("doc_id") >= 300),
        Seq("data", "vector", "merge"))
      .select("doc_id", "bm25_micro", "terms_hit")
      .orderBy("doc_id")
  }

  /** X4 — per-event-type z-score anomaly flags (|z| > 3). */
  def x4ZscoreFlags(s: SparkSession, d: String): DataFrame =
    Anomaly.zscoreFlags(events(s, d), "value", "event_type", "event_id")

  /** S1 — the streaming suite's fused per-window check aggregation,
    * replayed in batch (same code path: `StreamingSuite.windowedChecks`;
    * watermarks are a no-op on a static frame). Tumbling 1-hour windows
    * over events with three fused checks — the correctness row for the
    * streaming mode's aggregation semantics. */
  def s1WindowedChecks(s: SparkSession, d: String): DataFrame = {
    import graft.checks.{BetweenCheck, NotNullCheck, RowCountCheck}
    graft.stream.StreamingSuite.windowedChecks(
        events(s, d), "ts", "1 hour", "0 seconds",
        Seq(RowCountCheck(), NotNullCheck("user_id"),
          BetweenCheck("value", min = Some(0.0))))
      .select(col("window_start"),
        col("row_count_between__element_count").as("n_rows"),
        col("not_null_user_id__unexpected_count").as("null_user_id"),
        col("between_value__unexpected_count").as("value_below_zero"))
      .orderBy("window_start")
  }

  /** S2 — streaming exact dedup, batch-replayed (the watermark is a
    * no-op on a static frame; `dropDuplicatesWithinWatermark` degenerates
    * to per-key dedup — same code path as the streaming mode, pinned by
    * StreamingDedupSpec across micro-batches). Five exact copies of the
    * first documents are planted so duplicates exist at every sf; output
    * is the deterministic (n_docs, n_unique, n_dups) summary. */
  def s2StreamDedup(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val corpus = docs.unionByName(docs.filter(col("doc_id") < 5))
      .withColumn("ts", expr("timestamp_micros(doc_id * 1000000)"))
    graft.stream.StreamingDedup.dedupSummary(corpus, "ts")
  }

  /** S3 — streaming NEAR-dup drop against a frozen MinHash signature
    * index, batch-replayed (same code path as the live stream — no
    * isStreaming branch). History = docs < 300's signatures; the shard
    * replays docs ≥ 300 plus exact copies of docs 0-9 re-keyed +10000 —
    * planted cross-shard near-dups (estimated Jaccard 1.0) that MUST
    * drop, while genuinely new content survives. Same (n=4, bands=8)
    * family as x1_minhash_pairs. Rows-only check (xxhash64 signature
    * family is engine-specific); drop-set parity with
    * `minhashPairsAgainst` and live-stream execution are pinned by
    * StreamingDedupSpec. */
  def s3StreamNeardup(s: SparkSession, d: String): DataFrame = {
    val (history, shard) =
      plantedShard(documents(s, d), withSecondCopy = false)
    // The per-band anti joins scan the index once per band; in
    // production it is a SAVED parquet (column-pruned scans). A derived
    // frame would recompute the signature aggregate per band —
    // materialize once to mirror the persisted-index contract.
    val historySigs = Pin(Dedup.minhashSignatures(history, n = 4))
    // Batch replay only: spread the shard before the per-row MinHash
    // signature + 8-band anti-join chain (r18 — the whole chain ran on
    // the union's 2 scan partitions; a LIVE stream arrives pre-split
    // by its micro-batch source and never passes through here).
    graft.stream.StreamingDedup.minhashDropStreamAgainst(
        spreadDocs(shard, bytesPerTask = 128L * 1024), historySigs,
        n = 4, bands = 8, minSim = 0.7)
      .select("doc_id").orderBy("doc_id")
  }

  /** S4 — the SimHash half of the streaming near-dup story, batch
    * replayed like S3: docs ≥ 300 plus re-keyed copies of docs 0-9
    * against the frozen simhash index of docs < 300; planted copies
    * (Hamming 0) must drop. Same (n=4, maxHamming=6) family as
    * x1_simhash_pairs. Rows-only; parity pinned in
    * StreamingDedupSpec. */
  def s4StreamSimhash(s: SparkSession, d: String): DataFrame = {
    val (history, shard) =
      plantedShard(documents(s, d), withSecondCopy = false)
    val historySigs = Pin(Dedup.simhashSignatures(history, n = 4))
    // Batch replay only: spread before the signature + banded anti-join
    // chain (the s3 rationale).
    graft.stream.StreamingDedup.simhashDropStreamAgainst(
        spreadDocs(shard, bytesPerTask = 128L * 1024), historySigs,
        n = 4, maxHamming = 6)
      .select("doc_id").orderBy("doc_id")
  }

  /** S6 — streaming EMBEDDING near-dup drop, batch replayed like S3/S4:
    * vectors ≥ 300 plus re-keyed byte-identical copies of vectors 0-9
    * against the frozen LSH band index of vectors < 300. FULLY
    * oracle-checked (not planted-twin-only): identical vectors collide
    * in every band under ANY hyperplane family and verify at cosine
    * exactly 1.0, while the base corpus's pairwise maximum (~0.52) sits
    * far below minSim = 0.95 — so the drop set is exactly the NOT-EXISTS
    * cosine replay, independent of the hash family. Live-stream
    * micro-batch parity pinned in StreamingDedupSpec. */
  def s6StreamAnnDrop(s: SparkSession, d: String): DataFrame = {
    val emb = embeddings(s, d)
    val history = emb.filter(col("vec_id") < 300)
    val shard = emb.filter(col("vec_id") >= 300)
      .unionByName(emb.filter(col("vec_id") < 10)
        .withColumn("vec_id", col("vec_id") + 10000))
    // Pinned: the persisted-index contract (saveBands).
    val historyBands = Pin(graft.ext.Similarity
      .lshBands(history, "vec_id", "embedding", dim = 64, numBits = 64,
        bands = 8, seed = 42L))
    graft.stream.StreamingDedup.embedDropStreamAgainst(
        shard, historyBands, history, minSim = 0.95)
      .select("vec_id").orderBy("vec_id")
  }

  /** X15 — bigram-LM perplexity scoring (the CCNet gate): model trained
    * on docs < 300 (the "trusted reference"), docs ≥ 300 scored against
    * it. Integer micro-nat sums make every hash-compared column exact
    * arithmetic; `lm_ppl` is derived from the integers and rounded at
    * 3 dp. Oracle replays the counts, the stupid-backoff CASE, and the
    * cross-multiplied band cut in SQL. */
  def x15LmPpl(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val model = graft.ext.NgramLm.train(docs.filter(col("doc_id") < 300))
      .materialize()
    graft.ext.NgramLm.scored(spreadDocs(docs.filter(col("doc_id") >= 300)),
        model)
      .select("doc_id", "lm_grams", "lm_hits", "lm_logp_micro",
        "lm_ppl", "lm_band")
      .orderBy("doc_id")
  }

  /** X15-against — the persisted-LM probe ([[graft.ext.NgramLm.save]]
    * → load → scored): the bigram model is trained and SAVED once per
    * JVM (the [[dsirModelDir]] discipline), then every run scores the
    * corpus against the LOADED counts — no reference-corpus
    * re-tokenization at query time. Scoring is integer micro-nat
    * arithmetic, so the loaded-model scores hash-match the SAME
    * oracle SQL as [[x15LmPpl]]; save→load→scored bit-parity is also
    * pinned by NgramLmSpec. */
  /** The trained-and-saved bigram LM for the standard registration
    * split (reference = docs < 300) — trained ONCE per JVM per dataset
    * via [[persistedIndexDir]], probed by [[x15LmPplAgainst]] and
    * consumed by [[x10PplFunnel]] (the [[dsirModelDir]] pattern). */
  private def lmModelDir(s: SparkSession, d: String): String =
    persistedIndexDir("lm_model", d) { dir =>
      graft.ext.NgramLm.save(
        graft.ext.NgramLm.train(documents(s, d).filter(col("doc_id") < 300)),
        dir)
    }

  def x15LmPplAgainst(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val model = graft.ext.NgramLm.load(s, lmModelDir(s, d))
    graft.ext.NgramLm.scored(spreadDocs(docs.filter(col("doc_id") >= 300)),
        model)
      .select("doc_id", "lm_grams", "lm_hits", "lm_logp_micro",
        "lm_ppl", "lm_band")
      .orderBy("doc_id")
  }

  /** X15b — TRIGRAM stupid-backoff perplexity (the CCNet-grade
    * higher-order gate): same reference split, `order = 3`, so scoring
    * runs the two-level backoff CASE — trigram hit, else 0.4·bigram,
    * else 0.4²·Laplace unigram. The oracle replays the trigram census
    * and both backoff levels with the same pre-rounded integer
    * constants ([[graft.ext.NgramLm.BackoffMicro]] per level, added —
    * never ln 0.16 rounded as a product). */
  def x15LmPpl3(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val model = graft.ext.NgramLm
      .train(docs.filter(col("doc_id") < 300), order = 3).materialize()
    graft.ext.NgramLm.scored(spreadDocs(docs.filter(col("doc_id") >= 300)),
        model)
      .select("doc_id", "lm_grams", "lm_hits", "lm_logp_micro",
        "lm_ppl", "lm_band")
      .orderBy("doc_id")
  }

  /** X15c — 5-GRAM stupid-backoff perplexity, the KenLM order of the
    * published CCNet filter ([[graft.ext.NgramLm.scoredN]]'s four-level
    * backoff: 5-gram hit, else 0.4·4-gram, … else 0.4⁴·Laplace
    * unigram — VERDICT r10 next #5). Same reference split; the oracle
    * replays ALL four censuses and every backoff level with the same
    * per-level pre-rounded integer constants. */
  def x15LmPpl5(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val model = graft.ext.NgramLm
      .train(docs.filter(col("doc_id") < 300), order = 5).materialize()
    graft.ext.NgramLm.scored(spreadDocs(docs.filter(col("doc_id") >= 300)),
        model)
      .select("doc_id", "lm_grams", "lm_hits", "lm_logp_micro",
        "lm_ppl", "lm_band")
      .orderBy("doc_id")
  }

  /** X16 — DSIR importance weights: model fit with docs < 300 as the
    * target ("what we want more of") and docs ≥ 300 as raw, raw docs
    * scored. Integer micro-nat sums keep every hash-compared column
    * exact; `dsir_logw` derives from the integers at 3 dp. The oracle
    * replays the md5-prefix bucket hash, both censuses, the JM-smoothed
    * log-ratio (same double association, pre-computed uniform-floor
    * literal), and the per-doc sum in SQL. */
  def x16DsirWeights(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val (_, scored) = graft.ext.Dsir.fitScored(
      docs.filter(col("doc_id") < 300), docs.filter(col("doc_id") >= 300))
    scored
      .select("doc_id", "dsir_grams", "dsir_logw_micro", "dsir_logw")
      .orderBy("doc_id")
  }

  /** The fitted-and-saved DSIR model for the standard registration
    * split (target = docs < 300, raw = docs ≥ 300) — fit ONCE per JVM
    * per dataset via [[persistedIndexDir]], probed by both
    * [[x16DsirAgainst]] and [[x10DsirFunnel]]. */
  private def dsirModelDir(s: SparkSession, d: String): String =
    persistedIndexDir("dsir_model", d) { dir =>
      val docs = documents(s, d)
      graft.ext.Dsir.save(graft.ext.Dsir.fit(
        docs.filter(col("doc_id") < 300),
        docs.filter(col("doc_id") >= 300)), dir)
    }

  /** X16-against — the persisted-model DSIR probe ([[graft.ext.Dsir
    * .save]] → [[graft.ext.Dsir.load]] → [[graft.ext.Dsir.weighted]]):
    * the bucket model is fitted and SAVED once, then raw documents are
    * scored against the LOADED counts — no target or raw census at
    * query time (the X1h/X2 `…Against` contract, closing VERDICT r9
    * missing #1). Weighting is deterministic integer micro-nat
    * arithmetic, so the loaded-model scores hash-match the SAME oracle
    * SQL as [[x16DsirWeights]]; save→load→weighted bit-parity is also
    * pinned by DsirSpec. */
  def x16DsirAgainst(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val model = graft.ext.Dsir.load(s, dsirModelDir(s, d))
    graft.ext.Dsir.weighted(spreadDocs(docs.filter(col("doc_id") >= 300)),
      model)
      .select("doc_id", "dsir_grams", "dsir_logw_micro", "dsir_logw")
      .orderBy("doc_id")
  }

  /** X16 — Gumbel top-k importance resampling (k = 100, seed = 42):
    * weight-proportional sampling without replacement via the
    * deterministic engine-hash Gumbel draw, so the oracle replays the
    * draw itself (hash64 → uniform → perturbed integer key → top-k). */
  def x16DsirSelect(s: SparkSession, d: String): DataFrame = {
    val docs = documents(s, d)
    val (_, scored) = graft.ext.Dsir.fitScored(
      docs.filter(col("doc_id") < 300), docs.filter(col("doc_id") >= 300))
    graft.ext.Dsir.resampleFrom(scored, k = 100, seed = 42L)
      .select("doc_id", "dsir_logw_micro", "dsir_key_micro")
      .orderBy("doc_id")
  }

  /** X5a — multimodal payload integrity per kind (synthetic media built
    * deterministically over documents: text bytes as the opaque payload). */
  def x5MediaIntegrity(s: SparkSession, d: String): DataFrame =
    Multimodal.integritySummary(
      Multimodal.syntheticMediaFromDocuments(documents(s, d)))

  /** X5c — video frame sampling: one frame reference per second of
    * duration, a pure explode(sequence) with no shuffle. Directly
    * SQL-expressible, so it carries a DuckDB generate-series oracle. */
  def x5FrameSample(s: SparkSession, d: String): DataFrame =
    Multimodal.sampleFrames(
        Multimodal.syntheticMediaFromDocuments(documents(s, d)))
      .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"),
        col("frame_ms"))
      .orderBy("media_id", "frame_idx")

  /** X3e — language-ID heuristic, registered as its deterministic
    * confusion matrix (predicted vs labeled language), fully
    * oracle-checked: the stopword-profile argmax replays in SQL as
    * ordered CASE comparisons (ties → lexicographically largest
    * language, identical to array_max over (score, lang) structs).
    * Real-language prediction quality is pinned by unit tests — the
    * corpus shares one vocabulary across labels (TESTDATA.md), so the
    * matrix here exercises the mechanism, not linguistics. */
  def x3LangConfusion(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    TextAnalysis.langConfusion(
      documents(s, d).select(col("lang"), col("text"))
        .unionByName(jaKoFixtures.toDF("lang", "text")))
  }

  /** ja/ko script-gate fixtures for [[x3LangConfusion]] — defined ONCE
    * (unicode escapes, all BMP so Spark's UTF-16 length == DuckDB's
    * codepoint length) and interpolated into the oracle's VALUES rows,
    * so both engines see byte-identical text. Each is kana-/hangul-
    * dominant enough to clear its script gate. */
  val jaKoFixtures: Seq[(String, String)] = Seq(
    "ja" -> "これ は 日本語 の テスト です",
    "ja" -> "カタカナ の テキスト データ",
    "ko" -> "이것 은 한국어 테스트 입니다",
    "ko" -> "한글 문서 품질 검사")

  /** X5d — REAL container-header decoding, no codec library: payloads
    * carry byte-valid PNG/WAV/MP4 headers with per-row field values, and
    * the parser reads them back out of the bytes. The oracle recomputes
    * the planted values from the generation formulas — a wrong byte on
    * either side breaks the hash match. */
  def x5HeaderParse(s: SparkSession, d: String): DataFrame =
    Multimodal.parseHeaders(
        Multimodal.syntheticMediaWithHeaders(documents(s, d)))
      .orderBy("media_id")

  /** X5b — mapPartitions feature extraction (stubbed codec, real batch
    * plumbing). The pseudo-decode is byte-window means, so the oracle
    * re-derives sampled feature values and window occupancy from the
    * document text (payload = its UTF-8 bytes; the testdata is pure
    * ASCII, so SQL character positions are byte positions) — a full
    * hash-checked row per media item, not a rows-only count. */
  def x5MediaFeatures(s: SparkSession, d: String): DataFrame = {
    val feats = Multimodal.extractFeatures(
      Multimodal.syntheticMediaFromDocuments(documents(s, d)), dim = 64)
    // Sampled feature values: float → double is exact, then one 4-dp
    // round, mirrored verbatim in the oracle's cast chain.
    def f(i: Int) = round(element_at(col("features"), i + 1).cast("double"), 4)
    feats.select(col("media_id"), size(col("features")).as("dim"),
        f(0).as("f0"), f(16).as("f16"), f(31).as("f31"),
        f(47).as("f47"), f(63).as("f63"),
        // ASCII bytes are >= 32, so nonzero features == occupied windows.
        size(filter(col("features"), x => x > 0f)).cast("long").as("n_nonzero"))
      .orderBy("media_id")
  }
}
