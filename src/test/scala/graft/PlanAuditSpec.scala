package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec

/** Plan-shape regression tests over EVERY registered query: the scale
  * properties the engine is designed around, enforced by CI rather than
  * by one-off explain() audits. Runs on sf0.001 — plan shapes, not data. */
class PlanAuditSpec extends SparkSpec {

  private def planOf(name: String): SparkPlan =
    SparkEntry.queries(name)(spark, sfDir).queryExecution.executedPlan

  /** Full traversal that descends through AQE wrappers and query stages
    * (a plain `plan.collect` stops at AdaptiveSparkPlanExec, silently
    * turning scan/join assertions vacuous). */
  private def allNodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case s: QueryStageExec => Seq(s.plan)
      case _ => p.children
    }
    p +: kids.flatMap(allNodes)
  }

  private def scansOf(p: SparkPlan): Seq[BatchScanExec] =
    allNodes(p).collect { case b: BatchScanExec => b }

  private def planNodes(p: SparkPlan): Seq[String] = allNodes(p).map(_.nodeName)

  /** Queries whose broadcast-nested-loop joins are intentional:
    * g3 joins two ONE-ROW aggregates; brute-force top-k broadcasts the
    * bounded query set against the corpus scan (a non-equi join by
    * design); x1_embed_neardup crosses a ONE-ROW max-id aggregate onto
    * the 5 planted rows (the lazy replacement for the plan-time `.head()`
    * job — both sides bounded by construction); s2_stream_dedup crosses
    * two ONE-ROW count aggregates; x12_temperature_mix crosses the
    * ONE-ROW weight-sum aggregate back onto the per-source census (the
    * replacement for the unpartitioned-window normalization). */
  private val bnljAllowed =
    // x2_mrl_topk's stage 1 IS bruteForceTopK on the truncated prefix —
    // the same deliberate broadcast non-equi (cand_id != query_id) join
    // as x2_topk_cosine; stage 2 is equi-joined.
    Set("g3_in_set", "x2_topk_cosine", "x2_hard_negatives", "x2_mrl_topk",
      "x2_quant_topk",
      // the ADC scan: bounded LUT-carrying query set broadcast against
      // the byte-code table with the non-equi self-exclusion — the
      // x2_topk_cosine brute-force shape on the compressed codes
      "x2_pq_topk", "x2_pq_planted",
      "x1_embed_neardup",
      "x2_semdedup", "s2_stream_dedup", "x11_skew_profile",
      "x12_temperature_mix",
      // ONE-ROW (total_toks, vocab) totals broadcast-cross-joined onto
      // the per-gram probe — the x12 weight-sum shape.
      "x15_lm_ppl", "x15_lm_ppl3", "x15_lm_ppl5", "x15_lm_against",
      // The ONE-ROW (Nu, Nb) totals cross onto the surviving pair
      // frame — the x15 totals shape.
      "x41_pmi_pairs",
      // The ONE-ROW straddle census cross onto the 3-row split
      // census — the leakage-guard audit column.
      "x52_group_split",
      // The same one-row straddle cross onto the per-split card rows
      // (the E2E capstone registration).
      "x10_split_cards",
      // The ppl-gated funnel inherits x15's one-row totals cross; the
      // dsir-selected funnel inherits x16's.
      "x10_ppl_funnel", "x10_dsir_funnel",
      // The ONE-ROW max(vec_id)+1 offset cross that re-keys the planted
      // query vectors — x2_semdedup's shape (the ivf planted/against
      // variants share it but register checkpointed outputs).
      "x2_ann_planted",
      // Same shape: the ONE-ROW (nt, nr) model totals cross the
      // per-(doc, bucket) probe (the against variant reads the totals
      // row from the SAVED parquet instead of the fresh fit — same
      // one-row cross).
      "x16_dsir_weights", "x16_dsir_select", "x16_dsir_against",
      // The ONE-ROW step-1 population cross onto the 3-row step-count
      // union — the funnel's ppm denominator (x12 weight-sum shape);
      // the session funnel rides the same machinery.
      "x37_event_funnel", "x45_session_funnel",
      // The weeks × observed-(type,bin) smoothing grid: a deliberate
      // cross of two frames derived from the checkpointed census —
      // both |weeks| / |types|·|bins| sized at ANY corpus size.
      "x20_psi_drift",
      // The ONE-ROW corpus-size N cross onto the (doc, term) tf frame
      // — the x15/x16 totals shape again (bm25 crosses the one-row
      // (N, L) totals the same way).
      "x24_tfidf_terms", "x24_bm25_rank", "x24_bm25_against",
      "x24_bm25_merged", "x24_bm25_removed",
      // The streaming decontamination gate: deliberately ONE broadcast
      // non-equi anti join of the corpus against the |benchmark|-row
      // gram-set frame (dim-sized BY DEFINITION — eval suites vs a
      // 100 TB corpus), carrying the exact containment verify as the
      // join condition — the s6/x2_topk bounded-static-side shape.
      "s10_stream_decontam",
      // The ONE-ROW scale-safe re-key offset (floor(max(custkey)/1e5)+1)
      // ·1e5 cross onto the five new-key plants (ADVICE r10 — a fixed
      // +100000 collides at sf1); the streaming lane replays the same
      // plant through upsertBatch.
      "t4_scd2_snapshot", "s7_stream_scd2",
      // The ONE-ROW total-N cross onto the |distinct values| KL/chi²
      // census (the x12 weight-sum shape, per declared partition),
      // plus the one-row verdict literals cross onto the census rows.
      "g23_kl_divergence", "g24_chi_square",
      // the media capstone's three ONE-ROW count aggregates cross
      // onto each modality card row
      "x10_media_funnel")

  test("no registered query plans a cartesian product") {
    SparkEntry.queries.keys.foreach { name =>
      assert(!planNodes(planOf(name)).exists(_.contains("CartesianProduct")),
        s"$name plans a CartesianProduct")
    }
  }

  test("broadcast-nested-loop joins appear only where intended") {
    SparkEntry.queries.keys.filterNot(bnljAllowed).foreach { name =>
      assert(!planNodes(planOf(name)).exists(_.contains("BroadcastNestedLoopJoin")),
        s"$name plans an unexpected BroadcastNestedLoopJoin")
    }
  }

  /** Queries whose widest scan is a BOUNDED MODEL ARTIFACT, not a
    * corpus: the x3_lang_train trajectory parquet is 12 rows × (lang,
    * epoch, mis + 9 weight columns) — the query's whole point is to
    * emit every column of the fitted model, so "pruning" cannot apply.
    * Corpus scans in these queries still ran through Verify's oracle
    * gate; only the artifact read is exempted (by its wider bound). */
  private val modelArtifactScanCols = Map(
    "x3_lang_train" -> 12, "x3_lang_trained" -> 12)

  test("every parquet scan is column-pruned (≤ 6 of lineitem's 11 columns etc.)") {
    var scansSeen = 0
    SparkEntry.queries.keys.foreach { name =>
      val cap = modelArtifactScanCols.getOrElse(name, 6)
      scansOf(planOf(name)).foreach { b =>
        scansSeen += 1
        assert(b.schema.size <= cap,
          s"$name has a parquet scan reading ${b.schema.size} columns — pruning regressed")
      }
    }
    assert(scansSeen > 30, s"audit must actually see the scans (saw $scansSeen)")
  }

  test("the mart join does not pin a broadcast on the customer side") {
    // Customer scales with the fact data (VERDICT round-1 scale-killer):
    // only fixed-cardinality nation/region may sit under a static
    // broadcast. Inspect every BroadcastExchange subtree's scans.
    val broadcastScans = allNodes(planOf("t3_mart_sales"))
      .filter(_.nodeName.contains("BroadcastExchange"))
      .flatMap(scansOf)
      .map(_.schema.fieldNames.toSeq)
    assert(broadcastScans.nonEmpty, "expected nation/region broadcasts")
    broadcastScans.foreach { cols =>
      assert(!cols.exists(c => c.startsWith("c_") || c.startsWith("l_")),
        s"fact-scaled columns $cols under a static BroadcastExchange in t3")
    }
  }

  test("fused check suites compile to a single aggregate over one scan") {
    import graft.checks._
    val checks: Seq[AggCheck] = Seq(RowCountCheck(), NotNullCheck("o_custkey"),
      BetweenCheck("o_totalprice", min = Some(0.0)))
    val cols = checks.flatMap(c => c.aggColumns(c.safeName + "__"))
    val df: DataFrame = Tables.orders(spark, sfDir).agg(cols.head, cols.tail: _*)
    assert(scansOf(df.queryExecution.executedPlan).size == 1,
      "a fused suite must cost exactly one scan")
  }

  test("fuzzy-dedup and IVF pipelines are cartesian-free (pre-materialization plans)") {
    // The registered variants pin their outputs, which replaces the
    // inspectable plan with a checkpoint scan — audit the real shapes
    // under Pin.lazily / the pure probe path.
    import graft.ext.{Dedup, IvfIndex}
    val docs = Tables.documents(spark, sfDir)
    val emb = Tables.embeddings(spark, sfDir)
    val model = IvfIndex.build(emb, k = 4, iters = 0)
    try {
      val plans = Pin.lazily(Seq(
        "jaccard" -> Dedup.jaccardPairs(docs, n = 4),
        "minhash" -> Dedup.minhashPairs(docs, n = 4, bands = 8),
        "simhash" -> Dedup.simhashPairs(docs, n = 4, maxHamming = 6),
        "ivf" -> IvfIndex.topK(model, emb, emb.filter("vec_id < 3"), k = 3, nProbe = 2)))
      plans.foreach { case (name, df) =>
        val nodes = planNodes(df.queryExecution.executedPlan)
        assert(!nodes.exists(_.contains("CartesianProduct")), s"$name plans a cartesian")
        assert(!nodes.exists(_.contains("BroadcastNestedLoopJoin")),
          s"$name plans a nested-loop join")
      }
    } finally model.release()
  }

  /** Queries whose construction IS their execution for a reason other
    * than a sharing pin, so they run jobs even under [[Pin.lazily]]:
    * suite and ETL runners, index and model fits, verdicts and guards
    * read back to the driver, iterative resolution, and writes repeated
    * at every construction. Everything else must be a pure plan once its
    * pins are lazy. */
  private val actsAtConstruction = Set(
    // the IVF index build (k-means iterations + the checkpointed
    // assignment pass) runs at construction; the planted and against
    // variants add the parquet save+load round trip
    "x2_ivf_topk", "x2_ivf_planted", "x2_ivf_against", "x2_ann_against",
    // min-label propagation is iterative — actions are its nature
    "x1_dedup_groups",
    // SemDeDup's k-means quantizer build + component resolution
    "x2_semdedup",
    // the guarded fuzzy-drop broadcast (keeper window aside for the
    // keepbest variant) acts at construction
    "x10_curation_funnel", "x10_keepbest_funnel",
    // the suite/ETL queries run the engine's action-based runners
    // before returning the summary frame
    "v1_raw_gate", "v2_suite_summary", "g16_declarative_suite",
    "v5_drift_check",
    // runs the REAL check engine (MonotonicCheck's range-partitioned
    // fold + the mode/bounds aggregates) at construction, the
    // v2_suite_summary shape
    "g22_ge_tail",
    // the band census (one tiny partial-agg job) runs at construction
    // to pick the cut band
    "x26_budget_cut",
    // the BPE variant additionally reads the saved merge list into
    // plan literals and runs the same band census at construction
    "x26_budget_bpe",
    // the streaming SCD-2 replay localCheckpoints the dimension state
    // per micro-batch (the transactional-table stand-in)
    "s7_stream_scd2",
    // + the bounded driver union-find (x1_dedup_groups shape)
    "x5_dhash_groups",
    // builds + SAVES the signature index once per JVM, then probes the
    // loaded parquet (edge materialization + driver union-find)
    "x5_dhash_pipeline",
    // Builds the Bloom sketch — an aggregate action by nature (the
    // probe literal needs the bytes); production ships saved bytes.
    "x1_bloom_dedup", "x1_keepbest_bloom",
    // the against variant fits + SAVES the DSIR model on first
    // construction (per-JVM persisted-index dir) and reads the params
    // row back at load; the funnel reads the same params row
    "x16_dsir_against", "x10_dsir_funnel",
    // the writer IS the operator: curate -> partitioned parquet write
    // at construction, the registered plan is the read-back census
    "x10_write_verify", "x10_write_packed",
    // fits + SAVES the per-stratum threshold cuts on first construction
    // (the x16_dsir_against persisted-model discipline) and reads the
    // cut row back at every construction; the registered plan probes
    // the loaded parquet (s9 = the same fit on the history half,
    // serving the shard half)
    "x27_pctl_against", "x10_pctl_funnel", "s9_stream_pctl_gate",
    // the fit IS the operator: k epoch aggregates run at construction,
    // the registered frame is the collected per-epoch audit
    "x30_perceptron",
    // the scoring lane reads the 4-row final weights of the X3k
    // persisted model into plan literals
    "x3_lang_trained",
    // the streaming serve lane's batch replay reads the same persisted
    // trajectory + the 4-row weights fetch at construction
    "s17_stream_lang",
    // The deep BPE lane fetches the bounded census and runs the
    // in-memory delta fit at EVERY construction (its output IS the fit
    // audit).
    "x53_bpe_deep",
    // the PQ codebook fit (iters bounded aggregates) + the guarded
    // query-count fetch run at construction (the x2_ivf shape); the
    // planted twin skips the fit but keeps the broadcast guard fetch;
    // the ivfpq pair additionally builds (and releases) the coarse
    // quantizer and localCheckpoints its bounded output
    "x2_pq_topk", "x2_pq_planted", "x2_ivfpq_topk", "x2_ivfpq_planted",
    // reads the persisted merge list into plan literals at construction
    "x53_bpe_tokenize", "x53_bpe_count",
    // the s8 scorer fits the history index and reads its tiny stats
    // into plan literals
    "s8_stream_bm25",
    // probes the saved benchmark index; the s10 stream gate reads the
    // same artifact's params row at plan time (the s8 literal-model
    // discipline)
    "x8_contam_against", "s10_stream_decontam",
    // runs the REAL check engine's three KL (resp. chi-square)
    // verdicts (each an agg over the pinned value census — the
    // g22_ge_tail shape) at construction
    "g23_kl_divergence", "g24_chi_square",
    // the xcodec groups lane adds the bounded driver union-find
    // (x5_dhash_groups shape)
    "x5_xcodec_groups",
    // reads the persisted merge list into plan literals at construction
    "s25_stream_bpe")

  /** Queries that run jobs at construction only when pins are eager:
    * their sharing pins ([[Pin]]) execute — the fuzzy dedup operators
    * pin their small outputs and release intermediate caches, the
    * models and indexes derived in-lane are pinned like saved artifacts
    * — or a once-per-JVM artifact build runs at first construction,
    * which the job-free audits pre-pay. */
  private val eagerOnlyAtConstruction = Set(
    "x1_jaccard_pairs", "x1_minhash_pairs", "x1_simhash_pairs",
    "v6_checkpoint_run",
    // pin the derived history-signature index once, mirroring the
    // persisted-parquet contract of the streaming path (the per-band
    // anti joins would otherwise recompute the signature aggregate per
    // band).
    "s3_stream_neardup", "s4_stream_simhash", "s6_stream_anndrop",
    // writes the audited corpus once per JVM at first construction
    // (the persisted-index discipline)
    "x10_layout_audit",
    // the planted-oracle variants share those eager shapes (pinned
    // history index / materialized pair signatures)
    "s3_planted_neardup", "s4_planted_simhash",
    "x1_minhash_planted", "x1_simhash_planted",
    // the image dHash lanes ride the same hammingPairs(Against) core
    // as x1_simhash_pairs (cached signatures + pinned ordered pair set
    // — the family/banded joins would otherwise decode+hash the corpus
    // once per consumer); s19's drop stream is deliberately NOT here —
    // its anti-join fold is lazy end-to-end
    "x5_dhash_pairs", "x5_dhash_dropset", "x5_dhash_against",
    // the audio aHash lanes ride the same cached cores
    "x5_ahash_pairs", "x5_ahash_dropset", "x5_ahash_against",
    // r17: the chunked-audio lanes cache their segment signatures and
    // pin the containment verdict (decode once — the hammingPairs
    // discipline applied to the segment self-join / drop anti-join);
    // the stream lane also builds + SAVES the chunk segment-hash index
    // once per JVM and probes the loaded parquet
    "x5_ahash_chunks", "s24_stream_chunks",
    // the pHash pair lane rides the same cached hammingPairs core
    "x5_phash_pairs",
    // the video lanes' per-frame signatures ride the same core
    "x5_video_neardup", "x5_video_align",
    // builds + SAVES the frame-signature index once per JVM, then
    // rides the cached hammingPairsAgainst core
    "x5_video_against",
    // the media capstone composes all three cached hash cores
    "x10_media_funnel",
    // pins the derived weight column (persisted-X17-state contract)
    "x12_weighted_mix",
    // pins the (week,type,bin) census consumed by five branches
    "x20_psi_drift",
    // pins the trained LM count frames (persisted-model contract —
    // scoring would otherwise re-run the reference-corpus aggregation
    // once per join build); the against variant trains + SAVES once per
    // JVM and probes the loaded parquet, which the ppl funnel shares.
    "x15_lm_ppl", "x15_lm_ppl3", "x15_lm_ppl5", "x15_lm_against",
    "x10_ppl_funnel",
    // pins the fitted DSIR probe and bucket model (persisted-model
    // contract, as x15)
    "x16_dsir_weights", "x16_dsir_select",
    // r18: pins the curated+split survivors once for its two consumers
    // (straddle census + card rollup) — the writePacked pin discipline
    "x10_split_cards",
    // writes the two bucketed tables once per JVM at first construction
    // (the layout investment the co-located join amortizes)
    "x28_bucketed_join",
    // exports the JSONL/CSV shards (and the fragment + compaction
    // rewrite) once per JVM at first construction (the x10-writer
    // discipline); the registered plan is the read-back census
    "x29_jsonl_roundtrip", "x32_csv_roundtrip", "x33_compact_verify",
    // the X3k persisted-model fit: feature materialization + the
    // 4-class fit + trajectory save run once per JVM at first
    // construction (x30's posture)
    "x3_lang_train",
    // the X53 fit: the word census + k merge-argmax aggregates run
    // once per JVM at first construction and persist the vocab
    // artifact; the registered frame reads the saved merges. The
    // full-alphabet and byte-level siblings share the posture.
    "x53_bpe_train", "x53_bpe_train_full", "x53_bpe_bytes",
    // builds + SAVES the inverted index once per JVM at first
    // construction; the registered plan probes the saved postings
    // (the merged variant builds two shard indexes + the merge; the
    // removed variant builds the full index + the decrement)
    "x24_bm25_against", "x24_bm25_merged", "x24_bm25_removed",
    // the xcodec drop set rides the cached hammingEdges core
    // (decode+re-encode+hash cache, pinned edge set — the
    // x5_dhash_dropset shape on the union corpus)
    "x5_xcodec_dedup")

  test("top-N per group never plans a single-partition global sort or window") {
    // The operator exists to avoid the one-reducer-per-group shape; the
    // plan must show BOTH window stages (per-(group, pid), then global
    // over bounded candidates) and no SinglePartition exchange anywhere.
    val nodes = allNodes(planOf("x6_top_per_stratum"))
    val windows = nodes.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
    }
    assert(windows.size == 2,
      s"expected the two staged windows, got ${windows.size}")
    // Stage-1 window partitions by (group, partition id) — two
    // expressions; stage-2 by the group alone.
    assert(windows.map(_.partitionSpec.size).sorted == Seq(1, 2))
    val singleParts = nodes.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
          if e.outputPartitioning.numPartitions == 1 => e
    }
    assert(singleParts.isEmpty,
      "top-N per group must not funnel through a single partition")
  }

  /** Construct every registered query outside `exempt` — under
    * [[Pin.lazily]] when `lazyPins` — and assert it ran no Spark job. */
  private def assertConstructionJobFree(exempt: Set[String],
                                        lazyPins: Boolean): Unit = {
    def construct(fn: (org.apache.spark.sql.SparkSession, String) => DataFrame) =
      if (lazyPins) Pin.lazily(fn(spark, sfDir)) else fn(spark, sfDir)
    // Building a DataFrame must be free: an eager action inside a query
    // constructor (the old `.head()` offset derivation in x1_embed_neardup)
    // makes every plan-inspection context — Explain, this spec, the bench
    // warm-up — silently pay a full scan.
    // Reading a parquet DIRECTORY without a declared schema fires a
    // 1-task schema-inference job (call site "parquet at …") — a constant
    // of such reads (persisted indexes, written corpora), not a
    // constructor action, so those are exempt. A testdata table is one
    // file whose schema Tables.load reads from the footer: a job from
    // Tables.scala counts against the query.
    // Pre-pay the once-per-JVM artifact builds (persistedIndexDir
    // writers: x29/x32/x33/x34/x35, the against/persisted-model lanes)
    // BEFORE the listener attaches: their first construction legit-
    // imately runs write jobs — under AQE through call-site-less
    // CompletableFuture threads — and whether it already happened
    // depends on which tests ran earlier in this JVM (a `testOnly -z`
    // of this test alone used to fail on whichever writer came first
    // alphabetically). What this test asserts is the STEADY-STATE
    // contract: re-constructing a registered query is job-free.
    SparkEntry.queries.toSeq.sortBy(_._1)
      .filterNot(q => exempt(q._1))
      .foreach { case (_, fn) => construct(fn) }
    val actionJobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val site = Option(js.properties.getProperty("callSite.short"))
          .filter(_.nonEmpty)
          .orElse(js.stageInfos.headOption.map(_.name))
          .getOrElse("<unknown>")
        if (!site.startsWith("parquet at") || site.contains("Tables.scala")) {
          actionJobs.add(site); ()
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      SparkEntry.queries.toSeq.sortBy(_._1)
        .filterNot(q => exempt(q._1))
        .foreach { case (name, fn) =>
          org.apache.spark.graftbridge.ListenerBridge.flush(spark.sparkContext)
          actionJobs.clear()
          construct(fn) // construct only — no action
          org.apache.spark.graftbridge.ListenerBridge.flush(spark.sparkContext)
          assert(actionJobs.isEmpty,
            s"$name ran Spark job(s) at plan-construction time: " +
              actionJobs.toArray.mkString(", "))
        }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("constructing a registered query runs zero Spark jobs") {
    assertConstructionJobFree(actsAtConstruction ++ eagerOnlyAtConstruction,
      lazyPins = false)
  }

  test("under Pin.lazily, only non-pin construction actions run Spark jobs") {
    assertConstructionJobFree(actsAtConstruction, lazyPins = true)
  }

  test("the base curation funnel's plan shape is pinned — optional gates are free when OFF") {
    // The r11 funnel-family bench flag (VERDICT r11 "What's wrong" #1)
    // could only be ARGUED free config-off; this makes it a CI property.
    // Config() has every optional stage off (no url/quality/ppl/gopher/
    // c4/calib/keeper/clean/nfc/xdoc/soft/fuzzy/history/selection), so
    // the plan below is the irreducible funnel: the flag pass, the
    // keeper census, the contamination shingle pass, and the one-row
    // audit aggregate. Any future optional gate that adds a scan, a
    // shuffle, a window, or a join while DISABLED fails here.
    //
    // Cache hygiene: earlier query constructions (x1_jaccard_pairs)
    // .cache() a shingle frame whose subtree structurally matches the
    // contamination pass here — Spark would substitute
    // InMemoryTableScan for the file scan and the pinned counts would
    // measure the SUITE's cache state, not the funnel's plan. Clearing
    // is correctness-neutral: the memoized registered queries pin via
    // RDD localCheckpoint, which the SQL cache manager does not track.
    spark.sharedState.cacheManager.clearCache()
    val docs = Tables.documents(spark, sfDir)
    val bench = docs.filter("doc_id < 3")
      .selectExpr("doc_id as bench_id", "text")
    val nodes = allNodes(graft.ext.Curation.funnel(docs, bench)
      .queryExecution.executedPlan)
    val scans = nodes.count {
      case _: BatchScanExec => true
      case _: org.apache.spark.sql.execution.FileSourceScanExec => true
      case _ => false
    }
    val shuffles = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
    val bcasts = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.BroadcastExchangeExec])
    val windows = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.window.WindowExec])
    val joins = nodes.map(_.nodeName).count(_.contains("Join"))
    assert(scans == 5, s"base funnel scans: $scans (pinned 5)")
    assert(shuffles == 6, s"base funnel shuffles: $shuffles (pinned 6)")
    assert(bcasts == 3, s"base funnel broadcasts: $bcasts (pinned 3)")
    assert(windows == 0, s"base funnel windows: $windows (pinned 0)")
    assert(joins == 4, s"base funnel joins: $joins (pinned 4)")
  }

  test("whitelist anti-membership pushes its predicate into the scan") {
    val d4 = SparkEntry.queries("d4_whitelist_violations")(spark, sfDir)
    val scanStr = scansOf(d4.queryExecution.executedPlan)
      .map(_.toString).mkString("\n")
    assert(scanStr.contains("n_name"),
      "expected the NOT-IN predicate pushed toward the nation scan")
  }
}
