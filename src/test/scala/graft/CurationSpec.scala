package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.ext.{Curation, Dedup, Packing, Pii, Sampling}

/** X10 curation pipeline: the one-pass annotated funnel must agree with
  * the stages run independently as actual filters. */
class CurationSpec extends SparkSpec {

  private val cfg = Curation.Config(
    minTokens = 25L, maxTokens = 90L, rates = Map("en" -> 0.4), seqLen = 512L)

  private def docs = Tables.documents(spark, sfDir)
  private def bench = docs.filter(col("doc_id") < 3)
    .select(col("doc_id").as("bench_id"), col("text"))

  test("keeperQuality: funnel canonicals equal standalone exactDedupKeepBest") {
    // Padded plant: re-keyed copies that normalize into their originals'
    // families but carry more raw chars (Queries.paddedDocs' shape).
    val corpus = docs.unionByName(docs.filter(col("doc_id") < 10)
      .withColumn("doc_id", col("doc_id") + 10000)
      .withColumn("text", concat(lit("  "), col("text"), lit("  ")))
      .withColumn("n_chars", length(col("text")).cast("long")))
    val kbCfg = cfg.copy(keeperQuality = Some(length(col("text"))))
    val ids = (df: org.apache.spark.sql.DataFrame) =>
      df.select("doc_id").collect().map(_.getLong(0)).toSet
    val funnelKeepers = ids(Curation.annotate(corpus, bench, kbCfg)
      .filter(col("is_canonical")))
    assert(funnelKeepers ==
      ids(Dedup.exactDedupKeepBest(corpus, length(col("text")))))
    // …and provably diverges from the default min-key keeper: every
    // planted family's canonical is the padded +10000 copy.
    val minKeyKeepers = ids(Curation.annotate(corpus, bench, cfg)
      .filter(col("is_canonical")))
    assert((funnelKeepers -- minKeyKeepers).count(_ >= 10000L) == 10)
  }

  test("funnel counts equal the independently-filtered stages") {
    val f = Curation.funnel(docs, bench, cfg).head()

    val dedup = Dedup.exactDedup(docs)
    assert(f.getAs[Long]("n_raw") == docs.count())
    assert(f.getAs[Long]("n_after_dedup") == dedup.count())

    val contaminatedIds = Dedup.contaminationPairs(docs, bench, n = 4,
      minContainment = 0.8).select("doc_id").distinct()
    val decon = dedup.join(contaminatedIds, Seq("doc_id"), "left_anti")
    assert(f.getAs[Long]("n_after_decontam") == decon.count())

    val nTok = size(split(trim(col("text")), "\\s+")).cast("long")
    val quality = Pii.redact(decon).withColumn("n_tok", nTok)
      .filter(col("n_tok").between(25, 90))
    assert(f.getAs[Long]("n_after_quality") == quality.count())

    val sampled = Sampling.stratifiedSample(quality, "doc_id", "lang",
      Map("en" -> 0.4))
    assert(f.getAs[Long]("n_after_sample") == sampled.count())
    assert(f.getAs[Long]("n_tokens") ==
      sampled.agg(sum("n_tok")).head().getLong(0))
    // Per-stage token accounting rides the same aggregate: each
    // tokens_after_* equals the independent stage's redacted-token sum.
    assert(f.getAs[Long]("tokens_raw") ==
      Pii.redact(docs).select(sum(nTok)).head().getLong(0))
    assert(f.getAs[Long]("tokens_after_dedup") ==
      Pii.redact(dedup).select(sum(nTok)).head().getLong(0))
    assert(f.getAs[Long]("tokens_after_decontam") ==
      Pii.redact(decon).select(sum(nTok)).head().getLong(0))
    assert(f.getAs[Long]("tokens_after_quality") ==
      quality.agg(sum("n_tok")).head().getLong(0))
  }

  test("ppl gate: is_quality equals token band AND NgramLm.scored's band (CCNet recipe)") {
    // The gate must agree with the standalone X15 scorer run on the SAME
    // (redacted) text — one definition, pinned here against drift.
    val model = graft.ext.NgramLm.train(docs.filter(col("doc_id") < 300))
    val pplCfg = cfg.copy(pplModel = Some(model), pplBands = Seq("head"))
    val ann = Curation.annotate(docs, bench, pplCfg)
      .select("doc_id", "n_tok", "is_quality", "lm_band")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getBoolean(2), r.getString(3))).toMap
    val standalone = graft.ext.NgramLm.scored(Pii.redact(docs), model)
      .select("doc_id", "lm_band")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ann.nonEmpty && ann.keySet == standalone.keySet)
    ann.foreach { case (id, (nTok, isQ, band)) =>
      assert(band == standalone(id), s"doc $id: funnel band $band != scorer ${standalone(id)}")
      assert(isQ == ((25L <= nTok && nTok <= 90L) && band == "head"), s"doc $id")
    }
    // The gate must actually exclude someone the token band admits
    // (otherwise this spec proves a no-op): a planted 30-token gibberish
    // doc backs off on every bigram → tail band → dropped at quality,
    // while in-band corpus docs (the model's own distribution) pass.
    val gib = (1 to 30).map(i => s"zzqx$i").mkString(" ")
    val planted = docs.withColumn("text",
      when(col("doc_id") === 49, lit(gib)).otherwise(col("text")))
    val pAnn = Curation.annotate(planted, bench, pplCfg)
      .select("doc_id", "n_tok", "is_quality", "lm_band")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getBoolean(2), r.getString(3))).toMap
    val (gTok, gQ, gBand) = pAnn(49L)
    assert(gTok == 30L && gBand == "tail" && !gQ,
      s"gibberish doc: n_tok=$gTok band=$gBand is_quality=$gQ")
    assert(pAnn.exists { case (id, (nTok, isQ, _)) =>
      id != 49L && 25L <= nTok && nTok <= 90L && isQ })
    // And the funnel's quality count equals the independent composition
    // (quality stage counts docs passing ALL prior stages too).
    val f = Curation.funnel(docs, bench, pplCfg).head()
    val full = Curation.annotate(docs, bench, pplCfg)
      .filter(col("is_canonical") && col("is_fuzzy_canonical") &&
        !col("is_contaminated") && col("is_quality")).count()
    assert(f.getAs[Long]("n_after_quality") == full)
  }

  test("ppl gate accepts an order-3 model (trigram scored dispatch, no call-site change)") {
    val m3 = graft.ext.NgramLm.train(docs.filter(col("doc_id") < 300),
      order = 3)
    val ann = Curation.annotate(docs, bench,
        cfg.copy(pplModel = Some(m3), pplBands = Seq("head")))
      .select("doc_id", "n_tok", "is_quality", "lm_band")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getBoolean(2), r.getString(3))).toMap
    val standalone = graft.ext.NgramLm.scored(Pii.redact(docs), m3)
      .select("doc_id", "lm_band")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ann.nonEmpty && ann.keySet == standalone.keySet)
    ann.foreach { case (id, (nTok, isQ, band)) =>
      assert(band == standalone(id),
        s"doc $id: funnel band $band != trigram scorer ${standalone(id)}")
      assert(isQ == ((25L <= nTok && nTok <= 90L) && band == "head"), s"doc $id")
    }
  }

  test("ppl gate accepts an order-5 model (generic scoredN dispatch)") {
    // The r11 arbitrary-order generalization through the funnel: same
    // contract as the order-3 test — the gate's band must equal the
    // standalone 5-gram scorer's on the redacted text, no call-site
    // change anywhere in Curation.
    val m5 = graft.ext.NgramLm.train(docs.filter(col("doc_id") < 300),
      order = 5)
    val ann = Curation.annotate(docs, bench,
        cfg.copy(pplModel = Some(m5), pplBands = Seq("head")))
      .select("doc_id", "is_quality", "lm_band")
      .collect().map(r => r.getLong(0) ->
        ((r.getBoolean(1), r.getString(2)))).toMap
    val standalone = graft.ext.NgramLm.scored(Pii.redact(docs), m5)
      .select("doc_id", "lm_band")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(ann.nonEmpty && ann.keySet == standalone.keySet)
    ann.foreach { case (id, (_, band)) =>
      assert(band == standalone(id),
        s"doc $id: funnel band $band != 5-gram scorer ${standalone(id)}")
    }
  }

  test("external selection replaces the hash sampler; membership is the flag") {
    // A hand-picked key set (every 3rd doc) stands in for any selector
    // (DSIR top-k, labels): is_sampled must equal membership exactly,
    // and the funnel's sample stage must equal the independent
    // composition of the prior stages with the membership filter.
    val sel = docs.filter(col("doc_id") % 3 === 0).select("doc_id")
    val ann = Curation.annotate(docs, bench, cfg, selection = Some(sel))
      .select("doc_id", "is_sampled")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    ann.foreach { case (id, s) => assert(s == (id % 3 == 0), s"doc $id") }
    val f = Curation.funnel(docs, bench, cfg, selection = Some(sel)).head()
    val expected = Curation.annotate(docs, bench, cfg, selection = Some(sel))
      .filter(col("is_canonical") && !col("is_contaminated") &&
        col("is_quality") && col("is_sampled")).count()
    assert(f.getAs[Long]("n_after_sample") == expected)
    // The registered DSIR funnel: its selection is exactly the X16 draw.
    val fd = Queries.x10DsirFunnel(spark, sfDir).head()
    val (_, scored) = graft.ext.Dsir.fitScored(
      docs.filter(col("doc_id") < 300), docs.filter(col("doc_id") >= 300))
    val top = graft.ext.Dsir.resampleFrom(scored, k = 100, seed = 42L)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val cfg2 = Curation.Config(minTokens = 25L, maxTokens = 90L, seqLen = 512L)
    val expDsir = Curation.annotate(docs, bench, cfg2)
      .filter(col("is_canonical") && !col("is_contaminated") &&
        col("is_quality"))
      .select("doc_id").collect().map(_.getLong(0)).count(top)
    assert(fd.getAs[Long]("n_after_sample") == expDsir.toLong)
    assert(fd.getAs[Long]("n_after_sample") <= 100L)
  }

  test("funnel n_sequences equals what packSequences actually produces on survivors") {
    val f = Curation.funnel(docs, bench, cfg).head()
    val survivors = Curation.curate(docs, bench, cfg)
    val packed = Packing.packSequences(survivors, seqLen = 512L, blockSize = 1000L)
    assert(f.getAs[Long]("n_sequences") ==
      packed.agg(countDistinct("seq_id")).head().getLong(0))
    assert(f.getAs[Long]("n_tokens") ==
      packed.agg(sum(col("end_tok") - col("begin_tok"))).head().getLong(0))
  }

  test("fuzzy stage: planted near-dups drop, counts match the resolver") {
    import graft.ext.DedupResolve
    val pairs = Dedup.jaccardPairs(docs, n = 4, minSim = 0.8)
    val f = Curation.funnel(docs, bench, cfg, fuzzyPairs = Some(pairs)).head()
    val f0 = Curation.funnel(docs, bench, cfg).head()
    // Without pairs the stage is a no-op…
    assert(f0.getAs[Long]("n_after_fuzzy") == f0.getAs[Long]("n_after_dedup"))
    // …with pairs it removes exactly the resolver's drop set that
    // survived exact dedup (planted near-dups are NOT exact dups, so the
    // funnel visibly shrinks).
    val exactKept = Dedup.exactDedup(docs).select("doc_id")
    val fuzzyDropped = DedupResolve.dropSet(pairs)
      .select(col("id").as("doc_id")).join(exactKept, "doc_id")
    assert(f.getAs[Long]("n_after_fuzzy") ==
      f.getAs[Long]("n_after_dedup") - fuzzyDropped.count())
    assert(f.getAs[Long]("n_after_fuzzy") < f.getAs[Long]("n_after_dedup"),
      "planted near-duplicates must visibly drop at the fuzzy stage")
    // The cheap LSH detector wired in produces the same funnel.
    val lsh = Dedup.minhashPairs(docs, n = 4, bands = 8, minSim = 0.7)
    val fLsh = Curation.funnel(docs, bench, cfg, fuzzyPairs = Some(lsh)).head()
    assert(fLsh.toSeq == f.toSeq)
  }

  test("history index makes the funnel the nightly-shard shape (X1h inside X10)") {
    val history = Dedup.fingerprints(docs.filter(col("doc_id") < 50))
    val f0 = Curation.funnel(docs, bench, cfg).head()
    val f = Curation.funnel(docs, bench, cfg, historyFp = Some(history)).head()
    // Without an index the stage is a no-op…
    assert(f0.getAs[Long]("n_after_history") == f0.getAs[Long]("n_after_dedup"))
    // …with one, dedup ∧ unseen is EXACTLY the batch incremental path.
    assert(f.getAs[Long]("n_after_history") ==
      Dedup.exactDedupAgainst(docs, history).count())
    assert(f.getAs[Long]("n_after_history") < f.getAs[Long]("n_after_dedup"),
      "the 50-doc history must visibly drop shard documents")
    // Downstream stages only see history survivors.
    assert(f.getAs[Long]("n_after_fuzzy") <= f.getAs[Long]("n_after_history"))
    // curate() agrees with the funnel's final count under the index.
    assert(Curation.curate(docs, bench, cfg, historyFp = Some(history)).count() ==
      f.getAs[Long]("n_after_sample"))
  }

  test("keeper × history in the funnel ≡ exactDedupKeepBestAgainst (X1h-best inside X10)") {
    // The keeper-policy analog of the nightly-shard shape: with BOTH
    // Config.keeperQuality and a history index, the funnel's
    // dedup ∧ unseen survivor count is exactly the standalone
    // keeper-incremental operator's — merit picks the intra-shard
    // canonical, history drops unconditionally.
    val history = Dedup.fingerprints(docs.filter(col("doc_id") < 50))
    val q = length(col("text"))
    val f = Curation.funnel(docs, bench,
      cfg.copy(keeperQuality = Some(q)), historyFp = Some(history)).head()
    assert(f.getAs[Long]("n_after_history") ==
      Dedup.exactDedupKeepBestAgainst(docs, history, q).count())
    assert(f.getAs[Long]("n_after_history") < f.getAs[Long]("n_after_dedup"),
      "the 50-doc history must visibly drop shard documents")
  }

  test("history × fuzzy: near-dups of history-known canonicals drop transitively") {
    import graft.ext.DedupResolve
    // The planted near-dup clusters in the corpus: take one cluster,
    // put its CANONICAL member's text in history, and check the
    // cluster's other members still drop at the fuzzy stage (the
    // documented stricter-than-sequential semantics).
    val pairs = Dedup.jaccardPairs(docs, n = 4, minSim = 0.8)
    val drops = DedupResolve.dropSet(pairs).collect().map(_.getLong(0)).toSet
    assert(drops.nonEmpty, "fixture needs near-dup clusters")
    val anchors = DedupResolve.connectedComponents(pairs)
    val anchorIds = anchors.filter(col("id") === col("component"))
      .select("id").collect().map(_.getLong(0)).toSet
    val history = Dedup.fingerprints(
      docs.filter(col("doc_id").isin(anchorIds.toSeq: _*)))
    val f = Curation.funnel(docs, bench, cfg,
      fuzzyPairs = Some(pairs), historyFp = Some(history)).head()
    // Anchors drop at the history stage; their near-dup satellites
    // STILL drop at the fuzzy stage — the whole cluster vanishes.
    val ann = Curation.annotate(docs, bench, cfg,
      fuzzyPairs = Some(pairs), historyFp = Some(history))
    val fuzzySurvivingSatellites = ann
      .filter(col("doc_id").isin(drops.toSeq: _*) &&
        col("is_canonical") && col("is_unseen") && col("is_fuzzy_canonical"))
      .count()
    assert(fuzzySurvivingSatellites == 0L,
      "satellites of history-known anchors must not re-admit")
    assert(f.getAs[Long]("n_after_fuzzy") < f.getAs[Long]("n_after_history"))
  }

  test("null-text documents stay in the audit (null-safe dedup key)") {
    import org.apache.spark.sql.Row
    val withNull = df(Seq(
      Row(1L, "en", "some real words here"),
      Row(2L, "en", null),
      Row(3L, "en", null)),
      "doc_id BIGINT, lang STRING, text STRING")
    val noBench = df(Seq(Row(99L, "zz nothing matches zz")),
      "bench_id BIGINT, text STRING")
    val ann = Curation.annotate(withNull, noBench,
      Curation.Config(minTokens = 1L))
    // All three docs are audited; the two null-text docs dedup together
    // (one canonical) and fail the quality band via n_tok = 0.
    assert(ann.count() == 3)
    val rows = ann.collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Boolean]("is_canonical"), r.getAs[Long]("n_tok")))).toMap
    assert(rows(2L) == ((true, 0L)))  // lowest null-text id is canonical
    assert(rows(3L) == ((false, 0L)))
    assert(rows(1L)._1)
  }

  test("renamed corpus columns work through the Config (no pre-renaming needed)") {
    val renamed = docs.withColumnRenamed("text", "content")
      .withColumnRenamed("doc_id", "id").withColumnRenamed("lang", "language")
    val renamedCfg = cfg.copy(textCol = "content", keyCol = "id",
      strataCol = "language")
    val f0 = Curation.funnel(docs, bench, cfg).head()
    val f1 = Curation.funnel(renamed,
      bench.withColumnRenamed("text", "content"), renamedCfg).head()
    assert(f0.toSeq == f1.toSeq)
  }

  test("funnel consumes a FILE-loaded scorer config identically to code-constructed") {
    import graft.ext.QualityScore
    val dir = java.nio.file.Paths.get(Files.tmp("graft-curation-cfg"))
    val path = dir.resolve("scorer.yaml")
    java.nio.file.Files.writeString(path,
      """weights:
        |  stop: 2000
        |  alpha: 1000
        |  punct: -1000
        |  mean_tok_len: 100
        |thresholds:
        |  hi: 1450
        |  lo: 1300""".stripMargin)
    val sc = QualityScore.loadConfig(path.toString)
    val viaFile = Curation.funnel(docs, bench, cfg.copy(
      qualityWeights = Some(sc.weights),
      qualityHi = sc.hi, qualityLo = sc.lo, qualityMinBand = "high")).head()
    val viaCode = Curation.funnel(docs, bench, cfg.copy(
      qualityWeights = Some(QualityScore.Weights()),
      qualityHi = 1450L, qualityLo = 1300L, qualityMinBand = "high")).head()
    assert(viaFile.toSeq == viaCode.toSeq)
    // The gate actually bit (the file wasn't silently ignored).
    val ungated = Curation.funnel(docs, bench, cfg).head()
    assert(viaFile.getAs[Long]("n_after_quality") <
      ungated.getAs[Long]("n_after_quality"))
  }

  test("per-source funnel rows sum to the global funnel (same flags, finer counting)") {
    val global = Curation.funnel(docs, bench, cfg).head()
    val bySource = Curation.funnel(docs, bench, cfg, groupBy = Some("source"))
      .collect()
    assert(bySource.length > 1, "fixture corpus should span several sources")
    val numeric = global.schema.fieldNames.filter(_ != "n_sequences")
    numeric.foreach { c =>
      assert(bySource.map(_.getAs[Long](c)).sum == global.getAs[Long](c),
        s"per-source $c must sum to the global row")
    }
    // n_sequences does NOT sum (per-group ceil ≥ global ceil) — pin the
    // direction so nobody "fixes" it into an identity.
    assert(bySource.map(_.getAs[Long]("n_sequences")).sum >=
      global.getAs[Long]("n_sequences"))
  }

  test("curate drops the benchmark docs themselves and each stage only removes") {
    val f = Curation.funnel(docs, bench, cfg).head()
    val surv = Curation.curate(docs, bench, cfg)
    assert(surv.filter(col("doc_id") < 3).count() == 0) // decontaminated away
    val stages = Seq("n_raw", "n_after_dedup", "n_after_history",
      "n_after_fuzzy", "n_after_decontam", "n_after_quality",
      "n_after_sample").map(f.getAs[Long])
    assert(stages == stages.sorted.reverse, s"funnel not monotone: $stages")
    assert(stages.last == surv.count())
    assert(stages.last > 0, "fixture config filtered everything out")
    val tokStages = Seq("tokens_raw", "tokens_after_dedup",
      "tokens_after_history", "tokens_after_fuzzy", "tokens_after_decontam",
      "tokens_after_quality", "n_tokens").map(f.getAs[Long])
    assert(tokStages == tokStages.sorted.reverse,
      s"token funnel not monotone: $tokStages")
  }

  test("recipe file drives the funnel: inline parity, loud rejections, rich fields") {
    import graft.ext.CurationRecipe
    // The checked-in recipe is exactly the base config, and the funnel
    // it drives is row-identical to the inline one. A file path and the
    // classpath fallback must agree on the same bytes (the registered
    // query loads the classpath copy — cwd-independent).
    val fromFile = Curation.funnel(docs, bench,
      CurationRecipe.load(
        "src/main/resources/recipes/base_curation.json")).collect().head
    val inline = Curation.funnel(docs, bench, cfg).collect().head
    assert(fromFile.toSeq == inline.toSeq)
    assert(CurationRecipe.load("recipes/base_curation.json") ==
      CurationRecipe.load("src/main/resources/recipes/base_curation.json"))
    // A typo must not silently run the default recipe.
    intercept[IllegalArgumentException](
      CurationRecipe.parse("""{"min_token": 3}"""))
    // Config's own guards fire on loaded values.
    intercept[IllegalArgumentException](
      CurationRecipe.parse("""{"quality_min_band": "max"}"""))
    intercept[IllegalArgumentException](
      CurationRecipe.parse("""{"gopher_preset": "xx"}"""))
    intercept[IllegalArgumentException](
      CurationRecipe.parse("""{"keeper_quality": "random()"}"""))
    intercept[IllegalArgumentException](
      CurationRecipe.parse("""{"min_tokens": 2.5}"""))
    // YAML + the richer fields land where they should.
    val y = CurationRecipe.parse(
      "min_tokens: 3\nxdoc_min_df: 3\nc4_gate: true\n" +
        "keeper_quality: text_length\ngopher_preset: en\n" +
        "c4_block_phrases: [spam]\n", yaml = true)
    assert(y.minTokens == 3L && y.xdocMinDf.contains(3L) && y.c4Gate &&
      y.keeperQuality.isDefined && y.gopherPreset.isDefined &&
      y.c4BlockPhrases == Seq("spam"))
  }

  test("c4Gate composes: funnel flag equals the standalone bundle, gate conjoins") {
    import graft.ext.C4
    val planted = docs.withColumn("text",
      concat(coalesce(col("text"), lit("")),
        when(pmod(col("doc_id"), lit(2L)) === 0L,
          lit("\nsentence one is right here now.\nsentence two is right here now." +
            "\nsentence three is right here now."))
          .otherwise(lit("\nonly one good sentence lives here."))))
    val ann = Curation.annotate(planted, bench,
      Curation.Config(c4Gate = true)).cache()
    try {
      // The annotated frame's text is the redacted text — the flag must
      // equal the standalone bundle's verdict recomputed on exactly it.
      val re = C4.c4Flags(ann.select(col("doc_id").as("rid"), col("text")))
        .select(col("rid"), col("c4_pass").as("re_pass"))
      assert(ann.join(re, col("doc_id") === col("rid"))
        .filter(col("c4_pass") =!= col("re_pass")).count() == 0L)
      // Both verdicts occur (even docs pass the 3-sentence floor, odd
      // docs fail it) and the gate actually conjoins into is_quality.
      assert(ann.filter(col("c4_pass")).count() > 0L)
      assert(ann.filter(!col("c4_pass")).count() > 0L)
      assert(ann.filter(col("is_quality") && !col("c4_pass")).count() == 0L)
      // Hygiene: only the flag stays, no rewrite/counter columns.
      assert(ann.columns.count(_.startsWith("c4_")) == 1)
    } finally ann.unpersist()
  }

  test("xdocMinDf composes: parity with a pre-stripped corpus, strip observable") {
    // The house composition contract: funnel(xdocMinDf) must equal the
    // funnel run on a corpus already rewritten by the standalone
    // dedupLinesAcross — and the strip must be OBSERVABLE vs the
    // unstripped funnel (the planted universal footer's tokens vanish
    // from tokens_raw).
    import graft.ext.TextClean
    val planted = docs.withColumn("text",
      concat(coalesce(col("text"), lit("")), lit("\nuniversal footer line")))
    val composed = Curation.funnel(planted, bench,
      cfg.copy(xdocMinDf = Some(3L))).collect().head
    val stripped = TextClean.dedupLinesAcross(planted, 3L)
      .withColumn("text", col("text_xdedup"))
      .drop("text_xdedup", "n_boiler_dropped", "had_boilerplate")
    val standalone = Curation.funnel(stripped, bench, cfg).collect().head
    assert(composed.toSeq == standalone.toSeq,
      "composed funnel must equal the funnel over the standalone rewrite")
    val unstripped = Curation.funnel(planted, bench, cfg).collect().head
    assert(composed.getAs[Long]("tokens_raw") <
      unstripped.getAs[Long]("tokens_raw"),
      "the stripped footer must be visible in the raw token mass")
    // The annotate frame keeps the boilerplate audit columns.
    val ann = Curation.annotate(planted, bench, cfg.copy(xdocMinDf = Some(3L)))
    assert(ann.columns.contains("n_boiler_dropped") &&
      ann.columns.contains("had_boilerplate"))
    assert(ann.filter(!col("had_boilerplate")).count() == 0L,
      "every doc carried the planted universal footer")
  }

  test("nfcFirst composes: parity with a pre-normalized corpus, decomposed " +
       "twins drop at the dedup stage") {
    // The xdocMinDf composition contract applied to X19d: funnel
    // (nfcFirst) must equal the funnel over a corpus already rewritten
    // by the standalone UnicodeNormalize — and the normalization must
    // be OBSERVABLE: a planted NFD twin of a composed doc deduplicates
    // with nfcFirst (one canonical per family) where the raw funnel
    // counts both as canonical (different bytes, so no family).
    import graft.functions.TextFunctions.unicodeNormalize
    val twins = docs.select("doc_id", "lang", "text")
      .filter(col("doc_id") < 10)
      .withColumn("text",
        concat(coalesce(col("text"), lit("")), lit(" é café")))
    val planted = docs.select("doc_id", "lang", "text")
      .unionByName(twins.withColumn("doc_id", col("doc_id") + 1000000L))
      .unionByName(twins.withColumn("doc_id", col("doc_id") + 2000000L)
        .withColumn("text", unicodeNormalize(col("text"), "NFD")))
    val composed = Curation.funnel(planted, bench,
      cfg.copy(nfcFirst = true)).collect().head
    val standalone = Curation.funnel(
      planted.withColumn("text", unicodeNormalize(col("text"), "NFC")),
      bench, cfg).collect().head
    assert(composed.toSeq == standalone.toSeq,
      "composed funnel must equal the funnel over the standalone rewrite")
    val raw0 = Curation.funnel(planted, bench, cfg).collect().head
    val nTwins = twins.count()
    assert(composed.getAs[Long]("n_after_dedup") ==
      raw0.getAs[Long]("n_after_dedup") - nTwins,
      s"each of the $nTwins decomposed twins must lose min-key to its " +
        "composed sibling only under nfcFirst")
    // Standalone proof the raw funnel misses every family: the NFD
    // copies are byte-distinct, so without normalization each is its
    // own canonical.
    val ann = Curation.annotate(planted, bench, cfg)
    assert(ann.filter(col("doc_id") >= 2000000L && !col("is_canonical"))
      .count() == 0L, "raw funnel should treat NFD twins as unique")
  }

  test("fixEncodingFirst composes: parity with a pre-repaired corpus, " +
       "mojibake twins drop at the dedup stage") {
    // The nfcFirst contract applied to X19e: funnel (fixEncodingFirst)
    // must equal the funnel over a corpus already rewritten by the
    // standalone FixMojibake — and the repair must be OBSERVABLE: a
    // damaged twin deduplicates with its clean sibling only when the
    // repair runs.
    import graft.functions.TextFunctions.fixMojibake
    val base = docs.select("doc_id", "lang", "text")
      .filter(col("doc_id") < 10)
    val clean = base.withColumn("text",
      concat(coalesce(col("text"), lit("")), lit(" caf\u00e9")))
    val damaged = base.withColumn("text",
      concat(coalesce(col("text"), lit("")), lit(" caf\u00c3\u00a9")))
    val planted = docs.select("doc_id", "lang", "text")
      .unionByName(clean.withColumn("doc_id", col("doc_id") + 1000000L))
      .unionByName(damaged.withColumn("doc_id", col("doc_id") + 2000000L))
    val composed = Curation.funnel(planted, bench,
      cfg.copy(fixEncodingFirst = true)).collect().head
    val standalone = Curation.funnel(
      planted.withColumn("text", fixMojibake(col("text"))),
      bench, cfg).collect().head
    assert(composed.toSeq == standalone.toSeq,
      "composed funnel must equal the funnel over the standalone repair")
    val raw0 = Curation.funnel(planted, bench, cfg).collect().head
    assert(composed.getAs[Long]("n_after_dedup") ==
      raw0.getAs[Long]("n_after_dedup") - 10L,
      "each damaged twin must lose min-key to its clean sibling only " +
        "under fixEncodingFirst")
  }

  test("blocklist gate composes: quality drops exactly the hit docs; " +
       "blocklist_hits stays for the audit") {
    val planted = docs.select("doc_id", "lang", "text")
      .withColumn("text",
        when(pmod(col("doc_id"), lit(9L)) === 2L,
          concat(coalesce(col("text"), lit("")),
            lit(" utterly FORBIDDEN content")))
          .otherwise(col("text")))
    val words = Seq("forbidden", "viagra")
    val gated = Curation.annotate(planted, bench,
      cfg.copy(blocklist = words))
    // The gate's verdict equals the ungated quality AND zero hits,
    // row for row (the standalone expression is the ground truth).
    val ungated = Curation.annotate(planted, bench, cfg)
      .select(col("doc_id"), col("is_quality").as("q0"))
    val joined = gated
      .select(col("doc_id"), col("is_quality"), col("blocklist_hits"),
        col("text").isNull.as("t_null"))
      .join(ungated, "doc_id")
    assert(joined.filter(col("is_quality") =!=
        (col("q0") && coalesce(col("blocklist_hits") === 0L, lit(false))))
      .count() == 0L)
    // Null propagation: the audit column is null exactly for null text.
    assert(joined.filter(col("blocklist_hits").isNull =!= col("t_null"))
      .count() == 0L)
    // The plant bites: every planted doc has hits >= 1 (case folded).
    assert(gated.filter(pmod(col("doc_id"), lit(9L)) === 2L &&
        col("blocklist_hits") < 1L).count() == 0L)
    assert(gated.filter(col("blocklist_hits") > 0L).count() > 0L)
  }

  test("redactCards gate composes: cards scrub before counting, invalid " +
       "candidates keep their tokens, audit columns ride the frame") {
    val planted = docs.select("doc_id", "lang", "text").withColumn("text",
      when(col("doc_id") % 17 === 0,
        concat(col("text"),
          lit(" pay 4111111111111111 or 4539 5787 6362 1486 now")))
        .when(col("doc_id") % 19 === 0,
          concat(col("text"),
            lit(" order 4111111111111112 ref 1234567890123 end")))
        .otherwise(col("text")))
    val ann = Curation.annotate(planted, bench,
      cfg.copy(redactCards = true))
    assert(ann.columns.contains("n_card_valid") &&
      ann.columns.contains("n_card_candidates"))
    // Valid plants scrubbed, counted; invalid candidates survive.
    assert(ann.filter(col("doc_id") % 17 === 0 && col("text").isNotNull &&
      !col("text").contains("<CARD>")).count() == 0L)
    assert(ann.filter(col("doc_id") % 17 =!= 0 &&
      col("n_card_valid") > 0).count() == 0L)
    assert(ann.filter(col("doc_id") % 19 === 0 && col("doc_id") % 17 =!= 0 &&
      col("text").isNotNull &&
      !col("text").contains("4111111111111112")).count() == 0L,
      "Luhn-invalid candidates must survive the funnel byte-for-byte")
    // The scrub is observable in the token mass: a %17 doc's n_tok is
    // 3 lower than the unscrubbed funnel's (the 8 planted tokens
    // "pay 4111… or 4539 5787 6362 1486 now" collapse to
    // "pay <CARD> or <CARD> now" = 5).
    val un = Curation.annotate(planted, bench, cfg)
      .select(col("doc_id"), col("n_tok").as("n0"))
    val both = ann.select("doc_id", "n_tok").join(un, "doc_id")
    assert(both.filter(col("doc_id") % 17 === 0 &&
      col("n_tok") =!= col("n0") - 3).count() == 0L)
    assert(both.filter(col("doc_id") % 17 =!= 0 &&
      col("n_tok") =!= col("n0")).count() == 0L)
  }

  test("cleanFirst: markup-wrapped duplicates dedup; bench quotes still flag") {
    // One plain doc, one markup-wrapped twin (same text once cleaned),
    // one doc quoting the benchmark inside markup, one unrelated doc
    // with enough distinct tokens not to contain the benchmark.
    val body = (1 to 30).map(i => s"w$i").mkString(" ")
    val quote = (1 to 30).map(i => s"q$i").mkString(" ")
    val other = (1 to 30).map(i => s"z$i").mkString(" ")
    val d = df(Seq(
      Row(1L, "en", body),
      Row(2L, "en", s"<div><p>$body</p></div><script>x()</script>"),
      Row(3L, "en", s"<b>$quote</b>"),
      Row(4L, "en", other)),
      "doc_id BIGINT, lang STRING, text STRING")
    val bench = df(Seq(Row(100L, quote)), "bench_id BIGINT, text STRING")
    val cfg = Curation.Config(minTokens = 1L, cleanFirst = true)
    val ann = Curation.annotate(d, bench, cfg).collect()
      .map(r => r.getLong(0) -> r).toMap
    // The wrapped twin deduped against its plain original (min id wins).
    assert(ann(1L).getAs[Boolean]("is_canonical"))
    assert(!ann(2L).getAs[Boolean]("is_canonical"))
    // The markup-wrapped benchmark quote still flags after cleaning.
    assert(ann(3L).getAs[Boolean]("is_contaminated"))
    assert(!ann(4L).getAs[Boolean]("is_contaminated"))
    // Without cleanFirst the twin is NOT a duplicate (markup differs).
    val raw = Curation.annotate(d, bench, cfg.copy(cleanFirst = false))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(raw(2L).getAs[Boolean]("is_canonical"))
  }

  test("gopher gate: is_quality equals token band AND the standalone pass flag") {
    val preset = graft.ext.TextAnalysis.GopherPreset(
      Seq("a", "the", "and", "of"))
    val gCfg = Curation.Config(rates = Map("en" -> 0.4),
      gopherPreset = Some(preset))
    val ann = Curation.annotate(docs, bench, gCfg)
      .select("doc_id", "n_tok", "is_quality", "gopher_pass", "n_chars")
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getBoolean(2), r.getBoolean(3), r.getLong(4))).toMap
    // Parity with the standalone operator on the SAME (redacted) text.
    val standalone = graft.ext.TextAnalysis
      .gopherFlags(Pii.redact(docs), "text", preset)
      .select("doc_id", "pass")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(ann.nonEmpty && ann.keySet == standalone.keySet)
    ann.foreach { case (id, (nTok, isQ, gp, _)) =>
      assert(gp == standalone(id), s"doc $id: funnel $gp != standalone")
      assert(isQ == (nTok >= 1L && gp), s"doc $id")
    }
    // The gate excludes someone and admits someone (not a no-op).
    assert(ann.values.exists(!_._3) && ann.values.exists(_._3))
    // Column hygiene: the corpus n_chars column (which the gopher
    // metric pass would overwrite) survives with its ORIGINAL values,
    // and none of the ~40 metric columns leak through.
    val orig = docs.select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    ann.foreach { case (id, (_, _, _, nChars)) =>
      assert(nChars == orig(id), s"doc $id: corpus n_chars corrupted")
    }
    val leaked = Curation.annotate(docs, bench, gCfg).columns
      .filter(graft.ext.TextAnalysis.gopherAddedColumns.contains)
      .filterNot(_ == "n_chars") // the restored corpus column
    assert(leaked.isEmpty, s"gopher metric columns leaked: ${leaked.toSeq}")
  }

  test("by-lang gopher gate dispatches the shipped presets per document") {
    val gCfg = Curation.Config(rates = Map("en" -> 0.4),
      gopherPresets = Some(graft.ext.TextAnalysis.gopherPresets))
    val ann = Curation.annotate(docs, bench, gCfg)
      .select("doc_id", "gopher_pass")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val standalone = graft.ext.TextAnalysis
      .gopherFlagsByLang(Pii.redact(docs))
      .select("doc_id", "pass")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(ann.nonEmpty && ann == standalone)
    // The dispatch must DIFFER from the English-only gate somewhere
    // (otherwise the by-lang lane proves nothing on this corpus): a
    // non-en document whose verdict flips under its own preset.
    val english = Curation.annotate(docs, bench, Curation.Config(
        rates = Map("en" -> 0.4),
        gopherPreset = Some(graft.ext.TextAnalysis.GopherPreset(
          Seq("a", "the", "and", "of")))))
      .select("doc_id", "gopher_pass")
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(ann.exists { case (id, p) => english(id) != p },
      "by-lang dispatch never diverged from the English-only gate")
    // The two gate forms are mutually exclusive.
    intercept[IllegalArgumentException] {
      Curation.Config(
        gopherPreset = Some(graft.ext.TextAnalysis.GopherPreset(Seq("a"))),
        gopherPresets = Some(graft.ext.TextAnalysis.gopherPresets))
    }
  }

  test("dedupLinesFirst composes the standalone line strip before cleaning") {
    // Boiler footer repeated three times; line dedup keeps one copy
    // BEFORE cleaning collapses newlines, so the annotated n_tok sees
    // exactly one extra 'boiler' token — the manual standalone
    // composition (dedupLines then cleanText) must agree bit-for-bit
    // with the funnel's rewrite.
    val body = (1 to 30).map(i => s"w$i").mkString(" ")
    val d = df(Seq(
      Row(1L, "en", s"<p>$body</p>\nboiler\nboiler\nboiler"),
      Row(2L, "en", s"$body\nboiler\nboiler\nboiler"),
      Row(3L, "en", null)),
      "doc_id BIGINT, lang STRING, text STRING")
    val bench = df(Seq.empty[Row], "bench_id BIGINT, text STRING")
    val cfg = Curation.Config(minTokens = 1L,
      cleanFirst = true, dedupLinesFirst = true)
    val ann = Curation.annotate(d, bench, cfg)
      .select("doc_id", "text", "n_tok", "is_canonical").collect()
      .map(r => r.getLong(0) -> r).toMap
    // Manual composition over the same rows (line dedup FIRST).
    val manual = d
      .withColumn("text", graft.ext.TextClean.cleanText(
        graft.ext.TextClean.dedupLines(col("text"))))
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    (1L to 2L).foreach { id =>
      assert(ann(id).getString(1) == manual(id),
        s"funnel rewrite of doc $id diverges from the standalone composition")
      assert(ann(id).getLong(2) == 31L) // body + ONE surviving boiler
    }
    // The two docs normalize to the SAME text after both rewrites, so
    // they form one dedup family (min id 1 wins); null text stays in
    // the audit.
    assert(ann(1L).getAs[Boolean]("is_canonical"))
    assert(!ann(2L).getAs[Boolean]("is_canonical"))
    assert(ann.contains(3L))
  }

  test("write: partitioned layout round-trips row-for-row in training order") {
    val curated = Curation.curate(docs, bench,
      Curation.Config(minTokens = 25L, maxTokens = 90L,
        rates = Map("en" -> 0.4), seqLen = 512L))
    val dir = java.nio.file.Files.createTempDirectory("curated_out").toString
    Curation.write(curated, dir)
    val back = spark.read.parquet(dir)
    // Row-level parity: every surviving row came back byte-identical
    // (text md5 + n_tok + key), and split/shuffle_key replay the
    // documented derivations.
    val expect = curated
      .withColumn("split", Sampling.assignSplit(col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
      .withColumn("shuffle_key",
        Sampling.orderKey(col("doc_id"), 42L ^ Sampling.OrderSalt))
      .select(col("doc_id"), md5(col("text")).as("h"), col("n_tok"),
        col("split"), col("shuffle_key"))
      .collect().map(r => r.getLong(0) -> r).toMap
    val got = back
      .select(col("doc_id"), md5(col("text")).as("h"), col("n_tok"),
        col("split"), col("shuffle_key"))
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(got.keySet == expect.keySet)
    got.foreach { case (id, r) =>
      assert(r.toSeq == expect(id).toSeq, s"doc $id drifted in the round trip")
    }
    // Deterministic layout: ONE file per (split, source) directory,
    // rows inside each file sorted by (shuffle_key, doc_id).
    val files = new java.io.File(dir).listFiles.filter(_.isDirectory)
      .flatMap(s => s.listFiles.filter(_.isDirectory))
      .map(p => p -> p.listFiles.filter(_.getName.endsWith(".parquet")))
    assert(files.nonEmpty)
    files.foreach { case (p, fs) =>
      assert(fs.length == 1, s"$p holds ${fs.length} files, expected 1")
      val rows = spark.read.parquet(fs.head.toString)
        .select("shuffle_key", "doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(rows.sortBy(identity).sameElements(rows),
        s"rows in $p are not in training order")
    }
  }

  test("write: a split-filtered read PRUNES to that split's files — " +
       "partition pruning reaches the scan") {
    // The reason the layout partitions by (split, source) at all: a
    // reader asking for one split must touch only that directory's
    // files — on a 100 TB corpus, reading `val` (10%) must not scan
    // `train` (80%). Pin it at the plan level: the scan's partition
    // filters carry the predicate and the selected file count is the
    // split's, not the corpus's.
    val curated = Curation.curate(docs, bench,
      Curation.Config(minTokens = 25L, maxTokens = 90L,
        rates = Map("en" -> 0.4), seqLen = 512L))
    val dir = java.nio.file.Files.createTempDirectory("curated_prune").toString
    Curation.write(curated, dir, numShards = 2)
    val all = spark.read.parquet(dir)
    val pruned = all.filter(col("split") === "val")
    val scan = pruned.queryExecution.executedPlan.collectLeaves().collectFirst {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scan.isDefined, "expected the V2 file scan at the leaves")
    val fscan = scan.get.scan
      .asInstanceOf[org.apache.spark.sql.execution.datasources.v2.FileScan]
    assert(fscan.partitionFilters.nonEmpty,
      "the split predicate must become a PARTITION filter")
    val valFiles = fscan.fileIndex
      .listFiles(fscan.partitionFilters, fscan.dataFilters)
      .map(_.files.length).sum
    val allFiles = fscan.fileIndex.listFiles(Nil, Nil)
      .map(_.files.length).sum
    assert(valFiles < allFiles && valFiles > 0,
      s"pruned read touches $valFiles of $allFiles files — no pruning")
    // And the pruned read's rows are exactly the split's (counted
    // DRIVER-side from the full read, so this path cannot itself prune).
    assert(pruned.count() ==
      all.collect().count(_.getAs[String]("split") == "val"))
  }

  test("writePacked: per-split sequences round-trip and never mix splits") {
    import graft.ext.{Packing, Sampling}
    val curated = Curation.curate(docs, bench,
      Curation.Config(minTokens = 25L, maxTokens = 90L,
        rates = Map("en" -> 0.4), seqLen = 512L))
    val dir = java.nio.file.Files.createTempDirectory("packed_out").toString
    Curation.writePacked(curated, dir, seqLen = 512L, blockSize = 100L)
    val back = spark.read.parquet(dir)
      .select("split", "seq_id", "seq_tok", "seq_text").collect()
      .map(r => (r.getString(0), r.getLong(1)) -> (r.getLong(2), r.getString(3)))
      .toMap
    assert(back.nonEmpty)
    // Each split's shards equal materializeSequences run on that
    // split's documents alone — split BEFORE pack, bit-for-bit.
    val withSplit = curated.withColumn("split",
      Sampling.assignSplit(col("doc_id"),
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)))
    val expect = Seq("train", "val", "test").flatMap { nm =>
      Packing.materializeSequences(
          withSplit.filter(col("split") === nm), seqLen = 512L,
          blockSize = 100L)
        .collect().map(r => (nm, r.getLong(0)) -> (r.getLong(1), r.getString(2)))
    }.toMap
    assert(back == expect)
    // Every split got at least one sequence, and every non-final one
    // per split is exactly full (the per-split global stream packs
    // independently).
    Seq("train", "val", "test").foreach { nm =>
      val seqs = back.collect { case ((s, id), (n, _)) if s == nm => id -> n }
        .toSeq.sortBy(_._1)
      assert(seqs.nonEmpty, s"split $nm wrote no sequences")
      seqs.dropRight(1).foreach { case (id, n) =>
        assert(n == 512L, s"split $nm seq $id holds $n tokens")
      }
    }
  }

  test("write: a single hot source still fans out across all shards") {
    // The exact 100 TB scenario the r11 sharding fixes: one source is
    // ~all of the corpus. The shard band is derived from shuffle_key,
    // not the source, so the hot (split, source) group must occupy
    // every shard with no shard holding a dominating share.
    val curated = Curation.curate(docs, bench,
        Curation.Config(minTokens = 25L, maxTokens = 90L,
          rates = Map("en" -> 0.4), seqLen = 512L))
      .withColumn("source", lit("hot"))
    val dir = java.nio.file.Files.createTempDirectory("cur_skew").toString
    Curation.write(curated, dir, numShards = 4)
    val back = spark.read.parquet(dir)
      .groupBy("split", "shard").count().collect()
      .map(r => (r.getString(0), r.getInt(1)) -> r.getLong(2)).toMap
    val train = back.collect { case ((s, sh), n) if s == "train" => sh -> n }
    assert(train.map(_._1).toSet == Set(0, 1, 2, 3),
      s"train split must occupy all 4 shards, got ${train.map(_._1).toSet}")
    val total = train.map(_._2).sum.toDouble
    train.foreach { case (sh, n) =>
      assert(n / total < 0.6,
        s"shard $sh holds ${n / total} of train — banding failed to spread")
    }
  }

  test("writePacked survives an empty split (zero-width band)") {
    // A production split set can leave a split empty (a 0.1% holdout
    // at a small source); the per-split pack must tolerate packing
    // ZERO documents — no job failure, no dir for the empty split,
    // and the non-empty split's sequences identical to packing the
    // whole corpus.
    import graft.ext.Packing
    val curated = Curation.curate(docs, bench,
      Curation.Config(minTokens = 25L, maxTokens = 90L,
        rates = Map("en" -> 0.4), seqLen = 512L))
    val dir = java.nio.file.Files.createTempDirectory("pak_empty").toString
    Curation.writePacked(curated, dir,
      splits = Seq("all" -> 1.0, "never" -> 0.0),
      seqLen = 512L, blockSize = 100L, numShards = 2)
    val back = spark.read.parquet(dir)
    assert(back.filter(col("split") === "never").count() == 0)
    val got = back.select("seq_id", "seq_tok", "seq_text").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    val expect = Packing.materializeSequences(curated, seqLen = 512L,
        blockSize = 100L).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    assert(got == expect)
  }

  test("write: content and order are invariant across numShards ∈ {1, 4}") {
    val curated = Curation.curate(docs, bench,
      Curation.Config(minTokens = 25L, maxTokens = 90L,
        rates = Map("en" -> 0.4), seqLen = 512L))
    val dir1 = java.nio.file.Files.createTempDirectory("cur_s1").toString
    val dir4 = java.nio.file.Files.createTempDirectory("cur_s4").toString
    Curation.write(curated, dir1)
    Curation.write(curated, dir4, numShards = 4)
    def census(dir: String) = spark.read.parquet(dir)
      .select(col("doc_id"), md5(col("text")).as("h"), col("n_tok"),
        col("split"), col("source"), col("shuffle_key"))
      .collect().map(_.toSeq).toSet
    // Identical rows modulo the shard column — sharding never gains,
    // loses, or mutates a row.
    assert(census(dir1) == census(dir4))
    // Sharded layout: every leaf dir is shard=k under (split, source),
    // one file each, and the shard value replays shardOf(shuffle_key).
    val leaves = new java.io.File(dir4).listFiles.filter(_.isDirectory)
      .flatMap(_.listFiles.filter(_.isDirectory))
      .flatMap(_.listFiles.filter(_.isDirectory))
    assert(leaves.nonEmpty)
    assert(leaves.forall(_.getName.startsWith("shard=")))
    leaves.foreach { p =>
      assert(p.listFiles.count(_.getName.endsWith(".parquet")) == 1,
        s"$p is not a single-file shard")
    }
    val back4 = spark.read.parquet(dir4)
    assert(back4.filter(col("shard") =!=
      Curation.shardOf(col("shuffle_key"), 4)).count() == 0,
      "shard dirs must replay the deterministic pmod shard")
    // Merge-read order contract: every shard file is internally sorted
    // in training order, so a k-way merge over the sorted shards of a
    // (split, source) group streams the exact single-file global order
    // of numShards = 1.
    // Each shard FILE is internally in training order (the merge-read
    // precondition), and any non-tiny group occupies all 4 shards
    // (uniform pmod — the regression the range-band version failed).
    val shardFiles = new java.io.File(dir4).listFiles.filter(_.isDirectory)
      .flatMap(_.listFiles.filter(_.isDirectory))
      .flatMap(_.listFiles.filter(_.isDirectory))
      .flatMap(_.listFiles.filter(_.getName.endsWith(".parquet")))
    assert(shardFiles.nonEmpty)
    shardFiles.foreach { f =>
      val keys = spark.read.parquet(f.toString)
        .select("shuffle_key", "doc_id").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(keys.sortBy(identity).sameElements(keys),
        s"$f is not in training order — merge-read contract broken")
    }
    val grouped = back4
      .select("split", "source", "shard").collect()
      .groupBy(r => (r.getString(0), r.getString(1)))
    grouped.foreach { case (g, rows) =>
      if (rows.length >= 40)
        assert(rows.map(_.getInt(2)).distinct.length == 4,
          s"group $g: ${rows.length} rows but not all 4 shards occupied")
    }
  }

  test("writePacked: content is invariant across numShards ∈ {1, 4}") {
    val curated = Curation.curate(docs, bench,
      Curation.Config(minTokens = 25L, maxTokens = 90L,
        rates = Map("en" -> 0.4), seqLen = 512L))
    val dir1 = java.nio.file.Files.createTempDirectory("pak_s1").toString
    val dir4 = java.nio.file.Files.createTempDirectory("pak_s4").toString
    Curation.writePacked(curated, dir1, seqLen = 512L, blockSize = 100L)
    Curation.writePacked(curated, dir4, seqLen = 512L, blockSize = 100L,
      numShards = 4)
    def census(dir: String) = spark.read.parquet(dir)
      .select("split", "seq_id", "seq_tok", "seq_text")
      .collect().map(_.toSeq).toSet
    assert(census(dir1) == census(dir4))
    // shard = seq_id mod 4 (the documented stride interleave), one
    // file per (split, shard) leaf, rows seq_id-sorted inside each.
    val back4 = spark.read.parquet(dir4)
    assert(back4.filter(col("shard") =!= pmod(col("seq_id"), lit(4L))).count() == 0)
    val leaves = new java.io.File(dir4).listFiles.filter(_.isDirectory)
      .flatMap(_.listFiles.filter(_.isDirectory))
    assert(leaves.nonEmpty && leaves.forall(_.getName.startsWith("shard=")))
    leaves.foreach { p =>
      val fs = p.listFiles.filter(_.getName.endsWith(".parquet"))
      assert(fs.length == 1, s"$p holds ${fs.length} files, expected 1")
      val ids = spark.read.parquet(fs.head.toString)
        .select("seq_id").collect().map(_.getLong(0))
      assert(ids.sorted.sameElements(ids), s"rows in $p not seq_id-sorted")
    }
  }

  test("shardOf: bounded for every long and UNIFORM over dense-id hash keys") {
    // The regression that killed the first (range-band) sharding: the
    // salted hash of a DENSE doc-id block clusters in a narrow
    // magnitude window (hash64 keeps intermediates < 2^63 for SQL
    // replay, so its low lane is an unwrapped m·Knuth — 200k
    // consecutive ids measured to land in ONE of 8 equal-width
    // bands). shardOf must spread exactly that workload: pmod of the
    // hash, pinned here over the REAL shuffle_key derivation on a
    // dense id range, plus range safety at the signed-long extremes.
    val edge = df(Seq(Long.MinValue, -1L, 0L, 1L, Long.MaxValue)
      .map(k => Row(k)), "k BIGINT")
    for (n <- Seq(1, 2, 7)) {
      edge.select(Curation.shardOf(col("k"), n).as("s")).collect()
        .map(_.getInt(0)).foreach(s =>
          assert(s >= 0 && s < n, s"shardOf out of range at n=$n: $s"))
    }
    val dense = df((0L until 20000L).map(k => Row(k)), "k BIGINT")
      .select(Sampling.orderKey(col("k"), 42L ^ Sampling.OrderSalt).as("sk"))
    for (n <- Seq(4, 8)) {
      val occ = dense.groupBy(Curation.shardOf(col("sk"), n).as("s"))
        .count().collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      assert(occ.keySet == (0 until n).toSet,
        s"dense ids must occupy ALL $n shards, got ${occ.keySet}")
      val (mn, mx) = (occ.values.min, occ.values.max)
      assert(mx < 2L * mn,
        s"shard skew at n=$n: min=$mn max=$mx — uniformity regressed")
    }
  }

  test("auditLayout: zero violations on a correct layout, nonzero on drift") {
    val curated = Curation.curate(docs, bench,
      Curation.Config(minTokens = 25L, maxTokens = 90L,
        rates = Map("en" -> 0.4), seqLen = 512L))
    val dir = java.nio.file.Files.createTempDirectory("cur_audit").toString
    Curation.write(curated, dir, numShards = 4)
    val ok = Curation.auditLayout(spark, dir, numShards = 4).collect().head
    assert(ok.getAs[Long]("n_rows") == curated.count())
    assert(ok.getAs[Long]("bad_split") == 0L)
    assert(ok.getAs[Long]("bad_shuffle_key") == 0L)
    assert(ok.getAs[Long]("bad_shard") == 0L)
    val expectedLeaves = curated
      .select(Sampling.assignSplit(col("doc_id"),
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1)).as("split"),
        col("source"),
        Curation.shardOf(
          Sampling.orderKey(col("doc_id"), 42L ^ Sampling.OrderSalt), 4).as("shard"))
      .distinct().count()
    assert(ok.getAs[Long]("n_leaves") == expectedLeaves)
    // The audit DETECTS: auditing the 4-shard layout as if 8-way flags
    // misfiled shards; a different seed flags split + order-key drift
    // (the counts are real checks, not constants).
    val wrongShards = Curation.auditLayout(spark, dir, numShards = 8)
      .collect().head
    assert(wrongShards.getAs[Long]("bad_shard") > 0L)
    val wrongSeed = Curation.auditLayout(spark, dir, seed = 7L, numShards = 4)
      .collect().head
    assert(wrongSeed.getAs[Long]("bad_split") > 0L)
    assert(wrongSeed.getAs[Long]("bad_shuffle_key") > 0L)
  }

  test("write: overwrite leaves no stale split directories behind") {
    // Bench reps reuse one per-JVM target dir; if the split set shrinks
    // between runs, parquet overwrite must wipe the whole root (static
    // partition-overwrite semantics), not leave dead split=… dirs that
    // a read-back would silently union in (ADVICE/VERDICT r10 next #6).
    val curated = Curation.curate(docs, bench,
      Curation.Config(minTokens = 25L, maxTokens = 90L,
        rates = Map("en" -> 0.4), seqLen = 512L))
    val dir = java.nio.file.Files.createTempDirectory("cur_stale").toString
    Curation.write(curated, dir)
    val before = new java.io.File(dir).listFiles.filter(_.isDirectory)
      .map(_.getName).toSet
    assert(before.contains("split=train") && before.size > 1)
    Curation.write(curated, dir, splits = Seq("train" -> 1.0), numShards = 2)
    val after = new java.io.File(dir).listFiles.filter(_.isDirectory)
      .map(_.getName).toSet
    assert(after == Set("split=train"),
      s"stale split dirs survived the overwrite: $after")
    assert(spark.read.parquet(dir).filter(col("split") =!= "train").count() == 0)
  }

  test("soft funnel ≡ hard funnel over exactDedup survivors in weighted mass") {
    // The SoftDedup composition, end to end: up to (not incl.) sampling,
    // every stage flag is text-derived, so all members of a duplicate
    // family share it — the family's weighted mass (n members at
    // floor(1e6/n) ppm) equals its exact-dedup survivor's full-weight
    // mass within the ppm quantization (≤ n·n_tok micro-tokens per
    // family). Sampling is the one stage keyed on doc_id, where the
    // realized (not expected) selections legitimately diverge.
    val (h0, s0) = Queries.plantedShard(docs, withSecondCopy = true)
    val corpus = h0.unionByName(s0)
    val soft = Curation.funnel(corpus, bench,
      cfg.copy(softDedup = true)).head()
    val hard = Curation.funnel(Dedup.exactDedup(corpus), bench, cfg).head()
    for ((softCol, hardCol) <- Seq(
        "tokens_weighted_raw" -> "tokens_raw",
        "tokens_weighted_after_decontam" -> "tokens_after_decontam",
        "tokens_weighted_after_quality" -> "tokens_after_quality")) {
      val w = soft.getAs[Long](softCol)
      val t = hard.getAs[Long](hardCol) * 1000000L
      assert(math.abs(w - t) <= t / 1000 + 1000000L,
        s"$softCol $w vs $hardCol×1e6 $t — duplicate families must carry ~one doc")
    }
    // Doc counts: soft mode removes nothing at the dedup stage.
    assert(soft.getAs[Long]("n_after_dedup") == soft.getAs[Long]("n_raw"))
    assert(hard.getAs[Long]("n_after_dedup") < soft.getAs[Long]("n_after_dedup"))
  }

  test("x10_media_funnel: one card per modality, every corpus fully " +
       "signed, and every modality's keep-first drop is live") {
    assume(graft.ext.Multimodal.pngSupported &&
      graft.ext.Multimodal.wavSupported &&
      graft.ext.Multimodal.gifSupported, "JVM missing a media codec")
    val rows = Queries.x10MediaFunnel(spark, sfDir).collect()
      .map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(rows.keySet == Set("audio", "image", "video"))
    rows.foreach { case (m, (media, signed, unique)) =>
      assert(media > 0 && signed == media,
        s"$m: every planted payload must decode ($signed of $media)")
      assert(unique > 0 && unique < signed,
        s"$m: the drop must be live and non-total ($unique of $signed)")
    }
    // Video's planted duplicate structure: exactly one member drops
    // per family pair (the re-cut member).
    val (vm, _, vu) = rows("video")
    assert(vm - vu == Queries.x5VideoAlign(spark, sfDir).count(),
      "video drops must equal the alignment pair count (one re-cut per family)")
  }

  test("adaptiveShards: sized by raw-scan bytes toward the leaf target, " +
       "clamped, conf-overridable (r18)") {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val bytes = docs.queryExecution.optimizedPlan.stats.sizeInBytes
    // KB-scale fixture vs a 256 MB target -> one shard per leaf.
    assert(Curation.adaptiveShards(docs) == 1)
    // Explicit tiny target -> bytes/target, the corpus-scale regime.
    assert(Curation.adaptiveShards(docs, targetLeafBytes = 1024L) ==
      (bytes / 1024).min(BigInt(65536)).max(BigInt(1)).toInt)
    // 1-byte target -> bytes-many shards, or the 65536 upper clamp on a
    // bigger input (the join-inflated-stats failure mode the clamp
    // bounds).
    assert(Curation.adaptiveShards(docs, targetLeafBytes = 1L) ==
      bytes.min(BigInt(65536)).max(BigInt(1)).toInt)
    val key = "spark.graft.write.targetLeafBytes"
    try {
      spark.conf.set(key, "1024")
      assert(Curation.adaptiveShards(docs) ==
        Curation.adaptiveShards(docs, targetLeafBytes = 1024L))
    } finally spark.conf.unset(key)
  }
}
