package graft

import graft.ext.QualityScore
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

/** X13 linear quality scorer: hand-checked integer score arithmetic,
  * band edges, empty handling, and census consistency. */
class QualityScoreSpec extends SparkSpec {

  test("score_num matches the hand-computed cross-multiplied sum") {
    // "the cat is big.": ntok 4, nchar 15, stop_hits {the, is} = 2,
    // alpha 11, punct 1, sum_tok_len 3+3+2+4 = 12 →
    // 2000·2·15 + 1000·11·4 − 1000·1·4 + 100·12·15 = 118000;
    // score = 118000 / (1000·4·15) ≈ 1.967 → high at the default cuts.
    val docs = df(Seq(Row(1L, "x", "the cat is big.")),
      "doc_id BIGINT, lang STRING, text STRING")
    val r = QualityScore.scored(docs).head()
    assert(r.getAs[Long]("q_tokens") == 4L)
    assert(r.getAs[Long]("q_chars") == 15L)
    assert(r.getAs[Long]("q_stop_hits") == 2L)
    assert(r.getAs[Long]("q_alpha_chars") == 11L)
    assert(r.getAs[Long]("q_punct_chars") == 1L)
    assert(r.getAs[Long]("q_sum_tok_len") == 12L)
    assert(r.getAs[Long]("q_score_num") == 118000L)
    assert(r.getAs[String]("q_band") == "high")
  }

  test("band edges are >= on the cross-multiplied comparison") {
    // "aa aa": ntok 2, nchar 5, stop 0, alpha 4, punct 0, sum_tok_len 4
    // → score_num = 1000·4·2 + 100·4·5 = 10000; den = 10, so the score
    // is exactly 1.0. A threshold exactly at the score must still band
    // high (>=, not >); one milli above must not.
    val docs = df(Seq(Row(1L, "x", "aa aa")), "doc_id BIGINT, lang STRING, text STRING")
    assert(QualityScore.scored(docs).head().getAs[Long]("q_score_num") == 10000L)
    assert(QualityScore.scored(docs, hi = 1000L, lo = 0L)
      .head().getAs[String]("q_band") == "high")
    assert(QualityScore.scored(docs, hi = 1001L, lo = 0L)
      .head().getAs[String]("q_band") == "medium")
  }

  test("null and blank docs band as empty; bad thresholds rejected") {
    val docs = df(Seq(Row(1L, "x", null), Row(2L, "x", "   "), Row(3L, "x", "")),
      "doc_id BIGINT, lang STRING, text STRING")
    val bands = QualityScore.scored(docs).select("q_band")
      .collect().map(_.getString(0)).toSet
    assert(bands == Set("empty"))
    intercept[IllegalArgumentException](
      QualityScore.scored(docs, hi = 100L, lo = 200L))
  }

  test("bandFromToks agrees with scored()'s band column on the whole corpus") {
    val d = Tables.documents(spark, sfDir)
    // Parity at the registered thresholds AND under a non-default weight
    // vector — a drift in one definition's terms must not hide behind
    // the defaults.
    val configs = Seq(
      (QualityScore.Weights(), 1450L, 1300L),
      (QualityScore.Weights(bias = 50L, stop = 900L, alpha = -200L,
        punct = 300L, meanTokLen = 250L,
        stopwords = Seq("the", "of")), 1200L, 400L))
    configs.foreach { case (w, hi, lo) =>
      val viaScored = QualityScore.scored(d, w = w, hi = hi, lo = lo)
        .select(col("doc_id"), col("q_band"))
      val viaColumn = d
        .withColumn("__t", graft.ext.TextAnalysis.tokens(col("text")))
        .select(col("doc_id"),
          QualityScore.bandFromToks(col("text"), col("__t"), w, hi, lo)
            .as("band2"))
      val joined = viaScored.join(viaColumn, "doc_id")
        .filter(col("q_band") =!= col("band2"))
      assert(joined.count() == 0L, s"band definitions diverged under $w")
    }
  }

  test("curation funnel consumes the classifier band when configured") {
    import graft.ext.{Curation, Pii}
    val docs = Tables.documents(spark, sfDir)
    val bench = docs.filter(col("doc_id") < 3)
      .select(col("doc_id").as("bench_id"), col("text"))
    val base = Curation.Config(minTokens = 25L, maxTokens = 90L)
    val gated = base.copy(qualityWeights = Some(QualityScore.Weights()),
      qualityHi = 1450L, qualityLo = 1300L, qualityMinBand = "high")
    val f0 = Curation.funnel(docs, bench, base).head()
    val f1 = Curation.funnel(docs, bench, gated).head()
    // The band gate can only REMOVE documents at the quality stage…
    assert(f1.getAs[Long]("n_after_quality") < f0.getAs[Long]("n_after_quality"))
    assert(f1.getAs[Long]("n_after_decontam") == f0.getAs[Long]("n_after_decontam"))
    // …and equals the independent recount: decontam survivors whose
    // REDACTED text is token-banded AND scored high.
    val ann = Curation.annotate(docs, bench, base)
      .filter(col("is_canonical") && !col("is_contaminated"))
    val expected = QualityScore.scored(ann, hi = 1450L, lo = 1300L)
      .filter(col("n_tok").between(25, 90) && col("q_band") === "high")
      .count()
    assert(f1.getAs[Long]("n_after_quality") == expected)
    intercept[IllegalArgumentException](base.copy(qualityMinBand = "low"))
  }

  test("scorer config round-trips from JSON and YAML; ranges validate loudly") {
    val json = """{ "weights": { "bias": 50, "stop": 900, "alpha": -200,
                 |              "punct": 300, "mean_tok_len": 250 },
                 |  "stopwords": ["the", "of"],
                 |  "thresholds": { "hi": 1200, "lo": 400 } }""".stripMargin
    val cfg = QualityScore.parseConfig(json)
    assert(cfg == QualityScore.ScorerConfig(
      QualityScore.Weights(bias = 50L, stop = 900L, alpha = -200L,
        punct = 300L, meanTokLen = 250L, stopwords = Seq("the", "of")),
      hi = 1200L, lo = 400L))
    val yaml = """weights:
                 |  stop: 2000
                 |  alpha: 1000
                 |thresholds:
                 |  hi: 1500
                 |  lo: 800""".stripMargin
    val y = QualityScore.parseConfig(yaml, yaml = true)
    // Omitted weights are ZERO (a learned file that omits a term means
    // coefficient 0), omitted stopwords keep the default list.
    assert(y.weights == QualityScore.Weights(bias = 0L, stop = 2000L,
      alpha = 1000L, punct = 0L, meanTokLen = 0L))
    // Loud failures: missing thresholds, oversized weights, hi < lo,
    // non-integer weights, misspelt weights.
    intercept[IllegalArgumentException](
      QualityScore.parseConfig("""{ "weights": { "stop": 1 } }"""))
    intercept[IllegalArgumentException](QualityScore.parseConfig(
      """{ "weights": { "stop": 2000000 }, "thresholds": { "hi": 1, "lo": 0 } }"""))
    intercept[IllegalArgumentException](QualityScore.parseConfig(
      """{ "thresholds": { "hi": 1, "lo": 2 } }"""))
    intercept[IllegalArgumentException](QualityScore.parseConfig(
      """{ "weights": { "stop": 1.5 }, "thresholds": { "hi": 1, "lo": 0 } }"""))
    // A misspelt weight is not a zero coefficient.
    val typo = intercept[IllegalArgumentException](QualityScore.parseConfig(
      """{ "weights": { "stopp": 900 }, "thresholds": { "hi": 1, "lo": 0 } }"""))
    assert(typo.getMessage.contains("weights.stopp"), typo.getMessage)
    // File loading picks the format by extension.
    val dir = java.nio.file.Paths.get(Files.tmp("graft-scorer-cfg"))
    val jf = dir.resolve("w.json"); java.nio.file.Files.writeString(jf, json)
    assert(QualityScore.loadConfig(jf.toString) == cfg)
    // A loaded config scores identically to the same code-constructed
    // one (the whole point: a learned vector drops in file-first).
    val docs = Tables.documents(spark, sfDir).limit(50)
    val viaFile = QualityScore.scored(docs, w = cfg.weights, hi = cfg.hi, lo = cfg.lo)
      .select("doc_id", "q_band").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val viaCode = QualityScore.scored(docs,
        w = QualityScore.Weights(50L, 900L, -200L, 300L, 250L, Seq("the", "of")),
        hi = 1200L, lo = 400L)
      .select("doc_id", "q_band").collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(viaFile == viaCode)
  }

  test("bandCensus groups by any column") {
    val bySource = QualityScore.bandCensus(Tables.documents(spark, sfDir),
      hi = 1450L, lo = 1300L, groupCol = "source")
    assert(bySource.columns.toSeq == Seq("source", "band", "n_docs", "tokens"))
    assert(bySource.select(sum(col("n_docs"))).head().getLong(0) ==
      Tables.documents(spark, sfDir).count())
  }

  test("bandCensus partitions the corpus and counts token mass") {
    val d = Tables.documents(spark, sfDir)
    val census = Queries.x13QualityBands(spark, sfDir).collect()
    assert(census.map(_.getAs[Long]("n_docs")).sum == d.count())
    // The tuned thresholds must exercise all three bands somewhere.
    val bands = census.map(_.getAs[String]("band")).toSet
    assert(Set("high", "medium", "low").subsetOf(bands), bands.toString)
    // Token mass equals the corpus's total whitespace tokens.
    val total = d.select(sum(graft.ext.TextAnalysis.tokenCount(col("text"))))
      .head().getLong(0)
    assert(census.map(_.getAs[Long]("tokens")).sum == total)
  }
}
