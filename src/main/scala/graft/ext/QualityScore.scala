package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.Decl

/** X13 — linear quality-classifier scoring: the fasttext-style "model
  * quality" hook of a curation pipeline, as a PURE-ARITHMETIC proxy
  * (public pipelines like CCNet/FineWeb gate documents on a learned
  * linear scorer over cheap text features; the engine's job is the
  * scoring/banding plumbing, not the learned weights — any weight
  * vector drops in).
  *
  * The score is a weighted sum of per-document feature RATIOS
  * (stopword ratio, alphabetic ratio, punctuation ratio, mean token
  * length), but no float division ever happens: with milli-unit integer
  * weights, `score ≥ t` multiplies through by the positive common
  * denominator `n_tokens·n_chars`, so every band decision is an
  * INTEGER comparison —
  *
  *   score_num = bias·ntok·nchar + w_stop·stop_hits·nchar
  *             + w_alpha·alpha_chars·ntok + w_punct·punct_chars·ntok
  *             + w_len·sum_tok_len·nchar
  *   band = high  iff score_num ≥ hi·ntok·nchar    (hi in milli-units)
  *        = medium iff score_num ≥ lo·ntok·nchar
  *
  * — exactly replayable by the SQL oracle (the Gopher cross-multiply
  * discipline). Overflow bound, precisely: the largest term is
  * ≤ 2000·ntok·nchar ≤ 2000·nchar², so the sum stays under 2⁶³ for ANY
  * content up to ~10⁷ chars per document (~10 MB text; realistic
  * tokenized text ~5× more). Past that, ANSI mode throws loudly rather
  * than banding on wrapped arithmetic — bound document size upstream
  * (the Gopher `too_long` cap at 100k tokens is the standard gate).
  *
  * Everything is ONE map-only pass per row (no shuffle); the census is
  * a partial-agg groupBy. The weight set is a broadcast-free plan
  * constant (weights are literals, the standard shape for a dozens-of-
  * features linear model; a learned multi-thousand-dim model would move
  * the weights into a broadcast array literal the same expression
  * consumes). [[Curation]]'s `is_quality` can consume the band via
  * `band =!= "low"` in place of the token-count gate.
  */
object QualityScore {

  /** Milli-unit integer weights (1000 = 1.0). Defaults reward stopword
    * density and alphabetic text, penalize punctuation, and lightly
    * reward longer tokens — an English-centric toy vector (like the
    * Gopher defaults, documented there) that exercises every term. */
  final case class Weights(
      bias: Long = 0L,
      stop: Long = 2000L,
      alpha: Long = 1000L,
      punct: Long = -1000L,
      meanTokLen: Long = 100L,
      stopwords: Seq[String] = Seq("a", "the", "and", "of", "is", "to", "in", "that"))

  /** The ONE definition of the scorer's feature expressions over
    * (text, MATERIALIZED tokens) — consumed by [[scored]] (as output
    * columns) and [[bandFromToks]] (inline). `toks` must be a projected
    * column: two of these reference it through interpreted HOF lambdas,
    * and an inline split would re-run the regex per reference. Ordered
    * so [[scored]] emits them deterministically. */
  private def features(t: Column, toks: Column,
                       w: Weights): Seq[(String, Column)] = {
    val stopArr = array(w.stopwords.map(lit): _*)
    Seq(
      "q_tokens" -> when(t.isNull || length(trim(t)) === 0, lit(0L))
        .otherwise(size(toks).cast("long")),
      "q_chars" -> coalesce(length(t), lit(0)).cast("long"),
      "q_stop_hits" ->
        size(filter(toks, x => array_contains(stopArr, x))).cast("long"),
      "q_alpha_chars" ->
        coalesce(length(regexp_replace(t, "[^A-Za-z]", "")), lit(0)).cast("long"),
      "q_punct_chars" -> (coalesce(length(t), lit(0)) -
        coalesce(length(regexp_replace(t, "[.,!?;:]", "")), lit(0))).cast("long"),
      "q_sum_tok_len" -> aggregate(toks, lit(0L), (acc, x) => acc + length(x)))
  }

  /** The ONE definition of the linear form (milli-unit weights). */
  private def scoreNum(w: Weights, ntok: Column, nchar: Column, stop: Column,
                       alpha: Column, punct: Column, sumLen: Column): Column =
    lit(w.bias) * ntok * nchar +
      lit(w.stop) * stop * nchar +
      lit(w.alpha) * alpha * ntok +
      lit(w.punct) * punct * ntok +
      lit(w.meanTokLen) * sumLen * nchar

  /** The ONE definition of the band cut (integer cross-multiply). */
  private def bandOf(num: Column, ntok: Column, nchar: Column,
                     hi: Long, lo: Long): Column =
    when(ntok === 0 || nchar === 0, lit("empty"))
      .when(num >= lit(hi) * ntok * nchar, lit("high"))
      .when(num >= lit(lo) * ntok * nchar, lit("medium"))
      .otherwise(lit("low"))

  /** Per-document integer features + `q_score_num` + `q_band`, appended
    * to the input columns — ALL `q_`-prefixed (ADVICE r6: a corpus's own
    * n_chars/band-style metadata must never be silently overwritten; the
    * prefix rationale applies to every appended column, not just the
    * features). `hi`/`lo` are milli-unit score thresholds. Zero-token or
    * zero-char documents band as `empty` (the score is undefined — 0/0). */
  def scored(docs: DataFrame, textCol: String = "text",
             w: Weights = Weights(), hi: Long = 1500L, lo: Long = 800L): DataFrame = {
    require(hi >= lo, s"hi ($hi) must be >= lo ($lo)")
    val t = col(textCol)
    val fs = features(t, col("__toks"), w)
    val withFeatures = fs.foldLeft(
        docs.withColumn("__toks", coalesce(TextAnalysis.tokens(t),
          array().cast("array<string>")))) {
      case (acc, (name, expr)) => acc.withColumn(name, expr)
    }
    withFeatures
      .withColumn("q_score_num",
        scoreNum(w, col("q_tokens"), col("q_chars"), col("q_stop_hits"),
          col("q_alpha_chars"), col("q_punct_chars"), col("q_sum_tok_len")))
      .withColumn("q_band",
        bandOf(col("q_score_num"), col("q_tokens"), col("q_chars"), hi, lo))
      .drop("__toks")
  }

  /** The band as ONE Column over (text, MATERIALIZED tokens) — the hook
    * the curation funnel's `is_quality` consumes
    * ([[Curation.Config.qualityWeights]]) without a second scoring pass
    * or column collisions with the corpus schema. Decisions are
    * identical to [[scored]]'s `band` column by construction (same
    * [[features]]/[[scoreNum]]/[[bandOf]] definitions; parity also
    * pinned in QualityScoreSpec under non-default weights). */
  def bandFromToks(t: Column, toks: Column, w: Weights = Weights(),
                   hi: Long = 1500L, lo: Long = 800L): Column = {
    require(hi >= lo, s"hi ($hi) must be >= lo ($lo)")
    val f = features(t, toks, w).toMap
    bandOf(
      scoreNum(w, f("q_tokens"), f("q_chars"), f("q_stop_hits"),
        f("q_alpha_chars"), f("q_punct_chars"), f("q_sum_tok_len")),
      f("q_tokens"), f("q_chars"), hi, lo)
  }

  /** The registered, oracle-checked view: per-(`groupCol`, band) census
    * with the token mass each band carries — what a recipe author reads
    * to pick a quality cut (`groupCol` defaults to `lang`; a per-source
    * cut reads the same census grouped by `source`). One partial-agg
    * groupBy over the map-only scoring pass. The output column is named
    * `band` — a census FRAME has no corpus metadata to collide with,
    * unlike [[scored]]'s appended columns. */
  def bandCensus(docs: DataFrame, textCol: String = "text",
                 w: Weights = Weights(), hi: Long = 1500L,
                 lo: Long = 800L, groupCol: String = "lang"): DataFrame =
    scored(docs, textCol, w, hi, lo)
      .groupBy(col(groupCol), col("q_band").as("band"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("q_tokens")).as("tokens"))
      .orderBy(groupCol, "band")

  /** A learned scorer configuration as it ARRIVES in practice — a
    * JSON/YAML file exported by whatever trained the linear model — so
    * a new weight vector drops in without recompiling (the
    * [[graft.suite.SuiteLoader]] authoring discipline). File shape:
    * {{{
    * { "weights": { "bias": 0, "stop": 2000, "alpha": 1000,
    *                "punct": -1000, "mean_tok_len": 100 },
    *   "stopwords": ["a", "the", "and", "of"],
    *   "thresholds": { "hi": 1500, "lo": 800 } }
    * }}}
    * Absent weight fields default to 0 (NOT the English-centric toy
    * defaults — a learned file that omits a term means the term's
    * coefficient is zero); absent `stopwords` keeps the default list;
    * `thresholds` is required. The file is read through [[graft.Decl]]:
    * an unknown key (`weights.stopp` is not a zero `stop`) or a
    * non-integer weight is rejected with its path. Ranges validate
    * LOUDLY: milli-unit weights and thresholds are capped at ±10⁶ so
    * the documented overflow bound (~10⁷ chars/doc before ANSI throws)
    * survives any loaded vector. */
  final case class ScorerConfig(weights: Weights, hi: Long, lo: Long)

  /** Parse scorer-config text. `yaml = true` for YAML; default JSON. */
  def parseConfig(text: String, yaml: Boolean = false): ScorerConfig =
    Decl.parse(text, yaml)(readConfig)

  /** Load a scorer config from a file path, or (fallback) the classpath
    * — a library query must not assume the caller's cwd
    * ([[graft.Decl.load]]; .yaml/.yml vs .json picks the format). */
  def loadConfig(path: String): ScorerConfig = Decl.load(path)(readConfig)

  private def readConfig(root: Decl.Node): ScorerConfig = {
    val weights = root.objOpt("weights")
    val coefs = Seq("bias", "stop", "alpha", "punct", "mean_tok_len")
      .map(k => k -> weights.flatMap(_.longOpt(k)).getOrElse(0L))
    val coef = coefs.toMap
    val thresholds = root.obj("thresholds")
    val cfg = ScorerConfig(
      Weights(bias = coef("bias"), stop = coef("stop"), alpha = coef("alpha"),
        punct = coef("punct"), meanTokLen = coef("mean_tok_len"),
        stopwords = root.stringsOpt("stopwords").getOrElse(Weights().stopwords)),
      hi = thresholds.long("hi"), lo = thresholds.long("lo"))
    val bound = 1000000L
    val named = coefs.map { case (k, v) => s"weights.$k" -> v } ++
      Seq("thresholds.hi" -> cfg.hi, "thresholds.lo" -> cfg.lo)
    named.foreach { case (name, v) =>
      require(math.abs(v) <= bound,
        s"scorer config: $name ($v) exceeds ±$bound milli-units — the " +
          "overflow bound assumes coefficients of this scale")
    }
    require(cfg.hi >= cfg.lo,
      s"scorer config: thresholds.hi (${cfg.hi}) must be >= lo (${cfg.lo})")
    cfg
  }
}
