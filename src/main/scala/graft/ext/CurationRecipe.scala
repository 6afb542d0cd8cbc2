package graft.ext

import org.apache.spark.sql.functions._

import graft.Decl

/** File-first curation recipes: a [[Curation.Config]] authored as JSON
  * or YAML — the same discipline as the declarative check suites
  * ([[graft.suite.SuiteLoader]]) and the file-loaded scorer
  * ([[QualityScore.loadConfig]]): the recipe a training run used is a
  * reviewed, diffable ARTIFACT, not code.
  *
  * Loadable surface (snake_case keys; absent keys keep the Config
  * default). The file is read through [[graft.Decl]]: unknown keys
  * and mistyped values are REJECTED loudly with the key's path — a
  * typo like `min_token` or an integer given as `2.5` must not
  * silently run the default recipe; lists must be non-empty:
  *
  * {{{
  * { "min_tokens": 25, "max_tokens": 90,
  *   "rates": { "en": 0.4 }, "default_rate": 1.0,
  *   "seq_len": 512, "seed": 42,
  *   "min_containment": 0.8, "contamination_ngram": 4,
  *   "clean_first": true, "dedup_lines_first": true,
  *   "xdoc_min_df": 3, "soft_dedup": false,
  *   "c4_gate": false, "c4_block_phrases": ["lorem ipsum"],
  *   "keeper_quality": "text_length",
  *   "gopher_preset": "en",
  *   "quality_min_band": "medium",
  *   "text_col": "text", "key_col": "doc_id", "strata_col": "lang" }
  * }}}
  *
  * Deliberately NOT loadable: runtime artifacts. A perplexity model or
  * a DSIR model is a PERSISTED dataset loaded with `NgramLm.load` /
  * `Dsir.load` at the call site — a recipe references those by path in
  * the pipeline that applies it, because loading them needs a live
  * SparkSession and their content is data, not configuration.
  * `keeper_quality` supports the one builtin every published keep-best
  * recipe uses (`"text_length"` — raw length of the text column);
  * arbitrary quality expressions stay code. `gopher_preset` /
  * `gopher_presets` name entries of the SHIPPED preset catalog
  * ([[TextAnalysis.gopherPresets]]).
  *
  * All of [[Curation.Config]]'s own `require` guards fire on the
  * constructed value, so a file cannot smuggle in a state code
  * couldn't. */
object CurationRecipe {

  /** Parse recipe text into a Config. `yaml = true` for YAML. */
  def parse(text: String, yaml: Boolean = false): Curation.Config =
    Decl.parse(text, yaml)(read)

  /** Load a recipe from a file path, or (fallback) the classpath — the
    * engine's bundled recipes load whatever the caller's working
    * directory is ([[graft.Decl.load]]; .yaml/.yml vs .json by suffix). */
  def load(path: String): Curation.Config = Decl.load(path)(read)

  private def read(r: Decl.Node): Curation.Config = {
    val base = Curation.Config()
    val textCol = r.strOpt("text_col").getOrElse(base.textCol)
    val keeper = r.strOpt("keeper_quality").map { k =>
      require(k == "text_length",
        "curation recipe: keeper_quality supports the builtin " +
          s"'text_length' only (got '$k') — arbitrary quality " +
          "expressions stay code")
      length(col(textCol))
    }
    def presetOf(name: String): TextAnalysis.GopherPreset = {
      require(TextAnalysis.gopherPresets.contains(name),
        s"curation recipe: gopher preset '$name' is not in the shipped " +
          s"catalog (${TextAnalysis.gopherPresets.keys.toSeq.sorted.mkString(", ")})")
      TextAnalysis.gopherPresets(name)
    }
    val ngram = r.longOpt("contamination_ngram").map { n =>
      require(n.isValidInt, s"curation recipe: contamination_ngram ($n) out of int range")
      n.toInt
    }
    base.copy(
      minContainment = r.doubleOpt("min_containment").getOrElse(base.minContainment),
      contaminationNGram = ngram.getOrElse(base.contaminationNGram),
      minTokens = r.longOpt("min_tokens").getOrElse(base.minTokens),
      maxTokens = r.longOpt("max_tokens").getOrElse(base.maxTokens),
      rates = r.doubleMapOpt("rates").getOrElse(base.rates),
      defaultRate = r.doubleOpt("default_rate").getOrElse(base.defaultRate),
      seed = r.longOpt("seed").getOrElse(base.seed),
      seqLen = r.longOpt("seq_len").getOrElse(base.seqLen),
      qualityMinBand = r.strOpt("quality_min_band").getOrElse(base.qualityMinBand),
      cleanFirst = r.boolOpt("clean_first").getOrElse(base.cleanFirst),
      dedupLinesFirst = r.boolOpt("dedup_lines_first").getOrElse(base.dedupLinesFirst),
      xdocMinDf = r.longOpt("xdoc_min_df"),
      softDedup = r.boolOpt("soft_dedup").getOrElse(base.softDedup),
      c4Gate = r.boolOpt("c4_gate").getOrElse(base.c4Gate),
      c4BlockPhrases = r.stringsOpt("c4_block_phrases").getOrElse(base.c4BlockPhrases),
      keeperQuality = keeper,
      gopherPreset = r.strOpt("gopher_preset").map(presetOf),
      gopherPresets = r.stringsOpt("gopher_presets").map(_.map(k => k -> presetOf(k)).toMap),
      urlCol = r.strOpt("url_col"),
      blockedDomains = r.stringsOpt("blocked_domains").getOrElse(base.blockedDomains),
      textCol = textCol,
      keyCol = r.strOpt("key_col").getOrElse(base.keyCol),
      strataCol = r.strOpt("strata_col").getOrElse(base.strataCol))
  }
}
