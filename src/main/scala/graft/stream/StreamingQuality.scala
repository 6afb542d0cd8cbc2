package graft.stream

import org.apache.spark.sql.DataFrame

import graft.ext.QualityScore

/** S13 — STREAMING quality scoring: the X13 linear classifier served on
  * arriving documents, completing the fit-once/serve-streaming family
  * (s8 BM25, s9 percentile cuts, s13 the classifier) — "route tonight's
  * crawl by quality band before it lands".
  *
  * The scorer is already the right shape: every feature
  * (token/char/stopword/alpha/punct counts, summed token length) is a
  * per-row expression and the band cut is an integer comparison — ONE
  * stateless projection, no state store, no watermark, micro-batch ≡
  * batch (pinned in StreamingQualitySpec). The weight vector is a
  * FILE-LOADED [[QualityScore.ScorerConfig]] — the reviewed, diffable
  * artifact a production gate actually deploys, not code constants
  * ([[QualityScore.loadConfig]], which falls back to the classpath; the
  * X13/CurationRecipe authoring discipline).
  *
  * Annotate-don't-drop: every document passes through carrying
  * `q_score_num`/`q_band` (+ the `q_` feature columns), so the caller
  * routes or filters downstream with the audit intact.
  */
object StreamingQuality {

  /** Score `textCol` through the config's weights/cuts — identical code
    * on batch and stream ([[QualityScore.scored]] is projection-only). */
  def scoreStream(stream: DataFrame, cfg: QualityScore.ScorerConfig,
                  textCol: String = "text"): DataFrame =
    QualityScore.scored(stream, textCol, cfg.weights, cfg.hi, cfg.lo)
}
