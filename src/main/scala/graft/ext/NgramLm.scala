package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** X15 — n-gram language-model perplexity scoring: the CCNet-style
  * "how close is this document to a trusted reference corpus" gate
  * (public pipelines score crawl text against a Wikipedia-trained
  * KenLM and keep the low-perplexity head; the engine's job is the
  * train/score/band plumbing at corpus scale — the reference corpus is
  * a parameter).
  *
  * The model is STUPID BACKOFF over word bigrams (Brants et al. 2007 —
  * no discounting, a fixed backoff factor, the standard web-scale
  * choice because training is two pure counting aggregates):
  *
  *   p(w2 | w1) = c(w1 w2) / c(w1)                    if c(w1 w2) > 0
  *              = 0.4 * (c(w2) + 1) / (total + V)     otherwise
  *
  * (+1/+V Laplace mass so out-of-vocabulary words score finitely).
  *
  * Float discipline (the x4 z-score / Gopher cross-multiply house
  * rule, adapted — a sum of logs cannot be decimal-exact): each gram's
  * log-probability is rounded ONCE to integer MICRO-NATS,
  * `round(1e6 * ln p)`, and everything downstream — the per-document
  * sum, the band cut — is exact 64-bit integer arithmetic, so
  * aggregation order can never perturb a hash. |ln p| < 40 for any
  * count model, so a document needs > 2^63/4e7 ≈ 2×10¹¹ grams to
  * overflow — unreachable (ANSI mode throws loudly anyway). The band
  * cut is an integer cross-multiply: head iff
  * `sum_micro >= headMicro * n_grams` (thresholds are per-gram
  * micro-nats; ppl 100 ≈ -4 605 170). The reported `lm_ppl` is derived
  * FROM the integer sum (`exp(-sum/1e6/n)`, rounded to 3 dp) — display
  * only, never compared.
  *
  * 100 TB shape: training is two `groupBy.count` passes over the
  * (bounded, trusted) reference corpus — partial-agg, map-side
  * combine. Scoring pre-aggregates the probe side per
  * `(doc, w1, w2)` BEFORE touching the model, so a hot bigram ("of
  * the") contributes one row per document, not one per occurrence —
  * the join-key skew cap — then equi-joins the three count tables
  * (one row per key on the build side; Spark auto-broadcasts when the
  * model is small, sort-merge when it is not) and reduces back to one
  * row per document. The totals frame is one row, joined by a
  * broadcast cross join (the Mixing discipline — no driver collect).
  */
object NgramLm {

  /** ln(0.4) in micro-nats — the stupid-backoff factor, rounded once
    * HERE so the Scala plan and any SQL replay share the exact integer
    * (one definition; -916291 = round(1e6 * ln 0.4)). */
  val BackoffMicro: Long = -916291L

  /** Default band cuts, per-gram micro-nats (avg log-prob): head ≈
    * ppl 100 (-1e6·ln 100), tail ≈ ppl 1000 (-1e6·ln 1000). Named so
    * the [[scored]] defaults and any SQL replay share the exact
    * integers (the [[BackoffMicro]] one-definition rule). */
  val HeadMicro: Long = -4605170L
  val TailMicro: Long = -6907755L

  /** A trained model: pure count frames, each persistable as parquet
    * and re-loadable — the incremental-dedup history-index discipline
    * ([[Dedup.fingerprints]]) applied to LM counts. `trigrams` present
    * iff the model was trained at order ≥ 3; `higher` carries the
    * order-4+ censuses in sequence (`higher(i)` = order 4+i, columns
    * `w1..w(4+i), c(4+i)`) — the 5-gram KenLM shape of the published
    * CCNet filter (VERDICT r10 next #5). [[scored]] dispatches on
    * [[Model.order]], so a pipeline swaps orders by retraining — no
    * call-site change. */
  final case class Model(
      bigrams: DataFrame,  // (w1, w2, c2: Long) — one row per seen bigram
      unigrams: DataFrame, // (w, c1: Long) — one row per seen word
      totals: DataFrame,   // ONE row: (total_toks: Long, vocab: Long)
      trigrams: Option[DataFrame] = None, // (w1, w2, w3, c3: Long)
      higher: Seq[DataFrame] = Nil) {     // orders 4+: (w1..wk, ck: Long)

    require(higher.isEmpty || trigrams.isDefined,
      "order-4+ counts require the trigram census (contiguous orders)")

    /** The trained n-gram order — what [[scored]] dispatches on. */
    def order: Int =
      if (higher.nonEmpty) 3 + higher.size
      else if (trigrams.isDefined) 3
      else 2

    /** The order-`k` count frame normalized to `(w1..wk, ck)` — ONE
      * accessor shared by training layout, save/load, and the scoring
      * joins, so the column-name contract lives in one place. */
    private[ext] def countsFor(k: Int): DataFrame = k match {
      case 1 => unigrams.select(col("w").as("w1"), col("c1"))
      case 2 => bigrams
      case 3 => trigrams.get
      case k => higher(k - 4)
    }

    /** Pin the count frames ([[org.apache.spark.sql.Dataset.localCheckpoint]]) —
      * the persisted-index contract of the streaming dedup paths
      * ([[graft.Queries.s3StreamNeardup]]): in production the model is
      * SAVED parquet read back once; a derived frame would re-run the
      * reference-corpus tokenize+aggregate for every join build that
      * consumes it ([[scored]] consumes the unigram table twice). */
    def materialize(): Model = {
      // The count frames are INDEPENDENT aggregates of the reference
      // corpus; pin them from concurrent driver threads so the 3–6
      // checkpoint jobs overlap instead of serializing (guide §2.6 —
      // at order 5 the sequential pins were most of the model's wall).
      val pinned = graft.Pin.all(
        Seq(bigrams, unigrams, totals) ++ trigrams.toSeq ++ higher)(graft.Pin(_))
      Model(pinned(0), pinned(1), pinned(2),
        trigrams.map(_ => pinned(3)),
        higher.indices.map(i => pinned(3 + trigrams.size + i)))
    }
  }

  /** Persist a trained model to parquet — the [[graft.ext.IvfIndex
    * .save]] discipline for LM counts: the nightly pipeline trains on
    * the trusted reference ONCE and every later scoring run loads the
    * counts without re-tokenizing the reference corpus. */
  def save(model: Model, dir: String): Unit = {
    model.bigrams.write.mode("overwrite").parquet(s"$dir/bigrams")
    model.unigrams.write.mode("overwrite").parquet(s"$dir/unigrams")
    model.totals.coalesce(1).write.mode("overwrite").parquet(s"$dir/totals")
    model.trigrams.foreach(
      _.write.mode("overwrite").parquet(s"$dir/trigrams"))
    model.higher.zipWithIndex.foreach { case (g, i) =>
      g.write.mode("overwrite").parquet(s"$dir/grams${i + 4}")
    }
  }

  /** Load a saved model. The count frames stay distributed (backed by
    * the saved parquet — nothing reaches the driver); scoring joins
    * read them directly. A `trigrams/` directory marks order ≥ 3, and
    * `grams4/`, `grams5/`, … mark the higher orders (read until the
    * first missing dir — contiguity by construction of [[save]]) —
    * the save layout carries the order, so load cannot silently
    * downgrade a model to lower-order scoring. Score parity with the
    * freshly-trained model is pinned by NgramLmSpec. */
  def load(spark: org.apache.spark.sql.SparkSession, dir: String): Model = {
    def dirAt(name: String): Boolean = java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(s"$dir/$name"))
    val higher = Iterator.from(4)
      .takeWhile(k => dirAt(s"grams$k"))
      .map(k => spark.read.parquet(s"$dir/grams$k"))
      .toSeq
    Model(
      spark.read.parquet(s"$dir/bigrams"),
      spark.read.parquet(s"$dir/unigrams"),
      spark.read.parquet(s"$dir/totals"),
      if (dirAt("trigrams")) Some(spark.read.parquet(s"$dir/trigrams"))
      else None,
      higher)
  }

  /** Train n-gram counts from a reference corpus at any `order` in
    * [2, 7] — 2 is the default bigram model, 5 the published CCNet
    * KenLM shape. Each order above 2 adds one more partial-agg
    * counting pass, same map-side-combine shape. Documents with fewer
    * than k tokens contribute the lower-order counts only; blank/null
    * documents contribute nothing. */
  def train(ref: DataFrame, textCol: String = "text",
            order: Int = 2): Model = {
    require(order >= 2 && order <= 7, s"order ($order) must be in [2, 7]")
    val toked = ref
      .select(split(Dedup.normText(col(textCol)), "\\s+").as("__toks"))
      .filter(size(col("__toks")) > 0 && col("__toks")(0) =!= "")
    def census(k: Int): DataFrame = toked
      .select(explode(gramStructs(col("__toks"), k)).as("g"))
      .select((1 to k).map(i => col(s"g.w$i")): _*)
      .groupBy(s"w1", (2 to k).map(i => s"w$i"): _*)
      .agg(count(lit(1)).as(s"c$k"))
    val unigrams = toked
      .select(explode(col("__toks")).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c1"))
    val totals = unigrams.agg(
      sum(col("c1")).as("total_toks"),
      count(lit(1)).as("vocab"))
    Model(census(2), unigrams, totals,
      if (order >= 3) Some(census(3)) else None,
      (4 to order).map(census))
  }

  /** Adjacent-pair structs of a MATERIALIZED token array — kept as a
    * struct (not [[Dedup.ngrams]]' joined string) because scoring keys
    * the model join on the two words separately. `arrays_zip` over two
    * shifted slices, NOT `transform(sequence(...), i -> struct(...))`:
    * HOF lambdas evaluate interpreted, and the lambda form measured
    * ~7× slower end-to-end on the registered query (slice/arrays_zip
    * stay inside whole-stage codegen). */
  private[ext] def bigramStructs(toks: org.apache.spark.sql.Column) =
    gramStructs(toks, 2)

  /** Adjacent n-tuple structs at any width — [[bigramStructs]]'
    * shifted-slice `arrays_zip` generalized (same codegen rationale:
    * slice/arrays_zip stay inside whole-stage codegen where a HOF
    * lambda would evaluate interpreted). */
  private[ext] def gramStructs(toks: org.apache.spark.sql.Column, n: Int) = {
    val emptyType =
      s"array<struct<${(1 to n).map(i => s"w$i:string").mkString(",")}>>"
    when(size(toks) >= n,
      arrays_zip((1 to n).map(i =>
        slice(toks, lit(i), size(toks) - (n - 1)).as(s"w$i")): _*))
      .otherwise(array().cast(emptyType))
  }

  /** Score documents against a trained model. Appends (all
    * `lm_`-prefixed — the [[QualityScore.scored]] collision rule):
    *
    *   - `lm_grams`      bigrams in the document (0 for < 2 tokens)
    *   - `lm_hits`       grams found in the model's bigram table
    *   - `lm_logp_micro` Σ gram log-probabilities, integer micro-nats
    *   - `lm_ppl`        exp(-avg), 3 dp — null when `lm_grams` = 0
    *   - `lm_band`       head / middle / tail / empty
    *
    * Thresholds are per-gram micro-nats (avg log-prob cuts):
    * [[HeadMicro]] ≈ ppl 100, [[TailMicro]] ≈ ppl 1000 by default. */
  def scored(docs: DataFrame, model: Model, textCol: String = "text",
             keyCol: String = "doc_id",
             headMicro: Long = HeadMicro,
             tailMicro: Long = TailMicro): DataFrame = {
    require(headMicro >= tailMicro,
      s"headMicro ($headMicro) must be >= tailMicro ($tailMicro)")
    scoredN(docs, model, model.order, textCol, keyCol, headMicro, tailMicro)
  }

  /** Order-n stupid backoff, the per-level recursion of Brants et al.
    * written as ONE CASE chain (the VERDICT r10 #5 generalization —
    * the bigram and trigram scorers are the n = 2 / n = 3 instances of
    * this, byte-identically, pinned by the unchanged oracles):
    *
    *   p(wn | w1..wn-1) = c(w1..wn) / c(w1..wn-1)      if cn > 0
    *                    = 0.4 · p(wn | w2..wn-1)        otherwise
    *   …down to…        = 0.4ⁿ⁻¹ · (c(wn)+1)/(total+V)  (Laplace)
    *
    * Each arm is `(n−k)·`[[BackoffMicro]] ADDED as an integer plus ONE
    * rounded log — never ln(0.4^j·p) rounded as a product — so every
    * rounded term stays a pure function of model counts and any SQL
    * replay associates identically. Hit-arm denominators are non-null
    * by construction (a seen k-gram implies its (k−1)-gram context was
    * counted). The probe pre-aggregates per (doc, w1..wn) — the
    * hot-gram skew cap — and scoring joins 2(n−1)+1 count tables plus
    * the broadcast totals: each is one equi-join against a bounded
    * count frame (auto-broadcast when small, sort-merge when not). */
  private def scoredN(docs: DataFrame, model: Model, n: Int,
                      textCol: String, keyCol: String,
                      headMicro: Long, tailMicro: Long): DataFrame = {
    val ws = (1 to n).map(i => s"w$i")
    val probe = docs
      .select(col(keyCol).as("__k"),
        explode(gramStructs(split(Dedup.normText(col(textCol)), "\\s+"), n))
          .as("g"))
      .select((col("__k") +: ws.map(w => col(s"g.$w"))): _*)
      .groupBy("__k", ws: _*).agg(count(lit(1)).as("m"))
    // Level-k hit table = order-k counts on the probe's LAST k words;
    // its denominator = order-(k−1) counts on the same words minus the
    // final one. Renames put each count under a unique name (__c/__x).
    def renamed(k: Int, off: Int, cntAs: String): DataFrame =
      model.countsFor(k).select(
        ((1 to k).map(i => col(s"w$i").as(s"w${i + off}"))
          :+ col(s"c$k").as(cntAs)): _*)
    val joined0 = (n to 2 by -1).foldLeft(probe) { (acc, k) =>
      val off = n - k
      acc
        .join(renamed(k, off, s"__c$k"),
          (off + 1 to n).map(i => s"w$i"), "left")
        .join(renamed(k - 1, off, s"__x$k"),
          (off + 1 to n - 1).map(i => s"w$i"), "left")
    }
    val joined = joined0
      .join(model.unigrams.select(col("w").as(s"w$n"), col("c1").as("__cu")),
        Seq(s"w$n"), "left")
      .join(broadcast(model.totals))
    // ONE rounding per gram; exact integers after this point. The
    // backoff's ln(0.4^j · p) splits into j·BackoffMicro +
    // round(1e6 ln p): integer constants added — replayable exactly.
    val laplace = lit((n - 1) * BackoffMicro) +
      round(lit(1e6) * log(
        (coalesce(col("__cu"), lit(0L)) + lit(1L)).cast("double") /
          (col("total_toks") + col("vocab")))).cast("long")
    val gramMicro = (2 to n).foldLeft(laplace: Column) { (lower, k) =>
      val hit = round(lit(1e6) *
        log(col(s"__c$k").cast("double") / col(s"__x$k"))).cast("long")
      when(col(s"__c$k").isNotNull,
        if (k == n) hit else lit((n - k) * BackoffMicro) + hit)
        .otherwise(lower)
    }
    val perDoc = joined
      .groupBy(col("__k"))
      .agg(sum(col("m")).as("lm_grams"),
        sum(when(col(s"__c$n").isNotNull, col("m")).otherwise(lit(0L)))
          .as("lm_hits"),
        sum(col("m") * gramMicro).as("lm_logp_micro"))
    assemble(docs, perDoc, keyCol, headMicro, tailMicro)
  }

  /** The shared per-document reassembly: left-join the probe aggregate
    * back (zero-gram docs coalesce to 0/empty), derive display `lm_ppl`
    * FROM the integer sum, band by integer cross-multiply. */
  private def assemble(docs: DataFrame, perDoc: DataFrame, keyCol: String,
                       headMicro: Long, tailMicro: Long): DataFrame =
    docs
      .join(perDoc.withColumnRenamed("__k", keyCol), Seq(keyCol), "left")
      .withColumn("lm_grams", coalesce(col("lm_grams"), lit(0L)))
      .withColumn("lm_hits", coalesce(col("lm_hits"), lit(0L)))
      .withColumn("lm_logp_micro", coalesce(col("lm_logp_micro"), lit(0L)))
      .withColumn("lm_ppl",
        when(col("lm_grams") > 0,
          round(exp(-col("lm_logp_micro").cast("double") / lit(1e6) /
            col("lm_grams")), 3)))
      .withColumn("lm_band",
        when(col("lm_grams") === 0, lit("empty"))
          .when(col("lm_logp_micro") >= lit(headMicro) * col("lm_grams"),
            lit("head"))
          .when(col("lm_logp_micro") >= lit(tailMicro) * col("lm_grams"),
            lit("middle"))
          .otherwise(lit("tail")))
}
