package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.{Dedup, Dsir, NgramLm, Sampling}

/** Libm-drift audit for the x15/x16 oracle comparisons.
  *
  * Their micro-nat columns are `round(1e6·ln(...))`, computed
  * INDEPENDENTLY by the JVM (Spark) and by DuckDB's libm. `ln` is not
  * IEEE-correctly-rounded, so the two engines may legally differ by
  * ~1 ulp — harmless UNLESS a pre-round value sits within that ulp of
  * a .5 rounding boundary, where the rounded integers would differ by
  * 1 and the driver's hash compare would flake (platform/libm-version
  * dependent). No formula that needs `ln` can meet the engine-replay
  * invariant ("plain integer math or IEEE-exact ops") exactly; the
  * one-rounding design shrinks the exposure to a single round per
  * gram, and this spec closes the loop by MEASURING the boundary
  * slack of every such value over the verify corpus (sf0.01, the SF
  * the driver's oracle gate runs at) and pinning it at ≥ 1e-6 — a
  * couple hundred ulps of headroom (1 ulp of 1e6·ln here is ~4e-9).
  * A green verify is then robust to ANY faithfully-rounding libm
  * pair, not just the pair on this machine; and if the testdata ever
  * regenerates such that a value lands near a boundary, this fails
  * loudly instead of the oracle flaking silently on some platform.
  *
  * The value re-derivations below deliberately mirror the ORACLE SQL
  * (`Lanes.dsirWeightCtes` / `x15_lm_ppl`) — the oracle's inputs are
  * the thing whose slack matters.
  */
class MicroNatSlackSpec extends SparkSpec {

  /** The SF the driver's verify/oracle gate runs at. */
  private val oracleSf = "/root/testdata/sf0.01"

  /** ≈250 ulps of 1e6·ln at its largest magnitude here (~2e7). */
  private val MinSlack = 1e-6

  /** Minimum distance of `v` from the nearest round-half boundary. */
  private def minSlack(values: DataFrame): Double = {
    val frac = col("v") - floor(col("v"))
    val out = values.filter(col("v").isNotNull)
      .agg(min(abs(frac - lit(0.5)))).head
    assert(!out.isNullAt(0), "no values to audit — fixture broke")
    out.getDouble(0)
  }

  private def docs: DataFrame = Tables.documents(spark, oracleSf)

  test("x15 per-gram log-probs sit >=1e-6 from rounding boundaries") {
    val model = NgramLm.train(docs.filter(col("doc_id") < 300))
    val toks = docs.filter(col("doc_id") >= 300)
      .select(col("doc_id"),
        posexplode(split(Dedup.normText(coalesce(col("text"), lit(""))),
          "\\s+")))
      .toDF("doc_id", "ord", "tok")
      .filter(col("tok") =!= "")
    val w = Window.partitionBy("doc_id").orderBy("ord")
    val probe = toks.withColumn("w2", lead(col("tok"), 1).over(w))
      .filter(col("w2").isNotNull)
      .select(col("tok").as("w1"), col("w2")).distinct()
    val g = probe
      .join(model.bigrams, Seq("w1", "w2"), "left")
      .join(model.unigrams.select(col("w").as("w1"), col("c1").as("c1w1")),
        Seq("w1"), "left")
      .join(model.unigrams.select(col("w").as("w2"), col("c1").as("c1w2")),
        Seq("w2"), "left")
      .crossJoin(model.totals)
    // The oracle's g CTE: hit = ln(c2/c1[w1]); backoff = ln of the
    // +1-smoothed unigram (BackoffMicro adds as an exact integer and
    // cannot move a boundary).
    val v = when(col("c2").isNotNull,
        lit(1e6) * log(col("c2").cast("double") / col("c1w1")))
      .otherwise(lit(1e6) * log(
        (coalesce(col("c1w2"), lit(0L)) + lit(1)).cast("double")
          / (col("total_toks") + col("vocab"))))
    val s = minSlack(g.select(v.as("v")))
    assert(s >= MinSlack, f"x15 gram slack $s%.3e < $MinSlack%.0e")
  }

  test("x10 ppl-funnel gram log-probs sit >=1e-6 from rounding boundaries") {
    // The funnel scores EVERY document's (redacted) text against the
    // docs<300 model — a strict superset of the x15 probe set (which
    // scores only docs >= 300), so its oracle needs its own audit.
    val model = NgramLm.train(docs.filter(col("doc_id") < 300))
    val toks = graft.ext.Pii.redact(docs)
      .select(col("doc_id"),
        posexplode(split(Dedup.normText(coalesce(col("text"), lit(""))),
          "\\s+")))
      .toDF("doc_id", "ord", "tok")
      .filter(col("tok") =!= "")
    val w = Window.partitionBy("doc_id").orderBy("ord")
    val probe = toks.withColumn("w2", lead(col("tok"), 1).over(w))
      .filter(col("w2").isNotNull)
      .select(col("tok").as("w1"), col("w2")).distinct()
    val g = probe
      .join(model.bigrams, Seq("w1", "w2"), "left")
      .join(model.unigrams.select(col("w").as("w1"), col("c1").as("c1w1")),
        Seq("w1"), "left")
      .join(model.unigrams.select(col("w").as("w2"), col("c1").as("c1w2")),
        Seq("w2"), "left")
      .crossJoin(model.totals)
    val v = when(col("c2").isNotNull,
        lit(1e6) * log(col("c2").cast("double") / col("c1w1")))
      .otherwise(lit(1e6) * log(
        (coalesce(col("c1w2"), lit(0L)) + lit(1)).cast("double")
          / (col("total_toks") + col("vocab"))))
    val s = minSlack(g.select(v.as("v")))
    assert(s >= MinSlack, f"x10 ppl-funnel gram slack $s%.3e < $MinSlack%.0e")
  }

  test("x15 ppl 3-dp display sits >=1e-6 from rounding boundaries") {
    val model = NgramLm.train(docs.filter(col("doc_id") < 300))
    val scored = NgramLm.scored(docs.filter(col("doc_id") >= 300), model)
      .filter(col("lm_grams") > 0)
    // round(x, 3) boundaries are .5 boundaries of 1000·x; the exp() is
    // the other libm call the ppl column makes in both engines.
    val v = exp(-col("lm_logp_micro").cast("double") / lit(1e6)
      / col("lm_grams")) * lit(1000)
    val s = minSlack(scored.select(v.as("v")))
    assert(s >= MinSlack, f"x15 ppl slack $s%.3e < $MinSlack%.0e")
  }

  test("x16 per-bucket log-ratios sit >=1e-6 from rounding boundaries") {
    val m = Dsir.fit(docs.filter(col("doc_id") < 300),
      docs.filter(col("doc_id") >= 300))
    val lam = Dsir.DefaultLambda
    val unif = (1.0 - lam) / Dsir.DefaultBuckets
    def p(c: Column, n: Column) =
      lit(lam) * (c.cast("double") / greatest(n, lit(1L))) + lit(unif)
    // The oracle's gm CTE over every observed bucket (a superset of
    // the buckets any probe joins: unobserved-in-both buckets score an
    // exact 0 and never round).
    val v = lit(1e6) * log(p(col("ct"), col("nt")) / p(col("cr"), col("nr")))
    val s = minSlack(m.bucketCounts.crossJoin(m.totals).select(v.as("v")))
    assert(s >= MinSlack, f"x16 bucket slack $s%.3e < $MinSlack%.0e")
  }

  test("x16 gumbel keys sit >=1e-6 from rounding boundaries") {
    val u = (Sampling.hash64(col("doc_id"), 42L ^ Sampling.GumbelSalt)
      .cast("double") + lit(0.5)) / lit(9.223372036854775808e18)
    val v = lit(-1e6) * log(-log(u))
    val s = minSlack(docs.filter(col("doc_id") >= 300).select(v.as("v")))
    assert(s >= MinSlack, f"x16 gumbel slack $s%.3e < $MinSlack%.0e")
  }

  test("x20 per-bin PSI contributions sit >=1e-6 from rounding boundaries") {
    // Mirrors the oracle's sm/tot CTEs: width-25 bins, +1 smoothing over
    // the weeks × observed-(type,bin) grid, contributions in micro-nats.
    val ev = Tables.events(spark, oracleSf)
    val counts = ev.select(
        floor(unix_timestamp(col("ts")) / lit(604800L)).cast("long").as("week"),
        col("event_type"),
        floor(col("value") / lit(25.0)).cast("long").as("bin"))
      .groupBy("week", "event_type", "bin").agg(count(lit(1)).as("n"))
    val base = counts
      .join(counts.agg(min(col("week")).as("bw")), col("week") === col("bw"))
      .select(col("event_type"), col("bin"), col("n").as("nb"))
    val sm = counts.select("week").distinct()
      .crossJoin(counts.select("event_type", "bin").distinct())
      .join(counts, Seq("week", "event_type", "bin"), "left")
      .join(base, Seq("event_type", "bin"), "left")
      .withColumn("a", coalesce(col("n"), lit(0L)) + 1)
      .withColumn("b", coalesce(col("nb"), lit(0L)) + 1)
    val tot = sm.groupBy("week", "event_type")
      .agg(sum(col("a")).as("ta"), sum(col("b")).as("tb"))
    val diff = col("a").cast("double") / col("ta") -
      col("b").cast("double") / col("tb")
    val v = diff * log((col("a").cast("double") * col("tb")) /
      (col("b").cast("double") * col("ta"))) * lit(1e6)
    // ln(1) = 0 exactly in every libm — identical-count bins contribute
    // a boundary-free exact 0 and are excluded from the slack scan.
    val s = minSlack(sm.join(tot, Seq("week", "event_type"))
      .filter(col("a") * col("tb") =!= col("b") * col("ta"))
      .select(v.as("v")))
    assert(s >= MinSlack, f"x20 psi bin slack $s%.3e < $MinSlack%.0e")
  }

  test("g23 KL contributions sit >=1e-6 from rounding boundaries") {
    // Mirrors the g23 lane's three declared partitions over the events
    // type census (KlDivergenceCheck.census): one rounding per
    // (declaration, value) of (n/N)·ln(n·1e6/(N·ppm))·1e6.
    val ev = Tables.events(spark, oracleSf)
    val types = Seq("click", "error", "purchase", "signup", "view")
    val decls = Seq(
      types.map(_ -> 200000L),
      types.map(t => t -> (if (t == "click") 600000L else 100000L)),
      types.filterNot(_ == "error").map(_ -> 250000L))
    val counts = ev.filter(col("event_type").isNotNull)
      .groupBy(col("event_type").cast("string").as("__v"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toSeq
    val total = counts.map(_._2).sum.toDouble
    val pre = for {
      decl <- decls
      ppmOf = decl.toMap
      (v, n) <- counts
      ppm <- ppmOf.get(v)
    } yield (n / total) * math.log(n * 1e6 / (total * ppm)) * 1e6
    assert(pre.nonEmpty)
    import spark.implicits._
    val s = minSlack(pre.toDF("v"))
    assert(s >= MinSlack, f"g23 kl slack $s%.3e < $MinSlack%.0e")
  }

  test("g24 chi-square contributions sit >=1e-6 from rounding " +
       "boundaries") {
    // Mirrors the g24 lane's three declared partitions
    // (ChiSquareCheck.census): one rounding per (declaration, value)
    // of D²/(N·ppm) with D = n·1e6 − N·ppm exact in longs — including
    // the declared-but-unobserved refund term (n = 0 → the value is
    // the exact integer N·ppm, maximal slack by construction).
    val ev = Tables.events(spark, oracleSf)
    val types = Seq("click", "error", "purchase", "signup", "view")
    val decls = Seq(
      types.map(_ -> 200000L),
      types.map(t => t -> (if (t == "click") 600000L else 100000L)),
      Seq("click", "purchase", "refund", "signup", "view")
        .map(_ -> 200000L))
    val counts = ev.filter(col("event_type").isNotNull)
      .groupBy(col("event_type").cast("string").as("__v"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val total = counts.values.sum
    val pre = for {
      decl <- decls
      (v, ppm) <- decl
      n = counts.getOrElse(v, 0L)
      d = n * 1000000L - total * ppm
    } yield d.toDouble * d.toDouble / (total * ppm).toDouble
    assert(pre.nonEmpty)
    import spark.implicits._
    val s = minSlack(pre.toDF("v"))
    assert(s >= MinSlack, f"g24 chi2 slack $s%.3e < $MinSlack%.0e")
  }

  test("x24 idf micro-nats sit >=1e-6 from rounding boundaries") {
    // Mirrors the oracle's dfc/n CTEs: one ln per distinct df value
    // (ln(N/N) = 0 is exact in every libm and excluded like x20's
    // identical-count bins).
    val d = docs
    val tf = d.select(col("doc_id"),
        explode(graft.ext.TextAnalysis.tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val v = log(lit(d.count().toDouble) / col("df")) * lit(1e6)
    val s = minSlack(dfc.select("df").distinct()
      .filter(col("df") =!= d.count())
      .select(v.as("v")))
    assert(s >= MinSlack, f"x24 idf slack $s%.3e < $MinSlack%.0e")
  }

  test("x24 bm25 idf micro-nats sit >=1e-6 from rounding boundaries") {
    // The BM25 oracle's one rounding: round(1e6·ln(1 + (N−df+½)/(df+½)))
    // over the query terms' df values — mirror the oracle's formula
    // exactly. df ranges over the three registered query terms PLUS
    // every df value the corpus could hand a future term (cheap: all
    // distinct df values of the full vocabulary), so a testdata regen
    // landing any term near a boundary fails here first.
    val d = docs
    val tf = d.filter(col("text").isNotNull)
      .select(col("doc_id"),
        explode(graft.ext.TextAnalysis.tokens(col("text"))).as("term"))
      .filter(col("term") =!= "")
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val dfc = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val n = d.count().toDouble
    val v = log(lit(1.0) +
      (lit(n) - col("df") + lit(0.5)) / (col("df") + lit(0.5))) * lit(1e6)
    val s = minSlack(dfc.select("df").distinct().select(v.as("v")))
    assert(s >= MinSlack, f"bm25 idf slack $s%.3e < $MinSlack%.0e")
  }

  test("x41 pmi micro-nats sit >=1e-6 from rounding boundaries") {
    // Mirrors the x41 oracle's scored CTE exactly: the pinned
    // multiply/divide association inside the single ln, over every
    // surviving (>= minCount) pair of the verify corpus.
    val toks = docs
      .filter(col("text").isNotNull && length(trim(col("text"))) > 0)
      .select(graft.ext.TextAnalysis.tokens(col("text")).as("__toks"))
    val uni = toks.select(explode(col("__toks")).as("w"))
      .filter(col("w") =!= "").groupBy("w").agg(count(lit(1)).as("c"))
    val big = toks
      .select(explode(graft.ext.Collocations.pairStructs(col("__toks"))).as("g"))
      .select(col("g.w1").as("w1"), col("g.w2").as("w2"))
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
      .filter(col("c12") >= 5L)
    val t = toks.agg(
      sum(size(col("__toks"))).cast("long").as("__nu"),
      sum(greatest(size(col("__toks")) - 1, lit(0))).cast("long").as("__nb"))
    val v = log(((col("c12") * lit(1.0) * col("__nu")) / col("__nb")) *
      ((col("__nu") * lit(1.0)) / col("c1")) / col("c2")) * lit(1e6)
    val s = minSlack(big
      .join(uni.withColumnRenamed("w", "w1").withColumnRenamed("c", "c1"), "w1")
      .join(uni.withColumnRenamed("w", "w2").withColumnRenamed("c", "c2"), "w2")
      .crossJoin(broadcast(t)).select(v.as("v")))
    assert(s >= MinSlack, f"x41 pmi slack $s%.3e < $MinSlack%.0e")
  }

  test("x20 4-dp psi display cannot tie (no |psi_micro| = 50 mod 100)") {
    val ties = graft.ext.PsiDrift.psiByWeek(Tables.events(spark, oracleSf))
      .filter(pmod(abs(col("psi_micro")), lit(100L)) === 50L)
      .count()
    assert(ties == 0L, s"$ties psi_micro values tie at the 4-dp boundary")
  }

  test("3-dp micro displays cannot tie (no |micro| = 500 mod 1000)") {
    // dsir_logw = round(micro/1e6, 3) ties exactly when micro ends in
    // ±500; the tie-break then depends on each engine's decimal
    // rounding path rather than on ln at all. Integer check — exact.
    val (_, scored) = Pin.lazily(Dsir.fitScored(
      docs.filter(col("doc_id") < 300), docs.filter(col("doc_id") >= 300)))
    val ties = scored
      .filter(pmod(abs(col("dsir_logw_micro")), lit(1000L)) === 500L)
      .count()
    assert(ties == 0L, s"$ties dsir micro values tie at the 3-dp boundary")
  }
}
