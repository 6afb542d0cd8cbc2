package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** X20 — in-data temporal drift: Population Stability Index of the
  * value distribution per event type, each calendar week against the
  * table's earliest week as baseline. Complements V5 (cross-RUN drift
  * of check results) with the within-table question a data-quality
  * pipeline actually asks first: "did this week's data change shape?"
  *
  * PSI = Σ_bins (p−q)·ln(p/q) over fixed-width value bins with +1
  * smoothing on BOTH sides over the union of observed bins (no zero
  * bins, no data-dependent bin edges — deterministic and replayable;
  * quantile edges would make the oracle chase percentile estimators).
  * Convention: < 0.1 stable, 0.1–0.25 moderate, > 0.25 shifted.
  *
  * Float discipline (the x15/x16 micro-nat pattern): ONE rounding per
  * bin — round(1e6·(p−q)·ln(a·B / (b·A))) — then integer sums, so
  * aggregation order can never perturb the hash; products run in
  * double (a 10¹²-count bin × total would overflow long). Every bin
  * contribution is ≥ 0 ((p−q) and ln(p/q) share sign), so half-up vs
  * half-away rounding cannot diverge either.
  *
  * Scale shape: ONE corpus shuffle (the (week, type, bin) partial-agg
  * census — at any data size its result is |weeks|·|types|·|bins|
  * rows, i.e. tiny); everything after (baseline slice, bin grid,
  * totals, PSI) is arithmetic on that census via broadcast joins. The
  * baseline week is discovered IN-PLAN (one-row broadcast of
  * min(week)), not a driver fetch.
  */
object PsiDrift {

  /** NULL values fall out of the smoothing grid (a null bin matches no
    * equi-join key — identically in Spark and the SQL replay), so PSI
    * and `n_events` cover non-null values only; callers wanting a
    * missing-value bucket should pre-coalesce the value column to a
    * sentinel.
    *
    * The census is pinned once ([[graft.Pin]]): it is consumed by FIVE
    * derived frames — baseline slice, grid×2, smoothing join, totals —
    * which would otherwise each re-scan the events table; the census is
    * |weeks|·|types|·|bins| rows at ANY corpus size, so pinning is
    * free. */
  def psiByWeek(events: DataFrame, valueCol: String = "value",
                typeCol: String = "event_type", tsCol: String = "ts",
                binWidth: Double = 25.0): DataFrame = {
    require(binWidth > 0, s"binWidth ($binWidth) must be positive")
    val week = floor(unix_timestamp(col(tsCol)) / lit(604800L)).cast("long")
    val bin = floor(col(valueCol) / lit(binWidth)).cast("long")
    val counts = graft.Pin(events
      .select(week.as("week"), col(typeCol).as("event_type"), bin.as("bin"))
      .groupBy("week", "event_type", "bin")
      .agg(count(lit(1)).as("n")))
    // All frames below are derived from the tiny census — broadcast.
    val baseWeek = counts.agg(min(col("week")).as("base_week"))
    val base = counts.join(broadcast(baseWeek), col("week") === col("base_week"))
      .select(col("event_type"), col("bin"), col("n").as("nb"))
    val grid = counts.select("week").distinct()
      .crossJoin(counts.select("event_type", "bin").distinct())
    val smoothed = grid
      .join(counts, Seq("week", "event_type", "bin"), "left")
      .join(broadcast(base), Seq("event_type", "bin"), "left")
      .withColumn("n_raw", coalesce(col("n"), lit(0L)))
      .withColumn("a", col("n_raw") + 1)
      .withColumn("b", coalesce(col("nb"), lit(0L)) + 1)
    val totals = smoothed.groupBy("week", "event_type")
      .agg(sum(col("a")).as("ta"), sum(col("b")).as("tb"))
    smoothed
      .join(broadcast(totals), Seq("week", "event_type"))
      .withColumn("contrib_micro",
        round((col("a").cast("double") / col("ta")
            - col("b").cast("double") / col("tb"))
          * log((col("a").cast("double") * col("tb"))
            / (col("b").cast("double") * col("ta")))
          * lit(1000000.0), 0).cast("long"))
      .groupBy("week", "event_type")
      .agg(sum(col("n_raw")).as("n_events"),
        sum(col("contrib_micro")).as("psi_micro"))
      .withColumn("psi", round(col("psi_micro") / lit(1000000.0), 4))
      .orderBy("week", "event_type")
  }
}
