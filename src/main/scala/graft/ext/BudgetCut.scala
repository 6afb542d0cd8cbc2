package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** X26 — quality-ordered exact token-budget cut: "train on the best
  * B tokens". Order the corpus by (quality DESC, key ASC) and keep the
  * greedy prefix whose running token total stays ≤ `budget` — the
  * deterministic selection every budgeted training run publishes
  * ("the top-quality 1B tokens"), distinct from [[Mixing.mixToBudget]]
  * (per-source RATE sampling to a budget: probabilistic membership,
  * source-shaped) and from [[TopK.topNPerGroup]] (per-group row caps):
  * this is one GLOBAL ordered cut measured in tokens, not rows.
  *
  * Semantics (prefix cut, not knapsack): a document is kept iff the
  * running total INCLUDING its own tokens is ≤ budget; the document
  * that crosses the budget is dropped and later (lower-quality) smaller
  * documents are NOT backfilled — the kept set is a contiguous prefix
  * of the total order, so the selection is reproducible from (ordering,
  * budget) alone. Zero-token documents inside the prefix are kept (they
  * consume nothing). Rows with NULL quality are dropped up front — a
  * null can never rank "best", and Spark and SQL engines disagree on
  * null ordering, so admitting them would make the cut engine-defined.
  *
  * The naive plan — `sum(tokens) OVER (ORDER BY quality DESC, key)` —
  * is an un-partitioned global window: EVERY row shuffles to ONE task
  * which sorts the whole corpus (the terminal-writer bottleneck reborn
  * in selection, same disease as the naive top-N — see
  * [[TopK.topNPerGroup]]). Staged exact plan instead:
  *
  *  1. band the quality axis (`band = floor(quality / bandWidth)` — an
  *     order-respecting coarsening: band(q) > band(q') ⟹ q > q', and
  *     equal qualities share a band, so band boundaries can never split
  *     a tie) and take a per-band token census — ONE partial-agg
  *     shuffle of `range(quality)/bandWidth` rows;
  *  2. walk the census highest-band-first on the driver (bounded: the
  *     census is capped at 100k bands — pick `bandWidth` so the quality
  *     range maps to ≲10³ bands; the walk is O(bands)): bands whose
  *     totals fit entirely are kept whole, the first band that crosses
  *     the budget is THE cut band, every band below is dropped whole;
  *  3. only the cut band — ~1/bands of the corpus — pays the ordered
  *     window, with the leftover budget from step 2. Full-keep bands
  *     pass through a map-only filter; the two branches union.
  *
  * Exactness: the band walk consumes bands in exactly the global order
  * (strictly higher band ⟹ strictly higher quality), and inside the
  * cut band the window continues the same (quality DESC, key ASC)
  * order, so staged result ≡ the global greedy prefix for ANY
  * bandWidth — property-tested across bandWidths and repartitionings.
  *
  * 100 TB shape: one tiny census shuffle + one bounded driver walk +
  * two map-only scans + an ordered window over ONE band (pick
  * `bandWidth` so a band ≪ one executor; recurse the banding if a
  * single band is still too hot). Compare: the naive global window
  * moves all 100 TB through one sorting task.
  */
object BudgetCut {

  /** Maximum per-band census rows fetched to the driver. */
  val MaxBands = 100000

  /** Keep the greedy (qualityCol DESC, keyCol ASC) prefix with total
    * whitespace-token count ≤ `budget`. Output = the kept input rows
    * plus their `tokens` count. Runs the band census (one tiny Spark
    * job) at construction. */
  def cut(docs: DataFrame, qualityCol: String, budget: Long,
          textCol: String = "text", keyCol: String = "doc_id",
          bandWidth: Long = 16L): DataFrame =
    cutBy(docs, qualityCol, budget,
      TextAnalysis.tokenCount(col(textCol)), keyCol, bandWidth)

  /** [[cut]] measured in a CALLER-SUPPLIED per-row token count (e.g.
    * real BPE tokens from the trained vocab — what a production budget
    * is actually denominated in; `cut` is this with the whitespace
    * counter). `tokensOf` must be non-negative and non-null on every
    * row the quality filter admits — a null would silently vanish
    * from the census sum while the row itself stayed cuttable, so it
    * is rejected loudly per-row in the banding projection. */
  def cutBy(docs: DataFrame, qualityCol: String, budget: Long,
            tokensOf: org.apache.spark.sql.Column,
            keyCol: String = "doc_id",
            bandWidth: Long = 16L): DataFrame = {
    require(budget >= 0L, s"budget ($budget) must be >= 0")
    require(bandWidth >= 1L, s"bandWidth ($bandWidth) must be >= 1")
    val banded = withBands(docs, qualityCol, tokensOf, bandWidth)

    val census = banded.groupBy("__bc_band")
      .agg(sum("tokens").as("__bc_t"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)))
      .sortBy(-_._1)
    require(census.length <= MaxBands,
      s"band census has ${census.length} rows (> $MaxBands): raise " +
        s"bandWidth ($bandWidth) so the quality range maps to fewer bands")

    // Driver walk: full bands while they fit; first crossing = cut band.
    var cum = 0L
    var cutBand = Option.empty[(Long, Long)] // (band, leftover budget)
    val it = census.iterator
    while (cutBand.isEmpty && it.hasNext) {
      val (band, t) = it.next()
      if (cum + t <= budget) cum += t
      else cutBand = Some((band, budget - cum))
    }

    cutBand match {
      case None => banded.drop("__bc_band") // whole corpus fits
      case Some((band, leftover)) =>
        phaseB(banded, qualityCol, keyCol, band, leftover)
    }
  }

  /** Step 3: full-keep bands map-only, the ONE cut band pays the
    * ordered window with the leftover budget. */
  private def phaseB(banded: DataFrame, qualityCol: String,
                     keyCol: String, band: Long,
                     leftover: Long): DataFrame = {
    val w = Window.partitionBy("__bc_band")
      .orderBy(col(qualityCol).desc, col(keyCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val inCut = banded.filter(col("__bc_band") === band)
      .withColumn("__bc_cum", sum("tokens").over(w))
      .filter(col("__bc_cum") <= leftover)
      .drop("__bc_cum")
    banded.filter(col("__bc_band") > band)
      .unionByName(inCut)
      .drop("__bc_band")
  }

  /** Null-quality rows dropped; `tokens` (loud on null/negative — a
    * null token count would silently vanish from the census sum while
    * its row stayed cuttable) + the order-respecting band (`floor`
    * keeps band order correct for negative qualities too — integer
    * division would truncate toward zero). */
  private def withBands(docs: DataFrame, qualityCol: String,
                        tokensOf: org.apache.spark.sql.Column,
                        bandWidth: Long): DataFrame =
    docs.filter(col(qualityCol).isNotNull)
      .withColumn("tokens",
        when(tokensOf.isNull || tokensOf < 0,
          raise_error(lit("BudgetCut: null/negative token count on a " +
            "cuttable row")).cast("long"))
          .otherwise(tokensOf.cast("long")))
      .withColumn("__bc_band",
        floor(col(qualityCol).cast("double") / lit(bandWidth.toDouble))
          .cast("long"))
}
