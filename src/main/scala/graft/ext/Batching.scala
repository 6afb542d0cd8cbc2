package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** X39 — length-bucketed padded batching: the OTHER standard way to turn
  * ragged documents into fixed-shape training/inference batches, next to
  * [[Packing]]'s concat-and-chunk. Fine-tuning and batch inference pad
  * every example in a batch to the batch maximum; batching similar
  * lengths together is what keeps the padding waste down (a 10-token
  * example in a 2048-token batch is 99.5% pad). The operator:
  *
  *   1. bands documents by token count (`band = min(n_tok div bandWidth,
  *      nBands−1)` — fixed-width integer bands, the [[BudgetCut]]
  *      banding discipline: data-independent, order-respecting);
  *   2. ranks documents WITHIN their band in key order and groups every
  *      `batchSize` consecutive ranks into a batch
  *      (`batch_idx = rank div batchSize`);
  *   3. audits the waste: each batch pads to its own max token count.
  *
  * The scale hazard is step 2: a per-band `row_number()` window shuffles
  * every row of a band to ONE reducer — an 80%-of-corpus band is the
  * single-task sort reborn ([[TopK]]'s exact reasoning). The rank is
  * instead the [[Packing]] hierarchical scan with the band joined into
  * every level's partition key: within-(band, block) cumsum of row
  * counts (parallel), per-(band, superblock) block offsets (parallel),
  * and only the (band, superblock)-TOTAL rows — bands ×
  * keyspace/(blockSize·fanout), dim-sized at any corpus — see a
  * per-band unpartitioned scan, a bound the census enforces at run
  * time: a superblock id at [[Packing.MaxSuperblocks]] fails the task,
  * as in [[Packing.packSequences]]. Counts are integers, so the
  * assignment is bit-for-bit invariant to partitioning, blockSize, and
  * fanout, and a plain per-band window replays it exactly (the oracle's
  * form).
  *
  * Key-order ranking (not length-order) is deliberate: within a band
  * lengths differ by < bandWidth, so sorting further buys almost no
  * padding while key order keeps the batch an arbitrary hash-mixed
  * sample (a strict length sort would make every batch a near-duplicate
  * length clique — bad gradient mixing for training).
  */
object Batching {

  /** Per-document batch assignment: (keyCol, n_tok, band, batch_idx,
    * seq_in_batch). Zero-token documents drop (nothing to pad to). */
  def assignBatches(docs: DataFrame, textCol: String = "text",
                    keyCol: String = "doc_id", bandWidth: Long = 64L,
                    nBands: Int = 32, batchSize: Long = 32L,
                    blockSize: Long = 100000L,
                    fanout: Long = 10000L): DataFrame = {
    require(bandWidth > 0 && nBands > 0 && batchSize > 0 &&
      blockSize > 0 && fanout > 0, "all batching parameters must be positive")
    val toks = docs
      .select(col(keyCol), TextAnalysis.tokenCount(col(textCol)).as("n_tok"))
      .filter(col("n_tok") > 0)
      .withColumn("band",
        least(expr(s"n_tok div $bandWidth"), lit(nBands - 1L)).cast("long"))
      .withColumn("__blk", expr(s"$keyCol div $blockSize"))

    // Hierarchical per-band exclusive rank (count of band rows with a
    // smaller key): the Packing scan with `band` in every partition key.
    val localW = Window.partitionBy("band", "__blk").orderBy(keyCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = toks.withColumn("__local",
      coalesce(sum(lit(1L)).over(localW), lit(0L)))

    val blockTotals = toks.groupBy("band", "__blk")
      .agg(count(lit(1)).as("__bt"))
      .withColumn("__sblk", expr(s"__blk div $fanout"))
    val withinSuperW = Window.partitionBy("band", "__sblk").orderBy("__blk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val superW = Window.partitionBy("band").orderBy("__sblk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val superOffsets = blockTotals.groupBy("band", "__sblk")
      .agg(sum(col("__bt")).as("__st"))
      .withColumn("__sblk", Packing.boundedSuperblock("batching"))
      .withColumn("__soff", coalesce(sum(col("__st")).over(superW), lit(0L)))
      .select("band", "__sblk", "__soff")
    val offsets = blockTotals
      .withColumn("__within",
        coalesce(sum(col("__bt")).over(withinSuperW), lit(0L)))
      .join(broadcast(superOffsets), Seq("band", "__sblk"))
      .withColumn("__off", col("__soff") + col("__within"))
      .select("band", "__blk", "__off")

    local.join(broadcast(offsets), Seq("band", "__blk"))
      .withColumn("__rank", col("__off") + col("__local"))
      .select(col(keyCol), col("n_tok"), col("band"),
        expr(s"__rank div $batchSize").as("batch_idx"),
        expr(s"__rank % $batchSize").as("seq_in_batch"))
  }

  /** The padding-waste audit: one row per (band, batch_idx) with the
    * batch census and `pad_waste_ppm = (padded − actual)·10⁶ div
    * padded` — a partial-agg groupBy over [[assignBatches]], nothing
    * else. The corpus-level number this reports (vs the ~single-band
    * waste of naive key-order batching) is the operator's reason to
    * exist. */
  def batchAudit(docs: DataFrame, textCol: String = "text",
                 keyCol: String = "doc_id", bandWidth: Long = 64L,
                 nBands: Int = 32, batchSize: Long = 32L,
                 blockSize: Long = 100000L,
                 fanout: Long = 10000L): DataFrame =
    assignBatches(docs, textCol, keyCol, bandWidth, nBands, batchSize,
      blockSize, fanout)
      .groupBy("band", "batch_idx")
      .agg(count(lit(1)).as("n_docs"),
        max(col("n_tok")).as("max_tok"),
        sum(col("n_tok")).as("actual_tok"))
      .withColumn("padded_tok", col("n_docs") * col("max_tok"))
      .withColumn("pad_waste_ppm",
        expr("((padded_tok - actual_tok) * 1000000) div padded_tok"))
}
