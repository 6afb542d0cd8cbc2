package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** X9 — sequence packing for LLM pretraining: concatenate the corpus in
  * a deterministic document order and chunk the token stream into
  * fixed-length training sequences (`seqLen`), emitting for every
  * document the sequences it lands in and its token span within each —
  * the standard concat-and-chunk packing that turns ragged documents
  * into dense fixed-shape batches.
  *
  * The hard part at scale is the GLOBAL exclusive prefix sum of token
  * counts: a single `Window.orderBy` over the corpus would shuffle
  * everything into one partition. Instead, a hierarchical scan:
  *
  *  1. documents group into key-range BLOCKS (`__blk = key / blockSize`)
  *     — a deterministic, data-independent partitioning;
  *  2. within-block exclusive cumsum: window partitioned by block
  *     (parallel across blocks);
  *  3. block offsets, themselves two-level: blocks group into
  *     SUPERBLOCKS of `fanout` blocks; within-superblock cumsum of block
  *     totals runs partitioned (parallel), and only the superblock
  *     totals see an unpartitioned window — keyspace/(blockSize·fanout)
  *     rows, ≤ ~10³ even at a 10¹² key space with the defaults. All
  *     sums are integer, so the regrouping is exact and the output is
  *     identical for every (blockSize, fanout).
  *
  * `start = blockOffset + localCumsum` is independent of Spark's
  * physical partitioning, so the packing is bit-for-bit reproducible
  * across runs, cluster sizes, and engines (the DuckDB oracle replays it
  * with one ORDER BY window — affordable single-node).
  *
  * Output: (keyCol, seq_id, begin_tok, end_tok, n_tok) — one row per
  * (document, sequence) intersection; a document crossing a boundary
  * emits one row per sequence it spans. `begin_tok`/`end_tok` are the
  * within-document token span [begin, end) contributing to `seq_id`.
  *
  * `respectDocBoundaries = true` is the pad-to-boundary variant real
  * pretraining recipes pair with concat-and-chunk: no sequence ever
  * mixes tokens from two documents. Each document's advance through the
  * global token stream is its token count CEIL-ROUNDED to a whole number
  * of sequences (`⌈n_tok/seqLen⌉·seqLen`); since every advance is a
  * multiple of `seqLen`, every document starts on a sequence boundary by
  * induction, and the tail of its last sequence is implicit padding.
  * Same hierarchical scan — only the summed quantity changes — so the
  * bit-for-bit (blockSize, fanout) invariance carries over. Documents
  * longer than `seqLen` still span multiple sequences (their own).
  */
object Packing {

  /** Hard bound on the superblock level: the ONLY unpartitioned window
    * in the scan runs over one row per superblock, and the ≤~10³-row
    * bound was previously a Scaladoc promise, not an enforced invariant
    * (VERDICT r17 #6) — a caller mis-sizing `blockSize·fanout` against
    * its key space would silently funnel the corpus's block census
    * through one task. [[packSequences]] now raises loudly (a codegen'd
    * per-superblock-row check, no extra pass) when a superblock id
    * reaches this bound; callers above it must raise `blockSize` or
    * `fanout` — never this constant casually: 2²⁰ single-partition
    * window rows is already the tolerable ceiling, not a target. */
  val MaxSuperblocks: Long = 1L << 20

  /** `__sblk`, or a task failure naming `what` once a superblock id
    * reaches [[MaxSuperblocks]]: one comparison per superblock ROW of
    * the census, before an oversized census can make the unpartitioned
    * offset scan a scale-killer. Shared by [[packSequences]] and
    * [[Batching.assignBatches]], which run the same three-level scan. */
  private[ext] def boundedSuperblock(what: String): Column =
    when(col("__sblk") < lit(MaxSuperblocks), col("__sblk"))
      .otherwise(raise_error(concat(
        lit(s"$what superblock id exceeds MaxSuperblocks=$MaxSuperblocks " +
          "(the single-partition offset window's bound) — raise " +
          "blockSize/fanout to cover the key space; got __sblk="),
        col("__sblk").cast("string"))))

  def packSequences(docs: DataFrame, textCol: String = "text",
                    keyCol: String = "doc_id", seqLen: Long = 2048L,
                    blockSize: Long = 100000L,
                    fanout: Long = 10000L,
                    respectDocBoundaries: Boolean = false): DataFrame = {
    require(seqLen > 0 && blockSize > 0 && fanout > 0,
      "seqLen, blockSize, and fanout must be positive")
    // The document's advance through the global token stream: exact
    // (split mode) or ceil-rounded to whole sequences (boundary mode).
    val advance =
      if (respectDocBoundaries) expr(s"((n_tok - 1) div $seqLen + 1) * $seqLen")
      else col("n_tok")
    val toks = docs
      .select(col(keyCol), TextAnalysis.tokenCount(col(textCol)).as("n_tok"))
      .filter(col("n_tok") > 0)
      .withColumn("__adv", advance)
      .withColumn("__blk", expr(s"$keyCol div $blockSize"))

    val localW = Window.partitionBy("__blk").orderBy(keyCol)
      .rowsBetween(Window.unboundedPreceding, -1)
    val local = toks.withColumn("__local",
      coalesce(sum(col("__adv")).over(localW), lit(0L)))

    // Block offsets via the superblock level: the within-superblock
    // cumsum is partitioned (parallel across superblocks); only the
    // per-superblock totals see an unpartitioned window, bounded at
    // keyspace/(blockSize·fanout) rows regardless of corpus size.
    val blockTotals = toks.groupBy("__blk").agg(sum(col("__adv")).as("__bt"))
      .withColumn("__sblk", expr(s"__blk div $fanout"))
    val withinSuperW = Window.partitionBy("__sblk").orderBy("__blk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val superW = Window.orderBy("__sblk")
      .rowsBetween(Window.unboundedPreceding, -1)
    val superOffsets = blockTotals.groupBy("__sblk")
      .agg(sum(col("__bt")).as("__st"))
      .withColumn("__sblk", boundedSuperblock("packing"))
      .withColumn("__soff", coalesce(sum(col("__st")).over(superW), lit(0L)))
      .select("__sblk", "__soff")
    val offsets = blockTotals
      .withColumn("__within", coalesce(sum(col("__bt")).over(withinSuperW), lit(0L)))
      .join(broadcast(superOffsets), "__sblk")
      .withColumn("__off", col("__soff") + col("__within"))
      .select("__blk", "__off")

    local.join(broadcast(offsets), "__blk")
      .withColumn("start", col("__off") + col("__local"))
      .withColumn("seq_id", explode(sequence(
        expr(s"start div $seqLen"),
        expr(s"(start + n_tok - 1) div $seqLen"))))
      .select(col(keyCol), col("seq_id"),
        (greatest(col("seq_id") * seqLen, col("start")) - col("start"))
          .as("begin_tok"),
        (least((col("seq_id") + 1) * seqLen, col("start") + col("n_tok"))
          - col("start")).as("end_tok"),
        col("n_tok"))
      .orderBy(col(keyCol), col("seq_id"))
  }

  /** X9c — MATERIALIZE the packed sequences: the training artifact
    * itself, not just the span layout. [[packSequences]]' (doc, seq)
    * span assignments join back to the tokenized documents, each span
    * slices its token range, and sequences reassemble in document
    * order — output `(seq_id, seq_tok, seq_text)`, one row per
    * sequence, tokens space-joined (every non-final sequence carries
    * exactly `seqLen` tokens in split mode).
    *
    * 100 TB shape: the join shuffles on the document key (both sides
    * co-keyed), the reassembly shuffles on `seq_id`; per-group state
    * is bounded BY CONSTRUCTION — a sequence holds ≤ `seqLen` tokens
    * however many documents contribute — so the `collect_list` is a
    * bounded buffer, not unbounded driver-style state. Chunks sort by
    * the struct's leading key field (deterministic reassembly under
    * any shuffle order). */
  def materializeSequences(docs: DataFrame, textCol: String = "text",
                           keyCol: String = "doc_id", seqLen: Long = 2048L,
                           blockSize: Long = 100000L,
                           fanout: Long = 10000L,
                           respectDocBoundaries: Boolean = false): DataFrame = {
    val spans = packSequences(docs, textCol, keyCol, seqLen, blockSize,
      fanout, respectDocBoundaries)
    val toked = docs
      .select(col(keyCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
    spans
      .join(toked, Seq(keyCol))
      .withColumn("__chunk", slice(col("__toks"),
        (col("begin_tok") + 1).cast("int"),
        (col("end_tok") - col("begin_tok")).cast("int")))
      .groupBy("seq_id")
      .agg(
        sum(col("end_tok") - col("begin_tok")).as("seq_tok"),
        array_join(flatten(transform(
          array_sort(collect_list(struct(col(keyCol).as("k"),
            col("__chunk").as("c")))),
          s => s.getField("c"))), " ").as("seq_text"))
  }

  /** Packing efficiency audit: sequences produced, tokens packed, spans
    * emitted, documents split across a boundary, and the overall fill
    * ratio `n_tokens / (n_sequences · seqLen)` — concat-and-chunk fills
    * every non-final sequence exactly, so only the final partial
    * sequence drags the ratio below 1 (in boundary mode every document's
    * final sequence is padded, so the ratio quantifies the padding cost
    * of `respectDocBoundaries`). One aggregate over [[packSequences]]. */
  def packingSummary(docs: DataFrame, textCol: String = "text",
                     keyCol: String = "doc_id", seqLen: Long = 2048L,
                     blockSize: Long = 100000L,
                     fanout: Long = 10000L,
                     respectDocBoundaries: Boolean = false): DataFrame = {
    val packed = packSequences(docs, textCol, keyCol, seqLen, blockSize,
      fanout, respectDocBoundaries)
    packed.agg(
        countDistinct(col("seq_id")).as("n_sequences"),
        sum(col("end_tok") - col("begin_tok")).as("n_tokens"),
        count(lit(1)).as("n_spans"),
        countDistinct(when(col("begin_tok") > 0 ||
          col("end_tok") < col("n_tok"), col(keyCol))).as("docs_split"))
      .withColumn("fill_ratio",
        round(col("n_tokens") /
          (col("n_sequences") * seqLen).cast("double"), 4))
  }
}
