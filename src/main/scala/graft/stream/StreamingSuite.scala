package graft.stream

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery}

import graft.checks.AggCheck
import graft.model.ValidationResult

/** Streaming validation mode (SURVEY.md §2.8) — the engine-side extension
  * the batch-only reference has no counterpart for: the same fused
  * G-check vocabulary evaluated per event-time tumbling window over a
  * Structured Streaming source.
  *
  * Design:
  *  - ONE stateful aggregation carries every agg-expressible check for
  *    the table (same fusion as CheckSuite.runBatched — a window's whole
  *    suite costs one state row);
  *  - event-time watermark bounds state: windows older than
  *    `watermarkDelay` are finalized, emitted once (append mode), and
  *    their state evicted — late data beyond the watermark is dropped,
  *    documented semantics per SURVEY.md §7.4;
  *  - verdict construction reuses each check's `evaluate`, so batch and
  *    streaming agree on pass/fail logic by construction;
  *  - each micro-batch publishes to the checkpoint an offsets entry, a
  *    commits entry, and one state delta plus its checksum per state
  *    partition (the session's shuffle partitions when the query starts),
  *    through [[graft.Sessions.CheckpointFileManagerClass]].
  */
object StreamingSuite {

  /** The fused per-window check aggregation: groupBy(tumbling window) with
    * every check's aggregate columns, watermarked for state eviction. */
  def windowedChecks(
      stream: DataFrame, tsCol: String, windowLength: String,
      watermarkDelay: String, checks: Seq[AggCheck]): DataFrame = {
    require(checks.nonEmpty, "at least one check")
    // The check name IS the output schema here (callers select
    // '<safeName>__<alias>' columns), so duplicates can't be silently
    // position-qualified like CheckSuite.runBatched does — two
    // same-named checks would emit colliding columns and getAs-by-name
    // would read the wrong one. Reject loudly instead.
    val dup = checks.groupBy(_.safeName).collect { case (n, cs) if cs.sizeIs > 1 => n }
    require(dup.isEmpty,
      s"duplicate check name(s) in one streaming suite: ${dup.mkString(", ")} — " +
        "rename or merge; windowed column names derive from check names")
    val cols: Seq[Column] = checks.flatMap(c => c.aggColumns(c.safeName + "__"))
    stream
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowLength))
      .agg(cols.head, cols.tail: _*)
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"), col("*"))
      .drop("window")
  }

  /** Rebuild per-check verdicts from one finalized window row. */
  def evaluate(row: Row, checks: Seq[AggCheck]): Seq[ValidationResult] =
    checks.map(c => c.evaluate(row, c.safeName + "__"))

  /** Full streaming suite: the fused aggregation in append mode (windows
    * emit exactly once, when the watermark passes their end), each batch's
    * finalized windows folded into verdicts and handed to `onWindow`. */
  def run(
      stream: DataFrame, tsCol: String, windowLength: String,
      watermarkDelay: String, checks: Seq[AggCheck],
      queryName: String = "graft-streaming-suite")(
      onWindow: (java.sql.Timestamp, Seq[ValidationResult]) => Unit): StreamingQuery =
    writer(stream, tsCol, windowLength, watermarkDelay, checks, queryName)(onWindow).start()

  /** The unstarted writer (tests configure checkpoints etc. before start). */
  def writer(
      stream: DataFrame, tsCol: String, windowLength: String,
      watermarkDelay: String, checks: Seq[AggCheck], queryName: String)(
      onWindow: (java.sql.Timestamp, Seq[ValidationResult]) => Unit): DataStreamWriter[Row] =
    windowedChecks(stream, tsCol, windowLength, watermarkDelay, checks)
      .writeStream
      .queryName(queryName)
      .outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        // Finalized windows only (append mode); tiny — one row per window.
        batch.collect().foreach { row =>
          onWindow(row.getAs[java.sql.Timestamp]("window_start"), evaluate(row, checks))
        }
      }
}
