package graft.stream

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** s24 — streaming LONG-CLIP audio drop by SEGMENT CONTAINMENT against
  * a persisted segment-hash index (the X5j chunked near-dup as an
  * ingest gate: s23 drops a WHOLE-clip near-dup; a re-cut or partial
  * copy of an hour-scale indexed clip needs the segment-containment
  * rule — the X8 decontamination shape on audio).
  *
  * Shape: each arriving (media_id, payload) row decodes and hashes its
  * OWN fixed-length segments in one stateless flatMap (every segment
  * row carries the clip's kept-segment count, so no cross-row state is
  * needed); matched segments are a stream-static LEFT SEMI join
  * against the saved (media_id, seg, ahash) parquet on hash EQUALITY
  * (volume invariance makes re-gained copies match exactly — the X5j
  * argument), and the per-clip verdict `matched·10⁶ ≥ ppm·nsegs` is a
  * tiny per-batch aggregate. The drop DECISION needs that aggregate,
  * so the live form runs per micro-batch via `foreachBatch` — the
  * standard pattern for per-batch-complete decisions (each clip's
  * evidence is self-contained in its one row, so batch boundaries
  * cannot split a verdict; parity with the batch replay is pinned in
  * StreamingChunksSpec). At 100 TB the static side is the segment
  * index keyed on hash — an equality shuffle/broadcast join, never
  * all-pairs; ultra-hot segment hashes cap upstream (X5j).
  *
  * Clips with ZERO fingerprintable segments (undecodable payloads,
  * all-flat audio) contribute no segment rows and always SURVIVE —
  * corrupt media is data for an integrity gate, not something a dedup
  * stage may silently eat (the s3/s4/s19 null-signature contract). */
object StreamingChunks {

  private val segSchema = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("seg", IntegerType, nullable = false),
    StructField("nsegs", LongType, nullable = false),
    StructField("ahash", LongType, nullable = false)))

  /** Per-clip segment signature rows `(media_id, seg, nsegs, ahash)` —
    * [[graft.ext.Multimodal.ahashChunks]]'s decode body with the
    * clip's kept-segment count denormalized onto every row, so the
    * containment verdict never needs a second pass over the payload.
    * Stateless: works on batch AND streaming frames. */
  def chunkSegments(media: DataFrame, segmentSamples: Int): DataFrame = {
    require(segmentSamples >= 65,
      s"segmentSamples ($segmentSamples) must cover the 65-window grid")
    val encoder = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(segSchema)
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val samples =
            graft.ext.Multimodal.readPcm16(r.getAs[Array[Byte]](1))
          if (samples == null) Iterator.empty
          else {
            val id = r.getLong(0)
            val nSeg = samples.length / segmentSamples
            val kept = (0 until nSeg).flatMap { s =>
              val seg = java.util.Arrays.copyOfRange(samples,
                s * segmentSamples, (s + 1) * segmentSamples)
              val h = graft.ext.Multimodal.ahash64(seg)
              if (h == 0L) None else Some((s, h))
            }
            val n = kept.size.toLong
            kept.iterator.map { case (s, h) => Row(id, s, n, h) }
          }
        }
      }(encoder)
  }

  /** Survivors of one (micro-)batch against the saved segment index:
    * clips whose matched-segment fraction stays BELOW `minFracPpm`
    * (cross-multiplied integer verdict — no float at the boundary).
    * Output: (media_id, n_segments) — n_segments 0 for clips that
    * produced no fingerprintable segment (always survivors). Use
    * directly on a batch frame, or per micro-batch via
    * `foreachBatch`; never on a streaming frame — the survivor set is
    * pinned ([[graft.Pin]]), and a streaming frame cannot cache. */
  def chunkDropBatch(media0: DataFrame, histChunks: DataFrame,
      segmentSamples: Int, minFracPpm: Long): DataFrame = {
    require(minFracPpm > 0L && minFracPpm <= 1000000L,
      s"minFracPpm ($minFracPpm) must be in (0, 1e6]")
    // The arrivals frame feeds the segment pass AND the survivor
    // anti-join, and the segment frame feeds the drop verdict AND the
    // per-clip census — uncached, the payload generation runs 3× and
    // the WAV decode 2×. Cache both (arrivals are one micro-batch-sized
    // slice, segments are 28 B/row), pin the tiny survivor output,
    // release.
    def build(media: DataFrame, segs: DataFrame): DataFrame = {
      val dropped = segs
        .join(histChunks.select(col("ahash")).distinct(), Seq("ahash"),
          "left_semi")
        .groupBy(col("media_id"))
        .agg(countDistinct(col("seg")).as("matched"),
          first(col("nsegs")).as("nsegs"))
        .filter(col("matched") * lit(1000000L)
          >= lit(minFracPpm) * col("nsegs"))
        .select(col("media_id"))
      val counts = segs.groupBy(col("media_id"))
        .agg(first(col("nsegs")).as("n_segments"))
      media.join(dropped, Seq("media_id"), "left_anti")
        .select(col("media_id"))
        .join(counts, Seq("media_id"), "left")
        .select(col("media_id"),
          coalesce(col("n_segments"), lit(0L)).as("n_segments"))
    }
    graft.Pin.cached(media0) { media =>
      graft.Pin.cached(chunkSegments(media, segmentSamples)) { segs =>
        graft.Pin(build(media, segs))
      }
    }
  }
}
