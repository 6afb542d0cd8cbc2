package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** X5 — multimodal (image/audio/video) column plumbing for an
  * LLM-training-data pipeline.
  *
  * Media is carried as an opaque `BINARY` payload column plus a typed
  * metadata struct — the lakehouse-standard layout (e.g. Spark's own
  * `binaryFile` source yields (path, length, content)). All the
  * Spark-side plumbing here is real and tested: schema contract,
  * mapPartitions batch shape, feature-vector output feeding the X2
  * similarity operators, frame-sampling explode.
  *
  * Codec status: PNG ([[decodePngs]]), WAV ([[decodeWavs]]),
  * multi-frame GIF ([[decodeGifs]]) and compressed IMA-ADPCM audio
  * ([[decodeAdpcms]] — hand-rolled from the public IMA spec, since the
  * JDK ships no compressed-audio codec) are REAL round trips; MP4
  * pixel decode is the one remaining stub ([[decodeStub]] derives
  * deterministic byte-window pseudo-features), since no video codec
  * ships with the JDK (and none is hand-rollable — H.264 is not a
  * 40-line integer predictor). Swapping in a real decoder changes one
  * function — the operator shapes (one pass, partition-local batches,
  * no shuffle before the per-item map) are what this module pins down.
  */
object Multimodal {

  // ImageIO's createImageInputStream/createImageOutputStream default to
  // FILE-backed cache streams — every encode/decode round trip creates,
  // writes, and deletes a temp file. Payloads here are in-memory byte
  // arrays (KB-scale), so the disk round trip buys nothing serially and
  // under a 32-way codec stage the temp-dir metadata traffic serializes
  // the whole stage. Memory-cached streams are the right default for
  // byte-array payloads on any JVM running this module. NOTE: this is
  // JVM-GLOBAL ImageIO state, flipped as a classload side effect — any
  // other ImageIO user in the process (driver or executor) loses the
  // file-backed default too. Acceptable here because every payload this
  // engine touches is an in-memory KB-scale array; an embedder that
  // needs file-cached streams elsewhere must set it back explicitly at
  // session bootstrap (ADVICE r17).
  javax.imageio.ImageIO.setUseCache(false)

  /** Spread the slim id frame across EVERY core before the codec pass
    * ([[graft.ext.Spread.full]] — full width, not byte-proportional:
    * the per-row encode/decode cost dwarfs the 8-byte id, so
    * byte-sizing would starve the codec stage of cores; see Spread's
    * doc for the deterministic-hash and corpus-scale-identity
    * rationale). */
  private def spreadIds(ids: DataFrame): DataFrame =
    Spread.full(ids, "doc_id")

  /** Document subsets backing the dHash / aHash / video planted media
    * corpora — ONE definition shared by the generators (which map each
    * matching doc to exactly one media row) and consumers that need
    * the corpus SIZE without paying the opaque encode pass just to
    * count rows (Catalyst cannot push an aggregate below a
    * mapPartitions; counting the slim ids is provably the same number
    * because the generators are 1-row-per-doc maps over these exact
    * predicates). */
  private[graft] def dhashDocPred: Column = pmod(col("doc_id"), lit(3)) === 0
  private[graft] def ahashDocPred: Column = pmod(col("doc_id"), lit(3)) === 1
  private[graft] def videoDocPred: Column = pmod(col("doc_id"), lit(3)) === 0

  /** Metadata contract for a media row. */
  val metaSchema: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("duration_ms", IntegerType)))

  /** Full media-table schema: (media_id, kind, payload, meta). */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType),      // image | audio | video
    StructField("payload", BinaryType),
    StructField("meta", metaSchema)))

  /** ======== STUB (codec swap point) ========
    * Deterministic pseudo-decode: feature d = mean of the unsigned
    * payload bytes falling in the d-th of `dim` equal contiguous windows
    * — byte i belongs to window ((i+1)·dim − 1) / n (integer division),
    * the exact partition of [0, n) into `dim` ranges; windows left empty
    * by a short payload stay 0. A real implementation would decode the
    * payload (JPEG/WAV/MP4) and pool pixel/sample values — byte-window
    * pooling has the same shape (deterministic, payload-sensitive, fixed
    * dimension) with no codec library, and unlike the previous seeded
    * hash cascade it is SQL-expressible, so the whole feature path is
    * DuckDB-oracle-checked (the mean is computed in double and narrowed
    * to float exactly as the oracle replays it). */
  def decodeStub(payload: Array[Byte], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    val n = payload.length
    if (n == 0) return out
    var d = 0
    while (d < dim) {
      val lo = (d.toLong * n / dim).toInt
      val hi = ((d + 1).toLong * n / dim).toInt
      if (hi > lo) {
        var s = 0L
        var i = lo
        while (i < hi) { s += payload(i) & 0xFF; i += 1 }
        out(d) = (s.toDouble / (hi - lo)).toFloat
      }
      d += 1
    }
    out
  }

  /** Feature extraction over the media table: ONE narrow pass,
    * partition-local iteration (the mapPartitions batch shape a real
    * vectorized decoder needs — amortized codec/model setup per
    * partition, not per row). Output: (media_id, features ARRAY<FLOAT>),
    * ready for [[Similarity.bruteForceTopK]]/[[Similarity.annTopK]]. */
  def extractFeatures(media: DataFrame, dim: Int = 64): DataFrame = {
    val session = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("features", ArrayType(FloatType))))
    val encoder = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        // Per-partition setup happens HERE once (codec init in a real
        // implementation), then the partition streams through it.
        rows.map { r =>
          val id = r.getLong(0)
          val payload = r.getAs[Array[Byte]](1)
          Row(id, decodeStub(if (payload == null) Array.emptyByteArray else payload, dim).toSeq)
        }
      }(encoder)
  }

  /** Video frame sampling: one synthetic frame reference every
    * `frameEveryMs` of duration — a pure explode (no shuffle), each
    * frame addressable for downstream decode. */
  def sampleFrames(media: DataFrame, frameEveryMs: Int = 1000): DataFrame =
    media.filter(col("kind") === "video")
      .withColumn("frame_idx",
        explode(sequence(lit(0),
          greatest((coalesce(col("meta.duration_ms"), lit(0)) / frameEveryMs)
            .cast("int") - 1, lit(0)))))
      .select(col("media_id"), col("frame_idx"),
        (col("frame_idx") * frameEveryMs).cast("long").as("frame_ms"))

  /** Payload-level integrity checks composed from the engine's G-series
    * vocabulary: non-null payload, plausible magic number per format.
    * Returns per-kind summary (one fused aggregate). */
  def integritySummary(media: DataFrame): DataFrame =
    media.groupBy(col("kind")).agg(
      count(lit(1)).as("n"),
      count(when(col("payload").isNull, lit(1))).as("null_payload"),
      count(when(length(col("payload")) < 8, lit(1))).as("truncated"),
      floor(avg(length(col("payload")))).cast("long").as("avg_bytes"))
      .orderBy("kind")

  /** Deterministic synthetic media over the documents table (text bytes
    * as payload) — lets the multimodal plumbing run against driver
    * testdata without shipping binary fixtures. */
  def syntheticMediaFromDocuments(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("kind"),
      col("text").cast("binary").as("payload"),
      struct(
        lit("synthetic").as("format"),
        lit(64).as("width"), lit(64).as("height"),
        lit(16000).as("sample_rate"),
        (col("n_chars") * 10).cast("int").as("duration_ms")).as("meta"))

  // ------------------------------------------------- real header codecs (X5d)

  /** Big-endian 4-byte hex of an int column (for container headers). */
  private def be4(c: Column): Column = lpad(hex(c), 8, "0")

  /** Little-endian 4-byte hex (byte-swapped big-endian). */
  private def le4(c: Column): Column = {
    val h = be4(c)
    concat(substring(h, 7, 2), substring(h, 5, 2),
      substring(h, 3, 2), substring(h, 1, 2))
  }

  /** Synthetic media whose payloads carry REAL container headers —
    * byte-valid PNG signatures + IHDR, canonical WAV RIFF/fmt chunks,
    * and MP4 ftyp+moov/mvhd boxes — with per-row field values derived
    * from the document (so a header parser is genuinely exercised, not
    * handed constants), followed by the text bytes as the opaque body.
    * No codec library is involved in either direction: generation is hex
    * assembly, decoding is byte arithmetic. */
  def syntheticMediaWithHeaders(docs: DataFrame): DataFrame = {
    val id = col("doc_id")
    val width = (lit(32) + pmod(id, lit(64))).cast("int")
    val height = (lit(32) + pmod(id, lit(32))).cast("int")
    val sampleRate = (lit(8000) + pmod(id, lit(5)) * 2000).cast("int")
    val durationMs = (col("n_chars") * 10).cast("int")
    // coalesce: concat(header, NULL) would null the WHOLE payload, making
    // a null-text doc parse as "unknown" while formula-based oracles
    // still expect its planted header fields.
    val body = coalesce(col("text"), lit("")).cast("binary")

    // PNG: signature, IHDR(len 13) with width/height BE, 8-bit RGB.
    val png = concat(unhex(concat(
      lit("89504E470D0A1A0A" + "0000000D" + "49484452"),
      be4(width), be4(height), lit("0802000000"))), body)
    // WAV: RIFF/WAVE + canonical 16-byte fmt chunk (PCM mono 16-bit),
    // sample rate LE at byte offset 24.
    val wav = concat(unhex(concat(
      lit("52494646" + "00000000" + "57415645" + "666D7420" + "10000000" +
        "0100" + "0100"),
      le4(sampleRate),
      lit("00000000" + "0000" + "1000" + "64617461" + "00000000"))), body)
    // MP4: 16-byte ftyp(isom) box + moov box holding a version-0 mvhd
    // (timescale 1000 BE at payload+12, duration BE at +16, rest zero).
    val mp4 = concat(unhex(concat(
      lit("00000010" + "66747970" + "69736F6D" + "00000000" +
        "00000074" + "6D6F6F76" + "0000006C" + "6D766864" + "00000000" +
        "00000000" + "00000000" + "000003E8"),
      be4(durationMs), lit("00" * 80))), body)

    // when-chain, not element_at(array(...)): CreateArray evaluates ALL
    // elements per row — three header assemblies with two discarded.
    val kindIdx = pmod(id, lit(3))
    docs.select(
      id.as("media_id"),
      when(kindIdx === 0, "image").when(kindIdx === 1, "audio")
        .otherwise("video").as("kind"),
      when(kindIdx === 0, png).when(kindIdx === 1, wav)
        .otherwise(mp4).as("payload"),
      struct(
        when(kindIdx === 0, "png").when(kindIdx === 1, "wav")
          .otherwise("mp4").as("format"),
        when(pmod(id, lit(3)) === 0, width).as("width"),
        when(pmod(id, lit(3)) === 0, height).as("height"),
        when(pmod(id, lit(3)) === 1, sampleRate).as("sample_rate"),
        when(pmod(id, lit(3)) === 2, durationMs).as("duration_ms")).as("meta"))
  }

  // ------------------------------------------- real PNG codec path (X5b)

  /** True when the JVM ships a PNG ImageIO plugin. In-JDK (javax.imageio
    * is part of java.desktop) so effectively always true here — but
    * PROBED, not assumed, per the codec swap-point contract: a headless
    * stripped runtime without the plugin degrades to the byte-window
    * stub instead of throwing. */
  lazy val pngSupported: Boolean =
    javax.imageio.ImageIO.getImageReadersByFormatName("png").hasNext

  /** Deterministic REAL PNG: a TYPE_INT_RGB image whose channels vary
    * per scanline — r=(id+y)%256, g=(2id+y)%256, b=(3id+y)%256 — pushed
    * through the JDK's PNG encoder. Unlike [[syntheticMediaWithHeaders]]
    * this is a genuine compressed bitstream (signature, IHDR, zlib IDAT,
    * IEND); PNG is lossless, so whatever a real decoder reads back is
    * exactly the formula — which is what makes a DuckDB oracle possible
    * without a codec: the expected pixel sums are closed-form. */
  def pngPayload(id: Long, w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      val rgb = ((((id + y) % 256).toInt) << 16) |
        ((((2 * id + y) % 256).toInt) << 8) | (((3 * id + y) % 256).toInt)
      var x = 0
      while (x < w) { img.setRGB(x, y, rgb); x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Real-PNG media table: one row per image-kind document (the same
    * doc_id % 3 == 0 lane and width/height formulas as
    * [[syntheticMediaWithHeaders]]), payload = [[pngPayload]]. Encoding
    * runs partition-local (the codec batch shape — encoder state per
    * partition, not per row). */
  def pngMediaFromDocuments(docs: DataFrame): DataFrame = {
    val session = docs.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType)))
    val encoder = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      .select(col("doc_id"))
      .transform(spreadIds)
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val w = (32 + id % 64).toInt
          val h = (32 + id % 32).toInt
          Row(id, pngPayload(id, w, h))
        }
      }(encoder)
  }

  /** One decoded image: dimensions and per-channel pixel sums read back
    * OUT OF the compressed bitstream (integer sums, so the oracle
    * comparison is exact — no float pooling ambiguity). Nulls for
    * undecodable payloads or a plugin-less runtime: corrupt media is
    * data, not a crash. */
  final case class PngDecoded(
      media_id: Long, png_w: Option[Int], png_h: Option[Int],
      sum_r: Option[Long], sum_g: Option[Long], sum_b: Option[Long])

  private[graft] def decodePngOne(id: Long, b: Array[Byte]): PngDecoded = {
    def none = PngDecoded(id, None, None, None, None, None)
    if (!pngSupported || b == null) return none
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
      catch { case _: java.io.IOException => null }
    if (img == null) return none
    val (w, h) = (img.getWidth, img.getHeight)
    var (sr, sg, sb) = (0L, 0L, 0L)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = img.getRGB(x, y)
        sr += (p >> 16) & 0xFF; sg += (p >> 8) & 0xFF; sb += p & 0xFF
        x += 1
      }
      y += 1
    }
    PngDecoded(id, Some(w), Some(h), Some(sr), Some(sg), Some(sb))
  }

  /** X5b — REAL pixel decode over a (media_id, payload) frame: one
    * narrow mapPartitions pass through the JDK PNG reader (per-partition
    * codec setup point, same batch shape as [[extractFeatures]]). */
  def decodePngs(media: DataFrame): DataFrame = {
    val session = media.sparkSession
    import session.implicits._
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.map(r => decodePngOne(r.getLong(0), r.getAs[Array[Byte]](1)))
      }
      .toDF()
  }

  // ------------------------------------------- real WAV codec path (X5b)

  /** True when the JVM ships a WAVE file writer/reader. In-JDK
    * (javax.sound.sampled is part of java.desktop, headless-safe for
    * file I/O) so effectively always true here — but PROBED, not
    * assumed, same contract as [[pngSupported]]. */
  lazy val wavSupported: Boolean =
    javax.sound.sampled.AudioSystem.getAudioFileTypes
      .contains(javax.sound.sampled.AudioFileFormat.Type.WAVE)

  /** Deterministic REAL WAV: 16-bit signed PCM mono at `sampleRate`,
    * sample t = ((id·31 + 7t) mod 2003) − 1001 (integers in ±1001, well
    * inside 16-bit), pushed through the JDK's WAVE encoder. PCM is
    * lossless, so whatever a real decoder reads back is exactly the
    * formula — the expected sample sums are closed-form, which is what
    * makes a DuckDB oracle possible without shipping a codec. */
  def wavPayload(id: Long, n: Int, sampleRate: Int): Array[Byte] = {
    val pcm = new Array[Byte](n * 2)
    var t = 0
    while (t < n) {
      val s = (((id * 31L + 7L * t) % 2003L) - 1001L).toInt
      pcm(2 * t) = (s & 0xFF).toByte          // little endian
      pcm(2 * t + 1) = ((s >> 8) & 0xFF).toByte
      t += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(
      javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
      sampleRate.toFloat, 16, 1, 2, sampleRate.toFloat, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    bos.toByteArray
  }

  /** Real-WAV media table: one row per audio-kind document (the same
    * doc_id % 3 == 1 lane as [[syntheticMediaWithHeaders]]),
    * n = 256 + id % 256 samples at rate 8000 + (id % 4)·4000 Hz,
    * payload = [[wavPayload]]. Encoding runs partition-local (the codec
    * batch shape), mirroring [[pngMediaFromDocuments]]. */
  def wavMediaFromDocuments(docs: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType)))
    val encoder = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    docs.filter(pmod(col("doc_id"), lit(3)) === 1)
      .select(col("doc_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val n = (256 + id % 256).toInt
          val rate = (8000 + (id % 4) * 4000).toInt
          Row(id, wavPayload(id, n, rate))
        }
      }(encoder)
  }

  /** One decoded audio clip: format fields and the integer sum of all
    * samples read back OUT OF the container bytes (exact arithmetic —
    * no float resampling ambiguity). Nulls for undecodable payloads,
    * non-16-bit-PCM encodings, or a plugin-less runtime: corrupt media
    * is data, not a crash. */
  final case class WavDecoded(
      media_id: Long, sample_rate: Option[Int], n_samples: Option[Long],
      sum_samples: Option[Long])

  private[graft] def decodeWavOne(id: Long, b: Array[Byte]): WavDecoded = {
    def none = WavDecoded(id, None, None, None)
    if (!wavSupported || b == null) return none
    val ais =
      try javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(b))
      catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException => null
        case _: java.io.IOException => null
      }
    if (ais == null) return none
    val fmt = ais.getFormat
    // Only the layout we can sum exactly: 16-bit signed PCM mono LE.
    if (fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
      fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1 || fmt.isBigEndian)
      return none
    val bytes = ais.readAllBytes()
    var (sum, i) = (0L, 0)
    while (i + 1 < bytes.length) {
      sum += ((bytes(i) & 0xFF) | (bytes(i + 1).toInt << 8)).toShort.toLong
      i += 2
    }
    WavDecoded(id, Some(fmt.getSampleRate.toInt),
      Some(bytes.length / 2L), Some(sum))
  }

  /** X5b — REAL sample decode over a (media_id, payload) frame: one
    * narrow mapPartitions pass through the JDK WAVE reader (same batch
    * shape as [[decodePngs]]). */
  def decodeWavs(media: DataFrame): DataFrame = {
    val session = media.sparkSession
    import session.implicits._
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.map(r => decodeWavOne(r.getLong(0), r.getAs[Array[Byte]](1)))
      }
      .toDF()
  }

  // ------- energy-profile audio perceptual hash (X5i — the dHash idea
  // on the audio lane: a training corpus dedups its AUDIO too, and the
  // duplicate class that matters is the re-encoded/re-gained copy,
  // which byte-exact dedup misses)

  /** 64-bit energy-profile audio hash over decoded PCM samples: pool
    * the clip into 65 fixed windows (window of sample t = t·65/n —
    * the [[phash64]] floor-div pooling, so ANY clip length ≥ 65 maps
    * to the same grid), per-window integer energy e_w = Σ s², and bit
    * w (w < 64) set iff the mean energy strictly RISES across the
    * w→w+1 boundary, compared by cross-multiplication
    * (e_w·c_{w+1} < e_{w+1}·c_w — exact in integers, the [[dhash64]]
    * convention, so a SQL oracle replays every bit).
    *
    * VOLUME-INVARIANT by construction: scaling every sample by g
    * multiplies every window energy by g² and cancels out of the
    * cross-multiplied comparison — a re-gained copy of a clip hashes
    * IDENTICALLY (the planted corpus carries an exact 2× member pair,
    * byte-different payloads, Hamming 0; pinned in AhashSpec).
    * Magnitudes: |s| ≤ 32767 and a window holds ~n/65 samples →
    * e_w ≤ (n/65)·2³⁰, which outgrows a signed 64-bit cross-product
    * past n ≈ 6 M samples (2.3 min at 44.1 kHz) — so the comparison
    * runs in EXACT 128-bit arithmetic ([[prodLess]]:
    * `Math.multiplyHigh` high word + unsigned-low tiebreak). That is
    * bit-identical to the raw long compare wherever the long compare
    * was exact, and correct for every clip an `Array[Int]` can hold
    * (e ≤ 2⁶¹, c ≤ 2³¹ → product ≤ 2⁹² « 2¹²⁷); hour-scale audio
    * keeps volume invariance instead of silently wrapping. Returns 0
    * for clips shorter than the 65-window grid (no boundary has two
    * occupied windows — too short to fingerprint, the caller's length
    * gate's business). */
  private[graft] def ahash64(samples: Array[Int]): Long = {
    val n = samples.length
    if (n < 65) return 0L
    val e = new Array[Long](65)
    val c = new Array[Long](65)
    var t = 0
    while (t < n) {
      val w = (t.toLong * 65L / n).toInt
      val s = samples(t).toLong
      e(w) += s * s
      c(w) += 1
      t += 1
    }
    var hash = 0L
    var w = 0
    while (w < 64) {
      if (prodLess(e(w), c(w + 1), e(w + 1), c(w))) hash |= 1L << w
      w += 1
    }
    hash
  }

  /** Exact `a·b < c·d` over NON-NEGATIVE longs in 128-bit arithmetic:
    * compare `Math.multiplyHigh` high words signed (non-negative
    * operands → non-negative products → the high word carries the
    * sign), tie-break on the wrapped low word UNSIGNED. Branch-free of
    * overflow for any operands — the [[ahash64]] guard against the
    * silent Long wrap past ≈6 M-sample clips. */
  private[graft] def prodLess(a: Long, b: Long, c: Long, d: Long): Boolean = {
    val hi1 = Math.multiplyHigh(a, b)
    val hi2 = Math.multiplyHigh(c, d)
    if (hi1 != hi2) hi1 < hi2
    else java.lang.Long.compareUnsigned(a * b, c * d) < 0
  }

  /** Decode a WAV payload to its exact int16 samples (16-bit signed
    * PCM mono LE only — the [[decodeWavOne]] layout contract); null
    * for anything else. */
  private[graft] def readPcm16(b: Array[Byte]): Array[Int] = {
    if (!wavSupported || b == null) return null
    val ais =
      try javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(b))
      catch {
        case _: javax.sound.sampled.UnsupportedAudioFileException => null
        case _: java.io.IOException => null
      }
    if (ais == null) return null
    val fmt = ais.getFormat
    if (fmt.getEncoding != javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED ||
      fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1 || fmt.isBigEndian)
      return null
    val bytes = ais.readAllBytes()
    val out = new Array[Int](bytes.length / 2)
    var i = 0
    while (i < out.length) {
      out(i) = ((bytes(2 * i) & 0xFF) | (bytes(2 * i + 1) << 8)).toShort.toInt
      i += 1
    }
    out
  }

  /** Decode one payload and aHash it — the [[decodeDhash]] discipline:
    * ONE per-payload body for every consumer, null for undecodable
    * payloads or a codec-less runtime. */
  private[graft] def decodeAhash(b: Array[Byte]): java.lang.Long = {
    val samples = readPcm16(b)
    if (samples == null) null else java.lang.Long.valueOf(ahash64(samples))
  }

  /** X5i signature half — (media_id, ahash) out of REAL WAV payloads:
    * one narrow mapPartitions pass through the JDK WAVE reader (the
    * [[dhashPngs]] batch shape). Feed to [[graft.ext.Dedup
    * .hammingPairs]]/[[graft.ext.Dedup.hammingEdges]]. */
  def ahashWavs(media: DataFrame): DataFrame = {
    val session = media.sparkSession
    import session.implicits._
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val h = decodeAhash(r.getAs[Array[Byte]](1))
          if (h == null) None else Some((r.getLong(0), h.longValue))
        }
      }
      .toDF("media_id", "ahash")
  }

  /** Planted sample for the aHash corpus, sample t of family `f`
    * variant `v` — mirrored VERBATIM by the DuckDB oracle: a
    * family-keyed BYTE-MIX base b(t) = 6·(mix(m + 40503t) − 128) with
    * mix the [[dhashLuma]] xor-of-bytes fold (a modular-arithmetic
    * base proved WRONG here — (m + 31t) mod p is a pure PHASE SHIFT
    * of one waveform across families, so window-energy profiles
    * correlate and cross-family distances collapsed to 3 bits;
    * the byte mix decorrelates per (f, t)), plus a variant
    * perturbation v·64·((t mod 5) − 2) for v ≤ 5 — a fixed pattern
    * scaled by v, so signature distance grows with |Δv| — and
    * v = 6 an EXACT 2× re-gain of the v = 5 member (byte-different
    * samples, provably identical hash — the volume-invariance plant).
    * |s| ≤ 2·(768 + 5·64·2) = 2816 < 32767: int16-safe. */
  private[graft] def ahashSample(f: Long, v: Int, t: Long): Int = {
    val fm = f % 1000000007L
    val m = (fm ^ (fm >>> 16)) * 73244475L
    val x = m + 40503L * t
    val base = (((((x >>> 8) & 255L) ^ ((x >>> 24) & 255L)) - 128L) * 6L).toInt
    if (v == 6) 2 * (base + 5 * 64 * ((t % 5L).toInt - 2))
    else base + v * 64 * ((t % 5L).toInt - 2)
  }

  /** Planted aHash corpus: REAL WAVs (PCM is lossless — the decoded
    * samples ARE [[ahashSample]], so the oracle replays every window
    * energy from the formula) on audio-kind documents, families
    * f = doc_id/21 of up to 7 members, variant v = (doc_id%21)/3,
    * n = 512 + 64·(f%4) samples at a fixed 16 kHz (rate is container
    * metadata — the hash never reads it). */
  def ahashMediaFromDocuments(docs: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType)))
    val encoder = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    docs.filter(ahashDocPred)
      .select(col("doc_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val f = id / 21
          val v = ((id % 21) / 3).toInt
          val n = (512 + 64 * (f % 4)).toInt
          val pcm = new Array[Byte](n * 2)
          var t = 0
          while (t < n) {
            val s = ahashSample(f, v, t)
            pcm(2 * t) = (s & 0xFF).toByte
            pcm(2 * t + 1) = ((s >> 8) & 0xFF).toByte
            t += 1
          }
          val fmt = new javax.sound.sampled.AudioFormat(
            javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
            16000f, 16, 1, 2, 16000f, false)
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
          val bos = new java.io.ByteArrayOutputStream()
          javax.sound.sampled.AudioSystem.write(ais,
            javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
          Row(id, bos.toByteArray)
        }
      }(encoder)
  }

  // ------- window-chunked long-clip audio near-dup (X5j — VERDICT r16
  // next #2: the whole-clip aHash fingerprints minutes; a crawled
  // corpus carries hour-scale files. Chunk decoded PCM into fixed
  // segments — the X23 chunking discipline on samples — hash each
  // segment with the SAME ahash64, and near-dup clips by SEGMENT
  // containment, the X8 shape on audio.)

  /** Per-segment aHash signatures over decoded WAV payloads:
    * `(media_id, seg, ahash)` — one narrow mapPartitions codec pass,
    * each clip split into `floor(n / segmentSamples)` FULL segments
    * (the ragged tail is dropped: a partial window grid would hash a
    * different pooling than every other segment), each hashed with the
    * exact [[ahash64]] (volume invariance and the 128-bit compare
    * carry over per segment). Hash-0 segments (shorter than the grid
    * can distinguish, or energy-flat — silence) are DROPPED: they are
    * unfingerprintable and would otherwise bucket every silent stretch
    * of every clip together. */
  def ahashChunks(media: DataFrame, segmentSamples: Int): DataFrame = {
    require(segmentSamples >= 65,
      s"segmentSamples ($segmentSamples) must cover the 65-window grid")
    val session = media.sparkSession
    import session.implicits._
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val samples = readPcm16(r.getAs[Array[Byte]](1))
          if (samples == null) Iterator.empty
          else {
            val id = r.getLong(0)
            val nSeg = samples.length / segmentSamples
            (0 until nSeg).iterator.flatMap { s =>
              val seg = java.util.Arrays.copyOfRange(samples,
                s * segmentSamples, (s + 1) * segmentSamples)
              val h = ahash64(seg)
              if (h == 0L) None else Some((id, s, h))
            }
          }
        }
      }
      .toDF("media_id", "seg", "ahash")
  }

  /** Clip-level near-dup verdict over [[ahashChunks]] signatures:
    * pairs `(a < b)` whose EXACT segment-hash containment reaches
    * `minFracPpm` — `least(matched_a, matched_b) · 10⁶ ≥ minFracPpm ·
    * least(segs_a, segs_b)`, cross-multiplied so the verdict is
    * integer-exact (no float at the boundary). Matching is hash
    * EQUALITY (volume invariance makes a re-gained copy's segments
    * match at Hamming 0 — the whole-clip lane's plant, per segment),
    * so the join is a plain inverted-index shuffle on the signature:
    * scale-safe, never all-pairs. A production corpus with ultra-hot
    * segment hashes (shared intros/jingles) caps them upstream the
    * way the MinHash lane caps hot shingles. */
  def ahashChunkPairs(chunks0: DataFrame, minFracPpm: Long): DataFrame = {
    require(minFracPpm > 0L && minFracPpm <= 1000000L,
      s"minFracPpm ($minFracPpm) must be in (0, 1e6]")
    // The segment frame feeds THREE consumers (the per-clip census and
    // BOTH sides of the containment self-join) — uncached, each scan
    // re-runs the WAV decode + per-segment hashing. Cache + eager
    // count → decode once; pin the tiny verdict, release the cache
    // (the hammingPairs discipline, [[graft.Pin.cached]]).
    graft.Pin.cached(chunks0) { chunks =>
      val segs = chunks.groupBy(col("media_id"))
        .agg(count(lit(1)).as("segs"))
      val a = chunks.select(col("media_id").as("media_id_a"),
        col("seg").as("seg_a"), col("ahash"))
      val b = chunks.select(col("media_id").as("media_id_b"),
        col("seg").as("seg_b"), col("ahash"))
      graft.Pin(a.join(b, Seq("ahash"))
        .filter(col("media_id_a") < col("media_id_b"))
        .groupBy(col("media_id_a"), col("media_id_b"))
        .agg(countDistinct(col("seg_a")).as("matched_a"),
          countDistinct(col("seg_b")).as("matched_b"))
        .join(segs.select(col("media_id").as("media_id_a"),
          col("segs").as("segs_a")), Seq("media_id_a"))
        .join(segs.select(col("media_id").as("media_id_b"),
          col("segs").as("segs_b")), Seq("media_id_b"))
        .filter(least(col("matched_a"), col("matched_b")) * lit(1000000L)
          >= lit(minFracPpm) * least(col("segs_a"), col("segs_b")))
        .select(col("media_id_a"), col("media_id_b"),
          col("matched_a"), col("matched_b"), col("segs_a"), col("segs_b")))
    }
  }

  /** Segment sample for the CHUNKED aHash corpus — segment content
    * `cid`, sample t, at unit gain: [[ahashSample]]'s v = 0 byte-mix
    * base keyed by cid (mirrored VERBATIM by the DuckDB oracle).
    * |s| ≤ 768; the member-1 2× re-gain stays int16-safe. */
  private[graft] def ahashChunkSample(cid: Long, t: Long): Int = {
    val fm = cid % 1000000007L
    val m = (fm ^ (fm >>> 16)) * 73244475L
    val x = m + 40503L * t
    (((((x >>> 8) & 255L) ^ ((x >>> 24) & 255L)) - 128L) * 6L).toInt
  }

  /** Planted chunked-audio corpus: REAL multi-segment WAVs on
    * audio-kind documents `doc_id % 3 = 2` — family f = doc_id/6,
    * member m = (doc_id%6)/3 ∈ {0, 1}; each clip is SIX 512-sample
    * segments whose content ids are f·16 + 3m + seg (member 1 shifts
    * the content window by 3 → the pair shares EXACTLY 3 of 6
    * segments — a planted partial overlap) and member 1 is a 2×
    * re-gain of its shared content (byte-different samples, identical
    * segment hashes by [[ahash64]] volume invariance). Cross-family
    * content ids never collide (offset ≤ 8 < 16). */
  def ahashChunkMediaFromDocuments(docs: DataFrame): DataFrame = {
    val segLen = 512
    val nSegs = 6
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType)))
    val encoder = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    docs.filter(pmod(col("doc_id"), lit(3)) === 2)
      .select(col("doc_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val f = id / 6
          val m = ((id % 6) / 3).toInt
          val n = segLen * nSegs
          val pcm = new Array[Byte](n * 2)
          var seg = 0
          while (seg < nSegs) {
            val cid = f * 16 + 3 * m + seg
            var t = 0
            while (t < segLen) {
              val s = (m + 1) * ahashChunkSample(cid, t.toLong)
              val i = seg * segLen + t
              pcm(2 * i) = (s & 0xFF).toByte
              pcm(2 * i + 1) = ((s >> 8) & 0xFF).toByte
              t += 1
            }
            seg += 1
          }
          val fmt = new javax.sound.sampled.AudioFormat(
            javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED,
            16000f, 16, 1, 2, 16000f, false)
          val ais = new javax.sound.sampled.AudioInputStream(
            new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
          val bos = new java.io.ByteArrayOutputStream()
          javax.sound.sampled.AudioSystem.write(ais,
            javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
          Row(id, bos.toByteArray)
        }
      }(encoder)
  }

  // ---------------------------------- real animated-GIF codec path (X5c)

  /** True when the JVM ships GIF ImageIO read AND write plugins —
    * probed, not assumed (the [[pngSupported]] contract). */
  lazy val gifSupported: Boolean =
    javax.imageio.ImageIO.getImageReadersByFormatName("gif").hasNext &&
      javax.imageio.ImageIO.getImageWritersByFormatName("gif").hasNext

  /** The fixed 64-entry palette every planted GIF carries: entry i is
    * (3i%256, 5i%256, 7i%256) — closed-form, so the oracle can replay
    * channel sums without a codec. 64 = 2⁶ keeps the color table a
    * legal GIF power-of-two size. */
  private val GifPaletteSize = 64
  private def gifPalette: java.awt.image.IndexColorModel = {
    val r = new Array[Byte](GifPaletteSize)
    val g = new Array[Byte](GifPaletteSize)
    val b = new Array[Byte](GifPaletteSize)
    var i = 0
    while (i < GifPaletteSize) {
      r(i) = ((i * 3) % 256).toByte
      g(i) = ((i * 5) % 256).toByte
      b(i) = ((i * 7) % 256).toByte
      i += 1
    }
    new java.awt.image.IndexColorModel(8, GifPaletteSize, r, g, b)
  }

  /** Deterministic REAL animated GIF: `frames` full-size frames of a
    * TYPE_BYTE_INDEXED image over [[gifPalette]], scanline y of frame f
    * painted with palette index (id + 17f + y) % 64, pushed through the
    * JDK's GIF sequence writer. Indexed color over an explicit palette
    * is LOSSLESS (no quantizer runs — the pixels already name palette
    * entries), so whatever a real decoder reads back per frame is
    * exactly the formula: the per-frame channel sums are closed-form,
    * which is what makes a DuckDB oracle possible without a codec —
    * the PNG/WAV argument, extended to the multi-frame (video) lane. */
  def gifPayload(id: Long, w: Int, h: Int, frames: Int): Array[Byte] = {
    val icm = gifPalette
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    val writer =
      javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    var f = 0
    while (f < frames) {
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
      val raster = img.getRaster
      var y = 0
      while (y < h) {
        val idx = ((id + 17L * f + y) % GifPaletteSize).toInt
        var x = 0
        while (x < w) { raster.setSample(x, y, 0, idx); x += 1 }
        y += 1
      }
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      f += 1
    }
    writer.endWriteSequence()
    ios.close()
    writer.dispose()
    bos.toByteArray
  }

  /** Real-GIF media table: one row per video-kind document (the same
    * doc_id % 3 == 2 lane as [[syntheticMediaWithHeaders]]'s MP4s),
    * w = 16+id%32, h = 16+id%16, frames = 1+id%4. Encoding runs
    * partition-local (the codec batch shape). */
  def gifMediaFromDocuments(docs: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType)))
    val encoder = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    docs.filter(pmod(col("doc_id"), lit(3)) === 2)
      .select(col("doc_id"))
      .transform(spreadIds)
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          Row(id, gifPayload(id,
            (16 + id % 32).toInt, (16 + id % 16).toInt, (1 + id % 4).toInt))
        }
      }(encoder)
  }

  /** One decoded frame: dimensions and integer per-channel pixel sums
    * read back OUT OF the compressed multi-frame bitstream. */
  final case class GifFrame(
      media_id: Long, frame_idx: Long, gif_w: Option[Int],
      gif_h: Option[Int], sum_r: Option[Long], sum_g: Option[Long],
      sum_b: Option[Long])

  private[graft] def decodeGifOne(id: Long, b: Array[Byte]): Seq[GifFrame] = {
    def none = Seq(GifFrame(id, 0L, None, None, None, None, None))
    if (!gifSupported || b == null) return none
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(b))
    val readers = javax.imageio.ImageIO.getImageReaders(iis)
    // Close before the no-reader return — corrupt rows route here by
    // design, and an abandoned cache stream per row accumulates.
    if (!readers.hasNext) { iis.close(); return none }
    val reader = readers.next()
    try {
      reader.setInput(iis)
      val n =
        try reader.getNumImages(true)
        catch { case _: java.io.IOException => return none }
      (0 until n).map { f =>
        val img =
          try reader.read(f)
          catch { case _: java.io.IOException => null }
        if (img == null) GifFrame(id, f.toLong, None, None, None, None, None)
        else {
          val (w, h) = (img.getWidth, img.getHeight)
          var (sr, sg, sb) = (0L, 0L, 0L)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val p = img.getRGB(x, y)
              sr += (p >> 16) & 0xFF; sg += (p >> 8) & 0xFF; sb += p & 0xFF
              x += 1
            }
            y += 1
          }
          GifFrame(id, f.toLong, Some(w), Some(h), Some(sr), Some(sg), Some(sb))
        }
      }
    } finally { reader.dispose(); iis.close() }
  }

  /** X5c — REAL multi-frame pixel decode over a (media_id, payload)
    * frame: one narrow mapPartitions pass through the JDK GIF reader,
    * one output row per frame (the decode-side half of the video lane
    * [[sampleFrames]] stubs — this one reads actual pixels). */
  def decodeGifs(media: DataFrame): DataFrame = {
    val session = media.sparkSession
    import session.implicits._
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap(r => decodeGifOne(r.getLong(0), r.getAs[Array[Byte]](1)))
      }
      .toDF()
  }

  private def beInt(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xFF) << 24) | ((b(off + 1) & 0xFF) << 16) |
      ((b(off + 2) & 0xFF) << 8) | (b(off + 3) & 0xFF)

  private def leInt(b: Array[Byte], off: Int): Int =
    (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8) |
      ((b(off + 2) & 0xFF) << 16) | ((b(off + 3) & 0xFF) << 24)

  private def ascii(b: Array[Byte], off: Int, s: String): Boolean =
    b.length >= off + s.length &&
      s.indices.forall(i => b(off + i) == s.charAt(i).toByte)

  /** Parsed header fields: format detected from MAGIC BYTES (not the
    * kind column — detection is part of the decode), dimension/rate/
    * duration from the container structure. Unknown layouts yield
    * format "unknown" with null fields, never an exception — corrupt
    * payloads are data, not crashes. */
  final case class ParsedHeader(
      media_id: Long, format: String, width: Option[Int], height: Option[Int],
      sample_rate: Option[Int], duration_ms: Option[Long])

  private val pngSig =
    Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)

  private[graft] def parseOne(id: Long, b: Array[Byte]): ParsedHeader = {
    def unknown = ParsedHeader(id, "unknown", None, None, None, None)
    if (b == null || b.length < 12) unknown
    else if (b.length >= 24 && b.take(8).sameElements(pngSig) &&
      ascii(b, 12, "IHDR"))
      ParsedHeader(id, "png", Some(beInt(b, 16)), Some(beInt(b, 20)), None, None)
    else if (b.length >= 28 && ascii(b, 0, "RIFF") && ascii(b, 8, "WAVE") &&
      ascii(b, 12, "fmt "))
      ParsedHeader(id, "wav", None, None, Some(leInt(b, 24)), None)
    else if (ascii(b, 4, "ftyp")) {
      // Scan top-level boxes for moov, then moov's children for mvhd v0.
      var off = 0
      var result = unknown
      while (off + 8 <= b.length && result.format == "unknown") {
        val size = beInt(b, off)
        // Long arithmetic: a hostile 0x7FFFFFFF box size overflows the
        // int sum right past the bounds check.
        if (size < 8 || off.toLong + size > b.length)
          return unknown.copy(format = "mp4")
        if (ascii(b, off + 4, "moov")) {
          var in = off + 8
          while (in + 8 <= off + size && result.format == "unknown") {
            val isz = beInt(b, in)
            if (isz < 8 || in.toLong + isz > off.toLong + size)
              return unknown.copy(format = "mp4")
            // Version byte must be 0: a v1 mvhd carries 64-bit times at
            // different offsets — decoding it with v0 offsets would emit
            // wrong-but-plausible values instead of null.
            if (ascii(b, in + 4, "mvhd") && isz >= 28 && b(in + 8) == 0) {
              // timescale/duration are UNSIGNED 32-bit: mask, or a
              // >2^31 duration (a ~7h clip at timescale 90000) goes
              // negative through the signed read.
              val timescale = beInt(b, in + 8 + 12) & 0xFFFFFFFFL
              val duration = beInt(b, in + 8 + 16) & 0xFFFFFFFFL
              val ms = if (timescale > 0)
                Some(duration * 1000L / timescale) else None
              result = ParsedHeader(id, "mp4", None, None, None, ms)
            }
            in += isz
          }
        }
        off += size
      }
      if (result.format == "unknown") unknown.copy(format = "mp4") else result
    }
    else unknown
  }

  /** X5d — header decode over the media table: one narrow mapPartitions
    * pass (per-partition setup point, the real-codec batch shape — like
    * [[extractFeatures]]), returning the container metadata read out of
    * the payload BYTES. */
  def parseHeaders(media: DataFrame): DataFrame = {
    val session = media.sparkSession
    import session.implicits._
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        // Per-partition setup happens HERE once in a real decoder.
        rows.map(r => parseOne(r.getLong(0), r.getAs[Array[Byte]](1)))
      }
      .toDF()
  }

  // ------------------- image perceptual-hash near-dup path (X5e)

  /** dHash pooling grid: 9 luma columns → 8 horizontal comparisons per
    * row × 8 rows = a 64-bit hash (the standard difference-hash layout:
    * Krawetz, "Kind of Like That", hackerfactor 2013 — public
    * algorithm). */
  private val DHashCols = 9
  private val DHashRows = 8

  /** Integer BT.601-flavored luma: (77r + 151g + 28b) >> 8. The weights
    * sum to exactly 256, so a gray pixel (r=g=b=L) yields exactly L —
    * what keeps the planted corpus's oracle replay closed-form. */
  private def lumaOf(p: Int): Int =
    (77 * ((p >> 16) & 0xFF) + 151 * ((p >> 8) & 0xFF) + 28 * (p & 0xFF)) >> 8

  /** 64-bit difference hash of a decoded image. Luma is pooled into a
    * 9×8 grid — pixel (x,y) lands in cell (x·9/w, y·8/h) — and bit
    * gy·8+gx (gx < 8) is set iff mean(cell gx) < mean(cell gx+1) within
    * the same grid row. Means are compared by CROSS-MULTIPLICATION
    * (sumL·cntR < sumR·cntL): exact in integers, so the hash is (a)
    * replayable by a SQL oracle with no float pooling ambiguity and
    * (b) exactly invariant under nearest-neighbor upscaling (every
    * cell's mean is preserved; pinned in DHashSpec). Ties hash to 0 —
    * a flat image has hash 0L, not an arbitrary sign choice. */
  private[graft] def dhash64(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    val sums = new Array[Long](DHashRows * DHashCols)
    val cnts = new Array[Long](DHashRows * DHashCols)
    var y = 0
    while (y < h) {
      val gy = y * DHashRows / h
      var x = 0
      while (x < w) {
        val i = gy * DHashCols + x * DHashCols / w
        sums(i) += lumaOf(img.getRGB(x, y))
        cnts(i) += 1
        x += 1
      }
      y += 1
    }
    var hash = 0L
    var gy = 0
    while (gy < DHashRows) {
      var gx = 0
      while (gx < DHashCols - 1) {
        val l = gy * DHashCols + gx
        if (sums(l) * cnts(l + 1) < sums(l + 1) * cnts(l))
          hash |= 1L << (gy * 8 + gx)
        gx += 1
      }
      gy += 1
    }
    hash
  }

  /** Planted luma for the dHash corpus, pixel (x,y) of family `f`
    * variant cap `vp` in a w×h image — mirrored VERBATIM by the DuckDB
    * oracle:
    *  - grid row 0 (y·8/h = 0) is a controlled ridge: cell gx is the
    *    constant 100 + (gx ≤ vp ? 10·gx : 10·vp − (gx − vp)), strictly
    *    rising to a peak at gx = vp then strictly falling, so the first
    *    8 hash bits are exactly [k < vp] and two variants differ in
    *    precisely |vp₁ − vp₂| bits;
    *  - rows 1–7 are a family-keyed byte mix
    *    ((v>>8) & 255) xor ((v>>24) & 255), v = m + 40503x + 48271y,
    *    m = (fm xor (fm>>16))·73244475, fm = f mod 1000000007 —
    *    identical across a family, and decorrelated across families
    *    through 32 bits of v (coincident cross-family hashes need a
    *    2⁻³² event, vs the 2⁻¹⁶ of a low-16-bit-only mix). */
  private[graft] def dhashLuma(f: Long, vp: Int, w: Int, h: Int,
                               x: Int, y: Int): Int = {
    val gy = y * DHashRows / h
    if (gy == 0) {
      val gx = x * DHashCols / w
      100 + (if (gx <= vp) 10 * gx else 10 * vp - (gx - vp))
    } else {
      val fm = f % 1000000007L
      val v = (fm ^ (fm >>> 16)) * 73244475L + 40503L * x + 48271L * y
      (((v >>> 8) & 255L) ^ ((v >>> 24) & 255L)).toInt
    }
  }

  /** Planted dHash corpus: one REAL gray PNG per image-kind document
    * (doc_id % 3 == 0 — the [[pngMediaFromDocuments]] lane), organized
    * into families f = doc_id/21 of up to 7 members with variant
    * v = (doc_id % 21)/3 ∈ 0..6, capped vp = min(v, 5):
    * w = 9·(1 + f%3), h = 8·(1 + f%2) (exact multiples of the grid, so
    * cells are equal blocks), pixels = [[dhashLuma]]. Within a family,
    * hamming(v₁,v₂) = |vp₁ − vp₂| ∈ 0..5 — the ≤-threshold is
    * genuinely exercised on both sides — and v=5/v=6 members are
    * BYTE-IDENTICAL payloads (the re-encoded-duplicate Hamming-0
    * plant); across families, distances concentrate near 28 of 56
    * mixed bits and never approach any sane threshold. */
  def dhashMediaFromDocuments(docs: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType)))
    val encoder = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    docs.filter(dhashDocPred)
      .select(col("doc_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val f = id / 21
          val vp = math.min(((id % 21) / 3).toInt, 5)
          val w = 9 * (1 + (f % 3).toInt)
          val h = 8 * (1 + (f % 2).toInt)
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val l = dhashLuma(f, vp, w, h, x, y)
              img.setRGB(x, y, (l << 16) | (l << 8) | l)
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          Row(id, bos.toByteArray)
        }
      }(encoder)
  }

  /** Decode one payload and dHash it; null for undecodable payloads or
    * a plugin-less runtime — the ONE per-payload body shared by the
    * batch signature pass ([[dhashPngs]]) and the streaming drop lane
    * ([[graft.stream.StreamingDhash]]), so a codec fix can never land
    * on one side only. */
  private[graft] def decodeDhash(b: Array[Byte]): java.lang.Long = {
    if (!pngSupported || b == null) return null
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
      catch { case _: java.io.IOException => null }
    if (img == null) null else java.lang.Long.valueOf(dhash64(img))
  }

  /** [[dhashPngs]] with an EXACT payload pre-dedup (VERDICT r14 #1
    * tail: X1a composed on the payload bytes): each DISTINCT payload
    * decodes once, and members inherit their representative's hash
    * through slim md5 joins. On production image corpora the dominant
    * duplicate class is the byte-identical re-upload (the same logo
    * stored millions of times) — this trades m codec runs per
    * m-duplicate family for ONE run plus two shuffles of slim
    * (sha256, id/hash) rows and one shuffle of the DISTINCT payloads
    * (output-proportional: a family moves one payload, not m). Wrong
    * trade on duplicate-free corpora (the extra shuffles buy nothing)
    * — callers choose by duplicate ratio; result ≡ [[dhashPngs]] by
    * construction (same decode body), pinned in DHashSpec. */
  def dhashPngsDistinct(media: DataFrame): DataFrame = {
    val session = media.sparkSession
    import session.implicits._
    // ONE fingerprint pass over the payload bytes: the slim (id, hash)
    // frame is cached and both consumers (the representative census and
    // the member join) read the cache — two uncached branches would each
    // re-scan and re-hash every payload (r15 review finding #5). The
    // payloads themselves are never cached; the bounded 16 B/row output
    // pin lets the cache release before returning. SHA-256, not MD5
    // (ADVICE r15): MD5 collisions are practically constructible, so two
    // byte-distinct adversarial payloads could silently inherit one
    // representative's hash and break the ≡-dhashPngs contract.
    graft.Pin.cached(media
        .select(col("media_id"), sha2(col("payload"), 256).as("__fp"))) { slim =>
      val reps = slim.groupBy("__fp").agg(min(col("media_id")).as("__rep"))
      // Move each DISTINCT payload once; decode through the ONE shared
      // codec body ([[decodeDhash]] — a fix can't land on one path only),
      // carrying the fingerprint so no join lineage re-evaluates.
      val hashed = media.join(reps, media("media_id") === reps("__rep"))
        .select(col("__fp"), col("payload"))
        .mapPartitions { rows =>
          rows.flatMap { r =>
            val h = decodeDhash(r.getAs[Array[Byte]](1))
            if (h == null) None else Some((r.getString(0), h.longValue))
          }
        }
        .toDF("__fp", "dhash")
      graft.Pin(slim.join(hashed, "__fp").select("media_id", "dhash"))
    }
  }

  /** X5e decode half — (media_id, dhash) signatures read back OUT OF
    * compressed payloads: one narrow mapPartitions pass through the JDK
    * PNG reader ([[decodePngs]] batch shape) computing [[dhash64]] per
    * image. Undecodable payloads (or a plugin-less runtime) yield no
    * signature — corrupt media drops out of near-dup PAIRING (a null
    * signature can never pair); the streaming DROP lane instead keeps
    * them alive with a null hash (its contract is survival). Feed the
    * output to [[graft.ext.Dedup.hammingPairs]] for the banded pair
    * join. */
  def dhashPngs(media: DataFrame): DataFrame = {
    val session = media.sparkSession
    import session.implicits._
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val h = decodeDhash(r.getAs[Array[Byte]](1))
          if (h == null) None else Some((r.getLong(0), h.longValue))
        }
      }
      .toDF("media_id", "dhash")
  }

  // ------- real JPEG codec path + DCT perceptual hash (X5g, VERDICT r15 #2)

  /** True when the JVM ships a JPEG reader AND writer (both in-JDK;
    * probed, not assumed — the [[pngSupported]] contract). */
  lazy val jpegSupported: Boolean =
    javax.imageio.ImageIO.getImageReadersByFormatName("jpg").hasNext &&
      javax.imageio.ImageIO.getImageWritersByFormatName("jpg").hasNext

  /** Planted per-block luma for the JPEG corpus: block (bx, by) of
    * image `id` is the CONSTANT 20 + (31·id + 7·bx + 13·by) mod 200.
    * Piecewise-constant on the 8×8 JPEG MCU grid (dims are multiples
    * of 8): every block carries only a DC coefficient, all AC quantize
    * to exact zero, and the gray plant keeps chroma constant — so the
    * LOSSY round trip is boundable: decoded block means sit within a
    * few counts of this formula (DC quantization at explicit quality
    * 0.95 + YCbCr integer rounding), which is what lets the decode
    * lane carry a closed-form oracle despite JPEG's lossiness. */
  private[graft] def jpegBlockLuma(id: Long, bx: Int, by: Int): Int =
    (20 + ((31 * id + 7 * bx + 13 * by) % 200)).toInt

  /** Deterministic REAL JPEG of [[jpegBlockLuma]] at EXPLICIT quality
    * 0.95 (the default 0.75 quadruples the DC quant step and with it
    * the decode tolerance). A genuine compressed bitstream — SOI,
    * quant/huffman tables, entropy-coded scan — through the JDK
    * encoder. */
  def jpegPayload(id: Long, w: Int, h: Int): Array[Byte] = {
    require(w % 8 == 0 && h % 8 == 0,
      s"planted JPEG dims must be MCU multiples, got ${w}x$h")
    // Loud, not NoSuchElementException-from-an-empty-iterator inside an
    // executor: the probe exists, consult it (r15 review finding #3).
    require(jpegSupported, "this JVM's ImageIO ships no JPEG codec")
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val l = jpegBlockLuma(id, x / 8, y / 8)
        img.setRGB(x, y, (l << 16) | (l << 8) | l)
        x += 1
      }
      y += 1
    }
    encodeJpeg(img, 0.95f)
  }

  /** JDK JPEG encode at an EXPLICIT quality — the one writer body
    * shared by the planted corpus ([[jpegPayload]]) and the re-encode
    * pass ([[reencodeJpegs]]), so the two can never use different
    * writer parameters. */
  private[graft] def encodeJpeg(img: java.awt.image.BufferedImage,
                                quality: Float): Array[Byte] = {
    val writer = javax.imageio.ImageIO
      .getImageWritersByFormatName("jpg").next()
    val p = writer.getDefaultWriteParam
    p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    p.setCompressionQuality(quality)
    val bos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
    writer.setOutput(ios)
    try writer.write(null, new javax.imageio.IIOImage(img, null, null), p)
    finally { ios.close(); writer.dispose() }
    bos.toByteArray
  }

  /** X5h build half — REAL JPEG re-encodes of an image corpus: decode
    * each payload (format-agnostic — ImageIO sniffs the container) and
    * re-compress through the JDK JPEG writer at explicit `quality`,
    * emitting `(media_id + idOffset, jpeg_payload)`. One narrow
    * mapPartitions pass (the [[dhashPngs]] batch shape); undecodable
    * payloads emit nothing (a re-encode pass has nothing to re-encode
    * — corrupt media is a later integrity gate's data, the batch
    * near-dup contract). `idOffset` keys every re-encode ABOVE its
    * original, which is what lets keep-first dedup resolve re-encodes
    * against originals deterministically (the [[graft.Queries
    * .x5XcodecDedup]] certainty-band argument relies on it).
    *
    * The decode draws a THREE-band TYPE_INT_RGB canvas explicitly
    * before encoding: ImageIO's PNG reader hands a gray PNG back as a
    * single-band TYPE_BYTE_GRAY image, and the JPEG writer encodes
    * that as a one-component (grayscale) JPEG whose decode path skips
    * YCbCr — re-drawing onto RGB pins the production shape (crawled
    * JPEGs are 3-component) and keeps the round trip inside the same
    * color path [[phash64]] reads. */
  def reencodeJpegs(media: DataFrame, idOffset: Long,
                    quality: Float = 0.95f): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType)))
    val encoder = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val b = r.getAs[Array[Byte]](1)
          val img =
            if (b == null) null
            else try javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(b))
            catch { case _: java.io.IOException => null }
          if (img == null || !jpegSupported) None
          else {
            val rgb = new java.awt.image.BufferedImage(img.getWidth,
              img.getHeight, java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = rgb.createGraphics()
            try g.drawImage(img, 0, 0, null) finally g.dispose()
            Some(Row(r.getLong(0) + idOffset, encodeJpeg(rgb, quality)))
          }
        }
      }(encoder)
  }

  /** Real-JPEG media table: one row per image-kind document
    * (doc_id % 3 == 0), dims 16..32 × 16..24 in MCU multiples keyed off
    * doc_id/3 (the lane id is ≡0 mod 3, so the quotient is what
    * varies). */
  def jpegMediaFromDocuments(docs: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType)))
    val encoder = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      .select(col("doc_id"))
      .transform(spreadIds)
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val q = id / 3
          val w = (16 + 8 * (q % 3)).toInt
          val h = (16 + 8 * (q % 2)).toInt
          Row(id, jpegPayload(id, w, h))
        }
      }(encoder)
  }

  /** One decoded JPEG: dims + row-major per-8×8-block integer luma
    * SUMS (the MCU grid is the codec's own unit, not a plant detail —
    * dims here are MCU multiples, so every block holds exactly 64
    * pixels). Nones for undecodable payloads or a codec-less runtime. */
  final case class JpegDecoded(
      media_id: Long, jpeg_w: Option[Int], jpeg_h: Option[Int],
      block_sums: Option[Seq[Long]])

  private[graft] def decodeJpegOne(id: Long, b: Array[Byte]): JpegDecoded = {
    def none = JpegDecoded(id, None, None, None)
    if (!jpegSupported || b == null) return none
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
      catch { case _: java.io.IOException => null }
    if (img == null) return none
    val (w, h) = (img.getWidth, img.getHeight)
    if (w % 8 != 0 || h % 8 != 0) return JpegDecoded(id, Some(w), Some(h), None)
    val bw = w / 8
    val sums = new Array[Long](bw * (h / 8))
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        sums((y / 8) * bw + x / 8) += lumaOf(img.getRGB(x, y))
        x += 1
      }
      y += 1
    }
    JpegDecoded(id, Some(w), Some(h), Some(sums.toSeq))
  }

  /** X5g decode half — the [[decodePngs]] batch shape through the JDK
    * JPEG reader: one narrow mapPartitions pass, per-block luma sums
    * out of the lossy bitstream. */
  def decodeJpegs(media: DataFrame): DataFrame = {
    val session = media.sparkSession
    import session.implicits._
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.map(r => decodeJpegOne(r.getLong(0), r.getAs[Array[Byte]](1)))
      }
      .toDF()
  }

  // ---- DCT perceptual hash (pHash — Krawetz's "Looks Like It" layout,
  // hackerfactor 2011, public algorithm), EXACT-INTEGER formulation so
  // a SQL oracle can replay every coefficient (VERDICT r15 ask #2:
  // "if exact-integer DCT on planted luma proves oracle-replayable,
  // promote to full oracle").

  private val PHashGrid = 32

  /** Fixed-point N=32 DCT-II basis, rows u < 8 only (the kept
    * low-frequency block): C[u][x] = round(2^14 · cos((2x+1)uπ/64)).
    * The SAME table is embedded VERBATIM in the DuckDB oracle
    * ([[graft.Lanes]] renders it from this array — one source of
    * truth), so the integer DCT is replayable to the last bit. The
    * α(u) orthonormalization factors are deliberately dropped: bits
    * compare coefficients against their own median, and a per-u
    * uniform scale... is NOT uniform across u — but α differs only on
    * u = 0, whose row/column coefficients the hash keeps with the
    * plain scale; the definition is self-consistent on both sides,
    * which is all a fingerprint needs. */
  private[graft] lazy val phashCos: Array[Array[Long]] =
    Array.tabulate(8, PHashGrid) { (u, x) =>
      Math.round(
        math.cos((2 * x + 1) * u * math.Pi / (2.0 * PHashGrid)) * 16384.0)
    }

  /** 64-bit DCT perceptual hash: luma pooled to a 32×32 grid (cell
    * value = floor(sum/count) — exact-integer, replayable), two
    * fixed-point 1D DCT passes keeping the top-left 8×8, bit v·8+u set
    * iff coefficient (v,u) exceeds the MEDIAN of the 63 AC
    * coefficients (the 32nd order statistic; DC never sets its bit —
    * it measures brightness, not structure). All-integer, so two
    * engines computing it can only agree exactly or differ loudly.
    * Magnitudes: cell ≤ 255 → |t1| ≤ 255·2^14·32 < 2^28 → |coef| ≤
    * 2^28·2^14·32 < 2^47 — long-safe with 16 bits to spare.
    *
    * Where dHash signs gradient steps (weak to re-compression, which
    * perturbs every local gradient a little), pHash thresholds global
    * low-frequency structure — JPEG's quantizer is DESIGNED to
    * preserve exactly those coefficients, so the hash survives
    * re-encoding (pinned cross-codec in JpegPhashSpec). */
  private[graft] def phash64(img: java.awt.image.BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    val n = PHashGrid
    val sums = new Array[Long](n * n)
    val cnts = new Array[Long](n * n)
    var y = 0
    while (y < h) {
      val gy = y * n / h
      var x = 0
      while (x < w) {
        val i = gy * n + x * n / w
        sums(i) += lumaOf(img.getRGB(x, y))
        cnts(i) += 1
        x += 1
      }
      y += 1
    }
    val cell = Array.tabulate(n * n)(i =>
      if (cnts(i) == 0L) 0L else Math.floorDiv(sums(i), cnts(i)))
    val t1 = Array.ofDim[Long](n, 8) // rows pass: Σ_x cell[y][x]·C[u][x]
    var yy = 0
    while (yy < n) {
      var u = 0
      while (u < 8) {
        var s = 0L
        var x = 0
        while (x < n) { s += cell(yy * n + x) * phashCos(u)(x); x += 1 }
        t1(yy)(u) = s
        u += 1
      }
      yy += 1
    }
    val coef = Array.ofDim[Long](8, 8) // cols pass: Σ_y t1[y][u]·C[v][y]
    var v = 0
    while (v < 8) {
      var u = 0
      while (u < 8) {
        var s = 0L
        var y2 = 0
        while (y2 < n) { s += t1(y2)(u) * phashCos(v)(y2); y2 += 1 }
        coef(v)(u) = s
        u += 1
      }
      v += 1
    }
    val ac = new Array[Long](63)
    var k = 0
    v = 0
    while (v < 8) {
      var u = 0
      while (u < 8) {
        if (v != 0 || u != 0) { ac(k) = coef(v)(u); k += 1 }
        u += 1
      }
      v += 1
    }
    java.util.Arrays.sort(ac)
    val med = ac(31) // the 32nd smallest of 63 = the median
    var hash = 0L
    v = 0
    while (v < 8) {
      var u = 0
      while (u < 8) {
        if ((v != 0 || u != 0) && coef(v)(u) > med)
          hash |= 1L << (v * 8 + u)
        u += 1
      }
      v += 1
    }
    hash
  }

  /** Planted luma for the pHash corpus, pixel (x,y) of family `f`
    * variant cap `vp` — mirrored VERBATIM by the DuckDB oracle:
    * a family-keyed byte mix (the [[dhashLuma]] rows-1..7 mix, reduced
    * mod 192) plus a variant perturbation vp·((x + 2y) mod 7)
    * (≤ 36, so luma stays ≤ 227): families are decorrelated noise
    * (cross-family pHash distances concentrate near 31 of 63 bits),
    * while within a family the perturbation delta is a FIXED pattern
    * scaled by |Δvp| — small signature drift for small Δvp, with the
    * vp = 6/7 cap guaranteeing byte-identical Hamming-0 members. */
  private[graft] def phashLuma(f: Long, vp: Int, x: Int, y: Int): Int = {
    val fm = f % 1000000007L
    val v = (fm ^ (fm >>> 16)) * 73244475L + 40503L * x + 48271L * y
    val base = ((((v >>> 8) & 255L) ^ ((v >>> 24) & 255L)) % 192L).toInt
    base + vp * ((x + 2 * y) % 7)
  }

  /** Planted pHash corpus: REAL gray PNGs (lossless — the decoded
    * pixels ARE [[phashLuma]], so the oracle replays the full integer
    * DCT from the formula) on image-kind documents, families
    * f = doc_id/24 of up to 8 members, variant v = (doc_id%24)/3
    * ∈ 0..7 capped vp = min(v, 6); w = 32·(1 + f%2), h = 32 — exact
    * multiples of the pooling grid, so cells are equal blocks and the
    * floor-div mean is block-exact. */
  def phashMediaFromDocuments(docs: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType)))
    val encoder = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    docs.filter(pmod(col("doc_id"), lit(3)) === 0)
      .select(col("doc_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val f = id / 24
          val vp = math.min(((id % 24) / 3).toInt, 6)
          val w = (32 * (1 + f % 2)).toInt
          val h = 32
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val l = phashLuma(f, vp, x, y)
              img.setRGB(x, y, (l << 16) | (l << 8) | l)
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          Row(id, bos.toByteArray)
        }
      }(encoder)
  }

  /** Decode one payload and pHash it — the [[decodeDhash]] discipline:
    * ONE per-payload body for every consumer, null for undecodable
    * payloads or a codec-less runtime. Format-agnostic (ImageIO
    * sniffs the container), so the same body hashes PNGs and JPEGs —
    * which is the point: a re-encoded near-duplicate must land near
    * its original regardless of container. No format-specific probe
    * here (r15 review finding #4 — gating on the PNG reader would
    * null perfectly decodable JPEGs on a PNG-less runtime):
    * `ImageIO.read` itself returns null when no installed reader
    * claims the payload. */
  private[graft] def decodePhash(b: Array[Byte]): java.lang.Long = {
    if (b == null) return null
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(b))
      catch { case _: java.io.IOException => null }
    if (img == null) null else java.lang.Long.valueOf(phash64(img))
  }

  /** X5g signature half — (media_id, phash) out of compressed payloads,
    * one narrow mapPartitions pass ([[dhashPngs]] shape). Feed to
    * [[graft.ext.Dedup.hammingPairs]]/[[graft.ext.Dedup.hammingEdges]]
    * for the banded near-dup machinery. */
  def phashImages(media: DataFrame): DataFrame = {
    val session = media.sparkSession
    import session.implicits._
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val h = decodePhash(r.getAs[Array[Byte]](1))
          if (h == null) None else Some((r.getLong(0), h.longValue))
        }
      }
      .toDF("media_id", "phash")
  }

  // ------- VIDEO near-dup (X5k — VERDICT r16 next #5: the engine
  // decoded animated-GIF frames and pHashed stills; nothing deduped
  // VIDEO. Compose them: per-frame pHash over the real multi-frame
  // decode → per-clip frame-signature set → near-dup by frame-majority
  // Hamming match — the X5j containment verdict over the banded
  // Hamming core instead of hash equality.)

  /** Decode a (possibly multi-frame) payload to its frames — the
    * image-returning sibling of [[decodeGifOne]] (which reduces to
    * channel sums); null-safe, empty for undecodable payloads. */
  private[graft] def readFrames(
      b: Array[Byte]): Seq[java.awt.image.BufferedImage] = {
    if (!gifSupported || b == null) return Nil
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(b))
    val readers = javax.imageio.ImageIO.getImageReaders(iis)
    if (!readers.hasNext) { iis.close(); return Nil }
    val reader = readers.next()
    try {
      reader.setInput(iis)
      val n =
        try reader.getNumImages(true)
        catch { case _: java.io.IOException => return Nil }
      (0 until n).flatMap { f =>
        try Option(reader.read(f))
        catch { case _: java.io.IOException => None }
      }
    } finally { reader.dispose(); iis.close() }
  }

  /** X5k signature half — `(media_id, frame_idx, phash)` out of real
    * animated-GIF payloads: one narrow mapPartitions codec pass, each
    * decoded frame hashed by the SAME exact-integer [[phash64]] as the
    * still-image lanes. */
  def videoFramePhashes(media: DataFrame): DataFrame = {
    val session = media.sparkSession
    import session.implicits._
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          readFrames(r.getAs[Array[Byte]](1)).iterator.zipWithIndex
            .map { case (img, i) => (id, i, phash64(img)) }
        }
      }
      .toDF("media_id", "frame_idx", "phash")
  }

  /** Frame index packed beside the clip id for the banded Hamming core
    * (which keys on ONE ordered column): rid = media_id·2²⁰ +
    * frame_idx. 2²⁰ frames ≈ 9.7 h at 30 fps — a clip past it should
    * chunk upstream (the X5j discipline); media ids stay exact to
    * 2⁴³. */
  private val FrameRidBase = 1048576L

  /** Clip-level near-dup verdict over [[videoFramePhashes]]
    * signatures: pairs `(a < b)` where the count of DISTINCT frames
    * matched across clips at Hamming ≤ `maxHamming` reaches
    * `minFracPpm` of the smaller clip —
    * `least(matched_a, matched_b) · 10⁶ ≥ minFracPpm ·
    * least(frames_a, frames_b)`, cross-multiplied integer-exact (the
    * [[ahashChunkPairs]] verdict over the BANDED core instead of hash
    * equality: re-encoded frames drift a few bits, and
    * [[graft.ext.Dedup.hammingPairs]]'s pigeonhole bands keep recall
    * exact at ≤ maxHamming without an all-pairs frame join). Because
    * rid packs frame beside clip and frame < 2²⁰, rid order equals
    * clip order across clips — cross-clip pair rows always come out
    * `media_id_a < media_id_b`, and equal-clip rows (within-clip
    * near-identical frames, common in real video) drop here. */
  def frameMajorityPairs(frames0: DataFrame, maxHamming: Int,
      minFracPpm: Long): DataFrame = {
    require(minFracPpm > 0L && minFracPpm <= 1000000L,
      s"minFracPpm ($minFracPpm) must be in (0, 1e6]")
    // The signature frame feeds TWO consumers (the per-clip frame
    // census and the banded Hamming core) — uncached, each would
    // re-run the upstream decode+pHash of every frame (the costly
    // subtree; signatures themselves are 20 B/row). Cache + eager
    // count → decode once; the verdict output pins and the cache
    // releases before returning (the hammingPairs discipline).
    graft.Pin.cached(frames0) { frames =>
      val cnt = frames.groupBy(col("media_id"))
        .agg(count(lit(1)).as("frames"))
      val rids = frames.select(
        (col("media_id") * lit(FrameRidBase) + col("frame_idx")).as("rid"),
        col("phash"))
      graft.Pin(Dedup.hammingPairs(rids, "rid", "phash", maxHamming)
        .selectExpr(
          "doc_id_a div 1048576 AS media_id_a",
          "doc_id_a % 1048576 AS frame_a",
          "doc_id_b div 1048576 AS media_id_b",
          "doc_id_b % 1048576 AS frame_b")
        .filter(col("media_id_a") < col("media_id_b"))
        .groupBy(col("media_id_a"), col("media_id_b"))
        .agg(countDistinct(col("frame_a")).as("matched_a"),
          countDistinct(col("frame_b")).as("matched_b"))
        .join(cnt.select(col("media_id").as("media_id_a"),
          col("frames").as("frames_a")), Seq("media_id_a"))
        .join(cnt.select(col("media_id").as("media_id_b"),
          col("frames").as("frames_b")), Seq("media_id_b"))
        .filter(least(col("matched_a"), col("matched_b")) * lit(1000000L)
          >= lit(minFracPpm) * least(col("frames_a"), col("frames_b")))
        .select(col("media_id_a"), col("media_id_b"),
          col("matched_a"), col("matched_b"),
          col("frames_a"), col("frames_b")))
    }
  }

  /** TEMPORAL-ORDER-aware video near-dup verdict: pairs `(a < b)`
    * whose best single ALIGNMENT OFFSET carries `minFracPpm` of the
    * smaller clip's frames — matched frame pairs group by
    * `frame_b − frame_a` and the verdict takes the MAX distinct-frame
    * count over offsets: `max_d |{(i, j) matched : j − i = d}| · 10⁶ ≥
    * minFracPpm · least(frames_a, frames_b)`. Where
    * [[frameMajorityPairs]] treats a clip as a frame SET (a shuffled
    * re-ordering of the same frames still passes), alignment demands
    * the shared frames appear in the SAME ORDER at ONE temporal shift
    * — the re-cut/trim duplicate class (discrimination pinned in
    * VideoNeardupSpec: a frame-permuted copy passes majority and
    * fails alignment). Same banded Hamming core, one extra tiny
    * per-pair aggregate — never all-pairs. */
  def frameAlignmentPairs(frames0: DataFrame, maxHamming: Int,
      minFracPpm: Long): DataFrame = {
    require(minFracPpm > 0L && minFracPpm <= 1000000L,
      s"minFracPpm ($minFracPpm) must be in (0, 1e6]")
    // Same two-consumer shape as [[frameMajorityPairs]]: cache the slim
    // signatures so the frame decode runs once, pin the tiny verdict,
    // release the cache.
    graft.Pin.cached(frames0) { frames =>
      val cnt = frames.groupBy(col("media_id"))
        .agg(count(lit(1)).as("frames"))
      val rids = frames.select(
        (col("media_id") * lit(FrameRidBase) + col("frame_idx")).as("rid"),
        col("phash"))
      graft.Pin(Dedup.hammingPairs(rids, "rid", "phash", maxHamming)
        .selectExpr(
          "doc_id_a div 1048576 AS media_id_a",
          "doc_id_a % 1048576 AS frame_a",
          "doc_id_b div 1048576 AS media_id_b",
          "doc_id_b % 1048576 AS frame_b")
        .filter(col("media_id_a") < col("media_id_b"))
        .groupBy(col("media_id_a"), col("media_id_b"),
          (col("frame_b") - col("frame_a")).as("offset"))
        .agg(countDistinct(col("frame_a")).as("at_offset"))
        .groupBy(col("media_id_a"), col("media_id_b"))
        .agg(max(col("at_offset")).as("aligned"))
        .join(cnt.select(col("media_id").as("media_id_a"),
          col("frames").as("frames_a")), Seq("media_id_a"))
        .join(cnt.select(col("media_id").as("media_id_b"),
          col("frames").as("frames_b")), Seq("media_id_b"))
        .filter(col("aligned") * lit(1000000L)
          >= lit(minFracPpm) * least(col("frames_a"), col("frames_b")))
        .select(col("media_id_a"), col("media_id_b"), col("aligned"),
          col("frames_a"), col("frames_b")))
    }
  }

  /** Incremental (cross-sided) frame-majority near-dup: a NEW clip's
    * frame signatures against a SAVED history frame index — the X1h
    * nightly posture on video ([[graft.ext.Dedup.hammingPairsAgainst]]
    * over packed rids: cross-side (band, bucket) candidates only,
    * exact Hamming verify, the shard never re-hashes history). Same
    * containment verdict as [[frameMajorityPairs]], keyed
    * (new, hist). */
  def frameMajorityAgainst(newFrames0: DataFrame, histFrames: DataFrame,
      maxHamming: Int, minFracPpm: Long): DataFrame = {
    require(minFracPpm > 0L && minFracPpm <= 1000000L,
      s"minFracPpm ($minFracPpm) must be in (0, 1e6]")
    // Probe-side signatures feed the census AND the banded core; cache
    // so tonight's clips decode once. History is a parquet signature
    // index — re-scanning it is a footer-cheap columnar read, not a
    // codec pass, so it stays uncached.
    def pack(f: DataFrame) = f.select(
      (col("media_id") * lit(FrameRidBase) + col("frame_idx")).as("rid"),
      col("phash"))
    def cnt(f: DataFrame, out: String) = f.groupBy(col("media_id"))
      .agg(count(lit(1)).as(out))
    graft.Pin.cached(newFrames0) { newFrames =>
      graft.Pin(Dedup.hammingPairsAgainst(pack(newFrames), pack(histFrames),
          "rid", "phash", maxHamming)
        .selectExpr(
          "doc_id_new div 1048576 AS media_id_new",
          "doc_id_new % 1048576 AS frame_new",
          "doc_id_hist div 1048576 AS media_id_hist",
          "doc_id_hist % 1048576 AS frame_hist")
        .groupBy(col("media_id_new"), col("media_id_hist"))
        .agg(countDistinct(col("frame_new")).as("matched_new"),
          countDistinct(col("frame_hist")).as("matched_hist"))
        .join(cnt(newFrames, "frames_new")
          .select(col("media_id").as("media_id_new"), col("frames_new")),
          Seq("media_id_new"))
        .join(cnt(histFrames, "frames_hist")
          .select(col("media_id").as("media_id_hist"), col("frames_hist")),
          Seq("media_id_hist"))
        .filter(least(col("matched_new"), col("matched_hist")) * lit(1000000L)
          >= lit(minFracPpm) * least(col("frames_new"), col("frames_hist")))
        .select(col("media_id_new"), col("media_id_hist"),
          col("matched_new"), col("matched_hist"),
          col("frames_new"), col("frames_hist")))
    }
  }

  /** Planted frame palette index for the VIDEO corpus — frame content
    * `cid`, pixel (x, y): the byte-mix base reduced mod the 64-entry
    * [[gifPalette]] (mirrored VERBATIM by the DuckDB oracle — the
    * decoded channel values are 3p%256 / 5p%256 / 7p%256 and luma
    * replays through the exact (77r+151g+28b)>>8 fold). */
  private[graft] def videoFrameIndex(cid: Long, x: Int, y: Int): Int = {
    val fm = cid % 1000000007L
    val m = (fm ^ (fm >>> 16)) * 73244475L
    val v = m + 40503L * x + 48271L * y
    ((((v >>> 8) & 255L) ^ ((v >>> 24) & 255L)) % 64L).toInt
  }

  /** Planted video corpus: REAL six-frame animated GIFs (indexed color
    * over the explicit palette — LOSSLESS, so decoded pixels ARE the
    * formula) on video-kind documents `doc_id % 3 = 0` — family
    * f = doc_id/6, member m = (doc_id%6)/3 ∈ {0, 1}; frame k of member
    * m carries content id f·16 + 2m + k, so the family pair shares
    * EXACTLY 4 of 6 frame contents (member 1 is the clip re-cut two
    * frames later — the planted partial overlap; offsets ≤ 7 < 16 keep
    * families disjoint). Frames are 32×32 — exact pooling-grid
    * multiples, cells are single pixels. */
  def videoMediaFromDocuments(docs: DataFrame): DataFrame = {
    val nFrames = 6
    val dim = 32
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType)))
    val encoder = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    docs.filter(videoDocPred)
      .select(col("doc_id"))
      .transform(spreadIds)
      .mapPartitions { rows =>
        val icm = gifPalette
        rows.map { r =>
          val id = r.getLong(0)
          val f = id / 6
          val m = ((id % 6) / 3).toInt
          val bos = new java.io.ByteArrayOutputStream()
          val ios = javax.imageio.ImageIO.createImageOutputStream(bos)
          val writer = javax.imageio.ImageIO
            .getImageWritersByFormatName("gif").next()
          writer.setOutput(ios)
          writer.prepareWriteSequence(null)
          var k = 0
          while (k < nFrames) {
            val cid = f * 16 + 2 * m + k
            val img = new java.awt.image.BufferedImage(
              dim, dim, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
            val raster = img.getRaster
            var y = 0
            while (y < dim) {
              var x = 0
              while (x < dim) {
                raster.setSample(x, y, 0, videoFrameIndex(cid, x, y))
                x += 1
              }
              y += 1
            }
            writer.writeToSequence(
              new javax.imageio.IIOImage(img, null, null), null)
            k += 1
          }
          writer.endWriteSequence()
          ios.close()
          writer.dispose()
          Row(id, bos.toByteArray)
        }
      }(encoder)
  }

  // ---------------------- real IMA-ADPCM codec path (X5f)

  /** IMA/DVI ADPCM step-size table (89 entries) and index-adjust table
    * — from the public IMA "Recommended Practices for Enhancing Digital
    * Audio Compatibility" spec (1992), as registered for WAVE format
    * tag 0x0011. Bit-exact integers: the whole decode path is integer
    * shifts/adds, which is what lets a SQL oracle replay the state
    * machine independently. */
  private[graft] val ImaStepTable: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17,
    19, 21, 23, 25, 28, 31, 34, 37, 41, 45,
    50, 55, 60, 66, 73, 80, 88, 97, 107, 118,
    130, 143, 157, 173, 190, 209, 230, 253, 279, 307,
    337, 371, 408, 449, 494, 544, 598, 658, 724, 796,
    876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358,
    5894, 6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899,
    15289, 16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)

  private[graft] val ImaIndexTable: Array[Int] =
    Array(-1, -1, -1, -1, 2, 4, 6, 8)

  /** One IMA-ADPCM decode step: (pred, index) × nibble → (pred', index').
    * The canonical shift form — diff = (2·magnitude + 1)·step/8 computed
    * as step>>3 (+ step>>2 if bit0) (+ step>>1 if bit1) (+ step if bit2),
    * sign from bit3, predictor clamped to int16, index clamped to the
    * table. */
  private[graft] def imaStep(pred: Int, index: Int, nib: Int): (Int, Int) = {
    val step = ImaStepTable(index)
    var diff = step >> 3
    if ((nib & 1) != 0) diff += step >> 2
    if ((nib & 2) != 0) diff += step >> 1
    if ((nib & 4) != 0) diff += step
    val p = if ((nib & 8) != 0) pred - diff else pred + diff
    val pc = math.max(-32768, math.min(32767, p))
    val ic = math.max(0, math.min(88, index + ImaIndexTable(nib & 7)))
    (pc, ic)
  }

  /** Planted nibble stream: nibble for sample t (t ≥ 1; sample 0 is the
    * block-header predictor) is ((id·7 + 13t) xor (t >> 3)) & 15 —
    * integer, nonnegative, mirrored verbatim by the oracle's recursive
    * replay. */
  private[graft] def adpcmNibble(id: Long, t: Long): Int =
    (((id * 7 + 13 * t) ^ (t >> 3)) & 15L).toInt

  private def le16(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xFF); out.write((v >> 8) & 0xFF)
  }
  private def le32(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xFF); out.write((v >> 8) & 0xFF)
    out.write((v >> 16) & 0xFF); out.write((v >> 24) & 0xFF)
  }

  /** A REAL WAVE/IMA-ADPCM (format tag 0x0011) container: RIFF header,
    * 20-byte fmt chunk with the IMA extension (cbSize=2 +
    * wSamplesPerBlock), the `fact` chunk compressed WAVE requires
    * (dwSampleLength = n), and one data block — 4-byte block header
    * (int16 predictor = sample 0, uint8 step index, reserved 0)
    * followed by the nibble stream, two samples per byte, LOW nibble
    * first. An odd sample count leaves a padding nibble the decoder
    * must NOT emit (the fact count caps it) — deliberately exercised
    * since n here can be even (n−1 nibbles odd). */
  def adpcmPayload(id: Long, n: Int, sampleRate: Int,
                   pred0: Int, index0: Int): Array[Byte] = {
    val nibBytes = (n - 1 + 1) / 2 // ceil((n-1)/2)
    val blockAlign = 4 + nibBytes
    val spb = (blockAlign - 4) * 2 + 1
    val dataLen = blockAlign
    val out = new java.io.ByteArrayOutputStream()
    out.write('R'); out.write('I'); out.write('F'); out.write('F')
    le32(out, 4 + (8 + 20) + (8 + 4) + (8 + dataLen) + (dataLen & 1))
    out.write('W'); out.write('A'); out.write('V'); out.write('E')
    out.write('f'); out.write('m'); out.write('t'); out.write(' ')
    le32(out, 20)
    le16(out, 0x0011)               // wFormatTag: IMA ADPCM
    le16(out, 1)                    // mono
    le32(out, sampleRate)
    le32(out, sampleRate * blockAlign / spb) // nominal byte rate
    le16(out, blockAlign)
    le16(out, 4)                    // bits per (encoded) sample
    le16(out, 2)                    // cbSize
    le16(out, spb)                  // wSamplesPerBlock
    out.write('f'); out.write('a'); out.write('c'); out.write('t')
    le32(out, 4)
    le32(out, n)                    // dwSampleLength
    out.write('d'); out.write('a'); out.write('t'); out.write('a')
    le32(out, dataLen)
    le16(out, pred0 & 0xFFFF)       // block header: predictor (sample 0)
    out.write(index0); out.write(0)
    var t = 1L
    while (t < n) {
      val lo = adpcmNibble(id, t)
      val hi = if (t + 1 < n) adpcmNibble(id, t + 1) else 0
      out.write(lo | (hi << 4))
      t += 2
    }
    if ((dataLen & 1) != 0) out.write(0) // RIFF word-alignment pad
    out.toByteArray
  }

  /** Planted ADPCM media table over the audio-kind lane (doc_id % 3 ==
    * 1, the [[wavMediaFromDocuments]] lane): n = 64 + id%64 samples at
    * rate 8000 + (id%3)·4000, header predictor (id·97)%2048 − 1024,
    * initial step index id % 89 — every constant mirrored by the
    * oracle. */
  def adpcmMediaFromDocuments(docs: DataFrame): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("payload", BinaryType)))
    val encoder = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    docs.filter(pmod(col("doc_id"), lit(3)) === 1)
      .select(col("doc_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          Row(id, adpcmPayload(id, (64 + id % 64).toInt,
            (8000 + (id % 3) * 4000).toInt,
            ((id * 97) % 2048 - 1024).toInt, (id % 89).toInt))
        }
      }(encoder)
  }

  /** One decoded ADPCM payload: rate and sample count from the
    * container, plus two integer checksums of the decoded PCM — the
    * plain sum and the position-weighted sum Σ pred_t·(t+1), which a
    * re-ordered or off-by-one decode cannot fake. Nulls for
    * undecodable/foreign payloads. */
  final case class AdpcmDecoded(
      media_id: Long, sample_rate: Option[Int], n_samples: Option[Long],
      sum_samples: Option[Long], sum_weighted: Option[Long])

  private def leU16(b: Array[Byte], off: Int): Int =
    (b(off) & 0xFF) | ((b(off + 1) & 0xFF) << 8)
  private def leS16(b: Array[Byte], off: Int): Int = leU16(b, off).toShort.toInt

  /** Decode one WAVE/IMA-ADPCM container — a REAL chunk-walking parser
    * (fmt tag must be 0x0011 mono; fact caps the emitted count; data
    * decodes block by block, each block restarting the predictor/index
    * state from its own header, low nibble first). Bounds-checked
    * throughout; anything malformed returns the all-null row. */
  private[graft] def decodeAdpcmOne(id: Long, b: Array[Byte]): AdpcmDecoded = {
    def none = AdpcmDecoded(id, None, None, None, None)
    if (b == null || b.length < 12 || !ascii(b, 0, "RIFF") ||
      !ascii(b, 8, "WAVE")) return none
    var off = 12
    var rate = -1; var blockAlign = -1; var factN = -1L
    var dataOff = -1; var dataLen = -1
    while (off + 8 <= b.length) {
      val len = leInt(b, off + 4)
      if (len < 0 || off.toLong + 8 + len > b.length) return none
      if (ascii(b, off, "fmt ") && len >= 16) {
        if (leU16(b, off + 8) != 0x0011 || leU16(b, off + 10) != 1) return none
        rate = leInt(b, off + 12)
        blockAlign = leU16(b, off + 20)
      } else if (ascii(b, off, "fact") && len >= 4) {
        factN = leInt(b, off + 8).toLong & 0xFFFFFFFFL
      } else if (ascii(b, off, "data")) {
        dataOff = off + 8; dataLen = len
      }
      off += 8 + len + (len & 1) // RIFF chunks are word-aligned
    }
    if (rate <= 0 || blockAlign < 5 || dataOff < 0 || factN < 0) return none
    var emitted = 0L; var ssum = 0L; var wsum = 0L
    var blk = dataOff
    while (blk + 4 <= dataOff + dataLen && emitted < factN) {
      var pred = leS16(b, blk)
      var index = b(blk + 2) & 0xFF
      if (index > 88) return none
      // Block header carries sample 0.
      emitted += 1; ssum += pred; wsum += pred * emitted
      val blkEnd = math.min(blk + blockAlign, dataOff + dataLen)
      var pos = blk + 4
      while (pos < blkEnd && emitted < factN) {
        val byteV = b(pos) & 0xFF
        var half = 0 // low nibble first
        while (half < 2 && emitted < factN) {
          val nib = if (half == 0) byteV & 0xF else (byteV >> 4) & 0xF
          val (p, i) = imaStep(pred, index, nib)
          pred = p; index = i
          emitted += 1; ssum += pred; wsum += pred * emitted
          half += 1
        }
        pos += 1
      }
      blk += blockAlign
    }
    if (emitted != factN) return none
    AdpcmDecoded(id, Some(rate), Some(factN), Some(ssum), Some(wsum))
  }

  /** X5f — REAL compressed-audio decode over a (media_id, payload)
    * frame: one narrow mapPartitions pass through the IMA-ADPCM state
    * machine (the codec batch shape of [[decodeWavs]]; the JDK ships no
    * MP3/AAC codec, so IMA-ADPCM — a public-spec, bit-exact integer
    * coder — is the honest real-compressed-audio lane). */
  def decodeAdpcms(media: DataFrame): DataFrame = {
    val session = media.sparkSession
    import session.implicits._
    media.select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.map(r => decodeAdpcmOne(r.getLong(0), r.getAs[Array[Byte]](1)))
      }
      .toDF()
  }
}
