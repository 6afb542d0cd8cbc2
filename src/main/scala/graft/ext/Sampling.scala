package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** X6 — deterministic stratified sampling for training-data curation:
  * down-weight over-represented strata (language, source, quality band)
  * with per-stratum keep rates that are REPRODUCIBLE — the same row set
  * survives on every run, cluster size, and engine.
  *
  * Mechanism: a keyed integer hash maps each row's key+seed to a bucket
  * in [0, 10000); a row survives iff its bucket < rate×10000. No RNG
  * state, no partition-order dependence — unlike `df.sample`/`sampleBy`,
  * whose survivors change with partitioning. The hash is plain integer
  * arithmetic, so the DuckDB oracle replays it exactly.
  *
  * The hash splits the key into a 31-bit low lane and a 32-bit high
  * lane, runs each through multiply → xor-shift (Knuth's golden-ratio
  * prime / a sub-2²⁹ prime), lifts the high-lane mix to the upper bits
  * with a second multiply, and xor-combines before a final xor-shift.
  * Three properties are load-bearing:
  *
  *  - EVERY intermediate stays positive and below 2⁶³ for ANY
  *    non-negative 63-bit key: the low lane masks to 31 bits before its
  *    2³²-scale multiplier, and the high lane (the key's full upper 32
  *    bits — NOT folded down, so no seed-independent collision family
  *    exists across the 2⁶² boundary) multiplies by a sub-2²⁹ prime, so
  *    both products are < 2⁶³. (The r5 single-multiply form overflowed
  *    — loudly, ANSI throw — for keys above ~3.4×10⁹, a real ceiling at
  *    100 TB where 64-bit hash-derived doc ids are the norm.)
  *  - the low lane is INJECTIVE end to end (no 31-bit re-mask after its
  *    multiply; see [[hash64]]), so keys within the same 2³¹-aligned id
  *    block — dense sequential ids, the common corpus shape — never
  *    collide, and the full output is ~2⁶²-valued, not 2³¹-valued as an
  *    earlier masked-lane form silently was (ADVICE r6).
  *  - the xor-shifts are non-affine: a PURE multiplicative hash maps
  *    arithmetic progressions of keys to arithmetic progressions of
  *    buckets, so a STRIDED key set (interleaved shards, every-Nth-id
  *    sources — exactly how per-source ids land in real corpora)
  *    clusters into a narrow bucket band and a requested 58% rate can
  *    keep 94% or 0% (measured, r5). Both lane strides pass through a
  *    multiply and xor-shift folds, so low- and high-half strides
  *    decorrelate; deciles over strided keys are uniform to ±5% at both
  *    ends of the key range (SamplingSpec re-proves this at ~2⁶²).
  *
  * Composability: the bucket-based operators (sampling, splits, mixing,
  * training order) each salt the seed with a distinct per-purpose
  * constant ([[SplitSalt]]/[[MixSalt]]/[[OrderSalt]]). Without salting,
  * composing two operators at the same seed correlates them fully —
  * e.g. mixing at rate ≤ 0.98 keeps only buckets below the threshold,
  * so a subsequent 98/1/1 split would assign EVERY survivor to 'train'
  * and leave val/test silently empty. With distinct salts the
  * selections are independent at any shared seed.
  *
  * At 100 TB this is a narrow map-only pass (no shuffle): the predicate
  * evaluates per row and pushes into the scan where the source supports
  * it. A production deployment wanting stronger mixing can swap the
  * hash for `xxhash64` (Spark-native, codegen'd) at the cost of
  * engine-portable replay.
  *
  * DETERMINISM SCOPE: selections are reproducible across runs, cluster
  * sizes, partitionings, and engines — for a given LIBRARY VERSION.
  * The hash function itself is not a cross-version contract (it was
  * strengthened for key range, collision structure, and full-seed
  * sensitivity); a pipeline that must reproduce a historical split
  * byte-for-byte should persist the assignment column, not re-derive
  * it under a newer hash.
  */
object Sampling {

  private val Knuth = 2654435761L       // Knuth's 2^32 golden-ratio prime
  private val HighPrime = 486187739L    // < 2^29: (2^33)·HighPrime < 2^63,
                                        // so the UNMASKED 32-bit high lane
                                        // (plus seed) multiplies safely
  private val Mask31 = 0x7FFFFFFFL      // keep every multiply under 2^63
  private val Buckets = 10000L

  /** Per-purpose seed salts (xor'd into the caller's seed) so composed
    * operators draw independent selections at the same seed. Plain
    * stratified sampling is the unsalted baseline. */
  val SplitSalt = 0x53504C49L   // "SPLI"
  val MixSalt = 0x4D495853L     // "MIXS"
  val OrderSalt = 0x4F524452L   // "ORDR"
  val GumbelSalt = 0x47554D42L  // "GUMB" — [[Dsir.resample]]'s draw

  /** Per-lane 31-bit seed material from the FULL 64-bit seed: a
    * splitmix64-style finalizer runs Scala-side (the result is a plan
    * literal, so engine replay is unaffected), then splits into the two
    * lanes' addends. Without this, masking the raw seed to 31 bits made
    * seeds differing only above bit 30 — e.g. seeds derived from 64-bit
    * run-id hashes — produce byte-identical samples/splits/mixes with
    * no warning. Shared with [[graft.Lanes]]' oracle SQL generation, ONE
    * definition. */
  private[graft] def seedLanes(seed: Long): (Long, Long) = {
    var z = seed + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z = z ^ (z >>> 31)
    (z & Mask31, (z >>> 31) & Mask31)
  }

  /** Full-width keyed mix of a non-negative key: the value [[bucket]]
    * reduces mod 10000. Exposed for order-by uses ([[Mixing
    * .trainingOrder]]) where 10⁴ distinct values would leave huge tie
    * groups in input order — this is ~2⁶²-valued, so ties are rare.
    *
    * The high lane takes the key's upper 32 bits WHOLE (`key >> 31`,
    * seed added, NO mask) into a sub-2²⁹ multiplier: an earlier form
    * folded bit 62 into bit 31 before the seed entered, which made
    * `hash64(2³¹+c) == hash64(2⁶²+c)` for EVERY c at EVERY seed — a
    * structural 2-to-1 family no salt could decorrelate. With the full
    * lane seeded before any compression, residual collisions are the
    * generic seed-dependent kind every bucketed hash has.
    * Replay in SQL (all values positive: `%` = pmod, `>>` logical;
    * sLo/sHi are the [[seedLanes]] constants of the full 64-bit seed):
    * {{{
    *   k0 = key & 2147483647
    *   k1 = key >> 31                             -- upper 32 bits, whole
    *   h1 = ((k0 + sLo) & 2147483647) * 2654435761
    *   g1 = xor(h1, h1 >> 31)                     -- NO mask: bijection
    *   h2 = (k1 + sHi) * 486187739
    *   g2 = xor(h2, h2 >> 31) & 2147483647
    *   h3 = xor(g1, g2 * 2654435761)
    *   hash64 = xor(h3, h3 >> 29)
    * }}}
    * The low lane stays INJECTIVE end to end: h1 = m·Knuth is exact
    * integer arithmetic (no mod), the xor-shift is a bijection, and the
    * combine xors in the high lane as a constant for fixed k1 — so two
    * keys in the same 2³¹-aligned id block NEVER collide. An earlier
    * form masked g1 back to 31 bits before combining, which funneled
    * every same-block key set — dense sequential ids, the NORM for
    * per-source corpora — through a 2³¹-value bottleneck: at 10⁹ dense
    * docs that is ~0.5 expected occupants per hash value, i.e. hundreds
    * of millions of [[Mixing.trainingOrder]] tie pairs, not "rare". With
    * the unmasked lane, residual collisions need differing k1 AND a
    * g2-compression or xor coincidence (~2⁻⁶² per pair). Bounds: h1 ≤
    * (2³¹−1)·Knuth ≈ 5.70×10¹⁸ < 2⁶³, g2·Knuth the same, xor never
    * exceeds its operands' bit width, so every intermediate stays
    * positive and below 2⁶³. */
  def hash64(key: Column, seed: Long): Column = {
    val (sLo, sHi) = seedLanes(seed)
    val k0 = key.bitwiseAND(lit(Mask31))
    val k1 = shiftright(key, 31)
    val h1 = (k0 + lit(sLo)).bitwiseAND(lit(Mask31)) * lit(Knuth)
    val g1 = h1.bitwiseXOR(shiftright(h1, 31))
    val h2 = (k1 + lit(sHi)) * lit(HighPrime)
    val g2 = h2.bitwiseXOR(shiftright(h2, 31)).bitwiseAND(lit(Mask31))
    val h3 = g1.bitwiseXOR(g2 * lit(Knuth))
    h3.bitwiseXOR(shiftright(h3, 29))
  }

  /** Stable per-row bucket in [0, Buckets) for any non-negative key —
    * see [[hash64]] for the formula and its replay contract. */
  def bucket(key: Column, seed: Long): Column =
    pmod(hash64(key, seed), lit(Buckets))

  /** ORDER-grade key: [[hash64]] plus a wrapped-multiply finalizer on
    * the low 31 bits, for the one consumer family that sorts BY the
    * hash value ([[Mixing.trainingOrder]], [[Curation.write]]'s
    * `shuffle_key`) rather than thresholding or bucketing it.
    *
    * Why [[hash64]] alone cannot be a sort key: to keep every
    * intermediate below 2⁶³ for exact SQL replay, its low lane is
    * `m·Knuth` with NO modular wrap — injective (good for bucketing:
    * pmod wraps it implicitly) but order-PRESERVING in m. Sorting a
    * dense doc-id block by it, consecutive ids sit ~Knuth apart along
    * an arithmetic progression and the xor-shift perturbations are the
    * same magnitude, so the "shuffled" order keeps ~92% of adjacent id
    * pairs adjacent (measured, 100k dense ids) — same-crawl,
    * same-source documents stay glued together in every training batch,
    * which is exactly what a corpus shuffle exists to break.
    *
    * The finalizer wraps: `lo·Knuth mod 2³¹` (odd multiplier →
    * bijective on the lane, so no entropy lost) becomes the HIGH 31
    * bits, with bits 32..62 of the hash below — adjacent ids land
    * ~uniformly over the range (adjacency 2×10⁻⁵ measured, concordance
    * with id order 0.50, pmod-uniform for [[graft.ext.Curation
    * .shardOf]]). 62-bit valued; rare cross-block ties fall to the
    * caller's id tiebreak. Every intermediate stays below 2⁶³
    * (`a ≤ 2³¹−1` → `a·2³¹ + 2³¹−1 < 2⁶²`), so DuckDB replays it
    * exactly:
    * {{{
    *   h  = hash64(key, seed)
    *   lo = h & 2147483647
    *   a  = (lo * 2654435761) & 2147483647   -- wrapped: breaks the
    *   orderKey = a * 2147483648             --  no-wrap progression
    *            + ((h >> 32) & 2147483647)
    * }}} */
  def orderKey(key: Column, seed: Long): Column = {
    val h = hash64(key, seed)
    val lo = h.bitwiseAND(lit(Mask31))
    val a = (lo * lit(Knuth)).bitwiseAND(lit(Mask31))
    a * lit(2147483648L) + shiftright(h, 32).bitwiseAND(lit(Mask31))
  }

  /** The per-row bucket threshold for a rate map: a when-chain over the
    * strata, `defaultRate` otherwise. Rates quantize to 1/10000. */
  def keepThreshold(strataCol: String, rates: Map[String, Double],
                    defaultRate: Double = 1.0): Column = {
    require((rates.values ++ Seq(defaultRate)).forall(r => r >= 0.0 && r <= 1.0),
      "rates must be in [0, 1]")
    // math.round, not .toLong: truncation quantizes ~6% of exact
    // 4-decimal rates one bucket low (0.0003 * 10000 = 2.9999…).
    rates.foldLeft(
        lit(math.round(defaultRate * Buckets)): Column) { case (acc, (stratum, rate)) =>
      when(col(strataCol) === stratum, lit(math.round(rate * Buckets))).otherwise(acc)
    }
  }

  /** Deterministic dataset split assignment — train/val/test by hash
    * band: a document's split is a pure function of (key, seed), so the
    * same row lands in the same split on every run, cluster size, and
    * engine, and splits are DISJOINT by construction (contiguous bucket
    * ranges). `fractions` is ordered; rows past the cumulative fractions
    * get `otherwise` (holdout). Map-only, no shuffle — the assignment is
    * a column, so callers can filter OR keep it as annotation.
    * Quantization is 1/10000 (half-up, like [[keepThreshold]]).
    * The seed is salted with [[SplitSalt]], so splitting the output of
    * a sample/mix at the same seed still lands every stratum. */
  def assignSplit(keyCol: Column, fractions: Seq[(String, Double)],
                  otherwise: String = "holdout", seed: Long = 42L): Column = {
    require(fractions.nonEmpty, "at least one split fraction")
    require(fractions.forall(_._2 >= 0.0), "fractions must be >= 0")
    require(fractions.map(_._2).sum <= 1.0 + 1e-9,
      s"fractions sum to ${fractions.map(_._2).sum} — must be <= 1")
    val names = fractions.map(_._1)
    require(names.distinct.size == names.size && !names.contains(otherwise),
      "split names must be distinct and not collide with the holdout label")
    val b = bucket(keyCol, seed ^ SplitSalt)
    val cum = fractions.scanLeft(0.0)(_ + _._2).tail.map(c => math.round(c * Buckets))
    // foldRight nests the when-chain so the FIRST matching (smallest)
    // bound wins — ranges are [prev, bound), disjoint by construction.
    fractions.zip(cum).foldRight(lit(otherwise): Column) {
      case (((name, _), bound), acc) => when(b < bound, lit(name)).otherwise(acc)
    }
  }

  /** SQL-replayable non-negative 60-bit key for a STRING group — the
    * md5-prefix family (the [[Dsir]] bucket-hash / x12 fingerprint
    * discipline; 15 hex chars < 2⁶³, so [[hash64]]'s non-negative-key
    * contract holds). Null groups key as the `''` group — one shared
    * split, never a silent drop. */
  def groupKey(c: Column): Column =
    conv(substring(md5(coalesce(c, lit(""))), 1, 15), 16, 10).cast("long")

  /** X52 — GROUP-preserving split (the GroupKFold leakage guard): the
    * split key is the group's hash, not the row's, so every member of
    * a group lands in the same split BY CONSTRUCTION — same-domain
    * pages, same-author documents, or a near-duplicate family can
    * never straddle train/test (row-keyed splitting leaks: the model
    * sees the test set's twin at training time and the eval is
    * quietly optimistic). Same map-only shape as [[assignSplit]]. */
  def assignSplitByGroup(groupCol: Column,
                         fractions: Seq[(String, Double)],
                         otherwise: String = "holdout",
                         seed: Long = 42L): Column =
    assignSplit(groupKey(groupCol), fractions, otherwise, seed)

  /** Split census: (split, n_docs), ordered — the audit frame. */
  def splitSummary(df: DataFrame, keyCol: String,
                   fractions: Seq[(String, Double)],
                   otherwise: String = "holdout", seed: Long = 42L): DataFrame =
    df.groupBy(assignSplit(col(keyCol), fractions, otherwise, seed).as("split"))
      .agg(count(lit(1)).as("n_docs"))
      .orderBy("split")

  /** Keep each stratum at its configured rate (strata absent from
    * `rates` fall back to `defaultRate`). */
  def stratifiedSample(df: DataFrame, keyCol: String, strataCol: String,
                       rates: Map[String, Double], defaultRate: Double = 1.0,
                       seed: Long = 42L): DataFrame =
    df.filter(bucket(col(keyCol), seed) <
      keepThreshold(strataCol, rates, defaultRate))

  /** Audit view: per-stratum input size, survivor count, achieved rate —
    * one aggregate over the sampled-or-not flag (single scan, no join). */
  def sampleSummary(df: DataFrame, keyCol: String, strataCol: String,
                    rates: Map[String, Double], defaultRate: Double = 1.0,
                    seed: Long = 42L): DataFrame = {
    val threshold = keepThreshold(strataCol, rates, defaultRate)
    df.groupBy(col(strataCol).as("stratum")).agg(
        count(lit(1)).as("n_in"),
        count(when(bucket(col(keyCol), seed) < threshold, lit(1))).as("n_kept"))
      .withColumn("kept_rate",
        round(col("n_kept") / col("n_in").cast("double"), 4))
      .orderBy("stratum")
  }
}
