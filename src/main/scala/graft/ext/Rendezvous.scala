package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** X49 — rendezvous (highest-random-weight) shard routing: assign each
  * key to the shard whose keyed hash scores highest. The property that
  * makes it worth a name — and the reason every incremental pipeline
  * eventually wants it over `pmod(hash, n)` — is MINIMAL DISRUPTION:
  * growing n → n+1 moves exactly the keys whose new-shard weight wins
  * (≈ 1/(n+1) of them), and every moved key moves TO the new shard —
  * the relative order among surviving shards is untouched, so nothing
  * reshuffles between old shards. Under `pmod`, the same growth moves
  * ~n/(n+1) of ALL keys — a full re-shard of a persisted corpus (the
  * X1h fingerprint index, the X24 postings, the X10 layout) instead of
  * an incremental top-up.
  *
  * Weights are the engine's SQL-replayable ORDER-grade
  * [[Sampling.orderKey]] at per-shard seeds (`seed + s`) — orderKey,
  * not raw [[Sampling.hash64]], is load-bearing: hash64's no-wrap low
  * lane is order-preserving in `(key + seedLane)`, so under raw
  * hash64 the argmax picks the same seed for nearly EVERY key and one
  * shard swallows the corpus (measured: 500/500 keys on one shard
  * before the finalizer; rendezvous is exactly the "sorts BY the hash
  * value" consumer family orderKey exists for). Argmax is ONE
  * expression: the greatest (weight, −shard) struct, so ties (already
  * ~2⁻⁶² per pair) break to the LOWEST shard identically in both
  * engines, and a null key (null weights) gets no shard. Map-only: n
  * hash evaluations + n comparisons per row, no shuffle, no state.
  */
object Rendezvous {

  /** The winning shard in [0, nShards) for `key`. */
  def shardOf(key: Column, nShards: Int, seed: Long): Column = {
    require(nShards >= 1 && nShards <= 1024,
      s"nShards ($nShards) must be in [1, 1024]")
    argmax((0 until nShards).map(s => Sampling.orderKey(key, seed + s)))
  }

  /** The index of the greatest weight in `ws`, lowest index on a tie,
    * null when the weights are (a null key). One `greatest` over
    * (weight, −index) structs: each weight appears once, where a
    * when-chain against the max repeats every weight twice — and
    * Catalyst may inline the weights again into a filter it pushes below
    * [[assign]]'s projection. */
  private def argmax(ws: Seq[Column]): Column = {
    val best =
      if (ws.size == 1) lit(0L)
      else -greatest(ws.zipWithIndex.map { case (w, s) =>
        struct(w.as("w"), lit(-s.toLong).as("s"))
      }: _*).getField("s")
    when(ws.head.isNotNull, best)
  }

  /** Append `shard` (and, when `compareWith` is set, `shard_next` for
    * the grown ring) to `df`. The weights are projected once as
    * columns before the argmax, so both rings' argmaxes read the same
    * max(n, n₂) hashes instead of each computing its own (decisions
    * pinned equal to [[shardOf]] in RendezvousSpec). That holds for
    * the plan as built: a filter over `shard`/`shard_next` can be
    * pushed below the projection, and Catalyst then inlines the
    * weights into the filter and evaluates them there again. */
  def assign(df: DataFrame, keyCol: String, nShards: Int, seed: Long,
             compareWith: Option[Int] = None): DataFrame = {
    val maxN = math.max(nShards, compareWith.getOrElse(0))
    val ws = (0 until maxN).map(s =>
      Sampling.orderKey(col(keyCol), seed + s).as(s"__w$s"))
    val projected = df.select(df.columns.map(col).toIndexedSeq ++ ws: _*)
    def pick(n: Int): Column = argmax((0 until n).map(s => col(s"__w$s")))
    val out = projected.withColumn("shard", pick(nShards))
    compareWith.fold(out)(n2 => out.withColumn("shard_next", pick(n2)))
      .drop((0 until maxN).map(s => s"__w$s"): _*)
  }
}
