package graft

import org.apache.spark.sql.functions._

import graft.ext.Rendezvous

class RendezvousSpec extends SparkSpec {

  private def keys(n: Int) =
    spark.range(0L, n.toLong).toDF("k")

  test("minimal disruption: growing 8 -> 9 moves ~1/9 of keys and " +
       "every one of them moves TO the new shard") {
    // With the interpreted fallback off, a generated method past Janino's
    // 64 KB limit fails the query instead of running it slowly: the
    // filter pushed below assign's projection inlines every weight.
    val fallback = "spark.sql.codegen.fallback"
    val prev = spark.conf.getOption(fallback)
    spark.conf.set(fallback, "false")
    try {
      val out = Rendezvous.assign(keys(20000), "k", nShards = 8,
        seed = 7L, compareWith = Some(9))
      val moved = out.filter(col("shard_next") =!= col("shard"))
      val n = moved.count()
      // E[n] = 20000/9 ≈ 2222; bind generously.
      assert(n > 1600 && n < 2900, s"moved $n of 20000 — not ~1/9")
      assert(moved.filter(col("shard_next") =!= 8L).count() == 0L,
        "a key moved between two OLD shards — rendezvous broken")
    } finally prev.fold(spark.conf.unset(fallback))(spark.conf.set(fallback, _))
  }

  test("a null key gets no shard, from shardOf and assign alike") {
    val withNull = keys(10).withColumn("k",
      when(col("k") === 3L, lit(null).cast("long")).otherwise(col("k")))
    for (n <- Seq(1, 8)) {
      val viaAssign = Rendezvous.assign(withNull, "k", n, seed = 5L)
        .filter(col("k").isNull).select("shard").collect().map(_.get(0))
      val viaShardOf = withNull.filter(col("k").isNull)
        .select(Rendezvous.shardOf(col("k"), n, 5L)).collect().map(_.get(0))
      assert(viaAssign.toSeq == Seq(null) && viaShardOf.toSeq == Seq(null),
        s"n=$n: null key routed to ${viaAssign.toSeq} / ${viaShardOf.toSeq}")
    }
  }

  test("occupancy is uniform-ish and the assignment is deterministic " +
       "and partitioning-invariant") {
    val a = Rendezvous.assign(keys(8000), "k", 8, seed = 42L)
    val counts = a.groupBy("shard").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(counts.size == 8)
    counts.values.foreach(c => assert(c > 700 && c < 1300,
      s"shard occupancy $counts drifted from uniform"))
    val b = Rendezvous.assign(keys(8000).repartition(13), "k", 8, 42L)
      .collect().map(_.toSeq).toSet
    assert(a.collect().map(_.toSeq).toSet == b)
  }

  test("the materialized-weight assign decides identically to the " +
       "single-expression shardOf") {
    import org.apache.spark.sql.functions.col
    val a = Rendezvous.assign(keys(5000), "k", 8, seed = 99L)
      .select("k", "shard").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = keys(5000)
      .withColumn("shard", Rendezvous.shardOf(col("k"), 8, 99L))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b, "projection must not change a single decision")
  }

  test("degenerate ring: one shard takes everything") {
    val one = Rendezvous.assign(keys(100), "k", 1, seed = 1L)
    assert(one.filter(col("shard") =!= 0L).count() == 0L)
  }
}
