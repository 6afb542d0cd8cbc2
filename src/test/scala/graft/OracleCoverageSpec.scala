package graft

import org.scalatest.funsuite.AnyFunSuite

/** The correctness gate's coverage contract, pinned.
  *
  * Every registered lane either carries a DuckDB oracle (the gate
  * hash-compares it) or is rows-only with an oracle-checked twin
  * ([[Lanes.checked]] enforces both when the registry is built). The
  * rows-only lanes are pinned here by name, so a lane that would
  * silently downgrade to the gate's weak rows>0 check needs a
  * reviewed edit of this spec. */
class OracleCoverageSpec extends AnyFunSuite {

  /** Rows-only by design, each mapped to its twin; the reasons sit
    * beside their entries in [[Lanes.all]]. */
  private val rowsOnlyTwins = Map(
    "x1_minhash_pairs" -> "x1_minhash_planted",
    "x1_simhash_pairs" -> "x1_simhash_planted",
    "x2_ann_topk" -> "x2_ann_planted",
    "x2_ivf_topk" -> "x2_ivf_planted",
    "x2_pq_topk" -> "x2_pq_planted",
    "x2_ivfpq_topk" -> "x2_ivfpq_planted",
    "s3_stream_neardup" -> "s3_planted_neardup",
    "s4_stream_simhash" -> "s4_planted_simhash",
    "x46_compress_ratio" -> "x46_planted_ratio",
    "x53_bpe_deep" -> "x53_bpe_train")

  test("every oracle key names a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle SQL for unregistered: $orphans")
  }

  test("every registered query is oracle-checked or declared rows-only") {
    val oracled = SparkEntry.oracleSql.keySet
    assert(SparkEntry.queries.keySet == oracled ++ rowsOnlyTwins.keySet)
    assert((oracled & rowsOnlyTwins.keySet).isEmpty)
  }

  test("the rows-only allowlist is not stale") {
    val declared = Lanes.all.collect { case Lane(n, _, RowsOnly(t)) => n -> t }
    assert(declared.toMap == rowsOnlyTwins)
    rowsOnlyTwins.foreach { case (q, t) =>
      assert(SparkEntry.queries.contains(t) && SparkEntry.oracleSql.contains(t),
        s"$q lacks an oracle-checked planted twin ($t)")
    }
  }
}
