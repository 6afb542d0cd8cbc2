package graft

import org.scalatest.funsuite.AnyFunSuite

/** The correctness gate's coverage contract, pinned.
  *
  * Every registered query either carries a DuckDB oracle (the driver
  * hash-compares it) or appears in the DECLARED rows-only allowlist —
  * the randomized LSH/ANN families whose outputs are hash-family- or
  * seed-specific, each of which has an oracle-checked planted twin.
  * A new query added without an oracle would otherwise silently
  * downgrade to the driver's weak rows>0 check; this spec makes that
  * a loud, reviewed decision instead. */
class OracleCoverageSpec extends AnyFunSuite {

  /** Rows-only by design — randomized-family outputs — each mapped to
    * its oracle-checked planted/deterministic twin. */
  private val rowsOnlyTwins = Map(
    "x1_minhash_pairs" -> "x1_minhash_planted",
    "x1_simhash_pairs" -> "x1_simhash_planted",
    // (x2_ann_against also probes the saved index under the oracle)
    "x2_ann_topk" -> "x2_ann_planted",
    // (x2_ivf_against also probes the saved index under the oracle)
    "x2_ivf_topk" -> "x2_ivf_planted",
    "x2_pq_topk" -> "x2_pq_planted",
    "x2_ivfpq_topk" -> "x2_ivfpq_planted",
    "s3_stream_neardup" -> "s3_planted_neardup",
    "s4_stream_simhash" -> "s4_planted_simhash",
    // Not randomized but equally unreplayable: DuckDB ships no
    // deflate, so the ratio census can't hash-compare; the planted
    // twin's band IS certain (a constant run < 8% under any correct
    // deflate) and oracle-checked.
    "x46_compress_ratio" -> "x46_planted_ratio",
    // Deterministic but not DuckDB-computable at depth: a 1024-step
    // chained-MATERIALIZED-CTE replay is infeasible; the k=8 twin
    // runs the identical trainer under the full trajectory oracle,
    // and BpeTrainSpec pins delta ≡ full-census at k=100.
    "x53_bpe_deep" -> "x53_bpe_train")
  private val declaredRowsOnly = rowsOnlyTwins.keySet

  test("every oracle key names a registered query") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle SQL for unregistered: $orphans")
  }

  test("every registered query is oracle-checked or declared rows-only") {
    val uncovered = SparkEntry.queries.keySet --
      SparkEntry.oracleSql.keySet -- declaredRowsOnly
    assert(uncovered.isEmpty,
      s"queries without an oracle NOR a rows-only declaration: $uncovered — " +
        "add Oracles.sql entries (or, for a randomized family, add them " +
        "here WITH an oracle-checked planted twin)")
  }

  test("the rows-only allowlist is not stale") {
    val stale = declaredRowsOnly.filter(SparkEntry.oracleSql.contains)
    assert(stale.isEmpty, s"declared rows-only but has an oracle: $stale")
    val gone = declaredRowsOnly -- SparkEntry.queries.keySet
    assert(gone.isEmpty, s"declared rows-only but not registered: $gone")
    // Each rows-only family's planted twin must exist and be
    // oracle-checked — the r8/r9 discipline that made the randomized
    // lanes verifiable.
    rowsOnlyTwins.foreach { case (q, t) =>
      assert(SparkEntry.queries.contains(t) && SparkEntry.oracleSql.contains(t),
        s"$q lacks an oracle-checked planted twin ($t)")
    }
  }
}
