package graft.ext

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions

/** X2e — SemDeDup: semantic deduplication by cluster-then-prune. Where
  * X1e ([[Similarity.nearDupPairs]]) buckets by random hyperplanes,
  * SemDeDup partitions the embedding space with the SAME k-means coarse
  * quantizer the IVF index uses ([[IvfIndex.build]]), generates
  * candidate pairs only WITHIN a cluster, keeps pairs above the cosine
  * threshold, and resolves them to keep/drop decisions through the
  * detector-agnostic component resolver ([[DedupResolve]]).
  *
  * Scale shape (100 TB): candidate volume is Σ|cluster|²/2, bounded by
  * choosing k proportional to corpus size (constant expected cluster
  * size) and, defensively, by `maxClusterSize` (the [[Dedup.dropHotKeys]]
  * aggregate-then-anti-join — a degenerate cluster around a dense mode
  * is precisely where the quadratic blows up). The cluster self-join is
  * an equality join on the cluster id — never all-pairs — and exact
  * cosine runs only on candidates, via the codegen'd
  * [[graft.functions.CosineSimilarity]].
  *
  * Determinism: identical vectors always share a cluster (the quantizer
  * is a pure function of the vector), so exact duplicates are found with
  * probability 1 at ANY k — which is what makes the planted-copy query
  * oracle-checkable even though the clustering itself is not
  * SQL-replayable. Near-duplicates may straddle a cluster boundary; that
  * recall/cost trade IS SemDeDup (raise k → cheaper and blinder).
  */
object SemDedup {

  /** Within-cluster near-duplicate pairs: (id_a, id_b, cosine_sim) with
    * a < b, cosine rounded to 4 dp, ordered. `k`/`iters` parameterize
    * the quantizer; `maxClusterSize` (off by default) drops degenerate
    * clusters before the self-join.
    *
    * `bandWidth` (off by default — the exact within-cluster path)
    * enables the paper's ε-ball approximation for LARGE clusters:
    * members sort by cosine-to-their-centroid and only pairs within
    * `bandWidth` sort positions are candidates. Near-identical vectors
    * have near-identical centroid cosines, so true near-dups land
    * adjacent; candidate volume drops from Σ|c|²/2 to Σ|c|·w. The
    * banded join is still a (cluster, block) EQUALITY join — each row
    * lands in its rank-block and the next, so pairs within w ranks
    * share a block and meet exactly once (same-block pairs are taken
    * unshifted; cross-block pairs meet only where one side shifted —
    * both-shifted re-meetings are excluded). The ranking window
    * buffers one CLUSTER per partition (not the corpus) — on a corpus
    * where a degenerate cluster could exceed executor memory, combine
    * with `maxClusterSize`, which drops such clusters before ranking. */
  def pairs(emb: DataFrame, k: Int, iters: Int = 2, minCosine: Double = 0.95,
            idCol: String = "vec_id", vecCol: String = "embedding",
            maxClusterSize: Option[Int] = None,
            bandWidth: Option[Int] = None): DataFrame = {
    // Ordering is a presentation contract of THIS surface only — the
    // decisions path consumes the unsorted set (the component resolver
    // re-shuffles by vertex anyway, so a pre-sort is pure waste there).
    // The sort reads the already-pinned pair set.
    rawPairs(emb, k, iters, minCosine, idCol, vecCol,
      maxClusterSize, bandWidth).orderBy("id_a", "id_b")
  }

  private def rawPairs(emb: DataFrame, k: Int, iters: Int, minCosine: Double,
                       idCol: String, vecCol: String,
                       maxClusterSize: Option[Int],
                       bandWidth: Option[Int]): DataFrame = {
    require(k >= 1, s"k ($k) must be >= 1")
    val model = IvfIndex.build(emb, k, iters, idCol, vecCol)
    val asg0 = model.assignments // (idCol, cluster), cached by build
    val asg = maxClusterSize match {
      case Some(cap) =>
        require(cap >= 2, s"maxClusterSize ($cap) must be >= 2")
        Dedup.dropHotKeys(asg0, Seq("cluster"), cap)
      case None => asg0
    }
    val withVec = asg.join(emb.select(col(idCol), col(vecCol)), idCol)
    val candidates = bandWidth match {
      case None =>
        val a = withVec.select(col("cluster"), col(idCol).as("id_a"), col(vecCol).as("__va"))
        val b = withVec.select(col("cluster"), col(idCol).as("id_b"), col(vecCol).as("__vb"))
        a.join(b, Seq("cluster")).filter(col("id_a") < col("id_b"))
      case Some(w) =>
        require(w >= 1, s"bandWidth ($w) must be >= 1")
        // Rank within cluster by centroid cosine (desc; id tiebreak).
        // The window partitions by cluster, so its buffer is bounded by
        // the (capped) cluster size — never the corpus.
        val spark = emb.sparkSession
        import spark.implicits._
        val cents = model.centroids.zipWithIndex
          .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cluster", "__cent")
        val win = org.apache.spark.sql.expressions.Window
          .partitionBy(col("cluster")).orderBy(col("__cdist").desc, col(idCol))
        val ranked = withVec.join(broadcast(cents), "cluster")
          .withColumn("__cdist", VectorFunctions.cosine(col(vecCol), col("__cent")))
          .withColumn("__rank", row_number().over(win).cast("long") - 1L)
          .drop("__cent", "__cdist")
        val expanded = ranked
          .withColumn("__e", explode(array(
            struct((col("__rank") / w).cast("long").as("blk"),
              lit(false).as("shift")),
            struct(((col("__rank") / w).cast("long") + 1L).as("blk"),
              lit(true).as("shift")))))
          .select(col("cluster"), col(idCol), col(vecCol),
            col("__rank"), col("__e.blk").as("__blk"), col("__e.shift").as("__sh"))
        val a = expanded.select(col("cluster"), col("__blk"),
          col(idCol).as("id_a"), col(vecCol).as("__va"),
          col("__rank").as("__ra"), col("__sh").as("__sa"))
        val b = expanded.select(col("cluster"), col("__blk"),
          col(idCol).as("id_b"), col(vecCol).as("__vb"),
          col("__rank").as("__rb"), col("__sh").as("__sb"))
        a.join(b, Seq("cluster", "__blk"))
          .filter(col("id_a") < col("id_b") &&
            !(col("__sa") && col("__sb")) &&
            abs(col("__ra") - col("__rb")) <= w)
    }
    val out = candidates
      .select(col("id_a"), col("id_b"),
        round(VectorFunctions.cosine(col("__va"), col("__vb")), 4).as("cosine_sim"))
      .filter(col("cosine_sim") >= minCosine)
      // A pair straddling zero clusters can't appear; one sharing BOTH of
      // two probe-able clusters can't either (assignment is single-best),
      // so no distinct() is needed — each pair meets at most once (the
      // banded path's shift rule preserves this).
    // Pin the (small) pair set, then drop the cached inverted lists —
    // same lifecycle as the banded dedup operators (Dedup.jaccardPairs).
    graft.Pin.releasing(out)(model.release())
  }

  /** Full SemDeDup: pairs resolved to per-document decisions — one row
    * per id in any pair: (id, cluster_id = component minimum, keep). */
  def decisions(emb: DataFrame, k: Int, iters: Int = 2,
                minCosine: Double = 0.95, idCol: String = "vec_id",
                vecCol: String = "embedding",
                maxClusterSize: Option[Int] = None,
                bandWidth: Option[Int] = None): DataFrame =
    DedupResolve.connectedComponents(
        rawPairs(emb, k, iters, minCosine, idCol, vecCol, maxClusterSize,
          bandWidth),
        aCol = "id_a", bCol = "id_b")
      .select(col("id"), col("component").as("cluster_id"),
        (col("id") === col("component")).as("keep"))
      .orderBy("id")
}
