package graft

import org.apache.spark.sql.Row

import graft.ext.QualityScore

class StreamingQualitySpec extends SparkSpec {

  private val ddl = "doc_id BIGINT, text STRING"
  private val cfg = QualityScore.loadConfig("recipes/quality_scorer.json")

  test("the shipped scorer config loads with the non-default weights " +
       "and provably diverges from the code defaults") {
    assert(cfg.weights.stop == 1800L && cfg.weights.alpha == 1200L &&
      cfg.weights.punct == -900L && cfg.weights.meanTokLen == 120L &&
      cfg.hi == 1670L && cfg.lo == 1560L)
    assert(cfg.weights != QualityScore.Weights(),
      "the deploy artifact must not silently equal the defaults")
    // At least one document bands differently under the file weights
    // than under the defaults — the gate genuinely serves the file.
    val docs = Tables.documents(spark, sfDir)
    val file = QualityScore.scored(docs, "text", cfg.weights, cfg.hi, cfg.lo)
      .select("doc_id", "q_band").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val dflt = QualityScore.scored(docs)
      .select("doc_id", "q_band").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(file != dflt, "file-loaded cuts must change at least one band")
  }

  test("live micro-batched stream equals the batch projection row for " +
       "row, empty and null documents band as 'empty'") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sfDir).select("doc_id", "text")
      .collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) null else r.getString(1)))
      .toSeq :+ (9999999L -> "the cat sat on. the mat, and that is that.") :+
      (9999998L -> (null: String)) :+ (9999997L -> "   ")
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String)]
    val out = scala.collection.mutable.Buffer[(Long, Long, String)]()
    val query = QualityScore.scored(
        input.toDF().toDF("doc_id", "text"), "text", cfg.weights, cfg.hi, cfg.lo)
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized {
          out ++= b.collect().map(r => (r.getAs[Long]("doc_id"),
            r.getAs[Long]("q_score_num"), r.getAs[String]("q_band")))
          ()
        }
      }
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft-s13-ckpt").toString)
      .start()
    try {
      val (a, b) = docs.splitAt(docs.length / 2)
      input.addData(a); query.processAllAvailable()
      input.addData(b); query.processAllAvailable()
    } finally query.stop()
    val batch = QualityScore.scored(
        df(docs.map(t => Row(t._1, t._2)), ddl), "text", cfg.weights, cfg.hi, cfg.lo)
      .collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("q_score_num"),
        r.getAs[String]("q_band")))
    assert(out.sortBy(_._1).toSeq == batch.sortBy(_._1).toSeq,
      "stream and batch quality scoring diverged")
    assert(out.exists(r => r._1 == 9999998L && r._3 == "empty"))
    assert(out.exists(r => r._1 == 9999997L && r._3 == "empty"))
  }
}
