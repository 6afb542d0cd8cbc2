package graft

import org.apache.spark.sql.Row

import graft.ext.LangTrained

class StreamingLangSpec extends SparkSpec {

  private val ddl = "lang STRING, text STRING"

  private lazy val weights: Map[String, Seq[Long]] = {
    val docs = Tables.documents(spark, sfDir).select("lang", "text")
    LangTrained.finalWeights(
      LangTrained.fitAll(LangTrained.features(docs), epochs = 3))
  }

  test("live micro-batched stream equals the batch classification row " +
       "for row; null text classifies (und heuristic, zero features)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val docs = Tables.documents(spark, sfDir).select("lang", "text")
      .collect()
      .map(r => (r.getString(0), if (r.isNullAt(1)) null else r.getString(1)))
      .toSeq :+ ("xx" -> (null: String)) :+
      ("de" -> "der hund und die katze ist nicht mit dem ball")
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(String, String)]
    val out = scala.collection.mutable.Buffer[(String, String, String)]()
    val query = LangTrained.classified(
        input.toDF().toDF("lang", "text"), weights)
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized {
          out ++= b.collect().map(r => (r.getAs[String]("label"),
            r.getAs[String]("pred_trained"), r.getAs[String]("pred_heur")))
          ()
        }
      }
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft-s17-ckpt").toString)
      .start()
    try {
      val (a, b) = docs.splitAt(docs.length / 2)
      input.addData(a); query.processAllAvailable()
      input.addData(b); query.processAllAvailable()
    } finally query.stop()
    val batch = LangTrained.classified(
        df(docs.map(t => Row(t._1, t._2)), ddl), weights)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    assert(out.sorted.toSeq == batch.sorted.toSeq,
      "stream and batch language classification diverged")
    // The hand-planted German sentence must classify de on BOTH
    // predictors through the stream.
    assert(out.exists(r => r._1 == "de" && r._3 == "de"),
      "the planted de sentence must at least satisfy the heuristic")
  }

  test("the registered batch replay censuses the whole corpus exactly " +
       "once and matches x3_lang_trained's census") {
    val a = Queries.s17StreamLang(spark, sfDir).collect().map(_.toSeq)
    val b = Queries.x3LangTrained(spark, sfDir).collect().map(_.toSeq)
    assert(a.toSeq == b.toSeq,
      "the streaming lane's batch replay must census identically")
  }
}
