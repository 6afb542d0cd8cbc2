package graft

import org.apache.spark.sql.Row

import graft.ext.RobustStats

class StreamingMadGateSpec extends SparkSpec {

  private val ddl = "event_type STRING, value DOUBLE"

  test("serve ≡ self-fit on the same data; unseen groups gate NULL " +
       "(fail-safe)") {
    val hist = df(Seq(
      Row("a", 1.0), Row("a", 2.0), Row("a", 3.0), Row("a", 1000000.0),
      Row("b", 5.0), Row("b", 5.0), Row("b", 5.0)), ddl)
    val cuts = RobustStats.fit(hist)
    val served = RobustStats.gateAgainst(hist, cuts).collect()
      .map(r => (r.getString(0), r.getDouble(1)) ->
        (if (r.isNullAt(r.fieldIndex("is_outlier"))) null
         else r.getAs[Boolean]("is_outlier")): (Any, Any))
    val self = RobustStats.madFlags(hist).collect()
      .map(r => (r.getString(0), r.getDouble(1)) ->
        r.getAs[Boolean]("is_outlier")): Seq[(Any, Any)]
    assert(served.toMap == self.toMap,
      "gating through saved cuts must equal the self-fit flags")
    // A group the fit never saw: NULL, not a silent verdict.
    val unseen = RobustStats.gateAgainst(
        df(Seq(Row("zz", 1.0)), ddl), cuts).collect().head
    assert(unseen.isNullAt(unseen.fieldIndex("is_outlier")))
  }

  test("live micro-batched stream gates identically to batch") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val ev = Tables.events(spark, sfDir)
    import org.apache.spark.sql.functions._
    val cuts = RobustStats.fit(ev.filter(pmod(col("event_id"), lit(2L)) === 0L))
    val serveRows = ev.filter(pmod(col("event_id"), lit(2L)) === 1L)
      .select("event_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSeq
    val input = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, Double)]
    val out = scala.collection.mutable.Buffer[(Long, Boolean)]()
    val query = RobustStats.gateAgainst(
        input.toDF().toDF("event_id", "event_type", "value"), cuts)
      .writeStream.outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        out.synchronized {
          out ++= b.collect().map(r => (r.getAs[Long]("event_id"),
            r.getAs[Boolean]("is_outlier")))
          ()
        }
      }
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("graft-s16-ckpt").toString)
      .start()
    try {
      val (a, b) = serveRows.splitAt(serveRows.length / 2)
      input.addData(a); query.processAllAvailable()
      input.addData(b); query.processAllAvailable()
    } finally query.stop()
    val batch = RobustStats.gateAgainst(
        df(serveRows.map(t => Row(t._1, t._2, t._3)),
          "event_id BIGINT, event_type STRING, value DOUBLE"), cuts)
      .collect().map(r => (r.getAs[Long]("event_id"),
        r.getAs[Boolean]("is_outlier")))
    assert(out.sortBy(_._1).toSeq == batch.sortBy(_._1).toSeq,
      "stream and batch gating diverged")
  }
}
