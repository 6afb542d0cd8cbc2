package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.graftbridge.ListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** [[Tables.load]] reads a single-file table's schema from its parquet
  * footer: the schema inference would return, without inference's
  * Spark job; a directory still loads by inference. */
class TablesFooterSpec extends SparkSpec {

  private def jobsDuring(body: => Unit): Int = {
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    ListenerBridge.flush(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    try {
      body
      ListenerBridge.flush(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    jobs.get
  }

  test("the footer schema equals the inferred schema for every table at sf0.001 and sf0.01") {
    val testdata = new java.io.File(sfDir).getParent
    for (sf <- Seq("sf0.001", "sf0.01"); table <- Tables.all) {
      val dir = s"$testdata/$sf"
      assert(Tables.load(spark, dir, table).schema ==
        spark.read.parquet(s"$dir/$table.parquet").schema, s"$sf/$table")
    }
  }

  test("building a Tables.load frame of a single-file table runs no Spark job") {
    Tables.load(spark, sfDir, "region").schema // class loading, off the count
    val jobs = jobsDuring {
      Tables.all.foreach(Tables.load(spark, sfDir, _))
      Tables.events(spark, sfDir)
    }
    assert(jobs == 0)
  }

  test("a directory table still loads") {
    val dir = java.nio.file.Files.createTempDirectory("tables-dir").toString
    Tables.load(spark, sfDir, "nation").write.parquet(s"$dir/nation.parquet")
    val loaded = Tables.load(spark, dir, "nation")
    assert(loaded.schema == Tables.load(spark, sfDir, "nation").schema)
    assert(loaded.count() == 25)
  }
}
