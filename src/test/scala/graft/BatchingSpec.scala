package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.Batching

class BatchingSpec extends SparkSpec {

  private val ddl = "doc_id BIGINT, text STRING"

  test("small fixture: bands by n_tok div width, ranks in key order, " +
       "batches of batchSize, zero-token docs drop") {
    // doc 1: 2 tokens (band 0), doc 2: 2 tokens (band 0), doc 3:
    // 5 tokens (band 1), doc 4: blank (drops), doc 5: 3 tokens (band 0).
    val rows = Seq(
      Row(1L, "a b"), Row(2L, "c d"), Row(3L, "e f g h i"),
      Row(4L, "   "), Row(5L, "j k l"))
    val out = Batching.assignBatches(df(rows, ddl), bandWidth = 4L,
      nBands = 8, batchSize = 2L, blockSize = 2L, fanout = 2L)
      .orderBy("band", "batch_idx", "seq_in_batch").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("band"),
        r.getAs[Long]("batch_idx"), r.getAs[Long]("seq_in_batch")))
    assert(out.toSeq == Seq(
      (1L, 0L, 0L, 0L), (2L, 0L, 0L, 1L), (5L, 0L, 1L, 0L),
      (3L, 1L, 0L, 0L)),
      s"got:\n${out.mkString("\n")}")
  }

  test("assignment is bit-for-bit invariant to blockSize, fanout, and " +
       "input partitioning, and equals the naive per-band window") {
    val docs = Tables.documents(spark, sfDir)
    def run(bs: Long, fo: Long, parts: Int) =
      Batching.assignBatches(docs.repartition(parts), bandWidth = 64L,
        nBands = 32, batchSize = 32L, blockSize = bs, fanout = fo)
        .collect().map(_.toSeq).toSet
    val a = run(500L, 4L, 7)
    assert(a == run(100000L, 10000L, 2), "blockSize/fanout changed rows")
    assert(a == run(37L, 2L, 13), "partitioning changed rows")

    // The naive formulation the staged scan replaces.
    val toks = docs.select(col("doc_id"),
      graft.ext.TextAnalysis.tokenCount(col("text")).as("n_tok"))
      .filter(col("n_tok") > 0)
      .withColumn("band", least(expr("n_tok div 64"), lit(31L)))
    val naive = toks.withColumn("__rank",
      row_number().over(Window.partitionBy("band").orderBy("doc_id"))
        .cast("long") - 1L)
      .select(col("doc_id"), col("n_tok"), col("band"),
        expr("__rank div 32").as("batch_idx"),
        expr("__rank % 32").as("seq_in_batch"))
      .collect().map(_.toSeq).toSet
    assert(a == naive, "staged rank must equal the plain window")
  }

  test("audit arithmetic: padded = n_docs * max, waste is the exact " +
       "integer ppm, every full batch has batchSize docs") {
    val out = Batching.batchAudit(Tables.documents(spark, sfDir),
      bandWidth = 64L, nBands = 32, batchSize = 32L).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val (n, mx, act) = (r.getAs[Long]("n_docs"), r.getAs[Long]("max_tok"),
        r.getAs[Long]("actual_tok"))
      assert(r.getAs[Long]("padded_tok") == n * mx)
      assert(r.getAs[Long]("pad_waste_ppm") ==
        (n * mx - act) * 1000000L / (n * mx))
      assert(act <= n * mx && n <= 32L)
    }
    // Banding keeps waste bounded: within a band max−min < bandWidth,
    // so waste < bandWidth/bandFloor for every band above the first.
    val waste = out.filter(_.getAs[Long]("band") > 0L)
      .map(r => (r.getAs[Long]("band"), r.getAs[Long]("pad_waste_ppm")))
    waste.foreach { case (band, ppm) =>
      assert(ppm < 1000000L * 64L / (band * 64L),
        s"band $band waste $ppm above the banding bound")
    }
  }

  test("superblock ids past MaxSuperblocks fail loudly, not silently " +
       "(the runtime guard on the per-band offset window)") {
    // blockSize=1, fanout=1 => superblock id == doc_id; one key at the
    // bound trips the guard, one key under it does not.
    def run(key: Long) = Batching.assignBatches(
      df(Seq(Row(key, "a b c")), ddl), blockSize = 1L, fanout = 1L).collect()
    val e = intercept[Exception](run(graft.ext.Packing.MaxSuperblocks))
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(_.contains("batching superblock id exceeds MaxSuperblocks")),
      s"expected the MaxSuperblocks guard, got: ${messages(e)}")
    assert(run(graft.ext.Packing.MaxSuperblocks - 1).nonEmpty)
  }
}
