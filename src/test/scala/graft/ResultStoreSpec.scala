package graft

import java.nio.file.{Files => JFiles}

import graft.model.{ValidationResult, ValidationSuiteResult}
import graft.sink.ResultStore

/** GE-style validation store + data-docs emitter. */
class ResultStoreSpec extends SparkSpec {

  private def suite(bad: Boolean): ValidationSuiteResult =
    ValidationSuiteResult.of(Seq(
      ValidationResult("t.row_count_between", "PASSED", "ok", elementCount = 10),
      ValidationResult("t.in_set:region", if (bad) "FAILED" else "PASSED",
        "region check", elementCount = 10,
        unexpectedCount = if (bad) 2 else 0,
        unexpectedPercent = if (bad) 20.0 else 0.0,
        partialUnexpectedList = if (bad) Seq("X", "Y") else Nil)))

  test("write/read round-trips runs with partition pruning by run_id") {
    val dir = JFiles.createTempDirectory("graft-store").toString + "/store"
    ResultStore.write(spark, suite(bad = true), dir, "run-1")
    ResultStore.write(spark, suite(bad = false), dir, "run-2")

    val all = ResultStore.read(spark, dir)
    assert(all.count() == 4)
    val r1 = ResultStore.read(spark, dir, Some("run-1"))
    assert(r1.count() == 2)
    val failed = r1.filter("status = 'FAILED'").head()
    assert(failed.getAs[Long]("unexpected_count") == 2L)
    assert(failed.getAs[scala.collection.Seq[String]]("partial_unexpected_list")
      .toSeq == Seq("X", "Y"))
    // run_id partition actually prunes: the read of run-1 only touches its dir
    val plan = r1.queryExecution.executedPlan.toString
    assert(plan.contains("run-1") || plan.contains("PartitionFilters"))
  }

  test("run ids keep their string form, leading zeros included") {
    val dir = JFiles.createTempDirectory("graft-store").toString + "/store"
    ResultStore.write(spark, suite(bad = true), dir, "0042")
    ResultStore.write(spark, suite(bad = false), dir, "0043")
    val all = ResultStore.read(spark, dir)
    assert(all.schema("run_id").dataType == org.apache.spark.sql.types.StringType)
    def runIds(df: org.apache.spark.sql.DataFrame) =
      df.select("run_id").distinct().collect().map(_.getString(0)).sorted.toSeq
    assert(runIds(all) == Seq("0042", "0043"))
    val r42 = ResultStore.read(spark, dir, Some("0042"))
    assert(runIds(r42) == Seq("0042"))
    assert(r42.filter("status = 'FAILED'").count() == 1)
  }

  test("each run is stored as one parquet file holding all its rows") {
    import scala.jdk.CollectionConverters._
    val dir = JFiles.createTempDirectory("graft-store").toString + "/store"
    ResultStore.write(spark, suite(bad = true), dir, "run-1")
    ResultStore.write(spark, suite(bad = false), dir, "run-2")
    def list(p: java.nio.file.Path) = {
      val s = JFiles.list(p)
      try s.iterator().asScala.toSeq finally s.close()
    }
    val runDirs = list(java.nio.file.Paths.get(dir))
      .filter(_.getFileName.toString.startsWith("run_id="))
    assert(runDirs.map(_.getFileName.toString).sorted == Seq("run_id=run-1", "run_id=run-2"))
    runDirs.foreach { d =>
      val data = list(d).map(_.getFileName.toString).filter(_.endsWith(".parquet"))
      assert(data.size == 1, s"$d holds $data")
    }
    val stored = ResultStore.read(spark, dir, Some("run-1"))
      .collect().map(r => (r.getAs[String]("validation_name"), r.getAs[String]("status"),
        r.getAs[Long]("element_count"), r.getAs[Long]("unexpected_count")))
      .sortBy(_._1).toSeq
    val expected = suite(bad = true).details
      .map(r => (r.validationName, r.status, r.elementCount, r.unexpectedCount))
      .sortBy(_._1)
    assert(stored == expected)
  }

  test("data docs render the summary table") {
    val md = ResultStore.renderDocs(suite(bad = true), "run-9")
    assert(md.contains("**Overall: FAILED** — 1/2 passed"))
    assert(md.contains("| t.in_set:region | FAILED | 10 | 2 | 20.00 |"))
  }

  test("writeDocs persists markdown + HTML pages and the site index per run") {
    val dir = JFiles.createTempDirectory("graft-docs").toString
    val p = ResultStore.writeDocs(suite(bad = false), dir, "run/..3")
    assert(p.getFileName.toString == "run_..3.html")
    assert(JFiles.readString(p).contains("PASSED"))
    val md = p.resolveSibling("run_..3.md")
    assert(JFiles.readString(md).contains("Overall: PASSED"))
    assert(JFiles.readString(p.resolveSibling("index.html"))
      .contains("""href="run_..3.html""""))
  }
}
