package graft

import java.nio.file.{Files => JFiles, Paths}

import scala.collection.mutable

import graft.model.FailureReport
import graft.pipeline.Pipeline
import graft.sink.{Notifier, Notifiers}

/** V4 alert fan-out: JSON envelope shape, file sink, fan-out isolation
  * and failure reporting, and the E2E wiring through the pipeline
  * failure path. */
class NotifierSpec extends SparkSpec {

  private val report = FailureReport(
    pipeline = "pager-workflow-1",
    task = "validate_transformed_data",
    error = "Validation failed: 1 out of 5 tests failed",
    failedValidations = Seq("""stg_territory.in_set:region_name: bad ["x"]"""),
    timestamp = "2026-01-01T00:00:00Z",
    runId = "run-42")

  test("toJson matches the reference envelope field-for-field") {
    val json = Notifiers.toJson(report)
    assert(json.contains(""""pipeline":"pager-workflow-1""""))
    assert(json.contains(""""task":"validate_transformed_data""""))
    assert(json.contains(""""error":"Validation failed: 1 out of 5 tests failed""""))
    assert(json.contains(""""dag_run_id":"run-42""""))
    assert(json.contains("\\\"x\\\"")) // quotes inside messages escaped
    // Round-trip through a strict JSON parser (what an alert consumer runs).
    import spark.implicits._
    val parsed = spark.read.json(Seq(json).toDS())
    assert(parsed.columns.toSet == Set(
      "pipeline", "task", "error", "failed_validations", "timestamp", "dag_run_id"))
    assert(parsed.head().getAs[Seq[String]]("failed_validations").head.contains("\"x\""))
  }

  test("JsonFileNotifier writes <runId>.json with the envelope") {
    val dir = JFiles.createTempDirectory("graft-notify").toString
    val path = Notifiers.JsonFileNotifier(dir).write(report)
    val content = JFiles.readString(path)
    assert(path.getFileName.toString == "run-42.json")
    assert(content.contains(""""failed_validations":["""))
  }

  test("JsonFileNotifier sanitizes hostile run ids") {
    val dir = JFiles.createTempDirectory("graft-notify2").toString
    val path = Notifiers.JsonFileNotifier(dir)
      .write(report.copy(runId = "../../etc/passwd"))
    assert(path.getParent == Paths.get(dir))
    assert(!path.getFileName.toString.contains("/"))
  }

  test("FanOut isolates a failing sink") {
    val seen = mutable.Buffer[String]()
    val boom: Notifier = _ => throw new RuntimeException("sink down")
    val ok: Notifier = r => seen += r.runId
    val e = intercept[RuntimeException](Notifiers.FanOut(Seq(boom, ok)).notify(report))
    assert(e.getMessage == "sink down")
    assert(seen.toSeq == Seq("run-42"))
  }

  test("FanOut reports every failing sink: the first thrown, the rest suppressed") {
    val seen = mutable.Buffer[String]()
    val down: Notifier = _ => throw new RuntimeException("pager down")
    val ok: Notifier = r => seen += r.runId
    val full: Notifier = _ => throw new java.io.IOException("disk full")
    val e = intercept[RuntimeException](
      Notifiers.FanOut(Seq(down, ok, full)).notify(report))
    assert(e.getMessage == "pager down")
    assert(e.getSuppressed.map(_.getMessage).toSeq == Seq("disk full"))
    assert(seen.toSeq == Seq("run-42"))
  }

  test("pipeline failure path writes the alert file end-to-end") {
    val dir = JFiles.createTempDirectory("graft-notify-e2e").toString
    val outcome = Pipeline.runAndNotify(
      spark, sfDir, Notifiers.JsonFileNotifier(dir), runId = "e2e-run")
    assert(!outcome.passed)
    val written = JFiles.readString(Paths.get(dir, "e2e-run.json"))
    assert(written.contains("1 out of 5 tests failed"))
    assert(written.contains("NATION_20"))
  }

  test("pipeline success path writes nothing") {
    val dir = JFiles.createTempDirectory("graft-notify-pass").toString
    val outcome = Pipeline.runAndNotify(
      spark, sfDir, Notifiers.JsonFileNotifier(dir),
      whitelist = (0 to 24).map(i => s"NATION_$i"))
    assert(outcome.passed)
    assert(JFiles.list(Paths.get(dir)).count() == 0)
  }
}
