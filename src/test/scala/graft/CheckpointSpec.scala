package graft

import org.apache.spark.sql.functions._

import graft.sink.ResultStore
import graft.suite.Checkpoint

/** GE-checkpoint analog: file → suite run → stored verdicts → data-docs,
  * and the drift loop across two checkpoint runs. */
class CheckpointSpec extends SparkSpec {

  private def tmp = java.nio.file.Files
    .createTempDirectory("graft_ckpt_spec").toString

  test("checked-in checkpoint loads, runs, persists, and renders docs") {
    val spec = Checkpoint.load("checkpoints/testdata_core.json")
    assert(spec.name == "testdata_core_checkpoint" && spec.writeDocs)
    val store = tmp
    val result = Checkpoint.run(spark, sfDir, spec, store, "r1")
    assert(result.totalCount == 19)
    // Stored rows match the in-memory verdicts.
    val stored = ResultStore.read(spark, store, Some("r1"))
    assert(stored.count() == 19)
    assert(stored.filter(col("status") === "FAILED").count() ==
      result.failedCount)
    // Data-docs rendered under the store (underscore-hidden from parquet
    // partition discovery): markdown + HTML page + site index.
    assert(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$store/_docs/r1.md")))
    val html = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$store/_docs/r1.html"))
    assert(html.contains("customer.in_set:c_mktsegment") &&
      html.contains("""class="fail""""))
    val index = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$store/_docs/index.html"))
    assert(index.contains("""href="r1.html""""))
    // And the store stays readable after the docs write.
    assert(ResultStore.read(spark, store).count() == 19)
  }

  test("the docs site index accumulates run pages, newest first") {
    import graft.checks.RowCountCheck
    import graft.suite.{TableChecks, ValidationSuite}
    val docs = tmp
    val result = ValidationSuite.run(Seq(TableChecks("orders",
      Tables.orders(spark, sfDir), Seq(RowCountCheck()))))
    ResultStore.writeDocs(result, docs, "2026-01-01T00:00:00Z")
    ResultStore.writeDocs(result, docs, "2026-01-02T00:00:00Z")
    val index = java.nio.file.Files.readString(
      java.nio.file.Paths.get(docs, "index.html"))
    val first = index.indexOf("2026-01-02T00_00_00Z.html")
    val second = index.indexOf("2026-01-01T00_00_00Z.html")
    assert(first >= 0 && second >= 0 && first < second,
      "index must list the newest run first")
    // Escaping: a hostile message cannot inject markup.
    val htmlPage = java.nio.file.Files.readString(
      java.nio.file.Paths.get(docs, "2026-01-01T00_00_00Z.html"))
    assert(!htmlPage.contains("<script"))
  }

  test("a history-bound checkpoint resolves drift from the previous run") {
    val store = tmp
    val driftSuite =
      """{"tables":[{"table":"orders","expectations":[
        |  {"type":"expect_table_row_count_to_be_between",
        |   "kwargs":{"min_value": 1}},
        |  {"type":"expect_row_count_within_pct_of_last_run",
        |   "kwargs":{"max_pct_change": 10.0}}]}]}""".stripMargin
    val suitePath = java.nio.file.Files.writeString(
      java.nio.file.Paths.get(tmp, "drift_suite.json"), driftSuite).toString
    val spec = graft.suite.CheckpointSpec(
      "drift", suitePath, useHistory = true, writeDocs = false)
    // Run 1: no history → drift omitted, row-count baseline recorded.
    val r1 = Checkpoint.run(spark, sfDir, spec, store, "2026-01-01T00:00:00Z")
    assert(r1.totalCount == 1)
    // Run 2: same data → drift resolves against run 1 and passes at 0%.
    val r2 = Checkpoint.run(spark, sfDir, spec, store, "2026-01-02T00:00:00Z")
    assert(r2.totalCount == 2)
    assert(r2.passed)
    assert(r2.details.exists(_.validationName.contains("row_count_drift")))
  }

  test("checked-in YAML checkpoint: bootstrap run, then drift-validated run") {
    // The full declared-surface bundle in one file pair: a YAML checkpoint
    // over a YAML suite combining a plain gate, a history-bound drift
    // expectation, and a row_condition expectation.
    val spec = Checkpoint.load("checkpoints/testdata_drift.yaml")
    assert(spec.name == "testdata_drift_checkpoint" && spec.useHistory)
    val store = tmp
    // Bootstrap: no history, so drift is omitted and the row-count
    // baseline records; the conditioned between runs normally.
    val r1 = Checkpoint.run(spark, sfDir, spec, store, "2026-01-01T00:00:00Z")
    assert(r1.totalCount == 2 && r1.passed)
    assert(r1.details.exists(
      _.validationName == "orders.between:o_totalprice:where:o_orderstatus = 'F'"))
    // Second run: drift resolves against the stored baseline (same data →
    // 0% change) and the whole bundle passes.
    val r2 = Checkpoint.run(spark, sfDir, spec, store, "2026-01-02T00:00:00Z")
    assert(r2.totalCount == 3 && r2.passed)
    assert(r2.details.exists(_.validationName == "orders.row_count_drift:10.0pct"))
  }

  test("unknown checkpoint path and missing suite field throw") {
    intercept[IllegalArgumentException](Checkpoint.load("no/such/ckpt.json"))
    intercept[IllegalArgumentException](
      Checkpoint.parse("""{"checkpoint_name": "x"}"""))
  }

  test("a typoed checkpoint field is rejected, not silently defaulted") {
    val e = intercept[IllegalArgumentException](Checkpoint.parse(
      """{"suite": "s.json", "use_histroy": true}"""))
    assert(e.getMessage.contains("use_histroy"))
  }

  test("a repeated key or a second document is a parse error, not a dropped declaration") {
    Seq("""{"suite": "s.json", "use_history": true, "use_history": false}""" -> false,
        "suite: s.json\nuse_history: true\nuse_history: false\n" -> true,
        """{"suite": "s.json"} {"use_history": true}""" -> false,
        "suite: s.json\n---\nuse_history: true\n" -> true
    ).foreach { case (doc, yaml) =>
      intercept[com.fasterxml.jackson.core.JsonProcessingException](
        Checkpoint.parse(doc, yaml))
    }
  }

  test("a bad file on disk fails with its path in the message") {
    val dir = tmp
    def file(name: String, text: String) = {
      val p = java.nio.file.Paths.get(dir, name)
      java.nio.file.Files.writeString(p, text)
      p.toString
    }
    // A mistyped kwarg in a suite that a checkpoint loads.
    val suite = file("bad_suite.json",
      """{"tables":[{"table":"orders","expectations":[
        |  {"type":"expect_column_values_to_be_between",
        |   "kwargs":{"column":"o_totalprice","min_value":"abc"}}]}]}""".stripMargin)
    val spec = Checkpoint.load(file("ckpt.json", s"""{"suite": "$suite"}"""))
    val typed = intercept[IllegalArgumentException](
      Checkpoint.run(spark, sfDir, spec, s"$dir/store", "r1"))
    assert(typed.getMessage.startsWith(suite), typed.getMessage)
    assert(typed.getMessage.contains("kwargs.min_value must be a number"))
    // Syntax errors, JSON and YAML.
    Seq(file("broken.json", """{"suite": "s.json",}"""),
        file("broken.yaml", "suite: [s.json\n")).foreach { path =>
      val e = intercept[IllegalArgumentException](Checkpoint.load(path))
      assert(e.getMessage.startsWith(path), e.getMessage)
      assert(e.getCause.isInstanceOf[com.fasterxml.jackson.core.JsonProcessingException])
    }
  }
}
