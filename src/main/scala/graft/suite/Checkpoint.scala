package graft.suite

import org.apache.spark.sql.SparkSession

import graft.Decl
import graft.model.ValidationSuiteResult
import graft.sink.ResultStore

/** Checkpoint descriptor: which suite to run and how. */
final case class CheckpointSpec(
    name: String, suitePath: String, useHistory: Boolean,
    writeDocs: Boolean)

/** The GE "checkpoint" analog — the last piece of the reference's
  * declared expectation surface (its project config scaffolds an empty
  * `checkpoints/` dir next to `expectations/`,
  * /root/reference/great_expectations/great_expectations.yml +
  * checkpoints/.gitkeep): a named, declarative bundle that loads a
  * suite, binds it to data (optionally against the result-store history
  * so drift expectations resolve), runs it, persists the results, and
  * optionally renders data-docs — one call from file to stored verdicts.
  */
object Checkpoint {

  /** Parse checkpoint text (`yaml = true` for YAML). `suite` is
    * required; an unknown key (`use_histroy`) or a mistyped value is
    * rejected, never defaulted ([[graft.Decl]]). */
  def parse(text: String, yaml: Boolean = false): CheckpointSpec =
    Decl.parse(text, yaml)(read)

  /** Load from disk or (fallback) the classpath ([[graft.Decl.load]]). */
  def load(path: String): CheckpointSpec = Decl.load(path)(read)

  private def read(root: Decl.Node): CheckpointSpec =
    CheckpointSpec(
      name = root.strOpt("checkpoint_name").getOrElse("unnamed"),
      suitePath = root.str("suite"),
      useHistory = root.boolOpt("use_history").getOrElse(false),
      writeDocs = root.boolOpt("write_docs").getOrElse(false))

  /** Run the checkpoint: suite file → bound checks → fused run →
    * results appended to the store under `runId` (→ readable by the
    * NEXT run's drift expectations) → optional data-docs page. */
  def run(spark: SparkSession, sfDir: String, spec: CheckpointSpec,
          storeDir: String, runId: String,
          docsDir: Option[String] = None): ValidationSuiteResult = {
    val suite = SuiteLoader.load(spec.suitePath)
    val bound =
      if (spec.useHistory) SuiteLoader.bindWithHistory(spark, sfDir, suite, storeDir)
      else SuiteLoader.bind(spark, sfDir, suite)
    val result = ValidationSuite.run(bound)
    ResultStore.write(spark, result, storeDir, runId)
    // "_docs": the underscore prefix hides the directory from Spark's
    // partition discovery — a plain "docs/" subdir inside the partitioned
    // parquet store makes every subsequent store read throw
    // CONFLICTING_DIRECTORY_STRUCTURES.
    if (spec.writeDocs)
      ResultStore.writeDocs(result, docsDir.getOrElse(s"$storeDir/_docs"), runId)
    result
  }
}
