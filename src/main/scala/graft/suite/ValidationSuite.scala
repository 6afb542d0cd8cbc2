package graft.suite

import scala.util.{Failure, Success, Try}
import org.apache.spark.sql.DataFrame
import graft.checks.{AggCheck, Check, CheckSuite}
import graft.model._

/** All checks to evaluate against one table. */
final case class TableChecks(table: String, df: DataFrame, checks: Seq[Check])

/** Suite runner with the reference's validation-orchestration semantics:
  *
  *  - run-ALL, no short-circuit (analysis.md:9, `run_all_validations`);
  *  - each check individually guarded so an infra error becomes an ERROR
  *    result, not a crash (per-test try/except, pager-workflow.py:158-169);
  *  - summary with overall_status / counts / failed list (V2 summary,
  *    pager-workflow.py:236-245).
  *
  * Scale behavior: agg-expressible checks over the same table are fused by
  * [[CheckSuite.runBatched]] into ONE job — a suite of a dozen column
  * expectations costs one scan of the table, where the reference issues one
  * warehouse query per test (pager-workflow.py:126-233).
  */
object ValidationSuite {

  /** Per-table suites evaluate CONCURRENTLY (Spark sessions are
    * thread-safe; concurrent actions schedule as parallel jobs): the
    * suite's wall-clock is its slowest table, not the sum — on a real
    * cluster each table's fused scan runs while the others' do. Result
    * order stays the declaration order; the pool and the failure
    * reporting are [[Concurrency.all]]'s. */
  def run(tables: Seq[TableChecks]): ValidationSuiteResult =
    ValidationSuiteResult.of(Concurrency.all(tables)(runTable).flatten)

  private def qualify(table: String, r: ValidationResult): ValidationResult =
    r.copy(validationName = s"$table.${r.validationName}")

  private def runTable(tc: TableChecks): Seq[ValidationResult] = {
    val (aggs, others) = tc.checks.partition(_.isInstanceOf[AggCheck])
    val aggChecks = aggs.collect { case a: AggCheck => a }

    val aggResults: Seq[ValidationResult] =
      if (aggChecks.isEmpty) Nil
      else Try(CheckSuite.runBatched(tc.df, aggChecks)) match {
        case Success(rs) => rs
        // Batch failed (e.g. unreadable table): fall back to per-check runs
        // so one poisoned expression can't take down its tablemates, then
        // record irrecoverable ones as ERROR.
        case Failure(_) => aggChecks.map(c => guarded(tc.df, c))
      }

    (aggResults ++ others.map(c => guarded(tc.df, c))).map(qualify(tc.table, _))
  }

  private def guarded(df: DataFrame, c: Check): ValidationResult =
    Try(c.run(df)) match {
      case Success(r) => r
      case Failure(e) =>
        ValidationResult(
          validationName = c.name,
          status = ValidationStatus.Error,
          message = s"check raised: ${e.getMessage}",
          errorMessage = Some(Option(e.getMessage).getOrElse(e.getClass.getName)))
    }

  /** V1 hard-gate semantics (pager-workflow.py:139-143): raise on failure
    * so downstream stages never run on bad raw inputs. */
  def runGate(tables: Seq[TableChecks]): ValidationSuiteResult = {
    val result = run(tables)
    if (!result.passed)
      throw new ValidationGateException(result)
    result
  }

  /** V3 failure envelope (pager-workflow.py:252-259). */
  def failureReport(
      pipeline: String, task: String, result: ValidationSuiteResult,
      timestamp: String, runId: String): FailureReport =
    FailureReport(
      pipeline = pipeline,
      task = task,
      error = s"Validation failed: ${result.failedCount} out of ${result.totalCount} tests failed",
      failedValidations = result.failedValidations,
      timestamp = timestamp,
      runId = runId)
}

final class ValidationGateException(val result: ValidationSuiteResult)
  extends RuntimeException(
    s"Validation gate failed: ${result.failedCount} out of ${result.totalCount} tests failed")
