package graft.sink

import java.nio.file.{Files, Path, Paths}

import scala.util.Try

import graft.model.FailureReport

/** V4 — alert fan-out on validation failure, sink-agnostic.
  *
  * The reference ships the failure envelope to PagerDuty Events v1 and an
  * analysis agent as JSON (pager-workflow.py:10-45, :252-259). This repo
  * is zero-egress, so the engine keeps the same envelope and fan-out
  * semantics but writes to local sinks: every notifier receives the SAME
  * serialized payload a network sink would.
  */
trait Notifier {
  def notify(report: FailureReport): Unit
}

object Notifiers {

  /** A JSON string literal: quotes `s`, escaping backslash, quote, and
    * ALL control chars (< 0x20) — a raw tab or CR would make a strict
    * JSON reader reject the whole document. */
  def jsonString(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  /** JSON encoding of the reference's envelope — field names match
    * pager-workflow.py:252-259 (`pipeline`, `task`, `error`,
    * `failed_validations`, `timestamp`, `dag_run_id`). */
  def toJson(r: FailureReport): String = {
    import Notifiers.{jsonString => q}
    val failed = r.failedValidations.map(q).mkString("[", ",", "]")
    s"""{"pipeline":${q(r.pipeline)},"task":${q(r.task)},"error":${q(r.error)},""" +
      s""""failed_validations":$failed,"timestamp":${q(r.timestamp)},""" +
      s""""dag_run_id":${q(r.runId)}}"""
  }

  /** Writes `<runId>.json` into `dir` (created if absent); returns the
    * written path. The file IS the alert — an incident-remediation
    * consumer (the reference's agent/Actions loop) tails the directory. */
  final case class JsonFileNotifier(dir: String) extends Notifier {
    def notify(report: FailureReport): Unit = { write(report); () }
    def write(report: FailureReport): Path = {
      val d = Paths.get(dir)
      Files.createDirectories(d)
      val safe = report.runId.replaceAll("[^A-Za-z0-9._-]", "_")
      Files.writeString(d.resolve(s"$safe.json"), toJson(report) + "\n")
    }
  }

  /** Log-line sink (the reference also prints the summary before raising,
    * pager-workflow.py:236-245). */
  final case class LogNotifier(out: String => Unit = System.err.println) extends Notifier {
    def notify(report: FailureReport): Unit = out(s"[graft-alert] ${toJson(report)}")
  }

  /** Fan-out to several sinks — the reference alerts PagerDuty AND the
    * agent (pager-workflow.py:250-267); one sink failing must not starve
    * the others (its per-sink try/except). Every sink runs; afterwards
    * the first failure is thrown with the others attached as suppressed
    * exceptions (the [[graft.suite.Concurrency.all]] policy), so a lost
    * alert surfaces instead of vanishing. */
  final case class FanOut(sinks: Seq[Notifier]) extends Notifier {
    def notify(report: FailureReport): Unit = {
      val failures = sinks.flatMap(s => Try(s.notify(report)).failed.toOption)
      failures.headOption.foreach { first =>
        failures.tail.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
      }
    }
  }
}
