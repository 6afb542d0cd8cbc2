package graft.sink

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.model.ValidationSuiteResult

/** Validation result store + data-docs emitter — the engine's counterpart
  * of the GE project config the reference checks in
  * (great_expectations/great_expectations.yml:12-16 ValidationsStore,
  * :25-30 data-docs SiteBuilder): suite results persist as partitioned
  * parquet (queryable like any table) and render as a human-readable
  * summary page.
  */
object ResultStore {

  /** The store's columns, as [[toDF]] writes them. [[read]] reads with
    * it: partition inference would type `run_id` from the directory names
    * (run ids "0042" and "0043" came back as the integers 42 and 43) and
    * run a schema-inference Spark job on every read. */
  val schema: StructType = StructType(Seq(
    StructField("run_id", StringType),
    StructField("validation_name", StringType),
    StructField("status", StringType),
    StructField("message", StringType),
    StructField("element_count", LongType),
    StructField("unexpected_count", LongType),
    StructField("unexpected_percent", DoubleType),
    StructField("partial_unexpected_list", ArrayType(StringType))))

  /** A suite result as a DataFrame (one row per check), stamped with the
    * run id so successive runs append into a queryable history. */
  def toDF(spark: SparkSession, suite: ValidationSuiteResult,
           runId: String): DataFrame = {
    import spark.implicits._
    suite.details
      .map(r => (runId, r.validationName, r.status, r.message,
        r.elementCount, r.unexpectedCount, r.unexpectedPercent,
        r.partialUnexpectedList))
      .toDF(schema.fieldNames.toIndexedSeq: _*)
  }

  /** Append the suite result into the store, partitioned by run —
    * partition pruning makes per-run reads O(run), not O(history). One
    * run is a few dozen rows, so it is written as one parquet file: the
    * local relation would otherwise be split over the session's cores,
    * one part file (plus its `.crc`) each, and every history read would
    * open all of them. */
  def write(spark: SparkSession, suite: ValidationSuiteResult,
            dir: String, runId: String): Unit =
    toDF(spark, suite, runId).coalesce(1)
      .write.mode(SaveMode.Append).partitionBy("run_id").parquet(dir)

  /** Read the store back (all runs, or one), with [[schema]]; `run_id`
    * comes last, as a partition column. */
  def read(spark: SparkSession, dir: String, runId: Option[String] = None): DataFrame = {
    val all = spark.read.schema(schema).parquet(dir)
    runId.fold(all)(id => all.filter(col("run_id") === id))
  }

  /** Locale-stable 2-dp percent: the default-locale `f` interpolator
    * prints a comma decimal separator on some machines (the Bench.scala
    * JSON pitfall) — docs must render identically everywhere. */
  private def pct2(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))

  /** Data-docs-style markdown summary of one suite run. */
  def renderDocs(suite: ValidationSuiteResult, runId: String): String = {
    val header =
      s"""# Validation run `$runId`
         |
         |**Overall: ${suite.overallStatus}** — ${suite.passedCount}/${suite.totalCount} passed
         |
         || check | status | elements | unexpected | % | detail |
         ||---|---|---|---|---|---|
         |""".stripMargin
    val rows = suite.details.map { r =>
      s"| ${r.validationName} | ${r.status} | ${r.elementCount} " +
        s"| ${r.unexpectedCount} | ${pct2(r.unexpectedPercent)} " +
        s"| ${r.message.replace("|", "\\|")} |"
    }
    header + rows.mkString("\n") + "\n"
  }

  /** Data-docs HTML page of one suite run — the SiteBuilder output the
    * reference's GE config declares (great_expectations.yml:25-30):
    * self-contained (inline CSS, no assets), one status-coloured row per
    * check. Messages are entity-escaped; a check message is data. */
  def renderHtml(suite: ValidationSuiteResult, runId: String): String = {
    def esc(s: String): String =
      s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")
    val overallCls = if (suite.passed) "pass" else "fail"
    val rows = suite.details.map { r =>
      val cls = if (r.passed) "pass" else "fail"
      s"""    <tr class="$cls"><td>${esc(r.validationName)}</td>""" +
        s"<td>${r.status}</td><td>${r.elementCount}</td>" +
        s"<td>${r.unexpectedCount}</td><td>${pct2(r.unexpectedPercent)}</td>" +
        s"<td>${esc(r.message)}</td></tr>"
    }
    s"""<!DOCTYPE html>
       |<html><head><meta charset="utf-8"><title>Validation run ${esc(runId)}</title>
       |<style>
       |  body { font-family: sans-serif; margin: 2em; }
       |  table { border-collapse: collapse; width: 100%; }
       |  th, td { border: 1px solid #ccc; padding: 4px 8px; text-align: left; }
       |  tr.pass td:nth-child(2) { color: #0a7a0a; font-weight: bold; }
       |  tr.fail td:nth-child(2) { color: #b00020; font-weight: bold; }
       |  .badge.pass { color: #0a7a0a; } .badge.fail { color: #b00020; }
       |</style></head><body>
       |<h1>Validation run <code>${esc(runId)}</code></h1>
       |<p><strong class="badge $overallCls">${suite.overallStatus}</strong>
       | — ${suite.passedCount}/${suite.totalCount} passed</p>
       |<table>
       |  <thead><tr><th>check</th><th>status</th><th>elements</th>
       |  <th>unexpected</th><th>%</th><th>detail</th></tr></thead>
       |  <tbody>
       |${rows.mkString("\n")}
       |  </tbody>
       |</table>
       |</body></html>
       |""".stripMargin
  }

  /** Write the run's data-docs under `dir` (created if absent): the
    * markdown summary, the HTML page, and a regenerated `index.html`
    * linking every run page in the site (latest first) — the
    * SiteBuilder loop: each checkpoint run extends the site. Returns the
    * HTML page's path. */
  def writeDocs(suite: ValidationSuiteResult, dir: String, runId: String): java.nio.file.Path = {
    val d = Paths.get(dir)
    Files.createDirectories(d)
    val safe = runId.replaceAll("[^A-Za-z0-9._-]", "_")
    Files.writeString(d.resolve(s"$safe.md"), renderDocs(suite, runId))
    val page = Files.writeString(d.resolve(s"$safe.html"), renderHtml(suite, runId))
    rebuildIndex(d)
    page
  }

  /** Regenerate `index.html` from the run pages present in the site dir.
    * Run ids sort lexically by recency (ISO-8601 stamping convention), so
    * reverse-sorted filenames list the newest run first. */
  private def rebuildIndex(d: java.nio.file.Path): Unit = {
    import scala.jdk.CollectionConverters._
    // Files.list holds an open DirectoryStream — close it, or every docs
    // write leaks a descriptor for the life of the driver.
    val listing = Files.list(d)
    val pages =
      try listing.iterator().asScala
        .map(_.getFileName.toString)
        .filter(n => n.endsWith(".html") && n != "index.html")
        .toSeq.sorted.reverse
      finally listing.close()
    val items = pages.map { p =>
      s"""    <li><a href="$p"><code>${p.stripSuffix(".html")}</code></a></li>"""
    }
    // Write-then-atomic-move: a reader (or a second concurrent checkpoint
    // run rebuilding the same site) never observes a truncated index. The
    // ".tmp" suffix also keeps the scratch file out of the page listing
    // above if a crash strands it.
    val tmp = Files.createTempFile(d, ".index", ".tmp")
    Files.writeString(tmp,
      s"""<!DOCTYPE html>
         |<html><head><meta charset="utf-8"><title>Validation runs</title></head>
         |<body><h1>Validation runs</h1>
         |<ul>
         |${items.mkString("\n")}
         |</ul>
         |</body></html>
         |""".stripMargin)
    Files.move(tmp, d.resolve("index.html"),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
    ()
  }
}
