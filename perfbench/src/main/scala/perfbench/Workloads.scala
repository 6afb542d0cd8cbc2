package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.JsonNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}
import org.apache.spark.sql.types._

import graft.Tables
import graft.checks.{BetweenCheck, NotNullCheck, RowCountCheck}
import graft.ext.{Curation, Dedup}
import graft.model.{FailureReport, ValidationResult, ValidationSuiteResult}
import graft.pipeline.Pipeline
import graft.sink.{Notifiers, ResultStore}
import graft.stream.StreamingSuite
import graft.suite._

/** What one op hands back to the loop. `after` runs once the op's clock
  * has stopped: it checks the op's outputs against the generator's
  * answers and returns the mismatches plus op-level layer values. */
final case class OpOut(rows: Long, after: () => (Seq[String], Map[String, Double]))

/** A closed-loop workload: a warm-up op in the set-up, then ops until
  * time is up. */
trait Workload {
  /** Ops per pass over the input pool; traced and untraced ops alternate
    * across passes so both see the same mix. */
  def cycle: Int = 1
  /** Runs the set-up's warm-up ops; returns their mismatches with the
    * generator's answers. */
  def warmup(spark: SparkSession): Seq[String]
  def start(spark: SparkSession): Unit = ()
  def hasNext(i: Int): Boolean = true
  def op(spark: SparkSession, i: Int, t: Tracer): OpOut
  /** Final checks that need the whole run (the stream's closed windows). */
  def finish(spark: SparkSession, ops: Int): Seq[String] = Nil
}

object Workload {
  def apply(name: String, m: JsonNode, work: String): Workload = name match {
    case "dq_gate" => new DqGate(m, work)
    case "curation" => new CurationLoop(m, work)
    case "stream_suite" => new StreamLoop(m, work)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def fields(n: JsonNode): Seq[(String, JsonNode)] =
    n.fields().asScala.map(e => e.getKey -> e.getValue).toSeq

  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def delete(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }
}

/** The reference DAG on one seeded landing: raw gate → transforms →
  * post-transform suite → alert, then the drift and core checkpoints
  * into a result store that grows across the run. */
final class DqGate(m: JsonNode, work: String) extends Workload {
  private val landings = m.get("landings").elements().asScala.toVector
  override val cycle: Int = landings.size
  private val whitelist = m.get("whitelist").elements().asScala.map(_.asText).toSeq
  private val core = Checkpoint.load("checkpoints/testdata_core.json")
  private val drift = Checkpoint.load("checkpoints/testdata_drift.yaml")
  private var storeRuns = 0

  /** The small defects landing, then the raw-gate landing: it stops at
    * the gate, so it runs here with its verdict checked rather than as a
    * short timed op. */
  def warmup(spark: SparkSession): Seq[String] =
    Seq("warmup", "gate").flatMap { k =>
      run(spark, m.get(k), s"$work/warm-$k", s"warm-$k", new Tracer, baseline = false)
        .after()._1
    }

  override def start(spark: SparkSession): Unit = storeRuns = 0

  def op(spark: SparkSession, i: Int, t: Tracer): OpOut =
    run(spark, landings(i % cycle), s"$work/run", f"op$i%06d", t, baseline = storeRuns > 0)

  private def run(spark: SparkSession, l: JsonNode, d: String, runId: String,
                  t: Tracer, baseline: Boolean): OpOut = {
    val dir = l.get("dir").asText
    val notifier = Notifiers.JsonFileNotifier(s"$d/alerts")
    val rows = l.get("rows").asLong
    val gate =
      try Right(if (t.enabled) tracedPipeline(spark, dir, notifier, runId, t)
                else {
                  val o = Pipeline.runAndNotify(spark, dir, notifier, whitelist, runId)
                  (o.transformedValidation, o.report)
                })
      catch { case e: ValidationGateException => Left(e) }
    val expGate = Workload.fields(l.get("gate")).map { case (k, v) => k -> v.asLong }.toMap
    gate match {
      case Left(e) =>
        OpOut(rows, () => {
          val got = e.result.details.filterNot(_.passed)
            .map(r => r.validationName -> r.unexpectedCount).toMap
          (if (got == expGate) Nil
           else Seq(s"$runId ${l.get("name").asText}: raw gate rejected $got, expected $expGate"),
           Map.empty)
        })
      case Right((transformed, report)) =>
        val dr = checkpoint(spark, dir, drift, d, s"$runId-drift", t)
        val co = checkpoint(spark, dir, core, d, s"$runId-core", t)
        storeRuns += 2
        val runsAtRead = storeRuns - 2
        OpOut(rows, () => {
          val errs = mutable.ArrayBuffer.empty[String]
          def err(s: String): Unit = errs += s"$runId ${l.get("name").asText}: $s"
          if (expGate.nonEmpty) err(s"raw gate passed, expected rejection $expGate")
          verifyTransformed(l, transformed, report, s"$d/alerts", runId).foreach(err)
          verifySuite("core", co, l.get("core")).foreach(err)
          val cond = "orders.between:o_totalprice:where:o_orderstatus = 'F'"
          val driftExp = Map(
            "orders.row_count_between" -> ("PASSED", None),
            cond -> {
              val c = l.get("core").get(cond)
              (c.get(0).asText, Some(c.get(1).asLong))
            }) ++ (if (baseline) Map("orders.row_count_drift:10.0pct" -> ("PASSED", None))
                   else Map.empty)
          verifySuite("drift", dr, driftExp).foreach(err)
          dr.details.find(_.validationName == "orders.row_count_between")
            .filter(_.elementCount != l.get("orders_rows").asLong)
            .foreach(r => err(s"drift row count ${r.elementCount}"))
          if (!Files.exists(Paths.get(s"$d/docs/$runId-core.html"))) err("no data-docs page")
          (errs.toSeq, Map("sink.store_runs" -> runsAtRead.toDouble, "suite.tables" -> 4.0))
        })
    }
  }

  /** `Pipeline.runAndNotify`, one public stage at a time. */
  private def tracedPipeline(spark: SparkSession, dir: String, notifier: graft.sink.Notifier,
                             runId: String, t: Tracer)
      : (ValidationSuiteResult, Option[FailureReport]) = {
    t.span("pipeline.gate") { Pipeline.validateRaw(spark, dir) }
    val outputs = t.span("etl.build", "construct") { Pipeline.transform(spark, dir) }
    t.span("spark.plan", "plan") { outputs.values.foreach(_.queryExecution.executedPlan) }
    val transformed = t.span("pipeline.validate") {
      Pipeline.validateTransformed(outputs, whitelist)
    }
    val report =
      if (transformed.passed) None
      else Some(t.span("sink.notify") {
        val r = ValidationSuite.failureReport(
          pipeline = "pager-workflow-1", task = "validate_transformed_data",
          result = transformed, timestamp = "1970-01-01T00:00:00Z", runId = runId)
        notifier.notify(r)
        r
      })
    (transformed, report)
  }

  /** `Checkpoint.run`, untraced; one public step at a time when traced. */
  private def checkpoint(spark: SparkSession, dir: String, spec: CheckpointSpec, d: String,
                         runId: String, t: Tracer): ValidationSuiteResult = {
    val store = s"$d/store"
    if (!t.enabled) Checkpoint.run(spark, dir, spec, store, runId, Some(s"$d/docs"))
    else {
      val suite = SuiteLoader.load(spec.suitePath)
      val bound =
        if (spec.useHistory) t.span("sink.history_read", "construct") {
          SuiteLoader.bindWithHistory(spark, dir, suite, store)
        }
        else t.span("suite.bind", "construct") { SuiteLoader.bind(spark, dir, suite) }
      val result = t.span("suite.run") { ValidationSuite.run(bound) }
      t.span("sink.store_write") { ResultStore.write(spark, result, store, runId) }
      if (spec.writeDocs) t.span("sink.docs") { ResultStore.writeDocs(result, s"$d/docs", runId) }
      result
    }
  }

  private def verifyTransformed(l: JsonNode, res: ValidationSuiteResult,
                                report: Option[FailureReport], alerts: String,
                                runId: String): Seq[String] = {
    val bad = l.get("whitelist_bad").asLong
    val name = "stg_territory.in_set:region_name"
    val errs = mutable.ArrayBuffer.empty[String]
    res.details.foreach { r =>
      if (r.validationName == name) {
        if (r.unexpectedCount != bad || r.passed != (bad == 0))
          errs += s"$name ${r.status} unexpected=${r.unexpectedCount}, expected $bad"
      } else if (!r.passed) errs += s"unexpected failure ${r.validationName}: ${r.message}"
    }
    if (!res.details.exists(_.validationName == name)) errs += s"$name missing"
    if (report.isDefined != (bad > 0)) errs += s"failure report present=${report.isDefined}"
    val alert = Paths.get(s"$alerts/$runId.json")
    if (bad > 0 && !(Files.exists(alert) && Files.readString(alert).contains(name)))
      errs += "no alert written for the whitelist failure"
    errs.toSeq
  }

  private def verifySuite(label: String, res: ValidationSuiteResult,
                          exp: JsonNode): Seq[String] =
    verifySuite(label, res, Workload.fields(exp).map { case (k, v) =>
      k -> (v.get(0).asText, if (v.get(1).isNull) None else Some(v.get(1).asLong))
    }.toMap)

  private def verifySuite(label: String, res: ValidationSuiteResult,
                          exp: Map[String, (String, Option[Long])]): Seq[String] = {
    val got = res.details.map(r => r.validationName -> r).toMap
    val names =
      if (got.keySet == exp.keySet) Nil
      else Seq(s"$label checks ${got.keySet.toSeq.sorted}, expected ${exp.keySet.toSeq.sorted}")
    names ++ exp.toSeq.sorted.flatMap { case (n, (status, unexpected)) =>
      got.get(n).filter(r => r.status != status ||
          unexpected.exists(_ != r.unexpectedCount))
        .map(r => s"$label $n ${r.status} unexpected=${r.unexpectedCount}, " +
          s"expected $status ${unexpected.getOrElse("-")}")
    }
  }
}

/** Corpus curation: fuzzy pairs → curate → sharded write → read-back
  * census of the written corpus. */
final class CurationLoop(m: JsonNode, work: String) extends Workload {
  def warmup(spark: SparkSession): Seq[String] =
    run(spark, m.get("warmup"), -1, new Tracer).after()._1

  def op(spark: SparkSession, i: Int, t: Tracer): OpOut = run(spark, m.get("corpus"), i, t)

  private def run(spark: SparkSession, c: JsonNode, i: Int, t: Tracer): OpOut = {
    val dir = c.get("dir").asText
    val out = Paths.get(s"$work/curated-$i")
    val docs = Tables.documents(spark, dir)
    val bench = Tables.load(spark, dir, "benchmark")
    val pairs = t.span("ext.pairs_build", "construct") { Dedup.jaccardPairs(docs) }
    val curated = t.span("ext.curate_build", "construct") {
      Curation.curate(docs, bench, Curation.Config(), fuzzyPairs = Some(pairs))
    }
    t.span("spark.plan", "plan") { if (t.enabled) curated.queryExecution.executedPlan }
    t.span("ext.write") {
      Curation.write(curated, out.toString, numShards = Curation.adaptiveShards(docs))
    }
    val got = t.span("ext.readback") { readback(spark, out.toString) }
    OpOut(c.get("rows").asLong, () => {
      val written = Workload.dirBytes(out)
      Workload.delete(out)
      val census = c.get("census")
      val errs = Seq("rows", "sum_ids", "email", "phone", "ipv4").flatMap { k =>
        val want = census.get(k).asLong
        if (got(k) == want) None else Some(s"curation op $i census $k=${got(k)}, expected $want")
      }
      (errs, Map(
        "ext.write_bytes_per_input_byte" ->
          written.toDouble / Files.size(Paths.get(s"$dir/documents.parquet")),
        "ext.survivor_ratio" -> got("rows").toDouble / c.get("rows").asLong))
    })
  }

  private def readback(spark: SparkSession, dir: String): Map[String, Long] = {
    def has(tok: String) = count(when(instr(col("text"), tok) > 0, lit(1)))
    val r = spark.read.parquet(dir).agg(count(lit(1)), coalesce(sum(col("doc_id")), lit(0L)),
      has("<EMAIL>"), has("<PHONE>"), has("<IPV4>")).head()
    Map("rows" -> r.getLong(0), "sum_ids" -> r.getLong(1), "email" -> r.getLong(2),
      "phone" -> r.getLong(3), "ipv4" -> r.getLong(4))
  }
}

/** Streaming validation: each op lands one file and waits until the
  * query has consumed it. Closed windows are checked at the end against
  * the generator's per-window counts. */
final class StreamLoop(m: JsonNode, work: String) extends Workload {
  private val files = m.get("files").elements().asScala.toVector
  private val window = m.get("window").asText
  private val watermark = m.get("watermark").asText
  private val checks = Seq(RowCountCheck(), NotNullCheck("user_id"),
    BetweenCheck("value", min = Some(0.0)))
  private val schema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))
  private val windows = mutable.Map.empty[Long, Seq[ValidationResult]]
  private var query: StreamingQuery = _
  private val source = Paths.get(s"$work/stream/source")

  private def startQuery(spark: SparkSession, src: Path, name: String,
                         sink: mutable.Map[Long, Seq[ValidationResult]]): StreamingQuery = {
    Files.createDirectories(src)
    val stream = spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
      .parquet(src.toString)
    StreamingSuite.writer(stream, "ts", window, watermark, checks, name) { (w, rs) =>
      sink.synchronized { sink(w.getTime / 1000) = rs }
    }.option("checkpointLocation", s"$src-checkpoint").start()
  }

  /** Progress of the micro-batches the query ran; idle triggers report
    * progress too, without an `addBatch` step. */
  private def batches(q: StreamingQuery): Seq[StreamingQueryProgress] =
    q.recentProgress.toSeq.filter(_.durationMs.containsKey("addBatch"))

  /** Land one file and wait until the query has consumed it: its data
    * batch and, when its watermark advance closes a window, the no-data
    * batch that emits the window. Returns the progress of those batches. */
  private def land(q: StreamingQuery, file: Path, into: Path,
                   move: Boolean): Seq[StreamingQueryProgress] = {
    val before = batches(q).map(_.batchId).foldLeft(-1L)(math.max)
    val target = into.resolve(file.getFileName)
    if (move) Files.move(file, target, StandardCopyOption.ATOMIC_MOVE)
    else Files.copy(file, target)
    def mine = batches(q).filter(_.batchId > before)
    // processAllAvailable returns once a trigger finds nothing new; a
    // trigger that listed the source just before the file landed counts,
    // so wait again until a batch has read the file.
    q.processAllAvailable()
    while (!mine.exists(_.numInputRows > 0)) q.processAllAvailable()
    mine
  }

  def warmup(spark: SparkSession): Seq[String] = {
    val src = Paths.get(s"$work/stream/warm")
    val q = startQuery(spark, src, "perfbench-warm", mutable.Map.empty)
    try m.get("warm").elements().asScala.foreach(f => land(q, Paths.get(f.asText), src,
      move = false))
    finally q.stop()
    Nil
  }

  override def start(spark: SparkSession): Unit =
    query = startQuery(spark, source, "perfbench-stream", windows)

  override def hasNext(i: Int): Boolean = i < files.size

  def op(spark: SparkSession, i: Int, t: Tracer): OpOut = {
    val f = files(i)
    val ps = land(query, Paths.get(f.get("path").asText), source, move = true)
    OpOut(f.get("rows").asLong, () => {
      def s(k: String) = ps.flatMap(p => Option(p.durationMs.get(k))).map(_.toDouble).sum / 1000
      (Nil, Map("stream.batch_s" -> s("triggerExecution"),
        "stream.planning_s" -> s("queryPlanning"), "stream.add_batch_s" -> s("addBatch"),
        "stream.wal_commit_s" -> s("walCommit"), "stream.batches" -> ps.size.toDouble,
        "stream.state_rows" -> ps.maxBy(_.batchId).stateOperators.headOption
          .map(_.numRowsTotal.toDouble).getOrElse(0.0)))
    })
  }

  override def finish(spark: SparkSession, ops: Int): Seq[String] = {
    try m.get("flush").elements().asScala.foreach(f => land(query, Paths.get(f.asText), source,
      move = true))
    finally query.stop()
    val expected = mutable.Map.empty[Long, Array[Long]]
    files.take(ops).foreach { f =>
      Workload.fields(f.get("windows")).foreach { case (w, v) =>
        val acc = expected.getOrElseUpdate(w.toLong, Array(0L, 0L, 0L))
        (0 until 3).foreach(k => acc(k) += v.get(k).asLong)
      }
    }
    val got = windows.synchronized(windows.toMap)
    val missing = (expected.keySet -- got.keySet).toSeq.sorted
      .map(w => s"stream window $w never closed")
    val extra = (got.keySet -- expected.keySet).toSeq.sorted
      .map(w => s"stream window $w closed but holds no kept rows")
    missing ++ extra ++ expected.toSeq.sortBy(_._1).flatMap { case (w, e) =>
      got.get(w).flatMap { rs =>
        val seen = Seq(rs(0).elementCount, rs(1).unexpectedCount, rs(2).unexpectedCount)
        if (seen == e.toSeq) None
        else Some(s"stream window $w rows/nulls/negatives ${seen.mkString("/")}, " +
          s"expected ${e.mkString("/")}")
      }
    }
  }
}
