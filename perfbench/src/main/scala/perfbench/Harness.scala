package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession

/** Runs one workload in one JVM and writes the raw per-op record as JSON.
  * `perfbench/run.py` builds the inputs, launches this, and turns the
  * record into metrics.
  *
  *   perfbench.Harness --workload W --manifest F --work DIR --seconds S
  *     --trace 0|1 --cpus N --out FILE [--trace-out FILE]
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).map(p => p(0).stripPrefix("--") -> p(1)).toMap
    val trace = a("trace") == "1"
    val cpus = a("cpus").toInt
    val work = a("work")
    val wl = Workload(a("workload"), new ObjectMapper().readTree(new java.io.File(a("manifest"))),
      work)
    val cpuSplit = new CpuSplit

    // Set-up: the one cold session a user waits on, plus the warm-up op.
    val t0 = System.nanoTime()
    val spark = graft.Sessions.builder(s"local[$cpus]", cpus)
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val warmWrong = wl.warmup(spark)
    val setup = (System.nanoTime() - t0) / 1e9

    phase(f"set-up $setup%.2f s")
    val tracer = new Tracer
    val jobs = new JobLog
    if (trace) spark.sparkContext.addSparkListener(jobs)
    wl.start(spark)

    val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
    val wrong = mutable.ArrayBuffer.from(warmWrong)
    val failures = mutable.ArrayBuffer.empty[String]
    val stat0 = ProcStat.snap()
    val deadline = System.nanoTime() + (a("seconds").toDouble * 1e9).toLong
    var i = 0
    while ((i == 0 || System.nanoTime() < deadline) && wl.hasNext(i)) {
      // Traced and untraced ops alternate, flipping phase each pass over
      // the input pool, so the tracing overhead compares like with like.
      val traced = trace && (if (wl.cycle <= 1) i % 2 == 0 else (i + i / wl.cycle) % 2 == 0)
      tracer.enabled = traced
      tracer.op = i
      val ms0 = tracer.nowMs
      val cpu0 = cpuSplit.snap()
      val t0 = System.nanoTime()
      val out =
        try Right(tracer.span("op") { wl.op(spark, i, tracer) })
        catch { case e: Exception => Left(e) }
      val wall = (System.nanoTime() - t0) / 1e9
      val (cpu, jit) = cpuSplit.between(cpu0, cpuSplit.snap())
      val ms1 = tracer.nowMs
      tracer.enabled = false
      System.err.println(
        f"[perfbench] op $i wall $wall%.3f s cpu $cpu%.2f s jit $jit%.2f s traced $traced")
      out match {
        case Left(e) =>
          failures += s"op $i: $e"
          System.err.println(s"[perfbench] op $i failed")
          e.printStackTrace()
        case Right(o) =>
          val (errs, extra) = o.after()
          wrong ++= errs
          val layers =
            if (!traced) Map.empty[String, Double]
            else layerMetrics(spark, tracer, jobs, i, ms0, ms1, wall) ++ extra +
              ("jvm.jit_cpu_s" -> jit)
          ops += Map("i" -> i, "wall_s" -> wall, "cpu_s" -> (cpu + jit), "rows" -> o.rows,
            "traced" -> traced, "ok" -> errs.isEmpty, "layers" -> layers)
      }
      i += 1
    }
    val stat1 = ProcStat.snap()
    phase(s"timed loop: $i ops")
    wrong ++= wl.finish(spark, i)
    phase("finish")
    // Spark's ContextCleaner frees shuffle, broadcast and checkpoint data
    // asynchronously once a GC has found it unreachable: collect a few
    // times with a pause and keep the smallest live heap.
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(300)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    val load = ProcStat.load(stat0, stat1)
    val result = Map(
      "workload" -> a("workload"), "setup_s" -> setup, "ops" -> ops,
      "attempted" -> i, "failed" -> failures.size, "failures" -> failures.take(20),
      "wrong" -> wrong.size, "wrong_detail" -> wrong.take(20), "heap_live_mb" -> heapMb,
      "other_cpu_load" -> load.map(_._1), "steal" -> load.map(_._2))
    Files.writeString(Paths.get(a("out")), Json(result))
    a.get("trace-out").filter(_ => trace).foreach { f =>
      val lines = tracer.spans.map { s =>
        Json(Map("op" -> s.op, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
          "kind" -> s.kind, "start_ms" -> s.start, "end_ms" -> s.end,
          "self_s" -> tracer.selfSeconds(s, tracer.opSpans(s.op))))
      }
      val jobLines = jobs.jobs.values.map { j =>
        Json(Map("job" -> j.id, "call_site" -> j.callSite.linesIterator.next(),
          "start_ms" -> j.start, "end_ms" -> j.end))
      }
      Files.writeString(Paths.get(f), (lines ++ jobLines).mkString("", "\n", "\n"))
    }
    phase("result written")
    spark.stop()
    phase("session stopped")
  }

  private val jvmStart = System.nanoTime()
  private def phase(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - jvmStart) / 1e9}%.2f s: $what")

  /** Per-op layer values: span time per module call, jobs per call, and
    * the Spark totals of the jobs submitted while the op ran. */
  private def layerMetrics(spark: SparkSession, tracer: Tracer, jobs: JobLog, i: Int,
                           ms0: Double, ms1: Double, wall: Double): Map[String, Double] = {
    PerfbenchBus.drain(spark.sparkContext)
    val spans = tracer.opSpans(i).filter(_.name != "op")
    val js = jobs.within(ms0, ms1)
    val perSpan = spans.groupBy(_.name).toSeq.flatMap { case (name, ss) =>
      val n = js.count(j => ss.exists(s => j.start >= s.start && j.start <= s.end))
      Seq(s"${name}_s" -> ss.map(_.seconds).sum, s"$name.jobs" -> n.toDouble)
    }
    // Tables.load fires one parquet schema-inference job per call; the
    // loader is on the submitting stack.
    val loads = js.filter(_.callSite.contains("graft.Tables$.load("))
    val stages = jobs.stageTotals(js)
    val exec = JobLog.unionSeconds(js, ms0, ms1)
    perSpan.toMap ++ Map(
      "tables.load_jobs" -> loads.size.toDouble,
      "tables.load_s" -> loads.map(j => (if (j.end.isNaN) ms1 else j.end) - j.start).sum / 1000,
      "spark.construct_s" -> spans.filter(_.kind == "construct").map(_.seconds).sum,
      "spark.plan_s" -> spans.filter(_.kind == "plan").map(_.seconds).sum,
      "spark.exec_s" -> exec,
      "spark.driver_gap_s" -> math.max(0.0, wall - exec),
      "spark.jobs" -> js.size.toDouble,
      "spark.stages" -> stages.size.toDouble,
      "spark.tasks" -> stages.map(_.tasks).sum.toDouble,
      "spark.task_cpu_s" -> stages.map(_.cpuNs).sum / 1e9,
      "spark.shuffle_bytes" -> stages.map(_.shuffleBytes).sum.toDouble,
      "spark.spill_bytes" -> stages.map(_.spillBytes).sum.toDouble)
  }
}
