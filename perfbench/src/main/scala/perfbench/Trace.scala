package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.scheduler._

/** JSON of Scala maps, sequences, options and numbers. */
object Json {
  private val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
  def apply(v: Any): String = mapper.writeValueAsString(v)
}

/** One timed call on the benchmark's side of a module boundary. `kind`
  * is "call", "construct" (builds frames; may fire eager jobs) or "plan"
  * (forces `executedPlan` before an action). Times are epoch
  * milliseconds with a nanosecond-clock fraction, so they line up with
  * listener job times and still resolve short calls. */
final case class Span(id: Int, name: String, kind: String, parent: Int,
                      op: Int, start: Double, end: Double) {
  def seconds: Double = (end - start) / 1000.0
}

/** Records spans in memory while enabled; a disabled tracer only runs
  * the body, so an untraced op pays nothing but a branch. */
final class Tracer {
  var enabled = false
  var op = -1
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack[Int]()
  private var nextId = 0
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()

  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  def span[T](name: String, kind: String = "call")(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val id = nextId
      val parent = stack.headOption.getOrElse(-1)
      stack.push(id)
      val t0 = nowMs
      try body
      finally {
        stack.pop()
        spans += Span(id, name, kind, parent, op, t0, nowMs)
      }
    }

  def opSpans(i: Int): Seq[Span] = spans.filter(_.op == i).toSeq

  /** Span time minus the time of its direct children. */
  def selfSeconds(s: Span, all: Seq[Span]): Double =
    s.seconds - all.filter(_.parent == s.id).map(_.seconds).sum
}

/** Spark jobs with their stages' task totals, as the listener saw them. */
final case class JobRecord(id: Int, callSite: String, start: Double, var end: Double,
                           stages: Seq[Int])

final class JobLog extends SparkListener {
  final class StageTotals {
    var tasks = 0L; var cpuNs = 0L; var shuffleBytes = 0L; var spillBytes = 0L
  }
  val jobs = mutable.LinkedHashMap.empty[Int, JobRecord]
  val stages = mutable.HashMap.empty[Int, StageTotals]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    // The result stage carries the job's call site: its short form and
    // the submitting thread's stack.
    val site = e.stageInfos.sortBy(_.stageId).lastOption
      .map(s => s.name + "\n" + s.details).getOrElse("")
    jobs(e.jobId) = JobRecord(e.jobId, site, e.time.toDouble, Double.NaN, e.stageIds)
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val t = stages.getOrElseUpdate(e.stageId, new StageTotals)
    t.tasks += 1
    Option(e.taskMetrics).foreach { m =>
      t.cpuNs += m.executorCpuTime
      t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.diskBytesSpilled
    }
  }

  /** Jobs submitted inside [from, to] epoch ms. */
  def within(from: Double, to: Double): Seq[JobRecord] = synchronized {
    jobs.values.filter(j => j.start >= from - 1 && j.start <= to + 1).toSeq
  }
  def stageTotals(js: Seq[JobRecord]): Seq[StageTotals] = synchronized {
    js.flatMap(_.stages).distinct.flatMap(stages.get)
  }
}

object JobLog {
  /** Wall time covered by at least one job, clipped to [from, to]. */
  def unionSeconds(js: Seq[JobRecord], from: Double, to: Double): Double = {
    val iv = js.map(j => (math.max(j.start, from),
        math.min(if (j.end.isNaN) to else j.end, to)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0; var curA = Double.NaN; var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total / 1000.0
  }
}

/** Other-process CPU from /proc/stat jiffy deltas over the timed section:
  * (machine busy − this process) / all jiffies, the `graft.Bench` method.
  * Busy includes steal, the time a virtual machine's host gave to others,
  * which is also reported on its own. Linux only; None elsewhere. */
object ProcStat {
  final case class Snap(total: Long, busy: Long, steal: Long, self: Long)

  def snap(): Option[Snap] =
    try {
      val cpu = java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/stat"))
        .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
      val idle = cpu(3) + (if (cpu.length > 4) cpu(4) else 0L)
      val self = java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/self/stat"))
        .split("\\)\\s+").last.split("\\s+")
      Some(Snap(cpu.sum, cpu.sum - idle, if (cpu.length > 7) cpu(7) else 0L,
        self(11).toLong + self(12).toLong))
    } catch { case _: Exception => None }

  /** (other-process share, steal share) of all CPU between two snapshots. */
  def load(a: Option[Snap], b: Option[Snap]): Option[(Double, Double)] =
    for (x <- a; y <- b if y.total > x.total) yield {
      val all = (y.total - x.total).toDouble
      (math.max(0.0, ((y.busy - x.busy) - (y.self - x.self)) / all), (y.steal - x.steal) / all)
    }
}

/** This JVM's CPU split into JIT compilation and everything else, in
  * seconds, from /proc/self (jiffies). The JIT share of a fresh Spark
  * driver is large and shifts with compile timing, so it is reported as
  * a layer of its own. Zeros off Linux. */
final class CpuSplit {
  final case class Snap(process: Long, jit: Map[String, Long])
  private val compiler = mutable.HashMap.empty[String, Boolean]
  private val hz = 100.0

  private def ticks(stat: java.nio.file.Path): Long = {
    val f = java.nio.file.Files.readString(stat).split("\\)\\s+").last.split("\\s+")
    f(11).toLong + f(12).toLong
  }

  def snap(): Snap =
    try {
      val ls = java.nio.file.Files.list(java.nio.file.Paths.get("/proc/self/task"))
      val tasks = try ls.iterator().asScala.toSeq finally ls.close()
      val jit = tasks.filter { t =>
        compiler.getOrElseUpdate(t.getFileName.toString,
          try java.nio.file.Files.readString(t.resolve("comm")).contains("CompilerThre")
          catch { case _: java.io.IOException => false })
      }.flatMap { t =>
        try Some(t.getFileName.toString -> ticks(t.resolve("stat")))
        catch { case _: java.io.IOException => None }
      }.toMap
      Snap(ticks(java.nio.file.Paths.get("/proc/self/stat")), jit)
    } catch { case _: Exception => Snap(0L, Map.empty) }

  /** (CPU outside JIT, JIT CPU) between two snapshots. A compiler thread
    * that exits in between loses its last ticks to the first figure. */
  def between(a: Snap, b: Snap): (Double, Double) = {
    val jit = b.jit.map { case (t, v) => v - a.jit.getOrElse(t, 0L) }.sum
    ((b.process - a.process - jit) / hz, jit / hz)
  }
}
