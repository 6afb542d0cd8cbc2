package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Measurement-only main (guide §1/§7): runs the named queries once
  * warm then once timed, and prints a per-JOB and per-STAGE wall/task
  * breakdown from a [[SparkListener]] — the event-log profile the
  * optimization rounds cite, without hand-parsing JSON event logs.
  * Beside the job count it prints the timed pass's Janino compiles (the
  * warm pass already compiled the query's classes, so these are classes
  * the generated-code cache evicted, or code that differs between the
  * passes; see [[Sessions.CodegenCacheEntries]]).
  * Never part of the bench or verify contracts; output is a diagnostic
  * table on stdout.
  */
object Profile {

  private final case class StageRow(stageId: Int, name: String,
      numTasks: Int, wallMs: Long, taskMs: Long)
  private final case class JobRow(jobId: Int, desc: String, wallMs: Long,
      stages: Seq[Int])

  private class Collector extends SparkListener {
    val jobs = mutable.ArrayBuffer.empty[JobRow]
    private val jobStart = mutable.Map.empty[Int, (Long, String, Seq[Int])]
    val stages = mutable.Map.empty[Int, StageRow]
    private val stageTaskMs = mutable.Map.empty[Int, Long].withDefaultValue(0L)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val desc = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse("")
      jobStart(e.jobId) = (e.time, desc, e.stageIds.map(_.toInt))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach { case (t0, desc, sids) =>
        jobs += JobRow(e.jobId, desc, e.time - t0, sids)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (e.taskInfo != null)
        stageTaskMs(e.stageId) += e.taskInfo.duration
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val si = e.stageInfo
        val wall = (for {
          t0 <- si.submissionTime; t1 <- si.completionTime
        } yield t1 - t0).getOrElse(-1L)
        stages(si.stageId) = StageRow(si.stageId, si.name, si.numTasks,
          wall, stageTaskMs(si.stageId))
      }
    def reset(): Unit = synchronized {
      jobs.clear(); jobStart.clear(); stages.clear(); stageTaskMs.clear()
    }
  }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) sys.error("usage: Profile <lane> [lane...]")
    val lanes = Lanes.select(args.toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local(Sessions.cpusFromEnv)
    val collector = new Collector
    spark.sparkContext.addSparkListener(collector)
    lanes.foreach { case Lane(name, fn, _) =>
      // Warm-up (JIT, codegen, footers), then timed cold pass.
      spark.catalog.clearCache()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      spark.catalog.clearCache()
      collector.reset()
      val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      val wall = (System.nanoTime() - t0) / 1e9
      val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
      // Let straggler listener events drain before reading the tables.
      Thread.sleep(500)
      println(f"%n========== $name: wall $wall%.3f s, " +
        f"${collector.jobs.size} jobs, $compiles Janino compiles ==========")
      collector.jobs.sortBy(-_.wallMs).foreach { j =>
        println(f"  job ${j.jobId}%4d ${j.wallMs}%6d ms  ${j.desc.take(90)}")
        j.stages.flatMap(collector.stages.get).sortBy(-_.wallMs).take(4)
          .foreach { s =>
            println(f"      stage ${s.stageId}%4d wall ${s.wallMs}%6d ms " +
              f"tasks ${s.numTasks}%4d taskSum ${s.taskMs}%6d ms  " +
              s.name.take(70))
          }
      }
      val totalJobMs = collector.jobs.map(_.wallMs).sum
      println(f"  [sum of job walls ${totalJobMs}%d ms vs query wall " +
        f"${(wall * 1000).toLong}%d ms — gap = driver/planning/eager-construction]")
    }
    spark.stop()
  }
}
