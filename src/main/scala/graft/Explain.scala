package graft

import java.nio.file.{Files, Paths}

/** Plan-audit main: dumps `explain("formatted")` for every registered
  * query (or the ones named in args) to stdout or `SPARK_GRAFT_EXPLAIN_OUT`.
  * Used to audit the physical plans — PushedAggregation/PushedFilters on
  * scans, broadcast vs shuffle join sides, WholeStageCodegen spans —
  * after every operator change.
  *
  * Every query is constructed under [[Pin.lazily]], so the dump is the
  * plan the registered lane executes with its sharing pins left lazy —
  * an eager pin would run here and then show only a checkpoint scan,
  * hiding exactly the shapes this tool audits. Pins that are part of an
  * algorithm (index builds, iterative lineage breaks) still run.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
    val spark = Sessions.local(sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors()))
    val wanted = if (args.isEmpty) SparkEntry.queries.keys.toSeq.sorted else args.toSeq
    val out = new StringBuilder
    wanted.foreach { name =>
      SparkEntry.queries.get(name) match {
        case Some(fn) =>
          out.append(s"\n===================== $name =====================\n")
          try out.append(Pin.lazily(fn(spark, sfDir)).queryExecution
            .explainString(org.apache.spark.sql.execution.FormattedMode))
          catch { case e: Throwable => out.append(s"FAILED TO PLAN: ${e.getMessage}\n") }
        case None => out.append(s"\n===== $name: no such query =====\n")
      }
    }
    sys.env.get("SPARK_GRAFT_EXPLAIN_OUT") match {
      case Some(p) => Files.writeString(Paths.get(p), out.toString)
      case None    => println(out.toString)
    }
    spark.stop()
  }
}
