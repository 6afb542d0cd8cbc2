package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional 3rd arg: comma-separated query names — local-iteration
    // filter (the driver always passes exactly two args → full dump).
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f.split(',').toSet))
    }
    // Fail fast on unknown names (same contract as Bench): a typo'd
    // filter would otherwise dump nothing and exit 0 as if it verified.
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    }
    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors())
    val spark = Sessions.local(cpus)
    // Fail loudly (and name the table) if the driver regenerated testdata
    // with a drifted schema — better one clear error than N query errors.
    TablesContract.check(spark, sfDir)
    // Row-count drift is a WARNING, not a failure: counts changing breaks
    // no oracle compare, but the round log should show a regen happened.
    TablesContract.rowDrift(spark, sfDir)
      .foreach(w => System.err.println(s"[contract] WARN $w"))
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Escaped strings (control chars included): a tab or CR in an
    // oracle SQL string would otherwise make a strict JSON reader
    // reject the whole file.
    import graft.sink.Notifiers.{jsonString => q}
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
