package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Correctness dump: each lane's result ([[Lanes.all]]) → parquet, plus
  * oracle_sql.json ([[SparkEntry.oracleSql]]), for the DuckDB compare
  * (`tools/oracle_check.py`). */
object Verify {
  def main(args: Array[String]): Unit = {
    // Optional 3rd arg: comma-separated query names — local-iteration
    // filter (the driver always passes exactly two args → full dump).
    val (sfDir, outDir, only) = args match {
      case Array(s, o)    => (s, o, Nil)
      case Array(s, o, f) => (s, o, f.split(',').toSeq)
    }
    val lanes = Lanes.select(only)
    val spark = Sessions.local(Sessions.cpusFromEnv)
    // Fail loudly (and name the table) if the driver regenerated testdata
    // with a drifted schema — better one clear error than N query errors.
    TablesContract.check(spark, sfDir)
    // Row-count drift is a WARNING, not a failure: counts changing breaks
    // no oracle compare, but the round log should show a regen happened.
    TablesContract.rowDrift(spark, sfDir)
      .foreach(w => System.err.println(s"[contract] WARN $w"))
    new java.io.File(outDir).mkdirs()
    lanes.foreach { lane =>
      try lane.build(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/${lane.name}")
      catch { case e: Throwable =>
        System.err.println(s"[verify] ${lane.name} failed: ${e.getMessage}")
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
