package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Entry contract (SURVEY.md §7): the flagship [[entry]], every lane by
  * name, and the DuckDB oracle SQL. The lanes and their checks are
  * declared once in [[Lanes.all]]; their bodies live in [[Queries]]. */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * D4 whitelist violations over the stg_territory staging model — the
    * reference's flagship post-transform check (pager-workflow.py:205-221),
    * with NATION_20..24 deliberately outside the whitelist so violations
    * surface (mirrors test-pager-action.py:186). */
  def entry(spark: SparkSession): DataFrame =
    Queries.d4WhitelistViolations(spark, "/root/testdata/sf0.001")

  /** Every registered lane's body by name: a view of [[Lanes.all]]. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = builds

  /** Each oracle-checked lane's DuckDB SQL by name: a view of
    * [[Lanes.all]]. Rows-only lanes have no entry. */
  def oracleSql: Map[String, String] = oracles

  private val builds = Lanes.all.map(l => l.name -> l.build).toMap
  private val oracles =
    Lanes.all.collect { case Lane(name, _, Oracle(sql)) => name -> sql }.toMap
}
