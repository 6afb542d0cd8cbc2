package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** What [[Lanes.checked]] guarantees of a registry, on synthetic lanes,
  * and the fail-fast lane selector the mains share. */
class LanesSpec extends AnyFunSuite {

  private val noBody: (SparkSession, String) => DataFrame = (_, _) => null
  private def oracle(name: String) = Lane(name, noBody, Oracle("SELECT 1"))
  private def rowsOnly(name: String, twin: String) = Lane(name, noBody, RowsOnly(twin))

  private def rejects(lanes: Lane*): String =
    intercept[IllegalArgumentException](Lanes.checked(lanes)).getMessage

  test("a registry of oracle lanes and rows-only lanes with oracle twins is accepted") {
    val lanes = Seq(oracle("a"), rowsOnly("b", "a"), oracle("c"))
    assert(Lanes.checked(lanes) == lanes)
  }

  test("a lane name registered twice is rejected, naming the lane") {
    val msg = rejects(oracle("dup_lane"), oracle("other"), oracle("dup_lane"))
    assert(msg.contains("dup_lane") && !msg.contains("other"))
  }

  test("a rows-only twin that is not registered is rejected, naming the lane") {
    val msg = rejects(oracle("a"), rowsOnly("b_pairs", "b_planted"))
    assert(msg.contains("b_pairs") && msg.contains("b_planted") &&
      msg.contains("not registered"))
  }

  test("a rows-only twin that is itself rows-only is rejected, naming the lane") {
    val msg = rejects(oracle("a"), rowsOnly("b", "a"), rowsOnly("c", "b"))
    assert(msg.contains("rows-only lane c") && msg.contains("rows-only too"))
  }

  test("the selector returns the named lanes and rejects an unknown name") {
    assert(Lanes.select(Seq("d1_count", "g2_not_null", "d1_count")).map(_.name) ==
      Seq("d1_count", "g2_not_null"))
    assert(Lanes.select(Nil) == Lanes.all)
    val msg = intercept[IllegalArgumentException](
      Lanes.select(Seq("d1_count", "d1_cuont"))).getMessage
    assert(msg.contains("d1_cuont") && !msg.contains("d1_count"))
  }
}
