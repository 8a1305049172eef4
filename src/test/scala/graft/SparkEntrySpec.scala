package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

import graft.SparkEntry.Query

/** The query catalog: one entry per name, each with its oracle, and the
  * one strict name filter every driver selects through. No SparkSession
  * needed — nothing here runs a query. */
class SparkEntrySpec extends AnyFlatSpec with Matchers {

  behavior of "SparkEntry.registry"

  it should "hold 414 distinct names" in {
    val names = SparkEntry.registry.map(_.name)
    names.size shouldBe 414
    names.distinct.size shouldBe 414
  }

  it should "give every entry a non-blank oracle" in {
    SparkEntry.registry.filter(_.oracle.trim.isEmpty).map(_.name) shouldBe empty
  }

  it should "derive queries and oracleSql over the same names" in {
    SparkEntry.queries.keySet shouldBe SparkEntry.oracleSql.keySet
    SparkEntry.queries.keySet shouldBe SparkEntry.registry.map(_.name).toSet
  }

  it should "refuse a name registered twice" in {
    val run: (SparkSession, String) => DataFrame = (s, _) => s.emptyDataFrame
    val err = the[IllegalArgumentException] thrownBy SparkEntry.register(
      Query("q_a", run, "SELECT 1"), Query("q_b", run, "SELECT 2"),
      Query("q_a", run, "SELECT 3"))
    err.getMessage should include("q_a")
    err.getMessage should not include "q_b"
  }

  behavior of "SparkEntry.select"

  it should "reject unknown names and name each of them" in {
    val err = the[IllegalArgumentException] thrownBy
      SparkEntry.select(Seq("q_nope,q_rollup", "q_also_nope"))
    err.getMessage should include("q_nope")
    err.getMessage should include("q_also_nope")
    err.getMessage should not include "q_rollup"
  }

  it should "trim names around the commas" in {
    SparkEntry.select(Seq(" q_rollup , q_cube ")).map(_.name) shouldBe
      Seq("q_cube", "q_rollup")
  }

  it should "return the whole catalog, sorted by name, for an empty filter" in {
    val all = SparkEntry.queries.keys.toSeq.sorted
    SparkEntry.select(Nil).map(_.name) shouldBe all
    SparkEntry.select(Seq(" , ")).map(_.name) shouldBe all
  }
}
