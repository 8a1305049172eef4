package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** One shared local session across all suites (session construction is
  * ~10s; per-suite sessions would dominate test wall-clock). */
object GraftTestSession {
  lazy val spark: SparkSession = GraftSession.local("4")
  /** Small scale factor for fast specs; the same generated tables as the
    * larger scales. */
  val sf: String = "/root/testdata/sf0.001"
}

abstract class GraftTestBase extends AnyFlatSpec with Matchers {
  lazy val spark: SparkSession = GraftTestSession.spark
  val sf: String = GraftTestSession.sf
}
