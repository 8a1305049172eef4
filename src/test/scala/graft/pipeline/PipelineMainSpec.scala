package graft.pipeline

import java.time.LocalDate

import org.scalatest.flatspec.AnyFlatSpec
import org.scalatest.matchers.should.Matchers

/** PipelineMain's argument parsing, no SparkSession needed. */
class PipelineMainSpec extends AnyFlatSpec with Matchers {

  private def args(dates: String, extra: String*): Array[String] =
    (Seq("/land", dates, "/tbl", "/exp") ++ extra).toArray

  behavior of "PipelineMain.parseArgs"

  it should "trim each date of a spaced list" in {
    val (conf, runDate) =
      PipelineMain.parseArgs(args("2025-01-05, 2025-02-05", "2025-03-01"))
    conf shouldBe Pipeline.Config("/land", Seq("2025-01-05", "2025-02-05"), "/tbl", "/exp")
    runDate shouldBe LocalDate.parse("2025-03-01")
    Pipeline.snapshotPath(conf.landingDir, conf.snapshotDates(1)) shouldBe
      "/land/listing-2025-02-05-processed.csv"
  }

  it should "drop blank entries" in {
    val (conf, _) = PipelineMain.parseArgs(args("2025-01-05,, ,2025-02-05,"))
    conf.snapshotDates shouldBe Seq("2025-01-05", "2025-02-05")
  }

  it should "reject an empty date list" in {
    for (dates <- Seq("", " ", ", ,")) {
      val e = the[IllegalArgumentException] thrownBy PipelineMain.parseArgs(args(dates))
      e.getMessage should include("no snapshot dates")
    }
  }

  it should "reject too few or too many arguments" in {
    an[IllegalArgumentException] should be thrownBy
      PipelineMain.parseArgs(Array("/land", "2025-01-05", "/tbl"))
    an[IllegalArgumentException] should be thrownBy
      PipelineMain.parseArgs(args("2025-01-05", "2025-03-01", "extra"))
  }
}
