package graft

import java.io.File
import java.nio.file.Files

import scala.collection.mutable.ListBuffer

import org.apache.commons.io.FileUtils
import org.apache.spark.sql.SparkSession
import org.scalatest.Outcome
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

  private val tempDirs = ListBuffer.empty[File]

  /** A fresh directory under the system temp dir, named `prefix` plus a
    * random suffix. Its whole tree is deleted when the running test
    * ends, pass or fail. */
  def tempDir(prefix: String): String = {
    val dir = Files.createTempDirectory(prefix).toFile
    tempDirs += dir
    dir.getPath
  }

  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally {
      tempDirs.foreach(FileUtils.deleteQuietly)
      tempDirs.clear()
    }
}
