package graft

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions.{count, lit}

/** The rows a write saw, counted inside the write's own job
  * (`Dataset.observe`), so a writer reports its row count without a
  * second action that re-reads or recomputes what it wrote.
  *
  * Write [[frame]], then read [[rows]]. The count arrives through the
  * session's listener bus shortly after the write returns; [[rows]]
  * waits for it, and fails rather than hangs if it never comes. The
  * observation is released when the count arrives, so nothing outlives
  * a successful write.
  */
final class WriteCount(df: DataFrame) {
  private val observation = Observation()

  /** `df` with the row counter attached: the frame to write. */
  val frame: DataFrame = df.observe(observation, count(lit(1)).as("rows"))

  /** Rows the write of [[frame]] saw; call only after that write returned. */
  def rows: Long = Await.result(observation.future, WriteCount.Wait).getLong(0)
}

object WriteCount {
  /** How long [[WriteCount.rows]] waits for a finished write's count. */
  private val Wait = 5.minutes
}
