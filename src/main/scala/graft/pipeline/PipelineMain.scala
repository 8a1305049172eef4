package graft.pipeline

import java.time.LocalDate

/** CLI driver for the batch pipeline — the engine's replacement for the
  * reference's Airflow DAG run (SURVEY.md O-1/O-2: scheduling is an
  * external concern; cron/any scheduler invokes this main per run date).
  *
  * Usage:
  *   PipelineMain <landingDir> <dates,comma,separated> <tablePath> <exportDir> [runDate]
  *
  * `runDate` defaults to today (the reference's `CURRENT_DATE` behavior,
  * dag:87/149); passing it explicitly gives deterministic re-runs — the
  * generalized `{{ ds }}`.
  */
object PipelineMain {
  private val usage =
    "usage: PipelineMain <landingDir> <dates,comma,separated> <tablePath> <exportDir> [runDate]"

  /** The run's config and date from `args`. Each snapshot date is
    * trimmed and blank entries are dropped, so `2025-01-05, 2025-02-05`
    * names two snapshots (an untrimmed ` 2025-02-05` would name a file
    * that never exists and be skipped as absent); an empty date list or
    * a wrong argument count is rejected. */
  private[pipeline] def parseArgs(args: Array[String]): (Pipeline.Config, LocalDate) = {
    require(args.length == 4 || args.length == 5, usage)
    val Array(landingDir, dates, tablePath, exportDir) = args.take(4)
    val snapshotDates = dates.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    require(snapshotDates.nonEmpty, s"no snapshot dates in '$dates'; $usage")
    val runDate =
      if (args.length > 4) LocalDate.parse(args(4)) else LocalDate.now()
    (Pipeline.Config(landingDir, snapshotDates, tablePath, exportDir), runDate)
  }

  def main(args: Array[String]): Unit = {
    val (conf, runDate) = parseArgs(args)
    val spark = graft.GraftSession.builder(
        sys.env.getOrElse("SPARK_MASTER", "local[*]"), graft.GraftSession.cpus)
      .appName("graft-pipeline")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val result = Pipeline.run(spark, conf, runDate)
    // the reference's reconciliation signal: loaded and exported counts
    // must agree (postgres_to_s3_operator.py:46,65-70); each is counted by
    // the write that produced it, with no re-read of the table or export
    println(s"[pipeline] runDate=$runDate loaded=${result.loadedRows} " +
      s"exported=${result.exportedRows} -> ${result.exportPath}")
    spark.stop()
  }
}
