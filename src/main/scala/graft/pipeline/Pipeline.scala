package graft.pipeline

import java.time.LocalDate

import org.apache.spark.sql.SparkSession

import graft.export.CsvExport
import graft.ingest.{BatchLoad, CsvIngest}
import graft.schema.Listings

/** The whole reference DAG as one driver program (SURVEY.md §2.8, §3.1).
  *
  * Reference stages `download >> preprocess >> create_table >> load >>
  * transfer` (`dags/airbnb_postgres_to_s3.py:157`) collapse to:
  *
  *  1. snapshot scan (union of whatever per-date CSVs exist; absent dates
  *     skipped — dag:38-39),
  *  2. typed parse with `\N` NULLs + FAILFAST casting (COPY semantics),
  *  3. explicit 18-column projection + `load_date`/`processed_at` stamping
  *     (fired defaults),
  *  4. idempotent partition-overwrite load (delete-then-load contract),
  *  5. date-filtered star-projection export to headered CSV with
  *     empty-string NULLs (the S3 object).
  *
  * Steps 1-3 are one lazy Catalyst plan (no materialization barriers —
  * the reference's five OS processes + filesystem/DB handoffs disappear);
  * the only action boundaries are the two writes, and each counts the
  * rows it writes, so a run is exactly two Spark actions. The HTTP
  * download (S-1) stays outside the engine, exactly as it sits outside
  * the reference's data path (a PythonOperator staging to a landing
  * dir): callers stage files under `landingDir` by any transport.
  */
object Pipeline {

  final case class Config(
      landingDir: String,
      snapshotDates: Seq[String],
      tablePath: String,
      exportDir: String)

  /** `loadedRows` is the row count of the `runDate` partition after the
    * load and `exportedRows` the record count of the export object; both
    * are counted by the write that produced them, not by a re-read. */
  final case class RunResult(loadedRows: Long, exportedRows: Long, exportPath: String)

  def snapshotPath(landingDir: String, date: String): String =
    s"$landingDir/listing-$date-processed.csv"

  /** One batch run for `runDate` — the generalized `{{ ds }}`. Re-running
    * the same `runDate` replaces that batch exactly (README:205-228). */
  def run(spark: SparkSession, conf: Config, runDate: LocalDate): RunResult = {
    val raw = CsvIngest.readSnapshots(
      spark,
      conf.snapshotDates.map(snapshotPath(conf.landingDir, _)),
      Listings.ingestSchema,
      CsvIngest.FailFast)

    val loaded =
      BatchLoad.ingest(raw, Listings.dataColumnNames, runDate, conf.tablePath)
    val exportPath = s"${conf.exportDir}/postgres_data_$runDate.csv"
    val exported = CsvExport.exportBatch(
      spark, conf.tablePath, runDate, exportPath, Listings.tableColumnNames)
    RunResult(loaded, exported, exportPath)
  }
}
