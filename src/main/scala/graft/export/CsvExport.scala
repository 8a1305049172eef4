package graft.export

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's parameterized query → headered CSV → object-store
  * export (SURVEY.md S-3, P-2/P-3, K-3, F-5/F-6/F-7).
  *
  * Reference semantics being reproduced:
  *  - `SELECT * FROM listings WHERE load_date = {{ ds }}` — a star
  *    projection with a run-date equality predicate
  *    (`dags/airbnb_postgres_to_s3.py:149`).
  *  - Output is ONE headered CSV object, header names taken from the
  *    query result schema (`postgres_to_s3_operator.py:44,55`), minimal
  *    quoting, `\n` terminators, overwrite-on-rerun (`replace=True`,
  *    op:62).
  *  - NULLs render as EMPTY STRING on export — asymmetric with the `\N`
  *    ingest sentinel (Python csv.writer renders None as "", op:49-56;
  *    SURVEY.md §1.4).
  *
  * Scale posture: `singleObject=true` reproduces the reference's
  * one-object output via `coalesce(1)` — correct compat mode, wrong at
  * 100 TB (one task writes everything). [[writeCsv]] defaults to
  * `false`, a parallel multi-part write, which is what the same export
  * should be on a real cluster; [[exportBatch]] defaults to `true`, the
  * reference's one object, and `Pipeline.run` always writes one object.
  * The filter is a Catalyst predicate, so against a partitioned table it
  * prunes to the single `load_date` partition instead of scanning
  * history.
  */
object CsvExport {

  /** The flagship export query shape: star-project the run date's batch. */
  def currentBatch(table: DataFrame, runDate: LocalDate): DataFrame =
    table.filter(col("load_date") === lit(java.sql.Date.valueOf(runDate)))

  /** Write a query result as headered CSV with export-NULL semantics. */
  def writeCsv(result: DataFrame, outPath: String, singleObject: Boolean = false): Unit = {
    val shaped = if (singleObject) result.coalesce(1) else result
    shaped.write
      .mode(SaveMode.Overwrite)
      .option("header", "true")
      // export NULL = empty string (op:49-56), NOT the \N ingest sentinel.
      // No emptyValue override: Python csv.writer QUOTE_MINIMAL renders
      // both None and "" as an unquoted empty field, so NULL and empty
      // string deliberately collapse on export exactly as the reference
      // does (ADVICE r1; SURVEY §1.4 asymmetry).
      .option("nullValue", "")
      .option("emptyValue", "")
      // RFC 4180 doubled-quote escaping, matching Python csv.writer
      // QUOTE_MINIMAL (op:49-53) — not Spark's default backslash escape
      .option("escape", "\"")
      // Spark's CSV WRITER trims unquoted leading/trailing whitespace by
      // default (these options default true on write, false on read);
      // Python csv.writer preserves field bytes verbatim — found by the
      // round-trip property test (" padded " came back "padded")
      .option("ignoreLeadingWhiteSpace", "false")
      .option("ignoreTrailingWhiteSpace", "false")
      .option("dateFormat", "yyyy-MM-dd")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
      .csv(outPath)
  }

  /** The reference's export operator: filter table to the run date's
    * batch, write one headered CSV under `outPath`. The `s3_key` templating
    * (F-5) is the caller interpolating `runDate` into `outPath`.
    *
    * `columns` pins header order — a partitioned parquet read surfaces the
    * partition column last, while the reference's `SELECT *` emits table
    * declaration order (`cursor.description`, op:44); pass
    * `Listings.tableColumnNames` to reproduce it. */
  def exportBatch(
      spark: SparkSession,
      tablePath: String,
      runDate: LocalDate,
      outPath: String,
      singleObject: Boolean = true,
      columns: Seq[String] = Nil): Long = {
    val batch = currentBatch(spark.read.parquet(tablePath), runDate)
    val result = if (columns.nonEmpty) batch.select(columns.map(col): _*) else batch
    writeCsv(result, outPath, singleObject)
    // row-count observability: the reference logs fetched + uploaded counts
    // (op:46, op:65-70) as its reconciliation signal
    result.count()
  }
}
