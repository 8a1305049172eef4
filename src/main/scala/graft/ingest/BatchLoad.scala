package graft.ingest

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.WriteCount

/** The reference's idempotent delete-then-load batch contract, rendered as
  * Spark partition-overwrite (SURVEY.md P-4, O-3, K-2).
  *
  * Reference semantics:
  *  - `DELETE FROM listings WHERE load_date = CURRENT_DATE` then bulk
  *    `COPY` append (`dags/airbnb_postgres_to_s3.py:86-124`) — re-running a
  *    batch replaces it, never duplicates (`README.md:205-228`).
  *  - The COPY lists 18 columns explicitly; `load_date`/`processed_at` are
  *    omitted so their `DEFAULT`s fire (`README.md:169-201`).
  *
  * Spark rendering: the table is parquet partitioned by `load_date`;
  * dynamic partition overwrite rewrites exactly the partitions present in
  * the incoming batch and leaves every other batch untouched. This is the
  * scale-correct version of delete+insert: at 100 TB the delete is
  * metadata-only partition replacement, no table rewrite, no read-modify-
  * write of historical batches.
  */
object BatchLoad {

  /** Explicit 18-column projection + default stamping.
    *
    * `select(columns)` reproduces the COPY column-binding contract (any
    * missing/renamed column is an analysis error, matching COPY's bind
    * failure); the two `withColumn`s reproduce the fired defaults. The
    * run date is an explicit parameter — the generalized `{{ ds }}` — so
    * the load is deterministic and testable (SURVEY.md §7.1); the
    * reference's `CURRENT_DATE` behavior is `LocalDate.now` at the caller.
    */
  private def stampBatch(df: DataFrame, columns: Seq[String], runDate: LocalDate): DataFrame =
    df.select(columns.map(col): _*)
      .withColumn("load_date", lit(java.sql.Date.valueOf(runDate)))
      .withColumn("processed_at", current_timestamp())

  /** Idempotent load: overwrite only the `load_date` partitions present in
    * `batch`. Requires `partitionOverwriteMode=dynamic`, set per-write so
    * the session default is untouched. */
  private def loadBatch(batch: DataFrame, tablePath: String): Unit =
    batch.write
      .mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("load_date")
      .parquet(tablePath)

  /** Full ingest: project, stamp, overwrite-partition write. Returns the
    * rows loaded, which is the row count of the `runDate` partition now:
    * the write counts them as it reads `raw`. The count sits below the
    * stamp, where it leaves the planner free to see `load_date` as a
    * constant and drop the write's sort by partition. */
  def ingest(
      raw: DataFrame,
      columns: Seq[String],
      runDate: LocalDate,
      tablePath: String): Long = {
    val counted = new WriteCount(raw)
    loadBatch(stampBatch(counted.frame, columns, runDate), tablePath)
    counted.rows
  }
}
