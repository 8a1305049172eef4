package graft

import org.apache.spark.sql.SparkSession

/** SQL entry point: the reference's users speak SQL (`SELECT * FROM
  * listings ...` through Postgres — `postgres_to_s3_operator.py:43-56`
  * renders a query result, and the DAG's DDL/COPY are all SQL), so the
  * engine exposes the same surface — register the tables once, then any
  * `spark.sql(...)` text runs through the exact machinery (Catalyst,
  * graft extensions, native functions) the DataFrame API uses.
  *
  * Views are lazy logical plans over the parquet scans, read with
  * [[Tables.schemas]] — registration runs no job, and every SQL query
  * still gets full pushdown/pruning/AQE. Native graft functions
  * (`cosine_sim`, `word_ngrams`) are SQL-callable in every
  * [[GraftSession]] through its extensions, and the UDAFs
  * (`xor_checksum`, ...) after [[graft.functions.GraftFunctions.register]],
  * which `GraftSession.local` already runs.
  */
object SqlSurface {

  /** Register every testdata table as a temp view named exactly as the
    * oracle schema names it (idempotent; re-registration swaps the dir). */
  def registerTables(s: SparkSession, sfDir: String): Unit =
    Tables.all.foreach(t => Tables(s, sfDir, t).createOrReplaceTempView(t))
}
