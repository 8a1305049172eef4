package graft.export

import java.io.{IOException, StringWriter}
import java.nio.charset.Charset
import java.time.LocalDate

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.hadoop.io.IOUtils
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.csv.{CSVOptions, UnivocityGenerator}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.WriteCount

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
  * Scale posture: the one object is written by as many tasks as the
  * export plan has partitions. [[writeCsv]] writes the frame as
  * headerless parts to a staging directory under `outPath/_temporary`,
  * then joins them on the driver, in part-index order, into one
  * `part-…csv` object with the header written once. Part-index order is
  * the order a `coalesce(1)` of the same plan reads its partitions in, so
  * the object is byte for byte what a one-task write would produce; the
  * parallel write runs the Parquet read, the filter, the projection and
  * the CSV encoding on every core. The join goes through the Hadoop
  * `FileSystem` API, so `file:` and `mocks3://` take the same path: the
  * joined object is written under `_temporary` and renamed into place
  * (one rename on a file system, one copy PUT on an object store), then
  * `_SUCCESS` is written last and the staging parts are deleted. On real
  * S3 the join would be a multipart upload whose parts are server-side
  * `UploadPartCopy`s of the staged parts (the header as a small leading
  * part), so no data bytes pass through the driver and the object
  * appears at `CompleteMultipartUpload`; that rendering needs the S3A
  * connector and is not built here.
  * The filter is a Catalyst predicate, so against a partitioned table it
  * prunes to the single `load_date` partition instead of scanning
  * history.
  */
object CsvExport {

  /** The export's CSV dialect: the writer options of every export. */
  val writerOptions: Map[String, String] = Map(
    "header" -> "true",
    // export NULL = empty string (op:49-56), NOT the \N ingest sentinel.
    // No emptyValue override: Python csv.writer QUOTE_MINIMAL renders
    // both None and "" as an unquoted empty field, so NULL and empty
    // string deliberately collapse on export exactly as the reference
    // does (ADVICE r1; SURVEY §1.4 asymmetry).
    "nullValue" -> "",
    "emptyValue" -> "",
    // RFC 4180 doubled-quote escaping, matching Python csv.writer
    // QUOTE_MINIMAL (op:49-53) — not Spark's default backslash escape
    "escape" -> "\"",
    // Spark's CSV WRITER trims unquoted leading/trailing whitespace by
    // default (these options default true on write, false on read);
    // Python csv.writer preserves field bytes verbatim — found by the
    // round-trip property test (" padded " came back "padded")
    "ignoreLeadingWhiteSpace" -> "false",
    "ignoreTrailingWhiteSpace" -> "false",
    "dateFormat" -> "yyyy-MM-dd",
    "timestampFormat" -> "yyyy-MM-dd HH:mm:ss")

  /** The flagship export query shape: star-project the run date's batch. */
  def currentBatch(table: DataFrame, runDate: LocalDate): DataFrame =
    table.filter(col("load_date") === lit(java.sql.Date.valueOf(runDate)))

  /** Write a query result as headered CSV with export-NULL semantics,
    * replacing whatever `outPath` held; returns the rows written, counted
    * by the write's own job. The result is one object (see the scale
    * posture above); a failed write leaves no `.csv` and no `_SUCCESS`
    * outside `_temporary`. */
  def writeCsv(result: DataFrame, outPath: String): Long = {
    val counted = new WriteCount(result)
    val out = new Path(outPath)
    val fs = out.getFileSystem(result.sparkSession.sparkContext.hadoopConfiguration)
    val scratch = new Path(out, "_temporary")
    val staging = new Path(scratch, s"parts-${java.util.UUID.randomUUID}")
    // SaveMode.Overwrite: the previous export goes before the new one is written
    fs.delete(out, true)
    try {
      counted.frame.write.mode(SaveMode.Overwrite)
        .options(writerOptions + ("header" -> "false"))
        .csv(staging.toString)
      joinParts(fs, staging, out, header(result.schema))
    } finally fs.delete(scratch, true)
    counted.rows
  }

  /** A Spark part file's name: `part-<partition>-<job>-c<file>.<ext>`. */
  private val PartName = """part-(\d+)-.+-c(\d+)\..+""".r

  /** Join the headerless parts under `staging`, in part-index order, into
    * one object under `out` that starts with `header`; the object takes
    * the first part's name and appears by one rename, and `_SUCCESS`
    * follows it. Partition 0 always writes a part, empty or not, so a
    * zero-row result gives a header-only object. */
  private def joinParts(fs: FileSystem, staging: Path, out: Path, header: Array[Byte]): Unit = {
    val parts = fs.listStatus(staging).map(_.getPath).filter(_.getName.startsWith("part-"))
      .map(p => p.getName match {
        case PartName(split, file) => ((split.toInt, file.toInt), p)
        case other => throw new IOException(s"unexpected part name $other under $staging")
      })
      .sortBy(_._1).map(_._2)
    val name = parts.headOption.getOrElse(throw new IOException(s"no parts under $staging")).getName
    val joined = new Path(staging.getParent, name)
    val os = fs.create(joined, true)
    try {
      os.write(header)
      parts.foreach { p =>
        val in = fs.open(p)
        try IOUtils.copyBytes(in, os, 1 << 20, false) finally in.close()
      }
    } finally os.close()
    if (!fs.rename(joined, new Path(out, name)))
      throw new IOException(s"could not rename $joined into $out")
    fs.create(new Path(out, "_SUCCESS"), true).close()
  }

  /** The header line exactly as the CSV writer renders it: Spark's own
    * generator over the same options, so a column name holding a comma or
    * a quote is quoted as in a headered write. No value is rendered, so
    * the time zone is never read. */
  private def header(schema: StructType): Array[Byte] = {
    val options = new CSVOptions(writerOptions, false, "UTC")
    val text = new StringWriter
    val gen = new UnivocityGenerator(schema, text, options)
    gen.writeHeaders()
    gen.flush()
    text.toString.getBytes(Charset.forName(options.charset))
  }

  /** The reference's export operator: filter table to the run date's
    * batch, write one headered CSV under `outPath`, and return the rows
    * written — the reference logs fetched + uploaded counts (op:46,
    * op:65-70) as its reconciliation signal. The `s3_key` templating
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
      columns: Seq[String]): Long = {
    val result =
      currentBatch(spark.read.parquet(tablePath), runDate).select(columns.map(col): _*)
    writeCsv(result, outPath)
  }
}
