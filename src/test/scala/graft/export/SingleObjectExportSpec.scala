package graft.export

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

import graft.GraftTestBase
import graft.schema.Listings
import graft.sources.ObjectStoreFileSystem

/** The single-object export (`CsvExport.writeCsv`) writes its body as
  * parallel headerless parts and joins them into one object. That object
  * must be byte for byte what a one-task write of the same frame gives —
  * `coalesce(1).write.csv` with the export's own options — and a failed
  * write must leave nothing a reader would pick up, on a file system and
  * on an object store. */
class SingleObjectExportSpec extends GraftTestBase {

  private def files(dir: String): Seq[Path] =
    if (!Files.exists(Paths.get(dir))) Nil
    else Files.walk(Paths.get(dir)).iterator().asScala.filter(Files.isRegularFile(_)).toSeq

  /** The one committed `.csv` under `dir` (outside `_temporary`). */
  private def onlyCsv(dir: String): Array[Byte] =
    files(dir).filter(p => p.getFileName.toString.endsWith(".csv") &&
        !p.toString.contains("_temporary")) match {
      case Seq(p) => Files.readAllBytes(p)
      case other => fail(s"expected one .csv under $dir, got $other")
    }

  /** What a one-task headered write of `df` produces. */
  private def oneTask(df: DataFrame): Array[Byte] = {
    val out = tempDir("one-task") + "/out.csv"
    df.coalesce(1).write.mode(SaveMode.Overwrite).options(CsvExport.writerOptions).csv(out)
    onlyCsv(out)
  }

  private val runDate = LocalDate.parse("2025-03-01")

  /** A listing table whose run-date batch spans `files` Parquet files, with
    * commas, quotes, NULLs and empty strings in the text columns;
    * `newline` puts a quoted line break into every 7th `name`. */
  private def listingTable(rows: Long, files: Int, newline: Boolean): String = {
    val table = tempDir("listing-tbl") + "/tbl"
    val name =
      if (newline) expr("CASE WHEN id % 7 = 3 THEN concat('two\\nlines ', id) " +
        "ELSE concat('Cozy, \"loft\" ', id) END")
      else expr("concat('Cozy, \"loft\" ', id)")
    val batch = spark.range(0, rows, 1, files).select(
      col("id"),
      name.as("name"),
      (col("id") % 97).cast("int").as("host_id"),
      expr("CASE WHEN id % 5 = 0 THEN '' ELSE concat('Host ', id % 13) END").as("host_name"),
      expr("CASE WHEN id % 3 = 0 THEN NULL ELSE 'Queens' END").as("neighbourhood_group"),
      lit("Astoria").as("neighbourhood"),
      expr("CAST(40.7 + id / 100000.0 AS DECIMAL(10,7))").as("latitude"),
      expr("CAST(-73.9 - id / 100000.0 AS DECIMAL(10,7))").as("longitude"),
      lit("Private room").as("room_type"),
      expr("CASE WHEN id % 4 = 0 THEN NULL ELSE CAST(id * 1.25 AS DECIMAL(10,2)) END").as("price"),
      (col("id") % 30).cast("int").as("minimum_nights"),
      (col("id") % 200).cast("int").as("number_of_reviews"),
      expr("CASE WHEN id % 6 = 0 THEN NULL ELSE date_add(DATE'2024-01-01', CAST(id % 300 AS INT)) END")
        .as("last_review"),
      expr("CAST((id % 50) / 10.0 AS DECIMAL(10,2))").as("reviews_per_month"),
      (col("id") % 9).cast("int").as("calculated_host_listings_count"),
      (col("id") % 366).cast("int").as("availability_365"),
      (col("id") % 11).cast("int").as("number_of_reviews_ltm"),
      expr("CASE WHEN id % 2 = 0 THEN NULL ELSE concat('LIC-', id) END").as("license"),
      lit(java.sql.Date.valueOf(runDate)).as("load_date"),
      lit(java.sql.Timestamp.valueOf("2025-03-01 06:30:00")).as("processed_at"))
    batch.write.partitionBy("load_date").parquet(table)
    table
  }

  private def exportPlan(table: String, date: LocalDate): DataFrame =
    CsvExport.currentBatch(spark.read.parquet(table), date)
      .select(Listings.tableColumnNames.map(col): _*)

  behavior of "the single-object export"

  it should "equal a one-task write byte for byte on a multi-partition listing batch" in {
    val table = listingTable(4000, 6, newline = false)
    exportPlan(table, runDate).rdd.getNumPartitions should be > 1
    val out = tempDir("so-multi") + "/batch.csv"
    CsvExport.exportBatch(spark, table, runDate, out,
      columns = Listings.tableColumnNames) shouldBe 4000L
    onlyCsv(out) shouldBe oneTask(exportPlan(table, runDate))
    Files.exists(Paths.get(out, "_SUCCESS")) shouldBe true
    files(out).filter(_.toString.contains("_temporary")) shouldBe empty
  }

  it should "equal a one-task write byte for byte when a name holds a quoted line break" in {
    val table = listingTable(300, 3, newline = true)
    val out = tempDir("so-newline") + "/batch.csv"
    CsvExport.exportBatch(spark, table, runDate, out,
      columns = Listings.tableColumnNames) shouldBe 300L
    val bytes = onlyCsv(out)
    new String(bytes, "UTF-8") should include("\"two\nlines 3\"")
    bytes shouldBe oneTask(exportPlan(table, runDate))
  }

  it should "render column names that need quoting as the CSV writer does" in {
    val df = spark.range(0, 40, 1, 4)
      .select(col("id").as("a,b"), concat(lit("v"), col("id")).as("say \"hi\""))
    val out = tempDir("so-names") + "/names.csv"
    CsvExport.writeCsv(df, out) shouldBe 40L
    val bytes = onlyCsv(out)
    new String(bytes, "UTF-8").linesIterator.next() shouldBe "\"a,b\",\"say \"\"hi\"\"\""
    bytes shouldBe oneTask(df)
  }

  it should "write the header line only for a zero-row batch, as a one-task write does" in {
    val table = listingTable(50, 2, newline = false)
    val empty = LocalDate.parse("2025-03-02")
    val out = tempDir("so-empty") + "/batch.csv"
    CsvExport.exportBatch(spark, table, empty, out,
      columns = Listings.tableColumnNames) shouldBe 0L
    val bytes = onlyCsv(out)
    new String(bytes, "UTF-8") shouldBe Listings.tableColumnNames.mkString(",") + "\n"
    bytes shouldBe oneTask(exportPlan(table, empty))
  }

  // ANSI mode: the division fails on a late row, after other tasks have
  // already written their parts
  private def poisoned: DataFrame =
    spark.range(0, 100, 1, 4).select(col("id"), expr("1 div (id - 97)").as("boom"))

  it should "leave no object and no staging behind when the write fails mid-job" in {
    val out = tempDir("so-fail") + "/data.csv"
    an[Exception] should be thrownBy CsvExport.writeCsv(poisoned, out)
    files(out).filter(p => p.getFileName.toString.endsWith(".csv")) shouldBe empty
    Files.exists(Paths.get(out, "_SUCCESS")) shouldBe false
    files(out).filterNot(_.toString.contains("_temporary")) shouldBe empty
  }

  it should "leave no object and no staging behind when the write fails mid-job on mocks3" in {
    val bucket = "graft-single-object"
    spark.sparkContext.hadoopConfiguration.set(
      "fs.mocks3.impl", classOf[ObjectStoreFileSystem].getName)
    ObjectStoreFileSystem.clearBucket(bucket)
    try {
      an[Exception] should be thrownBy
        CsvExport.writeCsv(poisoned, s"mocks3://$bucket/exports/fail.csv")
      val keys = ObjectStoreFileSystem.objectKeys(bucket).filter(_.startsWith("exports/fail.csv"))
      keys.filter(_.endsWith(".csv")) shouldBe empty
      keys should not contain "exports/fail.csv/_SUCCESS"
      keys.filterNot(_.contains("_temporary")) shouldBe empty
    } finally ObjectStoreFileSystem.clearBucket(bucket)
  }
}
