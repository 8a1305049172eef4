package graft.pipeline

import java.nio.file.{Files, Paths}
import java.time.LocalDate
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.shims

import graft.GraftTestBase

/** End-to-end pipeline semantics from SURVEY.md §5.2: NULL round-trip
  * asymmetry, CSV quoting, idempotent delete-then-load, skip-on-missing
  * snapshot, FAILFAST casting. */
class PipelineSpec extends GraftTestBase {

  private val header = "id,name,host_id,host_name,neighbourhood_group," +
    "neighbourhood,latitude,longitude,room_type,price,minimum_nights," +
    "number_of_reviews,last_review,reviews_per_month," +
    "calculated_host_listings_count,availability_365,number_of_reviews_ltm,license"

  private def writeSnapshot(dir: String, date: String, rows: Seq[String]): Unit =
    Files.write(Paths.get(dir, s"listing-$date-processed.csv"),
      (header +: rows).asJava)

  private def runOnce(landing: String, table: String, export: String,
      dates: Seq[String], runDate: String): Pipeline.RunResult =
    Pipeline.run(spark,
      Pipeline.Config(landing, dates, table, export),
      LocalDate.parse(runDate))

  behavior of "Pipeline.run"

  it should "ingest \\N as NULL and export NULL as empty field (the asymmetry)" in {
    val (landing, table, export) = (tempDir("l"), tempDir("t") + "/tbl", tempDir("e"))
    writeSnapshot(landing, "2025-01-05", Seq(
      "1,\"Cozy, downtown \"\"loft\"\"\",10,Ann,\\N,Center,42.6,-73.7,Entire,120.50,2,14,2024-11-02,1.25,3,200,5,\\N",
      "2,Plain,11,Bob,\\N,North,42.7,-73.8,Private,\\N,1,0,\\N,\\N,1,365,0,ABC"))
    val res = runOnce(landing, table, export, Seq("2025-01-05"), "2025-03-01")
    res.loadedRows shouldBe 2
    res.exportedRows shouldBe 2

    // ingested as real NULLs
    val loaded = spark.read.parquet(table)
    loaded.filter(col("price").isNull).count() shouldBe 1
    loaded.filter(col("neighbourhood_group").isNull).count() shouldBe 2

    // exported as empty fields, not \N; quotes doubled RFC4180-style
    val csvLines = Files.list(Paths.get(res.exportPath)).iterator().asScala
      .filter(_.toString.endsWith(".csv"))
      .flatMap(p => Files.readAllLines(p).asScala).toSeq
    csvLines.exists(_.contains("\\N")) shouldBe false
    csvLines.exists(_.contains("\"Cozy, downtown \"\"loft\"\"\"")) shouldBe true
    val row2 = csvLines.find(_.startsWith("2,")).get
    row2 should include(",Private,,1,") // NULL price -> empty field
  }

  it should "be idempotent: re-running a runDate replaces, never appends" in {
    val (landing, table, export) = (tempDir("l"), tempDir("t") + "/tbl", tempDir("e"))
    writeSnapshot(landing, "2025-01-05", Seq(
      "1,A,1,H,\\N,N,42.0,-73.0,R,10.00,1,0,\\N,\\N,1,1,0,\\N"))
    runOnce(landing, table, export, Seq("2025-01-05"), "2025-03-01")
    val after1 = spark.read.parquet(table).count()
    runOnce(landing, table, export, Seq("2025-01-05"), "2025-03-01")
    val after2 = spark.read.parquet(table).count()
    after2 shouldBe after1

    // a different runDate APPENDS (separate batch partition)...
    runOnce(landing, table, export, Seq("2025-01-05"), "2025-03-02")
    spark.read.parquet(table).count() shouldBe after1 * 2
    // ...and re-running the first date still only replaces its own batch
    runOnce(landing, table, export, Seq("2025-01-05"), "2025-03-01")
    spark.read.parquet(table).count() shouldBe after1 * 2
  }

  it should "skip missing snapshot dates without failing" in {
    val (landing, table, export) = (tempDir("l"), tempDir("t") + "/tbl", tempDir("e"))
    writeSnapshot(landing, "2025-01-05", Seq(
      "1,A,1,H,\\N,N,42.0,-73.0,R,10.00,1,0,\\N,\\N,1,1,0,\\N"))
    val res = runOnce(landing, table, export,
      Seq("2025-01-05", "2025-02-05", "2025-03-05"), "2025-03-01")
    res.loadedRows shouldBe 1
  }

  it should "refuse a run with no snapshot on disk, naming the expected file name" in {
    val (landing, table, export) = (tempDir("l"), tempDir("t") + "/tbl", tempDir("e"))
    val e = the[IllegalArgumentException] thrownBy
      runOnce(landing, table, export, Seq("2025-01-05", "2025-02-05"), "2025-03-01")
    e.getMessage should include("listing-<date>-processed.csv")
    Files.exists(Paths.get(table)) shouldBe false
    new java.io.File(export).list().filter(_.startsWith("postgres_data_")) shouldBe empty
  }

  it should "fail fast on malformed numerics (the reference's COPY abort)" in {
    val (landing, table, export) = (tempDir("l"), tempDir("t") + "/tbl", tempDir("e"))
    writeSnapshot(landing, "2025-01-05", Seq(
      "1,A,1,H,\\N,N,42.0,-73.0,R,not_a_price,1,0,\\N,\\N,1,1,0,\\N"))
    an[Exception] should be thrownBy
      runOnce(landing, table, export, Seq("2025-01-05"), "2025-03-01")
  }

  it should "keep a quoted line break inside its field (RFC 4180)" in {
    val (landing, table, export) = (tempDir("l"), tempDir("t") + "/tbl", tempDir("e"))
    // every field already in the export's rendering, so the exported
    // record must equal the input record byte for byte
    val multi = "1,\"two\nlines\",10,Ann,Queens,Center,42.6000000,-73.7000000," +
      "Entire,120.50,2,14,2024-11-02,1.25,3,200,5,LIC1"
    val plain = "2,Plain,11,Bob,Queens,North,42.7000000,-73.8000000," +
      "Private,80.00,1,0,2024-10-01,0.50,1,365,0,ABC"
    writeSnapshot(landing, "2025-01-05", Seq(multi, plain))
    val res = runOnce(landing, table, export, Seq("2025-01-05"), "2025-03-01")
    res.loadedRows shouldBe 2
    res.exportedRows shouldBe 2
    spark.read.parquet(table).where(col("id") === 1).head()
      .getAs[String]("name") shouldBe "two\nlines"

    val parts = Files.list(Paths.get(res.exportPath)).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toSeq
    parts should have size 1
    val text = new String(Files.readAllBytes(parts.head), "UTF-8")
    text should include("\n" + multi + ",2025-03-01,")
    text should include("\n" + plain + ",2025-03-01,")
  }

  it should "stamp load_date and processed_at (the fired defaults)" in {
    val (landing, table, export) = (tempDir("l"), tempDir("t") + "/tbl", tempDir("e"))
    writeSnapshot(landing, "2025-01-05", Seq(
      "1,A,1,H,\\N,N,42.0,-73.0,R,10.00,1,0,\\N,\\N,1,1,0,\\N"))
    runOnce(landing, table, export, Seq("2025-01-05"), "2025-03-01")
    val row = spark.read.parquet(table).head()
    row.getAs[java.sql.Date]("load_date").toString shouldBe "2025-03-01"
    row.getAs[java.sql.Timestamp]("processed_at") should not be null
  }

  /** A snapshot record with `id` and `name` (already CSV-rendered). */
  private def record(id: Long, name: String): String =
    s"$id,$name,1,H,\\N,N,42.0,-73.0,R,10.00,1,0,\\N,\\N,1,1,0,\\N"

  /** Recounts of what a run wrote: the rows of its `load_date` partition
    * and the records of its export object. */
  private def recount(table: String, res: Pipeline.RunResult, runDate: String): (Long, Long) = {
    val loaded = spark.read.parquet(table)
      .where(col("load_date") === lit(java.sql.Date.valueOf(runDate))).count()
    val exported = spark.read.option("header", "true").option("multiLine", "true")
      .csv(res.exportPath).count()
    (loaded, exported)
  }

  it should "count the loaded and exported rows in the writes themselves" in {
    val (landing, table, export) = (tempDir("l"), tempDir("t") + "/tbl", tempDir("e"))
    val dates = Seq("2025-01-05", "2025-01-06", "2025-01-07")
    dates.zipWithIndex.foreach { case (d, k) =>
      writeSnapshot(landing, d, (1 to 40).map(i =>
        record(k * 100 + i, "\"Doc, " + i + "\"")))
    }
    // an earlier batch of the same rows stays in the table
    runOnce(landing, table, export, dates, "2025-02-28")
    val res = runOnce(landing, table, export, dates, "2025-03-01")
    (res.loadedRows, res.exportedRows) shouldBe ((120L, 120L))
    recount(table, res, "2025-03-01") shouldBe ((res.loadedRows, res.exportedRows))
  }

  it should "count the quoted-line-break batch's rows in the writes themselves" in {
    val (landing, table, export) = (tempDir("l"), tempDir("t") + "/tbl", tempDir("e"))
    writeSnapshot(landing, "2025-01-05", Seq(
      record(1, "\"two\nlines\""),
      record(2, "B"),
      record(3, "\"three\nmore\nlines\"")))
    val res = runOnce(landing, table, export, Seq("2025-01-05"), "2025-03-01")
    (res.loadedRows, res.exportedRows) shouldBe ((3L, 3L))
    recount(table, res, "2025-03-01") shouldBe ((res.loadedRows, res.exportedRows))
  }

  it should "run exactly two Spark actions per batch: the load write and the export write" in {
    val (landing, table, export) = (tempDir("l"), tempDir("t") + "/tbl", tempDir("e"))
    writeSnapshot(landing, "2025-01-05", (1 to 20).map(i => record(i, "A")))
    runOnce(landing, table, export, Seq("2025-01-05"), "2025-02-28")
    // an action is a root SQL execution
    val actions = new AtomicInteger
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.rootExecutionId.forall(_ == s.executionId) =>
          actions.incrementAndGet()
        case _ =>
      }
    }
    shims.flushListenerBus(spark)
    spark.sparkContext.addSparkListener(listener)
    try {
      val res = runOnce(landing, table, export, Seq("2025-01-05"), "2025-03-01")
      shims.flushListenerBus(spark)
      res.loadedRows shouldBe 20
      actions.get shouldBe 2
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
