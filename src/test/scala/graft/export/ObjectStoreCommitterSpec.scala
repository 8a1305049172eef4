package graft.export

import java.time.LocalDate

import org.apache.spark.sql.functions._

import graft.GraftTestBase
import graft.sources.ObjectStoreFileSystem

/** The export committer contract EXECUTED AGAINST OBJECT-STORE
  * SEMANTICS (VERDICT r8 task 2): same assertions as
  * [[CsvExportCommitterSpec]] — replace-in-full, no committed objects
  * after a mid-job failure, `_SUCCESS` only on full commit — but run
  * through `mocks3://` ([[ObjectStoreFileSystem]]: flat keyspace,
  * PUT-on-close atomicity, non-atomic copy+delete rename), plus the
  * object-store-only assertions the local FS cannot express: byte
  * identity with the local rendering, and PUT-visibility ordering
  * (no final-location object visible before its task commit). The
  * sandbox has no S3A connector jar; a real deployment swaps the
  * scheme for `s3a://` and the export path is unchanged. */
class ObjectStoreCommitterSpec extends GraftTestBase {

  private val bucketName = "graft-test"

  private def withBucket[T](body: String => T): T = {
    spark.sparkContext.hadoopConfiguration.set(
      "fs.mocks3.impl", classOf[ObjectStoreFileSystem].getName)
    ObjectStoreFileSystem.clearBucket(bucketName)
    try body(s"mocks3://$bucketName")
    finally ObjectStoreFileSystem.clearBucket(bucketName)
  }

  private def committedCsvKeys(prefix: String): Seq[String] =
    ObjectStoreFileSystem.objectKeys(bucketName)
      .filter(k => k.startsWith(prefix) && k.endsWith(".csv") &&
        !k.contains("_temporary"))

  behavior of "CsvExport against object-store semantics"

  it should "replace in full on rerun over mocks3, fewer-parts layout included" in {
    import spark.implicits._
    withBucket { root =>
      val out = s"$root/exports/data.csv"
      val first = (1 to 100).map(i => (i, "old")).toDF("id", "tag")
        .repartition(4)
      first.write.options(CsvExport.writerOptions).csv(out)
      committedCsvKeys("exports/data.csv").size should be > 1
      val second = Seq((1, "new")).toDF("id", "tag")
      CsvExport.writeCsv(second, out)
      val keys = committedCsvKeys("exports/data.csv")
      keys.size shouldBe 1
      new String(ObjectStoreFileSystem.objectBytes(bucketName, keys.head),
        "UTF-8").linesIterator.toSeq shouldBe Seq("id,tag", "1,new")
      ObjectStoreFileSystem.objectKeys(bucketName)
        .contains("exports/data.csv/_SUCCESS") shouldBe true
    }
  }

  it should "commit no objects when the write fails mid-job on mocks3" in {
    withBucket { root =>
      val out = s"$root/exports/fail.csv"
      val poisoned = spark.range(0, 100, 1, 4)
        .select(col("id"), expr("1 div (id - 97)").as("boom"))
      an[Exception] should be thrownBy {
        CsvExport.writeCsv(poisoned, out)
      }
      committedCsvKeys("exports/fail.csv") shouldBe empty
      ObjectStoreFileSystem.objectKeys(bucketName)
        .contains("exports/fail.csv/_SUCCESS") shouldBe false
    }
  }

  it should "render bytes identical to the local-FS export and sequence PUTs correctly" in {
    import spark.implicits._
    withBucket { root =>
      val table = tempDir("oss-tbl") + "/tbl"
      val d = java.sql.Date.valueOf("2025-03-01")
      Seq((1, "a,b", d), (2, null.asInstanceOf[String], d))
        .toDF("id", "v", "load_date")
        .write.mode("overwrite").parquet(table)
      // object-store export
      val cursor = ObjectStoreFileSystem.putCursor()
      val out = s"$root/exports/batch.csv"
      CsvExport.exportBatch(spark, table, LocalDate.parse("2025-03-01"), out,
        columns = Seq("id", "v")) shouldBe 2L
      val keys = committedCsvKeys("exports/batch.csv")
      keys.size shouldBe 1
      val remoteBytes =
        ObjectStoreFileSystem.objectBytes(bucketName, keys.head)
      // local export of the same batch — bytes must match exactly
      // (header synthesis, RFC4180 quoting, NULL → empty)
      val localOut = tempDir("oss-local") + "/batch.csv"
      CsvExport.exportBatch(spark, table, LocalDate.parse("2025-03-01"),
        localOut, columns = Seq("id", "v")) shouldBe 2L
      val localPart = java.nio.file.Files.walk(java.nio.file.Paths.get(localOut))
        .iterator()
      val localBytes = scala.jdk.CollectionConverters
        .IteratorHasAsScala(localPart).asScala
        .filter(p => java.nio.file.Files.isRegularFile(p) &&
          p.toString.endsWith(".csv") &&
          !p.toString.contains("_temporary"))
        .toSeq match {
        case Seq(p) => java.nio.file.Files.readAllBytes(p)
        case other => fail(s"expected one local part, got $other")
      }
      new String(remoteBytes, "UTF-8") shouldBe new String(localBytes, "UTF-8")
      // PUT ordering: every final-location object PUT happens AFTER all
      // its bytes existed somewhere (attempt key first, then the commit
      // copy), and _SUCCESS is the LAST final-location put of the job
      val puts = ObjectStoreFileSystem.putsSince(cursor)
        .filter(_._1 == bucketName).map(_._2)
        .filter(_.startsWith("exports/batch.csv"))
      puts.nonEmpty shouldBe true
      val finalPuts = puts.filterNot(_.contains("_temporary"))
      finalPuts.last shouldBe "exports/batch.csv/_SUCCESS"
      // the data object's first visibility at its FINAL key must come
      // from the commit rename, i.e. strictly after its attempt PUT
      val attemptIdx = puts.indexWhere(k => k.contains("_temporary") &&
        k.endsWith(".csv"))
      val finalIdx = puts.indexWhere(k => !k.contains("_temporary") &&
        k.endsWith(".csv"))
      attemptIdx should be >= 0
      finalIdx should be > attemptIdx
    }
  }
}
