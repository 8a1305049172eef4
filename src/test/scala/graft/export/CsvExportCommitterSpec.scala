package graft.export

import java.nio.file.{Files, Path, Paths}
import java.time.LocalDate

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._

import graft.GraftTestBase

/** Committer contract for the export path — the object-store semantics
  * the reference relies on (`postgres_to_s3_operator.py:58-63`,
  * `replace=True`): re-running an export REPLACES the destination
  * in full (last-writer-wins, no stale parts from a previous layout),
  * and a failed write never leaves partial committed objects a reader
  * would pick up. The harness has no object store, so this pins the
  * contract on the local-FS rendering of the same committer protocol
  * (FileOutputCommitter: task attempts under `_temporary`, rename on
  * job commit, `_SUCCESS` marker only after full commit) — the exact
  * mechanism an S3A committer reproduces with multipart uploads
  * (VERDICT r7 task 5). */
class CsvExportCommitterSpec extends GraftTestBase {

  private def committedParts(dir: String): Seq[Path] =
    Files.walk(Paths.get(dir)).iterator().asScala
      .filter(p => Files.isRegularFile(p) &&
        p.getFileName.toString.endsWith(".csv") &&
        !p.toString.contains("_temporary"))
      .toSeq

  behavior of "CsvExport committer contract"

  it should "replace in full on rerun, even when the new layout has fewer parts" in {
    val out = tempDir("exp-lww") + "/data.csv"
    import spark.implicits._
    // write 1: multi-part layout (4 shuffle partitions → up to 4 parts)
    val first = (1 to 100).map(i => (i, "old")).toDF("id", "tag")
      .repartition(4)
    first.write.options(CsvExport.writerOptions).csv(out)
    committedParts(out).size should be > 1
    // write 2: SMALLER single-object layout over the same path — the
    // classic overwrite hazard is write 1's extra parts surviving
    val second = Seq((1, "new")).toDF("id", "tag")
    CsvExport.writeCsv(second, out)
    val parts = committedParts(out)
    parts.size shouldBe 1
    val lines = Files.readAllLines(parts.head).asScala
    lines shouldBe Seq("id,tag", "1,new")
    // job fully committed → success marker present
    Files.exists(Paths.get(out, "_SUCCESS")) shouldBe true
  }

  it should "leave no committed parts when the write fails mid-job" in {
    val out = tempDir("exp-fail") + "/data.csv"
    // ANSI mode: the division blows up on a late row, after some tasks
    // have already written attempt files
    val poisoned = spark.range(0, 100, 1, 4)
      .select(col("id"), expr("1 div (id - 97)").as("boom"))
    an[Exception] should be thrownBy {
      CsvExport.writeCsv(poisoned, out)
    }
    // failed job: nothing committed, no _SUCCESS — a reader listing the
    // destination sees no torn output (attempt files stay quarantined
    // under _temporary until job commit)
    committedParts(out) shouldBe empty
    Files.exists(Paths.get(out, "_SUCCESS")) shouldBe false
  }

  it should "expose last-writer-wins through exportBatch end to end" in {
    val table = tempDir("exp-tbl") + "/tbl"
    val out = tempDir("exp-out") + "/batch.csv"
    import spark.implicits._
    val d = java.sql.Date.valueOf("2025-03-01")
    Seq((1, "v1", d)).toDF("id", "v", "load_date")
      .write.mode("overwrite").parquet(table)
    CsvExport.exportBatch(spark, table, LocalDate.parse("2025-03-01"), out,
      columns = Seq("id", "v")) shouldBe 1L
    // upstream batch changes; the re-export must fully supersede
    Seq((1, "v2", d), (2, "v2", d)).toDF("id", "v", "load_date")
      .write.mode("overwrite").parquet(table)
    CsvExport.exportBatch(spark, table, LocalDate.parse("2025-03-01"), out,
      columns = Seq("id", "v")) shouldBe 2L
    val lines = committedParts(out)
      .flatMap(p => Files.readAllLines(p).asScala).sorted
    lines shouldBe Seq("1,v2", "2,v2", "id,v")
  }
}
