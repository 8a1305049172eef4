package graft.ingest

import java.sql.Timestamp

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.GraftTestBase

class FormatsSpec extends GraftTestBase {

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("price", DecimalType(10, 2)),
    StructField("seen_at", TimestampType),
    StructField("score", DoubleType)))

  // nulls in every column type + a comma/quote-bearing string — the
  // cells that break text formats first
  private val rows = Seq(
    Row(1L, "plain", BigDecimal("12.50").bigDecimal,
      Timestamp.valueOf("2024-03-01 10:15:30"), 0.5),
    Row(2L, "has,comma \"quoted\"", null, null, null),
    Row(3L, null, BigDecimal("-0.99").bigDecimal,
      Timestamp.valueOf("2024-03-02 00:00:00"), -1.25))

  behavior of "Formats"

  it should "round-trip schema and data through every supported format" in {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val root = tempDir("graft-formats-spec")
    Formats.supported.foreach { fmt =>
      val dir = s"$root/$fmt"
      Formats.write(df, dir, fmt)
      val back = Formats.read(spark, dir, fmt, Some(schema))
      withClue(s"format=$fmt: ") {
        back.schema shouldBe schema
        back.collect().toSet shouldBe df.collect().toSet
      }
    }
  }

  it should "refuse schemaless reads of text formats" in {
    an[IllegalArgumentException] should be thrownBy
      Formats.read(spark, "/tmp/nowhere", "csv")
    an[IllegalArgumentException] should be thrownBy
      Formats.read(spark, "/tmp/nowhere", "json")
  }

  behavior of "readEvolved"

  it should "present one stable schema over files written by different schema versions" in {
    import org.apache.spark.sql.types._
    import spark.implicits._
    val dir = tempDir("graft-formats-evolve") + "/table"
    // v1 writer: two columns
    Seq((1L, "a"), (2L, "b")).toDF("id", "name")
      .write.parquet(dir)
    // v2 writer: adds a score column, appended into the same table dir
    Seq((3L, "c", 9.5)).toDF("id", "name", "score")
      .write.mode("append").parquet(dir)
    val target = StructType(Seq(
      StructField("id", LongType), StructField("name", StringType),
      StructField("score", DoubleType),
      StructField("source", StringType))) // column no file has yet
    val out = Formats.readEvolved(spark, dir, target,
      defaults = Map("score" -> -1.0, "source" -> "legacy"))
    out.schema.fieldNames.toSeq shouldBe Seq("id", "name", "score", "source")
    val byId = out.collect().map(r => r.getLong(0) -> r).toMap
    // score exists in SOME files: pre-evolution rows read as null
    // (Delta contract — a real null must stay null), new rows keep data
    byId(1L).isNullAt(2) shouldBe true
    byId(3L).getDouble(2) shouldBe 9.5
    // source exists in NO file: the declared default fills every row
    all(byId.values.map(_.getString(3))) shouldBe "legacy"
    // reverse evolution: a narrower target drops the extra column
    val narrow = Formats.readEvolved(spark, dir,
      StructType(Seq(StructField("id", LongType))))
    narrow.schema.fieldNames.toSeq shouldBe Seq("id")
    narrow.count() shouldBe 3
  }
}
