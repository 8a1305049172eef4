package graft.ingest

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkException
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.GraftTestBase

class JsonIngestSpec extends GraftTestBase {

  private val schema = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("score", DoubleType)))

  private def stage(lines: Seq[String]): String = {
    val dir = tempDir("jsonl")
    Files.write(Paths.get(dir, "part-0.json"), lines.asJava)
    dir
  }

  behavior of "JsonIngest"

  it should "read clean JSONL with the declared schema and absent-means-null" in {
    val dir = stage(Seq(
      """{"id": 1, "name": "a", "score": 1.5}""",
      """{"id": 2, "name": "b"}"""))
    val df = JsonIngest.readJsonLines(spark, Seq(dir), schema)
    df.count() shouldBe 2
    df.filter(col("id") === 2).head.isNullAt(2) shouldBe true
  }

  it should "quarantine undecodable lines under Permissive, fail under FailFast" in {
    val dir = stage(Seq(
      """{"id": 1, "name": "a", "score": 1.5}""",
      """{"id": broken"""))
    val df = JsonIngest.readJsonLines(spark, Seq(dir), schema, CsvIngest.Permissive)
    val rows = df.collect()
    rows should have length 2
    val bad = rows.filter(r => !r.isNullAt(r.fieldIndex(JsonIngest.corruptCol)))
    bad should have length 1
    bad.head.getString(bad.head.fieldIndex(JsonIngest.corruptCol)) should
      include("broken")
    bad.head.isNullAt(0) shouldBe true // data columns nulled on the bad row

    intercept[SparkException] {
      JsonIngest.readJsonLines(spark, Seq(dir), schema, CsvIngest.FailFast)
        .collect()
    }
  }

  it should "round-trip a DataFrame through writeJsonLines" in {
    import spark.implicits._
    val out = tempDir("jsonl-out") + "/data"
    val df = Seq((1L, "x", 2.5), (2L, "y", -1.0)).toDF("id", "name", "score")
    JsonIngest.writeJsonLines(df, out)
    val back = JsonIngest.readJsonLines(spark, Seq(out), schema)
    back.orderBy("id").collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2))) shouldBe
      Array((1L, "x", 2.5), (2L, "y", -1.0))
  }
}
