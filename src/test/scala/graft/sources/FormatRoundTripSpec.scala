package graft.sources

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.{GraftTestBase, Tables}

/** Source-format coverage beyond parquet/CSV: the engine reads and
  * writes ORC and JSON-lines with content-identical results. The oracle
  * can't read these formats, so the gate is a content checksum against
  * the parquet original (order-insensitive sum of per-row crc32 over
  * the canonical text rendering). */
class FormatRoundTripSpec extends GraftTestBase {

  private def checksum(df: DataFrame): (Long, Long) = {
    val cols = df.columns.sorted.map(c => col(c).cast("string"))
    val r = df.select(
      count(lit(1)).as("n"),
      sum(crc32(concat_ws("|", cols: _*))).as("h")).head()
    (r.getAs[Long]("n"), r.getAs[Long]("h"))
  }

  behavior of "ORC and JSON-lines round-trips"

  it should "preserve the documents table bit-for-bit through ORC" in {
    val docs = Tables.documents(spark, sf)
    val dir = tempDir("fmt_orc")
    docs.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    back.schema.fields.map(f => (f.name, f.dataType)).toSeq shouldBe
      docs.schema.fields.map(f => (f.name, f.dataType)).toSeq
    checksum(back) shouldBe checksum(docs)
  }

  it should "preserve the orders table through JSON-lines with an explicit schema" in {
    // JSON has no date/decimal types — the read schema restores them,
    // which is the production contract for JSON landing zones
    val orders = Tables.orders(spark, sf)
    val dir = tempDir("fmt_json")
    orders.write.mode("overwrite").json(dir)
    val back = spark.read.schema(orders.schema).json(dir)
    checksum(back) shouldBe checksum(orders)
  }

  it should "predicate-pushdown into the ORC scan like parquet" in {
    val docs = Tables.documents(spark, sf)
    val dir = tempDir("fmt_orc_pd")
    docs.write.mode("overwrite").orc(dir)
    val plan = spark.read.orc(dir).filter(col("doc_id") < 10)
      .queryExecution.executedPlan.toString
    plan should include("PushedFilters")
    plan should include("LessThan(doc_id,10)")
  }
}
