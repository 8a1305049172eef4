package graft

import org.apache.spark.sql.functions._

class SqlSurfaceSpec extends GraftTestBase {

  behavior of "GraftSession.builder"

  it should "tolerate a non-numeric shuffle-partitions string (ADVICE r14)" in {
    // Must not throw NumberFormatException at builder time.
    noException should be thrownBy GraftSession.builder("local[1]", "auto")
    noException should be thrownBy GraftSession.builder("local[1]", "32")
  }

  behavior of "SqlSurface"

  it should "answer SQL text identically to the DataFrame rendering" in {
    SqlSurface.registerTables(spark, sf)
    val viaSql = SqlSurface.sql(spark,
      """SELECT l_returnflag, l_linestatus,
        |  sum(l_quantity) AS sum_qty,
        |  count(*) AS n
        |FROM lineitem
        |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus""".stripMargin)
    val viaDf = Tables.lineitem(spark, sf)
      .filter(col("l_shipdate") <= to_timestamp(lit("1998-09-02 00:00:00")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum("l_quantity").as("sum_qty"), count("*").as("n"))
    viaSql.exceptAll(viaDf).count() shouldBe 0
    viaDf.exceptAll(viaSql).count() shouldBe 0
    viaDf.count() should be > 0L
  }

  it should "expose graft native functions to SQL text" in {
    SqlSurface.registerTables(spark, sf)
    graft.functions.GraftFunctions.register(spark)
    // native expression through SQL: self-pairs hit the SelfCosineRule
    // rewrite, cross pairs the codegen'd cosine loop
    val r = SqlSurface.sql(spark,
      """SELECT a.vec_id, round(cosine_sim(a.embedding, b.embedding), 4) AS c
        |FROM embeddings a JOIN embeddings b ON a.vec_id = b.vec_id""".stripMargin)
      .collect()
    r.length should be > 0
    r.foreach(_.getDouble(1) shouldBe 1.0)
    // UDTF through SQL
    val ng = SqlSurface.sql(spark,
      "SELECT word_ngrams(text, 2) AS (pos, ngram) FROM documents LIMIT 5")
    ng.count() should be > 0L
  }

  it should "normalize events.ts in the view exactly like the DataFrame path" in {
    SqlSurface.registerTables(spark, sf)
    val viaSql = SqlSurface.sql(spark, "SELECT event_id, ts FROM events")
    viaSql.exceptAll(Tables.events(spark, sf).select("event_id", "ts"))
      .count() shouldBe 0
    viaSql.schema("ts").dataType.typeName shouldBe "timestamp"
  }
}
