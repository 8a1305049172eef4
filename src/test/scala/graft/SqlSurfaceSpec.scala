package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

class SqlSurfaceSpec extends GraftTestBase {

  behavior of "GraftSession.builder"

  it should "tolerate a non-numeric shuffle-partitions string (ADVICE r14)" in {
    // Must not throw NumberFormatException at builder time.
    noException should be thrownBy GraftSession.builder("local[1]", "auto")
    noException should be thrownBy GraftSession.builder("local[1]", "32")
  }

  it should "size the generated-class cache to the catalog" in {
    spark.conf.get("spark.sql.codegen.cache.maxEntries") shouldBe
      GraftSession.codegenCacheEntries.toString
  }

  it should "compile nothing once the catalog_heavy panel is warm" in {
    // the benchmark's panel: graph adjacency, dedup and TPC-H memo chains
    val panel = java.nio.file.Files.readString(
        java.nio.file.Paths.get("perfbench/panels/catalog_heavy.tsv"))
      .linesIterator.filterNot(_.startsWith("#")).map(_.split("\t")(0)).toList
    panel should have size 7
    def compiled = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    def pass(): Long = {
      val before = compiled
      Memo.clearAll(spark)
      panel.foreach(q => SparkEntry.queries(q)(spark, sf).count())
      compiled - before
    }
    // With Spark's default 100-entry cache every pass recompiled the
    // panel's ~190 classes. A query can still plan differently on a
    // repeat (in one full test run q_pagerank compiled 6 new classes on
    // its second pass and none later), so a repeat may compile a few
    // variants before every class the panel uses is cached.
    val counts = scala.collection.mutable.ArrayBuffer(pass(), pass())
    while (counts.last > 0 && counts.size < 4) counts += pass()
    withClue(s"compiles per pass ${counts.mkString(", ")}: ") { counts.last shouldBe 0L }
  }

  behavior of "SqlSurface"

  it should "answer SQL text identically to the DataFrame rendering" in {
    SqlSurface.registerTables(spark, sf)
    val viaSql = spark.sql(
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
    val r = spark.sql(
      """SELECT a.vec_id, round(cosine_sim(a.embedding, b.embedding), 4) AS c
        |FROM embeddings a JOIN embeddings b ON a.vec_id = b.vec_id""".stripMargin)
      .collect()
    r.length should be > 0
    r.foreach(_.getDouble(1) shouldBe 1.0)
    // UDTF through SQL
    val ng = spark.sql(
      "SELECT word_ngrams(text, 2) AS (pos, ngram) FROM documents LIMIT 5")
    ng.count() should be > 0L
  }

  it should "normalize events.ts in the view exactly like the DataFrame path" in {
    SqlSurface.registerTables(spark, sf)
    val viaSql = spark.sql("SELECT event_id, ts FROM events")
    viaSql.exceptAll(Tables.events(spark, sf).select("event_id", "ts"))
      .count() shouldBe 0
    viaSql.schema("ts").dataType.typeName shouldBe "timestamp"
  }
}
