package graft.functions

import org.apache.spark.sql.functions._

import graft.GraftTestBase

class WordNgramsSpec extends GraftTestBase {

  behavior of "WordNgrams (generator / UDTF)"

  it should "emit positional n-grams equal to the composed explode(transform) form" in {
    val docs = graft.Tables.documents(spark, sf).limit(100)
    val viaUdtf = docs.select(col("doc_id"),
      GraftFunctions.wordNgrams(col("text"), 2).as(Seq("pos", "ngram")))
    val w = split(col("text"), " ")
    val viaCompose = docs
      .select(col("doc_id"), w.as("w"))
      .select(col("doc_id"), posexplode(expr(
        "transform(slice(w, 1, size(w) - 1), (x, i) -> concat(x, ' ', w[i + 1]))"))
        .as(Seq("pos", "ngram")))
    viaUdtf.exceptAll(viaCompose).count() shouldBe 0
    viaCompose.exceptAll(viaUdtf).count() shouldBe 0
  }

  it should "be SQL-registered and handle edge cases" in {
    import spark.implicits._
    Seq((1L, "a b c"), (2L, "solo"), (3L, "x y"), (4L, "a  b"))
      .toDF("id", "t").createOrReplaceTempView("ngram_spec")
    val rows = spark.sql(
      "SELECT id, pos, ngram FROM ngram_spec LATERAL VIEW word_ngrams(t, 2) AS pos, ngram")
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    rows.toSet shouldBe Set(
      (1L, 0, "a b"), (1L, 1, "b c"),
      (3L, 0, "x y"),
      // split(' ') keeps empty segments as tokens — same as split(t, ' ')
      (4L, 0, "a "), (4L, 1, " b"))
    // a doc shorter than n emits nothing (id=2 absent above)
    rows.map(_._1).toSet should not contain 2L
  }
}
