package graft.text

import org.apache.spark.sql.functions._

import graft.GraftTestBase

class TextAnalysisSpec extends GraftTestBase {

  behavior of "textStats"

  it should "satisfy counting invariants on every document" in {
    val bad = TextAnalysis.textStats(spark, sf)
      .filter(
        col("n_distinct_tokens") > col("n_tokens") ||
        col("n_stopwords") > col("n_tokens") ||
        col("n_subwords") < col("n_tokens") || // every token has >= 1 subword
        col("quality_score") < 0 || col("quality_score") > 3 ||
        col("chars_per_token") <= 0)
    bad.count() shouldBe 0
  }

  it should "compute exact values on a known sentence" in {
    import spark.implicits._
    val row = Seq("the cat sat on the mat")
      .toDF("text").withColumn("doc_id", lit(1L))
      .select(col("doc_id"),
        TextAnalysis.tokens(col("text")).as("toks"),
        TextAnalysis.subwordCount(col("text")).as("n_subwords"))
      .head()
    row.getSeq[String](1) shouldBe Seq("the", "cat", "sat", "on", "the", "mat")
    row.getLong(2) shouldBe 6 // all words <= 3 chars -> 1 subword each
  }

  behavior of "langId"

  it should "classify using the stopword threshold exactly" in {
    val out = TextAnalysis.langId(spark, sf)
    out.filter(col("stopword_hits") >= 2 && col("predicted_lang") =!= "en")
      .count() shouldBe 0
    out.filter(col("stopword_hits") === 0 && col("predicted_lang") =!= "unknown")
      .count() shouldBe 0
  }

  behavior of "fingerprint"

  it should "be deterministic and order-sensitive" in {
    import spark.implicits._
    val fps = Seq("alpha beta gamma", "gamma beta alpha", "alpha beta gamma")
      .toDF("text")
      .select(col("text"), TextAnalysis.fingerprintExpr(col("text")).as("fp"))
      .collect().map(_.getLong(1))
    fps(0) shouldBe fps(2) // deterministic
    fps(0) should not be fps(1) // anagram docs differ (positional hash)
  }

  it should "fingerprint every doc into the modulus range" in {
    val out = TextAnalysis.fingerprint(spark, sf).collect()
    all(out.map(_.getLong(1))) should (be >= 0L and be < 2147483647L)
    out.map(_.getLong(1)).distinct.length should be > out.length / 2
  }

  behavior of "tfIdfTopTerms"

  it should "rank at most 3 terms per doc by descending score with corpus-consistent df" in {
    val rows = TextAnalysis.tfIdfTopTerms(spark, sf).collect()
    val nDocs = graft.Tables.documents(spark, sf).count()
    rows.groupBy(_.getLong(0)).values.foreach { terms =>
      terms.length should be <= 3
      val byRank = terms.toArray.sortBy(_.getInt(5))
      byRank.map(_.getInt(5)).toSeq shouldBe (1 to byRank.length)
      byRank.map(_.getDouble(4)).sliding(2).foreach {
        case Array(hi, lo) => hi should be >= lo
        case _ =>
      }
    }
    // df is a corpus-level property: identical for every appearance of a term
    rows.groupBy(_.getString(1)).values.foreach { rs =>
      rs.map(_.getLong(3)).distinct.length shouldBe 1
    }
    // df bounded by corpus size; a corpus-universal term scores exactly 0
    rows.foreach { r =>
      r.getLong(3) should be <= nDocs
      if (r.getLong(3) == nDocs) r.getDouble(4) shouldBe 0.0
    }
  }

  behavior of "repetitionStats"

  it should "bound both fractions in [0,1] and flag a synthetic degenerate doc" in {
    val out = TextAnalysis.repetitionStats(spark, sf).collect()
    out.length shouldBe graft.Tables.documents(spark, sf).count()
    out.foreach { r =>
      r.getAs[Double]("top_tok_frac") should (be >= 0.0 and be <= 1.0)
      r.getAs[Double]("dup_3gram_frac") should (be >= 0.0 and be <= 1.0)
      // a doc's most common token takes at least 1/n of it (4-decimal rounding)
      r.getAs[Double]("top_tok_frac") should be >= 1.0 / r.getAs[Int]("n_toks") - 5e-5
    }
    // plant one degenerate doc: "spam spam spam ..." must trip both filters
    import spark.implicits._
    val planted = Seq((-1L, Seq.fill(50)("spam").mkString(" "), "en", "src0", 200L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = tempDir("graft-repetition-spec")
    graft.Tables.documents(spark, sf).unionByName(planted)
      .write.parquet(s"$dir/documents.parquet")
    val r = TextAnalysis.repetitionStats(spark, dir)
      .filter($"doc_id" === -1L).head()
    r.getAs[Double]("top_tok_frac") shouldBe 1.0
    // output rounds to 4 decimals
    r.getAs[Double]("dup_3gram_frac") shouldBe (1.0 - 1.0 / 48) +- 1e-4
    r.getAs[Boolean]("is_repetitive") shouldBe true
  }

  behavior of "qualityFilter"

  it should "assign the first failing rule in cascade order, covering every doc" in {
    val out = TextAnalysis.qualityFilter(spark, sf).cache()
    out.count() shouldBe graft.Tables.documents(spark, sf).count()
    // reason is a pure function of the three stats, in declared order
    val bad = out.filter(col("reason") =!=
      when(col("n_tok") < TextAnalysis.qfMinTokens, "too_short")
        .when(col("n_tok") > TextAnalysis.qfMaxTokens, "too_long")
        .when(col("max_tf") * 4 > col("n_tok"), "repetitive")
        .when(col("n_distinct") * 10 < col("n_tok") * 3, "low_diversity")
        .otherwise("keep"))
    bad.count() shouldBe 0
    out.filter(col("keep") =!= (col("reason") === "keep")).count() shouldBe 0
    // stats invariants
    out.filter(col("max_tf") > col("n_tok") ||
      col("n_distinct") > col("n_tok") || col("max_tf") < 1).count() shouldBe 0
  }

  it should "drop a planted degenerate doc as repetitive, keep a normal one" in {
    import spark.implicits._
    val planted = Seq(
      (-1L, Seq.fill(50)("spam").mkString(" ")),
      (-2L, (1 to 40).map(i => s"tok$i").mkString(" ")))
      .toDF("doc_id", "text")
    val stats = planted
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
      .groupBy("doc_id").agg(sum("tf").as("n_tok"),
        count(lit(1)).as("n_distinct"), max("tf").as("max_tf"))
      .select(col("doc_id"),
        when(col("n_tok") < TextAnalysis.qfMinTokens, "too_short")
          .when(col("n_tok") > TextAnalysis.qfMaxTokens, "too_long")
          .when(col("max_tf") * 4 > col("n_tok"), "repetitive")
          .when(col("n_distinct") * 10 < col("n_tok") * 3, "low_diversity")
          .otherwise("keep").as("reason"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    stats(-1L) shouldBe "repetitive"
    stats(-2L) shouldBe "keep"
  }

  behavior of "lmScore"

  it should "score in-vocab running text low and OOV gibberish high, exactly" in {
    import spark.implicits._
    // corpus: "common" occurs 30x (in vocab); r1..r10 occur once (OOV).
    // N = 40. doc 1: xent = ln 40 - ln 30; doc 2: all OOV, c_eff = 0.5
    // -> xent = ln 40 + ln 2. Closed-form checkable.
    val planted = Seq(
      (1L, Seq.fill(10)("common").mkString(" ")),
      (2L, (1 to 10).map(i => s"r$i").mkString(" ")),
      (3L, Seq.fill(20)("common").mkString(" ")))
      .toDF("doc_id", "text")
    val dir = tempDir("graft-lm-score-spec")
    planted.write.parquet(s"$dir/documents.parquet")
    val out = TextAnalysis.lmScore(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r).toMap
    out(1L).getAs[Long]("n_oov") shouldBe 0L
    out(2L).getAs[Long]("n_oov") shouldBe 10L
    out(1L).getAs[Double]("cross_entropy") shouldBe
      (math.log(40) - math.log(30)) +- 1e-4
    out(2L).getAs[Double]("cross_entropy") shouldBe
      (math.log(40) + math.log(2)) +- 1e-4
    out(3L).getAs[Double]("cross_entropy") shouldBe
      out(1L).getAs[Double]("cross_entropy") +- 1e-9
  }

  it should "bound scores by the rarest-token extremes over the real corpus" in {
    val out = TextAnalysis.lmScore(spark, sf).collect()
    out.length shouldBe graft.Tables.documents(spark, sf).count().toInt
    // -ln p is maximized by the OOV floor (c_eff = 0.5) and positive for
    // any token rarer than the whole corpus
    out.foreach { r =>
      r.getAs[Long]("n_oov") should be <= r.getAs[Long]("n_toks")
      r.getAs[Double]("cross_entropy") should be > 0.0
    }
  }

  behavior of "bpePairCensus"

  it should "equal the unweighted census over raw (non-deduped) tokens" in {
    // the vocabulary-weighted computation must be indistinguishable from
    // counting pairs straight off the corpus — the weighting is a pure
    // cost optimization, not a semantic change
    val raw = graft.Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("tok"))
      .filter(org.apache.spark.sql.functions.length(col("tok")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(tok) - 1), i -> substring(tok, i, 2))"))
        .as("pair"))
      .groupBy("pair").agg(count(lit(1)).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("pair")).limit(20)
    val got = TextAnalysis.bpePairCensus(spark, sf).collect().toSeq
    raw.collect().toSeq shouldBe got
  }

  behavior of "phraseSearch"

  it should "conserve total matches against the bigram census" in {
    // every corpus occurrence of the top bigram is found exactly once by
    // the index intersection: Σ per-doc n_matches == the bigram's count
    val results = TextAnalysis.phraseSearch(spark, sf)
    val totalMatches = results.agg(sum("n_matches")).collect()(0).getLong(0)
    val phrase = results.select("phrase").distinct().collect()
    phrase.length shouldBe 1
    val census = graft.Tables.documents(spark, sf)
      .select(split(col("text"), " ").as("w"))
      .filter(org.apache.spark.sql.functions.size(col("w")) >= 2)
      .select(explode(expr(
        """transform(sequence(1, size(w) - 1), i ->
          |  concat(element_at(w, i), ' ', element_at(w, i + 1)))""".stripMargin))
        .as("bigram"))
      .filter(col("bigram") === phrase.head.getString(0))
      .count()
    totalMatches shouldBe census
  }

  behavior of "textNormalize"

  it should "fold, squeeze, skeletonize, and really compose the NFD suffix" in {
    val rows = TextAnalysis.textNormalize(spark, sf).collect()
    rows.length shouldBe graft.Tables.documents(spark, sf).count().toInt
    rows.foreach { r =>
      // NFC composes exactly the planted combining pair: one char shorter
      r.getAs[Int]("len_nfc") shouldBe r.getAs[Int]("len_nfd") - 1
      r.getAs[Boolean]("composed_ok") shouldBe true
      val folded = r.getAs[String]("folded")
      folded shouldBe folded.toLowerCase
      r.getAs[String]("skeleton").forall(c =>
        c.isLower || c.isDigit || c == ' ') shouldBe true
      r.getAs[String]("squeezed") should not include "  "
    }
  }

  behavior of "collocations"

  it should "match a driver-side Dunning G2 over the bigram census" in {
    val bigrams = graft.Tables.documents(spark, sf)
      .select(col("text")).collect().iterator
      .flatMap(r => r.getString(0).split(" ", -1).sliding(2)
        .filter(_.length == 2).map(a => (a(0), a(1))))
      .toSeq
    val k = bigrams.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val c1 = bigrams.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val c2 = bigrams.groupBy(_._2).view.mapValues(_.size.toLong).toMap
    val nn = bigrams.size.toLong
    def term(kk: Long, rs: Long, cs: Long): Double =
      if (kk > 0) kk.toDouble * math.log(kk.toDouble * nn / (rs.toDouble * cs)) else 0.0
    def g2(w1: String, w2: String): Double = {
      val kk = k((w1, w2)); val r = c1(w1); val c = c2(w2)
      2.0 * (term(kk, r, c) + term(r - kk, r, nn - c) +
        term(c - kk, nn - r, c) + term(nn - r - c + kk, nn - r, nn - c))
    }
    val out = TextAnalysis.collocations(spark, sf).collect()
    out.length should be <= 20
    out.foreach { r =>
      val (w1, w2) = (r.getString(0), r.getString(1))
      r.getAs[Long]("k") shouldBe k((w1, w2))
      r.getAs[Long]("c1") shouldBe c1(w1)
      r.getAs[Long]("c2") shouldBe c2(w2)
      r.getAs[Double]("g2") shouldBe g2(w1, w2) +- 1e-3
    }
    // the returned list is the global top-20: every candidate bigram with
    // k >= 5 not in it must score no higher than the minimum returned
    val returned = out.map(r => (r.getString(0), r.getString(1))).toSet
    val minG2 = out.map(_.getAs[Double]("g2")).min
    k.filter(_._2 >= 5).keys.filterNot(returned).foreach { case (w1, w2) =>
      math.rint(g2(w1, w2) * 1e4) / 1e4 should be <= minG2
    }
  }

  behavior of "lexiconAudit"

  it should "match a driver-side blocklist scan per language" in {
    val docs = graft.Tables.documents(spark, sf)
      .select(col("lang"), col("text")).collect()
      .map(r => (r.getString(0),
        r.getString(1).split(" ", -1).count(TextAnalysis.policyLexicon.contains)))
      .groupBy(_._1)
    val out = TextAnalysis.lexiconAudit(spark, sf).collect()
    out.length shouldBe docs.size
    out.foreach { r =>
      val xs = docs(r.getString(0)).map(_._2)
      r.getAs[Long]("n_docs") shouldBe xs.size.toLong
      r.getAs[Long]("n_flagged") shouldBe xs.count(_ > 0).toLong
      r.getAs[Long]("total_hits") shouldBe xs.sum.toLong
      r.getAs[Double]("flag_rate") shouldBe
        (xs.count(_ > 0).toDouble / xs.size) +- 1e-6
    }
  }
}
