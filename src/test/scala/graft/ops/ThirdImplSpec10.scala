package graft.ops

import graft.GraftTestBase
import graft.text.TextAnalysis
import graft.Scratch.{docs, md5hex, r4, toks}

/** THIRD-IMPLEMENTATION battery, batch 10: the text-analysis family.
  *
  * These per-document statistics flow through the native TokenStats
  * expression and hand-mirrored oracle SQL; existing specs pin planted
  * closed-form cases and invariants, but not a full-corpus independent
  * recomputation. Each test below re-derives the statistic for EVERY
  * document from the raw text with plain Scala string handling
  * (split(" ", -1) like the engines' tokenizer, md5 hex arithmetic for
  * the hashes, double formulas in the engines' association order).
  */
class ThirdImplSpec10 extends GraftTestBase {

  behavior of "textStats (q_text_stats) vs scratch token censuses"

  it should "match every count and the three-ratio quality score" in {
    val stop = TextAnalysis.stopwords.toSet
    val expected = docs.map { case (id, text, _, _) =>
      val ws = toks(text)
      val n = ws.length
      val nDistinct = ws.distinct.length
      val nSub = ws.map(w => (w.length + 2) / 3).sum
      val nStop = ws.count(stop)
      val nShort = ws.count(_.length < 4)
      val q = nStop.toDouble / n + nDistinct.toDouble / n +
        nShort.toDouble / n
      (id, n, nDistinct, nSub.toLong, nStop,
        text.length.toDouble / n, q)
    }
    val got = TextAnalysis.textStats(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("n_tokens"),
        r.getAs[Int]("n_distinct_tokens"),
        r.getAs[Int]("n_subwords").toLong, r.getAs[Int]("n_stopwords"),
        r.getAs[Double]("chars_per_token"),
        r.getAs[Double]("quality_score"))).toVector.sortBy(_._1)
    got shouldBe expected
  }

  behavior of "langId (q_lang_id) vs the scratch stopword threshold"

  it should "match the hit counts and every predicted label" in {
    val stop = TextAnalysis.stopwords.toSet
    val expected = docs.map { case (id, text, lang, _) =>
      val hits = toks(text).count(stop)
      val pred = if (hits >= 2) "en" else if (hits == 1) "maybe_en"
        else "unknown"
      (id, lang, hits, pred)
    }
    val got = TextAnalysis.langId(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("labeled_lang"),
        r.getAs[Int]("stopword_hits"), r.getAs[String]("predicted_lang")))
      .toVector.sortBy(_._1)
    got shouldBe expected
  }

  behavior of "fingerprint (q_fingerprint) vs the scratch rolling hash"

  it should "match the positional md5 hash and content prefix per doc" in {
    val expected = docs.map { case (id, text, _, _) =>
      val fp = toks(text).zipWithIndex.map { case (w, i) =>
        (i + 1).toLong * java.lang.Long.parseLong(md5hex(w).take(8), 16)
      }.sum % 2147483647L
      (id, fp, md5hex(text).take(16))
    }
    val got = TextAnalysis.fingerprint(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .toVector.sortBy(_._1)
    got shouldBe expected
  }

  behavior of "repetitionStats (q_repetition) vs scratch n-gram fractions"

  it should "match top-token and duplicate-3-gram fractions" in {
    val expected = docs.map { case (id, text, _, _) =>
      val ws = toks(text)
      val n = ws.length
      val maxTok = ws.groupBy(identity).values.map(_.length).max
      val sh =
        if (n < 3) Array.empty[String]
        else (0 to n - 3).map(i => s"${ws(i)} ${ws(i + 1)} ${ws(i + 2)}")
          .toArray
      val dup3 =
        if (sh.isEmpty) 0.0
        else 1.0 - sh.distinct.length.toDouble / sh.length.toDouble
      val top = r4(maxTok.toDouble / n)
      val d3 = r4(dup3)
      (id, n, top, d3, top >= 0.15 || d3 >= 0.15)
    }
    val got = TextAnalysis.repetitionStats(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("n_toks"),
        r.getAs[Double]("top_tok_frac"), r.getAs[Double]("dup_3gram_frac"),
        r.getAs[Boolean]("is_repetitive"))).toVector.sortBy(_._1)
    got shouldBe expected
  }

  behavior of "tfIdfTopTerms (q_tfidf) vs a scratch tf-idf ranking"

  it should "match per-doc top-3 terms with corpus-wide df" in {
    val tf = docs.flatMap { case (id, text, _, _) =>
      toks(text).groupBy(identity).map { case (t, xs) =>
        (id, t, xs.length.toLong)
      }
    }
    val df = tf.groupBy(_._2).map { case (t, xs) => t -> xs.size.toLong }
    val nDocs = docs.size.toDouble
    val expected = tf.groupBy(_._1).toVector.flatMap { case (id, rows) =>
      rows.map { case (_, t, f) =>
        (id, t, f, df(t), r4(f * math.log(nDocs / df(t))))
      }.sortBy { case (_, t, _, _, s) => (-s, t) }
        .take(3).zipWithIndex
        .map { case ((i2, t, f, d2, s), rn) => (i2, t, f, d2, s, rn + 1) }
    }.sortBy(t => (t._1, t._6))
    val got = TextAnalysis.tfIdfTopTerms(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getInt(5))).toVector.sortBy(t => (t._1, t._6))
    got shouldBe expected
  }

  behavior of "tokenEntropy (q_token_entropy) vs scratch source entropy"

  it should "match per-source token counts and Shannon entropy" in {
    val expected = docs.groupBy(_._4).toVector.map { case (src, ds) =>
      val counts = ds.flatMap(d => toks(d._2)).groupBy(identity)
        .map { case (_, xs) => xs.length.toLong }.toVector
      val n = counts.sum
      val s = counts.map(c => c.toDouble * math.log(c.toDouble)).sum
      (src, n, counts.size.toLong,
        r4(-s / n.toDouble + math.log(n.toDouble)))
    }.sortBy(_._1)
    val got = TextAnalysis.tokenEntropy(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_distinct"), r.getAs[Double]("entropy")))
      .toVector.sortBy(_._1)
    got shouldBe expected
  }

  behavior of "lmScore (q_lm_score) vs a scratch unigram cross-entropy"

  it should "match OOV counts and the vocab-floored cross entropy" in {
    val corpusCounts = docs.flatMap(d => toks(d._2))
      .groupBy(identity).map { case (t, xs) => t -> xs.length.toLong }
    val nTotal = corpusCounts.values.sum.toDouble
    val minC = TextAnalysis.lmVocabMinCount
    val expected = docs.map { case (id, text, _, _) =>
      val tfs = toks(text).groupBy(identity)
        .map { case (t, xs) => t -> xs.length.toLong }
      val nToks = tfs.values.sum
      val nOov = tfs.collect {
        case (t, f) if corpusCounts(t) < minC => f
      }.sum
      val sln = tfs.map { case (t, f) =>
        val cEff = if (corpusCounts(t) >= minC) corpusCounts(t).toDouble
          else 0.5
        f.toDouble * math.log(cEff)
      }.sum
      (id, nToks, nOov, r4(math.log(nTotal) - sln / nToks.toDouble))
    }
    val got = TextAnalysis.lmScore(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_toks"),
        r.getAs[Long]("n_oov"), r.getAs[Double]("cross_entropy")))
      .toVector.sortBy(_._1)
    got shouldBe expected
  }
}
