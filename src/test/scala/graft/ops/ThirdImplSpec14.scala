package graft.ops

import graft.GraftTestBase
import graft.text.TextAnalysis
import graft.Scratch.{docs, md5hex, rd, toks}

/** THIRD-IMPLEMENTATION battery, batch 14: the split / census / bigram-LM
  * family — operators that until now were graded ONLY by the driver's
  * DuckDB oracle (no dedicated spec at all): the hash train/val/test
  * split, the corpus bigram census, the OOV-rate audit, the language
  * confusion matrix, and the two bigram LM scorers (stupid backoff and
  * interpolated Kneser–Ney). Each is recomputed from raw text with plain
  * Scala maps and loops — own md5 arithmetic, own count relations.
  */
class ThirdImplSpec14 extends GraftTestBase {

  private def bigrams(ws: Array[String]): Vector[(String, String)] =
    (1 until ws.length).map(i => (ws(i - 1), ws(i))).toVector

  /** Per-doc bigram tf relation: (doc_id, w1, w2) -> count. */
  private lazy val docBigramTf: Map[(Long, String, String), Long] =
    docs.flatMap { case (id, text, _, _) =>
      bigrams(toks(text)).map(b => (id, b._1, b._2))
    }.groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }

  behavior of "TextAnalysis.trainSplit (q_train_split) vs scratch hash buckets"

  it should "match every doc's bucket and split label" in {
    val expected = docs.map { case (id, _, lang, _) =>
      val bucket = Integer.parseInt(md5hex(id.toString).take(2), 16)
      val split = if (bucket < 204) "train" else if (bucket < 230) "val"
        else "test"
      (id, lang, bucket, split)
    }
    val got = TextAnalysis.trainSplit(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[Int]("hash_bucket"), r.getAs[String]("split")))
      .toVector.sortBy(_._1)
    got shouldBe expected
  }

  behavior of "TextAnalysis.topBigrams (q_top_bigrams) vs a scratch census"

  it should "match the deterministic top-50 bigram counts" in {
    val expected = docs.flatMap(d => bigrams(toks(d._2)))
      .map(b => s"${b._1} ${b._2}")
      .groupBy(identity).toVector
      .map { case (g, xs) => (g, xs.size.toLong) }
      .sortBy { case (g, n) => (-n, g) }.take(50)
    val got = TextAnalysis.topBigrams(spark, sf).collect()
      .map(r => (r.getAs[String]("bigram"), r.getAs[Long]("n"))).toVector
    got shouldBe expected
  }

  behavior of "TextAnalysis.oovRate (q_oov) vs a scratch vocabulary cut"

  it should "match per-source token and OOV counts against the top-10 vocab" in {
    val srcCounts = docs.flatMap { case (_, text, _, src) =>
      toks(text).map(t => (src, t))
    }.groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }
    val vocab = srcCounts.toVector.groupBy(_._1._2)
      .map { case (t, xs) => (t, xs.map(_._2).sum) }.toVector
      .sortBy { case (t, c) => (-c, t) }
      .take(TextAnalysis.oovVocabSize).map(_._1).toSet
    val expected = srcCounts.toVector.groupBy(_._1._1).toVector
      .map { case (src, xs) =>
        val n = xs.map(_._2).sum
        val oov = xs.collect { case ((_, t), c) if !vocab(t) => c }.sum
        (src, n, oov, oov.toDouble / n)
      }.sortBy(_._1)
    val got = TextAnalysis.oovRate(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("n_oov"), r.getAs[Double]("oov_rate")))
      .toVector.sortBy(_._1)
    got shouldBe expected
  }

  behavior of "TextAnalysis.langConfusion (q_lang_confusion) vs a scratch matrix"

  it should "match every confusion cell and its row share" in {
    val stop = TextAnalysis.stopwords.toSet
    val cells = docs.map { case (_, text, lang, _) =>
      val hits = toks(text).count(stop)
      val pred = if (hits >= 2) "en" else if (hits == 1) "maybe_en"
        else "unknown"
      (lang, pred)
    }.groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }
    val rowTotals = cells.toVector.groupBy(_._1._1)
      .map { case (l, xs) => l -> xs.map(_._2).sum }
    val expected = cells.toVector.map { case ((l, p), n) =>
      (l, p, n, rd(n.toDouble / rowTotals(l).toDouble, 6))
    }.sortBy(x => (x._1, x._2))
    val got = TextAnalysis.langConfusion(spark, sf).collect()
      .map(r => (r.getAs[String]("labeled_lang"),
        r.getAs[String]("predicted_lang"), r.getAs[Long]("n_docs"),
        r.getAs[Double]("row_share"))).toVector
    got shouldBe expected
  }

  behavior of "TextAnalysis.bigramLmScore (q_lm_bigram) vs scratch stupid backoff"

  it should "match bigram counts, backoff counts, and cross-entropy per doc" in {
    val c2 = docBigramTf.toVector.groupBy(k => (k._1._2, k._1._3))
      .map { case (k, xs) => k -> xs.map(_._2).sum }
    val c1 = c2.toVector.groupBy(_._1._1)
      .map { case (w1, xs) => w1 -> xs.map(_._2).sum }
    val cu = c2.toVector.groupBy(_._1._2)
      .map { case (w2, xs) => w2 -> xs.map(_._2).sum }
    val nn = c2.values.sum
    val expected = docBigramTf.toVector.groupBy(_._1._1).toVector
      .map { case (id, xs) =>
        val n = xs.map(_._2).sum
        val backoff = xs.collect {
          case (((_, w1, w2)), tf) if c2((w1, w2)) < TextAnalysis.lm2MinCount => tf
        }.sum
        val sln = xs.map { case ((_, w1, w2), tf) =>
          val p =
            if (c2((w1, w2)) >= TextAnalysis.lm2MinCount)
              c2((w1, w2)).toDouble / c1(w1).toDouble
            else TextAnalysis.lm2Backoff * (cu(w2).toDouble / nn.toDouble)
          tf.toDouble * math.log(p)
        }.sum
        (id, n, backoff, rd(-sln / n.toDouble, 4))
      }.sortBy(_._1)
    val got = TextAnalysis.bigramLmScore(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bigrams"),
        r.getAs[Long]("n_backoff"), r.getAs[Double]("cross_entropy2")))
      .toVector.sortBy(_._1)
    got shouldBe expected
  }

  behavior of "TextAnalysis.knBigramScore (q_lm_kn) vs scratch Kneser-Ney"

  it should "match singleton counts and the interpolated KN cross-entropy" in {
    val d0 = TextAnalysis.knDiscount
    val c2 = docBigramTf.toVector.groupBy(k => (k._1._2, k._1._3))
      .map { case (k, xs) => k -> xs.map(_._2).sum }
    val c1 = c2.toVector.groupBy(_._1._1)
      .map { case (w1, xs) => w1 -> xs.map(_._2).sum }
    val n1p = c2.keys.toVector.groupBy(_._1)
      .map { case (w1, xs) => w1 -> xs.size.toLong }
    val pc = c2.keys.toVector.groupBy(_._2)
      .map { case (w2, xs) => w2 -> xs.size.toLong }
    val tt = c2.size.toLong
    val expected = docBigramTf.toVector.groupBy(_._1._1).toVector
      .map { case (id, xs) =>
        val n = xs.map(_._2).sum
        val singletons = xs.collect {
          case ((_, w1, w2), tf) if c2((w1, w2)) == 1L => tf
        }.sum
        val sln = xs.map { case ((_, w1, w2), tf) =>
          val p = (math.max(c2((w1, w2)).toDouble - d0, 0.0) +
            d0 * n1p(w1).toDouble * (pc(w2).toDouble / tt.toDouble)) /
            c1(w1).toDouble
          tf.toDouble * math.log(p)
        }.sum
        (id, n, singletons, rd(-sln / n.toDouble, 4))
      }.sortBy(_._1)
    val got = TextAnalysis.knBigramScore(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_bigrams"),
        r.getAs[Long]("n_singleton_bigrams"),
        r.getAs[Double]("cross_entropy_kn"))).toVector.sortBy(_._1)
    got shouldBe expected
  }
}
