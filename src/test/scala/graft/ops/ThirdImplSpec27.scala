package graft.ops

import graft.GraftTestBase
import graft.Tables
import graft.text.TextAnalysis
import graft.Scratch.{rd, toks}

/** THIRD-IMPLEMENTATION battery, batch 27: corpus-comparison text
  * statistics.
  *
  * Dunning's G² collocations, pairwise Jensen–Shannon between sources,
  * Burrows' Delta stylometry, Flesch readability, the exact-integer
  * TextRank fixed point, the n-gram novelty curve and tokenizer
  * fertility — all single-formula chains the two engines transcribe
  * from one source. Scratch recomputations below rebuild every census
  * from raw document rows (own tokenization, own regexes, own bigram /
  * window extraction) and replay the fixed points as explicit integer
  * maps. Where the engines accumulate doubles in shuffle order (the
  * JSD and Burrows pair sums), comparison is at the queries' own 4-dp
  * contract rather than bit-exact.
  */
class ThirdImplSpec27 extends GraftTestBase {

  private lazy val docs: Seq[(Long, String, String, String, Long)] =
    Tables.documents(spark, sf)
      .select("doc_id", "text", "source", "lang", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getAs[Number](4).longValue)).toSeq

  // ------------------------------------------------------- collocations

  behavior of "TextAnalysis.collocations (q_collocations) vs scratch G2"

  it should "match the top-20 log-likelihood collocations" in {
    val bigrams = docs.flatMap { d =>
      val w = toks(d._2)
      (0 until w.length - 1).map(i => (w(i), w(i + 1)))
    }
    val counts = bigrams.groupBy(identity).view.mapValues(_.length.toLong)
      .toMap
    val c1 = counts.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val c2 = counts.groupBy(_._1._2).view.mapValues(_.values.sum).toMap
    val nn = counts.values.sum
    def term(k: Long, rs: Long, cs: Long): Double =
      if (k > 0) k.toDouble *
        math.log(k.toDouble * nn / (rs.toDouble * cs.toDouble))
      else 0.0
    val expected = counts.toSeq.filter(_._2 >= 5)
      .map { case ((w1, w2), k) =>
        val (r, c) = (c1(w1), c2(w2))
        val g2 = 2.0 * (term(k, r, c) + term(r - k, r, nn - c) +
          term(c - k, nn - r, c) + term(nn - r - c + k, nn - r, nn - c))
        (w1, w2, k, r, c, rd(g2, 4))
      }
      .sortBy { case (w1, w2, _, _, _, g2) => (-g2, w1, w2) }.take(20)
    val got = TextAnalysis.collocations(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5))).toSeq
    got shouldBe expected
  }

  // ---------------------------------------------------------------- jsd

  behavior of "TextAnalysis.jsdSources (q_jsd) vs scratch distributions"

  it should "match every source pair's JSD at its 4-dp contract" in {
    val census = docs.flatMap(d => toks(d._2).map(t => (d._3, t)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val totals = census.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val sources = totals.keys.toSeq.sorted
    val ln2 = math.log(2.0)
    val expected = (for {
      i <- sources.indices; j <- i + 1 until sources.length
      s1 = sources(i); s2 = sources(j)
      shared = census.keys.collect {
        case (`s1`, t) if census.contains((s2, t)) => t
      }.toSeq
      if shared.nonEmpty
    } yield {
      val (n1, n2) = (totals(s1).toDouble, totals(s2).toDouble)
      var both = 0.0; var sc1 = 0L; var sc2 = 0L
      for (t <- shared) {
        val (a, b) = (census((s1, t)), census((s2, t)))
        sc1 += a; sc2 += b
        val p = a / n1; val q = b / n2
        both += p * math.log(2.0 * p / (p + q)) +
          q * math.log(2.0 * q / (p + q))
      }
      val jsd = (both + (1.0 - sc1 / n1) * ln2 + (1.0 - sc2 / n2) * ln2) / 2.0
      (s1, s2, shared.length.toLong, jsd)
    }).sortBy(r => (r._1, r._2))
    val got = TextAnalysis.jsdSources(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    got.map(g => (g._1, g._2, g._3)) shouldBe
      expected.map(e => (e._1, e._2, e._3))
    for ((g, e) <- got.zip(expected))
      g._4 shouldBe rd(e._4, 4) +- 2e-4 // shuffle-ordered double sum
  }

  // ------------------------------------------------------------ burrows

  behavior of "TextAnalysis.burrowsDelta (q_burrows_delta) vs scratch z grids"

  it should "match every pair's delta at its 4-dp contract" in {
    val census = docs.flatMap(d => toks(d._2).map(t => (d._3, t)))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val totals = census.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val sources = totals.keys.toSeq.sorted
    val top = census.toSeq.groupBy(_._1._2).view
      .mapValues(_.map(_._2).sum).toSeq
      .sortBy { case (t, c) => (-c, t) }.take(20).map(_._1)
    val grid = (for (s <- sources; t <- top) yield
      ((s, t), census.getOrElse((s, t), 0L).toDouble / totals(s))).toMap
    val k = sources.length
    val z = (for (t <- top) yield {
      val fs = sources.map(s => grid((s, t)))
      val mean = fs.sum / k
      val sd = math.sqrt(math.max(fs.map(f => f * f).sum / k - mean * mean,
        0.0))
      t -> sources.map(s =>
        s -> (if (sd > 0) (grid((s, t)) - mean) / sd else 0.0)).toMap
    }).toMap
    val expected = (for {
      i <- sources.indices; j <- i + 1 until sources.length
    } yield {
      val (a, b) = (sources(i), sources(j))
      val delta = top.map(t => math.abs(z(t)(a) - z(t)(b))).sum / top.length
      (a, b, top.length.toLong, delta)
    }).sortBy(r => (r._1, r._2))
    val got = TextAnalysis.burrowsDelta(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSeq
    got.map(g => (g._1, g._2, g._3)) shouldBe
      expected.map(e => (e._1, e._2, e._3))
    for ((g, e) <- got.zip(expected))
      g._4 shouldBe rd(e._4, 4) +- 2e-4
  }

  // --------------------------------------------------------- readability

  behavior of "TextAnalysis.readability (q_readability) vs scratch regexes"

  it should "match words, syllables, sentences and Flesch per doc" in {
    def countOf(s: String, re: String): Long =
      re.r.findAllIn(s).length.toLong
    val expected = docs.flatMap { d =>
      val lc = d._2.toLowerCase
      val words = countOf(lc, "[a-z]+")
      val syll = countOf(lc, "[aeiouy]+")
      val realSent = countOf(lc, "[.!?]+")
      val sentences =
        if (realSent > 0) realSent
        else (words + TextAnalysis.readabilityChunk - 1) /
          TextAnalysis.readabilityChunk
      if (words > 0 && sentences > 0) {
        val flesch = 206.835 - 1.015 * (words.toDouble / sentences) -
          84.6 * (syll.toDouble / words)
        Some((d._1, d._4, words, syll, sentences, rd(flesch, 6),
          flesch >= 60.0))
      } else None
    }.sortBy(_._1)
    val got = TextAnalysis.readability(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getBoolean(6))).toSeq.sortBy(_._1)
    got shouldBe expected
  }

  // ------------------------------------------------------------ textrank

  behavior of "TextAnalysis.textRank (q_textrank) vs a scratch fixed point"

  it should "match the exact-integer keyword ranks" in {
    val winPairs = docs.flatMap { d =>
      val ws = d._2.toLowerCase.split(" ", -1)
      val pos = ws.zipWithIndex.filter { case (w, _) =>
        w.matches("[a-z]+") && !TextAnalysis.trStop.contains(w)
      }
      val byPos = pos.map { case (w, p) => p -> w }.toMap
      pos.flatMap { case (w, p) =>
        Seq(1, 2).flatMap { k =>
          byPos.get(p + k).filter(_ != w).map { w2 =>
            if (w < w2) (w, w2) else (w2, w)
          }
        }
      }
    }
    val edges = winPairs.groupBy(identity).view.mapValues(_.length.toLong)
      .toMap
    val bi = edges.toSeq.flatMap { case ((u, v), w) =>
      Seq((u, v, w), (v, u, w))
    }
    val wdeg = bi.groupBy(_._1).view.mapValues(_.map(_._3).sum).toMap
    var r = wdeg.keys.map(x => x -> TextAnalysis.trScale).toMap
    for (_ <- 1 to TextAnalysis.trIters) {
      val contrib = scala.collection.mutable.Map.empty[String, Long]
      for ((u, v, w) <- bi if r.contains(u))
        contrib.update(v, contrib.getOrElse(v, 0L) + r(u) * w / wdeg(u))
      r = contrib.map { case (x, s) =>
        x -> (150L * TextAnalysis.trScale / 1000L + 850L * s / 1000L)
      }.toMap
    }
    val expected = r.toSeq.map { case (x, rr) => (x, wdeg(x), rr) }
      .sortBy { case (x, _, rr) => (-rr, x) }.take(15)
    val got = TextAnalysis.textRank(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    got shouldBe expected
  }

  // ------------------------------------------------------- ngram novelty

  behavior of "TextAnalysis.ngramNovelty (q_ngram_novelty) vs scratch grams"

  it should "match the per-decile duplication curve" in {
    val nd = docs.length.toLong
    val grams = docs.map { d =>
      val w = toks(d._2)
      val gs =
        if (w.length >= 3)
          (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}")
            .distinct
        else Seq.empty
      (d._1, gs)
    }
    val fd = grams.flatMap { case (id, gs) => gs.map(_ -> id) }
      .groupBy(_._1).view.mapValues(_.map(_._2).min).toMap
    val expected = grams.groupBy(_._1 * 10 / nd).toSeq.sortBy(_._1)
      .map { case (dec, ds) =>
        val nGrams = ds.map(_._2.length.toLong).sum
        val nSeen = ds.map { case (id, gs) =>
          gs.count(g => fd(g) < id).toLong
        }.sum
        (dec.toInt, ds.length.toLong, nGrams, nSeen,
          if (nGrams == 0) 0.0 else rd(nSeen.toDouble / nGrams, 6))
      }
    val got = TextAnalysis.ngramNovelty(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    got shouldBe expected
  }

  // ----------------------------------------------------------- fertility

  behavior of "TextAnalysis.tokenizerFertility (q_fertility) vs scratch sums"

  it should "match per-language fertility and compression" in {
    val expected = docs.groupBy(_._4).toSeq.sortBy(_._1)
      .map { case (lang, ds) =>
        val tokens = ds.map(d => toks(d._2).length.toLong).sum
        val subwords = ds.map(d =>
          toks(d._2).map(w => (w.length + 2) / 3).sum.toLong).sum
        val chars = ds.map(_._5).sum
        (lang, ds.length.toLong, tokens, subwords,
          rd(subwords.toDouble / tokens, 6),
          rd(chars.toDouble / subwords, 6))
      }
    val got = TextAnalysis.tokenizerFertility(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(5))).toSeq
    got shouldBe expected
  }
}
