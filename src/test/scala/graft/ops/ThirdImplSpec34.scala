package graft.ops

import graft.GraftTestBase
import graft.Tables
import graft.Scratch.{cosFull, rd, toks, vecs}

/** THIRD-IMPLEMENTATION battery, batch 34: corpus contracts over text
  * and embeddings.
  *
  * Boilerplate document-frequency ratios, script-class character
  * profiles, the policy-lexicon audit, SemDeDup's per-cluster pair
  * census and the margin-based bitext mining pipeline — each rebuilt
  * from the raw rows with scratch regex/tokenization and a scratch
  * cosine (the same ascending fold the engines' native expression
  * documents, re-implemented as a plain loop over the float arrays).
  */
class ThirdImplSpec34 extends GraftTestBase {

  // ---------------------------------------------------------- boilerplate

  behavior of "Dedup.boilerplateRatio (q_boilerplate) vs scratch DF counts"

  it should "match per-doc shingle and boilerplate counts" in {
    val docs = Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val shingles = docs.map { case (id, t) =>
      val w = toks(t)
      val sh =
        if (w.length >= 3)
          (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}")
            .distinct
        else Seq.empty
      (id, sh)
    }
    val df = shingles.flatMap(_._2).groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    val expected = shingles.filter(_._2.nonEmpty).map { case (id, sh) =>
      val boiler = sh.count(g => df(g) >= graft.dedup.Dedup.dfBoiler).toLong
      (id, sh.length.toLong, boiler,
        rd(boiler.toDouble / sh.length, 6))
    }.toSeq.sortBy(_._1)
    val got = graft.dedup.Dedup.boilerplateRatio(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    got shouldBe expected
  }

  // ------------------------------------------------------- script profile

  behavior of "TextAnalysis.scriptProfile (q_script_profile) vs scratch counts"

  it should "match every language's character-class ratios" in {
    val docs = Tables.documents(spark, sf)
      .select("lang", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val expected = docs.groupBy(_._1).toSeq.sortBy(_._1)
      .map { case (lang, ds) =>
        val chars = ds.map(_._2.length.toLong).sum
        val letters = ds.map(_._2.count(c =>
          (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')).toLong).sum
        val digits = ds.map(_._2.count(c => c >= '0' && c <= '9').toLong).sum
        val spaces = ds.map(_._2.count(_.isWhitespace).toLong).sum
        (lang, ds.length.toLong, chars,
          rd(letters.toDouble / chars, 6), rd(digits.toDouble / chars, 6),
          rd(spaces.toDouble / chars, 6),
          rd((chars - letters - digits - spaces).toDouble / chars, 6))
      }
    val got = graft.text.TextAnalysis.scriptProfile(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
        r.getDouble(4), r.getDouble(5), r.getDouble(6))).toSeq
    got shouldBe expected
  }

  // ------------------------------------------------------- lexicon audit

  behavior of "TextAnalysis.lexiconAudit (q_lexicon_audit) vs scratch hits"

  it should "match per-language flag rates" in {
    val lex = graft.text.TextAnalysis.policyLexicon.toSet
    val docs = Tables.documents(spark, sf)
      .select("lang", "text").collect()
      .map(r => (r.getString(0), toks(r.getString(1)).count(lex).toLong))
    val expected = docs.groupBy(_._1).map { case (lang, ds) =>
      val flagged = ds.count(_._2 > 0).toLong
      (lang, ds.length.toLong, flagged, ds.map(_._2).sum,
        rd(flagged.toDouble / ds.length, 6))
    }.toSet
    val got = graft.text.TextAnalysis.lexiconAudit(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSet
    got shouldBe expected
  }

  // ------------------------------------------------------------ semdedup

  behavior of "Dedup.semDedup (q_semdedup) vs a scratch pair census"

  it should "match per-cluster pair and drop counts" in {
    val byLabel = vecs.groupBy(_._2)
    val expected = byLabel.toSeq.sortBy(_._1).map { case (label, vs) =>
      val sorted = vs.sortBy(_._1)
      val pairs = for {
        i <- sorted.indices; j <- i + 1 until sorted.length
        // hoisted-norm identity: dot/(na*nb) with na/nb own sqrt folds
        c = rd(cosFull(sorted(i)._3, sorted(j)._3), 4)
        if c >= 0.3
      } yield (sorted(i)._1, sorted(j)._1)
      val nDropped = pairs.map(_._2).distinct.length.toLong
      (label, vs.length.toLong, pairs.length.toLong, nDropped,
        rd((vs.length - nDropped).toDouble / vs.length, 6))
    }
    val got = graft.dedup.Dedup.semDedup(spark, sf).collect()
      .map(r => (r.getAs[Number](0).intValue, r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDouble(4))).toSeq
    got shouldBe expected
  }

  // ---------------------------------------------------------- bitext mine

  behavior of "Similarity.bitextMining (q_bitext_mine) vs a scratch margin"

  it should "replay the mutual-top1 margin pipeline exactly" in {
    import graft.similarity.Similarity.{bitextK, bitextQueryCap}
    def milli(a: Array[Float], b: Array[Float]): Long =
      BigDecimal.valueOf(cosFull(a, b) * 1000)
        .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
    val byId = vecs.map(v => v._1 -> v._3).toMap
    val qs = vecs.filter(v => v._1 % 2 == 0 && v._1 < bitextQueryCap)
      .map(_._1).sorted
    val cands = vecs.filter(_._1 % 2 == 1).map(_._1).sorted
    val fAgg = qs.map { q =>
      val ranked = cands.map(c => (c, milli(byId(q), byId(c))))
        .sortBy { case (c, s) => (-s, c) }.take(bitextK)
      (q, ranked.head._1, ranked.head._2, ranked.map(_._2).sum)
    }
    val revTargets = fAgg.map(_._2).distinct
    val aSide = vecs.filter(_._1 % 2 == 0).map(_._1).sorted
    val rAgg = revTargets.map { rq =>
      val ranked = aSide.map(a => (a, milli(byId(rq), byId(a))))
        .sortBy { case (a, s) => (-s, a) }.take(bitextK)
      rq -> (ranked.head._1, ranked.map(_._2).sum)
    }.toMap
    val expected = fAgg.map { case (q, cand, c3, denF) =>
      val (revTop1, denR) = rAgg(cand)
      val margin = 2.0 * bitextK * c3 / (denF + denR)
      (q, cand, c3.toDouble / 1000, rd(margin, 6), revTop1 == q,
        revTop1 == q && margin > 1.06)
    }.toSet
    val got = graft.similarity.Similarity.bitextMining(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getDouble(3),
        r.getBoolean(4), r.getBoolean(5))).toSet
    got shouldBe expected
  }
}
