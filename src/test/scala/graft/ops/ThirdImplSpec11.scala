package graft.ops

import graft.GraftTestBase
import graft.dedup.Dedup
import graft.text.{Curation, Decontam}
import graft.Scratch.{docs, kgrams, md5hex, r6, toks}

/** THIRD-IMPLEMENTATION battery, batch 11: the decontamination and
  * mixture-planning family.
  *
  * DecontamSpec/CurationSpec pin planted cases and invariants (a verbatim
  * eval copy flags, shares normalize, the stream matches the batch), but
  * the full-corpus numbers still rest on two mirrored implementations —
  * Spark and the hand-unrolled oracle SQL share every constant and
  * formula. Each test below recomputes the statistic for EVERY row from
  * the raw text with plain Scala collections: the md5-fingerprint minhash
  * signature and band keys from first principles, the n-gram overlap
  * census per train doc, and both mixture recipes' weight arithmetic.
  */
class ThirdImplSpec11 extends GraftTestBase {

  behavior of "Decontam.ngramOverlap (q_decontam) vs a scratch gram census"

  it should "match count, overlap, basis points, and flag for every train doc" in {
    val evalSet: Set[String] = docs
      .filter(_._1 % Decontam.evalMod == 0)
      .flatMap(d => kgrams(toks(d._2), Decontam.gramLen)).toSet
    val expected = docs.filter(_._1 % Decontam.evalMod != 0)
      .map { case (id, text, _, _) =>
        val gs = kgrams(toks(text), Decontam.gramLen)
        val n = gs.size.toLong
        val o = gs.count(evalSet).toLong
        val bp = if (n > 0) o * 10000L / n else 0L
        (id, n, o, bp, n > 0 && o * Decontam.contamPctX5 >= n)
      }
    val got = Decontam.ngramOverlap(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_grams"),
        r.getAs[Long]("n_overlap"), r.getAs[Long]("overlap_bp"),
        r.getAs[Boolean]("contaminated"))).toVector.sortBy(_._1)
    got shouldBe expected
  }

  behavior of "Decontam.minhashDecontam (q_decontam_fuzzy) vs scratch minhash"

  it should "match every flagged doc's eval-match count and strongest band collision" in {
    // Band keys from first principles: 3-gram shingles -> 60-bit md5
    // fingerprints mod p -> 16-slot min-hash signature -> 8 two-slot
    // band keys, "|"-joined (concat_ws drops the null slots an empty
    // signature would produce, mirrored via the Option flatten).
    def bandKeys(text: String): Vector[(Int, String)] = {
      val fps = kgrams(toks(text), 3)
        .map(g => java.lang.Long.parseLong(md5hex(g).take(15), 16) %
          Dedup.minhashP)
      val sig: Vector[Option[Long]] = (0 until Dedup.numHashes).toVector
        .map { j =>
          if (fps.isEmpty) None
          else Some(fps.map(x =>
            (Dedup.minhashA(j) * x + Dedup.minhashB(j)) % Dedup.minhashP).min)
        }
      (0 until Dedup.numBands).toVector.map { b =>
        val slots = (0 until Dedup.bandWidth)
          .flatMap(k => sig(b * Dedup.bandWidth + k))
        (b, slots.mkString("|"))
      }
    }
    val evalBands: Map[(Int, String), Vector[Long]] = docs
      .filter(_._1 % Decontam.evalMod == 0)
      .flatMap(d => bandKeys(d._2).map(bk => (bk, d._1)))
      .groupBy(_._1).map { case (bk, xs) => bk -> xs.map(_._2) }
    val expected = docs.filter(_._1 % Decontam.evalMod != 0)
      .flatMap { case (id, text, _, _) =>
        val hits: Vector[Long] =
          bandKeys(text).flatMap(bk => evalBands.getOrElse(bk, Vector.empty))
        if (hits.isEmpty) None
        else {
          val perEval = hits.groupBy(identity).map { case (_, xs) =>
            xs.size.toLong
          }.toVector
          Some((id, perEval.size.toLong, perEval.max))
        }
      }
    val got = Decontam.minhashDecontam(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_eval_matches"),
        r.getAs[Long]("max_bands"))).toVector.sortBy(_._1)
    got shouldBe expected
  }

  behavior of "Curation.mixturePlan (q_mixture) vs scratch weight arithmetic"

  it should "match every language's census, weight, and sampled-token count" in {
    val perLang = docs.groupBy(_._3).map { case (lang, ds) =>
      (lang, ds.size.toLong, ds.map(d => toks(d._2).length.toLong).sum)
    }.toVector
    val minTok = perLang.map(_._3).min
    val expected = perLang.map { case (lang, nDocs, nTok) =>
      val w = minTok * 10000L / nTok
      (lang, nDocs, nTok, w, w * nTok / 10000L)
    }.sortBy(_._1)
    val got = Curation.mixturePlan(spark, sf).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_tokens"), r.getAs[Long]("weight_bp"),
        r.getAs[Long]("sampled_tokens"))).toVector.sortBy(_._1)
    got shouldBe expected
  }

  behavior of "Curation.temperatureMixture (q_temperature) vs scratch shares"

  it should "match raw share, temperature share, and boost per language" in {
    val perLang = docs.groupBy(_._3).map { case (lang, ds) =>
      (lang, ds.map(d => toks(d._2).length.toLong).sum)
    }.toVector.sortBy(_._1)
    val tot = perLang.map(_._2).sum.toDouble
    val totPow = perLang.map(x => math.pow(x._2.toDouble, Curation.mixAlpha)).sum
    val expected = perLang.map { case (lang, nTok) =>
      val pRaw = nTok.toDouble / tot
      val pTemp = math.pow(nTok.toDouble, Curation.mixAlpha) / totPow
      (lang, nTok, r6(pRaw), r6(pTemp), r6(pTemp / pRaw))
    }
    val got = Curation.temperatureMixture(spark, sf).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("n_tokens"),
        r.getAs[Double]("p_raw"), r.getAs[Double]("p_temp"),
        r.getAs[Double]("boost"))).toVector.sortBy(_._1)
    got shouldBe expected
  }
}
