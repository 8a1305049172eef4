package graft.ops

import graft.GraftTestBase
import graft.text.{Retrieval, Winnowing}
import graft.Scratch.{docToks, r4, r6}

/** THIRD-IMPLEMENTATION battery, batch 9: the retrieval family.
  *
  * BM25, Dirichlet query likelihood, RRF fusion, nDCG@10, MRR@10 and
  * the MOSS winnowing fingerprints are classic published formulas whose
  * oracle SQL is a hand transcription of the Scala plan — exactly the
  * mirrored-formula exposure class. Each is recomputed here from the
  * raw documents parquet with plain Scala loops: token counts by
  * splitting the text directly, float formulas evaluated in the same
  * fixed association order as the engines' pinned expressions, ranks
  * as driver-side sorts, the winnowing rightmost-min as an explicit
  * sliding window over md5 grams. sf0.001 = 500 docs.
  */
class ThirdImplSpec9 extends GraftTestBase {

  private val terms = Retrieval.queryTerms

  /** (doc_id, dl, tf per query term, rel-label occurrences of "data"). */
  private lazy val stats: Vector[(Long, Long, Array[Long], Long)] =
    docToks.map { case (id, toks) =>
      (id, toks.length.toLong,
        terms.map(t => toks.count(_ == t).toLong).toArray,
        math.min(toks.count(_ == "data").toLong, Retrieval.relCap.toLong))
    }

  /** Scratch BM25 scores in the engines' exact association order. */
  private lazy val bm25Scratch: Vector[(Long, Long, Array[Long], Double)] = {
    val n = stats.size.toDouble
    val sumDl = stats.map(_._2).sum.toDouble
    val avgdl = sumDl / n
    val dfs = terms.indices.map(i => stats.count(_._3(i) > 0).toDouble)
    stats.map { case (id, dl, tfs, _) =>
      var score = 0.0
      terms.indices.foreach { i =>
        val tf = tfs(i).toDouble
        val df = dfs(i)
        val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
        score += idf * (tf * (Retrieval.k1 + 1.0)) /
          (tf + Retrieval.k1 *
            ((1.0 - Retrieval.b) + Retrieval.b * dl.toDouble / avgdl))
      }
      (id, dl, tfs, r4(score))
    }
  }

  behavior of "bm25 (q_bm25) vs the textbook formula over raw tokens"

  it should "match every document's tf vector and rounded score" in {
    val got = Retrieval.bm25(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dl"),
        terms.indices.map(i => r.getAs[Long](s"tf_$i")).toVector,
        r.getAs[Double]("bm25"))).toVector.sortBy(_._1)
    val expected = bm25Scratch.map { case (id, dl, tfs, sc) =>
      (id, dl, tfs.toVector, sc)
    }
    got shouldBe expected
  }

  behavior of "queryLikelihood (q_query_lik) vs scratch Dirichlet smoothing"

  it should "match the add-one-smoothed log-likelihood per doc" in {
    val cTotal = stats.map(_._2).sum.toDouble
    val cfs = terms.indices.map(i => stats.map(_._3(i)).sum.toDouble)
    val mu = Retrieval.dirichletMu
    val expected = stats.map { case (id, dl, tfs, _) =>
      var score = 0.0
      terms.indices.foreach { i =>
        val pc = (cfs(i) + 1.0) / (cTotal + terms.length)
        score += math.log((tfs(i).toDouble + mu * pc) / (dl.toDouble + mu))
      }
      (id, dl, r4(score))
    }
    val got = Retrieval.queryLikelihood(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("dl"),
        r.getAs[Double]("ql_score"))).toVector.sortBy(_._1)
    got shouldBe expected
  }

  behavior of "rrfFusion (q_rrf) vs scratch rank fusion"

  it should "match both global ranks and the fused top-20" in {
    val covByDoc = stats.map { case (id, dl, tfs, _) =>
      (id, dl, tfs.count(_ > 0).toLong)
    }
    val bmByDoc = bm25Scratch.map(s => s._1 -> s._4).toMap
    val rank1 = covByDoc.map(_._1)
      .sortBy(id => (-bmByDoc(id), id))
      .zipWithIndex.map { case (id, i) => id -> (i + 1).toLong }.toMap
    val rank2 = covByDoc
      .sortBy { case (id, dl, nt) => (-nt, dl, id) }
      .zipWithIndex.map { case ((id, _, _), i) => id -> (i + 1).toLong }
      .toMap
    val expected = covByDoc.map(_._1).map { id =>
      (id, rank1(id), rank2(id),
        r6(1.0 / (Retrieval.rrfK.toDouble + rank1(id).toDouble) +
          1.0 / (Retrieval.rrfK.toDouble + rank2(id).toDouble)))
    }.sortBy { case (id, _, _, rrf) => (-rrf, id) }.take(20)
    val got = Retrieval.rrfFusion(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("rank1"),
        r.getAs[Long]("rank2"), r.getAs[Double]("rrf"))).toVector
    got shouldBe expected
  }

  behavior of "ndcgAtK (q_ndcg) vs scratch DCG sums"

  it should "match dcg, idcg and their ratio at k = 10" in {
    val bmByDoc = bm25Scratch.map(s => s._1 -> s._4).toMap
    val relByDoc = stats.map(s => s._1 -> s._4).toMap
    def gain(rel: Long, rank: Int): Double =
      (math.pow(2.0, rel.toDouble) - 1.0) /
        (math.log(rank.toDouble + 1.0) / math.log(2.0))
    val ids = stats.map(_._1)
    val dcg = ids.sortBy(id => (-bmByDoc(id), id)).take(Retrieval.ndcgAt)
      .zipWithIndex.map { case (id, i) => gain(relByDoc(id), i + 1) }.sum
    val idcg = ids.sortBy(id => (-relByDoc(id), id)).take(Retrieval.ndcgAt)
      .zipWithIndex.map { case (id, i) => gain(relByDoc(id), i + 1) }.sum
    val r = Retrieval.ndcgAtK(spark, sf).head()
    r.getAs[Double]("dcg_at_k") shouldBe r6(dcg)
    r.getAs[Double]("idcg_at_k") shouldBe r6(idcg)
    r.getAs[Double]("ndcg_at_k") shouldBe r6(dcg / idcg)
  }

  behavior of "mrrAtK (q_mrr) vs a scratch first-relevant scan"

  it should "match per-term candidate counts, first ranks and the MRR" in {
    val rrs = terms.indices.map { i =>
      val cands = stats.filter(_._3(i) > 0)
      val relv = cands.filter(_._4 >= Retrieval.mrrRelTf)
      val nCand = cands.size.toLong
      val nRel = relv.size.toLong
      val rank: Long =
        if (relv.isEmpty) 1L
        else {
          val bk = relv.map(s => (-s._3(i), s._2, s._1)).min
          cands.count(s => Ordering[(Long, Long, Long)]
            .lt((-s._3(i), s._2, s._1), bk)).toLong + 1L
        }
      val rr = if (nRel == 0L || rank > Retrieval.mrrAt) 0.0
        else 1.0 / rank.toDouble
      (terms(i), nCand, nRel, rank, rr)
    }
    // MRR folds the UNROUNDED per-term RRs in fixed term order
    val mrr = r6(rrs.map(_._5).sum / terms.length.toDouble)
    val expected = rrs.map { case (t, nc, nr, rk, rr) =>
      (t, nc, nr, rk, r6(rr), mrr)
    }.sortBy(_._1)
    val got = Retrieval.mrrAtK(spark, sf).collect()
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("n_candidates"),
        r.getAs[Long]("n_relevant"), r.getAs[Long]("first_rank"),
        r.getAs[Double]("rr"), r.getAs[Double]("mrr"))).toVector
    got shouldBe expected.toVector
  }

  behavior of "winnowFingerprints (q_winnowing) vs a scratch sliding min"

  it should "match gram, selection and sharing censuses per document" in {
    val posCap = Winnowing.posCap
    def md5h40(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
      java.lang.Long.parseLong(hex.take(10), 16)
    }
    case class DocFp(id: Long, nGrams: Long, selected: Set[Long])
    val perDoc = docToks.flatMap { case (id, toks) =>
      val grams = (0 to toks.length - Winnowing.k).map { p =>
        val h = md5h40(toks.slice(p, p + Winnowing.k).mkString(" "))
        h * posCap + (posCap - 1 - p)
      }
      if (grams.isEmpty) None
      else {
        val winners = grams.indices.map { g =>
          grams.slice(math.max(0, g - (Winnowing.w - 1)), g + 1).min
        }.toSet
        Some(DocFp(id, grams.size.toLong, winners))
      }
    }
    val docHashes = perDoc.map(d => d.id -> d.selected.map(_ / posCap))
    val hashDocs = docHashes.flatMap { case (id, hs) => hs.map(_ -> id) }
      .groupBy(_._1).map { case (h, xs) => h -> xs.map(_._2).distinct.size }
    val expected = perDoc.map { d =>
      val hs = d.selected.map(_ / posCap)
      (d.id, d.nGrams, d.selected.size.toLong, hs.size.toLong,
        hs.count(h => hashDocs(h) >= 2).toLong)
    }.sortBy(_._1)
    val got = Winnowing.winnowFingerprints(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_grams"),
        r.getAs[Long]("n_selected"), r.getAs[Long]("n_fp"),
        r.getAs[Long]("n_shared_fp"))).toVector.sortBy(_._1)
    got shouldBe expected
  }
}
