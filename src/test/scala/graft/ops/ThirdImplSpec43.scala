package graft.ops

import graft.GraftTestBase
import graft.dedup.Dedup
import graft.Scratch.{candPairs, clusterOf, docTexts, kgrams, md5hex, rd,
  toks}

/** THIRD-IMPLEMENTATION battery, batch 43: the minhash CLUSTER chain —
  * the remaining composition layers above batch 12's pair machinery.
  * Batch 12 pinned the signatures, band collisions and calibration
  * rows; these tests pin what is BUILT on them: transitive cluster
  * labels (via union-find instead of the engines' iterated min-label
  * propagation), quality-aware canonicalization (cluster winner by the
  * scratch-recomputed unigram-LM score), block-level survivorship
  * dedup, and the end-to-end index evaluation (precision/recall/F1 vs
  * a brute-force exact-Jaccard ground truth).
  */
class ThirdImplSpec43 extends GraftTestBase {

  behavior of "dedupClusters (q_dedup_clusters) vs union-find"

  it should "match every clustered doc's label and cluster size" in {
    val sizes = clusterOf.values.groupBy(identity)
      .map { case (l, xs) => l -> xs.size.toLong }
    val out = Dedup.dedupClusters(spark, sf).collect()
    out.length shouldBe clusterOf.size
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      r.getAs[Long]("cluster_id") shouldBe clusterOf(id)
      r.getAs[Long]("cluster_size") shouldBe sizes(clusterOf(id))
    }
  }

  /** Scratch unigram-LM cross-entropy (the q_lm_score formula):
    * round(ln N − Σ tf·ln c' / n, 4), c' = corpus count if ≥ 5 else
    * 0.5. */
  private lazy val lmXent: Map[Long, Double] = {
    val corpus = scala.collection.mutable.Map.empty[String, Long]
    docTexts.foreach(d => toks(d._2).foreach(t =>
      corpus(t) = corpus.getOrElse(t, 0L) + 1))
    val nTotal = corpus.values.sum
    docTexts.map { case (id, t) =>
      val tf = toks(t).groupBy(identity).map { case (w, xs) =>
        w -> xs.length.toLong }
      val n = tf.values.sum
      val s = tf.map { case (w, f) =>
        val c = corpus(w)
        f * math.log(if (c >= 5L) c.toDouble else 0.5)
      }.sum
      id -> rd(math.log(nTotal.toDouble) - s / n, 4)
    }.toMap
  }

  behavior of "canonicalDocs (q_canonical_docs) vs scratch winners"

  it should "pick each cluster's lowest-entropy member" in {
    val expect = clusterOf.toVector.groupBy(_._2).map { case (l, ms) =>
      val winner = ms.map(_._1).map(id => (lmXent(id), id)).min
      l -> (winner._2, winner._1, ms.length.toLong)
    }
    val out = graft.text.Curation.canonicalDocs(spark, sf).collect()
    out.length shouldBe expect.size
    out.foreach { r =>
      val (kept, xent, size) = expect(r.getAs[Long]("cluster_id"))
      r.getAs[Long]("kept_doc_id") shouldBe kept
      r.getAs[Double]("kept_xent") shouldBe (xent +- 1e-9)
      r.getAs[Long]("cluster_size") shouldBe size
      r.getAs[Long]("n_dropped") shouldBe (size - 1)
    }
  }

  behavior of "blockDedup (q_block_dedup) vs scratch block ledgers"

  it should "match per-doc block survivorship and token accounting" in {
    // every doc's 10-token blocks with md5 keys and global first-owner
    val blocks = docTexts.flatMap { case (id, t) =>
      val w = toks(t)
      (0 to (w.length - 1) / 10).map { b =>
        val blk = w.slice(b * 10, math.min(w.length, b * 10 + 10))
        (id, b.toLong, md5hex(blk.mkString(" ")),
          math.min(w.length - b * 10, 10).toLong)
      }
    }
    val firstOcc = blocks.groupBy(_._3).map { case (h, bs) =>
      h -> bs.map(x => x._1 * 4294967296L + x._2).min
    }
    val expect = blocks.groupBy(_._1).map { case (id, bs) =>
      val kept = bs.filter(b =>
        b._1 * 4294967296L + b._2 == firstOcc(b._3))
      id -> (bs.length.toLong, kept.length.toLong,
        kept.map(_._4).sum, bs.map(_._4).sum)
    }
    val out = Dedup.blockDedup(spark, sf).collect()
    out.length shouldBe expect.size
    out.foreach { r =>
      val (nb, nk, tk, tt) = expect(r.getAs[Long]("doc_id"))
      r.getAs[Long]("n_blocks") shouldBe nb
      r.getAs[Long]("n_kept") shouldBe nk
      r.getAs[Long]("tokens_kept") shouldBe tk
      r.getAs[Long]("tokens_total") shouldBe tt
    }
  }

  behavior of "dedupEval (q_dedup_eval) vs brute-force ground truth"

  it should "match candidate/truth/hit counts and the PRF row" in {
    val sets = docTexts.map { case (id, t) => (id, kgrams(toks(t), 3).toSet) }
    val truth = (for {
      i <- sets.indices.iterator; j <- (i + 1 until sets.length).iterator
      ni = (sets(i)._2 & sets(j)._2).size
      if ni > 0 &&
        ni.toDouble / (sets(i)._2.size + sets(j)._2.size - ni) >= 0.5
    } yield (sets(i)._1, sets(j)._1)).toSet
    val cand = candPairs.toSet
    val nHit = (truth & cand).size.toLong
    val theory = 1.0 - math.pow(
      1.0 - math.pow(0.5, Dedup.bandWidth), Dedup.numBands)
    val r = Dedup.dedupEval(spark, sf).head()
    r.getAs[Long]("n_candidates") shouldBe cand.size.toLong
    r.getAs[Long]("n_true") shouldBe truth.size.toLong
    r.getAs[Long]("n_hit") shouldBe nHit
    r.getAs[Double]("precision") shouldBe
      (rd(nHit.toDouble / math.max(cand.size, 1), 6) +- 1e-9)
    r.getAs[Double]("recall") shouldBe
      (rd(nHit.toDouble / math.max(truth.size, 1), 6) +- 1e-9)
    r.getAs[Double]("f1") shouldBe
      (rd(2.0 * nHit / math.max(cand.size + truth.size, 1), 6) +- 1e-9)
    r.getAs[Double]("theory_recall_at_t") shouldBe (rd(theory, 6) +- 1e-9)
  }
}
