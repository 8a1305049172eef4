package graft.ops

import graft.GraftTestBase
import graft.similarity.Similarity
import graft.Scratch.{r4, r6, rd}

/** THIRD-IMPLEMENTATION battery, batch 8: the vector / similarity
  * family.
  *
  * These queries' oracle SQL is hand-unrolled from the Scala plans
  * (the same rounded-cosine pipelines, the same greedy MMR rounds as
  * chained CTEs, the same LOF tier cascade) — the mirrored-formula
  * exposure the ThirdImplSpec program exists to close. Every statistic
  * below is recomputed from the raw embeddings parquet with plain
  * Scala arrays and loops: cosines accumulate float→double products in
  * index order (the engine's native-expression contract), every
  * rounding mirrors Spark's `round` (BigDecimal HALF_UP), and greedy /
  * tiered algorithms are re-run as textbook driver-side loops. sf0.001
  * keeps everything at spec scale (500 vectors × 64 dims).
  */
class ThirdImplSpec8 extends GraftTestBase {

  /** (vec_id, label, embedding) from the raw parquet, vec_id order. */
  private lazy val vecs: Vector[(Long, Int, Array[Float])] =
    graft.Tables.embeddings(spark, sf)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).toArray)).toVector.sortBy(_._1)

  private lazy val byId: Map[Long, Array[Float]] =
    vecs.map(v => v._1 -> v._3).toMap

  /** Index-order double-accumulated cosine — bit-identical to the
    * engine's codegen'd CosineSimilarity. */
  private def cos(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; na += x * x; nb += y * y; i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  behavior of "bruteForceTopK (q_knn_brute) vs a scratch exact top-k"

  it should "match every query's ranked neighbors and rounded cosines" in {
    val queries = vecs.filter(_._1 < Similarity.nQueries)
    val expected = queries.flatMap { case (qid, _, qe) =>
      vecs.filter(_._1 != qid)
        .map { case (cid, _, ce) => (cid, r4(cos(qe, ce))) }
        .sortBy { case (cid, c) => (-c, cid) }
        .take(Similarity.topK)
        .zipWithIndex
        .map { case ((cid, c), i) => (qid, i + 1, cid, c) }
    }
    val got = Similarity.bruteForceTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
      .toVector.sortBy(t => (t._1, t._2))
    got shouldBe expected.sortBy(t => (t._1, t._2))
  }

  behavior of "silhouette (q_silhouette) vs a scratch centroid loop"

  it should "match per-label counts, mean silhouette and well-placed" in {
    val dims = vecs.head._3.length
    val centroids: Map[Int, Array[Double]] = vecs.groupBy(_._2)
      .map { case (lbl, vs) =>
        lbl -> Array.tabulate(dims)(d =>
          r4(vs.map(_._3(d).toDouble).sum / vs.size))
      }
    def dist(e: Array[Float], c: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < e.length) {
        val dd = e(i).toDouble - c(i); s += dd * dd; i += 1
      }
      r4(math.sqrt(s))
    }
    val sils = vecs.map { case (_, lbl, e) =>
      val a = dist(e, centroids(lbl))
      val b = centroids.collect {
        case (l, c) if l != lbl => dist(e, c)
      }.min
      val sil = if (math.max(a, b) == 0.0) 0.0
        else r4((b - a) / math.max(a, b))
      (lbl, sil)
    }
    val expected = sils.groupBy(_._1).toVector.map { case (lbl, ss) =>
      (lbl, ss.size.toLong, r4(ss.map(_._2).sum / ss.size),
        ss.count(_._2 > 0).toLong)
    }.sortBy(_._1)
    val got = Similarity.silhouette(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
      .toVector
    got shouldBe expected
  }

  behavior of "matryoshkaRecall (q_matryoshka) vs scratch prefix top-10"

  it should "match overlap counts between full and 16-dim prefix ranks" in {
    val queries = vecs.filter(_._1 < Similarity.nQueries)
    val expected = queries.map { case (qid, _, qe) =>
      val cands = vecs.filter(_._1 != qid)
      def top(f: ((Long, Int, Array[Float])) => Double): Set[Long] =
        cands.map(c => (c._1, f(c)))
          .sortBy { case (cid, sc) => (-sc, cid) }
          .take(Similarity.mrlTopK).map(_._1).toSet
      val full = top { case (_, _, ce) => r4(cos(qe, ce)) }
      val pre = top { case (_, _, ce) =>
        r4(cos(qe.take(Similarity.mrlDim), ce.take(Similarity.mrlDim)))
      }
      val ov = (full & pre).size.toLong
      (qid, ov, r4(ov.toDouble / Similarity.mrlTopK))
    }
    val got = Similarity.matryoshkaRecall(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toVector.sortBy(_._1)
    got shouldBe expected
  }

  behavior of "mmrSelect (q_mmr) vs a scratch greedy loop"

  it should "replay the lambda/mu greedy selection exactly" in {
    val q = byId(0L)
    val cands = vecs.filter(_._1 != 0L)
    var picked = Vector.empty[(Long, Array[Float], Double)]
    for (_ <- 1 to Similarity.mmrK) {
      val already = picked.map(_._1).toSet
      val best = cands.filterNot(c => already(c._1)).map { case (id, _, e) =>
        val simq = r4(cos(e, q))
        val pen =
          if (picked.isEmpty) 0.0
          else picked.map(p => r4(cos(e, p._2))).max
        (id, e, r4(Similarity.mmrLambda * simq - Similarity.mmrMu * pen))
      }.minBy { case (id, _, sc) => (-sc, id) }
      picked = picked :+ best
    }
    val expected = picked.zipWithIndex.map { case ((id, _, sc), i) =>
      ((i + 1).toLong, id, sc)
    }
    val got = Similarity.mmrSelect(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toVector.sortBy(_._1)
    got shouldBe expected
  }

  behavior of "covarianceMatrix (q_cov_matrix) vs scratch moment sums"

  it should "match the upper-triangle covariances with the signed-zero pin" in {
    val dims = vecs.head._3.length
    val n = vecs.size.toDouble
    val expected = (for {
      i <- 0 until dims
      j <- i until dims
    } yield {
      var sij = 0.0; var si = 0.0; var sj = 0.0
      vecs.foreach { case (_, _, e) =>
        val xi = e(i).toDouble; val xj = e(j).toDouble
        sij += xi * xj; si += xi; sj += xj
      }
      val cov0 = r6(sij / n - si * sj / (n * n))
      (i.toLong, j.toLong, vecs.size.toLong,
        if (cov0 == 0.0) 0.0 else cov0)
    }).toVector
    val got = Similarity.covarianceMatrix(spark, sf).collect()
      .map(r => (r.getAs[Long]("dim_i"), r.getAs[Long]("dim_j"),
        r.getAs[Long]("n"), r.getAs[Double]("cov"))).toVector
    got shouldBe expected
  }

  behavior of "tripletMining (q_triplet_mine) vs scratch pos/neg/semi"

  it should "match hardest-positive/negative and the semi-hard band" in {
    val anchors = vecs.filter(_._1 < Similarity.tripletAnchorCap)
    val m = Similarity.tripletMarginMilli
    val expected = anchors.map { case (aid, albl, ae) =>
      val scored = vecs.filter(_._1 != aid).map { case (cid, clbl, ce) =>
        (cid, clbl == albl,
          rd(cos(ae, ce) * 1000, 0).toLong)
      }
      def best(rows: Vector[(Long, Boolean, Long)]): (Long, Long) =
        rows.map { case (cid, _, c3) => (c3, -cid) }.max match {
          case (c3, nid) => (-nid, c3)
        }
      val (posId, posC3) = best(scored.filter(_._2))
      val (negId, negC3) = best(scored.filter(!_._2))
      val semiRows = scored.filter { case (_, same, c3) =>
        !same && c3 < posC3 && c3 + m > posC3
      }
      val semi = if (semiRows.isEmpty) None else Some(best(semiRows))
      (aid, albl, posId, posC3.toDouble / 1000, negId,
        negC3.toDouble / 1000, negC3 + m > posC3,
        semi.map(_._1), semi.map(_._2.toDouble / 1000))
    }
    val got = Similarity.tripletMining(spark, sf).collect()
      .map(r => (r.getAs[Long]("anchor_id"), r.getAs[Int]("anchor_label"),
        r.getAs[Long]("pos_id"), r.getAs[Double]("pos_cos"),
        r.getAs[Long]("neg_id"), r.getAs[Double]("neg_cos"),
        r.getAs[Boolean]("active"),
        Option(r.getAs[java.lang.Long]("semi_id")).map(_.toLong),
        Option(r.getAs[java.lang.Double]("semi_cos")).map(_.toDouble)))
      .toVector.sortBy(_._1)
    got shouldBe expected.sortBy(_._1)
  }

  behavior of "lofOutliers (q_lof) vs a scratch tiered LOF loop"

  it should "match den_x and the one-k LOF ratio per anchor" in {
    val k = Similarity.lofK
    def d3(a: Array[Float], b: Array[Float]): Long =
      1000L - rd(cos(a, b) * 1000, 0).toLong
    def knn(qid: Long): Vector[(Long, Long)] =
      vecs.filter(_._1 != qid)
        .map { case (cid, _, ce) => (cid, d3(byId(qid), ce)) }
        .sortBy { case (cid, dd) => (dd, cid) }
        .take(k)
    val anchors = vecs.filter(_._1 < Similarity.lofAnchorCap).map(_._1)
    val p1 = anchors.map(a => a -> knn(a)).toMap
    val tier1 = p1.values.flatten.map(_._1).toSet
    val p2 = tier1.map(o => o -> knn(o)).toMap
    val kdistO = p2.map { case (o, ns) => o -> ns.map(_._2).max }
    val tier2 = p2.values.flatten.map(_._1).toSet
    val kdistP = tier2.map(p => p -> knn(p).map(_._2).max).toMap
    val denO = p2.map { case (o, ns) =>
      o -> math.max(ns.map { case (p, dd) => math.max(dd, kdistP(p)) }.sum, 1L)
    }
    val expected = anchors.map { a =>
      val nbrs = p1(a)
      val denX = math.max(
        nbrs.map { case (nb, dd) => math.max(dd, kdistO(nb)) }.sum, 1L)
      // reciprocal lrds folded in (neighbor id, den) sorted order — the
      // engine's pinned array-fold
      var rsum = 0.0
      nbrs.map { case (nb, _) => (nb, denO(nb)) }.sorted
        .foreach { case (_, den) => rsum += 1.0 / den.toDouble }
      val lof = rsum * denX.toDouble / k.toDouble
      (a, denX, r6(lof), lof > 1.2)
    }
    val got = Similarity.lofOutliers(spark, sf).collect()
      .map(r => (r.getAs[Long]("anchor_id"), r.getAs[Long]("den_x"),
        r.getAs[Double]("lof"), r.getAs[Boolean]("is_outlier")))
      .toVector.sortBy(_._1)
    got shouldBe expected.sortBy(_._1)
  }

  behavior of "isotropyAudit (q_isotropy) vs scratch mean-vector identities"

  it should "match the anisotropy ratio and average pairwise cosine" in {
    val dims = vecs.head._3.length
    val n = vecs.size
    val norms = vecs.map { case (_, _, e) =>
      var s = 0.0; var i = 0
      while (i < e.length) { s += e(i).toDouble * e(i).toDouble; i += 1 }
      math.sqrt(s)
    }
    val mraw = Array.tabulate(dims)(d =>
      r4(vecs.map(_._3(d).toDouble).sum / n))
    val munit = Array.tabulate(dims)(d =>
      r4(vecs.zip(norms).map { case (v, nr) => v._3(d).toDouble / nr }
        .sum / n))
    val nm2 = mraw.map(x => x * x).sum
    val nu2 = munit.map(x => x * x).sum
    val meanNorm = r4(norms.sum / n)
    val nd = n.toDouble
    val r = Similarity.isotropyAudit(spark, sf).head()
    r.getAs[Long]("n_vectors") shouldBe n.toLong
    r.getAs[Double]("mean_norm") shouldBe meanNorm
    r.getAs[Double]("norm_of_mean") shouldBe r6(math.sqrt(nm2))
    r.getAs[Double]("anisotropy_ratio") shouldBe
      r6(math.sqrt(nm2) / meanNorm)
    r.getAs[Double]("avg_pairwise_cos") shouldBe
      r6((nd * nd * nu2 - nd) / (nd * (nd - 1.0)))
  }
}
