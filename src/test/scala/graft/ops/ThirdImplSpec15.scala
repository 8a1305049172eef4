package graft.ops

import graft.GraftTestBase
import graft.similarity.Similarity
import graft.Scratch.rd

/** THIRD-IMPLEMENTATION battery, batch 15: the embedding-space audits
  * and ANN index paths not yet covered by a from-scratch replica —
  * hubness (exact-integer k-occurrence moments), cluster validity
  * (Davies–Bouldin / Calinski–Harabasz on the rounded centroid grid),
  * the IVF coarse quantizer build, and BOTH approximate top-k paths
  * (sign-random-projection LSH and IVF probing), whose bucket and probe
  * assignments DuckDB cannot reproduce — until now they were graded
  * only by recall contracts. Each test recomputes the full artifact
  * from the raw parquet floats with plain Scala loops: its own md5
  * hyperplanes, its own in-order cosine folds, its own BigInt moments.
  */
class ThirdImplSpec15 extends GraftTestBase {

  private lazy val embs: Vector[(Long, Array[Float], Int)] =
    graft.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding", "label").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getInt(2)))
      .toVector.sortBy(_._1)

  /** The engine's cosine: in-order double fold over float elements. */
  private def cos(a: Array[Float], b: Array[Float]): Double = {
    val n = math.min(a.length, b.length)
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < n) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; nx += x * x; ny += y * y
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }

  private def topIds(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
      r.getAs[Long]("cand_id"), r.getAs[Double]("cosine")))
    .toVector.sortBy(x => (x._1, x._2))

  behavior of "Similarity.hubnessAudit (q_hubness) vs scratch k-occurrence moments"

  it should "match hub counts and the exact-moment skewness" in {
    val anchors = embs.filter(_._1 % Similarity.hubAnchorMod == 0)
    val occ = scala.collection.mutable.Map.empty[Long, Long]
    anchors.foreach { case (aid, aEmb, _) =>
      embs.filter(_._1 != aid)
        .map { case (id, e, _) =>
          (1000L - rd(cos(aEmb, e) * 1000, 0).toLong, id)
        }
        .sorted.take(Similarity.hubK)
        .foreach { case (_, nb) => occ(nb) = occ.getOrElse(nb, 0L) + 1L }
    }
    val cs = embs.map(e => occ.getOrElse(e._1, 0L))
    val n = BigInt(cs.size)
    val s1 = cs.map(BigInt(_)).sum
    val s2 = cs.map(c => BigInt(c) * c).sum
    val s3 = cs.map(c => BigInt(c) * c * c).sum
    val skew = rd((n * n * s3 - 3 * n * s1 * s2 + 2 * s1 * s1 * s1).toDouble /
      math.pow((n * s2 - s1 * s1).toDouble, 1.5), 6)
    val expected = (cs.size.toLong, anchors.size.toLong, Similarity.hubK,
      cs.max, cs.count(_ >= 2L * Similarity.hubK).toLong,
      cs.count(_ == 0L).toLong, skew)
    val got = Similarity.hubnessAudit(spark, sf).collect().map(r =>
      (r.getAs[Long]("n_vectors"), r.getAs[Long]("n_anchors"),
        r.getAs[Int]("k"), r.getAs[Long]("max_k_occurrence"),
        r.getAs[Long]("n_hubs"), r.getAs[Long]("n_antihubs"),
        r.getAs[Double]("skewness"))).toVector
    got shouldBe Vector(expected)
  }

  behavior of "Similarity.labelCentroids (q_centroids) vs scratch per-dim means"

  it should "match every (label, dim) centroid on the 4dp grid" in {
    val dim = embs.head._2.length
    val expected = embs.groupBy(_._3).toVector.flatMap { case (lbl, vs) =>
      (0 until dim).map { d =>
        val m = rd(vs.map(_._2(d).toDouble).sum / vs.size, 4)
        (lbl, d, if (m == 0.0) 0.0 else m, vs.size.toLong)
      }
    }.sortBy(x => (x._1, x._2))
    val got = Similarity.labelCentroids(spark, sf).collect()
      .map(r => (r.getAs[Int]("label"), r.getAs[Int]("dim"),
        r.getAs[Double]("centroid_v"), r.getAs[Long]("n_vectors")))
      .toVector.sortBy(x => (x._1, x._2))
    got shouldBe expected
  }

  behavior of "Similarity.lshTopK (q_knn_lsh) vs scratch hyperplane buckets"

  it should "match the candidate buckets and ranked neighbors exactly" in {
    val dim = embs.head._2.length
    // the engine's deterministic hyperplanes, re-derived: dimension i of
    // plane p is +1 iff md5("p:i")'s first byte has its high bit set
    val signs = Array.tabulate(Similarity.nTables * Similarity.nPlanes, dim) {
      (p, i) =>
        val h = java.security.MessageDigest.getInstance("MD5")
          .digest(s"$p:$i".getBytes("UTF-8"))
        (if ((h(0) & 0x80) != 0) 1 else -1).toByte
    }
    def buckets(v: Array[Float]): Array[Int] =
      Array.tabulate(Similarity.nTables) { t =>
        (0 until Similarity.nPlanes).foldLeft(0) { (acc, b) =>
          val plane = signs(t * Similarity.nPlanes + b)
          var dot = 0.0
          var i = 0
          while (i < dim) { dot += v(i) * plane(i); i += 1 }
          if (dot > 0) acc | (1 << b) else acc
        }
      }
    val all = embs.map { case (id, e, _) => (id, e, buckets(e)) }
    val queries = all.filter(_._1 < Similarity.nQueries)
    val expected = queries.flatMap { case (qid, qEmb, qb) =>
      all.filter { case (cid, _, cb) =>
        cid != qid && qb.indices.exists(t => qb(t) == cb(t))
      }
        .map { case (cid, cEmb, _) => (rd(cos(qEmb, cEmb), 4), cid) }
        .sortBy { case (c, id) => (-c, id) }
        .take(Similarity.topK).zipWithIndex
        .map { case ((c, cid), i) => (qid, i + 1, cid, c) }
    }.sortBy(x => (x._1, x._2))
    topIds(Similarity.lshTopK(spark, sf)) shouldBe expected
  }

  behavior of "Similarity.ivfTopK (q_knn_ivf) vs scratch coarse probing"

  it should "match the probe assignment and ranked neighbors exactly" in {
    val dim = embs.head._2.length
    val cents: Map[Int, Array[Float]] = embs.groupBy(_._3)
      .map { case (lbl, vs) =>
        lbl -> Array.tabulate(dim)(d =>
          (vs.map(_._2(d).toDouble).sum / vs.size).toFloat)
      }
    val expected = embs.filter(_._1 < Similarity.nQueries)
      .flatMap { case (qid, qEmb, _) =>
        val probed = cents.toVector
          .map { case (lbl, c) => (cos(qEmb, c), lbl) }
          .sortBy { case (s, lbl) => (-s, lbl) }
          .take(3).map(_._2).toSet
        embs.filter(e => probed(e._3) && e._1 != qid)
          .map { case (cid, cEmb, _) => (rd(cos(qEmb, cEmb), 4), cid) }
          .distinct
          .sortBy { case (c, id) => (-c, id) }
          .take(Similarity.topK).zipWithIndex
          .map { case ((c, cid), i) => (qid, i + 1, cid, c) }
      }.sortBy(x => (x._1, x._2))
    topIds(Similarity.ivfTopK(spark, sf)) shouldBe expected
  }

  behavior of "Similarity.clusterValidity (q_cluster_validity) vs scratch DB/CH"

  it should "match Davies-Bouldin and Calinski-Harabasz on the rounded grid" in {
    val dim = embs.head._2.length
    def l2(a: IndexedSeq[Double], b: IndexedSeq[Double]): Double = {
      var s = 0.0
      var i = 0
      while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
      rd(math.sqrt(s), 4)
    }
    val byLabel = embs.groupBy(_._3)
    val cents: Map[Int, IndexedSeq[Double]] = byLabel.map { case (lbl, vs) =>
      lbl -> (0 until dim).map(d => rd(vs.map(_._2(d).toDouble).sum / vs.size, 4))
    }
    val grand: IndexedSeq[Double] = (0 until dim).map(d =>
      rd(embs.map(_._2(d).toDouble).sum / embs.size, 4))
    val own = byLabel.map { case (lbl, vs) =>
      val ds = vs.map(v => l2(v._2.map(_.toDouble).toIndexedSeq, cents(lbl)))
      (lbl, vs.size.toLong, rd(ds.sum / ds.size, 4),
        rd(ds.map(d => d * d).sum / ds.size, 4))
    }.toVector.sortBy(_._1)
    val k = own.size
    val n = own.map(_._2).sum
    val dbSum = own.map { case (li, _, si, _) =>
      own.filter(_._1 != li).map { case (lj, _, sj, _) =>
        rd((si + sj) / l2(cents(li), cents(lj)), 6)
      }.max
    }.sum
    val between = own.map { case (lbl, ni, _, _) =>
      val dg = l2(cents(lbl), grand)
      ni.toDouble * dg * dg
    }.sum
    val within = own.map { case (_, ni, _, wi) => ni.toDouble * wi }.sum
    val expected = (k.toLong, n,
      rd(dbSum / k.toDouble, 4),
      rd((between / (k - 1.0)) / (within / (n - k).toDouble), 4))
    val got = Similarity.clusterValidity(spark, sf).collect().map(r =>
      (r.getAs[Long]("k"), r.getAs[Long]("n"),
        r.getAs[Double]("davies_bouldin"),
        r.getAs[Double]("calinski_harabasz"))).toVector
    got shouldBe Vector(expected)
  }
}
