package graft.ops

import graft.GraftTestBase
import graft.dedup.Dedup
import graft.Scratch.{bandKeys, docTexts, fingerprints, kgrams, md5hex, rd,
  signature, toks}

/** THIRD-IMPLEMENTATION battery, batch 12: the document-dedup family.
  *
  * DedupSpec pins planted cases, recall contracts, and a driver-side
  * union-find for the clusters; containment already has a brute-force
  * replica. What was still two-mirrored-implementations deep: the exact
  * Jaccard pair list, the LSH band collisions, the calibration table's
  * estimator-vs-exact rows, the 16-bit SimHash itself, and the span
  * census. Each test below recomputes from raw text with plain Scala
  * sets/loops — brute-force over all C(500,2) pairs where the engine
  * uses posting lists, so the pairing machinery is cross-checked too.
  */
class ThirdImplSpec12 extends GraftTestBase {

  private def orderedPairs[A](xs: Vector[A]): Iterator[(A, A)] =
    xs.iterator.zipWithIndex.flatMap { case (a, i) =>
      xs.drop(i + 1).iterator.map(b => (a, b))
    }

  behavior of "Dedup.ngramJaccard (q_dedup_jaccard) vs brute-force set Jaccard"

  it should "match every reported pair and its exact Jaccard" in {
    val sets = docTexts.map { case (id, t) => (id, kgrams(toks(t), 3).toSet) }
    val expected = orderedPairs(sets).flatMap { case ((a, sa), (b, sb)) =>
      val ni = (sa & sb).size.toLong
      val j = ni.toDouble / (sa.size + sb.size - ni)
      if (ni > 0 && j >= 0.2) Some((a, b, j)) else None
    }.toVector.sorted
    val got = Dedup.ngramJaccard(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Double]("jaccard"))).toVector.sorted
    got shouldBe expected
  }

  behavior of "Dedup.minhashLsh (q_dedup_minhash) vs scratch band collisions"

  it should "match every candidate pair's shared-band count" in {
    val keys = docTexts.map { case (id, t) =>
      (id, bandKeys(signature(fingerprints(t))))
    }
    val expected = orderedPairs(keys).flatMap { case ((a, ka), (b, kb)) =>
      val shared = (0 until Dedup.numBands).count(i => ka(i) == kb(i)).toLong
      if (shared > 0) Some((a, b, shared)) else None
    }.toVector.sorted
    val got = Dedup.minhashLsh(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("n_bands_shared"))).toVector.sorted
    got shouldBe expected
  }

  behavior of "Dedup.minhashCalibration (q_minhash_calib) vs scratch estimator rows"

  it should "match pair counts and exact-Jaccard aggregates per agreement level" in {
    val base = docTexts.map { case (id, t) =>
      val fp = fingerprints(t).distinct
      (id, fp.toSet, signature(fp))
    }
    val perPair = orderedPairs(base).flatMap {
      case ((_, fa, sa), (_, fb, sb)) =>
        val collide = bandKeys(sa).zip(bandKeys(sb)).exists(p => p._1 == p._2)
        if (!collide) None
        else {
          val est16 = (0 until Dedup.numHashes).count(i => sa(i) == sb(i))
          val ni = (fa & fb).size.toLong
          val nu = math.max(fa.size.toLong + fb.size.toLong - ni, 1L)
          Some((est16, ni, nu))
        }
    }.toVector
    val expected = perPair.groupBy(_._1).toVector.map { case (est, ps) =>
      val sumI = ps.map(_._2).sum
      val sumU = ps.map(_._3).sum
      val js = ps.map(p => p._2.toDouble / p._3)
      (est, ps.size.toLong, sumI, sumU, rd(sumI.toDouble / sumU, 6),
        rd(js.min, 6), rd(js.max, 6))
    }.sortBy(_._1)
    val got = Dedup.minhashCalibration(spark, sf).collect()
      .map(r => (r.getAs[Int]("est16"), r.getAs[Long]("n_pairs"),
        r.getAs[Long]("sum_inter"), r.getAs[Long]("sum_union"),
        r.getAs[Double]("micro_jaccard"), r.getAs[Double]("min_jaccard"),
        r.getAs[Double]("max_jaccard"))).toVector.sortBy(_._1)
    got shouldBe expected
  }

  behavior of "Dedup.simhashDedup (q_dedup_simhash) vs scratch bit arithmetic"

  it should "match every doc's 16-bit hash and hamming<=1 partner count" in {
    def sh16(ws: Array[String]): Long =
      (0 until Dedup.simhashBits).map { i =>
        val bitSum = ws.map(w => if (md5hex(w).charAt(i) >= '8') 1 else -1).sum
        if (bitSum > 0) 1L << i else 0L
      }.sum
    val hashes = docTexts.map { case (id, t) => (id, sh16(toks(t))) }
    val partners: Map[Long, Long] = orderedPairs(hashes)
      .collect { case ((a, ha), (b, hb))
        if java.lang.Long.bitCount(ha ^ hb) <= 1 => Seq(a, b) }
      .flatten.toVector.groupBy(identity)
      .map { case (id, xs) => id -> xs.size.toLong }
    val expected = hashes.map { case (id, h) =>
      (id, h, partners.getOrElse(id, 0L))
    }
    val got = Dedup.simhashDedup(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("simhash"),
        r.getAs[Long]("n_near_dups"))).toVector.sortBy(_._1)
    got shouldBe expected
  }

  behavior of "Dedup.spanDedup (q_span_dedup) vs a scratch sliding-span census"

  it should "match span counts, shared fractions, and flags for every doc" in {
    val spanSets = docTexts.flatMap { case (id, t) =>
      val ws = toks(t)
      if (ws.length < Dedup.spanLen) None
      else Some((id, kgrams(ws, Dedup.spanLen).map(md5hex).toSet))
    }
    val df: Map[String, Int] = spanSets.flatMap(_._2)
      .groupBy(identity).map { case (k, xs) => k -> xs.size }
    val expected = spanSets.map { case (id, spans) =>
      val n = spans.size.toLong
      val shared = spans.count(df(_) >= 2).toLong
      val frac = rd(shared.toDouble / n, 4)
      (id, n, shared, frac, frac >= 0.2)
    }
    val got = Dedup.spanDedup(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_spans"),
        r.getAs[Long]("n_shared"), r.getAs[Double]("shared_frac"),
        r.getAs[Boolean]("is_span_dup"))).toVector.sortBy(_._1)
    got shouldBe expected
  }
}
