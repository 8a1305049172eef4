package graft.ops

import graft.GraftTestBase
import graft.multimodal.Multimodal
import graft.Scratch.{metas, rd}

/** THIRD-IMPLEMENTATION battery, batch 16: the multimodal image family.
  *
  * The Spark side decodes REAL P6 payloads; the oracle mirrors the
  * generation contract in closed form (triangular sums, interval
  * overlaps). A bug in the shared contract constants would fool both.
  * Each test below recomputes the artifact from the contract DIRECTLY —
  * width/height from the UTF-8 byte length primes, the (seed + i) mod
  * 256 sawtooth, the nearest-neighbor index map — with plain Scala
  * loops over every pixel byte, never calling the Ppm codec and never
  * using the closed forms.
  */
class ThirdImplSpec16 extends GraftTestBase {

  private def pixel(seed: Int, i: Int): Int = (seed + i) % 256

  /** Scratch aHash: nearest-neighbor 8x8 sample, luminance mean bits. */
  private def ahash(w: Int, h: Int, seed: Int): (Long, Long, Int) = {
    val dim = Multimodal.ahashDim
    val lums = Array.tabulate(dim * dim) { p =>
      val (y, x) = (p / dim, p % dim)
      val si = ((y * h / dim) * w + (x * w / dim)) * 3
      (0 until 3).map(k => pixel(seed, si + k).toLong).sum
    }
    val total = lums.sum
    var hi = 0L; var lo = 0L; var c = 0
    for (p <- 0 until dim * dim if lums(p) * dim * dim > total) {
      c += 1
      if (p < 32) lo |= 1L << p else hi |= 1L << (p - 32)
    }
    (hi, lo, c)
  }

  private lazy val hashes: Vector[(Long, Long, Long)] =
    metas.map { case (id, w, h, a) =>
      val (hi, lo, _) = ahash(w, h, a)
      (id, hi, lo)
    }

  /** Band-bucketed candidate pairs (ma < mb) with exact Hamming. */
  private lazy val candidatePairs: Vector[(Long, Long, Int)] = {
    def bands(hi: Long, lo: Long): Vector[Long] =
      Vector(lo & 65535L, lo >> 16, hi & 65535L, hi >> 16)
    (for {
      i <- hashes.indices.iterator
      j <- (i + 1) until hashes.size
      (ia, ih, il) = hashes(i)
      (ja, jh, jl) = hashes(j)
      if bands(ih, il).zip(bands(jh, jl)).exists(p => p._1 == p._2)
    } yield (ia, ja,
      java.lang.Long.bitCount(ih ^ jh) + java.lang.Long.bitCount(il ^ jl)))
      .toVector
  }

  behavior of "Multimodal.decodeCensus (q_media_census) vs a scratch byte loop"

  it should "match dimensions, byte counts, and pixel sums per image" in {
    val expected = metas.map { case (id, w, h, a) =>
      val n = w * h * 3
      val sum = (0 until n).map(i => pixel(a, i).toLong).sum
      (id, w, h, n.toLong, sum, rd(sum.toDouble / n, 4))
    }
    val got = Multimodal.decodeCensus(spark, sf).collect()
      .map(r => (r.getAs[Long]("media_id"), r.getAs[Int]("width"),
        r.getAs[Int]("height"), r.getAs[Long]("n_pixel_bytes"),
        r.getAs[Long]("pixel_sum"), r.getAs[Double]("mean_byte")))
      .toVector.sortBy(_._1)
    got shouldBe expected
  }

  behavior of "Multimodal.histogramCensus (q_media_hist) vs scratch band loops"

  it should "match every luminance-band count per image" in {
    val expected = metas.map { case (id, w, h, a) =>
      val n = w * h * 3
      val bands = new Array[Long](4)
      (0 until n).foreach(i => bands(pixel(a, i) >> 6) += 1)
      (id, n.toLong, bands(0), bands(1), bands(2), bands(3))
    }
    val got = Multimodal.histogramCensus(spark, sf).collect()
      .map(r => (r.getAs[Long]("media_id"), r.getAs[Long]("n_pixel_bytes"),
        r.getAs[Long]("h0"), r.getAs[Long]("h1"), r.getAs[Long]("h2"),
        r.getAs[Long]("h3"))).toVector.sortBy(_._1)
    got shouldBe expected
  }

  behavior of "Multimodal.ahashCensus (q_ahash) vs a scratch resample + bit pack"

  it should "match both hash words and the popcount per image" in {
    val expected = metas.map { case (id, w, h, a) =>
      val (hi, lo, c) = ahash(w, h, a)
      (id, hi, lo, c)
    }
    val got = Multimodal.ahashCensus(spark, sf).collect()
      .map(r => (r.getAs[Long]("media_id"), r.getAs[Long]("ahash_hi"),
        r.getAs[Long]("ahash_lo"), r.getAs[Int]("bits_set")))
      .toVector.sortBy(_._1)
    got shouldBe expected
  }

  behavior of "Multimodal.ahashNearDup (q_ahash_neardup) vs brute-force banding"

  it should "match the confirmed-distance histogram and candidate count" in {
    val nCand = candidatePairs.size.toLong
    val expected = candidatePairs
      .filter(_._3 <= Multimodal.ahashMaxHamming)
      .groupBy(_._3).toVector
      .map { case (hm, xs) => (hm, xs.size.toLong, nCand) }
      .sortBy(_._1)
    val got = Multimodal.ahashNearDup(spark, sf).collect()
      .map(r => (r.getAs[Int]("hamming"), r.getAs[Long]("n_pairs"),
        r.getAs[Long]("n_candidates"))).toVector.sortBy(_._1)
    got shouldBe expected
  }

  behavior of "Multimodal.mediaCurationFunnel (q_media_funnel) vs scratch stages"

  it should "match the decoded / exposure-ok / deduped attrition counts" in {
    val spreads = metas.map { case (id, w, h, a) =>
      val bands = new Array[Long](4)
      (0 until w * h * 3).foreach(i => bands(pixel(a, i) >> 6) += 1)
      (id, bands.max - bands.min)
    }
    val ok = spreads.collect {
      case (id, sp) if sp <= Multimodal.funnelMaxSpread => id
    }.toSet
    val dropped = candidatePairs.collect {
      case (ma, mb, hm)
        if hm <= Multimodal.funnelDupHamming && ok(ma) && ok(mb) => mb
    }.toSet
    val expected = Vector(
      (1, "decoded", metas.size.toLong),
      (2, "exposure_ok", ok.size.toLong),
      (3, "near_dup_pruned", (ok.size - dropped.size).toLong))
    val got = Multimodal.mediaCurationFunnel(spark, sf).collect()
      .map(r => (r.getAs[Int]("stage_id"), r.getAs[String]("stage"),
        r.getAs[Long]("n_images"))).toVector.sortBy(_._1)
    got shouldBe expected
  }
}
