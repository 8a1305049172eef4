package graft.ops

import graft.GraftTestBase
import graft.text.Curation
import graft.Scratch.{docs, md5hex, rd, toks}

/** THIRD-IMPLEMENTATION battery, batch 13: the masking / packing /
  * importance-resampling curation family.
  *
  * These censuses are hash-formula-dense (md5-derived starter and
  * action selections, prefix-sum interval cuts, hashed bucket
  * log-ratios) and until now rested on the Spark expression and its
  * hand-mirrored oracle SQL sharing every constant. Each test below
  * recomputes the full artifact from raw text with plain Scala loops —
  * its own md5 arithmetic, its own running totals.
  */
class ThirdImplSpec13 extends GraftTestBase {

  /** First-k-hex-chars md5 hash as a long — the engines' conv() idiom. */
  private def mdMod(s: String, hexLen: Int): Long =
    java.lang.Long.parseLong(md5hex(s).take(hexLen), 16)

  behavior of "Curation.spanCorruption (q_span_corruption) vs scratch T5 masking"

  it should "match tokens, masked, spans, and sentinels per source" in {
    val perDoc = docs.map { case (id, text, _, src) =>
      val n = toks(text).length
      val st = (0 until n)
        .filter(i => mdMod(s"$id:$i", 8) % 20 == 0).toSet
      val masked = (0 until n)
        .count(j => st(j) || st(j - 1) || st(j - 2)).toLong
      val sentinels = st.count(x => !st(x - 1) && !st(x - 2)).toLong
      (src, n.toLong, st.size.toLong, masked, sentinels)
    }
    val expected = perDoc.groupBy(_._1).toVector.map { case (src, ds) =>
      val tokens = ds.map(_._2).sum
      val masked = ds.map(_._4).sum
      (src, ds.size.toLong, tokens, masked, ds.map(_._3).sum,
        ds.map(_._5).sum,
        if (tokens == 0) 0.0 else rd(masked.toDouble / tokens, 6))
    }.sortBy(_._1)
    val got = Curation.spanCorruption(spark, sf).collect()
      .map(r => (r.getAs[String]("source"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("tokens"), r.getAs[Long]("masked"),
        r.getAs[Long]("spans"), r.getAs[Long]("sentinels"),
        r.getAs[Double]("mask_ratio"))).toVector.sortBy(_._1)
    got shouldBe expected
  }

  behavior of "Curation.mlmMasking (q_mlm_mask) vs scratch BERT 80/10/10"

  it should "match selected/mask/rand/keep counts per language" in {
    val perDoc = docs.map { case (id, text, lang, _) =>
      val n = toks(text).length
      val sel = (0 until n).filter(i => mdMod(s"$id:m:$i", 8) % 100 < 15)
      val nMask = sel.count(i => mdMod(s"$id:a:$i", 8) % 10 < 8).toLong
      val nRand = sel.count(i => mdMod(s"$id:a:$i", 8) % 10 == 8).toLong
      (lang, n.toLong, sel.size.toLong, nMask, nRand)
    }
    val expected = perDoc.groupBy(_._1).toVector.map { case (lang, ds) =>
      val tokens = ds.map(_._2).sum
      val selected = ds.map(_._3).sum
      val maskT = ds.map(_._4).sum
      val randT = ds.map(_._5).sum
      (lang, ds.size.toLong, tokens, selected, maskT, randT,
        selected - maskT - randT,
        if (tokens == 0) 0.0 else rd(selected.toDouble / tokens, 6))
    }.sortBy(_._1)
    val got = Curation.mlmMasking(spark, sf).collect()
      .map(r => (r.getAs[String]("lang"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("tokens"), r.getAs[Long]("selected"),
        r.getAs[Long]("mask_tok"), r.getAs[Long]("rand_tok"),
        r.getAs[Long]("keep_tok"), r.getAs[Double]("mask_rate")))
      .toVector.sortBy(_._1)
    got shouldBe expected
  }

  behavior of "Curation.padWaste (q_pad_waste) vs scratch bucket sums"

  it should "match every bucket's doc/real/padded counts and waste ratio" in {
    val bucketed = docs.map { case (_, text, _, _) =>
      val n = math.min(toks(text).length.toLong, Curation.padMaxLen)
      val b = math.min(
        (n + Curation.padBucket - 1) / Curation.padBucket * Curation.padBucket,
        Curation.padMaxLen)
      (b, n)
    }
    val expected = bucketed.groupBy(_._1).toVector.map { case (b, xs) =>
      val real = xs.map(_._2).sum
      val padded = b * xs.size
      (b, xs.size.toLong, real, padded,
        rd((padded - real).toDouble / padded.toDouble, 6))
    }.sortBy(_._1)
    val got = Curation.padWaste(spark, sf).collect()
      .map(r => (r.getAs[Long]("bucket_len"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("real_tokens"), r.getAs[Long]("padded_tokens"),
        r.getAs[Double]("waste_ratio"))).toVector.sortBy(_._1)
    got shouldBe expected
  }

  behavior of "Curation.packShards / packShardsDist (q_pack_shards) vs scratch prefix sums"

  it should "match the exclusive-prefix-sum shard assignment doc by doc" in {
    var cum = 0L
    val expected = docs.map { case (id, text, _, _) =>
      val n = toks(text).length.toLong
      val row = (id, n, cum / Curation.shardBudget)
      cum += n
      row
    }
    def read(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_tokens"),
        r.getAs[Long]("shard_id"))).toVector.sortBy(_._1)
    read(Curation.packShards(spark, sf)) shouldBe expected
    read(Curation.packShardsDist(spark, sf)) shouldBe expected
  }

  behavior of "Curation.seqPackCensus (q_seq_pack) vs a scratch interval cut"

  it should "match per-sequence doc/contained/straddling counts" in {
    var cum = 0L
    val spans = docs.map { case (_, text, _, _) =>
      val n = toks(text).length.toLong
      val first = cum / Curation.seqLen
      cum += n
      (first, (cum - 1) / Curation.seqLen)
    }
    val expected = spans.flatMap { case (f, l) =>
      (f to l).map(seq => (seq, f, l))
    }.groupBy(_._1).toVector.map { case (seq, xs) =>
      (seq, xs.size.toLong,
        xs.count(x => x._2 == seq && x._3 == seq).toLong,
        xs.count(_._3 > seq).toLong)
    }.sortBy(_._1)
    val got = Curation.seqPackCensus(spark, sf).collect()
      .map(r => (r.getAs[Long]("seq_id"), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_contained"), r.getAs[Long]("n_straddling")))
      .toVector.sortBy(_._1)
    got shouldBe expected
  }

  behavior of "Curation.dsirWeights (q_dsir) vs scratch bucket log-ratios"

  it should "match the top-20 docs' weights from a scratch census" in {
    val b = 64L
    val docBuckets = docs.map { case (id, text, lang, src) =>
      (id, lang, src, toks(text).map(t => mdMod(t, 15) % b))
    }
    val cr = docBuckets.flatMap(_._4).groupBy(identity)
      .map { case (k, xs) => k -> xs.size.toLong }
    val ct = docBuckets.filter(_._2 == "en").flatMap(_._4)
      .groupBy(identity).map { case (k, xs) => k -> xs.size.toLong }
        .withDefaultValue(0L)
    val nr = cr.values.sum
    val nt = ct.values.sum
    val lr: Map[Long, Double] = cr.map { case (k, c) =>
      k -> (math.log((ct(k) + 1).toDouble / (nt + b).toDouble) -
        math.log((c + 1).toDouble / (nr + b).toDouble))
    }
    val expected = docBuckets.map { case (id, lang, src, bs) =>
      val lw = bs.groupBy(identity)
        .map { case (k, xs) => xs.length.toDouble * lr(k) }.sum
      (id, lang, src, bs.length.toLong, rd(lw, 4),
        rd(lw / bs.length.toDouble, 4))
    }.sortBy(x => (-x._6, x._1)).take(20)
    val got = Curation.dsirWeights(spark, sf).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("lang"),
        r.getAs[String]("source"), r.getAs[Long]("n_toks"),
        r.getAs[Double]("log_weight"),
        r.getAs[Double]("log_weight_per_tok"))).toVector
    got shouldBe expected
  }
}
