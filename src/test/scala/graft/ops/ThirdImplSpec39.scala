package graft.ops

import graft.GraftTestBase
import graft.text.TextAnalysis
import graft.Scratch.{r4, r6, toks}

/** THIRD-IMPLEMENTATION battery, batch 39: the text/LM corpus family
  * members still unpinned after batches 9–10 and 34 — token entropy,
  * the length histogram, the BPE pair census, the source-vocabulary
  * overlap, interpolated Kneser–Ney scoring, the blocked Jaro–Winkler
  * linkage (with a from-scratch JW implementation against the pinned
  * conventions), and the deterministic grouped mode.
  *
  * Doctrine unchanged: rebuild every statistic from raw parquet rows
  * with plain Scala collections (mutable maps and index loops where
  * the engines run wordcount shuffles and window censuses), then pin
  * the engine rows to the scratch values.
  */
class ThirdImplSpec39 extends GraftTestBase {

  private lazy val docRows: Array[(Long, String, String, String)] =
    graft.Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3)))

  behavior of "tokenEntropy (q_entropy) vs a scratch wordcount"

  it should "match token counts and Shannon entropy per source" in {
    val expect = docRows.groupBy(_._4).map { case (src, docs) =>
      val counts = scala.collection.mutable.Map.empty[String, Long]
      docs.foreach(d => toks(d._2).foreach(t =>
        counts(t) = counts.getOrElse(t, 0L) + 1))
      val n = counts.values.sum
      val sClnC = counts.values.map(c => c * math.log(c.toDouble)).sum
      src -> (n, counts.size.toLong, -sClnC / n + math.log(n.toDouble))
    }
    val out = TextAnalysis.tokenEntropy(spark, sf).collect()
    out.length shouldBe expect.size
    out.foreach { r =>
      val (n, dis, h) = expect(r.getAs[String]("source"))
      r.getAs[Long]("n_tokens") shouldBe n
      r.getAs[Long]("n_distinct") shouldBe dis
      r.getAs[Double]("entropy") shouldBe (r4(h) +- 1e-9)
    }
  }

  behavior of "lengthHistogram (q_len_histogram) vs scratch buckets"

  it should "match every (lang, bucket) document count" in {
    val expect = docRows
      .groupBy(d => (d._3, toks(d._2).length / 10 * 10))
      .map { case (k, ds) => k -> ds.length.toLong }
    val out = TextAnalysis.lengthHistogram(spark, sf).collect()
    out.length shouldBe expect.size
    out.foreach { r =>
      expect((r.getAs[String]("lang"), r.getAs[Int]("len_bucket"))) shouldBe
        r.getAs[Long]("n_docs")
    }
  }

  behavior of "bpePairCensus (q_bpe_merges) vs a scratch vocab walk"

  it should "match the top-20 weighted character pairs" in {
    val vocab = scala.collection.mutable.Map.empty[String, Long]
    docRows.foreach(d => toks(d._2).foreach(t =>
      vocab(t) = vocab.getOrElse(t, 0L) + 1))
    val pairs = scala.collection.mutable.Map.empty[String, Long]
    vocab.foreach { case (tok, n) =>
      if (tok.length >= 2)
        tok.sliding(2).foreach(p => pairs(p) = pairs.getOrElse(p, 0L) + n)
    }
    val expect = pairs.toVector.sortBy { case (p, n) => (-n, p) }.take(20)
    val out = TextAnalysis.bpePairCensus(spark, sf).collect()
    out.length shouldBe expect.length
    out.zip(expect).foreach { case (r, (p, n)) =>
      r.getAs[String]("pair") shouldBe p
      r.getAs[Long]("n_occurrences") shouldBe n
    }
  }

  behavior of "sourceOverlap (q_coverage_overlap) vs scratch sets"

  it should "match shared-vocabulary counts and Jaccard per pair" in {
    val vocabBySource = docRows.groupBy(_._4).map { case (src, ds) =>
      src -> ds.iterator.flatMap(d => toks(d._2)).toSet
    }
    val srcs = vocabBySource.keys.toVector.sorted
    val expect = (for {
      i <- srcs.indices; j <- (i + 1) until srcs.length
    } yield {
      val (a, b) = (srcs(i), srcs(j))
      val (va, vb) = (vocabBySource(a), vocabBySource(b))
      val shared = (va & vb).size.toLong
      (a, b) -> (va.size.toLong, vb.size.toLong, shared,
        shared.toDouble / (va.size + vb.size - shared))
    }).toMap
    val out = TextAnalysis.sourceOverlap(spark, sf).collect()
    out.length shouldBe expect.size
    out.foreach { r =>
      val (va, vb, shared, jac) =
        expect((r.getAs[String]("src_a"), r.getAs[String]("src_b")))
      r.getAs[Long]("v_a") shouldBe va
      r.getAs[Long]("v_b") shouldBe vb
      r.getAs[Long]("n_shared") shouldBe shared
      r.getAs[Double]("jaccard") shouldBe (r4(jac) +- 1e-9)
    }
  }

  behavior of "knBigramScore (q_kneser_ney) vs scratch KN smoothing"

  it should "match per-doc cross-entropy against a textbook KN fold" in {
    val dBig = docRows.map(d => (d._1, toks(d._2)))
      .filter(_._2.length >= 2)
      .map { case (id, w) =>
        (id, w.sliding(2).map(p => (p(0), p(1))).toVector)
      }
    // corpus bigram census and the three KN count relations
    val c2 = scala.collection.mutable.Map.empty[(String, String), Long]
    dBig.foreach(_._2.foreach(b => c2(b) = c2.getOrElse(b, 0L) + 1))
    val c1 = c2.groupBy(_._1._1).map { case (w1, m) => w1 -> m.values.sum }
    val n1p = c2.groupBy(_._1._1).map { case (w1, m) => w1 -> m.size.toLong }
    val pc = c2.groupBy(_._1._2).map { case (w2, m) => w2 -> m.size.toLong }
    val tt = c2.size.toLong
    val dD = 0.75
    val out = TextAnalysis.knBigramScore(spark, sf).collect()
    out.length shouldBe dBig.length
    val byDoc = dBig.toMap
    out.foreach { r =>
      val bs = byDoc(r.getAs[Long]("doc_id"))
      val tf = scala.collection.mutable.Map.empty[(String, String), Long]
      bs.foreach(b => tf(b) = tf.getOrElse(b, 0L) + 1)
      val n = bs.length.toLong
      val singletons = tf.iterator
        .filter { case (b, _) => c2(b) == 1L }.map(_._2).sum
      var sln = 0.0
      tf.foreach { case (b @ (w1, w2), f) =>
        val p = (math.max(c2(b) - dD, 0.0) +
          dD * n1p(w1) * (pc(w2).toDouble / tt)) / c1(w1)
        sln += f * math.log(p)
      }
      r.getAs[Long]("n_bigrams") shouldBe n
      r.getAs[Long]("n_singleton_bigrams") shouldBe singletons
      r.getAs[Double]("cross_entropy_kn") shouldBe (r4(-sln / n) +- 1e-4)
    }
  }

  /** From-scratch Jaro–Winkler with the suite's pinned conventions
    * (match window max(⌊max/2⌋−1, 0), integer transposition halving,
    * 0.7 boost gate, prefix ≤ 4, empty → 0) — written over Strings
    * with index arrays, structurally unlike the UTF8String byte-walk
    * in graft.functions.JaroWinkler. */
  private def scratchJw(a: String, b: String): Double = {
    if (a.isEmpty || b.isEmpty) return 0.0
    if (a == b) return 1.0
    val win = math.max(math.max(a.length, b.length) / 2 - 1, 0)
    val bTaken = new Array[Boolean](b.length)
    val aIdx = scala.collection.mutable.ArrayBuffer.empty[Int]
    val bIdx = scala.collection.mutable.ArrayBuffer.empty[Int]
    for (i <- a.indices) {
      var j = math.max(0, i - win)
      val hi = math.min(b.length - 1, i + win)
      var found = false
      while (j <= hi && !found) {
        if (!bTaken(j) && a(i) == b(j)) {
          bTaken(j) = true; aIdx += i; bIdx += j; found = true
        }
        j += 1
      }
    }
    val m = aIdx.length
    if (m == 0) return 0.0
    val bOrdered = bIdx.sorted
    val t = aIdx.indices.count(k => a(aIdx(k)) != b(bOrdered(k)))
    val jaro = (m.toDouble / a.length + m.toDouble / b.length +
      (m.toDouble - t / 2) / m) / 3.0
    if (jaro <= 0.7) return jaro
    val l = a.zip(b).take(4).takeWhile { case (x, y) => x == y }.length
    jaro + l * 0.1 * (1.0 - jaro)
  }

  behavior of "jaroWinklerPairs (q_jaro_winkler) vs a scratch JW"

  it should "match every blocked pair's similarity and counts" in {
    val names = graft.Tables.part(spark, sf)
      .select("p_name").collect().map(_.getString(0))
      .groupBy(identity).map { case (n, xs) => n -> xs.length.toLong }
    val byBlock = names.keys.toVector.groupBy(_.split(" ", -1)(0))
    val expect = (for {
      blk <- byBlock.valuesIterator
      sorted = blk.sorted
      i <- sorted.indices.iterator; j <- (i + 1 until sorted.length).iterator
      jw = scratchJw(sorted(i), sorted(j))
      if jw >= 0.8
    } yield (sorted(i), sorted(j)) ->
      (jw, names(sorted(i)), names(sorted(j)))).toMap
    val out = graft.dedup.Dedup.jaroWinklerPairs(spark, sf).collect()
    out.length shouldBe expect.size
    out.foreach { r =>
      val (jw, na, nb) =
        expect((r.getAs[String]("name_a"), r.getAs[String]("name_b")))
      r.getAs[Double]("jw_sim") shouldBe (r6(jw) +- 1e-9)
      r.getAs[Long]("n_a") shouldBe na
      r.getAs[Long]("n_b") shouldBe nb
    }
  }

  behavior of "modeSegmentByNation (q_mode) vs a scratch argmax"

  it should "match every nation's modal segment under the tie pin" in {
    val custs = graft.Tables.customer(spark, sf)
      .select("c_nationkey", "c_mktsegment").collect()
      .map(r => (r.getInt(0), r.getString(1)))
    val expect = custs.groupBy(_._1).map { case (nk, rs) =>
      val counts = rs.groupBy(_._2).toVector.map { case (seg, xs) =>
        (xs.length.toLong, seg)
      }
      nk -> counts.max // (n, segment) lexicographic, the engine pin
    }
    val out = Analytics.modeSegmentByNation(spark, sf).collect()
    out.length shouldBe expect.size
    out.foreach { r =>
      val (n, seg) = expect(r.getAs[Int]("c_nationkey"))
      r.getAs[String]("mode_segment") shouldBe seg
      r.getAs[Long]("n_customers") shouldBe n
    }
  }
}
