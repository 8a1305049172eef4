package graft.ops

import graft.GraftTestBase
import graft.similarity.Similarity
import graft.Scratch.{cents, docRows, md5hex, r4, toks}

/** THIRD-IMPLEMENTATION battery, batch 42: curation-pipeline and
  * matching operators — coarsened exact matching, DBSCAN over the
  * embedding space, int8 quantization audit, the per-source document
  * cap, deterministic negative sampling, exact prefix dedup, and the
  * end-to-end curation funnel (exact dedup → quality cascade →
  * decontamination holdout) recomposed stage by stage from raw rows.
  *
  * Doctrine unchanged: plain-Scala recomputation from raw parquet —
  * union-find components where the engine iterates min-label
  * propagation, direct quadratic neighbor scans where it blocks, and
  * per-doc set algebra where it runs broadcast joins.
  */
class ThirdImplSpec42 extends GraftTestBase {

  behavior of "cemAtt (q_cem) vs scratch strata pruning"

  it should "match the matched-strata ATT and the naive contrast" in {
    val cust = graft.Tables.customer(spark, sf)
      .select("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment")
      .collect().map { r =>
        val band = ((cents(r.getDouble(2)) + 100000L) / 200000L).toInt
        (r.getLong(0), r.getInt(1), band, r.getString(3) == "BUILDING")
      }
    val spend = graft.Tables.orders(spark, sf)
      .select("o_custkey", "o_totalprice").collect()
      .map(r => (r.getLong(0), cents(r.getDouble(1))))
      .groupBy(_._1).map { case (k, xs) => k -> xs.map(_._2).sum }
    val strata = cust.groupBy(c => (c._2, c._3)).map { case (k, cs) =>
      val t = cs.filter(_._4); val c0 = cs.filterNot(_._4)
      (k, t.length.toLong, c0.length.toLong,
        t.map(x => spend.getOrElse(x._1, 0L)).sum,
        c0.map(x => spend.getOrElse(x._1, 0L)).sum)
    }.toVector
    val matched = strata.filter(s => s._2 > 0 && s._3 > 0)
      .sortBy(_._1) // the engines' sorted-cell float-fold order
    val mtM = matched.map(_._2).sum
    var fold = 0.0
    matched.foreach { case (_, mt, mc, st, sc) =>
      fold += st - sc.toDouble * mt / mc
    }
    val att = fold / math.max(mtM, 1L)
    val mtAll = strata.map(_._2).sum; val mcAll = strata.map(_._3).sum
    val naive = strata.map(_._4).sum.toDouble / math.max(mtAll, 1L) -
      strata.map(_._5).sum.toDouble / math.max(mcAll, 1L)
    val r = Behavior.cemAtt(spark, sf).head()
    r.getAs[Long]("strata_total") shouldBe strata.length.toLong
    r.getAs[Long]("strata_matched") shouldBe matched.length.toLong
    r.getAs[Long]("treated_matched") shouldBe mtM
    r.getAs[Long]("control_matched") shouldBe matched.map(_._3).sum
    r.getAs[Long]("treated_pruned") shouldBe (mtAll - mtM)
    r.getAs[Double]("att_cents") shouldBe (r4(att) +- 1e-4)
    r.getAs[Double]("naive_diff_cents") shouldBe (r4(naive) +- 1e-4)
  }

  private lazy val vecs: Array[(Long, Array[Float])] =
    graft.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)

  /** Cosine with the engines' pinned shape: ascending-index double
    * accumulation, sqrt(Σx²)·sqrt(Σy²) denominator, rounded 4dp before
    * any threshold comparison. */
  private def cos4(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    for (k <- a.indices) {
      dot += a(k).toDouble * b(k).toDouble
      na += a(k).toDouble * a(k).toDouble
      nb += b(k).toDouble * b(k).toDouble
    }
    r4(dot / (math.sqrt(na) * math.sqrt(nb)))
  }

  behavior of "dbscanEmbeddings (q_dbscan) vs union-find components"

  it should "match every cluster's core and border census" in {
    val n = vecs.length
    val nbrs = Array.fill(n)(scala.collection.mutable.Set.empty[Int])
    for (i <- 0 until n; j <- (i + 1) until n)
      if (cos4(vecs(i)._2, vecs(j)._2) >= Similarity.dbscanEps) {
        nbrs(i) += j; nbrs(j) += i
      }
    val isCore = Array.tabulate(n)(i =>
      nbrs(i).size >= Similarity.dbscanMinPts - 1)
    // components of the core-core subgraph via union-find
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int =
      if (parent(x) == x) x else { parent(x) = find(parent(x)); parent(x) }
    for (i <- 0 until n if isCore(i); j <- nbrs(i) if isCore(j))
      parent(find(i)) = find(j)
    // min vec_id per component labels the cluster
    val compLabel = scala.collection.mutable.Map.empty[Int, Long]
    for (i <- 0 until n if isCore(i)) {
      val rt = find(i)
      compLabel(rt) =
        math.min(compLabel.getOrElse(rt, Long.MaxValue), vecs(i)._1)
    }
    val coreCensus = (0 until n).filter(isCore)
      .groupBy(i => compLabel(find(i)))
      .map { case (l, xs) => l -> xs.length.toLong }
    val borderCensus = (0 until n)
      .filter(i => !isCore(i) && nbrs(i).exists(isCore))
      .groupBy(i => nbrs(i).filter(isCore).map(j => compLabel(find(j))).min)
      .map { case (l, xs) => l -> xs.length.toLong }
    val out = Similarity.dbscanEmbeddings(spark, sf).collect()
    out.length shouldBe coreCensus.size
    out.foreach { r =>
      val l = r.getAs[Long]("cluster_id")
      r.getAs[Long]("n_core") shouldBe coreCensus(l)
      r.getAs[Long]("n_border") shouldBe borderCensus.getOrElse(l, 0L)
    }
  }

  behavior of "quantizeAudit (q_quantize) vs a scratch int8 codec"

  it should "match codes, L1 mass and the rounding bound per vector" in {
    val withLabel = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getSeq[Float](2).toArray))
    val out = Similarity.quantizeAudit(spark, sf).collect()
    out.length shouldBe withLabel.length
    val byId = withLabel.map(v => v._1 -> v).toMap
    out.foreach { r =>
      val (_, label, e) = byId(r.getAs[Long]("vec_id"))
      val scale = e.map(x => math.abs(x.toDouble)).max
      val q = e.map(x =>
        if (scale > 0) math.floor(x.toDouble * 127.0 / scale + 0.5).toLong
        else 0L)
      val maxDist =
        if (scale > 0)
          e.zip(q).map { case (x, qi) =>
            math.abs(x.toDouble * 127.0 / scale - qi)
          }.max
        else 0.0
      r.getAs[Int]("label") shouldBe label
      r.getAs[Double]("scale_r") shouldBe (r4(scale) +- 1e-9)
      r.getAs[Long]("q_sum") shouldBe q.sum
      r.getAs[Long]("q_l1") shouldBe q.map(math.abs).sum
      r.getAs[Double]("max_round_dist") shouldBe
        (BigDecimal(maxDist).setScale(6,
          BigDecimal.RoundingMode.HALF_UP).toDouble +- 1e-9)
      r.getAs[Boolean]("bound_ok") shouldBe (maxDist <= 0.5)
    }
  }

  behavior of "sourceCap (q_source_cap) vs a scratch per-source rank"

  it should "match kept/total docs and tokens per source" in {
    val rows = graft.Tables.documents(spark, sf)
      .select("source", "doc_id", "n_chars", "text").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        toks(r.getString(3)).length.toLong))
    val expect = rows.groupBy(_._1).map { case (src, ds) =>
      val ranked = ds.sortBy(d => (-d._3, d._2)).zipWithIndex
      val kept = ranked.filter(_._2 < 15).map(_._1)
      src -> (ds.length.toLong, kept.length.toLong,
        ds.map(_._4).sum, kept.map(_._4).sum)
    }
    val out = graft.text.Curation.sourceCap(spark, sf).collect()
    out.length shouldBe expect.size
    out.foreach { r =>
      val (nd, nk, tt, tk) = expect(r.getAs[String]("source"))
      r.getAs[Long]("n_docs") shouldBe nd
      r.getAs[Long]("n_kept") shouldBe nk
      r.getAs[Long]("tokens_total") shouldBe tt
      r.getAs[Long]("tokens_kept") shouldBe tk
    }
  }

  behavior of "negativeSampling (q_neg_sample) vs a scratch md5 walk"

  it should "match the surviving proposal multiset exactly" in {
    val positives = graft.Tables.orders(spark, sf)
      .select("o_orderkey", "o_custkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val lines = graft.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val custByOrder = positives.toMap
    val pos = lines.flatMap { case (ok, pk) =>
      custByOrder.get(ok).map(ck => (ck, pk))
    }.distinct
    val posSet = pos.toSet
    val domain = graft.Tables.part(spark, sf)
      .select("p_partkey").collect().map(_.getLong(0)).max + 1
    val expect = (for {
      (ck, pk) <- pos.iterator
      slot <- 0 until Training.negSlots
      neg = java.lang.Long.parseLong(
        md5hex(s"$ck|$pk|$slot").take(15), 16) % domain
      if !posSet.contains((ck, neg))
    } yield (ck, pk, slot.toLong, neg)).toVector.sorted
    val out = graft.ops.Training.negativeSampling(spark, sf).collect()
      .map(r => (r.getAs[Long]("custkey"), r.getAs[Long]("partkey"),
        r.getAs[Long]("slot"), r.getAs[Long]("neg_partkey")))
      .toVector.sorted
    out shouldBe expect
  }

  behavior of "exactDedup (q_dedup_exact) vs scratch prefix groups"

  it should "match every prefix group's winner and size" in {
    val expect = docRows
      .groupBy(d => md5hex(toks(d._2).take(8).mkString(" ")))
      .map { case (k, ds) =>
        k -> (ds.map(_._1).min, ds.length.toLong)
      }
    val out = graft.dedup.Dedup.exactDedup(spark, sf).collect()
    out.length shouldBe expect.size
    out.foreach { r =>
      val (kept, n) = expect(r.getAs[String]("prefix_key"))
      r.getAs[Long]("kept_doc_id") shouldBe kept
      r.getAs[Long]("n_members") shouldBe n
    }
  }

  behavior of "curationFunnel (q_curation_funnel) vs scratch stages"

  it should "match the attrition counts at every stage" in {
    // stage 1: exact text dedup winners
    val s1 = docRows.groupBy(_._2).values.map(_.map(_._1).min).toSet
    // stage 2: the Gopher-style cascade
    val s2 = docRows.filter { case (_, text) =>
      val tf = toks(text).groupBy(identity).map(_._2.length.toLong)
      val n = tf.sum; val dis = tf.size.toLong; val mx = tf.max
      !(n < 15 || n > 70 || mx * 4 > n || dis * 10 < n * 3)
    }.map(_._1).toSet
    // stage 3: decontamination holdout (train docs only, < 20% overlap)
    def grams(text: String): Set[String] = {
      val w = toks(text)
      if (w.length < 5) Set.empty
      else w.sliding(5).map(_.mkString(" ")).toSet
    }
    val evalGrams = docRows.filter(_._1 % 97 == 0)
      .flatMap(d => grams(d._2)).toSet
    val s3 = docRows.filter(_._1 % 97 != 0).filter { case (_, text) =>
      val g = grams(text)
      !(g.nonEmpty && 5L * g.count(evalGrams) >= g.size)
    }.map(_._1).toSet
    val n0 = docRows.length.toLong
    val n1 = docRows.count(d => s1(d._1)).toLong
    val n2 = docRows.count(d => s1(d._1) && s2(d._1)).toLong
    val n3 = docRows.count(d => s1(d._1) && s2(d._1) && s3(d._1)).toLong
    val out = graft.text.Curation.curationFunnel(spark, sf).collect()
      .sortBy(_.getAs[Int]("stage"))
    out.map(_.getAs[Long]("n_docs")).toSeq shouldBe Seq(n0, n1, n2, n3)
    out.map(_.getAs[Long]("n_dropped")).toSeq shouldBe
      Seq(0L, n0 - n1, n1 - n2, n2 - n3)
  }
}
