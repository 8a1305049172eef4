package graft.ops

import graft.GraftTestBase
import graft.Tables
import graft.text.TextAnalysis
import graft.Scratch.rd

/** THIRD-IMPLEMENTATION battery, batch 25: evaluation metrics.
  *
  * Brier skill, ROC AUC (midrank Mann–Whitney form), average precision
  * (threshold blocks), the reliability table, hard-label classifier
  * metrics (incl. MCC) and Cohen's κ/McNemar agreement — the whole
  * model-evaluation family renders rank algebra and confusion-cell
  * formulas both engines transcribe from one source. Scratch loops
  * below rebuild each from per-observation data: midranks from a plain
  * sorted scan instead of the distributed prefix machinery, AP blocks
  * from a descending threshold walk, cells from raw document rows.
  * Where a metric CONSUMES another graded query's output (the LM
  * cross-entropy, the quality-filter verdicts — both already pinned by
  * batch 10), the spec takes those as inputs and recomputes only the
  * metric under test, so each formula is isolated.
  */
class ThirdImplSpec25 extends GraftTestBase {

  /** (doc, 4dp-ce-domain value, keep) — inputs pinned by batch 10. */
  private lazy val scoredDocs: Seq[(Long, Long, Boolean)] = {
    val ce = TextAnalysis.lmScore(spark, sf)
      .select("doc_id", "cross_entropy").collect()
      .map(r => r.getLong(0) ->
        BigDecimal.valueOf(r.getDouble(1) * 10000)
          .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong).toMap
    TextAnalysis.qualityFilter(spark, sf)
      .select("doc_id", "keep").collect()
      .map(r => (r.getLong(0), ce(r.getLong(0)), r.getBoolean(1))).toSeq
  }

  // --------------------------------------------------------------- brier

  behavior of "Behavior.brierCalibration (q_brier) vs scratch strata"

  it should "match per-stratum Brier scores and skill" in {
    val users = Tables.events(spark, sf)
      .select("user_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1),
        (BigDecimal.valueOf(r.getDouble(2))
          .setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLong))
      .groupBy(_._1).toSeq
      .map { case (uid, rs) =>
        val y = if (rs.exists(r => r._2 == "purchase" && r._3 >= 15000L))
          1L else 0L
        (uid, math.min(rs.length / 10, 12L), y)
      }
    val train = users.filter(_._1 % 2 == 0)
    val fit = train.groupBy(_._2).view.mapValues { rs =>
      (rs.length.toLong, rs.map(_._3).sum * 10000 / rs.length)
    }.toMap
    val gBp = train.map(_._3).sum * 10000 / train.length
    val expected = users.filter(_._1 % 2 == 1)
      .filter(u => fit.contains(u._2))
      .groupBy(_._2).toSeq.map { case (st, rs) =>
        val (nTrain, pBp) = fit(st)
        val nTest = rs.length.toLong
        val convTest = rs.map(_._3).sum
        val num = rs.map { r =>
          val e = pBp - 10000L * r._3; e * e
        }.sum
        val ref = rs.map { r =>
          val e = gBp - 10000L * r._3; e * e
        }.sum
        (st, nTrain, pBp, nTest, convTest, num,
          rd(num.toDouble / (nTest * 1e8), 6),
          rd(1.0 - num.toDouble / math.max(ref, 1L), 6))
      }.toSet
    val got = Behavior.brierCalibration(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6), r.getDouble(7))).toSet
    got shouldBe expected
  }

  // ------------------------------------------------------------ ROC AUC

  behavior of "TextAnalysis.lmAuc (q_lm_auc) vs scratch midranks"

  it should "match the tie-aware AUC and Gini from a sorted scan" in {
    val sorted = scoredDocs.map(d => (d._2, d._3)).sortBy(_._1)
    val n = sorted.length.toLong
    val n1 = sorted.count(!_._2).toLong // positives = dropped docs
    var r1x2 = 0L // twice the positive midrank sum
    var i = 0
    while (i < sorted.length) {
      var j = i
      while (j < sorted.length && sorted(j)._1 == sorted(i)._1) j += 1
      val tiesPos = (i until j).count(!sorted(_)._2)
      r1x2 += tiesPos.toLong * ((i + 1).toLong + j.toLong) // 2·midrank
      i = j
    }
    val u1x2 = r1x2 - n1 * (n1 + 1)
    val nKeep = n - n1
    val row = TextAnalysis.lmAuc(spark, sf).collect().head
    row.getAs[Long]("n_keep") shouldBe nKeep
    row.getAs[Long]("n_drop") shouldBe n1
    row.getAs[Double]("auc") shouldBe
      rd(u1x2.toDouble / (2.0 * nKeep * n1), 6)
    row.getAs[Double]("gini") shouldBe
      rd(u1x2.toDouble / (nKeep.toDouble * n1) - 1.0, 6)
  }

  // ------------------------------------------------------------- PR AUC

  behavior of "TextAnalysis.prAuc (q_pr_auc) vs a scratch threshold walk"

  it should "match average precision over descending score blocks" in {
    val byValue = scoredDocs.groupBy(_._2).toSeq
      .map { case (v, rs) =>
        (v, rs.length.toLong, rs.count(!_._3).toLong)
      }.sortBy(-_._1) // descending score = threshold walk
    val n = byValue.map(_._2).sum
    val n1 = byValue.map(_._3).sum
    var cumt = 0L; var cum1 = 0L; var ap = 0.0
    for ((_, t, t1) <- byValue) {
      cumt += t; cum1 += t1
      ap += t1.toDouble * (cum1.toDouble / cumt)
    }
    val row = TextAnalysis.prAuc(spark, sf).collect().head
    row.getAs[Long]("n_keep") shouldBe n - n1
    row.getAs[Long]("n_drop") shouldBe n1
    row.getAs[Double]("prevalence") shouldBe rd(n1.toDouble / n, 6)
    row.getAs[Double]("avg_precision") shouldBe rd(ap / n1, 6)
  }

  // -------------------------------------------------------- calibration

  behavior of "TextAnalysis.lmCalibration (q_lm_calibration) vs scratch bins"

  it should "match the reliability table" in {
    val ce = TextAnalysis.lmScore(spark, sf)
      .select("doc_id", "cross_entropy").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val keep = TextAnalysis.qualityFilter(spark, sf)
      .select("doc_id", "keep").collect()
      .map(r => (r.getLong(0), r.getBoolean(1)))
    val expected = keep.groupBy(k => math.floor(ce(k._1) * 10).toInt)
      .toSeq.sortBy(_._1)
      .map { case (bin, rs) =>
        val nk = rs.count(_._2).toLong
        (bin, rd(bin / 10.0, 1), rs.length.toLong, nk,
          rd(nk.toDouble / rs.length, 6))
      }
    val got = TextAnalysis.lmCalibration(spark, sf).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    got shouldBe expected
  }

  // --------------------------------------------------- hard-label cells

  behavior of "TextAnalysis.classifierMetrics (q_classifier_metrics)"

  it should "match the confusion cells and MCC from raw documents" in {
    val stop = TextAnalysis.stopwords.toSet
    val cells = Tables.documents(spark, sf)
      .select("lang", "text").collect()
      .map { r =>
        val actual = r.getString(0) == "en"
        val pred = r.getString(1).split(" ", -1).count(stop) >= 2
        (actual, pred)
      }
    val tp = cells.count(c => c._1 && c._2).toLong
    val fp = cells.count(c => !c._1 && c._2).toLong
    val fn = cells.count(c => c._1 && !c._2).toLong
    val tn = cells.count(c => !c._1 && !c._2).toLong
    val denom2 = BigInt(tp + fp) * BigInt(tp + fn) * BigInt(tn + fp) *
      BigInt(tn + fn)
    val row = TextAnalysis.classifierMetrics(spark, sf).collect().head
    (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3)) shouldBe
      ((tp, fp, fn, tn))
    row.getAs[Double]("precision") shouldBe
      rd(tp.toDouble / math.max(tp + fp, 1L), 6)
    row.getAs[Double]("recall") shouldBe
      rd(tp.toDouble / math.max(tp + fn, 1L), 6)
    row.getAs[Double]("f1") shouldBe
      rd(2.0 * tp / math.max(2 * tp + fp + fn, 1L), 6)
    row.getAs[Double]("accuracy") shouldBe
      rd((tp + tn).toDouble / (tp + fp + fn + tn), 6)
    if (denom2 == 0) assert(row.isNullAt(row.fieldIndex("mcc")))
    else row.getAs[Double]("mcc") shouldBe
      rd((BigInt(tp) * BigInt(tn) - BigInt(fp) * BigInt(fn)).toDouble /
        math.sqrt(denom2.toDouble), 6)
  }

  // ----------------------------------------------------- kappa/McNemar

  behavior of "TextAnalysis.classifierAgreement (q_rater_agreement)"

  it should "match kappa and McNemar from scratch cells" in {
    val a = scoredDocs.count(d => d._3 && d._2 <= 34050L).toLong
    val b = scoredDocs.count(d => d._3 && d._2 > 34050L).toLong
    val c = scoredDocs.count(d => !d._3 && d._2 <= 34050L).toLong
    val dd = scoredDocs.count(d => !d._3 && d._2 > 34050L).toLong
    val n = a + b + c + dd
    val peNum = (a + b) * (a + c) + (c + dd) * (b + dd)
    val chi2 = ((b - c) * (b - c)).toDouble / math.max(b + c, 1L)
    val row = TextAnalysis.classifierAgreement(spark, sf).collect().head
    (row.getLong(0), row.getLong(1), row.getLong(2), row.getLong(3)) shouldBe
      ((a, b, c, dd))
    row.getAs[Double]("agreement") shouldBe rd((a + dd).toDouble / n, 6)
    row.getAs[Double]("kappa") shouldBe
      rd(((a + dd) * n - peNum).toDouble / (n * n - peNum), 6)
    row.getAs[Double]("mcnemar_chi2") shouldBe rd(chi2, 6)
    row.getAs[Boolean]("classifiers_differ_95") shouldBe
      (chi2 > 3.841458820694124)
  }
}
