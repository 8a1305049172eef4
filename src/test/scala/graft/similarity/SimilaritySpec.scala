package graft.similarity

import org.apache.spark.sql.functions._

import graft.GraftTestBase

class SimilaritySpec extends GraftTestBase {

  behavior of "bruteForceTopK"

  it should "return exactly topK ranked neighbors per query, best first" in {
    val out = Similarity.bruteForceTopK(spark, sf).collect()
    val byQuery = out.groupBy(_.getLong(0))
    byQuery should have size Similarity.nQueries
    byQuery.values.foreach { rows =>
      rows.map(_.getInt(1)).sorted shouldBe (1 to Similarity.topK)
      val scores = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      scores.sliding(2).foreach { case Array(hi, lo) => hi should be >= lo }
    }
  }

  it should "never return the query itself as a neighbor" in {
    Similarity.bruteForceTopK(spark, sf)
      .filter(col("query_id") === col("cand_id")).count() shouldBe 0
  }

  behavior of "lshTopK"

  it should "achieve useful recall against the exact top-k on bucketed candidates" in {
    val exact = Similarity.bruteForceTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = Similarity.lshTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    // sign-random-projection with 8 planes on 64-dim noise-like data:
    // recall won't be 1.0, but an implementation bug (wrong bucket join,
    // self-comparison, broken plane hash) collapses it to ~0.
    val recall = exact.intersect(approx).size.toDouble / exact.size
    recall should be > 0.2
    // approx scores must be a subset of legal pairs (no self matches)
    Similarity.lshTopK(spark, sf)
      .filter(col("query_id") === col("cand_id")).count() shouldBe 0
  }

  it should "use deterministic hyperplanes (stable across invocations)" in {
    Similarity.planeSign(3, 17) shouldBe Similarity.planeSign(3, 17)
    // planes differ from each other somewhere
    (0 until 64).map(Similarity.planeSign(0, _)) should not be
      (0 until 64).map(Similarity.planeSign(1, _))
  }

  behavior of "ivfTopK"

  it should "return topK per query from probed partitions with sane recall" in {
    val out = Similarity.ivfTopK(spark, sf).collect()
    out.groupBy(_.getLong(0)).values.foreach { rows =>
      rows.map(_.getInt(1)).sorted shouldBe (1 to Similarity.topK)
    }
    val exact = Similarity.bruteForceTopK(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(2))).toSet
    val approx = out.map(r => (r.getLong(0), r.getLong(2))).toSet
    // labels are weak clusters on this corpus; nProbe=3 of 10 partitions
    // still must beat random coverage (~0) by a wide margin
    (exact.intersect(approx).size.toDouble / exact.size) should be > 0.2
  }

  behavior of "labelCentroids"

  it should "produce one centroid per (label, dim) with consistent counts" in {
    val emb = graft.Tables.embeddings(spark, sf)
    val nLabels = emb.select("label").distinct().count()
    val dim = emb.select(org.apache.spark.sql.functions.size(col("embedding")))
      .head().getInt(0)
    val out = Similarity.labelCentroids(spark, sf)
    out.count() shouldBe nLabels * dim
    // per-label vector counts must match the raw table
    val counts = out.filter(col("dim") === 0)
      .select("label", "n_vectors").collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val raw = emb.groupBy("label").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    counts shouldBe raw
  }

  behavior of "quantizeAudit"

  it should "bound every rounding distance by 0.5 and honor the L1/sum relation" in {
    val out = Similarity.quantizeAudit(spark, sf).cache()
    out.count() shouldBe graft.Tables.embeddings(spark, sf).count()
    out.filter(!col("bound_ok")).count() shouldBe 0
    out.filter(col("max_round_dist") < 0 || col("max_round_dist") > 0.5)
      .count() shouldBe 0
    // |sum| <= L1 always; codes live in [-127, 127] after half-up rounding
    out.filter(org.apache.spark.sql.functions.abs(col("q_sum")) > col("q_l1"))
      .count() shouldBe 0
    val dims = graft.Tables.embeddings(spark, sf)
      .select(org.apache.spark.sql.functions.size(col("embedding")))
      .head().getInt(0)
    out.filter(col("q_l1") > 127L * dims).count() shouldBe 0
  }

  it should "reconstruct within scale/254 of the original (quantizer contract)" in {
    import spark.implicits._
    val emb = graft.Tables.embeddings(spark, sf).limit(50)
      .select(col("vec_id"), col("embedding")).as[(Long, Array[Float])].collect()
    emb.foreach { case (_, v) =>
      val scale = v.map(x => math.abs(x.toDouble)).max
      if (scale > 0) {
        v.foreach { x =>
          val q = math.floor(x.toDouble * 127.0 / scale + 0.5)
          math.abs(x.toDouble - q * scale / 127.0) should be <= scale / 254.0 * (1 + 1e-9)
        }
      }
    }
  }

  behavior of "covarianceMatrix"

  it should "emit the full upper triangle with PSD-consistent entries" in {
    val dim = graft.Tables.embeddings(spark, sf)
      .select(org.apache.spark.sql.functions.size(col("embedding"))).head().getInt(0)
    val rows = Similarity.covarianceMatrix(spark, sf).collect()
    rows.length shouldBe dim * (dim + 1) / 2
    val cov = rows.map(r =>
      (r.getAs[Long]("dim_i").toInt, r.getAs[Long]("dim_j").toInt) -> r.getAs[Double]("cov")).toMap
    // diagonal entries are variances: nonnegative (up to 6-dp rounding)
    (0 until dim).foreach(i => cov((i, i)) should be >= -1e-6)
    // Cauchy-Schwarz: |cov(i,j)| <= sqrt(var_i · var_j) + rounding slack
    cov.foreach { case ((i, j), c) =>
      math.abs(c) should be <= math.sqrt(
        math.max(cov((i, i)), 0) * math.max(cov((j, j)), 0)) + 1e-5
    }
    // spot-check dim 0 variance against the one-column aggregate
    val v0 = graft.Tables.embeddings(spark, sf)
      .select(var_pop(col("embedding").getItem(0).cast("double")).as("v"))
      .head().getDouble(0)
    cov((0, 0)) shouldBe v0 +- 1e-4
  }

  behavior of "kmeansCheck"

  it should "run Lloyd's to non-increasing inertia and match a driver-side replica" in {
    val row = Similarity.kmeansCheck(spark, sf).head()
    row.getAs[Long]("n_points") shouldBe
      graft.Tables.embeddings(spark, sf).count()
    row.getAs[Int]("k") shouldBe Similarity.kmeansK
    row.getAs[Boolean]("inertia_monotone") shouldBe true
    row.getAs[Boolean]("inertia_improved") shouldBe true

    // driver-side replica of the same deterministic algorithm: identical
    // init, assignment rule (min dist, lowest index tie), mean update,
    // empty-cluster carry — its inertia sequence must behave identically
    val vecs = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    var cents = vecs.take(Similarity.kmeansK).map(_.clone)
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var s = 0.0; var i = 0
      while (i < a.length) { val t = a(i) - b(i); s += t * t; i += 1 }
      s
    }
    val inertias = (1 to Similarity.kmeansIters).map { it =>
      val assign = vecs.map(v => cents.indices.minBy(j => (d2(v, cents(j)), j)))
      val inertia = vecs.zip(assign).map { case (v, j) => d2(v, cents(j)) }.sum
      if (it < Similarity.kmeansIters) {
        cents = cents.indices.map { j =>
          val members = vecs.zip(assign).collect { case (v, a) if a == j => v }
          if (members.isEmpty) cents(j)
          else Array.tabulate(cents(j).length)(dim =>
            members.map(_(dim)).sum / members.length)
        }.toArray
      }
      inertia
    }
    inertias.sliding(2).foreach {
      case Seq(a, b) => b should be <= a * (1 + 1e-9)
      case _ =>
    }
    inertias.last should be < inertias.head
  }

  behavior of "pqAudit"

  it should "train per-subspace codebooks that beat the mean baseline" in {
    val row = Similarity.pqAudit(spark, sf).head()
    row.getAs[Long]("n_points") shouldBe
      graft.Tables.embeddings(spark, sf).count()
    row.getAs[Int]("n_subspaces") shouldBe Similarity.pqSubspaces
    row.getAs[Int]("n_codewords") shouldBe Similarity.pqCodewords
    // 64 floats -> 8 four-bit codes: the compression that makes
    // billion-vector ANN fit in memory
    row.getAs[Int]("bytes_raw") shouldBe 256
    row.getAs[Int]("bytes_coded") shouldBe 4
    row.getAs[Boolean]("inertia_monotone") shouldBe true
    row.getAs[Boolean]("inertia_improved") shouldBe true
    row.getAs[Boolean]("beats_mean_baseline") shouldBe true
  }

  behavior of "dbscanEmbeddings"

  it should "match a driver-side reference DBSCAN census" in {
    val vecs = graft.Tables.embeddings(spark, sf)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
    def cosR(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val adj = scala.collection.mutable.Map[Long, Set[Long]]()
      .withDefaultValue(Set.empty)
    for (i <- vecs.indices; j <- (i + 1) until vecs.length
         if cosR(vecs(i)._2, vecs(j)._2) >= Similarity.dbscanEps) {
      val (u, v) = (vecs(i)._1, vecs(j)._1)
      adj(u) = adj(u) + v; adj(v) = adj(v) + u
    }
    val core = adj.filter(_._2.size >= Similarity.dbscanMinPts - 1).keySet.toSet
    var label = core.map(x => x -> x).toMap
    var changed = true
    while (changed) {
      changed = false
      core.foreach { x =>
        val m = (adj(x).intersect(core).map(label) + label(x)).min
        if (m < label(x)) { label += x -> m; changed = true }
      }
    }
    val border = adj.keySet.diff(core)
      .flatMap { x =>
        val coreNbrs = adj(x).intersect(core)
        if (coreNbrs.isEmpty) None else Some(x -> coreNbrs.map(label).min)
      }.toMap
    val want = label.groupBy(_._2).map { case (c, m) =>
      (c, m.size.toLong, border.count(_._2 == c).toLong)
    }.toSet
    val got = Similarity.dbscanEmbeddings(spark, sf).collect()
      .map(r => (r.getLong(0), r.getAs[Long]("n_core"),
        r.getAs[Long]("n_border"))).toSet
    got shouldBe want
    want should not be empty
  }
}
