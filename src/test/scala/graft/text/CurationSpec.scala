package graft.text

import org.apache.spark.sql.functions._

import graft.GraftTestBase

class CurationSpec extends GraftTestBase {

  behavior of "packShards"

  it should "fill every non-final shard past the budget and stay append-stable" in {
    val rows = Curation.packShards(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(_._1)
    rows.length should be > 0
    // shard ids are non-decreasing along doc_id order and start at 0
    rows.head._3 shouldBe 0L
    rows.zip(rows.tail).foreach { case (a, b) => b._3 should be >= a._3 }
    // definitional: every doc's shard is floor(preceding-cumsum/B) —
    // this is also the append-stability proof (assignment depends only
    // on earlier docs, so later appends can never move it)
    val cum = rows.scanLeft(0L)((acc, r) => acc + r._2)
    rows.zip(cum).foreach { case ((_, _, shard), before) =>
      shard shouldBe before / Curation.shardBudget
    }
    // a non-final shard's load undershoots the budget by at most one
    // document (the previous shard's overshoot eats into its range)
    val maxDoc = rows.map(_._2).max
    val byShard = rows.groupBy(_._3).toSeq.sortBy(_._1)
    byShard.dropRight(1).foreach { case (_, docs) =>
      docs.map(_._2).sum should be >= (Curation.shardBudget - maxDoc)
    }
  }

  behavior of "mixturePlan"

  it should "give the smallest language weight 10000 and all weights <= it" in {
    val rows = Curation.mixturePlan(spark, sf).collect()
    rows.map(_.getAs[Long]("weight_bp")).max shouldBe 10000L
    all(rows.map(_.getAs[Long]("weight_bp"))) should be <= 10000L
    all(rows.map(_.getAs[Long]("weight_bp"))) should be > 0L
    // downsample-only equalization: every expected post-sample count is
    // within one stratum-token of the smallest stratum (floor rounding)
    val minTok = rows.map(_.getAs[Long]("n_tokens")).min
    rows.foreach { r =>
      val sampled = r.getAs[Long]("sampled_tokens")
      sampled should be <= minTok
      // floor(floor(m*1e4/n)*n/1e4) >= m - n/1e4 - 1
      sampled should be >= (minTok - r.getAs[Long]("n_tokens") / 10000L - 1L)
    }
  }

  it should "conserve the token census against a direct count" in {
    val planned = Curation.mixturePlan(spark, sf)
      .agg(sum("n_tokens")).head().getLong(0)
    val direct = graft.Tables.documents(spark, sf)
      .select(org.apache.spark.sql.functions.size(split(col("text"), " "))
        .cast("long").as("n")).agg(sum("n"))
      .head().getLong(0)
    planned shouldBe direct
  }

  behavior of "sourceCap"

  it should "match a driver-side top-K-per-source selection exactly" in {
    val docs = graft.Tables.documents(spark, sf)
      .select(col("source"), col("doc_id"), col("n_chars"),
        org.apache.spark.sql.functions.size(split(col("text"), " "))
          .cast("long").as("n_tok"))
      .collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val want = docs.groupBy(_._1).map { case (src, ds) =>
      val kept = ds.sortBy(d => (-d._3, d._2)).take(Curation.sourceCapDocs.toInt)
      (src, ds.length.toLong, kept.length.toLong,
        ds.map(_._4).sum, kept.map(_._4).sum)
    }.toSet
    val got = Curation.sourceCap(spark, sf).collect()
      .map(r => (r.getString(0), r.getAs[Long]("n_docs"),
        r.getAs[Long]("n_kept"), r.getAs[Long]("tokens_total"),
        r.getAs[Long]("tokens_kept"))).toSet
    got shouldBe want
  }

  behavior of "greedyCoverage"

  it should "replay a driver-side greedy max-coverage selection exactly" in {
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def grams(t: String): Set[String] = {
      val w = t.split(" ")
      (0 to w.length - 3).map(i => s"${w(i)} ${w(i + 1)} ${w(i + 2)}").toSet
    }
    val byDoc = docs.map { case (id, t) => id -> grams(t) }.toMap
    var covered = Set.empty[String]
    var cum = 0L
    val want = (1 to Curation.coverageRounds).map { r =>
      val (wid, gain) = byDoc.view
        .map { case (id, gs) => (id, gs.diff(covered).size.toLong) }
        .toSeq.maxBy { case (id, g) => (g, -id) }
      covered = covered ++ byDoc(wid)
      cum += gain
      (r, wid, gain, cum)
    }
    val got = Curation.greedyCoverage(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq.sortBy(_._1)
    got shouldBe want
    // submodularity: marginal gains must be non-increasing
    got.map(_._3).sliding(2).foreach {
      case Seq(a, b) => b should be <= a
      case _ =>
    }
  }

  behavior of "chunkDocuments"

  it should "cover every token and overlap consecutive chunks by window - stride" in {
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"),
        org.apache.spark.sql.functions.size(split(col("text"), " ")).as("n"))
    val chunks = Curation.chunkDocuments(spark, sf)
    // per-doc: chunk count = ceil(n / stride), total coverage counts each
    // token once per chunk containing it
    val byDoc = chunks.groupBy("doc_id")
      .agg(count(lit(1)).as("n_chunks"),
        max("chunk_start").as("last_start"),
        sum("n_chunk_tokens").as("covered"))
      .join(docs, Seq("doc_id"))
    byDoc.filter(col("n_chunks") =!=
      ceil(col("n").cast("double") / Curation.chunkStride)).count() shouldBe 0
    // the last chunk starts before the end (no empty chunks)
    byDoc.filter(col("last_start") >= col("n")).count() shouldBe 0
    // coverage: sum of chunk sizes = n + overlap * (n_chunks - 1) when
    // every non-final chunk is full-width... only guaranteed >= n in
    // general; every token appears in at least one chunk
    byDoc.filter(col("covered") < col("n")).count() shouldBe 0
  }

  it should "rebuild the document from stride-aligned prefixes of each chunk" in {
    val rebuilt = Curation.chunkDocuments(spark, sf)
      .withColumn("piece",
        // first `stride` tokens of each chunk, in chunk order, concatenated
        concat_ws(" ", slice(split(col("chunk_text"), " "), 1, Curation.chunkStride)))
      .groupBy("doc_id")
      .agg(concat_ws(" ",
        array_sort(collect_list(struct(col("chunk_id"), col("piece"))))
          .getField("piece")).as("text2"))
    val orig = graft.Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    rebuilt.join(orig, Seq("doc_id"))
      .filter(col("text") =!= col("text2")).count() shouldBe 0
  }

  behavior of "canonicalDocs"

  it should "keep the lowest-cross-entropy member of every cluster" in {
    val clusters = graft.dedup.Dedup.dedupClusters(spark, sf)
    val scores = TextAnalysis.lmScore(spark, sf)
      .select(col("doc_id"), col("cross_entropy"))
    // re-derive the argmin per cluster driver-side and compare
    val members = clusters.join(scores, Seq("doc_id")).collect()
      .map(r => (r.getAs[Long]("cluster_id"),
        (r.getAs[Double]("cross_entropy"), r.getAs[Long]("doc_id"))))
    val expected = members.groupBy(_._1).map { case (c, ms) => c -> ms.map(_._2).min }
    val got = Curation.canonicalDocs(spark, sf).collect()
    got.length shouldBe expected.size
    got.foreach { r =>
      val (xent, id) = expected(r.getAs[Long]("cluster_id"))
      r.getAs[Long]("kept_doc_id") shouldBe id
      r.getAs[Double]("kept_xent") shouldBe xent
      r.getAs[Long]("n_dropped") shouldBe r.getAs[Long]("cluster_size") - 1
    }
  }

  behavior of "materializeCorpus"

  it should "write only deduped in-language docs, partitioned by lang" in {
    val out = tempDir("graft-corpus") + "/corpus"
    val curated = Curation.materializeCorpus(spark, sf, out)
    val written = spark.read.parquet(out)
    written.count() shouldBe curated.count()
    written.count() should be > 0L
    // language filter applied, partition dirs by lang exist
    written.select("lang").distinct().collect()
      .map(_.getString(0)).toSet subsetOf Set("en", "de", "fr") shouldBe true
    new java.io.File(out).listFiles().map(_.getName)
      .count(_.startsWith("lang=")) should be > 0
    // every written doc is its dedup group's winner
    val winners = graft.dedup.Dedup.exactDedup(spark, sf)
      .select(col("kept_doc_id")).collect().map(_.getLong(0)).toSet
    written.select("doc_id").collect().map(_.getLong(0))
      .foreach(id => winners should contain(id))
  }
}
