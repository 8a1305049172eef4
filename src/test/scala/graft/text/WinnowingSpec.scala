package graft.text

import graft.GraftTestBase

class WinnowingSpec extends GraftTestBase {

  import java.security.MessageDigest
  private def h(gram: String): Long = {
    val hex = MessageDigest.getInstance("MD5").digest(gram.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(10)
    java.lang.Long.parseLong(hex, 16)
  }
  private def gramHashes(text: String): Array[Long] =
    text.split(" ").sliding(Winnowing.k).filter(_.length == Winnowing.k)
      .map(g => h(g.mkString(" "))).toArray
  /** Driver-side replica of classic rightmost-min winnowing over
    * trailing windows (partial head windows included). */
  private def rightmostMinSelected(hs: Array[Long]): Set[Int] =
    hs.indices.map { i =>
      val lo = math.max(0, i - (Winnowing.w - 1))
      // rightmost argmin of the trailing window
      (lo to i).minBy(j => (hs(j), -j))
    }.toSet

  behavior of "Winnowing.winnowFingerprints"

  it should "select a nonempty, strictly-sub-gram-count fingerprint set per doc" in {
    val rows = Winnowing.winnowFingerprints(spark, sf).collect()
    rows should not be empty
    rows.foreach { r =>
      val (grams, sel, fp, shared) = (r.getAs[Long]("n_grams"),
        r.getAs[Long]("n_selected"), r.getAs[Long]("n_fp"),
        r.getAs[Long]("n_shared_fp"))
      sel should be > 0L               // every trailing window has a min
      sel should be < grams            // winnowing COMPRESSES
      fp should be <= sel              // distinct ≤ occurrences
      shared should be <= fp
      // expected density 2/(w+1) = 1/3; allow generous slack both ways
      sel.toDouble / grams should be < 0.6
    }
  }

  it should "match a driver-side replica of rightmost-min selection" in {
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val replica = docs.map { case (id, text) =>
      val hs = gramHashes(text)
      id -> (hs.length.toLong, rightmostMinSelected(hs).size.toLong)
    }
    val got = Winnowing.winnowFingerprints(spark, sf).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_selected"))).toMap
    got shouldBe replica
  }

  it should "share fingerprints for ANY shared run of >= w+k-1 tokens, even edge-hugging minima" in {
    import spark.implicits._
    // The UNCONDITIONAL guarantee the centered-min variant lacked: find
    // a passage whose minimal-hash gram HUGS the run edge (argmin = 0)
    // — the exact case where centered windows leak doc-specific context
    // — and assert sharing still happens under rightmost-min.
    val passage = (1 to 1000).iterator
      .map(s => (1 to 20).map(i => s"e${s}x$i").mkString(" "))
      .find { p => val hs = gramHashes(p); hs.indexOf(hs.min) == 0 }
      .getOrElse(fail("no edge-hugging passage found in 1000 seeds"))
    val df = Seq(
      (1L, s"a1 a2 a3 a4 a5 $passage z1 z2 z3"),
      (2L, s"b1 b2 $passage y1 y2 y3 y4 y5 y6"),
      (3L, "c1 c2 c3 c4 c5 c6 c7 c8 c9 c10 c11 c12 c13 c14"))
      .toDF("doc_id", "text")
    val dir = tempDir("winnow")
    df.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // reuse the operator against the staged mini-corpus
    val out = Winnowing.winnowFingerprints(spark, dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("n_shared_fp")).toMap
    out(1L) should be > 0L
    out(2L) should be > 0L
    out(3L) shouldBe 0L
  }
}
