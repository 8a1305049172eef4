package graft.ops

import graft.GraftTestBase
import graft.text.TextAnalysis
import graft.Scratch.toks

import java.time.ZoneOffset

/** THIRD-IMPLEMENTATION battery, batch 45: string-distance linkage,
  * positional search, layout keys and the as-of family — including the
  * custom broadcast as-of PHYSICAL operator, pinned here against a
  * plain carried-state walk (its oracle is the same SQL as the window
  * form, so a scratch replay is the one check that is independent of
  * BOTH renderings).
  *
  * Scratch forms: a textbook two-row Levenshtein DP (the engines use
  * their builtin levenshtein), direct adjacent-token phrase counting
  * (the engines intersect posting lists via lead()), a bit-interleave
  * loop for the Z-order key, and per-user event walks carrying
  * last-click state for both as-of variants.
  */
class ThirdImplSpec45 extends GraftTestBase {

  /** Textbook two-row Levenshtein — independent of the engines'
    * builtins. */
  private def lev(a: String, b: String): Int = {
    var prev = Array.tabulate(b.length + 1)(identity)
    var cur = new Array[Int](b.length + 1)
    for (i <- 1 to a.length) {
      cur(0) = i
      for (j <- 1 to b.length) {
        val sub = prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1)
        cur(j) = math.min(math.min(prev(j) + 1, cur(j - 1) + 1), sub)
      }
      val t = prev; prev = cur; cur = t
    }
    prev(b.length)
  }

  behavior of "fuzzyNames (q_fuzzy_names) vs a scratch Levenshtein DP"

  it should "match every close pair and its distance" in {
    val names = graft.Tables.part(spark, sf)
      .select("p_name").collect().map(_.getString(0))
      .groupBy(identity).map { case (n, xs) => n -> xs.length.toLong }
    val sorted = names.keys.toVector.sorted
    val expect = (for {
      i <- sorted.indices.iterator; j <- (i + 1 until sorted.length).iterator
      d = lev(sorted(i), sorted(j))
      if d <= 3
    } yield (sorted(i), sorted(j)) ->
      (d, names(sorted(i)), names(sorted(j)))).toMap
    val out = graft.dedup.Dedup.fuzzyNames(spark, sf).collect()
    out.length shouldBe expect.size
    out.foreach { r =>
      val (d, na, nb) =
        expect((r.getAs[String]("name_a"), r.getAs[String]("name_b")))
      r.getAs[Int]("dist") shouldBe d
      r.getAs[Long]("n_a") shouldBe na
      r.getAs[Long]("n_b") shouldBe nb
    }
  }

  private lazy val docRows: Vector[(Long, Array[String])] =
    graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), toks(r.getString(1)))).toVector

  behavior of "phraseSearch (q_phrase_search) vs direct adjacency counts"

  it should "match the query phrase and every doc's match count" in {
    val bigramCounts = scala.collection.mutable.Map.empty[String, Long]
    docRows.foreach { case (_, w) =>
      if (w.length >= 2)
        w.sliding(2).foreach { p =>
          val bg = p.mkString(" ")
          bigramCounts(bg) = bigramCounts.getOrElse(bg, 0L) + 1
        }
    }
    val top = bigramCounts.toVector.minBy { case (bg, n) => (-n, bg) }._1
    val Array(t1, t2) = top.split(" ", 2)
    val expect = docRows.flatMap { case (id, w) =>
      val n = (0 until w.length - 1)
        .count(i => w(i) == t1 && w(i + 1) == t2).toLong
      if (n > 0) Some(id -> n) else None
    }.toMap
    val out = TextAnalysis.phraseSearch(spark, sf).collect()
    out.length shouldBe expect.size
    out.foreach { r =>
      r.getAs[String]("phrase") shouldBe top
      r.getAs[Long]("n_matches") shouldBe expect(r.getAs[Long]("doc_id"))
    }
  }

  behavior of "ngramGenerate (q_udtf_ngrams) vs scratch sliding grams"

  it should "match every (doc, pos, trigram) row of the generator" in {
    val expect = docRows.filter(_._1 <= 50).flatMap { case (id, w) =>
      if (w.length < 3) Nil
      else (0 to w.length - 3).map(i =>
        (id, i) -> w.slice(i, i + 3).mkString(" "))
    }.toMap
    val out = TextAnalysis.ngramGenerate(spark, sf).collect()
    out.length shouldBe expect.size
    out.foreach { r =>
      expect((r.getAs[Long]("doc_id"), r.getAs[Int]("pos"))) shouldBe
        r.getAs[String]("ngram")
    }
  }

  behavior of "zorderAudit (q_zorder) vs a scratch bit interleave"

  it should "match every z-bucket's census" in {
    val rows = graft.Tables.orders(spark, sf)
      .select("o_custkey", "o_orderdate").collect()
      .map { r =>
        val x = r.getLong(0) % 256
        val y = r.getTimestamp(1).toInstant.atZone(ZoneOffset.UTC)
          .toLocalDate.toEpochDay % 256
        var z = 0L
        for (i <- 0 until 8)
          z += ((x >> i) & 1L) << (2 * i) | ((y >> i) & 1L) << (2 * i + 1)
        (z >> 8, x, y)
      }
    val expect = rows.groupBy(_._1).map { case (b, xs) =>
      b -> (xs.length.toLong, xs.map(_._2).min, xs.map(_._2).max,
        xs.map(_._3).min, xs.map(_._3).max)
    }
    val out = graft.ops.Layout.zorderAudit(spark, sf).collect()
    out.length shouldBe expect.size
    out.foreach { r =>
      val (n, x0, x1, y0, y1) = expect(r.getAs[Long]("zbucket"))
      r.getAs[Long]("n_rows") shouldBe n
      r.getAs[Long]("min_x") shouldBe x0
      r.getAs[Long]("max_x") shouldBe x1
      r.getAs[Long]("min_y") shouldBe y0
      r.getAs[Long]("max_y") shouldBe y1
    }
  }

  /** (epochMicros, event_id)-ordered per-user event walks shared by the
    * three as-of tests. value is NaN-free at this corpus. */
  private lazy val userWalks
      : Map[Long, Vector[(Long, Long, Long, String, Double)]] =
    graft.Tables.events(spark, sf)
      .select("event_id", "user_id", "ts", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1),
        r.getTimestamp(2).toInstant.toEpochMilli * 1000 +
          r.getTimestamp(2).getNanos / 1000 % 1000,
        r.getString(3), r.getDouble(4)))
      .groupBy(_._2)
      .map { case (u, es) =>
        u -> es.toVector.sortBy(e => (e._3, e._1))
      }

  behavior of "asofLatestClick (q_asof_join) vs a carried-state walk"

  it should "carry the latest click ts/value onto every event" in {
    val expect = scala.collection.mutable.Map
      .empty[Long, (Option[Long], Option[Double])]
    userWalks.values.foreach { es =>
      var lastTs: Option[Long] = None; var lastV: Option[Double] = None
      es.foreach { case (eid, _, tus, tpe, v) =>
        if (tpe == "click") { lastTs = Some(tus); lastV = Some(v) }
        expect(eid) = (lastTs, lastV)
      }
    }
    val out = TimeSeries.asofLatestClick(spark, sf).collect()
    out.length shouldBe expect.size
    out.foreach { r =>
      val (ts, v) = expect(r.getAs[Long]("event_id"))
      ts match {
        case Some(t) =>
          val got = r.getAs[java.sql.Timestamp]("asof_click_ts")
          got.toInstant.toEpochMilli * 1000 +
            got.getNanos / 1000 % 1000 shouldBe t
          r.getAs[Double]("asof_click_value") shouldBe v.get
        case None =>
          assert(r.isNullAt(r.fieldIndex("asof_click_ts")))
      }
    }
  }

  behavior of "AsofJoin broadcast operator (q_asof_broadcast) vs scratch"

  it should "reproduce the identical as-of payload via the custom plan" in {
    val window = TimeSeries.asofLatestClick(spark, sf).collect()
      .map(r => (r.getAs[Long]("event_id"),
        Option(r.getAs[java.sql.Timestamp]("asof_click_ts")),
        Option(r.getAs[Double]("asof_click_value"))))
      .toVector.sortBy(_._1)
    val custom = TimeSeries.asofLatestClickBroadcast(spark, sf).collect()
      .map(r => (r.getAs[Long]("event_id"),
        Option(r.getAs[java.sql.Timestamp]("asof_click_ts")),
        Option(r.getAs[Double]("asof_click_value"))))
      .toVector.sortBy(_._1)
    custom shouldBe window
  }

  behavior of "asofClickWithTolerance (q_asof_tolerance) vs a range scan"

  it should "pick the max in-window click per event" in {
    val out = TimeSeries.asofClickWithTolerance(spark, sf).collect()
    var checked = 0
    out.foreach { r =>
      val eid = r.getAs[Long]("event_id")
      val uid = r.getAs[Long]("user_id")
      val es = userWalks(uid)
      val me = es.find(_._1 == eid).get
      val tSec = Math.floorDiv(me._3, 1000000L)
      val inWin = es.filter { e =>
        val s = Math.floorDiv(e._3, 1000000L)
        e._4 == "click" && s >= tSec - 3600 && s <= tSec
      }
      if (inWin.isEmpty) assert(r.isNullAt(r.fieldIndex("tol_click_ts")))
      else {
        // max struct(ts, event_id, value): ts then event_id ordering
        val best = inWin.maxBy(e => (e._3, e._1))
        val got = r.getAs[java.sql.Timestamp]("tol_click_ts")
        got.toInstant.toEpochMilli * 1000 +
          got.getNanos / 1000 % 1000 shouldBe best._3
        r.getAs[Double]("tol_click_value") shouldBe best._5
        checked += 1
      }
    }
    checked should be > 0
  }
}
