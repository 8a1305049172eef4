package graft.ops

import graft.GraftTestBase
import graft.Scratch.{md5hex, r6, toks}

import java.time.ZoneOffset

/** THIRD-IMPLEMENTATION battery, batch 44: privacy, layout and
  * calendar operators — the k-anonymity/l-diversity audits, the PII
  * scrub, sliding-window chunking, the LSH planning table's S-curves,
  * the traffic matrix and LOCF gap-filling, each rebuilt from raw rows
  * with plain Scala loops (explicit day grids and carried state where
  * the engines window; java.util.regex where they run codegen'd
  * regexp_replace).
  */
class ThirdImplSpec44 extends GraftTestBase {

  private lazy val customers: Array[(Long, String, Int, Double, String)] =
    graft.Tables.customer(spark, sf)
      .select("c_custkey", "c_name", "c_nationkey", "c_acctbal",
        "c_mktsegment").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2),
        r.getDouble(3), r.getString(4)))

  private def band(bal: Double): Double = math.floor(bal / 1000) * 1000

  behavior of "kAnonymize (q_pii_kanon) vs scratch group censuses"

  it should "suppress exactly the under-k groups" in {
    val groupSize = customers.groupBy(c => (c._3, band(c._4), c._5))
      .map { case (k, cs) => k -> cs.length.toLong }
    val out = Privacy.kAnonymize(spark, sf).collect()
    out.length shouldBe customers.length
    val byPseudo = customers
      .map(c => md5hex(s"cust|${c._1}") -> c).toMap
    out.foreach { r =>
      val c = byPseudo(r.getAs[String]("pseudonym"))
      val k = groupSize((c._3, band(c._4), c._5))
      r.getAs[Long]("group_size") shouldBe k
      if (k >= Privacy.kThreshold) {
        r.getAs[Int]("nationkey") shouldBe c._3
        r.getAs[Double]("acctbal_band") shouldBe band(c._4)
        r.getAs[String]("mktsegment") shouldBe c._5
      } else {
        assert(r.isNullAt(r.fieldIndex("nationkey")))
        assert(r.isNullAt(r.fieldIndex("acctbal_band")))
        assert(r.isNullAt(r.fieldIndex("mktsegment")))
      }
    }
  }

  behavior of "piiScrub (q_pii_scrub) vs a java.util.regex walk"

  it should "match masked counts and surviving surface forms" in {
    val re = java.util.regex.Pattern.compile(Privacy.idRunPattern)
    val expect = customers.groupBy(_._5).map { case (seg, cs) =>
      val masked = cs.map(c => (c._2, re.matcher(c._2).replaceAll("<ID>")))
      seg -> (cs.length.toLong,
        masked.count(m => m._2 != m._1).toLong,
        masked.map(_._2).distinct.length.toLong)
    }
    val out = Privacy.piiScrub(spark, sf).collect()
    out.length shouldBe expect.size
    out.foreach { r =>
      val (n, nm, nd) = expect(r.getAs[String]("c_mktsegment"))
      r.getAs[Long]("n_rows") shouldBe n
      r.getAs[Long]("n_masked") shouldBe nm
      r.getAs[Long]("n_distinct_masked") shouldBe nd
    }
  }

  behavior of "lDiversity (q_ldiversity) vs scratch group censuses"

  it should "match every QI group's diversity audit" in {
    val expect = customers.groupBy(c => (c._3, band(c._4)))
      .map { case (k, cs) =>
        val segs = cs.groupBy(_._5).map(_._2.length.toLong)
        k -> (cs.length.toLong, segs.size.toLong, segs.min, segs.max)
      }
    val out = Privacy.lDiversity(spark, sf).collect()
    out.length shouldBe expect.size
    out.foreach { r =>
      val (gs, l, mn, mx) = expect(
        (r.getAs[Int]("c_nationkey"), r.getAs[Double]("acctbal_band")))
      r.getAs[Long]("group_size") shouldBe gs
      r.getAs[Long]("l_distinct") shouldBe l
      r.getAs[Long]("seg_n_min") shouldBe mn
      r.getAs[Long]("seg_n_max") shouldBe mx
      r.getAs[Boolean]("l_diverse") shouldBe (l >= Privacy.lThreshold)
    }
  }

  behavior of "chunkDocuments (q_chunk) vs scratch sliding windows"

  it should "match every chunk's bounds and text" in {
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val expect = docs.flatMap { case (id, text) =>
      val w = toks(text)
      val maxStart = math.max(w.length - 1 - (w.length - 1) % 40, 0)
      (0 to maxStart by 40).map { start =>
        val chunk = w.slice(start, math.min(w.length, start + 60))
        ((id, start / 40), (start, chunk.length, chunk.mkString(" ")))
      }
    }.toMap
    val out = graft.text.Curation.chunkDocuments(spark, sf).collect()
    out.length shouldBe expect.size
    out.foreach { r =>
      val (cs, nt, txt) = expect(
        (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_id")))
      r.getAs[Int]("chunk_start") shouldBe cs
      r.getAs[Int]("n_chunk_tokens") shouldBe nt
      r.getAs[String]("chunk_text") shouldBe txt
    }
  }

  behavior of "lshPlanningTable (q_lsh_plan) vs the closed form"

  it should "match every (config, jaccard) detection probability" in {
    val out = graft.dedup.Dedup.lshPlanningTable(spark, sf).collect()
    out.length shouldBe graft.dedup.Dedup.lshConfigs.length * 9
    out.foreach { r =>
      val b = r.getAs[Int]("bands"); val rr = r.getAs[Int]("rows_per_band")
      val j = r.getAs[Double]("jaccard")
      (b * rr) shouldBe graft.dedup.Dedup.numHashes
      r.getAs[Double]("p_detect") shouldBe
        (r6(1.0 - math.pow(1.0 - math.pow(j, rr), b)) +- 1e-9)
    }
  }

  private lazy val eventTimes: Array[(java.sql.Timestamp, String)] =
    graft.Tables.events(spark, sf).select("ts", "event_type").collect()
      .map(r => (r.getTimestamp(0), r.getString(1)))

  behavior of "trafficMatrix (q_traffic_matrix) vs scratch UTC buckets"

  it should "match every (dow, hour, type) cell" in {
    val expect = eventTimes.groupBy { case (ts, tpe) =>
      val z = ts.toInstant.atZone(ZoneOffset.UTC)
      // Spark dayofweek: 1 = Sunday … 7 = Saturday
      ((z.getDayOfWeek.getValue % 7) + 1, z.getHour, tpe)
    }.map { case (k, xs) => k -> xs.length.toLong }
    val out = Behavior.trafficMatrix(spark, sf).collect()
    out.length shouldBe expect.size
    out.foreach { r =>
      expect((r.getAs[Int]("dow"), r.getAs[Int]("hod"),
        r.getAs[String]("event_type"))) shouldBe r.getAs[Long]("n_events")
    }
  }

  behavior of "gapFillDailyOrders (q_gapfill) vs a carried-state walk"

  it should "match the dense grid with last-observation carry-forward" in {
    val rows = graft.Tables.orders(spark, sf)
      .select("o_orderpriority", "o_orderdate", "o_totalprice").collect()
      .map(r => (r.getString(0),
        r.getTimestamp(1).toInstant.atZone(ZoneOffset.UTC).toLocalDate,
        (BigDecimal(r.getDouble(2))
          .setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100).toLongExact))
    val daily = rows.groupBy(r => (r._1, r._2)).map { case (k, xs) =>
      k -> (xs.length.toLong,
        BigDecimal(xs.map(x => BigInt(x._3)).sum, 2).toDouble / xs.length)
    }
    val d0 = rows.map(_._2.toEpochDay).min
    val d1 = rows.map(_._2.toEpochDay).max
    val prios = rows.map(_._1).distinct
    val expect = scala.collection.mutable.Map
      .empty[(String, Long), (Long, Option[Double])]
    prios.foreach { p =>
      var carry: Option[Double] = None
      (d0 to d1).foreach { ed =>
        val day = java.time.LocalDate.ofEpochDay(ed)
        daily.get((p, day)) match {
          case Some((n, avg)) => carry = Some(avg)
            expect((p, ed)) = (n, carry)
          case None => expect((p, ed)) = (0L, carry)
        }
      }
    }
    val out = TimeSeries.gapFillDailyOrders(spark, sf).collect()
    out.length shouldBe expect.size
    out.foreach { r =>
      val key = (r.getAs[String]("o_orderpriority"),
        r.getAs[java.sql.Date]("day").toLocalDate.toEpochDay)
      val (n, carry) = expect(key)
      r.getAs[Long]("n_orders") shouldBe n
      carry match {
        case Some(v) =>
          r.getAs[Double]("avg_price_locf") shouldBe (v +- 1e-9)
        case None =>
          assert(r.isNullAt(r.fieldIndex("avg_price_locf")))
      }
    }
  }
}
