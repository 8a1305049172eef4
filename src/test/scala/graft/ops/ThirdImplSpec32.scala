package graft.ops

import graft.GraftTestBase
import graft.Scratch.{ev, utcDate}

/** THIRD-IMPLEMENTATION battery, batch 32: event-sequence analytics.
  *
  * Funnels (strict-order and time-windowed), top paths, the transition
  * matrix, activity streaks (the gaps-and-islands identity), the
  * per-day initial-sequence pattern census, sessionization and the
  * bounce rollup — the window/sequence family. The scratch side
  * replays every user timeline as an explicitly sorted Scala sequence
  * (own tie order, own gap logic, own range-window scans), so the
  * engines' shared lag/row_number/range-frame algebra is pinned by
  * plain loops.
  */
class ThirdImplSpec32 extends GraftTestBase {

  // -------------------------------------------------------------- funnel

  behavior of "Behavior.funnelCounts (q_funnel) vs scratch first-times"

  it should "match the strict-order funnel counts" in {
    val perUser = ev.groupBy(_._1).values.toSeq.map { rs =>
      def first(t: String) = rs.filter(_._2 == t).map(_._3).sorted.headOption
      (first("view"), first("click"), first("purchase"))
    }
    val nView = perUser.count(_._1.isDefined).toLong
    val nVC = perUser.count { case (v, c, _) =>
      v.isDefined && c.exists(_ > v.get)
    }.toLong
    val nFull = perUser.count { case (v, c, p) =>
      v.isDefined && c.exists(_ > v.get) && p.exists(pp => c.exists(pp > _))
    }.toLong
    val row = Behavior.funnelCounts(spark, sf).collect().head
    row.getLong(0) shouldBe nView
    row.getLong(1) shouldBe nVC
    row.getLong(2) shouldBe nFull
  }

  // --------------------------------------------------------- event paths

  behavior of "Behavior.topEventPaths (q_event_paths) vs scratch timelines"

  it should "match the top-20 5-step paths" in {
    val paths = ev.groupBy(_._1).values.toSeq.map { rs =>
      rs.sortBy(r => (r._3, r._4)).take(5).map(_._2).mkString(">")
    }
    val expected = paths.groupBy(identity).toSeq
      .map { case (p, ps) => (p, ps.length.toLong) }
      .sortBy { case (p, n) => (-n, p) }.take(20)
    val got = Behavior.topEventPaths(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    got shouldBe expected
  }

  // --------------------------------------------------------- transitions

  behavior of "Behavior.transitionMatrix (q_transitions) vs scratch lags"

  it should "match every cell's count and conditional probability" in {
    val pairs = ev.groupBy(_._1).values.toSeq.flatMap { rs =>
      val path = rs.sortBy(r => (r._3, r._4)).map(_._2)
      path.zip(path.drop(1))
    }
    val counts = pairs.groupBy(identity).view.mapValues(_.length.toLong)
      .toMap
    val rowT = counts.groupBy(_._1._1).view.mapValues(_.values.sum).toMap
    val expected = counts.map { case ((a, b), n) =>
      (a, b, n, n.toDouble / rowT(a))
    }.toSet
    val got = Behavior.transitionMatrix(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2),
        r.getDouble(3))).toSet
    got shouldBe expected
  }

  // ------------------------------------------------------------- streaks

  behavior of "Behavior.activityStreaks (q_streaks) vs scratch islands"

  it should "match active days, streak counts and longest runs" in {
    val expected = ev.groupBy(_._1).toSeq.map { case (uid, rs) =>
      val days = rs.map(r => utcDate(new java.sql.Timestamp(r._3)).toEpochDay)
        .distinct.sorted
      var streaks = 1L
      for (i <- 1 until days.length if days(i) != days(i - 1) + 1)
        streaks += 1
      var longest = 1L; var cur = 1L
      for (i <- 1 until days.length) {
        if (days(i) == days(i - 1) + 1) cur += 1 else cur = 1
        longest = math.max(longest, cur)
      }
      (uid, days.length.toLong, streaks, longest)
    }.toSet
    val got = Behavior.activityStreaks(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSet
    got shouldBe expected
  }

  // ----------------------------------------------------------- seqpattern

  behavior of "Behavior.sequencePattern (q_seqpattern) vs scratch regex"

  it should "match contiguous and gapped v-c-p counts per day" in {
    val seqs = ev
      .map(r => ((r._1, utcDate(new java.sql.Timestamp(r._3))), r))
      .groupBy(_._1).toSeq
      .map { case ((_, day), rs) =>
        (day, rs.map(_._2).sortBy(r => (r._3, r._4))
          .map(_._2.substring(0, 1)).mkString)
      }
    val expected = seqs.groupBy(_._1).toSeq.map { case (day, ss) =>
      val vcp = "vcp".r
      val sub = "v.*c.*p".r
      val contig = ss.map(s => vcp.findAllIn(s._2).length)
      (day, ss.length.toLong, contig.count(_ > 0).toLong,
        contig.map(_.toLong).sum,
        ss.count(s => sub.findFirstIn(s._2).isDefined).toLong)
    }.toSet
    val got = Behavior.sequencePattern(spark, sf).collect()
      .map(r => (utcDate(r.getTimestamp(0)), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    got shouldBe expected
  }

  // --------------------------------------------------------- timed funnel

  behavior of "TimeSeries.timedFunnel (q_timed_funnel) vs scratch range scans"

  it should "match qualified clicks and converted purchases per day" in {
    val enriched = ev.groupBy(_._1).values.toSeq.flatMap { rs =>
      val s = rs.map(r => (r._2, r._3, r._3 / 1000)) // (type, millis, sec)
      s.map { case (t, ms, sec) =>
        val vTs = s.filter(x => x._1 == "view" &&
          x._3 >= sec - 3600 && x._3 <= sec).map(_._2)
          .sorted.lastOption
        (t, ms, sec, vTs)
      }.map { case (t, ms, sec, vTs) =>
        val qcTs = s.filter(x => x._1 == "click" && {
          val xv = s.filter(y => y._1 == "view" &&
            y._3 >= x._3 - 3600 && y._3 <= x._3)
          xv.nonEmpty
        } && x._3 >= sec - 86400 && x._3 <= sec).map(_._2)
          .sorted.lastOption
        (t, ms, vTs, qcTs)
      }
    }
    val expected = enriched
      .groupBy(r => utcDate(new java.sql.Timestamp(r._2))).toSeq
      .map { case (day, rs) =>
        (day,
          rs.count(_._1 == "click").toLong,
          rs.count(r => r._1 == "click" && r._3.isDefined).toLong,
          rs.count(_._1 == "purchase").toLong,
          rs.count(r => r._1 == "purchase" && r._4.isDefined).toLong)
      }.toSet
    val got = TimeSeries.timedFunnel(spark, sf).collect()
      .map(r => (utcDate(r.getTimestamp(0)), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    got shouldBe expected
  }

  // ----------------------------------------------------------- sessionize

  behavior of "EventStreams.sessionizeBatch (q_sessionize) vs scratch gaps"

  it should "match every session's bounds and event count" in {
    val gap = graft.streaming.EventStreams.sessionGapMinutes * 60L
    val expected = ev.groupBy(_._1).toSeq.flatMap { case (uid, rs) =>
      val s = rs.sortBy(r => (r._3, r._4))
      var seq = 0L
      var sessions = Vector.empty[(Long, Long, Vector[Long])]
      var prevSec = Long.MinValue
      for (r <- s) {
        val sec = r._3 / 1000
        if (prevSec == Long.MinValue || sec - prevSec > gap) {
          seq += 1
          sessions = sessions :+ ((uid, seq, Vector(r._3)))
        } else {
          val last = sessions.last
          sessions = sessions.init :+
            ((last._1, last._2, last._3 :+ r._3))
        }
        prevSec = sec
      }
      sessions.map { case (u, sq, tss) =>
        (u, sq, tss.length.toLong, tss.min, tss.max,
          tss.max / 1000 - tss.min / 1000)
      }
    }.toSet
    val got = graft.streaming.EventStreams.sessionizeBatch(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getTimestamp(3).getTime, r.getTimestamp(4).getTime,
        r.getLong(5))).toSet
    got shouldBe expected
  }

  // --------------------------------------------------------------- bounce

  behavior of "Behavior.bounceRate (q_bounce) vs scratch session rollups"

  it should "match per-day session and bounce counts" in {
    val gap = graft.streaming.EventStreams.sessionGapMinutes * 60L
    val sessions = ev.groupBy(_._1).values.toSeq.flatMap { rs =>
      val s = rs.sortBy(r => (r._3, r._4))
      var out = Vector.empty[(Long, Long)] // (startMs, nEvents)
      var prevSec = Long.MinValue
      for (r <- s) {
        val sec = r._3 / 1000
        if (prevSec == Long.MinValue || sec - prevSec > gap)
          out = out :+ ((r._3, 1L))
        else {
          val last = out.last
          out = out.init :+ ((last._1, last._2 + 1))
        }
        prevSec = sec
      }
      out
    }
    val expected = sessions
      .groupBy(s => utcDate(new java.sql.Timestamp(s._1))).toSeq
      .map { case (day, ss) =>
        val b = ss.count(_._2 == 1L).toLong
        (day, ss.length.toLong, b, b.toDouble / ss.length)
      }.toSet
    val got = Behavior.bounceRate(spark, sf).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    got shouldBe expected
  }
}
