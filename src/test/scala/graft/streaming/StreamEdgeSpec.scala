package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.GroupStateTimeout

import graft.GraftTestBase
import graft.streaming.EventStreams.Event

/** Degenerate-input drives for the STREAMING faces (VERDICT r13 #3):
  * the batch edge-corpus gate (tools/edge_sweep.py) exercises every
  * batch query on nine degenerate corpora, but the streaming faces were
  * pinned by per-prefix equality on happy input only. This spec drives
  * the same degenerate classes through MemoryStream:
  *
  *  - an EMPTY stream, including an explicitly-empty micro-batch (the
  *    zero-rows batch still runs the whole stateful pipeline — fold
  *    inits, state functions, sink commit);
  *  - ALL events in a batch later than the watermark (the every-row-
  *    dropped path of each stateful operator);
  *  - a session that NEVER closes (state that outlives every
  *    micro-batch — nothing may be emitted for it, and its open state
  *    must not corrupt other keys' emissions);
  *  - event times exactly AT the watermark boundary (the >= vs >
  *    off-by-one class). Pinned against the engine: lateness is
  *    ROW-granular for per-row stateful ops (dedup drops rows STRICTLY
  *    older than the watermark) but WINDOW-granular for windowed
  *    aggregates (a row counts while its window's end is beyond the
  *    watermark, even with an event time below it), and a window
  *    finalizes when the watermark reaches its exact END.
  */
class StreamEdgeSpec extends GraftTestBase {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private var qn = 0
  private def nextName(): String = { qn += 1; s"edge_stream_$qn" }

  /** Drive one face over the given micro-batches and return the sink
    * table's rows. Each batch is added and fully processed in order —
    * including EMPTY batches, which still advance the stream. */
  private def drive(face: MemoryStream[Event] => DataFrame, mode: String,
      batches: Seq[Seq[Event]]): Array[org.apache.spark.sql.Row] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val name = nextName()
    val query = face(input).writeStream.format("memory")
      .queryName(name).outputMode(mode).start()
    try {
      batches.foreach { b =>
        input.addData(b)
        query.processAllAvailable()
      }
      spark.table(name).collect()
    } finally query.stop()
  }

  /** Every single-input streaming face, in its graded output mode. */
  private def allFaces: Seq[(String, String, MemoryStream[Event] => DataFrame)] =
    Seq(
      ("hourlyTumbling", "complete", in => EventStreams.hourlyTumbling(in.toDF())),
      ("slidingCounts", "complete", in => EventStreams.slidingCounts(in.toDF())),
      ("driftHistogramStream", "complete",
        in => EventStreams.driftHistogramStream(in.toDF())),
      ("dedupEvents", "append", in => EventStreams.dedupEvents(in.toDF())),
      ("sessionizeStream", "append",
        in => EventStreams.sessionizeStream(in.toDS(), GroupStateTimeout.NoTimeout).toDF()),
      ("mhStream", "append", in => EventStreams.mhStream(in.toDS()).toDF()))

  behavior of "streaming faces on an empty stream"

  it should "emit nothing and not fail across an empty stream and an empty micro-batch" in {
    allFaces.foreach { case (name, mode, face) =>
      withClue(s"face $name: ") {
        // two explicitly-empty micro-batches: the second runs the
        // stateful pipeline again over state written by a zero-row batch
        val rows = drive(face, mode, Seq(Seq.empty, Seq.empty))
        rows shouldBe empty
      }
    }
  }

  it should "emit nothing for an empty two-input interval join" in {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    val name = nextName()
    val query = EventStreams.correlateStreams(views.toDF(), clicks.toDF())
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      views.addData(Seq.empty)
      clicks.addData(Seq.empty)
      query.processAllAvailable()
      spark.table(name).collect() shouldBe empty
    } finally query.stop()
  }

  it should "keep emitting correct results after an interleaved empty batch" in {
    // empty batches BETWEEN data batches: state survives, nothing double-fires
    val rows = drive(
      in => EventStreams.sessionizeStream(in.toDS(), GroupStateTimeout.NoTimeout).toDF(),
      "append",
      Seq(
        Seq(Event(1, ts("2024-01-01 10:00:00"), 1, "a", 1.0),
          Event(2, ts("2024-01-01 10:10:00"), 1, "a", 1.0)),
        Seq.empty, // zero-row batch with an OPEN session in state
        Seq(Event(3, ts("2024-01-01 11:30:00"), 1, "a", 1.0))))
    rows should have length 1
    rows(0).getAs[Long]("n_events") shouldBe 2
    rows(0).getAs[Long]("duration_sec") shouldBe 600
  }

  behavior of "streaming faces when a whole batch is later than the watermark"

  it should "drop an all-late batch from a windowed aggregate and never emit its window" in {
    // b1 sets the watermark to 12:00-10min = 11:50; b2 is entirely in
    // hour 9 (< watermark) -> every row dropped; b3 closes hour 12
    val rows = drive(in => EventStreams.hourlyTumbling(in.toDF()), "append",
      Seq(
        Seq(Event(1, ts("2024-01-01 12:00:00"), 1, "click", 1.0)),
        Seq(Event(2, ts("2024-01-01 09:00:00"), 1, "click", 5.0),
          Event(3, ts("2024-01-01 09:30:00"), 2, "click", 7.0)),
        Seq(Event(4, ts("2024-01-01 14:30:00"), 1, "view", 1.0))))
    val hours = rows.map(_.getAs[Timestamp]("hour").toString)
    withClue(s"hours emitted: ${hours.mkString(",")}: ") {
      hours.count(_.startsWith("2024-01-01 09:00")) shouldBe 0
      hours.count(_.startsWith("2024-01-01 12:00")) shouldBe 1
    }
    rows.find(_.getAs[Timestamp]("hour").toString.startsWith("2024-01-01 12:00"))
      .get.getAs[Long]("n") shouldBe 1L
  }

  it should "drop an all-late batch from the streaming dedup" in {
    val rows = drive(in => EventStreams.dedupEvents(in.toDF()), "append",
      Seq(
        Seq(Event(100, ts("2024-01-01 12:00:00"), 1, "click", 1.0)),
        // entirely behind the 11:50 watermark: dropped, even though the
        // ids are new — "late" is decided by event time, not by novelty
        Seq(Event(101, ts("2024-01-01 09:00:00"), 1, "click", 1.0),
          Event(102, ts("2024-01-01 11:49:59"), 1, "click", 1.0))))
    rows.map(_.getAs[Long]("event_id")).sorted shouldBe Array(100L)
  }

  it should "not advance session state from an all-late batch" in {
    // user 2's late events must neither open a session nor perturb
    // user 1's open one (mapGroupsWithState sees only non-late rows)
    val rows = drive(
      in => EventStreams.sessionizeStream(in.toDS(), GroupStateTimeout.NoTimeout).toDF(),
      "append",
      Seq(
        Seq(Event(1, ts("2024-01-01 12:00:00"), 1, "a", 1.0)),
        Seq(Event(2, ts("2024-01-01 09:00:00"), 2, "a", 1.0)), // all late
        Seq(Event(3, ts("2024-01-01 13:30:00"), 1, "a", 1.0)))) // closes u1
    rows should have length 1
    rows(0).getAs[Long]("user_id") shouldBe 1L
    rows(0).getAs[Long]("n_events") shouldBe 1L
  }

  behavior of "a session that never closes"

  it should "hold open state indefinitely without emitting, while other keys close" in {
    // user 1: an event every 10 minutes across 6 micro-batches — the
    // gap never exceeds 30 min, so the session NEVER closes and nothing
    // may be emitted for user 1. user 2 closes normally in the middle.
    val u1 = (0 until 6).map(i =>
      Event(10 + i, ts(f"2024-01-01 10:${i * 10}%02d:00"), 1, "a", 1.0))
    val batches =
      u1.take(2).map(Seq(_)) ++
        Seq(Seq(Event(100, ts("2024-01-01 10:00:00"), 2, "b", 1.0))) ++
        u1.drop(2).map(Seq(_)) ++
        Seq(Seq(Event(101, ts("2024-01-01 12:00:00"), 2, "b", 1.0))) // closes u2
    val rows = drive(
      in => EventStreams.sessionizeStream(in.toDS(), GroupStateTimeout.NoTimeout).toDF(),
      "append", batches)
    rows should have length 1 // u2's first session only; u1 still open
    rows(0).getAs[Long]("user_id") shouldBe 2L
    rows(0).getAs[Long]("n_events") shouldBe 1L
  }

  behavior of "event times exactly at the watermark boundary"

  it should "judge window-aggregate lateness at WINDOW granularity, dedup at ROW granularity" in {
    // b1: max ts 12:00 -> watermark 11:50. b2: one row at exactly
    // 11:50:00 (== watermark) and one at 11:49:59 (strictly older).
    // PINNED ENGINE SEMANTICS (this test originally asserted a
    // row-granularity filter and the engine refuted it): a windowed
    // aggregate keeps ANY row whose window is still open (window end >
    // watermark) — both rows here land in the hour-11 window ending
    // 12:00 > 11:50, so BOTH count, including the one strictly below
    // the watermark. Row-granularity dropping (strictly-older ->
    // dropped) is the per-ROW stateful operators' contract instead —
    // pinned in the dedupEvents all-late test above, where 11:49:59
    // was dropped against the same 11:50 watermark.
    val rows = drive(in => EventStreams.hourlyTumbling(in.toDF()), "append",
      Seq(
        Seq(Event(1, ts("2024-01-01 12:00:00"), 1, "click", 1.0)),
        Seq(Event(2, ts("2024-01-01 11:50:00"), 1, "click", 3.0),
          Event(3, ts("2024-01-01 11:49:59"), 1, "click", 5.0)),
        Seq(Event(4, ts("2024-01-01 14:30:00"), 1, "view", 1.0))))
    val h11 = rows.filter(_.getAs[Timestamp]("hour").toString
      .startsWith("2024-01-01 11:00"))
    h11 should have length 1
    h11.head.getAs[Long]("n") shouldBe 2L // window-granularity: both kept
    h11.head.getAs[Double]("total_value") shouldBe 8.0
  }

  it should "finalize a window only when the watermark passes its exact END" in {
    // hour-10 window end = 11:00. An event at 11:09:59 puts the
    // watermark at 10:59:59 (< end, window still open, nothing
    // emitted); an event at 11:10:00 puts it at exactly 11:00:00
    // (== end) — Spark finalizes on watermark >= end, so the hour-10
    // window must emit after b3, not before.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val name = nextName()
    val query = EventStreams.hourlyTumbling(input.toDF())
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      input.addData(Seq(Event(1, ts("2024-01-01 10:30:00"), 1, "click", 1.0)))
      query.processAllAvailable()
      input.addData(Seq(Event(2, ts("2024-01-01 11:09:59"), 1, "view", 1.0)))
      query.processAllAvailable()
      withClue("window must still be open at watermark 10:59:59: ") {
        spark.table(name).collect() shouldBe empty
      }
      input.addData(Seq(Event(3, ts("2024-01-01 11:10:00"), 1, "view", 1.0)))
      query.processAllAvailable()
      val hours = spark.table(name).collect()
        .map(r => r.getAs[Timestamp]("hour").toString)
      withClue(s"hours emitted after watermark == end: ${hours.mkString(",")}: ") {
        hours.count(_.startsWith("2024-01-01 10:00")) shouldBe 1
      }
    } finally query.stop()
  }
}
