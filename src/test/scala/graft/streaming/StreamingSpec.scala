package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.GraftTestBase
import graft.streaming.EventStreams.Event

class StreamingSpec extends GraftTestBase {

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  behavior of "sessionizeBatch"

  it should "split on gaps > 30 minutes and aggregate session stats" in {
    import spark.implicits._
    val events = Seq(
      Event(1, ts("2024-01-01 10:00:00"), 1, "a", 1.0),
      Event(2, ts("2024-01-01 10:10:00"), 1, "a", 1.0),
      Event(3, ts("2024-01-01 11:30:00"), 1, "a", 1.0), // gap 80min -> new session
      Event(4, ts("2024-01-01 10:05:00"), 2, "b", 1.0)
    ).toDF()
    val dir = tempDir("graft-spec-events")
    events.write.mode("overwrite").parquet(s"$dir/events.parquet")
    val out = EventStreams.sessionizeBatch(spark, dir)
      .orderBy("user_id", "session_seq").collect()
    out should have length 3
    out(0).getAs[Long]("n_events") shouldBe 2
    out(0).getAs[Long]("duration_sec") shouldBe 600
    out(1).getAs[Long]("n_events") shouldBe 1
    out(2).getAs[Long]("user_id") shouldBe 2
  }

  behavior of "hourlyTumbling (streaming)"

  it should "match the batch group-by on the same data" in {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventStreams.hourlyTumbling(
        input.toDF().withColumn("ts", col("ts").cast("timestamp")))
      .writeStream.format("memory").queryName("hourly_spec")
      .outputMode("complete").start()
    try {
      input.addData(
        Event(1, ts("2024-01-01 10:05:00"), 1, "click", 2.0),
        Event(2, ts("2024-01-01 10:55:00"), 2, "click", 3.0),
        Event(3, ts("2024-01-01 11:05:00"), 1, "view", 5.0))
      query.processAllAvailable()
      val got = spark.table("hourly_spec")
        .orderBy("hour", "event_type").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
      got shouldBe Array(
        ("2024-01-01 10:00:00.0", "click", 2L, 5.0),
        ("2024-01-01 11:00:00.0", "view", 1L, 5.0))
    } finally query.stop()
  }

  it should "sum total_value exactly across micro-batches" in {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventStreams.hourlyTumbling(input.toDF())
      .writeStream.format("memory").queryName("hourly_exact_spec")
      .outputMode("complete").start()
    try {
      // as doubles, (0.1 + 0.2) + 0.3 is 0.6000000000000001
      input.addData(
        Event(1, ts("2024-01-01 10:05:00"), 1, "click", 0.1),
        Event(2, ts("2024-01-01 10:15:00"), 2, "click", 0.2))
      query.processAllAvailable()
      input.addData(Event(3, ts("2024-01-01 10:25:00"), 3, "click", 0.3))
      query.processAllAvailable()
      val got = spark.table("hourly_exact_spec").collect()
        .map(r => (r.getLong(2), r.getDouble(3)))
      got shouldBe Array((3L, 0.6))
    } finally query.stop()
  }

  behavior of "sessionizeStream"

  it should "emit closed sessions matching batch semantics for in-order input" in {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    // NoTimeout: a registered processing-time timeout would make
    // processAllAvailable block on the future timeout-servicing batch
    val query = EventStreams.sessionizeStream(input.toDS(),
        org.apache.spark.sql.streaming.GroupStateTimeout.NoTimeout)
      .writeStream.format("memory").queryName("sessions_spec")
      .outputMode("append").start()
    try {
      input.addData(
        Event(1, ts("2024-01-01 10:00:00"), 1, "a", 1.0),
        Event(2, ts("2024-01-01 10:10:00"), 1, "a", 1.0))
      query.processAllAvailable()
      // second micro-batch: event past the gap closes the first session
      input.addData(Event(3, ts("2024-01-01 11:30:00"), 1, "a", 1.0))
      query.processAllAvailable()
      val out = spark.table("sessions_spec").collect()
      out should have length 1 // only the CLOSED session is emitted
      out(0).getAs[Long]("user_id") shouldBe 1
      out(0).getAs[Timestamp]("session_start") shouldBe ts("2024-01-01 10:00:00")
      out(0).getAs[Long]("n_events") shouldBe 2
      out(0).getAs[Long]("duration_sec") shouldBe 600
    } finally query.stop()
  }

  behavior of "dedupEvents (streaming)"

  it should "drop redelivered event_ids within the watermark horizon" in {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventStreams.dedupEvents(input.toDF())
      .writeStream.format("memory").queryName("dedup_spec")
      .outputMode("append").start()
    try {
      input.addData(
        Event(1, ts("2024-01-01 10:00:00"), 1, "click", 1.0),
        Event(1, ts("2024-01-01 10:00:01"), 1, "click", 1.0), // same-batch dup
        Event(2, ts("2024-01-01 10:01:00"), 1, "view", 2.0))
      query.processAllAvailable()
      // redelivery in a later micro-batch, still inside the watermark
      input.addData(Event(1, ts("2024-01-01 10:02:00"), 1, "click", 1.0))
      query.processAllAvailable()
      val ids = spark.table("dedup_spec").collect().map(_.getAs[Long]("event_id"))
      ids.sorted shouldBe Array(1L, 2L)
    } finally query.stop()
  }

  behavior of "hourlyTumbling late data (append + watermark)"

  it should "drop events later than the watermark and emit closed windows once" in {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventStreams.hourlyTumbling(input.toDF())
      .writeStream.format("memory").queryName("late_spec")
      .outputMode("append").start()
    try {
      // batch 1: events in hour 10; advances watermark to 10:55 - 10min = 10:45
      input.addData(
        Event(1, ts("2024-01-01 10:05:00"), 1, "click", 1.0),
        Event(2, ts("2024-01-01 10:55:00"), 1, "click", 1.0))
      query.processAllAvailable()
      // batch 2: watermark jumps past hour 10 (12:30 -> 12:20), closing it
      input.addData(Event(3, ts("2024-01-01 12:30:00"), 1, "view", 1.0))
      query.processAllAvailable()
      // batch 3: a straggler for hour 10 — beyond the watermark, dropped
      input.addData(Event(4, ts("2024-01-01 10:30:00"), 1, "click", 9.0))
      query.processAllAvailable()
      val closed = spark.table("late_spec").collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2), r.getDouble(3)))
      // hour 10 emitted exactly once, with 2 events — the straggler's
      // count=3/value=10 never appears
      closed.count(_._1.startsWith("2024-01-01 10:00")) shouldBe 1
      closed.find(_._1.startsWith("2024-01-01 10:00")).get._3 shouldBe 2L
    } finally query.stop()
  }

  behavior of "slidingCounts (streaming)"

  it should "land each event in 4 overlapping windows" in {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventStreams.slidingCounts(input.toDF())
      .writeStream.format("memory").queryName("sliding_spec")
      .outputMode("complete").start()
    try {
      input.addData(Event(1, ts("2024-01-01 10:31:00"), 1, "click", 1.0))
      query.processAllAvailable()
      val rows = spark.table("sliding_spec").collect()
      rows should have length 4 // 1h window / 15min slide
      all(rows.map(_.getAs[Long]("n"))) shouldBe 1L
    } finally query.stop()
  }

  behavior of "driftHistogramStream"

  it should "match the batch histogram and compose to the batch PSI" in {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val query = EventStreams.driftHistogramStream(input.toDF())
      .writeStream.format("memory").queryName("drift_spec")
      .outputMode("complete").start()
    try {
      val events = Seq(
        // day 1 (reference): values clustered low
        Event(1, ts("2024-01-01 01:00:00"), 1, "click", 10.0),
        Event(2, ts("2024-01-01 02:00:00"), 1, "click", 40.0),
        Event(3, ts("2024-01-01 03:00:00"), 2, "click", 60.0),
        // day 2 (current): distribution shifted high
        Event(4, ts("2024-01-02 01:00:00"), 1, "click", 160.0),
        Event(5, ts("2024-01-02 02:00:00"), 2, "click", 210.0),
        Event(6, ts("2024-01-02 03:00:00"), 2, "click", 40.0))
      input.addData(events: _*)
      query.processAllAvailable()
      val got = spark.table("drift_spec")
        .collect()
        .map(r => (r.getTimestamp(0).toString.take(10), r.getLong(1)) -> r.getLong(2))
        .toMap
      // batch equality: same (day, bucket) -> count map
      val batch = events.toDF()
        .groupBy(to_date(col("ts")).as("day"),
          (floor(col("value") / EventStreams.driftBucketWidth) *
            EventStreams.driftBucketWidth).cast("long").as("value_bucket"))
        .count()
        .collect()
        .map(r => (r.getDate(0).toString, r.getLong(1)) -> r.getLong(2))
        .toMap
      got shouldBe batch
      // PSI composes from the stream output exactly as from batch counts:
      // smoothed per-bucket (p-q)·ln(p/q) over the union of buckets
      val ref = got.collect { case ((d, b), n) if d == "2024-01-01" => b -> n }
      val cur = got.collect { case ((d, b), n) if d == "2024-01-02" => b -> n }
      val buckets = (ref.keySet ++ cur.keySet).toSeq
      val (tr, tc) = (ref.values.sum.toDouble, cur.values.sum.toDouble)
      val psi = buckets.map { b =>
        val p = (ref.getOrElse(b, 0L) + 1.0) / (tr + buckets.size)
        val q = (cur.getOrElse(b, 0L) + 1.0) / (tc + buckets.size)
        (p - q) * math.log(p / q)
      }.sum
      psi should be > 0.0 // the planted shift is visible
    } finally query.stop()
  }

  behavior of "correlateStreams (stream-stream interval join)"

  it should "pair views with same-user clicks inside the 30-minute bound only" in {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val views = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    val query = EventStreams.correlateStreams(views.toDF(), clicks.toDF())
      .writeStream.format("memory").queryName("corr_spec")
      .outputMode("append").start()
    try {
      views.addData(Event(10, ts("2024-01-01 10:00:00"), 1, "view", 1.0))
      clicks.addData(
        Event(20, ts("2024-01-01 10:10:00"), 1, "click", 1.0), // within 30min
        Event(21, ts("2024-01-01 11:10:00"), 1, "click", 1.0), // too late
        Event(22, ts("2024-01-01 10:10:00"), 2, "click", 1.0)) // other user
      query.processAllAvailable()
      val got = spark.table("corr_spec")
        .select("v_event", "c_event").collect().map(r => (r.getLong(0), r.getLong(1)))
      got shouldBe Array((10L, 20L))
    } finally query.stop()
  }

  behavior of "sessionWindowAgg"

  it should "cover every event with non-overlapping per-user sessions" in {
    import org.apache.spark.sql.expressions.Window
    val sess = EventStreams.sessionWindowAgg(spark, sf)
    sess.agg(sum("n_events")).head().getLong(0) shouldBe
      graft.Tables.events(spark, sf).count()
    val w = Window.partitionBy("user_id").orderBy("session_start")
    sess.withColumn("prev_end", lag("session_end", 1).over(w))
      .filter(col("prev_end").isNotNull && col("session_start") < col("prev_end"))
      .count() shouldBe 0
  }

  behavior of "incrementalTotals (streaming materialized view)"

  it should "refresh only touched keys and retain untouched partitions" in {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dir = tempDir("graft-spec-mv")
    val input = MemoryStream[Event]
    val query = EventStreams.incrementalTotals(
      input.toDF().withColumn("ts", col("ts").cast("timestamp")),
      s"$dir/table", s"$dir/ckpt")
    try {
      input.addData(
        Event(1, ts("2024-01-01 10:00:00"), 1, "click", 2.0),
        Event(2, ts("2024-01-01 10:01:00"), 2, "click", 3.0),
        Event(3, ts("2024-01-01 10:02:00"), 1, "view", 5.0))
      query.processAllAvailable()
      val mv1 = spark.read.parquet(s"$dir/table")
        .collect().map(r => r.getAs[String]("event_type") ->
          (r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toMap
      mv1 shouldBe Map("click" -> (2L, 5.0), "view" -> (1L, 5.0))
      // second batch touches only "click" — "view" partition must survive
      // untouched while click's totals include BOTH batches (state carries)
      input.addData(Event(4, ts("2024-01-01 10:03:00"), 3, "click", 10.0))
      query.processAllAvailable()
      val mv2 = spark.read.parquet(s"$dir/table")
        .collect().map(r => r.getAs[String]("event_type") ->
          (r.getAs[Long]("n_events"), r.getAs[Double]("total_value"))).toMap
      mv2 shouldBe Map("click" -> (3L, 15.0), "view" -> (1L, 5.0))
    } finally query.stop()
  }
}
