package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.Tables
import graft.ops.Relational

/** Event-time processing over `events` — batch sessionization with a
  * DuckDB oracle, plus the Structured Streaming renderings of the same
  * semantics (tumbling/sliding windows with watermark, stateful
  * sessionization via flatMapGroupsWithState).
  *
  * The streaming entry points take an input DataFrame rather than a path
  * so tests drive them from MemoryStream and production from readStream;
  * the TRANSFORMATION is identical either way — exactly Spark's
  * batch/streaming unification.
  *
  * Scale: sessionization shuffles once on user_id; window aggregations
  * shuffle once on (window, key). Watermarks bound state: with a 30 min
  * gap and 10 min watermark, state per key is O(1 open session).
  */
object EventStreams {

  /** Session gap: a new session starts after 30 minutes of inactivity. */
  val sessionGapMinutes = 30

  /** Add the standard 10-minute event-time watermark on `ts` unless the
    * plan already carries one — chaining stateful operators (dedup →
    * window agg) must share a single watermark; redefining it is an
    * AnalysisException since Spark 3.5. */
  private def withEventWatermark(df: DataFrame): DataFrame = {
    val has = df.queryExecution.analyzed.collectFirst {
      case w: org.apache.spark.sql.catalyst.plans.logical.EventTimeWatermark => w
    }.isDefined
    if (has) df else df.withWatermark("ts", "10 minutes")
  }

  /** Batch sessionization (the oracle-checked reference semantics):
    * classic gaps-and-islands — lag() the previous event time per user,
    * flag gaps > 30 min, running-sum the flags into session ids, then
    * aggregate. Two window passes over one user_id shuffle. */
  def sessionizeBatch(s: SparkSession, d: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val flagged = Tables.events(s, d)
      .withColumn("prev_ts", lag(col("ts"), 1).over(byUser))
      .withColumn("new_session",
        when(col("prev_ts").isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(col("prev_ts")) >
            sessionGapMinutes * 60L, 1L).otherwise(0L))
      .withColumn("session_seq", sum("new_session").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    flagged.groupBy(col("user_id"), col("session_seq"))
      .agg(
        count("*").as("n_events"),
        min("ts").as("session_start"),
        max("ts").as("session_end"),
        (unix_timestamp(max("ts")) - unix_timestamp(min("ts"))).as("duration_sec"))
  }

  /** Native session_window rendering of sessionization — the built-in
    * operator alternative to the lag/running-sum form ([[sessionizeBatch]])
    * and the stateful streaming form ([[sessionizeStream]]). One shuffle
    * on user_id; Spark merges overlapping per-event windows internally
    * (no window-function pass at all). Boundary semantics differ from
    * the lag form on purpose and the oracle mirrors them exactly: an
    * event at precisely prev_ts + gap starts a NEW session (windows are
    * half-open [ts, ts+gap)), and the comparison is full microsecond
    * precision, not whole-second date_diff. session_end is last event
    * + gap — the window's half-open upper bound, not max(ts). */
  def sessionWindowAgg(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .groupBy(col("user_id"),
        session_window(col("ts"), s"$sessionGapMinutes minutes").as("sw"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"))

  val sessionWindowAggSql: String =
    s"""WITH flagged AS (
       |  SELECT user_id, event_id, ts,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR ts >= lag(ts) OVER w + INTERVAL $sessionGapMinutes MINUTE
       |         THEN 1 ELSE 0 END AS new_s
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |sess AS (
       |  SELECT user_id, ts,
       |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS s
       |  FROM flagged)
       |SELECT user_id, min(ts) AS session_start,
       |  max(ts) + INTERVAL $sessionGapMinutes MINUTE AS session_end,
       |  count(*) AS n_events
       |FROM sess GROUP BY user_id, s""".stripMargin

  val sessionizeBatchSql: String =
    s"""WITH flagged AS (
       |  SELECT user_id, event_id, ts,
       |    CASE WHEN lag(ts) OVER w IS NULL
       |           OR date_diff('second', lag(ts) OVER w, ts) > ${sessionGapMinutes * 60}
       |         THEN 1 ELSE 0 END AS new_session
       |  FROM events
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |sessions AS (
       |  SELECT user_id, ts,
       |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_seq
       |  FROM flagged)
       |SELECT user_id, CAST(session_seq AS BIGINT) AS session_seq,
       |  count(*) AS n_events,
       |  min(ts) AS session_start, max(ts) AS session_end,
       |  date_diff('second', min(ts), max(ts)) AS duration_sec
       |FROM sessions GROUP BY user_id, session_seq""".stripMargin

  /** Tumbling 1-hour event-time window with a 10-minute watermark —
    * late events beyond the watermark are dropped, the streaming-native
    * rendering of q_events_hourly. `total_value` is that query's exact
    * sum ([[graft.ops.Relational.dsum]]): a double sum would depend on
    * the order micro-batch partials fold into the state, and differ
    * from the batch plan's by an ulp. */
  def hourlyTumbling(events: DataFrame): DataFrame =
    withEventWatermark(events)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count("*").as("n"), Relational.dsum(col("value")).as("total_value"))
      .select(col("window.start").as("hour"), col("event_type"),
        col("n"), col("total_value"))

  /** Sliding 1-hour window advancing every 15 minutes (each event lands
    * in 4 windows) — rate smoothing for monitoring feeds. */
  def slidingCounts(events: DataFrame): DataFrame =
    withEventWatermark(events)
      .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
      .agg(count("*").as("n"))
      .select(col("window.start").as("w_start"), col("event_type"), col("n"))

  /** Drift-histogram bucket width (value units). */
  val driftBucketWidth = 50L

  /** Streaming drift histogram — the monitoring face of
    * [[graft.ops.Quality.psiDrift]]: the value distribution per daily
    * tumbling window in fixed [[driftBucketWidth]]-wide buckets. One
    * stateful aggregation, state O(open windows × buckets); windows
    * finalize at the watermark. PSI against a reference histogram is a
    * stateless per-bucket projection over THIS output, composed in the
    * sink or a downstream batch pass — chaining the totals-and-ln rollup
    * as a second in-stream stateful aggregation is exactly the
    * multiple-stateful-operator shape append mode rejects, and the
    * split (stream maintains counts, cheap batch derives the statistic)
    * is how production drift monitors are built anyway. */
  def driftHistogramStream(events: DataFrame): DataFrame =
    withEventWatermark(events)
      .groupBy(window(col("ts"), "1 day"),
        (floor(col("value") / driftBucketWidth) * driftBucketWidth).cast("long")
          .as("value_bucket"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("day"), col("value_bucket"), col("n"))

  /** Streaming exact deduplication on event_id with state bounded by the
    * watermark: an id reappearing within the 10-minute horizon is
    * dropped; state for ids older than the watermark is evicted (the
    * unbounded-state hazard of plain dropDuplicates on a stream). The
    * streaming rendering of [[graft.dedup.Dedup.exactDedup]]'s contract
    * for at-least-once upstream delivery. */
  def dedupEvents(events: DataFrame): DataFrame =
    withEventWatermark(events)
      .dropDuplicatesWithinWatermark("event_id")

  /** Stream-stream interval join: pair each view with the clicks of the
    * same user within the following 30 minutes (the streaming rendering
    * of [[graft.ops.TimeSeries.eventPairsWithin30Min]]). Both sides carry
    * watermarks and the join condition bounds event time in both
    * directions — that's what lets Spark evict buffered state; an
    * unbounded condition would grow state forever. */
  def correlateStreams(views: DataFrame, clicks: DataFrame): DataFrame = {
    val v = views.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("v_user"), col("ts").as("v_ts"),
        col("event_id").as("v_event"))
    val c = clicks.withWatermark("ts", "10 minutes")
      .select(col("user_id").as("c_user"), col("ts").as("c_ts"),
        col("event_id").as("c_event"))
    v.join(c,
      col("v_user") === col("c_user") &&
        col("c_ts") >= col("v_ts") &&
        col("c_ts") <= col("v_ts") + expr(s"INTERVAL $sessionGapMinutes MINUTES"))
  }

  /** Incremental materialized view: maintain per-event-type running
    * totals as a queryable parquet table, updated every micro-batch.
    *
    * Mechanics: an UPDATE-mode streaming aggregate emits only the keys
    * whose totals changed this batch, carrying their COMPLETE new values
    * (streaming state holds the running totals). foreachBatch lands
    * those rows with dynamic partition overwrite keyed on event_type —
    * only touched keys' partitions rewrite, untouched keys' files stand.
    * Overwrite is idempotent, so a batch retry converges to the same
    * files: exactly-once at the sink without a transactional table
    * format. This is the streaming face of the batch delete-then-load
    * contract ([[graft.ingest.BatchLoad]]): same dynamic-overwrite
    * primitive, keyed on the aggregation key instead of load_date.
    * At scale the MV refresh cost tracks the number of CHANGED keys per
    * batch, not table size. */
  def incrementalTotals(events: DataFrame, outDir: String, checkpointDir: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    events
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"), sum(col("value")).as("total_value"))
      .writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        batch.write
          .mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("event_type")
          .parquet(outDir)
      }
      .start()

  final case class Event(event_id: Long, ts: Timestamp, user_id: Long,
      event_type: String, value: Double)

  final case class SessionState(start: Long, last: Long, n: Long)
  final case class SessionOut(user_id: Long, session_start: Timestamp,
      n_events: Long, duration_sec: Long)

  /** Streaming sessionization: custom state machine via
    * flatMapGroupsWithState. State per user = the one open session;
    * with the default ProcessingTimeTimeout, sessions idle past the gap
    * are flushed by the timeout path. Semantics mirror
    * [[sessionizeBatch]] for in-order input (asserted in StreamingSpec;
    * the spec passes NoTimeout — a registered 30-minute processing-time
    * timeout makes `processAllAvailable` wait on the timeout-servicing
    * batch, which never comes inside a test). */
  def sessionizeStream(
      events: Dataset[Event],
      timeout: GroupStateTimeout = GroupStateTimeout.ProcessingTimeTimeout)
      : Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    val usesTimeout = timeout != GroupStateTimeout.NoTimeout
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, timeout) {
        (userId: Long, batch: Iterator[Event], state: GroupState[SessionState]) =>
          val gapMs = sessionGapMinutes * 60 * 1000L
          val out = scala.collection.mutable.ArrayBuffer.empty[SessionOut]
          var cur = state.getOption
          batch.toSeq.sortBy(e => (e.ts.getTime, e.event_id)).foreach { e =>
            val t = e.ts.getTime
            cur match {
              case Some(st) if t - st.last <= gapMs =>
                cur = Some(st.copy(last = t, n = st.n + 1))
              case Some(st) =>
                out += SessionOut(userId, new Timestamp(st.start),
                  st.n, (st.last - st.start) / 1000)
                cur = Some(SessionState(t, t, 1))
              case None =>
                cur = Some(SessionState(t, t, 1))
            }
          }
          if (state.hasTimedOut) {
            cur.foreach(st => out += SessionOut(userId, new Timestamp(st.start),
              st.n, (st.last - st.start) / 1000))
            state.remove()
          } else {
            cur.foreach { st =>
              state.update(st)
              if (usesTimeout) state.setTimeoutDuration(gapMs)
            }
          }
          out.iterator
      }
  }

  // --------------------------------------------- Mantel-Haenszel monitor

  final case class MhState(cells: Map[(Long, Long), (Long, Long)], snap: Long)
  final case class MhOut(snapshot: Long, n_strata: Long,
      or_mh: java.lang.Double, log_or_mh: java.lang.Double,
      cmh_chi2: java.lang.Double, reject_95: java.lang.Boolean)

  /** md5-derived 50/50 variant, identical to the batch operators'
    * `conv(substring(md5(user_id), 1, 15), 16, 10) % 2`. */
  private[graft] def variantHash(userId: Long): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(userId.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16) % 2
  }

  /** ISO week start (Monday) of an event timestamp, as epoch days —
    * the streaming replica of the batch `date_trunc('week', ts)`
    * (UTC is pinned JVM-wide, so LocalDateTime is session-UTC). */
  private[graft] def weekStartEpochDay(ts: Timestamp): Long = {
    val d = ts.toLocalDateTime.toLocalDate
    d.minusDays(d.getDayOfWeek.getValue - 1L).toEpochDay
  }

  /** Streaming face of [[graft.ops.Behavior.mantelHaenszel]]: the
    * activity-stratified variant→conversion monitor re-adjudicated
    * after every micro-batch — the confounder-adjusted live dashboard.
    * A late event can move a user-week ACROSS strata (its event count
    * grows) or flip its conversion, so the honest incremental rendering
    * keeps the per-user-week (count, conv) map as state and rebuilds the
    * ≤5 stratum 2×2 cells per snapshot — the stratum census is O(5), the
    * replay O(user-weeks). All double
    * arithmetic replays the batch column expressions' IEEE sequence
    * (stratum-sorted fold, one ½ continuity literal), so per-prefix
    * equality holds to the bit; or_mh/log_or_mh/cmh_chi2/reject_95
    * follow the batch NULL algebra exactly (or_den = 0 → or_mh NULL;
    * or_mh 0 → log NULL; zero variance → chi AND reject_95 NULL — the
    * early-traffic / degenerate states a live monitor must render, not
    * crash on or mis-render as a confident FALSE). */
  def mhStream(events: Dataset[Event]): Dataset[MhOut] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_ => 0)
      .flatMapGroupsWithState[MhState, MhOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: Int, batch: Iterator[Event], state: GroupState[MhState]) =>
          val st = state.getOption.getOrElse(MhState(Map.empty, 0L))
          var cells = st.cells
          batch.foreach { e =>
            val key = (weekStartEpochDay(e.ts), e.user_id)
            val (n, c) = cells.getOrElse(key, (0L, 0L))
            val conv = if (e.event_type == "purchase") 1L else c
            cells = cells.updated(key, (n + 1, math.max(c, conv)))
          }
          // stratum 2x2 census from the user-week map
          var strata = Map.empty[Long, (Long, Long, Long, Long)]
          cells.foreach { case ((_, u), (n, c)) =>
            val s = math.min(n / 5, 4L)
            val v = variantHash(u)
            val (a, b, cc, dd) = strata.getOrElse(s, (0L, 0L, 0L, 0L))
            val upd =
              if (v == 1 && c == 1) (a + 1, b, cc, dd)
              else if (v == 1) (a, b + 1, cc, dd)
              else if (c == 1) (a, b, cc + 1, dd)
              else (a, b, cc, dd + 1)
            strata = strata.updated(s, upd)
          }
          var orNum = 0.0; var orDen = 0.0
          var sa = 0.0; var se = 0.0; var sv = 0.0
          var k = 0L
          strata.toSeq.sortBy(_._1).foreach { case (_, (a, b, c, d)) =>
            k += 1
            val n = a + b + c + d
            if (n >= 2) {
              orNum += (a * d).toDouble / n.toDouble
              orDen += (b * c).toDouble / n.toDouble
              sa += a.toDouble
              se += ((a + b) * (a + c)).toDouble / n.toDouble
              // ONE exact-integer product converted once (the batch's
              // CAST(decimal AS DOUBLE)); stepwise double products round
              // differently and the 4-factor product can pass 2^63
              sv += (BigInt(a + b) * (c + d) * (a + c) * (b + d)).toDouble /
                (n.toDouble * n * (n.toDouble - 1.0))
            }
          }
          def round(x: Double, s: Int): Double =
            BigDecimal(x).setScale(s, BigDecimal.RoundingMode.HALF_UP)
              .toDouble
          val chiRaw: Option[Double] =
            if (sv > 0.0)
              Some(math.pow(math.max(math.abs(sa - se) - 0.5, 0.0), 2) / sv)
            else None
          // NULL algebra mirrors the batch column expressions exactly
          // (the r15 purchaseless edge-sweep finding: reject_95 must be
          // NULL — not false — when the CMH variance is 0, and or_mh is
          // 0.0 — not NULL — when only the numerator is empty):
          //   or_mh      NULL iff or_den = 0, else or_num/or_den (incl. 0)
          //   log_or_mh  NULL iff or_mh NULL or 0 (ln(0) guarded)
          //   reject_95  NULL iff chi NULL (zero variance), else chi > crit
          val orMh: Option[Double] =
            if (orDen > 0.0) Some(orNum / orDen) else None
          val snap = st.snap + 1
          state.update(MhState(cells, snap))
          Iterator(MhOut(snap, k,
            orMh.map(v => java.lang.Double.valueOf(round(v, 6))).orNull,
            orMh.filter(_ != 0.0)
              .map(v => java.lang.Double.valueOf(round(math.log(v), 6)))
              .orNull,
            chiRaw.map(v => java.lang.Double.valueOf(round(v, 4))).orNull,
            chiRaw.map(v => java.lang.Boolean.valueOf(
              v > 3.841458820694124)).orNull))
      }
  }
}
