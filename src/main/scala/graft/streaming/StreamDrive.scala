package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.EventStreams.Event

/** Edge-gate driver for the relational streaming faces (VERDICT r14 #6):
  * `tools/edge_sweep.py`'s nine derived corpora exercised only the batch
  * catalog — StreamEdgeSpec's degenerate drives run on CONSTRUCTED
  * MemoryStreams, so a corpus-shaped degeneracy (an absent event type, an
  * empty events table, a single customer) never hit the streaming
  * operators. This main replays a corpus' events table through
  * MemoryStreams in timestamp-ordered micro-batch chunks and asserts,
  * per prefix, STREAM/BATCH PARITY: the streaming result table must
  * equal the SAME face applied to the static prefix DataFrame (the
  * strongest generic contract — micro-batch boundaries must be
  * invisible). In-order feed makes the watermark a no-op on both sides,
  * so parity is exact for the complete-mode window aggregations and the
  * inner stream-stream interval join; the dedup face compares id-sets
  * (batch dropDuplicates row choice is nondeterministic), and the typed
  * Mantel–Haenszel face pins its FINAL snapshot against the real batch
  * operator (its per-prefix algebra is already spec-pinned in
  * MhMonitorStreamSpec).
  *
  * Usage: runMain graft.streaming.StreamDrive <sfDir> [nChunks]
  * Prints one PASS/FAIL line per face and a JSON tail; exits non-zero
  * on any mismatch. */
object StreamDrive {

  private def canon(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSeq.sorted

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val nChunks = if (args.length > 1) args(1).toInt else 4
    val spark = graft.GraftSession.local()
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val all: Seq[Event] = graft.Tables.events(spark, sfDir)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .as[Event].orderBy("ts", "event_id").collect().toSeq
    val chunkSize = math.max(1, math.ceil(all.size / nChunks.toDouble).toInt)
    val chunks: Seq[Seq[Event]] =
      if (all.isEmpty) Seq(Seq.empty)
      else all.grouped(chunkSize).toSeq

    var failures = List.empty[String]
    def report(face: String, errs: Seq[String]): Unit = {
      if (errs.isEmpty) println(s"[stream_drive] PASS $face")
      else {
        errs.foreach(e => println(s"[stream_drive] FAIL $face: $e"))
        failures ::= face
      }
    }

    /** Complete-mode window aggregation faces: per-prefix equality of
      * the streaming table vs the same face over the static prefix. */
    def driveComplete(face: String, f: DataFrame => DataFrame): Unit = {
      val input = MemoryStream[Event]
      val q = f(input.toDF())
        .writeStream.format("memory").queryName(s"drive_$face")
        .outputMode("complete").start()
      val errs = scala.collection.mutable.ArrayBuffer.empty[String]
      try {
        var prefix = Seq.empty[Event]
        chunks.zipWithIndex.foreach { case (chunk, i) =>
          if (chunk.nonEmpty) input.addData(chunk)
          q.processAllAvailable()
          prefix ++= chunk
          val got = canon(spark.table(s"drive_$face"))
          val want = canon(f(prefix.toDF()))
          if (got != want)
            errs += s"prefix ${i + 1}/${chunks.size} (${prefix.size} rows): " +
              s"stream ${got.size} rows != batch ${want.size} rows; " +
              s"first diff: ${(want.diff(got) ++ got.diff(want)).headOption}"
        }
      } finally q.stop()
      report(face, errs.toSeq)
    }

    driveComplete("hourly_tumbling", EventStreams.hourlyTumbling)
    driveComplete("sliding_counts", EventStreams.slidingCounts)
    driveComplete("drift_histogram", EventStreams.driftHistogramStream)

    // dedup: append mode; per-prefix the emitted id-set must equal the
    // distinct id-set of the prefix (row choice per id is unspecified)
    locally {
      val face = "dedup_events"
      val input = MemoryStream[Event]
      val q = EventStreams.dedupEvents(input.toDF())
        .writeStream.format("memory").queryName(s"drive_$face")
        .outputMode("append").start()
      val errs = scala.collection.mutable.ArrayBuffer.empty[String]
      try {
        var prefix = Seq.empty[Event]
        chunks.zipWithIndex.foreach { case (chunk, i) =>
          if (chunk.nonEmpty) input.addData(chunk)
          q.processAllAvailable()
          prefix ++= chunk
          val got = spark.table(s"drive_$face")
            .select("event_id").collect().map(_.getLong(0)).sorted.toSeq
          val want = prefix.map(_.event_id).distinct.sorted
          if (got != want)
            errs += s"prefix ${i + 1}: stream ids ${got.size} != " +
              s"distinct prefix ids ${want.size}"
        }
      } finally q.stop()
      report(face, errs.toSeq)
    }

    // stream-stream interval join (views ⋈ clicks within 30 min): the
    // in-order feed means every joinable pair inside the prefix has
    // been emitted by the time the prefix is fully processed
    locally {
      val face = "correlate_streams"
      val vIn = MemoryStream[Event]
      val cIn = MemoryStream[Event]
      val q = EventStreams.correlateStreams(
          vIn.toDF().filter(col("event_type") === "view"),
          cIn.toDF().filter(col("event_type") === "click"))
        .writeStream.format("memory").queryName(s"drive_$face")
        .outputMode("append").start()
      val errs = scala.collection.mutable.ArrayBuffer.empty[String]
      try {
        var prefix = Seq.empty[Event]
        chunks.zipWithIndex.foreach { case (chunk, i) =>
          if (chunk.nonEmpty) { vIn.addData(chunk); cIn.addData(chunk) }
          q.processAllAvailable()
          prefix ++= chunk
          val pdf = prefix.toDF()
          val got = canon(spark.table(s"drive_$face"))
          val want = canon(EventStreams.correlateStreams(
            pdf.filter(col("event_type") === "view"),
            pdf.filter(col("event_type") === "click")))
          if (got != want)
            errs += s"prefix ${i + 1}: stream ${got.size} pairs != " +
              s"batch ${want.size} pairs"
        }
      } finally q.stop()
      report(face, errs.toSeq)
    }

    // typed Mantel–Haenszel monitor: final snapshot vs the batch
    // operator (per-prefix algebra is MhMonitorStreamSpec's job)
    locally {
      val face = "mh_monitor_final"
      if (all.isEmpty) {
        // no events → no snapshots; the empty-input behavior is pinned
        // by StreamEdgeSpec — nothing to compare against the batch
        // operator's aggregate row here
        println(s"[stream_drive] PASS $face (empty corpus, no snapshots)")
      } else {
        val input = MemoryStream[Event]
        val q = EventStreams.mhStream(input.toDS())
          .writeStream.format("memory").queryName(s"drive_$face")
          .outputMode("append").start()
        val errs = scala.collection.mutable.ArrayBuffer.empty[String]
        try {
          chunks.foreach { chunk =>
            if (chunk.nonEmpty) input.addData(chunk)
            q.processAllAvailable()
          }
          val fin = spark.table(s"drive_$face").collect()
            .maxBy(_.getAs[Long]("snapshot"))
          val batch = graft.ops.Behavior.mantelHaenszel(spark, sfDir).head()
          Seq("n_strata", "or_mh", "log_or_mh", "cmh_chi2", "reject_95")
            .foreach { c =>
              val g = String.valueOf(fin.getAs[Any](c))
              val w = String.valueOf(batch.getAs[Any](c))
              if (g != w) errs += s"$c: stream $g != batch $w"
            }
        } finally q.stop()
        report(face, errs.toSeq)
      }
    }

    val ok = failures.isEmpty
    println(s"""{"metric":"stream_drive","dir":"$sfDir","events":${all.size},""" +
      s""""faces":6,"failed":${failures.size},"ok":$ok}""")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
