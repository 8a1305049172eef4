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

    /** Replay the chunks, in order, through `f` over `inputs` fresh
      * MemoryStreams (each chunk goes to every input) into a memory sink;
      * after each chunk is fully processed, `check(sink, i, prefix)` lists
      * that prefix's mismatches. */
    def drive(face: String, mode: String, inputs: Int = 1)(
        f: Seq[MemoryStream[Event]] => DataFrame)(
        check: (DataFrame, Int, Seq[Event]) => Seq[String]): Unit = {
      val ins = Seq.fill(inputs)(MemoryStream[Event])
      val q = f(ins).writeStream.format("memory").queryName(s"drive_$face")
        .outputMode(mode).start()
      val errs = scala.collection.mutable.ArrayBuffer.empty[String]
      try {
        var prefix = Seq.empty[Event]
        chunks.zipWithIndex.foreach { case (chunk, i) =>
          if (chunk.nonEmpty) ins.foreach(_.addData(chunk))
          q.processAllAvailable()
          prefix ++= chunk
          errs ++= check(spark.table(s"drive_$face"), i, prefix)
        }
      } finally q.stop()
      report(face, errs.toSeq)
    }

    /** Complete-mode window aggregation faces: per-prefix equality of
      * the streaming table vs the same face over the static prefix. */
    def driveComplete(face: String, g: DataFrame => DataFrame): Unit =
      drive(face, "complete")(ins => g(ins.head.toDF())) { (sink, i, prefix) =>
        val got = canon(sink)
        val want = canon(g(prefix.toDF()))
        if (got == want) Nil
        else Seq(s"prefix ${i + 1}/${chunks.size} (${prefix.size} rows): " +
          s"stream ${got.size} rows != batch ${want.size} rows; " +
          s"first diff: ${(want.diff(got) ++ got.diff(want)).headOption}")
      }

    driveComplete("hourly_tumbling", EventStreams.hourlyTumbling)
    driveComplete("sliding_counts", EventStreams.slidingCounts)
    driveComplete("drift_histogram", EventStreams.driftHistogramStream)

    // dedup: append mode; per-prefix the emitted id-set must equal the
    // distinct id-set of the prefix (row choice per id is unspecified)
    drive("dedup_events", "append")(ins => EventStreams.dedupEvents(ins.head.toDF())) {
      (sink, i, prefix) =>
        val got = sink.select("event_id").collect().map(_.getLong(0)).sorted.toSeq
        val want = prefix.map(_.event_id).distinct.sorted
        if (got == want) Nil
        else Seq(s"prefix ${i + 1}: stream ids ${got.size} != " +
          s"distinct prefix ids ${want.size}")
    }

    // stream-stream interval join (views ⋈ clicks within 30 min): the
    // in-order feed means every joinable pair inside the prefix has
    // been emitted by the time the prefix is fully processed
    def correlate(views: DataFrame, clicks: DataFrame): DataFrame =
      EventStreams.correlateStreams(
        views.filter(col("event_type") === "view"),
        clicks.filter(col("event_type") === "click"))
    drive("correlate_streams", "append", inputs = 2)(
        ins => correlate(ins(0).toDF(), ins(1).toDF())) { (sink, i, prefix) =>
      val pdf = prefix.toDF()
      val got = canon(sink)
      val want = canon(correlate(pdf, pdf))
      if (got == want) Nil
      else Seq(s"prefix ${i + 1}: stream ${got.size} pairs != " +
        s"batch ${want.size} pairs")
    }

    // typed Mantel–Haenszel monitor: final snapshot vs the batch
    // operator (per-prefix algebra is MhMonitorStreamSpec's job)
    if (all.isEmpty) {
      // no events → no snapshots; the empty-input behavior is pinned
      // by StreamEdgeSpec — nothing to compare against the batch
      // operator's aggregate row here
      println("[stream_drive] PASS mh_monitor_final (empty corpus, no snapshots)")
    } else {
      drive("mh_monitor_final", "append")(ins => EventStreams.mhStream(ins.head.toDS()).toDF()) {
        (sink, i, _) =>
          if (i < chunks.size - 1) Nil
          else {
            val fin = sink.collect().maxBy(_.getAs[Long]("snapshot"))
            val batch = graft.ops.Behavior.mantelHaenszel(spark, sfDir).head()
            Seq("n_strata", "or_mh", "log_or_mh", "cmh_chi2", "reject_95").flatMap { c =>
              val g = String.valueOf(fin.getAs[Any](c))
              val w = String.valueOf(batch.getAs[Any](c))
              if (g != w) Some(s"$c: stream $g != batch $w") else None
            }
          }
      }
    }

    val ok = failures.isEmpty
    println(s"""{"metric":"stream_drive","dir":"$sfDir","events":${all.size},""" +
      s""""faces":6,"failed":${failures.size},"ok":$ok}""")
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
