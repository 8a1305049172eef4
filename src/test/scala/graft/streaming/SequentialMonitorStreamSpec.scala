package graft.streaming

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.GraftTestBase
import graft.streaming.EventStreams.Event
import graft.Scratch.cents

/** Streaming faces of the sequential experimentation monitors (VERDICT
  * r8 task 7): per-micro-batch-prefix equality against a Scala
  * reference of the batch semantics, and FINAL-snapshot equality
  * against the actual batch operators on the same table — the
  * established StreamingSpec contract (micro-batch boundaries must not
  * change any adjudication). */
class SequentialMonitorStreamSpec extends GraftTestBase {

  /** Scala reference of [[graft.ops.Behavior.sprtMonitor]]'s path. */
  private def sprtRef(events: Seq[Event])
      : (Long, Long, String, Option[Long], Option[Long]) = {
    val c1 = 0.22314355131420976; val c0 = -0.1823215567939546
    val up = 2.9444389791664403; val dn = -up
    val flags = events.groupBy(_.user_id).view.mapValues(es =>
      if (es.exists(e => e.event_type == "purchase" && cents(e.value) >= 15000L))
        1L else 0L).toMap
    var k = 0L; var n = 0L
    var hit1: Option[(Long, Long)] = None; var hit0: Option[(Long, Long)] = None
    flags.toSeq.sortBy(_._1).foreach { case (_, x) =>
      n += 1; k += x
      val llr = k.toDouble * c1 + (n - k).toDouble * c0
      if (hit1.isEmpty && llr >= up) hit1 = Some((n, k))
      if (hit0.isEmpty && llr <= dn) hit0 = Some((n, k))
    }
    val h1Wins = hit1.isDefined && (hit0.isEmpty || hit1.get._1 < hit0.get._1)
    val decision =
      if (h1Wins) "accept_h1" else if (hit0.isDefined) "accept_h0" else "continue"
    val nAt = (hit1.map(_._1).toSeq ++ hit0.map(_._1)).minOption
    val kAt = if (h1Wins) hit1.map(_._2) else hit0.map(_._2)
    (n, k, decision, nAt, kAt)
  }

  private def tableEvents(): Seq[Event] = {
    import spark.implicits._
    graft.Tables.events(spark, sf)
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
        col("value"))
      .as[Event].orderBy("ts", "event_id").collect().toSeq
  }

  behavior of "sprtStream"

  it should "equal the batch SPRT at every micro-batch prefix and at the end" in {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = tableEvents()
    val (a, rest) = all.splitAt(all.length / 3)
    val (b, c) = rest.splitAt(rest.length / 2)
    val input = MemoryStream[Event]
    val query = EventStreams.sprtStream(input.toDS())
      .writeStream.format("memory").queryName("sprt_spec")
      .outputMode("append").start()
    try {
      var seen = Seq.empty[Event]
      var snap = 0L
      for (part <- Seq(a, b, c)) {
        input.addData(part)
        query.processAllAvailable()
        seen ++= part
        snap += 1
        val rows = spark.table("sprt_spec").collect()
          .filter(_.getAs[Long]("snapshot") == snap)
        rows should have length 1
        val r = rows.head
        val (n, k, decision, nAt, kAt) = sprtRef(seen)
        r.getAs[Long]("n_users") shouldBe n
        r.getAs[Long]("k_total") shouldBe k
        r.getAs[String]("decision") shouldBe decision
        Option(r.getAs[java.lang.Long]("n_at_decision")).map(_.toLong) shouldBe nAt
        Option(r.getAs[java.lang.Long]("k_at_decision")).map(_.toLong) shouldBe kAt
      }
      // final snapshot equals the REAL batch operator on the same table
      val batch = graft.ops.Behavior.sprtMonitor(spark, sf).head()
      val fin = spark.table("sprt_spec").collect()
        .maxBy(_.getAs[Long]("snapshot"))
      fin.getAs[Long]("n_users") shouldBe batch.getAs[Long]("n_users")
      fin.getAs[Long]("k_total") shouldBe batch.getAs[Long]("k_total")
      fin.getAs[String]("decision") shouldBe batch.getAs[String]("decision")
      Option(fin.getAs[java.lang.Long]("n_at_decision")) shouldBe
        Option(batch.getAs[java.lang.Long]("n_at_decision"))
      Option(fin.getAs[java.lang.Long]("k_at_decision")) shouldBe
        Option(batch.getAs[java.lang.Long]("k_at_decision"))
    } finally query.stop()
  }

  behavior of "aaCalibStream"

  it should "equal the batch A/A calibration per experiment at every prefix" in {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = tableEvents()
    val (a, b) = all.splitAt(all.length / 2)
    val input = MemoryStream[Event]
    val query = EventStreams.aaCalibStream(input.toDS())
      .writeStream.format("memory").queryName("aa_spec")
      .outputMode("append").start()
    try {
      var seen = Seq.empty[Event]
      for (part <- Seq(a, b)) {
        input.addData(part)
        query.processAllAvailable()
        seen ++= part
        // reference: exact integer cells per experiment from the prefix
        val purchases = seen.filter(_.event_type == "purchase")
        val byUser = purchases.groupBy(_.user_id).view
          .mapValues(_.map(e => cents(e.value)).sum).toMap
        val rows = spark.table("aa_spec").collect()
        byUser.groupBy { case (u, _) =>
          EventStreams.aaHash(u) % 8
        }.foreach { case (expId, users) =>
          val latest = rows.filter(_.getAs[Long]("exp_id") == expId)
            .maxBy(_.getAs[Long]("snapshot"))
          val (g0, g1) = users.partition { case (u, _) =>
            EventStreams.aaHash(u) / 8 == 0 }
          def expected(sz: Int): Option[Long] =
            if (sz == 0) None else Some(sz.toLong)
          Option(latest.getAs[java.lang.Long]("n0")).map(_.toLong) shouldBe
            expected(g0.size)
          Option(latest.getAs[java.lang.Long]("n1")).map(_.toLong) shouldBe
            expected(g1.size)
        }
      }
      // final snapshots equal the REAL batch operator row-for-row
      val batch = graft.ops.Behavior.aaCalibration(spark, sf).collect()
        .map(r => r.getAs[Long]("exp_id") -> r).toMap
      val finals = spark.table("aa_spec").collect()
        .groupBy(_.getAs[Long]("exp_id"))
        .map { case (e, rs) => e -> rs.maxBy(_.getAs[Long]("snapshot")) }
      finals.keySet shouldBe batch.keySet
      finals.foreach { case (e, r) =>
        val want = batch(e)
        Option(r.getAs[java.lang.Long]("n0")) shouldBe
          Option(want.getAs[java.lang.Long]("n0"))
        Option(r.getAs[java.lang.Long]("n1")) shouldBe
          Option(want.getAs[java.lang.Long]("n1"))
        r.getAs[java.lang.Double]("mean0_cents") shouldBe
          want.getAs[java.lang.Double]("mean0_cents")
        r.getAs[java.lang.Double]("mean1_cents") shouldBe
          want.getAs[java.lang.Double]("mean1_cents")
        r.getAs[java.lang.Double]("z_stat") shouldBe
          want.getAs[java.lang.Double]("z_stat")
        r.getAs[Boolean]("false_positive") shouldBe
          want.getAs[Boolean]("false_positive")
      }
    } finally query.stop()
  }
}
