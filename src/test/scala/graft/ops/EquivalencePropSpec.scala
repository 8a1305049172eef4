package graft.ops

import org.apache.spark.sql.DataFrame
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.GraftTestBase

/** Property tests proving the SCALE renderings row-equal to their
  * reference forms on GENERATED data — the harness corpus exercises one
  * distribution; these generate adversarial ones (hot keys, boundary
  * gaps, duplicate values) and run the REAL production entry points by
  * staging the generated tables as parquet in a temp dir shaped like
  * the testdata. Raw ScalaCheck Gen with a fixed seed ladder, like
  * DedupPropSpec. */
class EquivalencePropSpec extends GraftTestBase {

  private def samples[A](g: Gen[A], n: Int, seed: Long): Seq[A] =
    (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(seed + i)))

  private def stage(name: String, df: DataFrame): String = {
    val dir = tempDir("graft-prop")
    df.write.mode("overwrite").parquet(s"$dir/$name.parquet")
    dir
  }

  private def assertSameRows(a: DataFrame, b: DataFrame): Unit = {
    a.exceptAll(b).count() shouldBe 0
    b.exceptAll(a).count() shouldBe 0
    a.count() shouldBe b.count()
  }

  behavior of "banded range join vs per-user form"

  it should "agree on bursty events with exact-boundary gaps" in {
    import spark.implicits._
    // few users (hot keys), timestamps clustered in a 3-hour span with
    // many landing exactly 1800s apart (the window boundary)
    val ev: Gen[(Long, Long, Int)] = for {
      user <- Gen.choose(1L, 4L)
      base <- Gen.choose(0L, 10800L)
      snap <- Gen.oneOf(true, false)
      sec = if (snap) (base / 1800L) * 1800L else base
      typ <- Gen.choose(0, 2)
    } yield (user, sec, typ)
    val rows = samples(ev, 300, seed = 7L).zipWithIndex.map {
      case ((u, sec, t), i) =>
        (i.toLong, new java.sql.Timestamp(sec * 1000L), u, s"type_$t", t.toDouble, "{}")
    }
    val dir = stage("events",
      rows.toDF("event_id", "ts", "user_id", "event_type", "value", "props"))
    assertSameRows(
      TimeSeries.eventPairsWithin30Min(spark, dir),
      TimeSeries.eventPairsWithin30MinBanded(spark, dir))
  }

  behavior of "distributed deciles vs global-window NTILE"

  it should "agree under heavy price ties" in {
    import spark.implicits._
    // few distinct prices -> every decile boundary cuts through a tie run
    val order: Gen[(Long, Double)] = for {
      key <- Gen.choose(1L, 1000000L)
      price <- Gen.oneOf(10.0, 20.0, 20.0, 30.0, 40.0)
    } yield (key, price)
    val rows = samples(order, 500, seed = 11L)
      .distinctBy(_._1) // unique order keys (the NTILE tiebreak)
      .map { case (k, p) =>
        (k, k % 97, "O", p, new java.sql.Timestamp(0L), "1-URGENT")
      }
    val dir = stage("orders", rows.toDF("o_orderkey", "o_custkey",
      "o_orderstatus", "o_totalprice", "o_orderdate", "o_orderpriority"))
    assertSameRows(
      Analytics.decileStats(spark, dir),
      Analytics.decileStatsDistributed(spark, dir))
  }

  behavior of "weighted median"

  it should "match a driver-side scan under ties and skewed weights" in {
    import spark.implicits._
    val li: Gen[(Int, Double, Double)] = for {
      flag <- Gen.choose(0, 2)
      price <- Gen.oneOf(5.0, 5.0, 7.5, 10.0, 12.5)
      qty <- Gen.choose(1, 50)
    } yield (flag, price, qty.toDouble)
    val rows = samples(li, 400, seed = 13L)
      .map { case (f, p, q) => (s"F$f", p, q) }
    val dir = stage("lineitem", rows.toDF("l_returnflag", "l_extendedprice", "l_quantity"))
    val got = Analytics.weightedMedianPrice(spark, dir).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    rows.groupBy(_._1).foreach { case (flag, grp) =>
      val tot = grp.map(_._3).sum
      // smallest price whose cumulative weight (all rows of price <= it)
      // reaches half the total
      val expected = grp.map(_._2).distinct.sorted
        .find(p => grp.filter(_._2 <= p).map(_._3).sum * 2 >= tot).get
      got(flag) shouldBe expected
    }
  }
}
