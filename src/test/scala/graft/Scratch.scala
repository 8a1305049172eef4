package graft

import org.apache.spark.sql.SparkSession

import graft.dedup.Dedup
import graft.ops.Graph

/** Plain-Scala helpers and raw-row fixtures shared by the test suites.
  *
  * The helpers mirror Spark's decimal rounding, casts and hashes so
  * scratch recomputations can compare bit-exactly. Each fixture reads
  * the sf0.001 tables through the shared test session, so it is built
  * once per JVM, not once per suite.
  */
object Scratch {
  private def spark: SparkSession = GraftTestSession.spark
  private def sf: String = GraftTestSession.sf

  /** Spark's `round(x, scale)` on a double: decimal HALF_UP. */
  def rd(x: Double, scale: Int): Double =
    BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  def r4(x: Double): Double = rd(x, 4)

  def r6(x: Double): Double = rd(x, 6)

  /** double → DECIMAL(18,2) → ×100 cents, Spark cast semantics
    * (shortest-decimal read of the double, HALF_UP at scale 2). Throws
    * where the cents overflow a Long. */
  def cents(x: Double): Long =
    (BigDecimal(x).setScale(2, BigDecimal.RoundingMode.HALF_UP) * 100)
      .toLongExact

  /** Lower-case hex MD5 of the UTF-8 bytes, as Spark's `md5`. */
  def md5hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString

  def utcDate(ts: java.sql.Timestamp): java.time.LocalDate =
    ts.toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate

  def utcDate(ms: Long): java.time.LocalDate =
    java.time.Instant.ofEpochMilli(ms).atZone(java.time.ZoneOffset.UTC)
      .toLocalDate

  /** Single-space tokens, empty tokens kept. */
  def toks(text: String): Array[String] = text.split(" ", -1)

  /** The engine's A/B variant hash: first 15 hex chars of md5(user_id
    * as decimal string), parsed base-16, mod 2. */
  def variantOf(uid: Long): Int =
    (java.lang.Long.parseLong(md5hex(uid.toString).take(15), 16) % 2).toInt

  /** Spark `percentile_disc`: the value at rank ceil(p·n). */
  def pdisc(sorted: IndexedSeq[Double], p: Double): Double =
    sorted(math.ceil(p * sorted.length).toInt - 1)

  /** Spark `percentile` / DuckDB quantile_cont: linear interpolation at
    * position p·(n−1) over the sorted values. */
  def pcont(sorted: IndexedSeq[Double], p: Double): Double = {
    val pos = p * (sorted.length - 1)
    val lo = math.floor(pos).toInt
    val frac = pos - lo
    if (frac == 0.0) sorted(lo)
    else sorted(lo) + frac * (sorted(lo + 1) - sorted(lo))
  }

  def d2(v: Double): BigDecimal =
    BigDecimal.valueOf(v).setScale(2, BigDecimal.RoundingMode.HALF_UP)

  // ---- events table ----

  lazy val eventRows: Array[(java.sql.Timestamp, Long, String, Double)] =
    graft.Tables.events(spark, sf)
      .select("ts", "user_id", "event_type", "value").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getString(2),
        if (r.isNullAt(3)) Double.NaN else r.getDouble(3)))

  lazy val eventCents: Array[(java.sql.Timestamp, Long, String, Long)] =
    graft.Tables.events(spark, sf)
      .select("ts", "user_id", "event_type", "value").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getString(2),
        cents(r.getDouble(3))))

  lazy val eventValues
      : Array[(java.sql.Timestamp, Long, String, Double)] =
    graft.Tables.events(spark, sf)
      .select("ts", "user_id", "event_type", "value").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1), r.getString(2),
        r.getDouble(3)))

  /** Per-user purchase revenue as exact 2-dp decimals (q_ab_test) and
    * cents (q_perm_test / q_aa_calib), over ALL users for the former
    * and purchase-only users for the latter two. */
  lazy val events: Array[(Long, String, Double)] =
    Tables.events(spark, sf)
      .select("user_id", "event_type", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))

  /** (user, type, ts-millis, event_id), the raw timeline. */
  lazy val ev: Array[(Long, String, Long, Long)] =
    Tables.events(spark, sf)
      .select("user_id", "event_type", "ts", "event_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2).getTime,
        r.getLong(3)))

  lazy val evValues: Array[(Long, String, Long, Double)] =
    Tables.events(spark, sf)
      .select("user_id", "event_type", "ts", "value").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2).getTime,
        r.getDouble(3)))

  lazy val dailyByType: Map[String, Vector[(java.time.LocalDate, Long)]] = {
    val rows = graft.Tables.events(spark, sf)
      .select("ts", "event_type", "value").collect()
      .map { r =>
        require(!r.isNullAt(2), "scratch assumes non-null values")
        (utcDate(r.getTimestamp(0)), r.getString(1), cents(r.getDouble(2)))
      }
    rows.groupBy(_._2).map { case (et, es) =>
      et -> es.groupBy(_._1).toVector.sortBy(_._1.toEpochDay)
        .map { case (d, g) => (d, g.map(_._3).sum) }
    }
  }

  // ---- orders table ----

  lazy val orderRows
      : Array[(String, java.time.LocalDate, Long)] =
    graft.Tables.orders(spark, sf)
      .select("o_orderpriority", "o_orderdate", "o_totalprice").collect()
      .map(r => (r.getString(0), utcDate(r.getTimestamp(1)),
        cents(r.getDouble(2))))

  // ---- documents table and the min-hash LSH chain ----

  lazy val docs: Vector[(Long, String, String, String)] =
    graft.Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "source").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3))).toVector.sortBy(_._1)

  lazy val docTexts: Vector[(Long, String)] =
    graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toVector.sortBy(_._1)

  lazy val docToks: Vector[(Long, Array[String])] =
    graft.Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1).split(" ", -1)))
      .toVector.sortBy(_._1)

  lazy val docRows: Array[(Long, String)] =
    graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))

  /** (media_id, w, h, seed) from the documented generation contract. */
  lazy val metas: Vector[(Long, Int, Int, Int)] =
    graft.Tables.documents(spark, sf)
      .select("doc_id", "text").collect()
      .map { r =>
        val len = r.getString(1).getBytes("UTF-8").length
        (r.getLong(0), len % 61 + 16, len % 37 + 12,
          ((r.getLong(0) * 31) % 256).toInt)
      }.toVector.sortBy(_._1)

  /** Distinct k-grams of a token array; empty below the gram length
    * (the engines' explicit short-doc guard). */
  def kgrams(ws: Array[String], k: Int): Vector[String] =
    if (ws.length < k) Vector.empty
    else (0 to ws.length - k).map(i => ws.slice(i, i + k).mkString(" "))
      .distinct.toVector

  def fingerprints(text: String): Vector[Long] =
    kgrams(toks(text), 3)
      .map(g => java.lang.Long.parseLong(md5hex(g).take(15), 16) %
        Dedup.minhashP)

  /** 16-slot min-hash signature (None per slot when no shingles). */
  def signature(fps: Vector[Long]): Vector[Option[Long]] =
    (0 until Dedup.numHashes).toVector.map { j =>
      if (fps.isEmpty) None
      else Some(fps.map(x =>
        (Dedup.minhashA(j) * x + Dedup.minhashB(j)) % Dedup.minhashP).min)
    }

  /** The 8 two-slot band keys ("|"-joined; concat_ws drops null slots). */
  def bandKeys(sig: Vector[Option[Long]]): Vector[String] =
    (0 until Dedup.numBands).toVector.map { b =>
      (0 until Dedup.bandWidth)
        .flatMap(k => sig(b * Dedup.bandWidth + k)).mkString("|")
    }

  /** Band-collision candidate pairs (doc_a < doc_b), the LSH index's
    * output — recomputed brute-force over all C(n,2) pairs. */
  lazy val candPairs: Vector[(Long, Long)] = {
    val keys = docTexts.map { case (id, t) =>
      (id, bandKeys(signature(fingerprints(t))))
    }
    (for {
      i <- keys.indices.iterator; j <- (i + 1 until keys.length).iterator
      if (0 until Dedup.numBands)
        .exists(b => keys(i)._2(b) == keys(j)._2(b))
    } yield (keys(i)._1, keys(j)._1)).toVector
  }

  /** Union-find cluster labels (min doc_id per component) over the
    * candidate-pair graph — the scratch rendering of the engines'
    * min-label propagation loop. */
  lazy val clusterOf: Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    candPairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    val members = candPairs.flatMap(p => Seq(p._1, p._2)).distinct
    val byRoot = members.groupBy(find)
    byRoot.valuesIterator.flatMap { ms =>
      val label = ms.min; ms.map(_ -> label)
    }.toMap
  }

  // ---- co-purchase graph from lineitem ----

  /** Canonical co-purchase edge set (u < v), from raw lineitem rows. */
  lazy val canonEdges: Set[(Long, Long)] = {
    val rows = graft.Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    rows.groupBy(_._1).iterator.flatMap { case (_, basket) =>
      val ps = basket.map(_._2).distinct.sorted
      for (i <- ps.indices.iterator; j <- (i + 1 until ps.length).iterator)
        yield (ps(i), ps(j))
    }.toSet
  }

  /** Undirected adjacency sets. */
  lazy val adj: Map[Long, Set[Long]] = {
    val m = scala.collection.mutable.Map.empty[Long, Set[Long]]
      .withDefaultValue(Set.empty)
    canonEdges.foreach { case (u, v) =>
      m(u) = m(u) + v; m(v) = m(v) + u
    }
    m.toMap.withDefaultValue(Set.empty)
  }

  lazy val vertices: Vector[Long] = adj.keys.toVector.sorted

  /** The engine's capped seed set: the 50 smallest vertices ≡ 0 mod 500. */
  lazy val seedSet: Vector[Long] =
    vertices.filter(_ % 500 == 0).sorted.take(Graph.seedCap)

  // ---- embeddings table ----

  /** The embedding corpus with scratch norms. */
  lazy val vecs: Array[(Long, Int, Array[Float])] =
    Tables.embeddings(spark, sf)
      .select("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getAs[Number](1).intValue,
        r.getSeq[Float](2).toArray))

  /** The engines' documented ascending fold: dot/(sqrt(nx)·sqrt(ny)). */
  def cosFull(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var nx = 0.0; var ny = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i).toDouble; val y = b(i).toDouble
      dot += x * y; nx += x * x; ny += y * y
      i += 1
    }
    dot / (math.sqrt(nx) * math.sqrt(ny))
  }
}
