package graft.multimodal

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.Pin.Pinned

/** Multimodal-column plumbing (north star, SURVEY.md §7.4): media as
  * opaque `BINARY` columns with typed metadata, batch feature extraction
  * via `mapPartitions`, and a REAL dependency-free codec ([[Ppm]]) doing
  * genuine header parsing and pixel math on valid P6 image/video
  * payloads.
  *
  * The harness has no image corpus, so payloads are SYNTHESIZED — each
  * document becomes a valid P6 raster whose dimensions derive from the
  * text's byte length and whose pixels follow a seeded modular pattern
  * ([[Ppm.renderPattern]]). That makes every decode step REAL (a corrupt
  * payload fails the parser loudly) while staying oracle-checkable: the
  * DuckDB side recomputes pixel checksums in closed form without ever
  * decoding a byte.
  *
  * Scale notes: media bytes never shuffle (all ops are per-row/map-only);
  * decode streams partition iterators (constant memory per task, no
  * partition-sized materialization); frames of one video are parsed
  * lazily ([[Ppm.decodeFrames]]); a production deployment would bound
  * `spark.sql.files.maxPartitionBytes` so one task's batch of decoded
  * frames fits executor memory.
  */
object Multimodal {

  /** The typed metadata contract for a media column — what a real
    * pipeline would carry next to the raw bytes. */
  val mediaMetaType: StructType = StructType(Seq(
    StructField("byte_len", LongType, nullable = false),
    StructField("format", StringType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true)))

  /** Image dimensions derive from the document's UTF-8 byte length
    * (prime moduli so widths/heights vary) and the pixel-pattern seed
    * from the id — the ONLY contract the oracle needs to mirror. */
  private def dims(textLen: Int): (Int, Int) = (textLen % 61 + 16, textLen % 37 + 12)
  private def seed(mediaId: Long): Int = ((mediaId * 31) % 256).toInt
  /** Frames per synthesized video and the sampling stride. */
  val videoFrames = 6
  val frameStride = 2

  private val payloadSchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("payload", BinaryType)))

  /** One synthesized payload per document (`media_id`, `payload`):
    * `payload(media_id, byte length of the document's UTF-8 text)`. */
  private def synthesized(s: SparkSession, d: String)
      (payload: (Long, Int) => Array[Byte]): DataFrame = {
    val enc = RowEncoder.encoderFor(payloadSchema)
    Tables.documents(s, d)
      .select(col("doc_id").as("media_id"),
        length(encode(col("text"), "UTF-8")).cast("int").as("len"))
      .mapPartitions(rows =>
        rows.map(r => Row(r.getLong(0), payload(r.getLong(0), r.getInt(1)))))(enc)
  }

  /** Every [[imageTable]] payload decoded and mapped to one row of
    * `schema` by `census(media_id, image)`, iterator to iterator. */
  private def decodedImages(s: SparkSession, d: String, schema: StructType)
      (census: (Long, Ppm.Image) => Row): DataFrame =
    imageTable(s, d)
      .select(col("media_id"), col("payload"))
      .mapPartitions(rows => rows.map(r =>
        census(r.getLong(0), Ppm.decode(r.getAs[Array[Byte]](1)))))(
        RowEncoder.encoderFor(schema))

  /** One REAL P6 image per document: `Ppm.encode(renderPattern(...))`
    * produces a spec-valid Netpbm file any external tool could open. */
  def imageTable(s: SparkSession, d: String): DataFrame =
    synthesized(s, d) { (id, len) =>
      val (w, h) = dims(len)
      Ppm.encode(Ppm.renderPattern(seed(id), w, h))
    }

  /** One REAL multi-frame payload per document: [[videoFrames]]
    * concatenated P6 streams (frame f's pattern is seeded seed+13f), the
    * de-facto animated-PPM convention — frame boundaries are only
    * discoverable by parsing each header. */
  private def videoTable(s: SparkSession, d: String): DataFrame =
    synthesized(s, d) { (id, len) =>
      val (w, h) = dims(len)
      val frames = (0 until videoFrames).map(f =>
        Ppm.encode(Ppm.renderPattern(seed(id), w, h, f)))
      val out = new java.io.ByteArrayOutputStream()
      frames.foreach(out.write)
      out.toByteArray
    }

  private val decodedSchema = StructType(Seq(
    StructField("media_id", LongType),
    StructField("meta", mediaMetaType),
    StructField("features", ArrayType(FloatType, containsNull = false))))

  /** Batch decode: one `mapPartitions` pass, iterator-to-iterator (no
    * partition materialization), binary payloads consumed and dropped —
    * only metadata + features flow downstream. The decode is REAL: the
    * P6 header is parsed for width/height and the features are moments
    * of the actual pixel buffer. */
  def decodeFeatures(s: SparkSession, d: String): DataFrame = {
    val enc = RowEncoder.encoderFor(decodedSchema)
    imageTable(s, d)
      .select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          val payload = r.getAs[Array[Byte]](1)
          val img = Ppm.decode(payload)
          val n = img.pixels.length
          var sum = 0L; var min = 255; var max = 0
          var i = 0
          while (i < n) {
            val b = img.pixels(i) & 0xff
            sum += b; if (b < min) min = b; if (b > max) max = b
            i += 1
          }
          val mean = if (n == 0) 0f else sum.toFloat / n
          val meta = Row(payload.length.toLong, "image/x-portable-pixmap",
            img.width, img.height)
          Row(r.getLong(0), meta, Seq(n.toFloat, mean, min.toFloat, max.toFloat))
        }
      }(enc)
  }

  /** DECODE CENSUS (driver-graded): parsed dimensions, pixel-byte count,
    * pixel-byte checksum, and mean byte per image — the Spark side
    * decodes REAL P6 payloads; the oracle reproduces the same integers
    * from the generation contract in CLOSED FORM (the pattern
    * (seed + i) mod 256 sums to 32640 per full 256-cycle plus an exact
    * triangular-number remainder — no decoding, no transcendentals).
    * Scale: map-only decode, one map-side-combinable aggregate never
    * sees pixel bytes. */
  def decodeCensus(s: SparkSession, d: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("n_pixel_bytes", LongType),
      StructField("pixel_sum", LongType)))
    decodedImages(s, d, schema) { (id, img) =>
      Row(id, img.width, img.height,
        img.pixels.length.toLong, Ppm.pixelSum(img))
    }
      .select(col("media_id"), col("width"), col("height"),
        col("n_pixel_bytes"), col("pixel_sum"),
        round(col("pixel_sum").cast("double") / col("n_pixel_bytes"), 4)
          .as("mean_byte"))
      .orderBy("media_id")
  }

  /** The closed-form oracle for a pattern frame's pixel-byte sum:
    * q·32640 + triangular remainder, with the one possible mod-256
    * wraparound split into two triangles. `af` = frame seed in [0,256),
    * `n` = pixel byte count. Pure integer SQL — both engines would
    * compute identical values even if they disagreed on every
    * transcendental. */
  private def patternSumSql(af: String, n: String): String =
    s"""(($n) // 256) * 32640 +
       |    CASE WHEN ($af) + (($n) % 256) <= 256
       |    THEN (($n) % 256) * ($af) + ((($n) % 256) * ((($n) % 256) - 1)) // 2
       |    ELSE (256 - ($af)) * ($af) + ((256 - ($af)) * (255 - ($af))) // 2
       |      + ((($n) % 256) - (256 - ($af)))
       |        * ((($n) % 256) - (256 - ($af)) - 1) // 2
       |    END""".stripMargin

  val decodeCensusSql: String = {
    val sum = patternSumSql("a", "n")
    s"""WITH m AS (
       |  SELECT doc_id AS media_id,
       |    CAST(octet_length(encode(text)) % 61 + 16 AS INTEGER) AS w,
       |    CAST(octet_length(encode(text)) % 37 + 12 AS INTEGER) AS h,
       |    CAST((doc_id * 31) % 256 AS BIGINT) AS a
       |  FROM documents),
       |px AS (
       |  SELECT media_id, w, h, CAST(w AS BIGINT) * h * 3 AS n, a FROM m)
       |SELECT media_id, w AS width, h AS height,
       |  n AS n_pixel_bytes,
       |  CAST($sum AS BIGINT) AS pixel_sum,
       |  round(CAST($sum AS DOUBLE) / n, 4) AS mean_byte
       |FROM px ORDER BY media_id""".stripMargin
  }

  /** LUMINANCE-HISTOGRAM CENSUS (driver-graded): decode each REAL P6
    * payload and bucket every pixel byte into four 64-wide luminance
    * bands — the exposure/contrast feature a vision-data curation pass
    * computes per image before filtering (all-dark / blown-out
    * screens). The Spark side histograms the ACTUAL decoded buffer;
    * the oracle derives the same counts in closed form from the
    * generation contract ((seed + i) mod 256 ⇒ each full 256-cycle
    * drops exactly 64 bytes per band, and the n mod 256 remainder is
    * an interval-overlap count with at most one wraparound split — the
    * [[patternSumSql]] discipline applied to counts instead of sums).
    * Map-only; pixel buffers never shuffle. */
  def histogramCensus(s: SparkSession, d: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("n_pixel_bytes", LongType),
      StructField("h0", LongType), StructField("h1", LongType),
      StructField("h2", LongType), StructField("h3", LongType)))
    decodedImages(s, d, schema) { (id, img) =>
      val h = new Array[Long](4)
      var i = 0
      while (i < img.pixels.length) {
        h((img.pixels(i) & 0xff) >> 6) += 1
        i += 1
      }
      Row(id, img.pixels.length.toLong, h(0), h(1), h(2), h(3))
    }
      .orderBy("media_id")
  }

  /** Closed-form remainder-band count: how many of the r bytes
    * (a+0 .. a+r-1 mod 256) land in [lo, hi]. One interval when the
    * run doesn't wrap, two when it does. */
  private def bandCountSql(b: Int): String = {
    val lo = b * 64
    val hi = b * 64 + 63
    s"""CASE WHEN a + r <= 256
       |  THEN greatest(0, least($hi, a + r - 1) - greatest($lo, a) + 1)
       |  ELSE greatest(0, $hi - greatest($lo, a) + 1)
       |     + greatest(0, least($hi, a + r - 257) - $lo + 1)
       |  END""".stripMargin
  }

  val histogramCensusSql: String =
    s"""WITH m AS (
       |  SELECT doc_id AS media_id,
       |    CAST(octet_length(encode(text)) % 61 + 16 AS BIGINT) AS w,
       |    CAST(octet_length(encode(text)) % 37 + 12 AS BIGINT) AS h,
       |    CAST((doc_id * 31) % 256 AS BIGINT) AS a
       |  FROM documents),
       |px AS (
       |  SELECT media_id, a, w * h * 3 AS n,
       |    (w * h * 3) // 256 AS q, (w * h * 3) % 256 AS r
       |  FROM m)
       |SELECT media_id, n AS n_pixel_bytes,
       |  CAST(q * 64 + ${bandCountSql(0)} AS BIGINT) AS h0,
       |  CAST(q * 64 + ${bandCountSql(1)} AS BIGINT) AS h1,
       |  CAST(q * 64 + ${bandCountSql(2)} AS BIGINT) AS h2,
       |  CAST(q * 64 + ${bandCountSql(3)} AS BIGINT) AS h3
       |FROM px ORDER BY media_id""".stripMargin

  /** Resize target (fixed thumbnail dims). */
  val thumbW = 16
  val thumbH = 12

  /** aHash grid dimension (8×8 = 64-bit hash, the classic pHash-family
    * average hash). */
  val ahashDim = 8

  /** PERCEPTUAL AVERAGE-HASH (aHash) — the image NEAR-DUP key every
    * vision-data dedup pass computes first: decode the REAL P6 payload,
    * nearest-neighbor resample to [[ahashDim]]² (the [[resizeCensus]]
    * face), per-cell luminance = r+g+b, and bit p = 1 iff
    * lum(p)·64 > Σlum — brightness-pattern bits invariant to uniform
    * exposure shifts. Identical images hash equal; near-dups differ in
    * a few bits (downstream: Hamming-band bucketing, exactly the
    * [[graft.dedup.Dedup]] SimHash recipe applied to pixels).
    *
    * The 64 bits ship as two 32-bit words (a packed 64-bit hash with
    * bit 63 set would overflow the oracle's BIGINT sum — the signed-
    * top-bit trap, dodged structurally). Everything is exact integers:
    * luminances, the ×64 cross-multiplied mean compare, the bit packs.
    * Oracle: closed form from the generation contract over an 8×8 grid
    * per image — the [[resizeCensus]] index mapping composed with the
    * sawtooth byte formula, no decoding. Map-only on the Spark side;
    * pixel buffers never shuffle. */
  def ahashCensus(s: SparkSession, d: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("ahash_hi", LongType),
      StructField("ahash_lo", LongType),
      StructField("bits_set", IntegerType)))
    decodedImages(s, d, schema) { (id, img) =>
      val small = Ppm.resizeNearest(img, ahashDim, ahashDim)
      val n = ahashDim * ahashDim
      val lums = new Array[Long](n)
      var total = 0L
      var p = 0
      while (p < n) {
        val base = p * 3
        val l = (small.pixels(base) & 0xff).toLong +
          (small.pixels(base + 1) & 0xff) + (small.pixels(base + 2) & 0xff)
        lums(p) = l; total += l; p += 1
      }
      var hi = 0L; var lo = 0L; var c = 0
      p = 0
      while (p < n) {
        if (lums(p) * n > total) {
          c += 1
          if (p < 32) lo |= 1L << p else hi |= 1L << (p - 32)
        }
        p += 1
      }
      Row(id, hi, lo, c)
    }
      .orderBy("media_id")
  }

  val ahashCensusSql: String =
    s"""WITH m AS (
       |  SELECT doc_id AS media_id,
       |    CAST(octet_length(encode(text)) % 61 + 16 AS BIGINT) AS w,
       |    CAST(octet_length(encode(text)) % 37 + 12 AS BIGINT) AS h,
       |    CAST((doc_id * 31) % 256 AS BIGINT) AS a
       |  FROM documents),
       |lum AS (
       |  SELECT media_id, y.r * $ahashDim + x.r AS p,
       |    ((a + (((y.r * h) // $ahashDim) * w + ((x.r * w) // $ahashDim))
       |        * 3) % 256)
       |    + ((a + (((y.r * h) // $ahashDim) * w + ((x.r * w) // $ahashDim))
       |        * 3 + 1) % 256)
       |    + ((a + (((y.r * h) // $ahashDim) * w + ((x.r * w) // $ahashDim))
       |        * 3 + 2) % 256) AS l
       |  FROM m
       |  CROSS JOIN range($ahashDim) y(r)
       |  CROSS JOIN range($ahashDim) x(r)),
       |tot AS (
       |  SELECT media_id, p, l,
       |    sum(l) OVER (PARTITION BY media_id) AS total
       |  FROM lum)
       |SELECT media_id,
       |  CAST(sum(CASE WHEN l * ${ahashDim * ahashDim} > total AND p >= 32
       |    THEN CAST(1 AS BIGINT) << (p - 32) ELSE 0 END) AS BIGINT)
       |    AS ahash_hi,
       |  CAST(sum(CASE WHEN l * ${ahashDim * ahashDim} > total AND p < 32
       |    THEN CAST(1 AS BIGINT) << p ELSE 0 END) AS BIGINT) AS ahash_lo,
       |  CAST(sum(CASE WHEN l * ${ahashDim * ahashDim} > total
       |    THEN 1 ELSE 0 END) AS INTEGER) AS bits_set
       |FROM tot GROUP BY media_id ORDER BY media_id""".stripMargin

  /** Hamming radius for [[ahashNearDup]] confirmation. */
  val ahashMaxHamming = 8

  /** IMAGE NEAR-DUP PAIRING over [[ahashCensus]] — the
    * [[graft.dedup.Dedup]] SimHash band recipe applied to pixels: the
    * 64-bit aHash splits into four 16-bit bands; images sharing ANY
    * band become candidates; candidates confirm by exact Hamming
    * distance (two XOR + bit_count's on the hash words) up to
    * [[ahashMaxHamming]]. RECALL CONTRACT: with 4 bands the pigeonhole
    * guarantee covers only Hamming ≤ 3 (4+ flips can hit every band);
    * pairs at distance 4–8 are surfaced opportunistically when a band
    * happens to survive, so the tail of the distance histogram is a
    * lower bound, not a census — the standard banded-LSH trade
    * (8 bands of 8 bits would make the ≤8 radius complete at 2× the
    * candidate volume). [[mediaCurationFunnel]]'s radius-2 dedup sits
    * fully inside the guaranteed region. Ships the distance histogram
    * of confirmed pairs next to the candidate count — the precision
    * readout that tunes the band width.
    *
    * Scale: the only join is the band-bucket equi-join (hash join on
    * (band, value)); no all-pairs anywhere. Bucket sizes are the
    * SimHash/MinHash S-curve story ([[graft.dedup.Dedup]]'s planning
    * table applies unchanged). Everything is exact integers. */
  /** The shared band-bucketed candidate-pair frame (ma < mb, exact
    * Hamming) behind [[ahashNearDup]] and [[mediaCurationFunnel]]. */
  private def ahashPairs(s: SparkSession, d: String): DataFrame = {
    val h = ahashCensus(s, d)
      .select(col("media_id"), col("ahash_hi"), col("ahash_lo"))
    val bands = h.select(col("media_id"), col("ahash_hi"), col("ahash_lo"),
      explode(array(
        struct(lit(0).as("b"), expr("ahash_lo & 65535").as("v")),
        struct(lit(1).as("b"), expr("ahash_lo div 65536").as("v")),
        struct(lit(2).as("b"), expr("ahash_hi & 65535").as("v")),
        struct(lit(3).as("b"), expr("ahash_hi div 65536").as("v"))))
        .as("bd"))
      .select(col("media_id"), col("ahash_hi"), col("ahash_lo"),
        col("bd.b").as("b"), col("bd.v").as("v"))
    bands.as("x").join(bands.as("y"),
      expr("x.b = y.b AND x.v = y.v AND x.media_id < y.media_id"))
      .select(col("x.media_id").as("ma"), col("y.media_id").as("mb"),
        expr("bit_count(x.ahash_hi ^ y.ahash_hi) " +
          "+ bit_count(x.ahash_lo ^ y.ahash_lo)").as("hamming"))
      .distinct()
      .pin()
  }

  private val ahashPairsSqlBody: String =
    s"""bands AS (
       |  SELECT media_id, ahash_hi, ahash_lo, t.b,
       |    CASE t.b WHEN 0 THEN ahash_lo & 65535
       |      WHEN 1 THEN ahash_lo // 65536
       |      WHEN 2 THEN ahash_hi & 65535
       |      ELSE ahash_hi // 65536 END AS v
       |  FROM ah CROSS JOIN range(4) t(b)),
       |pairs AS (
       |  SELECT DISTINCT x.media_id AS ma, y.media_id AS mb,
       |    bit_count(xor(x.ahash_hi, y.ahash_hi))
       |      + bit_count(xor(x.ahash_lo, y.ahash_lo)) AS hamming
       |  FROM bands x JOIN bands y
       |    ON x.b = y.b AND x.v = y.v AND x.media_id < y.media_id)""".stripMargin

  def ahashNearDup(s: SparkSession, d: String): DataFrame = {
    val pairs = ahashPairs(s, d)
    val tot = pairs.agg(count(lit(1)).as("n_candidates"))
    pairs.filter(col("hamming") <= ahashMaxHamming)
      .groupBy("hamming").agg(count(lit(1)).as("n_pairs"))
      .crossJoin(broadcast(tot))
      .select(col("hamming").cast("int").as("hamming"), col("n_pairs"),
        col("n_candidates"))
  }

  val ahashNearDupSql: String =
    s"""WITH ah AS ($ahashCensusSql),
       |$ahashPairsSqlBody,
       |tot AS (SELECT count(*) AS n_candidates FROM pairs)
       |SELECT CAST(hamming AS INTEGER) AS hamming,
       |  count(*) AS n_pairs, (SELECT n_candidates FROM tot) AS n_candidates
       |FROM pairs WHERE hamming <= $ahashMaxHamming
       |GROUP BY hamming""".stripMargin

  /** Near-dup prune radius and exposure-spread cap for
    * [[mediaCurationFunnel]] (named so the oracle interpolates the SAME
    * constants). */
  val funnelDupHamming = 2
  val funnelMaxSpread = 32L

  /** IMAGE CURATION FUNNEL — the multimodal capstone composing the
    * whole vision-side toolchain the way q_curation_funnel composes the
    * text side: decode census → EXPOSURE screen (luminance-band spread
    * ≤ [[funnelMaxSpread]] pixels — flat histograms pass, skewed ones
    * drop) → NEAR-DUP prune (an exposure-ok image drops when a
    * smaller-id exposure-ok partner sits within Hamming
    * [[funnelDupHamming]] of its aHash — the deterministic keep-first
    * pair rule). Ships the attrition table: images decoded → exposure
    * ok → surviving dedup, all exact integer counts, every stage an
    * operator this module grades independently. */
  def mediaCurationFunnel(s: SparkSession, d: String): DataFrame = {
    val hist = histogramCensus(s, d)
    val okIds = hist.filter(
      greatest(col("h0"), col("h1"), col("h2"), col("h3")) -
        least(col("h0"), col("h1"), col("h2"), col("h3")) <=
        lit(funnelMaxSpread))
      .select(col("media_id")).pin()
    val drops = ahashPairs(s, d)
      .filter(col("hamming") <= funnelDupHamming)
      .join(okIds.withColumnRenamed("media_id", "ma"), Seq("ma"))
      .join(okIds.withColumnRenamed("media_id", "mb"), Seq("mb"))
      .select(col("mb").as("media_id")).distinct()
    val survivors = okIds.join(drops, Seq("media_id"), "left_anti")
    hist.agg(count(lit(1)).as("n_images"))
      .select(lit(1).as("stage_id"), lit("decoded").as("stage"),
        col("n_images"))
      .unionAll(okIds.agg(count(lit(1)).as("n_images"))
        .select(lit(2).as("stage_id"), lit("exposure_ok").as("stage"),
          col("n_images")))
      .unionAll(survivors.agg(count(lit(1)).as("n_images"))
        .select(lit(3).as("stage_id"), lit("near_dup_pruned").as("stage"),
          col("n_images")))
  }

  val mediaCurationFunnelSql: String =
    s"""WITH hist AS ($histogramCensusSql),
       |ok AS (
       |  SELECT media_id FROM hist
       |  WHERE greatest(h0, h1, h2, h3) - least(h0, h1, h2, h3)
       |    <= $funnelMaxSpread),
       |ah AS ($ahashCensusSql),
       |$ahashPairsSqlBody,
       |drops AS (
       |  SELECT DISTINCT p.mb AS media_id
       |  FROM pairs p
       |  JOIN ok a ON a.media_id = p.ma
       |  JOIN ok b ON b.media_id = p.mb
       |  WHERE p.hamming <= $funnelDupHamming),
       |surv AS (
       |  SELECT o.media_id FROM ok o
       |  LEFT JOIN drops dr ON dr.media_id = o.media_id
       |  WHERE dr.media_id IS NULL)
       |SELECT 1 AS stage_id, 'decoded' AS stage, count(*) AS n_images
       |FROM hist
       |UNION ALL SELECT 2, 'exposure_ok', count(*) FROM ok
       |UNION ALL SELECT 3, 'near_dup_pruned', count(*) FROM surv""".stripMargin

  /** RESIZE CENSUS (driver-graded): decode → REAL nearest-neighbor
    * resample to [[thumbW]]×[[thumbH]] → checksum of the resampled
    * bytes. The oracle replays the nearest-neighbor index mapping
    * src=(dst·srcDim)/dstDim symbolically over a 16×12×3 grid — so the
    * actual pixel-indexing arithmetic of [[Ppm.resizeNearest]] is
    * hash-checked cell by cell. Map-only; pixel buffers never shuffle. */
  def resizeCensus(s: SparkSession, d: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("out_w", IntegerType),
      StructField("out_h", IntegerType),
      StructField("resized_sum", LongType)))
    decodedImages(s, d, schema) { (id, img) =>
      val small = Ppm.resizeNearest(img, thumbW, thumbH)
      Row(id, small.width, small.height, Ppm.pixelSum(small))
    }
      .orderBy("media_id")
  }

  val resizeCensusSql: String =
    s"""WITH m AS (
       |  SELECT doc_id AS media_id,
       |    CAST(octet_length(encode(text)) % 61 + 16 AS BIGINT) AS w,
       |    CAST(octet_length(encode(text)) % 37 + 12 AS BIGINT) AS h,
       |    CAST((doc_id * 31) % 256 AS BIGINT) AS a
       |  FROM documents),
       |px AS (
       |  SELECT media_id,
       |    (a + (((y.r * h) // $thumbH) * w + ((x.r * w) // $thumbW)) * 3
       |      + c.r) % 256 AS v
       |  FROM m
       |  CROSS JOIN range($thumbH) y(r)
       |  CROSS JOIN range($thumbW) x(r)
       |  CROSS JOIN range(3) c(r))
       |SELECT media_id, $thumbW AS out_w, $thumbH AS out_h,
       |  CAST(sum(v) AS BIGINT) AS resized_sum
       |FROM px GROUP BY media_id ORDER BY media_id""".stripMargin

  /** Frame-sampling over the video table: one mapPartitions pass
    * explodes each multi-frame payload into every [[frameStride]]-th
    * frame (REAL header-parse seeking via [[Ppm.decodeFrames]]) with
    * per-frame byte stats. Iterator-to-iterator; frames of one payload
    * are parsed lazily so a long video never materializes whole. The
    * emitted frame is re-encoded as a standalone P6 file. */
  def sampleFrames(s: SparkSession, d: String,
      stride: Int = frameStride): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("frame_idx", IntegerType),
      StructField("frame", BinaryType),
      StructField("frame_mean", FloatType)))
    val enc = RowEncoder.encoderFor(schema)
    videoTable(s, d)
      .select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val id = r.getLong(0)
          Ppm.decodeFrames(r.getAs[Array[Byte]](1)).zipWithIndex
            .collect { case (img, idx) if idx % stride == 0 =>
              val n = img.pixels.length
              val mean = if (n == 0) 0f else Ppm.pixelSum(img).toFloat / n
              Row(id, idx, Ppm.encode(img), mean)
            }
        }
      }(enc)
  }

  /** Frame-sampling CENSUS (driver-graded): per media, how many frames
    * the stride-sampler kept, their total/first-frame pixel-byte counts,
    * and the pixel checksum across sampled frames. The Spark side parses
    * REAL concatenated P6 streams; the oracle sums the closed-form
    * pattern checksum over the sampled frame indices — the
    * iterator-to-iterator demux pipeline's observable output is
    * hash-checked, not just spec'd. Scale: the aggregate keys by
    * media_id (cardinality grows with data); frame bytes never shuffle —
    * stats are computed in the task that parsed them. */
  def frameCensus(s: SparkSession, d: String): DataFrame =
    sampleFrames(s, d)
      .select(col("media_id"), col("frame_idx"),
        length(col("frame")).cast("long").as("encoded_len"))
      .groupBy("media_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(col("encoded_len")).as("encoded_bytes"),
        min(when(col("frame_idx") === 0, col("encoded_len")))
          .as("first_frame_bytes"))
      .orderBy("media_id")

  val frameCensusSql: String = {
    // canonical P6 header: "P6\n" + w + " " + h + "\n255\n"
    val headerLen = "3 + length(CAST(w AS VARCHAR)) + 1 + " +
      "length(CAST(h AS VARCHAR)) + 1 + 3 + 1"
    s"""WITH m AS (
       |  SELECT doc_id AS media_id,
       |    CAST(octet_length(encode(text)) % 61 + 16 AS BIGINT) AS w,
       |    CAST(octet_length(encode(text)) % 37 + 12 AS BIGINT) AS h
       |  FROM documents),
       |f AS (
       |  SELECT media_id, ($headerLen) + w * h * 3 AS enc_len
       |  FROM m, UNNEST([${(0 until videoFrames by frameStride).mkString(", ")}])
       |    AS u(fi))
       |SELECT media_id,
       |  count(*) AS n_frames,
       |  CAST(sum(enc_len) AS BIGINT) AS encoded_bytes,
       |  CAST(min(enc_len) AS BIGINT) AS first_frame_bytes
       |FROM f GROUP BY media_id ORDER BY media_id""".stripMargin
  }

  /** FRAME CHECKSUM (driver-graded): the pixel-byte sum across the
    * SAMPLED frames of each video — sensitive to WHICH frames the
    * demuxer kept and to every pixel byte in them. Oracle: closed-form
    * pattern sums over the sampled frame seeds. */
  def frameChecksum(s: SparkSession, d: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("sampled_pixel_sum", LongType)))
    val enc = RowEncoder.encoderFor(schema)
    videoTable(s, d)
      .select(col("media_id"), col("payload"))
      .mapPartitions { rows =>
        rows.map { r =>
          var sum = 0L
          Ppm.decodeFrames(r.getAs[Array[Byte]](1)).zipWithIndex
            .foreach { case (img, idx) =>
              if (idx % frameStride == 0) sum += Ppm.pixelSum(img)
            }
          Row(r.getLong(0), sum)
        }
      }(enc)
      .orderBy("media_id")
  }

  val frameChecksumSql: String = {
    val sum = patternSumSql("af", "n")
    s"""WITH m AS (
       |  SELECT doc_id AS media_id,
       |    CAST(octet_length(encode(text)) % 61 + 16 AS BIGINT) AS w,
       |    CAST(octet_length(encode(text)) % 37 + 12 AS BIGINT) AS h,
       |    CAST((doc_id * 31) % 256 AS BIGINT) AS a
       |  FROM documents),
       |f AS (
       |  SELECT media_id, w * h * 3 AS n, (a + 13 * u.fi) % 256 AS af
       |  FROM m, UNNEST([${(0 until videoFrames by frameStride).mkString(", ")}])
       |    AS u(fi))
       |SELECT media_id, CAST(sum($sum) AS BIGINT) AS sampled_pixel_sum
       |FROM f GROUP BY media_id ORDER BY media_id""".stripMargin
  }

  /** Oracle-checkable metadata projection: byte length, payload hash and
    * a header sample, computed SQL-side (no decode). The md5 is over the
    * text (DuckDB 1.0 cannot md5 blobs); identical bytes by construction. */
  def mediaMeta(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(
      col("doc_id").as("media_id"),
      length(encode(col("text"), "UTF-8")).cast("long").as("byte_len"),
      md5(col("text")).as("payload_md5"),
      substring(col("text"), 1, 12).as("header_sample"),
      ((length(encode(col("text"), "UTF-8")) % 61) + 16).cast("int").as("img_width"),
      ((length(encode(col("text"), "UTF-8")) % 37) + 12).cast("int").as("img_height"))

  val mediaMetaSql: String =
    """SELECT doc_id AS media_id,
      |  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
      |  md5(text) AS payload_md5,
      |  substr(text, 1, 12) AS header_sample,
      |  CAST(octet_length(encode(text)) % 61 + 16 AS INTEGER) AS img_width,
      |  CAST(octet_length(encode(text)) % 37 + 12 AS INTEGER) AS img_height
      |FROM documents""".stripMargin

  /** Samples per analysis frame for the audio face. */
  val audioFrame = 256
  /** Sample-value modulus (signed 16-bit PCM range). */
  val pcmMod = 65536L

  /** One REAL 16-bit little-endian PCM payload per document: sample i is
    * ((seed + 7·i) mod 65536) − 32768, byte-packed exactly as a WAV data
    * chunk would carry it. Sample count derives from the text byte
    * length ((len mod 1024) + 512) — the generation contract the oracle
    * mirrors in integer arithmetic without touching a byte. */
  private def audioTable(s: SparkSession, d: String): DataFrame =
    synthesized(s, d) { (id, len) =>
      val n = (len % 1024) + 512
      val sd = ((id * 131) % pcmMod).toInt
      val bytes = new Array[Byte](n * 2)
      var i = 0
      while (i < n) {
        val v = (((sd + 7L * i) % pcmMod) - 32768L).toInt
        bytes(2 * i) = (v & 0xff).toByte
        bytes(2 * i + 1) = ((v >> 8) & 0xff).toByte
        i += 1
      }
      bytes
    }

  /** AUDIO FRAME CENSUS (driver-graded): per document, the decoded
    * sample count, complete [[audioFrame]]-sample frame count, total
    * frame energy Σ s² and zero-crossing count — the VAD/loudness
    * feature pass every speech pipeline runs first. The Spark side
    * PARSES the real PCM bytes (little-endian signed 16-bit, the decode
    * is genuine — a truncated payload fails loudly); the oracle
    * recomputes the same integers from the generation contract via a
    * per-sample modular series, never seeing a byte. Ships the top-20
    * docs by (energy, id). Exact integers end to end.
    *
    * Scale: map-only decode (bytes consumed and dropped in the
    * iterator), one top-k; audio bytes never shuffle. */
  def audioCensus(s: SparkSession, d: String): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType),
      StructField("n_samples", LongType),
      StructField("n_frames", LongType),
      StructField("energy", LongType),
      StructField("zero_crossings", LongType)))
    val enc = RowEncoder.encoderFor(schema)
    val decoded = audioTable(s, d)
      .mapPartitions { rows =>
        rows.map { r =>
          val id = r.getLong(0)
          val bytes = r.getAs[Array[Byte]](1)
          require(bytes.length % 2 == 0, s"odd PCM payload for $id")
          val n = bytes.length / 2
          val nf = n / audioFrame
          var energy = 0L
          var zc = 0L
          var prev = 0
          var i = 0
          while (i < n) {
            val v = ((bytes(2 * i) & 0xff) |
              (bytes(2 * i + 1).toInt << 8)).toShort.toInt
            if (i < nf * audioFrame) energy += v.toLong * v
            if (i > 0 && ((v >= 0) != (prev >= 0))) zc += 1
            prev = v
            i += 1
          }
          Row(id, n.toLong, nf.toLong, energy, zc)
        }
      }(enc)
    decoded.orderBy(col("energy").desc, col("media_id")).limit(20)
  }

  val audioCensusSql: String =
    s"""WITH base AS (
       |  SELECT doc_id AS media_id,
       |    (octet_length(encode(text)) % 1024) + 512 AS n,
       |    (doc_id * 131) % $pcmMod AS sd
       |  FROM documents),
       |samples AS (
       |  SELECT media_id, n, i,
       |    ((sd + 7 * i) % $pcmMod) - 32768 AS v
       |  FROM base, unnest(generate_series(0, n - 1)) AS t(i)),
       |flagged AS (
       |  SELECT media_id, n, i, v,
       |    CASE WHEN i > 0 AND (v >= 0) <>
       |        (lag(v) OVER (PARTITION BY media_id ORDER BY i) >= 0)
       |      THEN 1 ELSE 0 END AS zc
       |  FROM samples),
       |census AS (
       |  SELECT media_id, max(n) AS n_samples,
       |    max(n) // $audioFrame AS n_frames,
       |    CAST(sum(CASE WHEN i < (n // $audioFrame) * $audioFrame
       |      THEN v * v ELSE 0 END) AS BIGINT) AS energy,
       |    CAST(sum(zc) AS BIGINT) AS zero_crossings
       |  FROM flagged GROUP BY media_id)
       |SELECT media_id, n_samples, n_frames, energy, zero_crossings
       |FROM census
       |ORDER BY energy DESC, media_id LIMIT 20""".stripMargin
}
