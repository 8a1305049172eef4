package graft.ops

import graft.GraftTestBase
import graft.multimodal.Multimodal
import graft.Scratch.metas

/** THIRD-IMPLEMENTATION battery, batch 17: the video-frame faces.
  * Like batch 16, recomputed from the generation contract alone —
  * header bytes counted from the canonical P6 header text, frame seeds
  * advanced by the 13·f contract, every pixel byte summed in a plain
  * loop — never the Ppm codec, never the oracle's triangular closed
  * forms.
  */
class ThirdImplSpec17 extends GraftTestBase {

  private val sampled =
    (0 until Multimodal.videoFrames by Multimodal.frameStride).toVector

  behavior of "Multimodal.frameCensus (q_frame_census) vs scratch header math"

  it should "match sampled-frame counts and encoded byte totals" in {
    val expected = metas.map { case (id, w, h, _) =>
      val encLen = s"P6\n$w $h\n255\n".getBytes("UTF-8").length.toLong +
        w * h * 3
      (id, sampled.size.toLong, encLen * sampled.size, encLen)
    }
    val got = Multimodal.frameCensus(spark, sf).collect()
      .map(r => (r.getAs[Long]("media_id"), r.getAs[Long]("n_frames"),
        r.getAs[Long]("encoded_bytes"), r.getAs[Long]("first_frame_bytes")))
      .toVector.sortBy(_._1)
    got shouldBe expected
  }

  behavior of "Multimodal.frameChecksum (q_frame_checksum) vs per-byte sums"

  it should "match the pixel checksum across the sampled frames" in {
    val expected = metas.map { case (id, w, h, a) =>
      val n = w * h * 3
      val sum = sampled.map { f =>
        val af = (a + 13 * f) % 256
        (0 until n).map(i => ((af + i) % 256).toLong).sum
      }.sum
      (id, sum)
    }
    val got = Multimodal.frameChecksum(spark, sf).collect()
      .map(r => (r.getAs[Long]("media_id"),
        r.getAs[Long]("sampled_pixel_sum"))).toVector.sortBy(_._1)
    got shouldBe expected
  }
}
