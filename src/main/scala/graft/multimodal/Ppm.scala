package graft.multimodal

/** Dependency-free binary PPM (P6) codec — a REAL image format, parsed
  * and produced byte-for-byte to spec (Netpbm: magic "P6", ASCII header
  * tokens separated by whitespace with `#`-comment support, maxval,
  * then width*height*3 raw RGB bytes). This closes the multimodal
  * plumbing honestly inside a container with no image libraries: the
  * decode/resize/frame-seek steps do real header parsing and real pixel
  * math, on payloads that are valid P6 files any external tool could
  * open.
  *
  * Video stands in as the de-facto "animated PPM" convention:
  * back-to-back concatenated P6 streams, one per frame — so frame
  * seeking must PARSE each header to find the next frame boundary,
  * exactly the work a container demuxer does. */
object Ppm {

  final case class Image(width: Int, height: Int, maxVal: Int, pixels: Array[Byte])

  /** Encode RGB pixels as a canonical P6 stream. */
  def encode(img: Image): Array[Byte] = {
    require(img.pixels.length == img.width * img.height * 3,
      s"pixel buffer ${img.pixels.length} != ${img.width}x${img.height}x3")
    val header = s"P6\n${img.width} ${img.height}\n${img.maxVal}\n"
      .getBytes("US-ASCII")
    val out = new Array[Byte](header.length + img.pixels.length)
    System.arraycopy(header, 0, out, 0, header.length)
    System.arraycopy(img.pixels, 0, out, header.length, img.pixels.length)
    out
  }

  /** Parse one P6 stream starting at `off`; returns the image and the
    * offset just past its pixel data (the next frame boundary in a
    * concatenated stream). Throws on malformed input — a corrupt media
    * payload must fail loudly, not decode to garbage. */
  private def decodeAt(bytes: Array[Byte], off: Int): (Image, Int) = {
    var i = off
    def fail(msg: String) =
      throw new IllegalArgumentException(s"PPM parse error at $i: $msg")
    if (i + 2 > bytes.length || bytes(i) != 'P' || bytes(i + 1) != '6')
      fail("missing P6 magic")
    i += 2
    // three ASCII integer tokens (width, height, maxval), separated by
    // whitespace, with '#' comments running to end-of-line
    def nextInt(): Int = {
      var inComment = false
      while (i < bytes.length && {
        val c = bytes(i)
        if (inComment) { if (c == '\n') inComment = false; true }
        else if (c == '#') { inComment = true; true }
        else c == ' ' || c == '\t' || c == '\r' || c == '\n'
      }) i += 1
      if (i >= bytes.length) fail("truncated header")
      var v = 0
      var any = false
      while (i < bytes.length && bytes(i) >= '0' && bytes(i) <= '9') {
        v = v * 10 + (bytes(i) - '0'); any = true; i += 1
      }
      if (!any) fail(s"expected integer, got byte ${bytes(i)}")
      v
    }
    val w = nextInt(); val h = nextInt(); val mv = nextInt()
    if (w <= 0 || h <= 0 || mv <= 0 || mv > 255) fail(s"bad dims $w x $h maxval $mv")
    // exactly ONE whitespace byte separates maxval from pixel data
    if (i >= bytes.length || !(bytes(i) == ' ' || bytes(i) == '\n' ||
        bytes(i) == '\r' || bytes(i) == '\t')) fail("missing header terminator")
    i += 1
    val n = w * h * 3
    if (i + n > bytes.length) fail(s"truncated pixel data: need $n")
    val px = java.util.Arrays.copyOfRange(bytes, i, i + n)
    (Image(w, h, mv, px), i + n)
  }

  def decode(bytes: Array[Byte]): Image = decodeAt(bytes, 0)._1

  /** Decode a concatenated multi-frame P6 stream LAZILY — each `next()`
    * parses one header and slices one frame, so a long video never
    * materializes whole in one task. */
  def decodeFrames(bytes: Array[Byte]): Iterator[Image] = new Iterator[Image] {
    private var off = 0
    def hasNext: Boolean = off < bytes.length
    def next(): Image = {
      val (img, end) = decodeAt(bytes, off)
      off = end
      img
    }
  }

  /** Nearest-neighbor resample — the standard integer mapping
    * src = (dst * srcDim) / dstDim, real pixel indexing on the decoded
    * buffer. */
  def resizeNearest(img: Image, dstW: Int, dstH: Int): Image = {
    val out = new Array[Byte](dstW * dstH * 3)
    var y = 0
    while (y < dstH) {
      val sy = y * img.height / dstH
      var x = 0
      while (x < dstW) {
        val sx = x * img.width / dstW
        val si = (sy * img.width + sx) * 3
        val di = (y * dstW + x) * 3
        out(di) = img.pixels(si)
        out(di + 1) = img.pixels(si + 1)
        out(di + 2) = img.pixels(si + 2)
        x += 1
      }
      y += 1
    }
    Image(dstW, dstH, img.maxVal, out)
  }

  /** Deterministic test-pattern raster: pixel i of frame f is
    * (seed + 13·f + i) mod 256. The harness has no real image corpus,
    * so payloads are SYNTHESIZED — but synthesized into genuine P6
    * bytes the codec round-trips; the closed-form byte sum is what the
    * DuckDB oracle recomputes without decoding. */
  def renderPattern(seed: Int, w: Int, h: Int, frame: Int = 0): Image = {
    val n = w * h * 3
    val px = new Array[Byte](n)
    val base = (seed + 13 * frame) % 256
    var i = 0
    while (i < n) { px(i) = ((base + i) % 256).toByte; i += 1 }
    Image(w, h, 255, px)
  }

  /** Sum of pixel bytes (unsigned) — the decode checksum the oracle
    * mirrors in closed form. */
  def pixelSum(img: Image): Long = {
    var s = 0L; var i = 0
    while (i < img.pixels.length) { s += img.pixels(i) & 0xff; i += 1 }
    s
  }
}
