package graft.operators

import graft.SparkSpec

/** The real header parsers: encode→parse round trips, the layouts
  * naive parsers break on (top-down BMPs, chunks between `fmt ` and
  * `data`, odd-size chunk padding), and corrupt payloads as data.
  */
class MediaCodecSpec extends SparkSpec {
  import MediaCodec._

  test("bmp: round trip, incl. top-down (negative height) encoding") {
    assert(parseBmp(buildBmp(17, 9, topDown = false)) === Some((17, 9)))
    assert(parseBmp(buildBmp(17, 9, topDown = true)) === Some((17, 9)))
    assert(parseBmp(buildBmp(1, 1, topDown = false)) === Some((1, 1)))
    // row alignment: width 3 at 24bpp = 9 bytes padded to 12 per row
    val b = buildBmp(3, 2, topDown = false)
    assert(b.length === 54 + 12 * 2)
  }

  test("wav: round trip, LIST chunk skipped by size, odd-chunk padding") {
    assert(parseWav(buildWav(1, 8000, 100, withListChunk = false)) ===
      Some((1, 8000, 16, 100L)))
    assert(parseWav(buildWav(2, 44100, 7, withListChunk = true)) ===
      Some((2, 44100, 16, 7L)))
    // hand-insert an ODD-size chunk between fmt and data: the RIFF spec
    // pads it to an even boundary — a parser advancing by raw size
    // desynchronizes and misses `data`
    val base = buildWav(1, 8000, 5, withListChunk = false)
    val odd = java.nio.ByteBuffer
      .allocate(base.length + 12) // "junk" + size(3) + 3 bytes + 1 pad
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    odd.put(base, 0, 36) // through the end of fmt
    odd.put("junk".getBytes("US-ASCII")).putInt(3)
      .put(Array[Byte](1, 2, 3, 0)) // 3 payload bytes + pad
    odd.put(base, 36, base.length - 36) // data chunk onward
    assert(parseWav(odd.array()) === Some((1, 8000, 16, 5L)))
  }

  test("png: round trip; a flipped IHDR bit fails the CRC, not silently") {
    assert(parsePng(buildPng(640, 480)) === Some((640, 480)))
    assert(parsePng(buildPng(1, 1)) === Some((1, 1)))
    val corrupted = buildPng(640, 480)
    corrupted(17) = (corrupted(17) ^ 0x10).toByte // bit-flip the width
    assert(parsePng(corrupted).isEmpty) // CRC catches it
    assert(parsePng(buildPng(9, 9).take(30)).isEmpty) // truncated IHDR
    assert(parseGif(buildPng(9, 9)).isEmpty) // wrong magic cross-checks
  }

  test("jpeg: SOF marker walk, fill bytes, SOS/EOI before SOF, truncation") {
    assert(parseJpeg(buildJpeg(1024, 768)) === Some((1024, 768)))
    assert(parseJpeg(buildJpeg(1, 1)) === Some((1, 1)))
    // progressive (SOF2) parses the same frame header
    val prog = buildJpeg(50, 40)
    prog(21) = 0xc2.toByte // SOF0 → SOF2 marker byte (after the FF at 20)
    assert(parseJpeg(prog) === Some((50, 40)))
    // a fill byte before the SOF marker is legal and skipped
    val filled = buildJpeg(9, 9)
    val withFill = filled.take(20) ++ Array(0xff.toByte) ++ filled.drop(20)
    assert(parseJpeg(withFill) === Some((9, 9)))
    // EOI immediately after SOI: no frame to report
    assert(parseJpeg(Array(0xff, 0xd8, 0xff, 0xd9).map(_.toByte)).isEmpty)
    assert(parseJpeg(buildJpeg(9, 9).take(22)).isEmpty) // truncated SOF
    assert(parseJpeg("not a jpeg".getBytes("UTF-8")).isEmpty)
  }

  test("gif: round trip, both signatures, little-endian dims") {
    assert(parseGif(buildGif(320, 200)) === Some((320, 200)))
    val g87 = buildGif(300, 1)
    "GIF87a".getBytes("US-ASCII").zipWithIndex
      .foreach { case (c, i) => g87(i) = c }
    assert(parseGif(g87) === Some((300, 1)))
    assert(parseGif("GIF99a1234".getBytes("US-ASCII")).isEmpty)
    assert(parsePng(buildGif(3, 3)).isEmpty)
  }

  test("wav: truncated data chunk clamps instead of overcounting") {
    val full = buildWav(1, 8000, 100, withListChunk = false)
    val cut = full.take(full.length - 120) // lose 60 samples
    assert(parseWav(cut) === Some((1, 8000, 16, 40L)))
  }

  test("wav: hostile chunk sizes terminate — no spin, no index crash") {
    // size 0xFFFFFFF8 truncated to Int is -8: advance would be 0 and
    // the chunk walk spins forever; size near 2^31 wraps an Int offset
    // negative and indexes crash. Both must parse invalid, promptly.
    def hostile(size: Long): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(32)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      b.put("RIFF".getBytes("US-ASCII")).putInt(24)
      b.put("WAVE".getBytes("US-ASCII"))
      b.put("JUNK".getBytes("US-ASCII")).putInt(size.toInt)
      b.put(Array.fill[Byte](8)(0))
      b.array()
    }
    val sizes = Seq(0xFFFFFFF8L, 0x80000000L, 0x7FFFFFFFL, 0xFFFFFFFFL)
    for (sz <- sizes)
      assert(parseWav(hostile(sz)).isEmpty, f"size 0x$sz%x")
    // and through decode(): a datum, not an exception
    assert(!decode(1L, hostile(0xFFFFFFF8L)).valid)

    // Every other RIFF and ISO-BMFF walk: each parse runs on a daemon
    // thread joined with a 5 s limit — a stalled walk never checks for
    // interrupts, so failAfter could not stop it.
    def promptlyNone(what: String)(parse: => Option[Any]): Unit = {
      val result = new java.util.concurrent.atomic.AtomicReference[Any]()
      val t = new Thread(() => result.set(parse))
      t.setDaemon(true)
      t.start()
      t.join(5000)
      assert(!t.isAlive, s"$what still running after 5 s")
      assert(result.get == None, s"$what parsed a hostile payload")
    }
    // RIFF <16> WEBP ALPH <size> 00000000: 24 bytes, the RIFF size exact
    def webp(size: Long): Array[Byte] =
      java.nio.ByteBuffer.allocate(24).order(java.nio.ByteOrder.LITTLE_ENDIAN)
        .put("RIFF".getBytes("US-ASCII")).putInt(16)
        .put("WEBP".getBytes("US-ASCII"))
        .put("ALPH".getBytes("US-ASCII")).putInt(size.toInt).array()
    // a 16-byte ftyp box, then `moov` with the hostile size — as its
    // 32-bit size field, or as a 64-bit largesize after size field 1
    def mp4(size: Long, large: Boolean): Array[Byte] = {
      val b = java.nio.ByteBuffer.allocate(40)
      b.putInt(16).put("ftypisom".getBytes("US-ASCII")).putInt(0x200)
      if (large) b.putInt(1).put("moov".getBytes("US-ASCII"))
        .putLong(size | 0xFFFFFFFF00000000L)
      else b.putInt(size.toInt).put("moov".getBytes("US-ASCII"))
      b.array()
    }
    for (sz <- sizes) {
      val tag = f"size 0x$sz%x"
      promptlyNone(s"parseWebpMeta, $tag")(parseWebpMeta(1L, webp(sz)))
      promptlyNone(s"parseWebplPixels, $tag")(parseWebplPixels(1L, webp(sz)))
      promptlyNone(s"parseWebpLossy, $tag")(
        Vp8Codec.parseWebpLossy(1L, webp(sz)))
      for (large <- Seq(false, true)) {
        promptlyNone(s"parseMp4Meta, $tag, largesize $large")(
          parseMp4Meta(1L, mp4(sz, large)))
        promptlyNone(s"parseMp4Samples, $tag, largesize $large")(
          parseMp4Samples(1L, mp4(sz, large)))
      }
    }
  }

  test("corrupt payloads are invalid data, not failures") {
    assert(parseBmp(Array.empty[Byte]).isEmpty)
    assert(parseWav(Array.empty[Byte]).isEmpty)
    assert(parseBmp("BMnot really a bitmap".getBytes("UTF-8")).isEmpty)
    assert(parseWav("RIFFxxxxWAVEbut then garbage".getBytes("UTF-8")).isEmpty)
    assert(parseBmp(buildBmp(4, 4, topDown = false).take(40)).isEmpty)
    val m = decode(7L, "plain text, no container".getBytes("UTF-8"))
    assert(!m.valid && m.kind === "unknown" && m.byteLen === 24)
  }

  test("mutation fuzz: corrupted containers always decode to a datum") {
    // every parser must terminate and return (valid or not) on any
    // mutation of a valid file — the WAV chunk-size spin was exactly
    // this class. Seeded, so failures replay.
    val rnd = new scala.util.Random(20260813L)
    val seeds = Seq(
      buildBmp(31, 17, topDown = true),
      buildPng(200, 100),
      buildGif(64, 32),
      buildJpeg(640, 480),
      buildWav(2, 44100, 200, withListChunk = true))
    for (seed <- seeds; _ <- 1 to 100) {
      val b = seed.clone()
      (1 to 1 + rnd.nextInt(4)).foreach { _ =>
        b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      }
      val m = decode(9L, b) // must return, not throw or spin
      assert(m.byteLen === b.length)
    }
    // truncations at every prefix length of each seed
    for (seed <- seeds; n <- 0 until seed.length by 3)
      decode(9L, seed.take(n))
  }

  test("mutation fuzz: every CONTENT decoder is total on corrupt bytes") {
    // the pixel/sample decoders run inside mapPartitions over crawl
    // payloads: any input must produce Some/None, never a throw or a
    // spin — the same totality contract as the header parsers
    val rnd = new scala.util.Random(20260821L)
    val cases: Seq[(Array[Byte], Array[Byte] => Any)] = Seq(
      (buildBmpPattern(9, 7, topDown = false, 3L),
        (b: Array[Byte]) => decodeBmpPixels(1L, b)),
      (buildPngPattern(9, 7, 3L, splitIdat = true),
        (b: Array[Byte]) => decodePngPixels(1L, b)),
      (buildGifPattern(9, 7, 3L, withExtension = true),
        (b: Array[Byte]) => decodeGifPixels(1L, b)),
      (buildJpegPattern(17, 9, 3L),
        (b: Array[Byte]) => decodeJpegPixels(1L, b)),
      (buildJpegColorPattern(17, 9, 3L),
        (b: Array[Byte]) => decodeJpegRgb(1L, b)),
      (buildJpeg420Pattern(17, 9, 3L),
        (b: Array[Byte]) => decodeJpegRgb(1L, b)),
      (buildJpegProgressivePattern(17, 9, 3L),
        (b: Array[Byte]) => decodeJpegProgressive(1L, b)),
      (buildJpegRefinePattern(17, 9, 3L),
        (b: Array[Byte]) => decodeJpegProgressive(1L, b)),
      (buildWavPattern(2, 8000, 50, withListChunk = true, 3L),
        (b: Array[Byte]) => decodeWavSamples(1L, b)),
      (buildWavUlawPattern(2, 8000, 50, 3L),
        (b: Array[Byte]) => decodeWavUlaw(1L, b)),
      (buildBmpTexture(16, 12, topDown = false, 3L),
        (b: Array[Byte]) => ahashBmp(1L, b)),
      (buildWavEnergyPattern(2, 8000, 150, 3L),
        (b: Array[Byte]) => wavEnergy(1L, b)),
      (buildWavEnergyPattern(2, 8000, 150, 5L),
        (b: Array[Byte]) => wavZcr(1L, b)),
      (buildWavAdpcmPattern(2, 8000, 300, 3L),
        (b: Array[Byte]) => decodeWavAdpcm(1L, b)),
      (buildGifAnimPattern(16, 16, 4, 3L),
        (b: Array[Byte]) => gifAnimStats(b)),
      (buildGifPattern(9, 7, 3L, withExtension = true, interlaced = true),
        (b: Array[Byte]) => decodeGifPixels(1L, b)),
      (buildPngPalettePattern(9, 7, 3L, splitIdat = true),
        (b: Array[Byte]) => decodePngPixels(1L, b)),
      (encodeBmpRgb(16, 12, topDown = true, MediaCodec.phashTwinRgb(33)),
        (b: Array[Byte]) => decodeGray(b).map(phashGray)),
      (buildBmpPalettePattern(9, 7, topDown = false, 3L),
        (b: Array[Byte]) => decodeBmpPixels(1L, b)))
    for ((seed, dec) <- cases) {
      (1 to 150).foreach { _ =>
        val b = seed.clone()
        (1 to 1 + rnd.nextInt(5)).foreach { _ =>
          b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
        }
        dec(b) // must return
      }
      for (n <- 0 until seed.length by 7) dec(seed.take(n))
    }
  }

  test("bmp pixels: patterned decode matches closed-form means, both orders") {
    // w=5 forces real row padding (15 pixel bytes -> 16-byte stride)
    for (topDown <- Seq(true, false)) {
      val w = 5; val h = 3; val seed = 42L
      val img = buildBmpPattern(w, h, topDown, seed)
      val px = decodeBmpPixels(7L, img).get
      // closed-form twins of the pattern arithmetic, IMAGE-space coords
      def mean(f: (Int, Int) => Long): Double =
        (for (x <- 0 until w; y <- 0 until h) yield f(x, y)).sum
          .toDouble / (w * h)
      assert(px.width === w && px.height === h)
      assert(px.meanR === mean((x, y) => (x + y + 2 * seed) % 255))
      assert(px.meanG === mean((x, y) => (2L * x + y + seed) % 253))
      assert(px.meanB === mean((x, y) => (x + 3L * y + seed) % 251))
      val top = (0 until w).map(x => (x + 2 * seed) % 255 +
        (2L * x + seed) % 253 + (x + seed) % 251).sum
      assert(px.topRowMean === top.toDouble / (3 * w),
        s"top-row mean wrong for topDown=$topDown — row order mishandled")
    }
  }

  test("bmp pixels: only uncompressed 24-bpp decodes; the rest stay out") {
    val ok = buildBmpPattern(4, 4, topDown = false, seed = 1L)
    assert(decodeBmpPixels(1L, ok).isDefined)
    // truncated pixel array
    assert(decodeBmpPixels(1L, ok.dropRight(5)).isEmpty)
    // 32-bpp claim
    val bpp32 = ok.clone(); bpp32(28) = 32.toByte
    assert(decodeBmpPixels(1L, bpp32).isEmpty)
    // RLE compression claim
    val rle = ok.clone(); rle(30) = 1.toByte
    assert(decodeBmpPixels(1L, rle).isEmpty)
    // not a BMP at all
    assert(decodeBmpPixels(1L, "garbage".getBytes("UTF-8")).isEmpty)
  }

  test("jpeg pixels: block-constant fixture decodes exactly") {
    // quant=1 + DC-only blocks make baseline JPEG lossless: sample =
    // DC/8 + 128 exactly. Sizes cross partial-edge blocks and 1×1.
    for ((w, h) <- Seq((16, 16), (13, 9), (8, 8), (1, 1), (44, 26))) {
      val seed = 23L
      val px = decodeJpegPixels(7L, buildJpegPattern(w, h, seed)).get
      def v(x: Int, y: Int): Long = ((x / 8) + 3L * (y / 8) + seed) % 256
      val exp = (for (x <- 0 until w; y <- 0 until h) yield v(x, y)).sum
        .toDouble / (w * h)
      assert(px.width === w && px.height === h)
      assert(px.meanGray === exp, s"($w×$h)")
      val top = (0 until w).map(x => v(x, 0)).sum
      assert(px.topRowMean === top.toDouble / w)
    }
  }

  test("jpeg pixels: arbitrary coefficients round trip the AC path") {
    // random quantized blocks (sparse AC, long zero runs forcing ZRL,
    // negative values, multi-block DC prediction) must reproduce the
    // direct textbook IDCT computed independently in the test
    val rnd = new scala.util.Random(20260815L)
    def directIdct(coef: Array[Int]): Array[Int] = {
      val out = new Array[Int](64)
      def c(i: Int) = if (i == 0) 1.0 / math.sqrt(2.0) else 1.0
      for (y <- 0 until 8; x <- 0 until 8) {
        var s = 0.0
        for (v <- 0 until 8; u <- 0 until 8)
          s += c(u) * c(v) * coef(v * 8 + u) *
            math.cos((2 * x + 1) * u * math.Pi / 16) *
            math.cos((2 * y + 1) * v * math.Pi / 16)
        out(y * 8 + x) =
          math.max(0, math.min(255, math.rint(s / 4.0).toInt + 128))
      }
      out
    }
    (1 to 5).foreach { round =>
      val (w, h) = (16, 16) // 4 full blocks
      val blocks = Array.fill(4) {
        val coef = new Array[Int](64)
        coef(0) = rnd.nextInt(2001) - 1000
        // sparse AC: a few values, incl. a tail one forcing a long run
        (1 to 4).foreach { _ =>
          coef(1 + rnd.nextInt(63)) = rnd.nextInt(401) - 200
        }
        if (round % 2 == 0) coef(63) = 7 // ZRL-heavy tail
        coef
      }
      val px = decodeJpegPixels(1L,
        buildJpegBlocks(w, h, blocks(_))).get
      val pixels = blocks.map(directIdct)
      // blocks are row-major MCUs: (0,0), (1,0), (0,1), (1,1)
      var sum = 0L; var top = 0L
      for (by <- 0 until 2; bx <- 0 until 2; y <- 0 until 8; x <- 0 until 8) {
        val v = pixels(by * 2 + bx)(y * 8 + x)
        sum += v
        if (by == 0 && y == 0) top += v
      }
      assert(math.abs(px.meanGray - sum.toDouble / (w * h)) < 1e-9,
        s"round $round AC path diverged")
      assert(math.abs(px.topRowMean - top.toDouble / w) < 1e-9)
    }
  }

  test("jpeg progressive: spectral-selection decode == baseline decode") {
    // the same picture through SOF2 (DC scan + AC band scan) and SOF0
    // must decode identically — incl. partial edge blocks and 1×1
    for ((w, h) <- Seq((16, 16), (13, 9), (1, 1), (33, 21))) {
      val seed = 29L
      val prog = decodeJpegProgressive(7L,
        buildJpegProgressivePattern(w, h, seed)).get
      val base = decodeJpegPixels(7L, buildJpegPattern(w, h, seed)).get
      assert(prog.width === base.width && prog.height === base.height)
      assert(prog.meanGray === base.meanGray, s"($w×$h)")
      assert(prog.topRowMean === base.topRowMean)
    }
    // each decoder rejects the other's frame type
    assert(decodeJpegPixels(1L,
      buildJpegProgressivePattern(8, 8, 1L)).isEmpty)
    assert(decodeJpegProgressive(1L, buildJpegPattern(8, 8, 1L)).isEmpty)
  }

  test("jpeg refinement: successive-approximation decode == baseline") {
    // the same picture through four SA scans (DC/AC first pass at
    // Al=1, then both Ah=1→Al=0 refinements) and through SOF0 must
    // decode identically — odd DCs force real DC correction bits,
    // |v|==1 ACs are invisible at Al=1 and only exist via the
    // refinement's new-coefficient path, |v|>1 ACs need their LSB
    // correction bits, and sparse blocks drive refinement EOB runs
    // that carry correction bits
    def blocks(bi: Int): Array[Int] = {
      val coef = new Array[Int](64)
      coef(0) = (bi % 7) * 37 - 111 // mixed-parity, mixed-sign DCs
      bi % 5 match {
        case 0 => () // empty band → EOB-run block in both passes
        case 1 => coef(1) = 1; coef(63) = -1 // new ±1s
        case 2 => coef(5) = 9; coef(40) = -13 // odd |v|>1
        case 3 => coef(2) = 12; coef(30) = -8 // even |v|>1
        case _ => // ZRL territory: long zero gaps around a new ±1
          coef(3) = 5; coef(24) = 1; coef(50) = -2
      }
      coef
    }
    for ((w, h) <- Seq((16, 16), (13, 9), (1, 1), (40, 24), (33, 21))) {
      val ref = decodeJpegProgressive(7L,
        buildJpegProgressiveRefined(w, h, blocks)).get
      val base = decodeJpegPixels(7L, buildJpegBlocks(w, h, blocks)).get
      assert(ref.width === base.width && ref.height === base.height)
      assert(ref.meanGray === base.meanGray, s"($w×$h)")
      assert(ref.topRowMean === base.topRowMean, s"($w×$h)")
    }
    // the gate pattern: DC = 8m+5, so a decoder that skipped (or
    // faked) the refinement scans would sit on 8m+4 and diverge
    val px = decodeJpegProgressive(3L, buildJpegRefinePattern(16, 16, 3L))
    assert(px.isDefined)
  }

  test("jpeg refinement: random sparse blocks round-trip the SA path") {
    val rnd = new scala.util.Random(20260823L)
    (1 to 4).foreach { round =>
      val (w, h) = (40, 24) // 5×3 = 15 blocks
      val blocks = Array.fill(15) {
        val coef = new Array[Int](64)
        coef(0) = rnd.nextInt(1201) - 600
        if (rnd.nextInt(3) == 0)
          (1 to 4).foreach(_ =>
            coef(1 + rnd.nextInt(63)) = rnd.nextInt(301) - 150)
        if (rnd.nextInt(2) == 0) // ±1s: refinement-only coefficients
          coef(1 + rnd.nextInt(63)) = 1 - 2 * rnd.nextInt(2)
        coef
      }
      val ref = decodeJpegProgressive(1L,
        buildJpegProgressiveRefined(w, h, blocks(_))).get
      val base = decodeJpegPixels(1L, buildJpegBlocks(w, h, blocks(_))).get
      assert(ref.meanGray === base.meanGray, s"round $round")
      assert(ref.topRowMean === base.topRowMean, s"round $round")
    }
  }

  test("jpeg progressive: AC band scan round-trips arbitrary blocks") {
    // sparse AC across many blocks: EOBRUN runs spanning blocks, ZRL,
    // negatives, and the all-zero-tail EOB folding all get exercised;
    // expectation = the same blocks through the BASELINE encoder
    val rnd = new scala.util.Random(20260822L)
    (1 to 4).foreach { round =>
      val (w, h) = (40, 24) // 5×3 = 15 blocks
      val blocks = Array.fill(15) {
        val coef = new Array[Int](64)
        coef(0) = rnd.nextInt(1201) - 600
        // most blocks all-zero AC → long EOBRUNs; a few dense
        if (rnd.nextInt(3) == 0)
          (1 to 3).foreach(_ =>
            coef(1 + rnd.nextInt(63)) = rnd.nextInt(301) - 150)
        coef
      }
      val prog = decodeJpegProgressive(1L,
        buildJpegProgressive(w, h, blocks(_))).get
      val base = decodeJpegPixels(1L,
        buildJpegBlocks(w, h, blocks(_))).get
      assert(prog.meanGray === base.meanGray, s"round $round")
      assert(prog.topRowMean === base.topRowMean, s"round $round")
    }
  }

  test("jpeg rgb: 4:4:4 color round trip matches the fixed-point math") {
    for ((w, h) <- Seq((16, 16), (11, 9), (1, 1), (28, 18))) {
      val seed = 31L
      val px = decodeJpegRgb(7L, buildJpegColorPattern(w, h, seed)).get
      // the test's own copy of the fixed-point conversion
      def conv(yv: Long, cb: Long, cr: Long): (Long, Long, Long) = {
        def cl(v: Long) = math.max(0L, math.min(255L, v))
        val r = cl(((yv * 65536 + 91881 * (cr - 128) + 32768
          + 16777216) >> 16) - 256)
        val g = cl(((yv * 65536 - 22554 * (cb - 128) - 46802 * (cr - 128)
          + 32768 + 16777216) >> 16) - 256)
        val b = cl(((yv * 65536 + 116130 * (cb - 128) + 32768
          + 16777216) >> 16) - 256)
        (r, g, b)
      }
      def rgbAt(x: Int, y: Int): (Long, Long, Long) = {
        val bx = x / 8; val by = y / 8
        conv((bx + 3L * by + seed) % 256, (2L * bx + by + seed) % 256,
          (bx + 7L * by + 2L * seed) % 256)
      }
      val all = for (x <- 0 until w; y <- 0 until h) yield rgbAt(x, y)
      val n = (w * h).toDouble
      assert(px.width === w && px.height === h)
      assert(px.meanR === all.map(_._1).sum / n, s"($w×$h)")
      assert(px.meanG === all.map(_._2).sum / n)
      assert(px.meanB === all.map(_._3).sum / n)
      val top = (0 until w).map { x =>
        val (r, g, b) = rgbAt(x, 0); r + g + b
      }.sum
      assert(px.topRowMean === top.toDouble / (3 * w))
    }
    // a grayscale stream is NOT an RGB image and vice versa
    assert(decodeJpegRgb(1L, buildJpegPattern(8, 8, 1L)).isEmpty)
    assert(decodeJpegPixels(1L, buildJpegColorPattern(8, 8, 1L)).isEmpty)
  }

  test("jpeg rgb: interleaved AC blocks with per-component predictors") {
    val rnd = new scala.util.Random(20260818L)
    def directIdct(coef: Array[Int]): Array[Int] = {
      val out = new Array[Int](64)
      def c(i: Int) = if (i == 0) 1.0 / math.sqrt(2.0) else 1.0
      for (y <- 0 until 8; x <- 0 until 8) {
        var s = 0.0
        for (v <- 0 until 8; u <- 0 until 8)
          s += c(u) * c(v) * coef(v * 8 + u) *
            math.cos((2 * x + 1) * u * math.Pi / 16) *
            math.cos((2 * y + 1) * v * math.Pi / 16)
        out(y * 8 + x) =
          math.max(0, math.min(255, math.rint(s / 4.0).toInt + 128))
      }
      out
    }
    val (w, h) = (16, 8) // 2 MCUs × 3 components
    val blocks = Array.fill(2, 3) {
      val coef = new Array[Int](64)
      coef(0) = rnd.nextInt(1601) - 800
      (1 to 3).foreach(_ => coef(1 + rnd.nextInt(63)) = rnd.nextInt(201) - 100)
      coef
    }
    val px = decodeJpegRgb(1L,
      buildJpegColorBlocks(w, h, (bi, c) => blocks(bi)(c))).get
    def cl(v: Long) = math.max(0L, math.min(255L, v))
    var sumR = 0L; var sumG = 0L; var sumB = 0L
    for (bx <- 0 until 2; yy <- 0 until 8; xx <- 0 until 8) {
      val i = yy * 8 + xx
      val yv = directIdct(blocks(bx)(0))(i).toLong
      val cb = directIdct(blocks(bx)(1))(i).toLong
      val cr = directIdct(blocks(bx)(2))(i).toLong
      sumR += cl(((yv * 65536 + 91881 * (cr - 128) + 32768
        + 16777216) >> 16) - 256)
      sumG += cl(((yv * 65536 - 22554 * (cb - 128) - 46802 * (cr - 128)
        + 32768 + 16777216) >> 16) - 256)
      sumB += cl(((yv * 65536 + 116130 * (cb - 128) + 32768
        + 16777216) >> 16) - 256)
    }
    val n = (w * h).toDouble
    assert(math.abs(px.meanR - sumR / n) < 1e-9, "interleave/pred diverged")
    assert(math.abs(px.meanG - sumG / n) < 1e-9)
    assert(math.abs(px.meanB - sumB / n) < 1e-9)
  }

  test("jpeg 4:2:0: subsampled round trip, partial MCUs, upsampling") {
    // sizes crossing MCU boundaries both ways: 16×16 (1 MCU), 17×9
    // (2×1 MCUs, both partial), 52×34 (4×3 MCUs, right+bottom partial)
    for ((w, h) <- Seq((16, 16), (17, 9), (1, 1), (52, 34))) {
      val seed = 47L
      val px = decodeJpegRgb(7L, buildJpeg420Pattern(w, h, seed)).get
      def cl(v: Long) = math.max(0L, math.min(255L, v))
      def rgbAt(x: Int, y: Int): (Long, Long, Long) = {
        val yv = ((x / 8) + 3L * (y / 8) + seed) % 256
        val cb = (2L * (x / 16) + (y / 16) + seed) % 256
        val cr = ((x / 16) + 7L * (y / 16) + 2L * seed) % 256
        val r = cl(((yv * 65536 + 91881 * (cr - 128) + 32768
          + 16777216) >> 16) - 256)
        val g = cl(((yv * 65536 - 22554 * (cb - 128) - 46802 * (cr - 128)
          + 32768 + 16777216) >> 16) - 256)
        val b = cl(((yv * 65536 + 116130 * (cb - 128) + 32768
          + 16777216) >> 16) - 256)
        (r, g, b)
      }
      val all = for (x <- 0 until w; y <- 0 until h) yield rgbAt(x, y)
      val n = (w * h).toDouble
      assert(px.width === w && px.height === h)
      assert(px.meanR === all.map(_._1).sum / n, s"($w×$h)")
      assert(px.meanG === all.map(_._2).sum / n, s"($w×$h)")
      assert(px.meanB === all.map(_._3).sum / n, s"($w×$h)")
      val top = (0 until w).map { x =>
        val (r, g, b) = rgbAt(x, 0); r + g + b
      }.sum
      assert(px.topRowMean === top.toDouble / (3 * w))
    }
    // 4:2:2 (or any other layout) stays behind the seam: flip the Y
    // sampling byte to 0x21 and re-run — must be None, not garbage
    val ok = buildJpeg420Pattern(16, 16, 1L)
    val sof = (0 until ok.length - 1).find(i =>
      (ok(i) & 0xff) == 0xff && (ok(i + 1) & 0xff) == 0xc0).get
    val s422 = ok.clone()
    s422(sof + 11) = 0x21.toByte // first component's sampling byte
    assert(decodeJpegRgb(1L, s422).isEmpty)
  }

  test("jpeg pixels: unsupported or corrupt streams are data") {
    val ok = buildJpegPattern(16, 8, 3L)
    assert(decodeJpegPixels(1L, ok).isDefined)
    // the metadata parser agrees on dimensions
    assert(parseJpeg(ok) === Some((16, 8)))
    // truncation inside the entropy stream
    assert(decodeJpegPixels(1L, ok.dropRight(6)).isEmpty)
    // progressive claim (SOF0 marker byte → SOF2)
    val prog = ok.clone()
    val sof = (0 until prog.length - 1).find(i =>
      (prog(i) & 0xff) == 0xff && (prog(i + 1) & 0xff) == 0xc0).get
    prog(sof + 1) = 0xc2.toByte
    assert(decodeJpegPixels(1L, prog).isEmpty)
    // not a JPEG
    assert(decodeJpegPixels(1L, "nope".getBytes("UTF-8")).isEmpty)
    // the header-skeleton builder (no entropy data) decodes to None
    assert(decodeJpegPixels(1L, buildJpeg(16, 8)).isEmpty)
  }

  test("gif pixels: LZW round trip matches closed-form means") {
    for (withExt <- Seq(true, false)) {
      val w = 9; val h = 6; val seed = 17L
      val px = decodeGifPixels(7L,
        buildGifPattern(w, h, seed, withExtension = withExt)).get
      def ci(x: Int, y: Int): Long = (x + 7L * y + seed) % 256
      def mean(f: (Int, Int) => Long): Double =
        (for (x <- 0 until w; y <- 0 until h) yield f(x, y)).sum
          .toDouble / (w * h)
      assert(px.width === w && px.height === h)
      assert(px.meanR === mean((x, y) => ci(x, y)), s"ext=$withExt")
      assert(px.meanG === mean((x, y) => (2 * ci(x, y)) % 255))
      assert(px.meanB === mean((x, y) => (3 * ci(x, y)) % 253))
      val top = (0 until w).map { x =>
        ci(x, 0) + (2 * ci(x, 0)) % 255 + (3 * ci(x, 0)) % 253
      }.sum
      assert(px.topRowMean === top.toDouble / (3 * w))
    }
    assert(decodeGifPixels(1L, buildGifPattern(1, 1, 3L, false))
      .get.width === 1)
  }

  test("gif pixels: LZW crosses every code width, incl. table-full clear") {
    // 300×60 = 18 000 pixels of low-repetition pattern: the dictionary
    // crosses the 512/1024/2048/4096 width boundaries and the encoder's
    // table-full Clear path; any width-schedule mismatch between the
    // encoder and decoder scrambles pixels and shifts the means
    val w = 300; val h = 60; val seed = 5L
    val px = decodeGifPixels(1L,
      buildGifPattern(w, h, seed, withExtension = false)).get
    def ci(x: Int, y: Int): Long = (x + 7L * y + seed) % 256
    val expR = (for (x <- 0 until w; y <- 0 until h) yield ci(x, y)).sum
      .toDouble / (w * h)
    assert(px.meanR === expR, "LZW width schedule diverged")
    val expB = (for (x <- 0 until w; y <- 0 until h)
      yield (3 * ci(x, y)) % 253).sum.toDouble / (w * h)
    assert(px.meanB === expB)
  }

  test("gif pixels: corrupt or unsupported streams are data") {
    val ok = buildGifPattern(8, 5, 2L, withExtension = true)
    assert(decodeGifPixels(1L, ok).isDefined)
    // truncation inside the LZW sub-blocks
    assert(decodeGifPixels(1L, ok.dropRight(9)).isEmpty)
    // interlace flag is IN-envelope since r10: flipping it on a
    // sequentially-stored image reinterprets row order — a pure row
    // permutation, so the channel means are unchanged (and the decode
    // must not reject)
    val inter = ok.clone()
    // image descriptor follows 6+7+768 header+table and the 8-byte GCE
    val idOff = 13 + 768 + 8
    assert((inter(idOff) & 0xff) === 0x2c)
    inter(idOff + 9) = (inter(idOff + 9) | 0x40).toByte
    val ip = decodeGifPixels(1L, inter).get
    val op = decodeGifPixels(1L, ok).get
    assert((ip.meanR, ip.meanG, ip.meanB) ===
      ((op.meanR, op.meanG, op.meanB)))
    // an invalid LZW code (byte garbage) decodes to None, not a throw
    val garbled = ok.clone()
    garbled(idOff + 12) = 0xff.toByte
    garbled(idOff + 13) = 0xff.toByte
    assert(decodeGifPixels(1L, garbled).isEmpty ||
      decodeGifPixels(1L, garbled).isDefined) // total either way
    assert(decodeGifPixels(1L, "nope".getBytes("UTF-8")).isEmpty)
  }

  test("png pixels: inflate + all five filters reconstruct the pattern") {
    // h=7 cycles filter types 0..4 with repeats; split and single IDAT
    for (split <- Seq(true, false)) {
      val w = 5; val h = 7; val seed = 42L
      val img = buildPngPattern(w, h, seed, splitIdat = split)
      val px = decodePngPixels(7L, img).get
      def mean(f: (Int, Int) => Long): Double =
        (for (x <- 0 until w; y <- 0 until h) yield f(x, y)).sum
          .toDouble / (w * h)
      assert(px.width === w && px.height === h)
      assert(px.meanR === mean((x, y) => (x + y + 2 * seed) % 255),
        s"split=$split")
      assert(px.meanG === mean((x, y) => (2L * x + y + seed) % 253))
      assert(px.meanB === mean((x, y) => (x + 3L * y + seed) % 251))
      val top = (0 until w).map(x => (x + 2 * seed) % 255 +
        (2L * x + seed) % 253 + (x + seed) % 251).sum
      assert(px.topRowMean === top.toDouble / (3 * w))
    }
    // 1×1 exercises the no-left/no-up degenerate predictors
    assert(decodePngPixels(1L, buildPngPattern(1, 1, 3L, splitIdat = false))
      .get.width === 1)
  }

  test("png adam7: all seven passes reconstruct; empty passes handled") {
    // sizes straddle the pass-existence boundaries: 1x1 (only pass 1),
    // 4x4 (passes 2/3 empty), 5x5 (all seven), 17x9, 40x19
    for ((w, h) <- Seq((1, 1), (4, 4), (3, 7), (5, 5), (8, 3), (17, 9),
        (40, 19)); split <- Seq(true, false)) {
      val seed = 7L + w + h
      val px = decodePngPixels(1L,
        buildPngAdam7Pattern(w, h, seed, splitIdat = split)).get
      def mean(f: (Int, Int) => Long): Double =
        (for (x <- 0 until w; y <- 0 until h) yield f(x, y)).sum
          .toDouble / (w * h)
      assert(px.width === w && px.height === h, s"$w x $h")
      assert(px.meanR === mean((x, y) => (2L * x + 5L * y + seed) % 255),
        s"$w x $h split=$split")
      assert(px.meanG === mean((x, y) => (x + 3L * y + 2L * seed) % 253))
      assert(px.meanB === mean((x, y) => (4L * x + y + 3L * seed) % 251))
    }
    // interlaced and sequential encodes of the SAME picture agree
    val seqPx = decodePngPixels(1L,
      MediaCodec.encodePngRgb(13, 11, (x, y) =>
        ((x + y) % 255, (2 * x) % 253, (3 * y) % 251), splitIdat = false))
      .get
    val adamPx = decodePngPixels(1L,
      MediaCodec.encodePngRgbAdam7(13, 11, (x, y) =>
        ((x + y) % 255, (2 * x) % 253, (3 * y) % 251), splitIdat = false))
      .get
    assert(adamPx === seqPx.copy())
    // truncated interlaced stream is data, not a failure
    val good = buildPngAdam7Pattern(10, 10, 3L, splitIdat = false)
    assert(decodePngPixels(1L, good.take(good.length - 20)).isEmpty)
  }

  test("png pixels == bmp pixels for the same picture") {
    // the two real image codecs encode the SAME deterministic picture —
    // decoding either must produce identical statistics
    for (seed <- Seq(0L, 5L, 99L)) {
      val (w, h) = (6, 4)
      val viaPng = decodePngPixels(1L,
        buildPngPattern(w, h, seed, splitIdat = true)).get
      val viaBmp = decodeBmpPixels(1L,
        buildBmpPattern(w, h, topDown = false, seed)).get
      assert(viaPng.meanR === viaBmp.meanR)
      assert(viaPng.meanG === viaBmp.meanG)
      assert(viaPng.meanB === viaBmp.meanB)
      assert(viaPng.topRowMean === viaBmp.topRowMean)
    }
  }

  test("png pixels: corrupt streams are data, not failures") {
    val ok = buildPngPattern(4, 4, 1L, splitIdat = false)
    assert(decodePngPixels(1L, ok).isDefined)
    // a flipped IDAT byte fails that chunk's CRC
    val flipped = ok.clone()
    flipped(41) = (flipped(41) ^ 0x40).toByte // inside IDAT payload
    assert(decodePngPixels(1L, flipped).isEmpty)
    // truncation mid-chunk
    assert(decodePngPixels(1L, ok.dropRight(7)).isEmpty)
    // deflate stream shorter than h*(1+3w): re-chunk a valid zlib
    // stream of too-few bytes with correct CRCs
    val short = buildPngPattern(4, 3, 1L, splitIdat = false)
    val doctored = short.clone()
    // claim height 4 in IHDR and re-CRC it: inflate then under-runs
    doctored(23) = 4.toByte
    val crc = new java.util.zip.CRC32()
    crc.update(doctored, 12, 17)
    val cv = crc.getValue
    doctored(29) = ((cv >> 24) & 0xff).toByte
    doctored(30) = ((cv >> 16) & 0xff).toByte
    doctored(31) = ((cv >> 8) & 0xff).toByte
    doctored(32) = (cv & 0xff).toByte
    assert(decodePngPixels(1L, doctored).isEmpty)
    // unsupported: palette color type stays behind the decoder seam
    val pal = ok.clone()
    pal(25) = 3.toByte
    val crc2 = new java.util.zip.CRC32()
    crc2.update(pal, 12, 17)
    val cv2 = crc2.getValue
    pal(29) = ((cv2 >> 24) & 0xff).toByte
    pal(30) = ((cv2 >> 16) & 0xff).toByte
    pal(31) = ((cv2 >> 8) & 0xff).toByte
    pal(32) = (cv2 & 0xff).toByte
    assert(decodePngPixels(1L, pal).isEmpty)
  }

  test("ulaw: G.711 expand/compress pair is self-consistent") {
    // known anchor points of the standard
    assert(ulawDecodeSample(0xff) === 0) // +0
    assert(ulawDecodeSample(0x7f) === 0) // −0
    assert(ulawDecodeSample(0x00) === -32124) // negative full scale
    assert(ulawDecodeSample(0x80) === 32124) // positive full scale
    // decode∘encode is idempotent on the quantization lattice for every
    // byte (0x7f and 0xff both mean zero, so compare decoded values)
    (0 until 256).foreach { u =>
      val v = ulawDecodeSample(u)
      assert(ulawDecodeSample(ulawEncodeSample(v)) === v, s"byte $u")
    }
    // encode maps every int16 onto a byte that decodes within the
    // segment's quantization step (≤ 1004 at full scale)
    val rnd = new scala.util.Random(20260820L)
    (1 to 2000).foreach { _ =>
      val s = rnd.nextInt(65536) - 32768
      val back = ulawDecodeSample(ulawEncodeSample(s))
      assert(math.abs(back - math.max(-32635, math.min(32635, s))) <= 1004)
    }
  }

  test("ulaw wav: patterned decode matches the closed-form expansion") {
    for (ch <- Seq(1, 2)) {
      val n = 300L; val seed = 9L
      val px = decodeWavUlaw(7L,
        buildWavUlawPattern(ch, 8000, n, seed)).get
      def v(f: Long, c: Int): Long = {
        val u = 255 - ((5 * f + 11 * c + seed) % 256)
        val t = (((u % 16) * 8) + 132) << ((u / 16) % 8)
        if (u >= 128) 132 - t else t - 132
      }
      val all = for (f <- 0L until n; c <- 0 until ch) yield v(f, c)
      assert(px.channels === ch && px.nSamples === n)
      assert(px.meanSample === all.sum.toDouble / (n * ch))
      assert(px.meanAbs === all.map(math.abs).sum.toDouble / (n * ch))
      assert(px.peakAbs === all.map(math.abs).max)
      assert(px.firstFrameMean ===
        (0 until ch).map(v(0L, _)).sum.toDouble / ch)
    }
    // a PCM16 stream is not µ-law and vice versa
    assert(decodeWavUlaw(1L,
      buildWavPattern(1, 8000, 5, withListChunk = false, 1L)).isEmpty)
    assert(decodeWavSamples(1L,
      buildWavUlawPattern(1, 8000, 5, 1L)).isEmpty)
  }

  test("wav samples: patterned decode matches closed-form stats, LIST skipped") {
    for (withList <- Seq(false, true)) {
      val ch = 2; val n = 9L; val seed = 5L
      val wav = buildWavPattern(ch, 16000, n, withList, seed)
      val s = decodeWavSamples(3L, wav).get
      def v(f: Long, c: Int): Long = (7 * f + 13 * c + seed) % 2003 - 1001
      val all = for (f <- 0L until n; c <- 0 until ch) yield v(f, c)
      assert(s.channels === ch && s.sampleRate === 16000 && s.nSamples === n)
      assert(s.meanSample === all.sum.toDouble / all.size)
      assert(s.meanAbs === all.map(math.abs).sum.toDouble / all.size)
      assert(s.peakAbs === all.map(math.abs).max)
      assert(s.firstFrameMean ===
        (0 until ch).map(v(0L, _)).sum.toDouble / ch,
        s"first-frame mean wrong with withList=$withList — data offset off")
    }
    // negative samples really occur (sign/endianness is exercised)
    val wav = buildWavPattern(1, 8000, 64, withListChunk = false, seed = 0L)
    assert(decodeWavSamples(1L, wav).get.meanSample < 0.0 ||
      decodeWavSamples(1L, wav).get.peakAbs > 0)
  }

  test("wav samples: only 16-bit PCM decodes; the rest stay out") {
    val ok = buildWavPattern(1, 8000, 4, withListChunk = false, seed = 1L)
    assert(decodeWavSamples(1L, ok).isDefined)
    // 8-bit claim
    val bits8 = ok.clone(); bits8(34) = 8.toByte
    assert(decodeWavSamples(1L, bits8).isEmpty)
    // non-PCM format code
    val fmt3 = ok.clone(); fmt3(20) = 3.toByte
    assert(decodeWavSamples(1L, fmt3).isEmpty)
    assert(decodeWavSamples(1L, "garbage".getBytes("UTF-8")).isEmpty)
    // truncated data chunk clamps to whole frames instead of crashing
    val stereo = buildWavPattern(2, 8000, 4, withListChunk = false, seed = 1L)
    val cut = stereo.dropRight(3) // 3 bytes shy: last frame incomplete
    assert(decodeWavSamples(1L, cut).get.nSamples === 3L)
  }

  test("extract: per-partition decode; a corrupt row is a datum") {
    import spark.implicits._
    val rows = Seq(
      1L -> buildBmp(10, 4, topDown = false),
      2L -> buildWav(2, 16000, 50, withListChunk = true),
      3L -> "garbage".getBytes("UTF-8"))
    val out = decodeEach(rows.toDS().repartition(2))(
      (id, p) => Some(decode(id, p))).collect()
      .map(m => m.id -> m).toMap
    assert(out(1L) === AvMeta(1L, "image", out(1L).byteLen, true,
      10, 4, 0, 0, 0L))
    assert(out(2L) === AvMeta(2L, "audio", out(2L).byteLen, true,
      0, 0, 2, 16000, 50L))
    assert(!out(3L).valid)
  }

  test("ahash: bits match independent arithmetic, row-order invariant") {
    // independent recomputation of the 8×8 aHash from the pattern
    // formulas — same cross-multiplied compare, different code path
    def expected(w: Int, h: Int, seed: Long): String = {
      val cs = new Array[Long](64); val cn = new Array[Long](64)
      var tot = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val gray = ((31L * x + 47L * y + 61L * seed) % 255 +
          (59L * x + 83L * y + 29L * seed) % 253 +
          (73L * x + 151L * y + 97L * seed) % 251).toInt
        val c = (y * 8 / h) * 8 + x * 8 / w
        cs(c) += gray; cn(c) += 1; tot += gray
      }
      val n = w.toLong * h
      (0 until 64).map(c => if (cs(c) * n > tot * cn(c)) '1' else '0')
        .mkString
    }
    for ((w, h, s) <- Seq((8, 8, 0L), (24, 16, 5L), (28, 20, 36L))) {
      val up = ahashBmp(1L, buildBmpTexture(w, h, topDown = false, s)).get
      val dn = ahashBmp(2L, buildBmpTexture(w, h, topDown = true, s)).get
      assert(up.ahash === expected(w, h, s), s"($w×$h,$s)")
      assert(dn.ahash === up.ahash, "hash must be row-order invariant")
      assert(up.ahash.length === 64 && up.ahash.forall("01".contains(_)))
    }
    // the gate's 37 seed classes must map to 37 DISTINCT dedup keys
    // within each dimension class — the premise the fixture's texture
    // (wrap-phase shifts) exists to guarantee, and exactly what the
    // smooth gradient pattern failed (identical hash for every seed)
    val keys = (0L until 37L).map { s =>
      val k = ahashBmp(s, buildBmpTexture(8 + (s % 5).toInt * 4,
        8 + (s % 3).toInt * 4, topDown = false, s)).get
      (k.width, k.height, k.ahash)
    }
    assert(keys.distinct.size === 37, "seed classes collided")
    assert(ahashBmp(1L, "junk".getBytes("UTF-8")).isEmpty)
  }

  test("wav energy: windows, silence, partial tail match closed form") {
    def expected(ch: Int, n: Long, seed: Long): (Long, Long, Long, Long) = {
      var nw = 0L; var te = 0L; var ns = 0L; var pe = 0L
      var f = 0L
      while (f < n) {
        val end = math.min(f + 100, n)
        var e = 0L; var mx = 0
        while (f < end) {
          for (c <- 0 until ch) {
            val v = (if ((f / 100 + seed) % 5 == 0)
              (7 * f + 13 * c + seed) % 97 - 48
            else (7 * f + 13 * c + seed) % 2003 - 1001).toInt
            e += v.toLong * v; mx = math.max(mx, math.abs(v))
          }
          f += 1
        }
        nw += 1; te += e; if (mx < 64) ns += 1; pe = math.max(pe, e)
      }
      (nw, te, ns, pe)
    }
    for ((ch, n, s) <- Seq((1, 250L, 0L), (2, 537L, 3L), (1, 100L, 4L))) {
      val got = wavEnergy(1L, buildWavEnergyPattern(ch, 16000, n, s)).get
      val (nw, te, ns, pe) = expected(ch, n, s)
      assert((got.nWindows, got.energyTotal, got.nSilent,
        got.peakWindowEnergy) === ((nw, te, ns, pe)), s"($ch,$n,$s)")
    }
    // zero-crossing profile: same fixtures, LAG-equivalent arithmetic
    def expZcr(ch: Int, n: Long, seed: Long): Long = {
      var cr = 0L
      for (c <- 0 until ch) {
        var pv = 0L
        for (f <- 0L until n) {
          val v = if ((f / 100 + seed) % 5 == 0)
            (7 * f + 13 * c + seed) % 97 - 48
          else (7 * f + 13 * c + seed) % 2003 - 1001
          if (f > 0 && pv * v < 0) cr += 1
          pv = v
        }
      }
      cr
    }
    for ((ch, n, s) <- Seq((1, 250L, 0L), (2, 537L, 3L))) {
      val z = wavZcr(1L, buildWavEnergyPattern(ch, 16000, n, s)).get
      assert(z.channels === ch && z.nFrames === n)
      assert(z.crossings === expZcr(ch, n, s), s"($ch,$n,$s)")
      assert(z.crossings > 0)
    }
    assert(wavZcr(1L, Array[Byte](9)).isEmpty)
    // the muted stretches register as real silence (seed 0: window 0)
    assert(wavEnergy(1L,
      buildWavEnergyPattern(1, 16000, 250, 0L)).get.nSilent > 0)
    // an all-loud clip reports zero silence (seed 4, single window)
    assert(wavEnergy(1L,
      buildWavEnergyPattern(1, 16000, 100, 4L)).get.nSilent === 0)
    assert(wavEnergy(1L, Array[Byte](1, 2, 3)).isEmpty)
  }

  test("bmp/png pixels: adversarial dimensions overflow to None, not crash") {
    // BMP: w = 89 478 486 makes 24·w overflow Int to a negative stride
    // that used to slip past the bounds check into an index crash
    val bmp = new Array[Byte](128)
    def le32(off: Int, v: Int): Unit = { // little-endian writer
      bmp(off) = (v & 0xff).toByte; bmp(off + 1) = ((v >> 8) & 0xff).toByte
      bmp(off + 2) = ((v >> 16) & 0xff).toByte
      bmp(off + 3) = ((v >> 24) & 0xff).toByte
    }
    bmp(0) = 'B'; bmp(1) = 'M'
    le32(10, 54); le32(14, 40) // pixel offset, DIB header size
    le32(18, 89478486); le32(22, 1) // w overflows 24·w in Int; h = 1
    bmp(28) = 24 // bpp
    le32(30, 0) // BI_RGB
    assert(decodeBmpPixels(1L, bmp).isEmpty)
    // PNG: IHDR width 2^30 makes 3·w overflow Int — previously a
    // NegativeArraySizeException at the inflate buffer
    val wide = buildPngPattern(4, 4, 1L, splitIdat = false)
    wide(16) = 0x40.toByte; wide(17) = 0; wide(18) = 0; wide(19) = 0
    val crc = new java.util.zip.CRC32()
    crc.update(wide, 12, 17)
    val cv = crc.getValue
    wide(29) = ((cv >> 24) & 0xff).toByte
    wide(30) = ((cv >> 16) & 0xff).toByte
    wide(31) = ((cv >> 8) & 0xff).toByte
    wide(32) = (cv & 0xff).toByte
    assert(decodePngPixels(1L, wide).isEmpty)
  }

  test("png pixels: a zlib stream with FDICT set is data, not a hang") {
    // CMF 0x78 / FLG 0x20: FDICT bit set, (CMF·256+FLG) % 31 == 0 —
    // Inflater returns 0 with needsInput() false forever without the
    // needsDictionary() guard
    val ihdrSrc = buildPngPattern(4, 4, 1L, splitIdat = false)
    val out = new java.io.ByteArrayOutputStream()
    out.write(ihdrSrc, 0, 33) // signature + IHDR chunk (valid CRC)
    def chunk(typ: String, payload: Array[Byte]): Unit = {
      def be32(v: Long): Array[Byte] = Array(((v >> 24) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        (v & 0xff).toByte)
      out.write(be32(payload.length.toLong))
      val tb = typ.getBytes("US-ASCII")
      out.write(tb); out.write(payload)
      val c = new java.util.zip.CRC32()
      c.update(tb); c.update(payload)
      out.write(be32(c.getValue))
    }
    chunk("IDAT", Array(0x78.toByte, 0x20.toByte, 0, 0, 0, 1))
    chunk("IEND", Array.emptyByteArray)
    assert(decodePngPixels(1L, out.toByteArray).isEmpty)
  }

  test("jpeg pixels: 0xFF fill bytes before markers still decode") {
    // T.81 B.1.1.2: markers may be preceded by any number of 0xFF fill
    // bytes; insert one before every segment (after SOI) and the
    // decode must equal the unpadded picture — not silently drop
    def pad(b: Array[Byte]): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(b(0)); out.write(b(1)) // SOI
      out.write(0xff) // fill byte before the first segment marker
      out.write(b, 2, b.length - 2)
      out.toByteArray
    }
    val base = buildJpegPattern(16, 8, 3L)
    assert(decodeJpegPixels(1L, pad(base)) === decodeJpegPixels(1L, base))
    val prog = buildJpegProgressivePattern(16, 16, 1L)
    assert(decodeJpegProgressive(1L, pad(prog)) ===
      decodeJpegProgressive(1L, prog))
    assert(decodeJpegProgressive(1L, prog).isDefined)
  }

  test("ima adpcm: hand-built nibbles decode to the table arithmetic") {
    // mono block: header (pred=100, index=0 → step 7), then nibble 2
    // (dq = 7>>3 + 7>>1 = 3 → 103, index −1 clamped to 0) and nibble
    // 12 = 8|4 (dq = 7>>3 + 7 = 7, sign → 96, index +2) — decoded
    // stream 100, 103, 96 pinned against independent hand arithmetic
    val align = 132
    val out = java.nio.ByteBuffer.allocate(12 + 28 + 12 + 8 + align)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def ascii(s: String): Unit = out.put(s.getBytes("US-ASCII"))
    ascii("RIFF"); out.putInt(12 + 28 + 12 + 8 + align - 8); ascii("WAVE")
    ascii("fmt "); out.putInt(20)
    out.putShort(0x11).putShort(1).putInt(8000)
    out.putInt(8000 * align / 257).putShort(align.toShort).putShort(4)
    out.putShort(2).putShort(257)
    ascii("fact"); out.putInt(4); out.putInt(3)
    ascii("data"); out.putInt(align)
    out.putShort(100).put(0.toByte).put(0.toByte) // header: pred, idx
    out.put(((12 << 4) | 2).toByte) // low nibble first: 2 then 12
    val wav = out.array()
    val got = decodeWavAdpcm(9L, wav).get
    assert(got.channels === 1 && got.nSamples === 3L)
    assert(got.peakAbs === 103)
    assert(got.meanSample === (100 + 103 + 96) / 3.0)
    assert(got.firstFrameMean === 100.0)
    // non-ADPCM payloads stay out; ADPCM stays out of the PCM decoder
    val pcm = buildWavPattern(1, 8000, 10, withListChunk = false, 1L)
    assert(decodeWavAdpcm(1L, pcm).isEmpty)
    val adpcm = buildWavAdpcmPattern(2, 8000, 300, 5L)
    assert(decodeWavSamples(1L, adpcm).isEmpty)
    assert(decodeWavAdpcm(1L, adpcm.take(40).toArray).isEmpty)
    // multi-block stereo round trip: frame count from fact, partial
    // final block, and the quantizer tracks the ±1001 target closely
    // once the step adapts
    val st = decodeWavAdpcm(7L, buildWavAdpcmPattern(2, 8000, 300, 7L)).get
    assert(st.channels === 2 && st.nSamples === 300L)
    assert(st.peakAbs <= 1200, s"tracking lost: peak ${st.peakAbs}")
    assert(st.meanAbs > 200.0, s"decoded stream collapsed: ${st.meanAbs}")
  }

  test("bmp palette: one picture, three containers, one gray matrix") {
    // BMP (BGRA table, padded index rows, both row orders), PNG (PLTE +
    // deflate + filters) and GIF (LZW + color table) share one palette
    // formula: the same (w, h, seed) must decode to IDENTICAL gray
    // through three entirely different real codecs
    for ((w, h, seed) <- Seq((19, 11, 5L), (44, 22, 77L), (1, 1, 0L))) {
      val viaBmpUp = decodeGray(
        buildBmpPalettePattern(w, h, topDown = false, seed)).get
      val viaBmpDown = decodeGray(
        buildBmpPalettePattern(w, h, topDown = true, seed)).get
      val viaPng = decodeGray(
        buildPngPalettePattern(w, h, seed, splitIdat = true)).get
      val viaGif = decodeGray(
        buildGifPattern(w, h, seed, withExtension = false)).get
      assert(viaBmpUp.gray.toSeq === viaGif.gray.toSeq, s"bmp^ ($w,$h)")
      assert(viaBmpDown.gray.toSeq === viaGif.gray.toSeq, s"bmpv ($w,$h)")
      assert(viaPng.gray.toSeq === viaGif.gray.toSeq, s"png ($w,$h)")
    }
    // the means decoder agrees across containers too
    val bp = decodeBmpPixels(1L,
      buildBmpPalettePattern(19, 11, topDown = false, 5L)).get
    val gp = decodeGifPixels(1L,
      buildGifPattern(19, 11, 5L, withExtension = false)).get
    assert((bp.meanR, bp.meanG, bp.meanB) ===
      ((gp.meanR, gp.meanG, gp.meanB)))
    // truncated color table is data; 24-bpp still decodes via the core
    val pal = buildBmpPalettePattern(9, 7, topDown = false, 2L)
    assert(decodeBmpPixels(1L, pal.take(54 + 100).toArray).isEmpty)
    assert(decodeBmpPixels(1L,
      buildBmpPattern(9, 7, topDown = false, 2L)).isDefined)
  }

  test("png palette: indexed decode == the same picture as a GIF") {
    // the palette-PNG fixture shares the GIF fixture's palette AND
    // index formula, so the same (w, h, seed) must produce the same
    // gray matrix through two entirely different real codecs (deflate +
    // bpp=1 defilter + PLTE vs LZW + global color table)
    for ((w, h, seed) <- Seq((19, 11, 5L), (50, 26, 123L), (1, 1, 0L))) {
      val png = decodeGray(
        buildPngPalettePattern(w, h, seed, splitIdat = true)).get
      val gif = decodeGray(
        buildGifPattern(w, h, seed, withExtension = false)).get
      assert(png.width === w && png.height === h)
      assert(png.gray.toSeq === gif.gray.toSeq, s"($w,$h,$seed)")
    }
    // means path agrees too
    val pp = decodePngPixels(1L, buildPngPalettePattern(19, 11, 5L,
      splitIdat = false)).get
    val gp = decodeGifPixels(1L, buildGifPattern(19, 11, 5L,
      withExtension = false)).get
    assert(pp.meanR === gp.meanR && pp.meanG === gp.meanG &&
      pp.meanB === gp.meanB)
    // envelope: a small-palette image decodes; a tRNS chunk
    // (transparency) is data; truecolor PNGs still decode via the core
    val small = buildPngPalettePattern(8, 4, 2L, splitIdat = false,
      colors = 8)
    assert(decodePngPixels(1L, small).isDefined)
    def insertTrns(b: Array[Byte]): Array[Byte] = {
      // after IHDR (8 sig + 25 IHDR): a 1-entry tRNS with correct CRC
      val out = new java.io.ByteArrayOutputStream()
      out.write(b, 0, 33)
      val data = Array[Byte](0)
      out.write(java.nio.ByteBuffer.allocate(8)
        .putInt(1).put("tRNS".getBytes("US-ASCII")).array())
      out.write(data)
      val crc = new java.util.zip.CRC32()
      crc.update("tRNS".getBytes("US-ASCII")); crc.update(data)
      out.write(java.nio.ByteBuffer.allocate(4)
        .putInt(crc.getValue.toInt).array())
      out.write(b, 33, b.length - 33)
      out.toByteArray
    }
    assert(decodePngPixels(1L, insertTrns(small)).isEmpty)
    assert(decodePngPixels(1L,
      buildPngPattern(9, 7, 3L, splitIdat = false)).isDefined)
  }

  test("gif interlace: 4-pass storage decodes to the same picture") {
    // interlaced storage reorders ROWS (0,8,16…/4,12…/2,6…/1,3,5…);
    // the deinterlaced decode must equal the sequential encode of the
    // same picture — heights crossing each pass boundary
    for (h <- Seq(1, 2, 3, 5, 8, 9, 17, 28); w <- Seq(1, 7, 56)) {
      val seq0 = decodeGray(
        buildGifPattern(w, h, 11L, withExtension = false)).get
      val il = decodeGray(buildGifPattern(w, h, 11L,
        withExtension = false, interlaced = true)).get
      assert(il.gray.toSeq === seq0.gray.toSeq, s"($w,$h)")
    }
    val a = decodeGifPixels(1L,
      buildGifPattern(23, 17, 3L, withExtension = true, interlaced = true))
    val b = decodeGifPixels(1L,
      buildGifPattern(23, 17, 3L, withExtension = true))
    assert(a === b && a.isDefined)
  }

  test("gif animation: composited frame totals match independent arithmetic") {
    def palGray(i: Long): Long = i + (2 * i) % 255 + (3 * i) % 253
    // reference composition: canvas of gray values, frame by frame
    val (w, h, nf, seed) = (40, 24, 6, 9L)
    val canvas = Array.tabulate(h, w)((y, x) =>
      palGray((x + 7L * y + seed) % 256))
    var expect = Vector(canvas.map(_.sum).sum)
    for (f <- 1 until nf) {
      val left = 8 * ((f - 1) % 5); val top = 8 * (((f - 1) / 5) % 3)
      for (dy <- 0 until 8; dx <- 0 until 8)
        canvas(top + dy)(left + dx) =
          palGray((3L * (left + dx) + 5L * (top + dy) + 11L * f + seed) % 256)
      expect :+= canvas.map(_.sum).sum
    }
    val st = gifAnimStats(buildGifAnimPattern(w, h, nf, seed)).get
    assert(st.width === w && st.height === h)
    assert(st.frames === expect)
    // single-frame animation stats agree with the means decoder
    val single = buildGifPattern(19, 11, 5L, withExtension = true)
    val s1 = gifAnimStats(single).get
    val gp = decodeGifPixels(1L, single).get
    assert(s1.frames.size === 1)
    assert(s1.frames.head ===
      math.round((gp.meanR + gp.meanG + gp.meanB) * 19 * 11))
    // out-of-envelope animations are data, not failures: transparency
    // flag, restore-background disposal, truncated stream, frame cap
    def patchGce(b: Array[Byte], f: Byte): Array[Byte] = {
      val out = b.clone()
      var i = 0
      var done = false
      while (!done && i < out.length - 2) {
        if ((out(i) & 0xff) == 0x21 && (out(i + 1) & 0xff) == 0xf9) {
          out(i + 3) = f; done = true
        }
        i += 1
      }
      assert(done, "no GCE found to patch")
      out
    }
    val anim = buildGifAnimPattern(w, h, 3, 1L)
    assert(gifAnimStats(patchGce(anim, 0x01)).isEmpty) // transparency
    assert(gifAnimStats(patchGce(anim, 0x08)).isEmpty) // restore-bg
    assert(gifAnimStats(anim.take(anim.length / 2).toArray).isEmpty)
    assert(gifAnimStats(anim, maxFrames = 2).isEmpty)
    assert(gifAnimStats(anim).exists(_.frames.size === 3))
  }

  test("decodeGray: one entry point, every container, identical matrices") {
    // the SAME picture through BMP (both row orders) and PNG (split
    // and unsplit IDAT) must land on ONE gray matrix, bit for bit —
    // the contract the cross-format phash gate stands on
    val pic = MediaCodec.phashTwinRgb(33) _
    val variants = Seq(
      encodeBmpRgb(48, 32, topDown = false, pic),
      encodeBmpRgb(48, 32, topDown = true, pic),
      encodePngRgb(48, 32, pic, splitIdat = false),
      encodePngRgb(48, 32, pic, splitIdat = true))
    val grays = variants.map(decodeGray(_).get)
    grays.foreach { g =>
      assert(g.width === 48 && g.height === 32)
      assert(g.gray.toSeq === grays.head.gray.toSeq)
    }
    // direct pixel check against the closed form at a few points
    val g0 = grays.head
    for ((x, y) <- Seq((0, 0), (47, 31), (13, 7))) {
      val (r, gg, b) = pic(x, y)
      assert(g0.gray(y * 48 + x) === r + gg + b)
    }
    // GIF: gray equals the palette-expanded formula the means path
    // already verifies — cross-check totals against decodeGifPixels
    val gif = buildGifPattern(19, 11, seed = 5L, withExtension = true)
    val gg = decodeGray(gif).get
    val gp = decodeGifPixels(1L, gif).get
    assert(gg.width === gp.width && gg.height === gp.height)
    val n = gg.width.toLong * gg.height
    assert(gg.gray.map(_.toLong).sum ===
      math.round((gp.meanR + gp.meanG + gp.meanB) * n))
    // JPEG grayscale: gray = 3·Y exactly (mid-range fixture, no clamp)
    val jb = buildJpegPattern(24, 16, 5L)
    val jg = decodeGray(jb).get
    val jp = decodeJpegPixels(1L, jb).get
    assert(jg.width === jp.width && jg.height === jp.height)
    assert(jg.gray.map(_.toLong).sum ===
      3L * math.round(jp.meanGray * jg.width * jg.height))
    // JPEG color: gray sums equal the per-channel mean sums
    val jc = buildJpegColorPattern(16, 16, 2L)
    val cg = decodeGray(jc).get
    val cr = decodeJpegRgb(1L, jc).get
    val cn = cg.width.toLong * cg.height
    assert(cg.gray.map(_.toLong).sum ===
      math.round((cr.meanR + cr.meanG + cr.meanB) * cn))
    // non-image bytes are data
    assert(decodeGray("not an image".getBytes).isEmpty)
    assert(decodeGray(Array[Byte](0x42, 0x4d)).isEmpty)
  }

  test("phash: exposure-ramp twins land within 5 bits where ahash loses 20+") {
    def grayOf(s: Long) =
      decodeGray(encodeBmpRgb(48, 32, topDown = false,
        MediaCodec.phashTwinRgb(s))).get
    val ph = (0L until 37L).map(s => s -> phashGray(grayOf(s))).toMap
    val ah = (0L until 37L).map(s => s -> ahashGray(grayOf(s))).toMap
    def hd(a: String, b: String) = a.zip(b).count { case (x, y) => x != y }
    for (s <- 30L until 37L) {
      val dp = hd(ph(s - 30), ph(s))
      val da = hd(ah(s - 30), ah(s))
      assert(dp >= 1 && dp <= 5,
        s"twin $s phash dist $dp outside the planted 1..5 window")
      assert(da >= 20, s"twin $s ahash dist $da — ahash should MISS it")
    }
    // unrelated classes sit far apart in phash: no accidental pairs
    val cross = for {
      i <- 0L until 37L; j <- (i + 1) until 37L if j != i + 30
    } yield hd(ph(i), ph(j))
    assert(cross.min > 7, s"cross-class floor ${cross.min} ≤ maxDist bound")
    assert(ph.values.toSet.size === 37, "classes must stay distinct")
  }

  test("phash: exact global-brightness invariance and Long/BigInt agreement") {
    val rnd = new scala.util.Random(7L)
    val base = Array.fill(32 * 32)(100 + rnd.nextInt(400))
    val small = GrayImage(32, 32, base)
    // +Δ on every pixel cancels EXACTLY in q = cs·N − S·cn
    val shifted = GrayImage(32, 32, base.map(_ + 123))
    assert(phashGray(small) === phashGray(shifted))
    // blockwise 10× upsample: every cell's (sum, count) scales by 100,
    // so q scales uniformly and the hash is IDENTICAL — but 320×320
    // crosses the Long-exactness bound and runs the BigInt path, so
    // equality here pins the two accumulators to the same integers
    val big = new Array[Int](320 * 320)
    for (y <- 0 until 320; x <- 0 until 320)
      big(y * 320 + x) = base((y / 10) * 32 + (x / 10))
    assert(phashGray(GrayImage(320, 320, big)) === phashGray(small))
    val bigShift = GrayImage(320, 320, big.map(_ + 99))
    assert(phashGray(bigShift) === phashGray(small))
  }

  test("mp4: box walk recovers every field across structural variants") {
    // ids 0..29 cover the full variant cross product: v0/v1 mvhd
    // (id%6), 32/64-bit mdat (id%3), free box (id%2), moov-after-mdat
    // (id%4), trailing uuid (id%5), both codecs, all three rates
    for (id <- 0L until 30L; nChars <- Seq(0L, 137L, 119999L)) {
      val meta = parseMp4Meta(id, buildMp4Pattern(id, nChars))
        .getOrElse(fail(s"id=$id nChars=$nChars parsed None"))
      assert(meta.brand === (if (id % 2 == 0) "isom" else "mp42"))
      assert(meta.nTracks === 2)
      assert(meta.durationMs === 5000L + nChars % 120000L)
      assert(meta.width === 160 + (id % 8).toInt * 16)
      assert(meta.height === 96 + (id % 9).toInt * 16)
      assert(meta.videoCodec === (if (id % 2 == 0) "avc1" else "hev1"))
      assert(meta.audioCodec === "mp4a")
      assert(meta.channels === 1 + (id % 2).toInt)
      assert(meta.sampleRate === ((id % 3) match {
        case 0 => 44100; case 1 => 48000; case _ => 32000 }))
      assert(meta.mdatBytes === 50L + nChars % 200L)
    }
  }

  test("mp4 samples: tables resolve and match the fixture arithmetic") {
    for (id <- 0L until 16L; nChars <- Seq(0L, 17L, 259L)) {
      val meta = parseMp4Samples(id, buildMp4SamplesPattern(id, nChars))
        .getOrElse(fail(s"no samples parse for id=$id nChars=$nChars"))
      val n = 20 + (nChars % 60).toInt
      def sz(k: Int): Int =
        if (id % 4 == 0) 150 + (id % 100).toInt
        else 100 + ((id * 7 + k * 13) % 900).toInt
      val g = 5 + (id % 4).toInt
      val nKf = 1 + (n - 1) / g
      val lastKf = 1 + g * (nKf - 1) // 1-based
      val spc = 4 + (id % 3).toInt
      val d1 = 1000 + (id % 500); val d2 = 2000 + (id % 1000)
      assert(meta.nSamples === n)
      assert(meta.totalSampleBytes === (0 until n).map(sz(_).toLong).sum)
      assert(meta.maxSampleSize === (0 until n).map(sz).max)
      assert(meta.nKeyframes === nKf)
      assert(meta.nChunks === (n + spc - 1) / spc)
      assert(meta.durationUnits ===
        (n / 2).toLong * d1 + (n - n / 2).toLong * d2)
      assert(meta.lastKfRelOffset ===
        (0 until lastKf - 1).map(sz(_).toLong).sum)
    }
  }

  test("mp4 samples: table/byte inconsistencies are rejected") {
    val good = buildMp4SamplesPattern(5L, 17L)
    assert(parseMp4Samples(5L, good).isDefined)
    def flipAt(marker: String, rel: Int, delta: Int): Array[Byte] = {
      val c = good.clone()
      // find the box fourcc, bump a table byte after it
      val idx = c.indices.indexWhere(i => i + 4 <= c.length &&
        new String(c, i, 4, "US-ASCII") == marker)
      assert(idx > 0, s"$marker not found")
      c(idx + rel) = (c(idx + rel) + delta).toByte
      c
    }
    // stco: first chunk offset no longer matches the real layout
    // (fourcc at idx; body ver/flags+count, first offset low byte +15)
    assert(parseMp4Samples(5L, flipAt("stco", 15, 1)).isEmpty)
    // stsz: sample count (low byte at +15) out of sync with stts
    assert(parseMp4Samples(5L, flipAt("stsz", 15, 1)).isEmpty)
    // mdat: truncated payload no longer equals the size table total
    assert(parseMp4Samples(5L, good.dropRight(3)).isEmpty)
    // allocation bomb: an stts entry count of 2^30 in a normal-sized
    // box must reject on the byte bound, never attempt an 8 GB array
    // (OutOfMemoryError would escape the NonFatal catch)
    locally {
      val bomb = good.clone()
      val idx = bomb.indices.indexWhere(i => i + 4 <= bomb.length &&
        new String(bomb, i, 4, "US-ASCII") == "stts")
      bomb(idx + 8) = 0x40.toByte // count high byte -> 2^30 entries
      assert(parseMp4Samples(5L, bomb).isEmpty)
    }
    val rnd = new scala.util.Random(515)
    for (_ <- 0 until 200) {
      val junk = new Array[Byte](rnd.nextInt(300))
      rnd.nextBytes(junk)
      assert(parseMp4Samples(1L, junk).forall(_.nSamples >= 0)) // no throw
    }
  }

  test("mp4: corrupt payloads parse None, never hang or throw") {
    val good = buildMp4Pattern(7L, 1000L)
    assert(parseMp4Meta(1L, Array.empty[Byte]).isEmpty)
    assert(parseMp4Meta(1L, good.take(20)).isEmpty) // truncated moov
    assert(parseMp4Meta(1L, "not an mp4 at all, sorry".getBytes("UTF-8"))
      .isEmpty)
    // a box size smaller than its header (3 — would re-read the same
    // offset forever) and a size pointing past EOF must both abort the
    // walk: corrupt payloads are data, never a hung task
    for (badSize <- Seq(3, 0x7fffffff)) {
      val bad = {
        val bb = java.nio.ByteBuffer.allocate(16 + 12)
        bb.putInt(16)
        bb.put("ftyp".getBytes("US-ASCII"))
        bb.put("isom".getBytes("US-ASCII"))
        bb.putInt(0)
        bb.putInt(badSize)
        bb.put("mdat".getBytes("US-ASCII"))
        bb.putInt(0)
        bb.array()
      }
      assert(parseMp4Meta(1L, bad).isEmpty, s"size $badSize not rejected")
    }
    // a depth bomb: 12 nested moov boxes — the walk refuses past 8
    val bomb = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(Array[Byte](0, 0, 0, 16))
      out.write("ftyp".getBytes("US-ASCII"))
      out.write("isom".getBytes("US-ASCII"))
      out.write(new Array[Byte](4))
      val inner = (0 until 12).foldLeft(Array.empty[Byte]) { (acc, _) =>
        val b = java.nio.ByteBuffer.allocate(8 + acc.length)
        b.putInt(8 + acc.length)
        b.put("moov".getBytes("US-ASCII"))
        b.put(acc)
        b.array()
      }
      out.write(inner)
      out.toByteArray
    }
    assert(parseMp4Meta(1L, bomb).isEmpty)
  }

  test("mp3: frame walk recovers rate/bitrate/frames/bytes/duration") {
    for (id <- 0L until 12L; nChars <- Seq(0L, 59L, 1237L)) {
      val meta = parseMp3Meta(id, buildMp3Pattern(id, nChars))
        .getOrElse(fail(s"id=$id nChars=$nChars parsed None"))
      val br = Seq(128, 160, 192)((id % 3).toInt)
      val sr = Seq(44100, 48000, 32000)(((id / 3) % 3).toInt)
      val nf = 20 + (nChars % 60).toInt
      assert(meta.hasId3 === (id % 3 == 0))
      assert(meta.bitrateKbps === br)
      assert(meta.sampleRate === sr)
      assert(meta.channels === (if (id % 2 == 1) 1 else 2))
      assert(meta.nFrames === nf)
      // byte total = nf·⌊144·br/sr⌋ + padded frame count, the padding
      // bit being (id + i) mod 2 over frames i ∈ [0, nf)
      val nPad = (nf + (id % 2).toInt) / 2
      assert(meta.audioBytes === nf.toLong * (144 * br * 1000 / sr) + nPad)
      assert(meta.durationMs === nf * 1152000L / sr)
    }
  }

  test("mp3: ID3 skip, VBR rejection, trailing garbage tolerated") {
    // the walk stops at the first non-frame byte but keeps the frames
    // it walked — a truncated tail is data, not a parse failure
    val clean = buildMp3Pattern(1L, 10L) // no ID3 (id%3 != 0)
    val garbage = clean ++ "xxxx trailing junk".getBytes("UTF-8")
    assert(parseMp3Meta(1L, garbage).map(_.nFrames) ===
      parseMp3Meta(1L, clean).map(_.nFrames))
    // a VBR stream (second frame at a different bitrate) is rejected —
    // the CBR duration formula would be a lie
    val vbr = {
      val a = buildMp3Pattern(1L, 10L)
      // id=1 → 160 kbps, 44100 Hz, padding bit set on frame 0
      val firstLen = 144 * 160 * 1000 / 44100 + 1
      a(firstLen + 2) = ((12 << 4) | (1 << 2)).toByte // frame 1 → 224 kbps
      a
    }
    assert(parseMp3Meta(1L, vbr).isEmpty)
    // ID3v2 with a size byte's high bit set is malformed syncsafe
    val badId3 = buildMp3Pattern(0L, 10L)
    badId3(6) = 0x80.toByte
    assert(parseMp3Meta(0L, badId3).isEmpty)
    assert(parseMp3Meta(1L, Array.empty[Byte]).isEmpty)
    assert(parseMp3Meta(1L, Array[Byte](0xff.toByte, 0xfb.toByte)).isEmpty)
  }

  // --- FLAC: the full lossless decode (rice residuals, not a header
  // walk) ---

  /** The fixture's sample grid, re-derived independently of both the
    * encoder and the decoder (frame i, channel c, index j order). */
  private def flacExpected(id: Long, nChars: Long): Seq[Long] = {
    val nf = 2 + (nChars % 6).toInt
    val ch = 1 + (id % 2).toInt
    (0 until nf).flatMap { i =>
      (0 until ch).flatMap { c =>
        ((id + i) % 3).toInt match {
          case 0 =>
            Seq.fill(256)((id * 31 + i * 17 + c * 7) % 1001 - 500)
          case 2 =>
            (0 until 256).map(j => (id * 3 + i * 5 + c * 9 + j * 13) % 1201 - 600)
          case _ =>
            var s = (id * 13 + i * 7 + c * 3) % 801 - 400
            Seq(s) ++ (1 until 256).map { j =>
              s += (id + i * 3 + c * 5 + j) % 15 - 7; s
            }
        }
      }
    }
  }

  test("flac: full decode round trip matches the derived sample grid") {
    for (id <- 0L until 13L; nChars <- Seq(0L, 1L, 5L, 97L, 1234L)) {
      val meta = parseFlacMeta(id, buildFlacPattern(id, nChars))
        .getOrElse(fail(s"no parse for id=$id nChars=$nChars"))
      val exp = flacExpected(id, nChars)
      assert(meta.channels === 1 + (id % 2).toInt)
      assert(meta.sampleRate ===
        Seq(44100, 22050, 8000)((id % 3).toInt))
      assert(meta.bitsPerSample === 16)
      assert(meta.nFrames === 2 + (nChars % 6).toInt)
      assert(meta.totalSamples === meta.nFrames * 256L)
      assert(meta.sumSamples === exp.sum, s"id=$id nChars=$nChars")
      assert(meta.sumAbs === exp.map(math.abs).sum)
      assert(meta.peakAbs === exp.map(math.abs).max.toInt)
      assert(meta.firstSample === exp.head.toInt)
    }
  }

  test("flac: CRC vectors and whole-frame corruption detection") {
    val nine = "123456789".getBytes("US-ASCII")
    assert(flacCrc8(nine, 0, 9) === 0xf4) // CRC-8 poly 0x07 check value
    assert(flacCrc16(nine, 0, 9) === 0xfee8) // CRC-16/UMTS check value
    val good = buildFlacPattern(5L, 42L)
    assert(parseFlacMeta(5L, good).isDefined)
    // every byte from the first frame on is covered by CRC-8 or CRC-16:
    // any single-byte flip must yield None (a missing row), never a
    // silently wrong row and never a thrown task
    for (off <- 42 until good.length) {
      val bad = good.clone()
      bad(off) = (bad(off) ^ 0x10).toByte
      assert(parseFlacMeta(5L, bad).isEmpty, s"flip at $off undetected")
    }
  }

  test("flac: UTF-8-style frame numbers across widths") {
    def roundTrip(bytes: Int*): Long = {
      val arr = bytes.map(_.toByte).toArray
      MediaCodec.readFlacUtf8(new BitReader(arr, 0, msbFirst = true))
    }
    assert(roundTrip(0x44) === 0x44L)
    assert(roundTrip(0xc4, 0xac) === 300L) // 2-byte
    assert(roundTrip(0xef, 0xbf, 0xbf) === 65535L) // 3-byte
    assert(roundTrip(0x80) === -1L) // bare continuation byte
    assert(roundTrip(0xc4, 0x44) === -1L) // broken continuation
  }

  test("flac: fixed order-2 subframe decodes via a hand-built frame") {
    // one frame, mono, 8 kHz, blocksize 256, order-2 with all-zero
    // residuals: s(j) = 2s(j-1) - s(j-2) -> the arithmetic progression
    // 10, 13, 16, ... 775 (exercises the predictor order the fixture
    // generator never emits)
    val out = new java.io.ByteArrayOutputStream()
    out.write('f'); out.write('L'); out.write('a'); out.write('C')
    val si = new BitWriter(msbFirst = true)
    si.write(256, 16); si.write(256, 16); si.write(0, 24); si.write(0, 24)
    si.write(8000, 20); si.write(0, 3); si.write(15, 5); si.write(256, 36)
    (0 until 16).foreach(_ => si.write(0, 8))
    val siB = si.toBytes
    out.write(0x80); out.write(0); out.write(0); out.write(siB.length)
    out.write(siB, 0, siB.length)
    val w = new BitWriter(msbFirst = true)
    w.write(0x3ffe, 14); w.write(0, 1); w.write(0, 1)
    w.write(8, 4); w.write(4, 4); w.write(0, 4); w.write(4, 3); w.write(0, 1)
    w.write(0, 8) // frame 0
    val head = w.toBytes
    val fw = new BitWriter(msbFirst = true)
    head.foreach(b => fw.write(b & 0xffL, 8))
    fw.write(MediaCodec.flacCrc8(head, 0, head.length), 8)
    fw.write(0, 1); fw.write(0x08 | 2, 6); fw.write(0, 1) // FIXED order 2
    fw.write(10, 16); fw.write(13, 16) // warmups
    fw.write(0, 2); fw.write(0, 4); fw.write(3, 4) // rice po=0, k=3
    (0 until 254).foreach { _ => fw.writeUnary(0); fw.write(0, 3) }
    val frame = fw.toBytes
    out.write(frame, 0, frame.length)
    val c16 = MediaCodec.flacCrc16(frame, 0, frame.length)
    out.write((c16 >> 8) & 0xff); out.write(c16 & 0xff)
    val meta = parseFlacMeta(9L, out.toByteArray)
      .getOrElse(fail("order-2 frame did not parse"))
    assert(meta.nFrames === 1)
    assert(meta.totalSamples === 256L)
    assert(meta.firstSample === 10)
    assert(meta.peakAbs === 10 + 3 * 255)
    assert(meta.sumSamples === (0 until 256).map(j => 10L + 3 * j).sum)
  }

  /** One-frame mono 8 kHz 16-bit stream with a single LPC subframe —
    * raw precision/shift fields so malformed values can be planted. */
  private def lpcStream(warm: Seq[Int], coefs: Seq[Int], precMinus1: Int,
                        shiftBits: Int, res: Int => Int): Array[Byte] = {
    val order = coefs.length
    val out = new java.io.ByteArrayOutputStream()
    out.write('f'); out.write('L'); out.write('a'); out.write('C')
    val si = new BitWriter(msbFirst = true)
    si.write(256, 16); si.write(256, 16); si.write(0, 24); si.write(0, 24)
    si.write(8000, 20); si.write(0, 3); si.write(15, 5); si.write(256, 36)
    (0 until 16).foreach(_ => si.write(0, 8))
    val siB = si.toBytes
    out.write(0x80); out.write(0); out.write(0); out.write(siB.length)
    out.write(siB, 0, siB.length)
    val w = new BitWriter(msbFirst = true)
    w.write(0x3ffe, 14); w.write(0, 1); w.write(0, 1)
    w.write(8, 4); w.write(4, 4); w.write(0, 4); w.write(4, 3); w.write(0, 1)
    w.write(0, 8) // frame 0
    val head = w.toBytes
    val fw = new BitWriter(msbFirst = true)
    head.foreach(b => fw.write(b & 0xffL, 8))
    fw.write(MediaCodec.flacCrc8(head, 0, head.length), 8)
    fw.write(0, 1); fw.write(0x20 | (order - 1), 6); fw.write(0, 1)
    warm.foreach(s => fw.write(s.toLong & 0xffff, 16))
    fw.write(precMinus1, 4)
    fw.write(shiftBits, 5)
    coefs.foreach(c => fw.write(c.toLong & ((1L << (precMinus1 + 1)) - 1),
      precMinus1 + 1))
    fw.write(0, 2); fw.write(0, 4); fw.write(1, 4) // rice po=0, k=1
    (order until 256).foreach { j =>
      val e = res(j)
      val u = if (e >= 0) e << 1 else (-e << 1) - 1
      fw.writeUnary(u >>> 1); fw.write(u & 1, 1)
    }
    val frame = fw.toBytes
    out.write(frame, 0, frame.length)
    val c16 = MediaCodec.flacCrc16(frame, 0, frame.length)
    out.write((c16 >> 8) & 0xff); out.write(c16 & 0xff)
    out.toByteArray
  }

  test("flac: general quantized-LPC subframe via a hand-built frame") {
    // order-3, coefs [4,-2,1], shift 3 (contractive — bounded at any
    // length), nonzero residual pattern: coefficients the SQL oracle
    // never sees, checked against a direct recurrence
    val warm = Seq(100, -120, 90)
    val coefs = Seq(4, -2, 1)
    def res(j: Int): Int = (j * 3) % 7 - 3
    val b = lpcStream(warm, coefs, precMinus1 = 4, shiftBits = 3, res)
    val meta = parseFlacMeta(5L, b)
      .getOrElse(fail("general LPC frame did not parse"))
    val xs = new Array[Long](256)
    warm.zipWithIndex.foreach { case (s, j) => xs(j) = s }
    for (j <- 3 until 256) {
      val acc = 4 * xs(j - 1) - 2 * xs(j - 2) + 1 * xs(j - 3)
      xs(j) = (acc >> 3) + res(j) // arithmetic shift = floor division
    }
    assert(meta.nFrames === 1)
    assert(meta.totalSamples === 256L)
    assert(meta.firstSample === 100)
    assert(meta.sumSamples === xs.sum)
    assert(meta.sumAbs === xs.map(math.abs).sum)
    assert(meta.peakAbs === xs.map(math.abs).max.toInt)
    // floor-vs-truncate discriminator: the chain must actually hit odd
    // negative prediction sums, else the shift semantics were untested
    var oddNeg = false
    for (j <- 3 until 256) {
      val acc = 4 * xs(j - 1) - 2 * xs(j - 2) + 1 * xs(j - 3)
      if (acc < 0 && (acc & 7) != 0) oddNeg = true
    }
    assert(oddNeg, "fixture never exercised floor-division rounding")
  }

  test("flac: LPC precision escape and negative shift are rejected") {
    val warm = Seq(10); val coefs = Seq(1)
    def zero(j: Int): Int = 0
    // valid control
    assert(parseFlacMeta(1L,
      lpcStream(warm, coefs, precMinus1 = 2, shiftBits = 1, zero)).isDefined)
    // precision code 1111 is forbidden (RFC 9639 §9.2.6)
    assert(parseFlacMeta(1L,
      lpcStream(warm, coefs, precMinus1 = 15, shiftBits = 1, zero)).isEmpty)
    // shift 0b11111 = -1: negative shifts reserved, must reject
    assert(parseFlacMeta(1L,
      lpcStream(warm, coefs, precMinus1 = 2, shiftBits = 31, zero)).isEmpty)
  }

  test("flac: LPC fixture decodes and matches the recurrence") {
    for (id <- 0L until 17L; nChars <- Seq(0L, 3L, 42L, 97L)) {
      val meta = parseFlacMeta(id, buildFlacLpcPattern(id, nChars))
        .getOrElse(fail(s"no LPC parse for id=$id nChars=$nChars"))
      val nf = 2 + (nChars % 6).toInt
      val ch = 1 + (id % 2).toInt
      var sum = 0L; var sumAbs = 0L; var peak = 0L
      var first = 0L; var haveFirst = false
      for (i <- 0 until nf; c <- 0 until ch) {
        val t = ((id + i) % 3).toInt
        val xs = new Array[Long](256)
        if (t == 2) {
          val v = (id * 31 + i * 17 + c * 7) % 1001 - 500
          java.util.Arrays.fill(xs, v)
        } else {
          xs(0) = (id * 13 + i * 7 + c * 3) % 801 - 400
          if (t == 1) xs(1) = (id * 11 + i * 5 + c * 9) % 601 - 300
          for (j <- (t + 1) until 256) {
            val e = (id + i * 3 + c * 5 + j) % 15 - 7
            val pred = if (t == 0) xs(j - 1) >> 1
                       else (xs(j - 1) + xs(j - 2)) >> 2
            xs(j) = pred + e
          }
        }
        xs.foreach { s =>
          if (!haveFirst) { first = s; haveFirst = true }
          sum += s; sumAbs += math.abs(s)
          if (math.abs(s) > peak) peak = math.abs(s)
        }
      }
      assert(meta.channels === ch)
      assert(meta.nFrames === nf)
      assert(meta.totalSamples === nf.toLong * 256)
      assert(meta.firstSample.toLong === first)
      assert(meta.sumSamples === sum)
      assert(meta.sumAbs === sumAbs)
      assert(meta.peakAbs.toLong === peak)
    }
  }

  test("flac: stereo decorrelation round-trips every channel assignment") {
    for (id <- 0L until 17L; nChars <- Seq(0L, 3L, 42L, 97L)) {
      val meta = parseFlacMeta(id, buildFlacStereoPattern(id, nChars))
        .getOrElse(fail(s"no stereo parse for id=$id nChars=$nChars"))
      val nf = 2 + (nChars % 6).toInt
      def l(i: Int, j: Int): Long = (id * 3 + i * 5 + j * 7) % 1201 - 600
      def r(i: Int, j: Int): Long = (id * 7 + i * 11 + j * 13) % 1001 - 500
      var sum = 0L; var sumAbs = 0L; var peak = 0L
      var oddSide = false; var evenSide = false
      for (i <- 0 until nf; c <- 0 until 2; j <- 0 until 256) {
        val s = if (c == 0) l(i, j) else r(i, j)
        sum += s; sumAbs += math.abs(s)
        if (math.abs(s) > peak) peak = math.abs(s)
        if (((l(i, j) - r(i, j)) & 1) == 1) oddSide = true else evenSide = true
      }
      // the parity-restore path must actually be exercised both ways
      assert(oddSide && evenSide, "side difference parity never varied")
      assert(meta.channels === 2)
      assert(meta.nFrames === nf)
      assert(meta.totalSamples === nf.toLong * 256)
      assert(meta.firstSample.toLong === l(0, 0))
      assert(meta.sumSamples === sum)
      assert(meta.sumAbs === sumAbs)
      assert(meta.peakAbs.toLong === peak)
    }
  }

  test("flac: wasted bits narrow the coded width and shift back") {
    for (id <- 0L until 17L; nChars <- Seq(0L, 3L, 42L, 97L)) {
      val meta = parseFlacMeta(id, buildFlacWastedPattern(id, nChars))
        .getOrElse(fail(s"no wasted parse for id=$id nChars=$nChars"))
      val nf = 2 + (nChars % 6).toInt
      var sum = 0L; var sumAbs = 0L; var peak = 0L; var first = 0L
      var haveFirst = false
      for (i <- 0 until nf; j <- 0 until 256) {
        val mult = 1L << (1 + (id + i) % 3).toInt
        val s = (if ((id + i) % 2 == 0) (id * 31 + i * 17) % 201 - 100
                 else (id * 3 + i * 5 + j * 7) % 201 - 100) * mult
        if (!haveFirst) { first = s; haveFirst = true }
        sum += s; sumAbs += math.abs(s)
        if (math.abs(s) > peak) peak = math.abs(s)
      }
      assert(meta.channels === 1)
      assert(meta.nFrames === nf)
      assert(meta.firstSample.toLong === first)
      assert(meta.sumSamples === sum)
      assert(meta.sumAbs === sumAbs)
      assert(meta.peakAbs.toLong === peak)
    }
  }

  test("flac: wasted bits compose with LPC via a hand-built frame") {
    // order-1 LPC with coef [1] >> 1 in the NARROWED (14-bit) domain,
    // 2 wasted bits: the decoder must run the whole prediction chain
    // at 14 bits and shift every sample left by 2 at the end
    val out = new java.io.ByteArrayOutputStream()
    out.write('f'); out.write('L'); out.write('a'); out.write('C')
    val si = new BitWriter(msbFirst = true)
    si.write(256, 16); si.write(256, 16); si.write(0, 24); si.write(0, 24)
    si.write(8000, 20); si.write(0, 3); si.write(15, 5); si.write(256, 36)
    (0 until 16).foreach(_ => si.write(0, 8))
    val siB = si.toBytes
    out.write(0x80); out.write(0); out.write(0); out.write(siB.length)
    out.write(siB, 0, siB.length)
    val w = new BitWriter(msbFirst = true)
    w.write(0x3ffe, 14); w.write(0, 1); w.write(0, 1)
    w.write(8, 4); w.write(4, 4); w.write(0, 4); w.write(4, 3); w.write(0, 1)
    w.write(0, 8)
    val head = w.toBytes
    val fw = new BitWriter(msbFirst = true)
    head.foreach(b => fw.write(b & 0xffL, 8))
    fw.write(MediaCodec.flacCrc8(head, 0, head.length), 8)
    fw.write(0, 1); fw.write(0x20, 6) // LPC order 1
    fw.write(1, 1); fw.write(0, 1) // wasted flag, unary(2−1) = "01"
    fw.write(1, 1)
    fw.write(77L & 0x3fff, 14) // warmup, 14-bit domain
    fw.write(2, 4) // precision 3
    fw.write(1, 5) // shift 1
    fw.write(1, 3) // coef [1]
    fw.write(0, 2); fw.write(0, 4); fw.write(2, 4) // rice po=0, k=2
    def res(j: Int): Int = (j * 5) % 9 - 4
    (1 until 256).foreach { j =>
      val e = res(j)
      val u = if (e >= 0) e << 1 else (-e << 1) - 1
      fw.writeUnary(u >>> 2); fw.write(u & 3, 2)
    }
    val frame = fw.toBytes
    out.write(frame, 0, frame.length)
    val c16 = MediaCodec.flacCrc16(frame, 0, frame.length)
    out.write((c16 >> 8) & 0xff); out.write(c16 & 0xff)
    val meta = parseFlacMeta(3L, out.toByteArray)
      .getOrElse(fail("wasted+LPC frame did not parse"))
    val xs = new Array[Long](256)
    xs(0) = 77
    for (j <- 1 until 256) xs(j) = (xs(j - 1) >> 1) + res(j)
    val shifted = xs.map(_ << 2) // wasted-bit restore
    assert(meta.firstSample === 77 << 2)
    assert(meta.sumSamples === shifted.sum)
    assert(meta.peakAbs === shifted.map(math.abs).max.toInt)
  }

  test("flac: degenerate wasted-bit counts are rejected") {
    // wasted >= width leaves no sample bits: flag + unary(15) on a
    // 16-bit CONSTANT subframe must reject, not decode a 0-bit sample
    val out = new java.io.ByteArrayOutputStream()
    out.write('f'); out.write('L'); out.write('a'); out.write('C')
    val si = new BitWriter(msbFirst = true)
    si.write(256, 16); si.write(256, 16); si.write(0, 24); si.write(0, 24)
    si.write(8000, 20); si.write(0, 3); si.write(15, 5); si.write(256, 36)
    (0 until 16).foreach(_ => si.write(0, 8))
    val siB = si.toBytes
    out.write(0x80); out.write(0); out.write(0); out.write(siB.length)
    out.write(siB, 0, siB.length)
    val w = new BitWriter(msbFirst = true)
    w.write(0x3ffe, 14); w.write(0, 1); w.write(0, 1)
    w.write(8, 4); w.write(4, 4); w.write(0, 4); w.write(4, 3); w.write(0, 1)
    w.write(0, 8)
    val head = w.toBytes
    val fw = new BitWriter(msbFirst = true)
    head.foreach(b => fw.write(b & 0xffL, 8))
    fw.write(MediaCodec.flacCrc8(head, 0, head.length), 8)
    fw.write(0, 1); fw.write(0, 6) // CONSTANT
    fw.write(1, 1); fw.writeUnary(15) // wasted = 16 = full width
    fw.write(0, 16)
    val frame = fw.toBytes
    out.write(frame, 0, frame.length)
    val c16 = MediaCodec.flacCrc16(frame, 0, frame.length)
    out.write((c16 >> 8) & 0xff); out.write(c16 & 0xff)
    assert(parseFlacMeta(1L, out.toByteArray).isEmpty)
  }

  test("flac: reserved channel assignments and mono decorrelation reject") {
    val good = buildFlacStereoPattern(6L, 3L)
    assert(parseFlacMeta(6L, good).isDefined)
    // frame 0 starts right after STREAMINFO (4 + 4 + 34 = 42): bytes
    // [sync][sync+flags][bs|sr][chAssign|ss+res][frameNo][crc8] — the
    // assignment is the HIGH nibble of byte 45. id=6: frame 0 mode is
    // (6+0)%4 = 2 -> right-side, chAssign 9.
    assert(((good(45) >> 4) & 0xf) === 9)
    // force a reserved assignment (11): first the CRC-8 catches the
    // flip; then with the CRC-8 restamped the walk must die on the
    // ASSIGNMENT check itself
    val reserved = good.clone()
    reserved(45) = ((11 << 4) | (reserved(45) & 0x0f)).toByte
    assert(parseFlacMeta(6L, reserved).isEmpty)
    reserved(47) = MediaCodec.flacCrc8(reserved, 42, 47).toByte
    assert(parseFlacMeta(6L, reserved).isEmpty)
    // a MONO stream (STREAMINFO channels=1) whose frame claims a
    // decorrelated assignment must reject on the channel-count check
    val mono = buildFlacPattern(2L, 0L) // id=2 -> mono fixture
    assert(parseFlacMeta(2L, mono).isDefined)
    assert(((mono(45) >> 4) & 0xf) === 0) // mono: chAssign 0
    val monoBad = mono.clone()
    monoBad(45) = ((8 << 4) | (monoBad(45) & 0x0f)).toByte
    monoBad(47) = MediaCodec.flacCrc8(monoBad, 42, 47).toByte
    assert(parseFlacMeta(2L, monoBad).isEmpty)
  }

  test("ogg: page walk matches the fixture arithmetic") {
    for (id <- 0L until 17L; nChars <- Seq(0L, 3L, 42L, 997L)) {
      val meta = parseOggMeta(id, buildOggPattern(id, nChars))
        .getOrElse(fail(s"no parse for id=$id nChars=$nChars"))
      val np = 2 + (nChars % 4).toInt
      val sizes = for {
        p <- 0 until np
        k <- 0 until (1 + ((id + p) % 3).toInt)
      } yield
        if ((id + p + k) % 5 == 0) 300 + ((id + k) % 200).toInt
        else 20 + ((id + p * 7 + k * 13) % 230).toInt
      assert(meta.serial === id % 100000)
      assert(meta.nPages === np)
      assert(meta.nPackets === sizes.length)
      assert(meta.payloadBytes === sizes.map(_.toLong).sum)
      assert(meta.lastGranule === np.toLong * (1000 + id % 500))
    }
  }

  test("ogg: CRC and structure violations are detected, totality holds") {
    val good = buildOggPattern(3L, 42L)
    assert(parseOggMeta(3L, good).isDefined)
    // flip one payload byte on the first page -> its CRC must catch it
    val bad = good.clone(); bad(40) = (bad(40) ^ 1).toByte
    assert(parseOggMeta(3L, bad).isEmpty)
    // exact-255 packet boundary: hand-build a single BOS+EOS page whose
    // one packet is exactly 510 bytes, so the lacing table is
    // [255, 255, 0] — the terminating 0-valued lacing segment must
    // still count exactly one packet (the decoder counts segments
    // < 255, and 0 is such a segment)
    locally {
      val lacing = Array(255, 255, 0)
      val page = new Array[Byte](27 + lacing.length + 510)
      page(0) = 'O'; page(1) = 'g'; page(2) = 'g'; page(3) = 'S'
      page(4) = 0; page(5) = 0x06 // BOS + EOS, single page
      page(14) = 9 // serial = 9, little-endian
      page(26) = lacing.length.toByte
      lacing.zipWithIndex.foreach { case (l, k) => page(27 + k) = l.toByte }
      for (j <- 0 until 510) page(27 + 3 + j) = ((j * 7 + 1) % 251).toByte
      val crc = MediaCodec.oggCrc(page, 0, page.length)
      page(22) = (crc & 0xff).toByte
      page(23) = ((crc >>> 8) & 0xff).toByte
      page(24) = ((crc >>> 16) & 0xff).toByte
      page(25) = ((crc >>> 24) & 0xff).toByte
      val meta = parseOggMeta(9L, page)
        .getOrElse(fail("zero-lacing page did not parse"))
      assert(meta.nPages === 1)
      assert(meta.nPackets === 1) // [255,255,0] is ONE packet, not two
      assert(meta.payloadBytes === 510L)
      assert(meta.serial === 9L)
    }
    for (cut <- Seq(0, 5, 26, 27, good.length - 1))
      assert(parseOggMeta(3L, good.take(cut)).isEmpty)
    assert(parseOggMeta(3L, good ++ Array[Byte](1, 2, 3)).isEmpty)
    val rnd = new scala.util.Random(777)
    for (_ <- 0 until 200) {
      val junk = new Array[Byte](rnd.nextInt(200))
      rnd.nextBytes(junk)
      assert(parseOggMeta(1L, junk).forall(_.nPages >= 0)) // no throw
    }
  }

  test("ogg audio: OpusHead and Vorbis id headers round-trip") {
    for (id <- 0L until 18L; nChars <- Seq(0L, 5L, 101L)) {
      val meta = parseOggAudioMeta(id, buildOggAudioPattern(id, nChars))
        .getOrElse(fail(s"no audio parse for id=$id nChars=$nChars"))
      val nb = 2 + (nChars % 3).toInt
      val expSizes = for {
        p <- 1 to nb
        k <- 0 until (1 + ((id + p) % 3).toInt)
      } yield
        if ((id + p + k) % 5 == 0) 300 + ((id + k) % 200).toInt
        else 20 + ((id + p * 7 + k * 13) % 230).toInt
      assert(meta.codec === (if (id % 2 == 0) "opus" else "vorbis"))
      assert(meta.channels === 1 + ((id / 2) % 2).toInt)
      val expRate =
        if (id % 2 == 0) (id % 3) match {
          case 0 => 48000L; case 1 => 24000L; case _ => 16000L
        } else (id % 3) match {
          case 0 => 44100L; case 1 => 32000L; case _ => 11025L
        }
      assert(meta.sampleRate === expRate)
      assert(meta.preSkip ===
        (if (id % 2 == 0) 312 + (id % 100).toInt else 0))
      assert(meta.nPages === nb + 1)
      assert(meta.nPackets === expSizes.length + 1)
      val hdrLen = if (id % 2 == 0) 19 else 30
      assert(meta.payloadBytes === expSizes.map(_.toLong).sum + hdrLen)
    }
  }

  test("ogg audio: malformed identification headers are rejected") {
    val opus = buildOggAudioPattern(2L, 5L) // even id -> OpusHead
    assert(parseOggAudioMeta(2L, opus).isDefined)
    // locate the header packet: first page = 27 + 1 lacing + payload;
    // OpusHead version byte is packet offset 8
    def corrupt(b: Array[Byte], pktOff: Int, v: Byte): Array[Byte] = {
      val c = b.clone()
      val nSegs = c(26) & 0xff
      c(27 + nSegs + pktOff) = v
      // restamp the first page's CRC so only the FIELD is wrong
      val bodyLen = (0 until nSegs).map(k => c(27 + k) & 0xff).sum
      val pageLen = 27 + nSegs + bodyLen
      c(22) = 0; c(23) = 0; c(24) = 0; c(25) = 0
      val crc = MediaCodec.oggCrc(c, 0, pageLen)
      c(22) = (crc & 0xff).toByte
      c(23) = ((crc >>> 8) & 0xff).toByte
      c(24) = ((crc >>> 16) & 0xff).toByte
      c(25) = ((crc >>> 24) & 0xff).toByte
      c
    }
    // Opus version must be 1
    assert(parseOggAudioMeta(2L, corrupt(opus, 8, 9)).isEmpty)
    // unknown magic
    assert(parseOggAudioMeta(2L, corrupt(opus, 0, 'X')).isEmpty)
    val vorbis = buildOggAudioPattern(3L, 5L) // odd id -> Vorbis
    assert(parseOggAudioMeta(3L, vorbis).isDefined)
    // framing bit must be set (packet offset 29)
    assert(parseOggAudioMeta(3L, corrupt(vorbis, 29, 0)).isEmpty)
    // blocksize_1 < blocksize_0 is invalid (packet offset 28)
    assert(parseOggAudioMeta(3L,
      corrupt(vorbis, 28, ((6 << 4) | 8).toByte)).isEmpty)
    // a payload flip WITHOUT restamping must die on the page CRC
    val bad = vorbis.clone(); bad(40) = (bad(40) ^ 1).toByte
    assert(parseOggAudioMeta(3L, bad).isEmpty)
    val rnd = new scala.util.Random(991)
    for (_ <- 0 until 200) {
      val junk = new Array[Byte](rnd.nextInt(200))
      rnd.nextBytes(junk)
      assert(parseOggAudioMeta(1L, junk).forall(_.nPages >= 0)) // no throw
    }
  }

  test("mp3 vbr: Xing/Info headers cross-check against the frame walk") {
    for (id <- 0L until 16L; nChars <- Seq(0L, 23L, 99L)) {
      val meta = parseMp3Vbr(id, buildMp3VbrPattern(id, nChars))
        .getOrElse(fail(s"no vbr parse for id=$id nChars=$nChars"))
      val nF = 20 + (nChars % 60).toInt
      val sr = (id % 3) match {
        case 0 => 44100; case 1 => 48000; case _ => 32000
      }
      def br(k: Int): Int =
        if (id % 5 == 0) 160
        else ((id + k) % 4).toInt match {
          case 0 => 128; case 1 => 160; case 2 => 192; case _ => 224
        }
      val bytes = (1 to nF)
        .map(k => (144 * br(k) * 1000 / sr + (id + k) % 2).toLong).sum
      assert(meta.isVbr === (id % 5 != 0))
      assert(meta.nFrames === nF)
      assert(meta.audioBytes === bytes)
      assert(meta.quality === (id % 101).toInt)
      assert(meta.tocSum === (0 until 100).map(k => (2 * k + id) % 256).sum)
      assert(meta.durationMs === nF * 1152000L / sr)
    }
  }

  test("mp3 vbr: header/walk disagreements are rejected") {
    val good = buildMp3VbrPattern(2L, 23L) // stereo, Xing
    assert(parseMp3Vbr(2L, good).isDefined)
    // Xing frame-count field off by one -> cross-check must fail
    // (frames u32 sits at 4 + 32 side + 4 tag + 4 flags)
    locally {
      val bad = good.clone()
      bad(4 + 32 + 8 + 3) = (bad(4 + 32 + 8 + 3) + 1).toByte
      assert(parseMp3Vbr(2L, bad).isEmpty)
    }
    // dropping the last frame breaks BOTH totals
    locally {
      val lastLen = {
        // recompute the last frame's length from the fixture formula
        val nF = 20 + (23 % 60)
        val sr = 32000 // id=2 -> srIdx 2
        144 * (((2 + nF) % 4) match {
          case 0 => 128; case 1 => 160; case 2 => 192; case _ => 224
        }) * 1000 / sr + ((2 + nF) % 2)
      }
      assert(parseMp3Vbr(2L, good.dropRight(lastLen)).isEmpty)
    }
    // truncation mid-frame and junk are data
    assert(parseMp3Vbr(2L, good.dropRight(7)).isEmpty)
    val rnd = new scala.util.Random(606)
    for (_ <- 0 until 200) {
      val junk = new Array[Byte](rnd.nextInt(250))
      rnd.nextBytes(junk)
      assert(parseMp3Vbr(1L, junk).forall(_.nFrames >= 0)) // no throw
    }
  }

  test("exif: both byte orders round-trip through the TIFF walk") {
    for (id <- 0L until 18L; nChars <- Seq(0L, 13L, 77L)) {
      val meta = parseExifMeta(id, buildJpegExifPattern(id, nChars))
        .getOrElse(fail(s"no exif parse for id=$id nChars=$nChars"))
      assert(meta.byteOrder === (if (id % 2 == 0) "II" else "MM"))
      assert(meta.orientation === 1 + (id % 8).toInt)
      assert(meta.width === 640 + id % 1280)
      assert(meta.height === 360 + id % 720)
      assert(meta.make === "CAM" + ('A' + (id % 26).toInt).toChar)
      assert(meta.iso === 50 + (id % 3150).toInt)
    }
  }

  test("exif: malformed TIFF structures are rejected, totality holds") {
    val good = buildJpegExifPattern(4L, 13L) // II, no APP0 (4%3!=0)
    assert(parseExifMeta(4L, good).isDefined)
    // the TIFF block starts after SOI + COM + APP1 header; find it
    val tiffOff = {
      val i = good.indices.indexWhere(i => i + 6 <= good.length &&
        good(i) == 'E' && good(i + 1) == 'x' && good(i + 2) == 'i' &&
        good(i + 3) == 'f' && good(i + 4) == 0 && good(i + 5) == 0)
      assert(i > 0); i + 6
    }
    // wrong magic (42 -> 43)
    locally {
      val bad = good.clone(); bad(tiffOff + 2) = 43
      assert(parseExifMeta(4L, bad).isEmpty)
    }
    // entry-count bomb: 0xFFFF entries cannot fit the segment — must
    // reject on the bound, not read wild
    locally {
      val bad = good.clone()
      bad(tiffOff + 8) = 0xff.toByte; bad(tiffOff + 9) = 0xff.toByte
      assert(parseExifMeta(4L, bad).isEmpty)
    }
    // make-string offset pointing past the segment
    locally {
      val bad = good.clone()
      // entry 3 (0x010f) value field = IFD0 base + 2 + 2*12 + 8
      val e = tiffOff + 8 + 2 + 2 * 12 + 8
      bad(e) = 0xf0.toByte // offset 0xf0 > tiff length (~97)
      assert(parseExifMeta(4L, bad).isEmpty)
    }
    val rnd = new scala.util.Random(808)
    for (_ <- 0 until 200) {
      val junk = new Array[Byte](rnd.nextInt(250))
      rnd.nextBytes(junk)
      assert(parseExifMeta(1L, junk).forall(_.iso >= 0)) // no throw
    }
    for (cut <- Seq(0, 1, 2, 8, good.length - 3))
      assert(parseExifMeta(4L, good.take(cut)).isEmpty)
  }

  test("ogg tags: comment headers round-trip for both codecs") {
    for (id <- 0L until 18L; nChars <- Seq(0L, 7L, 59L)) {
      val meta = parseOggTags(id, buildOggTagsPattern(id, nChars))
        .getOrElse(fail(s"no tags parse for id=$id nChars=$nChars"))
      val nC = 1 + (id % 4).toInt
      assert(meta.codec === (if (id % 2 == 0) "opus" else "vorbis"))
      assert(meta.vendor === "graft-" + ('a' + (id % 26).toInt).toChar)
      assert(meta.nComments === nC)
      assert(meta.lang ===
        "" + ('a' + (id % 26).toInt).toChar +
          ('a' + ((id / 26) % 26).toInt).toChar)
      val expBytes = (0 until nC).map { k =>
        if (k == 0) 7L else 4L + (id + k) % 5
      }.sum
      assert(meta.commentBytes === expBytes)
    }
  }

  test("ogg tags: malformed comment blocks are rejected") {
    def pageOffsets(b: Array[Byte]): Seq[Int] = {
      var pos = 0
      val offs = Seq.newBuilder[Int]
      while (pos < b.length) {
        offs += pos
        val nSegs = b(pos + 26) & 0xff
        val body = (0 until nSegs).map(k => b(pos + 27 + k) & 0xff).sum
        pos += 27 + nSegs + body
      }
      offs.result()
    }
    def restamp(b: Array[Byte], pageOff: Int): Unit = {
      val nSegs = b(pageOff + 26) & 0xff
      val body = (0 until nSegs).map(k => b(pageOff + 27 + k) & 0xff).sum
      val len = 27 + nSegs + body
      b(pageOff + 22) = 0; b(pageOff + 23) = 0
      b(pageOff + 24) = 0; b(pageOff + 25) = 0
      val crc = MediaCodec.oggCrc(b, pageOff, pageOff + len)
      b(pageOff + 22) = (crc & 0xff).toByte
      b(pageOff + 23) = ((crc >>> 8) & 0xff).toByte
      b(pageOff + 24) = ((crc >>> 16) & 0xff).toByte
      b(pageOff + 25) = ((crc >>> 24) & 0xff).toByte
    }
    val vorbis = buildOggTagsPattern(3L, 7L) // odd id -> Vorbis
    assert(parseOggTags(3L, vorbis).isDefined)
    val offs = pageOffsets(vorbis)
    assert(offs.size === 3)
    val tagsPayload = offs(1) + 27 + (vorbis(offs(1) + 26) & 0xff)
    // comment packet type must be 3: flip it (CRC restamped so the
    // walk passes and the GRAMMAR check does the rejecting)
    locally {
      val bad = vorbis.clone()
      bad(tagsPayload) = 7
      restamp(bad, offs(1))
      assert(parseOggTags(3L, bad).isEmpty)
    }
    // Vorbis framing bit at the end of the comment packet must be set
    locally {
      val bad = vorbis.clone()
      val nSegs = bad(offs(1) + 26) & 0xff
      val bodyLen = (0 until nSegs).map(k => bad(offs(1) + 27 + k) & 0xff).sum
      bad(tagsPayload + bodyLen - 1) = 0
      restamp(bad, offs(1))
      assert(parseOggTags(3L, bad).isEmpty)
    }
    // a comment-count field larger than the packet can hold must
    // reject on the byte bound, never loop or allocate
    locally {
      val bad = vorbis.clone()
      // count sits after type+magic(7) + vendorLen(4) + vendor(7)
      bad(tagsPayload + 7 + 4 + 7 + 3) = 0x7f // count high byte
      restamp(bad, offs(1))
      assert(parseOggTags(3L, bad).isEmpty)
    }
    // truncation and junk are data, never throws
    for (cut <- Seq(0, 30, vorbis.length - 2))
      assert(parseOggTags(3L, vorbis.take(cut)).isEmpty)
    val rnd = new scala.util.Random(313)
    for (_ <- 0 until 200) {
      val junk = new Array[Byte](rnd.nextInt(250))
      rnd.nextBytes(junk)
      assert(parseOggTags(1L, junk).forall(_.nComments >= 0)) // no throw
    }
  }

  test("flac: totality on corrupt and truncated payloads") {
    val rnd = new scala.util.Random(4242)
    for (_ <- 0 until 200) {
      val junk = new Array[Byte](rnd.nextInt(300))
      rnd.nextBytes(junk)
      assert(parseFlacMeta(1L, junk).forall(_.nFrames >= 0)) // no throw
    }
    val good = buildFlacPattern(7L, 99L)
    for (cut <- Seq(0, 3, 4, 20, 41, 42, good.length - 1))
      assert(parseFlacMeta(7L, good.take(cut)).isEmpty)
    // flipping a FIXED subframe's type bit to LPC makes the payload a
    // garbage LPC subframe (order-10 warmups eat rice bits) — the
    // decode must fail structurally or on CRC-16, never mis-decode
    val lpc = good.clone()
    // frame starts at 42; header 5 bytes + crc8 -> subframe bits at 48
    lpc(48) = (lpc(48) | 0x40).toByte
    assert(parseFlacMeta(7L, lpc).isEmpty)
  }
}
