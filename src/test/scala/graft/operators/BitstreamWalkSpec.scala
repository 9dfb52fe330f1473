package graft.operators

import org.scalatest.funsuite.AnyFunSuite
import MediaCodec._

/** The round-12 bitstream walks: H.264 Annex-B SPS/PPS (exp-Golomb +
  * emulation prevention), AAC ADTS frame walk, WebP/RIFF chunk walk —
  * verified against hand-built streams and hand-computed field values,
  * not just the paired builders.
  */
class BitstreamWalkSpec extends AnyFunSuite {

  // ------------------------------------------------------------ AVC

  test("avc: emulation prevention escape/unescape round-trips") {
    val rbsp = Array[Byte](0, 0, 0, 0, 1, 0, 0, 2, 0, 0, 3, 7, 0, 0)
    val ebsp = ebspEscape(rbsp)
    // every 00 00 before 00/01/02/03 gained a 03
    assert(ebsp.length > rbsp.length)
    // no unescaped start-code-able span remains
    (0 until ebsp.length - 2).foreach { i =>
      assert(!(ebsp(i) == 0 && ebsp(i + 1) == 0 &&
        (ebsp(i + 2) & 0xff) <= 2))
    }
    assert(ebspUnescape(ebsp, 0, ebsp.length).toSeq === rbsp.toSeq)
  }

  test("avc: hand-computed SPS fields for baseline and high profiles") {
    // id=6: profile 66 (id%3=0), cropping on (id even): cr=0, cb=0
    val m6 = parseAvcMeta(6, buildAvcPattern(6, 100)).get
    assert(m6.profile === 66)
    assert(m6.level === 30 + 6 % 22)
    assert(m6.pocType === 0)
    assert(m6.refFrames === 1 + 6 % 4)
    assert(m6.width === (2 + 6 % 40) * 16 - 2 * (6 % 3))
    assert(m6.height === (2 + 6 % 23) * 16 - 2 * ((6 / 3) % 2))
    assert(m6.initQp === 26 + (6 % 11) - 5)
    // id=5: profile 100 (High) exercises the chroma branch; odd → no crop
    val m5 = parseAvcMeta(5, buildAvcPattern(5, 100)).get
    assert(m5.profile === 100)
    assert(m5.pocType === 2)
    assert(m5.width === (2 + 5 % 40) * 16)
    assert(m5.height === (2 + 5 % 23) * 16)
    // nChars=100 → nf = 3 + 100%6 = 7 → 9 NALs, 4 IDR
    assert(m5.nNals === 9)
    assert(m5.nIdr === 4)
    assert(m5.sliceBytes ===
      (0 until 7).map(k => 50 + (5 + k * 7) % 100).sum.toLong)
  }

  test("avc: corruption rejected, not misparsed") {
    val good = buildAvcPattern(9, 50)
    // forbidden_zero_bit set on the SPS NAL header
    val bad = good.clone()
    val spsHdr = 4 // after the 4-byte start code
    bad(spsHdr) = (bad(spsHdr) | 0x80).toByte
    assert(parseAvcMeta(9, bad).isEmpty)
    // truncated mid-SPS
    assert(parseAvcMeta(9, good.take(8)).isEmpty)
    // no start code at all
    assert(parseAvcMeta(9, Array[Byte](1, 2, 3, 4)).isEmpty)
  }

  test("avc: exp-golomb se(v) negative mapping decodes exactly") {
    // id=4: pic_init_qp_minus26 = 4%11-5 = -1 → initQp 25
    assert(parseAvcMeta(4, buildAvcPattern(4, 10)).get.initQp === 25)
    // id=10: 10%11-5 = 5 → 31
    assert(parseAvcMeta(10, buildAvcPattern(10, 10)).get.initQp === 31)
  }

  // ----------------------------------------------------------- ADTS

  test("adts: walk recovers frame count, byte total, duration") {
    val m = parseAdtsMeta(7, buildAdtsPattern(7, 33)).get
    val nf = 20 + 33 % 40
    assert(m.profile === (7 % 4))
    assert(m.sampleRate === 44100) // 7 % 3 == 1
    assert(m.channels === 2)
    assert(m.nFrames === nf)
    assert(m.aacBytes ===
      (0 until nf).map(k => 37 + (7 + 11 * k) % 200).sum.toLong)
    assert(m.durationMs === nf.toLong * 1024 * 1000 / 44100)
  }

  test("adts: bad sync, truncation, mid-stream change all rejected") {
    val good = buildAdtsPattern(3, 20)
    val bad = good.clone(); bad(0) = 0x12
    assert(parseAdtsMeta(3, bad).isEmpty)
    assert(parseAdtsMeta(3, good.take(good.length - 2)).isEmpty)
    // flip the second frame's profile bits → inconsistent stream
    val firstLen = 37 + (3 % 200)
    val flipped = good.clone()
    flipped(firstLen + 2) = (flipped(firstLen + 2) ^ 0xc0).toByte
    assert(parseAdtsMeta(3, flipped).isEmpty)
  }

  // ----------------------------------------------------------- WebP

  test("webp: all three layouts parse to the same dims arithmetic") {
    Seq(0L, 1L, 2L, 30L, 31L, 32L).foreach { id =>
      val m = parseWebpMeta(id, buildWebpPattern(id)).get
      assert(m.width === 16 + (id % 1000).toInt, s"id=$id")
      assert(m.height === 16 + ((id * 7) % 800).toInt, s"id=$id")
      val fmt = (id % 3) match {
        case 0 => "lossy"; case 1 => "lossless"; case _ => "extended" }
      assert(m.format === fmt)
      assert(m.riffBytes + 8 === buildWebpPattern(id).length.toLong)
    }
  }

  test("webp: VP8X canvas wins over the embedded frame dims") {
    val id = 2L // extended variant
    val m = parseWebpMeta(id, buildWebpPattern(id)).get
    assert(m.format === "extended")
    assert(m.hasAlpha === (id % 2 == 0))
    // the embedded VP8 chunk carries w/2+1 — parser must NOT use it
    assert(m.width === 16 + (id % 1000).toInt)
  }

  test("webp: size mismatch and unknown chunks rejected") {
    val good = buildWebpPattern(4)
    val bad = good.clone(); bad(4) = (bad(4) + 1).toByte // RIFF size
    assert(parseWebpMeta(4, bad).isEmpty)
    val wrongTag = good.clone(); wrongTag(12) = 'Z'
    assert(parseWebpMeta(4, wrongTag).isEmpty)
    assert(parseWebpMeta(4, good.take(11)).isEmpty)
  }

  // ----------------------------------------------------------- VP8L

  test("vp8l: pixel decode matches the pattern arithmetic") {
    Seq((3L, 17L), (0L, 0L), (41L, 39L), (255L, 19L), (1000L, 7L))
      .foreach { case (id, n) =>
        val f = buildWebplPixelFile(id, n)
        // the meta walk still sees a plain lossless WebP
        val meta = parseWebpMeta(id, f).get
        assert(meta.format === "lossless")
        val px = parseWebplPixels(id, f).get
        val w = 10 + (n % 40).toInt; val h = 2 + (n % 20).toInt
        assert(px.width === w && px.height === h)
        // recompute the channel means from ci = (x + 7y + id) mod 256
        var sr = 0L; var sg = 0L; var sb = 0L; var top = 0L
        for (y <- 0 until h; x <- 0 until w) {
          val ci = ((x + 7 * y + id) % 256).toInt
          val r = (5 * ci) % 251; val b = (3 * ci) % 253
          sr += r; sg += ci; sb += b
          if (y == 0) top += r + ci + b
        }
        val np = (w * h).toDouble
        assert(px.meanR === sr / np, s"id=$id")
        assert(px.meanG === sg / np)
        assert(px.meanB === sb / np)
        assert(px.topRowMean === top / (3.0 * w))
      }
  }

  test("vp8l: truncation and out-of-profile features rejected") {
    val good = buildWebplPixelFile(9, 23)
    assert(parseWebplPixels(9, good.take(good.length - 6)).isEmpty)
    assert(parseWebplPixels(9, good.take(24)).isEmpty)
    // flip a bit inside the entropy stream: either a tree goes
    // incomplete or the pixel loop overruns — never a silent wrong image
    val bad = good.clone()
    bad(40) = (bad(40) ^ 0x10).toByte
    val decoded = parseWebplPixels(9, bad)
    val reference = parseWebplPixels(9, good).get
    assert(decoded.isEmpty || decoded.get != reference)
  }

  /** Hand-built minimal VP8L stream: green tree code-length-coded with
    * exactly {literal 100, length-symbol 256} at depth 1, simple
    * 1-symbol red/blue/alpha/distance trees, no transform, no cache. */
  private def tinyVp8l(w: Int, h: Int, distSym: Int,
                       emits: Seq[Boolean]): Array[Byte] = {
    val bw = new BitWriter(msbFirst = false)
    bw.write((w - 1).toLong, 14); bw.write((h - 1).toLong, 14)
    bw.write(0, 1); bw.write(0, 3)
    bw.write(0, 1) // no transforms
    bw.write(0, 1) // no color cache
    bw.write(0, 1) // no meta-prefix image
    // green tree, normal form: lengths over 280 symbols, 1 at {100, 256}
    bw.write(0, 1) // not simple
    bw.write(0, 4) // num_code_lengths = 4: order 17, 18, 0, 1
    bw.write(2, 3); bw.write(1, 3); bw.write(0, 3); bw.write(2, 3)
    // canonical cl codes: 18 -> 0 (len 1), 1 -> 10, 17 -> 11
    bw.write(0, 1) // no max_symbol
    def cl18(repeat: Int): Unit = { // 11..138 zeros
      bw.writeCode(0, 1); bw.write((repeat - 11).toLong, 7) }
    def cl17(repeat: Int): Unit = { // 3..10 zeros
      bw.writeCode(3, 2); bw.write((repeat - 3).toLong, 3) }
    def cl1(): Unit = bw.writeCode(2, 2)
    cl18(100); cl1()           // zeros 0..99, then symbol 100 at len 1
    cl18(138); cl17(10); cl17(7); cl1() // 155 zeros, symbol 256 len 1
    cl18(23)                   // trailing zeros to 280
    def simple1(sym: Int): Unit = {
      bw.write(1, 1); bw.write(0, 1); bw.write(1, 1)
      bw.write(sym.toLong, 8)
    }
    simple1(7); simple1(9); simple1(255) // red, blue, alpha
    simple1(distSym)                     // distance prefix code
    // canonical green codes at len 1: 100 -> 0, 256 -> 1
    emits.foreach { isCopy =>
      if (isCopy) bw.writeCode(1, 1) // length code 0 -> length 1, dist 0 bits
      else bw.writeCode(0, 1)        // literal green=100 (r/b/a zero bits)
    }
    val s = bw.toBytes
    Array(0x2f.toByte) ++ s
  }

  test("vp8l color-indexing: palette, deltas, all three bundle widths") {
    // k = 2 + id%15 rotates 8/4/2-px-per-byte bundling across ids
    Seq((0L, 5L), (2L, 11L), (7L, 20L), (14L, 33L), (9L, 0L))
      .foreach { case (id, n) =>
        val f = buildWebplPaletteFile(id, n)
        val px = parseWebplPixels(id, f).get
        val w = 7 + (n % 29).toInt; val h = 2 + (n % 13).toInt
        val k = 2 + (id % 15).toInt
        assert(px.width === w && px.height === h)
        var sr = 0L; var sg = 0L; var sb = 0L
        for (y <- 0 until h; x <- 0 until w) {
          val ci = ((x + 7 * y + id) % k).toInt
          sr += ((37 * ci + id) % 256).toInt
          sg += ((11 * ci + 3 * id) % 256).toInt
          sb += ((53 * ci + 7 * id) % 256).toInt
        }
        val np = (w * h).toDouble
        assert(px.meanR === sr / np, s"id=$id k=$k")
        assert(px.meanG === sg / np)
        assert(px.meanB === sb / np)
      }
  }

  test("vp8l predictor: all 14 modes reconstruct the pattern exactly") {
    // block modes rotate (bx+by+id) mod 14; ids 0..13 guarantee every
    // mode appears in SOME image; reconstruction must be bit-exact
    (0L until 14L).foreach { id =>
      val n = 20L // w=20x? w=8+(20%21)=28, h=3+(20%17)=6 -> 7x2 blocks
      val f = buildWebplPredictFile(id, n)
      val px = parseWebplPixels(id, f).get
      val w = 8 + (n % 21).toInt; val h = 3 + (n % 17).toInt
      var sr = 0L; var sg = 0L; var sb = 0L
      for (y <- 0 until h; x <- 0 until w) {
        val ci = ((x + 7 * y + id) % 256).toInt
        sr += (5 * ci) % 251; sg += ci; sb += (3 * ci) % 253
      }
      val np = (w * h).toDouble
      assert(px.meanR === sr / np, s"id=$id")
      assert(px.meanG === sg / np, s"id=$id")
      assert(px.meanB === sb / np, s"id=$id")
    }
  }

  test("vp8l cross-color: signed 3.5 multipliers round-trip exactly") {
    // multipliers sweep the full signed byte range with id; ids pick
    // negative g2r/g2b/r2b (>=128 as int8) so the arithmetic-shift
    // floor on negative products is exercised, not just positives
    Seq((0L, 5L), (3L, 14L), (130L, 7L), (200L, 21L), (255L, 0L))
      .foreach { case (id, n) =>
        val f = buildWebplCrossFile(id, n)
        val px = parseWebplPixels(id, f).get
        val w = 6 + (n % 23).toInt; val h = 3 + (n % 19).toInt
        assert(px.width === w && px.height === h)
        var sr = 0L; var sg = 0L; var sb = 0L
        for (y <- 0 until h; x <- 0 until w) {
          val ci = ((x + 3 * y + id) % 256).toInt
          sr += (11 * ci) % 255; sg += ci; sb += (7 * ci) % 249
        }
        val np = (w * h).toDouble
        assert(px.meanR === sr / np, s"id=$id")
        assert(px.meanG === sg / np, s"id=$id")
        assert(px.meanB === sb / np, s"id=$id")
      }
  }

  test("vp8l meta-prefix: per-block tree groups select correctly") {
    // 2..4 groups, each green tree a different rotation of the same
    // length multiset — one wrong group pick desyncs the stream
    Seq((0L, 5L), (1L, 12L), (2L, 18L), (5L, 3L), (100L, 9L))
      .foreach { case (id, n) =>
        val f = buildWebplMetaFile(id, n)
        val px = parseWebplPixels(id, f).get
        val w = 9 + (n % 19).toInt; val h = 4 + (n % 11).toInt
        assert(px.width === w && px.height === h)
        var sr = 0L; var sg = 0L; var sb = 0L
        for (y <- 0 until h; x <- 0 until w) {
          val ci = ((x + 11 * y + id) % 256).toInt
          sr += (7 * ci) % 251; sg += ci; sb += (5 * ci) % 241
        }
        val np = (w * h).toDouble
        assert(px.meanR === sr / np, s"id=$id")
        assert(px.meanG === sg / np, s"id=$id")
        assert(px.meanB === sb / np, s"id=$id")
      }
  }

  test("vp8l: distance map entry 0 is (0,1) -> the pixel above") {
    // 4x2: row 0 literal, row 1 four copies at distance map[0] = width
    val px = MediaCodec.decodeVp8l(tinyVp8l(4, 2, distSym = 0,
      Seq(false, false, false, false, true, true, true, true))).get._3
    val lit = (0xff << 24) | (7 << 16) | (100 << 8) | 9
    assert(px.toSeq === Seq.fill(8)(lit))
  }

  test("vp8l: distance map entry 1 is (1,0) -> the previous pixel") {
    val px = MediaCodec.decodeVp8l(tinyVp8l(4, 2, distSym = 1,
      Seq(false) ++ Seq.fill(7)(true))).get._3
    val lit = (0xff << 24) | (7 << 16) | (100 << 8) | 9
    assert(px.toSeq === Seq.fill(8)(lit))
  }

  // ------------------------------------------------------------ MKV

  test("mkv: ebml walk recovers all fields hand-computed") {
    val id = 14L
    val m = parseMkvMeta(id, buildMkvPattern(id, 77)).get
    assert(m.docType === "webm")
    assert(m.tsScale === 1000000L)
    assert(m.durationMs === 1000 + 14 % 9000)
    assert(m.nTracks === 2)
    assert(m.vCodec === "V_MPEG4/ISO/AVC") // 14 % 3 == 2
    assert(m.width === 320 + 14 % 640)
    assert(m.height === 240 + 14 % 480)
    assert(m.aCodec === "A_OPUS")
    assert(m.channels === 1)
    assert(m.sampleRate === 48000)
    val nb = 3 + 77 % 5
    assert(m.nBlocks === nb)
    assert(m.blockBytes ===
      (0 until nb).map(k => 20 + (14 + 13 * k) % 100).sum.toLong)
  }

  test("mkv: vint widths round-trip across the 1/2-byte size boundary") {
    // a block payload of 107 bytes sits near the 127-byte 1-byte-vint
    // cap with its 4-byte header; sizes on both sides parse
    Seq(0L, 63L, 64L, 127L).foreach { id =>
      assert(parseMkvMeta(id, buildMkvPattern(id, id)).isDefined, s"id=$id")
    }
  }

  test("mkv: CodecID before TrackType still classifies the codec") {
    // EBML fixes no child order inside a TrackEntry: a muxer may emit
    // CodecID first, and the walk must still file it as the VIDEO codec
    import graft.operators.MediaCodec.Mkv
    def vintSize(v: Long): Array[Byte] = {
      var width = 1
      while (width <= 8 && v >= (1L << (7 * width)) - 1) width += 1
      Array.tabulate[Byte](width) { i =>
        val shifted = v >>> (8 * (width - 1 - i))
        (((if (i == 0) (0x100 >>> width) | shifted else shifted)) & 0xff).toByte
      }
    }
    def idBytes(eid: Long): Array[Byte] = {
      val width = if (eid <= 0xffL) 1 else if (eid <= 0xffffL) 2
        else if (eid <= 0xffffffL) 3 else 4
      Array.tabulate[Byte](width)(i =>
        ((eid >>> (8 * (width - 1 - i))) & 0xff).toByte)
    }
    def el(eid: Long, body: Array[Byte]): Array[Byte] =
      idBytes(eid) ++ vintSize(body.length.toLong) ++ body
    def uintBody(v: Long): Array[Byte] = {
      var width = 1
      while (width < 8 && (v >>> (8 * width)) != 0) width += 1
      Array.tabulate[Byte](width)(i =>
        ((v >>> (8 * (width - 1 - i))) & 0xff).toByte)
    }
    def floatBody(d: Double): Array[Byte] = {
      val bits = java.lang.Double.doubleToLongBits(d)
      Array.tabulate[Byte](8)(i => ((bits >>> (8 * (7 - i))) & 0xff).toByte)
    }
    val ebml = el(Mkv.EBML, el(Mkv.DocType, "webm".getBytes("US-ASCII")))
    val info = el(Mkv.Info,
      el(Mkv.TimestampScale, uintBody(1000000L)) ++
        el(Mkv.Duration, floatBody(2000.0)))
    // CodecID FIRST, TrackType after — the order under test
    val videoTrack = el(Mkv.TrackEntry,
      el(Mkv.CodecID, "V_VP9".getBytes("US-ASCII")) ++
        el(Mkv.TrackType, uintBody(1)) ++
        el(Mkv.Video, el(Mkv.PixelWidth, uintBody(640)) ++
          el(Mkv.PixelHeight, uintBody(360))))
    val audioTrack = el(Mkv.TrackEntry,
      el(Mkv.CodecID, "A_OPUS".getBytes("US-ASCII")) ++
        el(Mkv.TrackType, uintBody(2)) ++
        el(Mkv.Audio, el(Mkv.SamplingFrequency, floatBody(48000.0)) ++
          el(Mkv.Channels, uintBody(2))))
    val block = {
      val body = new java.io.ByteArrayOutputStream()
      body.write(0x81); body.write(0); body.write(0); body.write(0x80)
      (0 until 10).foreach(j => body.write(0x20 + j))
      el(Mkv.SimpleBlock, body.toByteArray)
    }
    val cluster = el(Mkv.Cluster, el(Mkv.Timestamp, uintBody(0)) ++ block)
    val segment = el(Mkv.Segment,
      info ++ el(Mkv.Tracks, videoTrack ++ audioTrack) ++ cluster)
    val m = parseMkvMeta(1, ebml ++ segment).get
    assert(m.vCodec === "V_VP9")  // not misfiled as the audio codec
    assert(m.aCodec === "A_OPUS")
    assert(m.width === 640 && m.channels === 2)
  }

  test("mkv: truncation, unknown-size vints, missing tracks rejected") {
    val good = buildMkvPattern(5, 20)
    assert(parseMkvMeta(5, good.take(good.length / 2)).isEmpty)
    assert(parseMkvMeta(5, good.take(30)).isEmpty)
    // corrupt the Segment size vint into the all-ones "unknown size"
    val bad = good.clone()
    // EBML header comes first; find the Segment ID 0x18538067
    val segAt = (0 until bad.length - 4).find(i =>
      (bad(i) & 0xff) == 0x18 && (bad(i + 1) & 0xff) == 0x53 &&
        (bad(i + 2) & 0xff) == 0x80 && (bad(i + 3) & 0xff) == 0x67).get
    val sizeAt = segAt + 4
    val width = Integer.numberOfLeadingZeros(bad(sizeAt) & 0xff) - 24 + 1
    (0 until width).foreach { i =>
      bad(sizeAt + i) = (if (i == 0) ((0x100 >>> width) - 1) | (0x100 >>> width)
        else 0xff).toByte
    }
    assert(parseMkvMeta(5, bad).isEmpty)
  }

  // ----------------------------------------------------------- Opus

  test("opus toc: all four codes hand-computed for one doc") {
    val id = 9L
    val np = 6 + 50 % 8 // nChars = 50 → np = 6
    val m = parseOpusToc(id, buildOpusTocPattern(id, 50)).get
    assert(m.nPackets === np)
    def u(k: Int) = id + 3L * k
    def cfg(k: Int) =
      if (k % 4 == 3 || k % 2 == 0) 16 + (u(k) % 16).toInt
      else (u(k) % 16).toInt
    def dur(c: Int): Long =
      if (c < 12) Seq(10000L, 20000L, 40000L, 60000L)(c % 4)
      else if (c < 16) { if (c % 2 == 0) 10000L else 20000L }
      else Seq(2500L, 5000L, 10000L, 20000L)((c - 16) % 4)
    val frames = (0 until np).map { k =>
      k % 4 match { case 0 => 1; case 3 => (2 + u(k) % 3).toInt; case _ => 2 }
    }
    assert(m.nFrames === frames.sum)
    assert(m.durationUs === (0 until np).map(k =>
      frames(k) * dur(cfg(k))).sum)
    assert(m.stereoPackets === (0 until np).count(k => (u(k) >> 1) % 2 == 1))
    assert(m.paddingBytes === (0 until np).map { k =>
      if (k % 4 == 3 && u(k) % 3 == 0) u(k) % 20 else 0L }.sum)
  }

  test("opus toc: code-2 crosses the 252-byte length-encoding boundary") {
    // find a doc where some code-2 packet has len1 >= 252 AND one < 252
    val metas = (0L until 30L).map(id =>
      (id, parseOpusToc(id, buildOpusTocPattern(id, 99)).get))
    // every doc parses; frame_bytes match the grid arithmetic
    metas.foreach { case (id, m) =>
      val np = 6 + (99 % 8)
      val expect = (0 until np).map { k =>
        val u = id + 3L * k
        (k % 4) match {
          case 0 => 10 + u % 60
          case 1 => 2 * (8 + u % 30)
          case 2 => 200 + u % 300 + 7 + u % 40
          case _ =>
            val mm = (2 + u % 3).toInt
            if (u % 2 == 1)
              (0 until mm - 1).map(i => 6 + (u + i) % 80).sum + 9 + u % 33
            else mm * (9 + u % 25)
        }
      }.sum
      assert(m.frameBytes === expect, s"id=$id")
    }
    // and the boundary is actually exercised somewhere in the range
    val len1s = for (id <- 0L until 30L; k <- 2 until 14 by 4)
      yield 200 + (id + 3L * k) % 300
    assert(len1s.exists(_ >= 252) && len1s.exists(_ < 252))
  }

  test("opus toc: corrupt packets rejected") {
    val good = buildOpusTocPattern(3, 20)
    // truncate inside the last page → page walk fails
    assert(parseOpusToc(3, good.take(good.length - 5)).isEmpty)
    // CBR body not divisible by M: flip a lacing byte would break CRC;
    // instead parse a synthetic bad packet directly through the gate
    // by rebuilding with a corrupted CRC
    val bad = good.clone()
    bad(good.length - 1) = (bad(good.length - 1) ^ 1).toByte
    assert(parseOpusToc(3, bad).isEmpty)
  }

  // ------------------------------------------------------------ ID3

  test("id3: v2.3 and v2.4 walk with syncsafe carries and encodings") {
    // id=129: v2.4 (odd), title pad 129%120=9... pick an id where the
    // tag crosses 128 bytes so the syncsafe carry matters: any id with
    // id%120 > 30 or so; id=100 (v2.3) and id=101 (v2.4)
    val m3 = parseId3(100, buildId3Pattern(100)).get
    assert(m3.version === 3)
    assert(m3.title === "Title " + ('A' + 100 % 26).toChar + "0" +
      "x" * 100)
    assert(m3.artist === "Artist 20")
    assert(m3.album === "Album 10")
    assert(m3.track === 1)
    assert(m3.year === 1970 + 100 % 55)
    assert(m3.comment === "note 2")
    assert(m3.nFrames === 7)
    val m4 = parseId3(101, buildId3Pattern(101)).get
    assert(m4.version === 4)
    assert(m4.year === 1970 + 101 % 55) // TDRC on the v2.4 side
    // the tag size itself round-trips (syncsafe carry exercised)
    assert(m4.tagBytes > 128)
  }

  test("id3: corrupt frames, bad sizes, dirty padding rejected") {
    val good = buildId3Pattern(8)
    // frame id with a lowercase char
    val bad = good.clone(); bad(10) = 'q'
    assert(parseId3(8, bad).isEmpty)
    // non-zero byte in the padding region (id=8 → 8 bytes of padding)
    val dirty = good.clone(); dirty(good.length - 1) = 7
    assert(parseId3(8, dirty).isEmpty)
    // truncated tag (header claims more than present)
    assert(parseId3(8, good.take(good.length - 20)).isEmpty)
    assert(parseId3(8, "ID3".getBytes).isEmpty)
  }

  // ----------------------------------------------------------- TIFF

  test("tiff: both byte orders decode hand-computed pixels across strips") {
    Seq(4L, 7L).foreach { id => // II and MM
      val m = parseTiffPixels(id, buildTiffPattern(id)).get
      val w = 8 + (id % 40).toInt; val h = 6 + (id % 30).toInt
      val rps = 1 + (id % 4).toInt
      assert(m.byteOrder === (if (id % 2 == 0) "II" else "MM"))
      assert(m.width === w)
      assert(m.height === h)
      assert(m.nStrips === (h + rps - 1) / rps)
      val pix = for (y <- 0 until h; x <- 0 until w)
        yield ((id + 3 * x + 7 * y) % 251).toInt
      assert(m.sumPix === pix.map(_.toLong).sum)
      assert(m.peak === pix.max)
      assert(m.firstPix === pix.head)
    }
  }

  test("tiff: geometry and bounds violations rejected") {
    val good = buildTiffPattern(10)
    // truncate inside the last strip
    assert(parseTiffPixels(10, good.take(good.length - 3)).isEmpty)
    // corrupt the magic 42
    val bad = good.clone(); bad(2) = 41
    assert(parseTiffPixels(10, bad).isEmpty)
    assert(parseTiffPixels(10, "II".getBytes).isEmpty)
  }

  test("tiff lzw/packbits/deflate: compressed fixtures decode to the " +
    "pattern") {
    // id mod 3 rotates LZW / PackBits / deflate; LZW+deflate take
    // Predictor 2 on (id/3) odd — ids cover all six combinations
    Seq(0L, 1L, 2L, 3L, 4L, 5L, 6L, 13L, 36L).foreach { id =>
      val m = parseTiffPixels(id, buildTiffCompressedPattern(id)).get
      val w = 8 + (id % 37).toInt; val h = 5 + (id % 23).toInt
      val rps = 2 + (id % 5).toInt
      assert(m.width === w && m.height === h)
      assert(m.nStrips === (h + rps - 1) / rps)
      val pix = for (y <- 0 until h; x <- 0 until w)
        yield ((id + 5 * (x / 4) + 3 * y) % 256).toInt
      assert(m.sumPix === pix.map(_.toLong).sum, s"id=$id")
      assert(m.peak === pix.max, s"id=$id")
      assert(m.firstPix === pix.head, s"id=$id")
    }
  }

  test("tiff lzw: deep-table round-trip crosses every early-change " +
    "width and the 4094-entry Clear") {
    // LCG bytes: low compressibility -> the phrase table fills fast;
    // 60k bytes force 9->10->11->12-bit switches AND the table-full
    // ClearCode reset, none of which small fixture strips reach
    var s = 12345L
    val data = Array.fill(60000) {
      s = s * 6364136223846793005L + 1442695040888963407L
      ((s >>> 33) & 0xff).toByte
    }
    // and a highly repetitive buffer (KwKwK-heavy, long phrases)
    val rep = Array.tabulate(20000)(i => ((i / 7) % 5).toByte)
    def roundTrips(lzw: Lzw, in: Array[Byte]): Boolean = {
      val enc = lzw.encode(in)
      val dec = lzw.decode(enc, 0, enc.length, in.length)
      dec != null && java.util.Arrays.equals(dec, in)
    }
    // the shared coder in both conventions: TIFF's MSB-first early
    // change, and GIF's LSB-first schedule
    val gif = Lzw(8, msbFirst = false, earlyChange = false)
    for (lzw <- Seq(MediaCodec.TiffCodec.lzw, gif)) {
      assert(roundTrips(lzw, data), lzw)
      assert(roundTrips(lzw, rep), lzw)
      assert(lzw.encode(rep).length < rep.length / 3) // it compresses
      // truncation rejects
      val enc = lzw.encode(data)
      assert(lzw.decode(enc, 0, enc.length / 2, data.length) == null, lzw)
      // tiny inputs: no phrase codes at all, one literal
      assert(roundTrips(lzw, Array.emptyByteArray), lzw)
      assert(roundTrips(lzw, Array[Byte](7)), lzw)
      // every length up to past the 11->12-bit switch, so the last code
      // lands on each width switch: an encoder that skips the switch
      // after its last code writes an EOI its decoder misreads
      val rnd = new scala.util.Random(3)
      val bad = (1 to 2100).filterNot(n => roundTrips(lzw,
        Array.fill[Byte](n)(rnd.nextInt(256).toByte)))
      assert(bad.isEmpty, s"$lzw fails at lengths ${bad.take(5)}")
    }
    // GIF's smaller minimum code sizes, on data of that alphabet
    for (min <- 2 to 7) {
      val small = data.map(b => (b & ((1 << min) - 1)).toByte)
      assert(roundTrips(Lzw(min, msbFirst = false, earlyChange = false),
        small), s"min code size $min")
    }
  }

  test("tiff packbits: -128 noop, 128-byte packets, boundary runs") {
    import MediaCodec.TiffCodec._
    // hand-built stream with a -128 noop between packets
    val hand = Array[Byte](2, 10, 20, 30, -128, -3, 7, 0, 9)
    val out = packBitsDecode(hand, 0, hand.length, 8)
    assert(out != null &&
      out.toSeq === Seq[Byte](10, 20, 30, 7, 7, 7, 7, 9))
    // long literal (no runs) forces the 128-byte packet split
    val lit = Array.tabulate(300)(i => (i % 251).toByte)
    val e = packBitsEncode(lit, 300)
    val d = packBitsDecode(e, 0, e.length, 300)
    assert(d != null && java.util.Arrays.equals(d, lit))
    // truncated replicate packet rejects
    assert(packBitsDecode(Array[Byte](-3), 0, 1, 4) == null)
  }

  test("avc i_pcm: slice decode reproduces the raw samples exactly") {
    for (id <- Seq(0L, 1L, 7L, 85L, 255L); n <- Seq(0L, 2L, 5L)) {
      val m = parseAvcIslice(id, buildAvcIslicePattern(id, n)).get
      val mw = 1 + (n % 3).toInt; val mh = 1 + ((n / 3) % 2).toInt
      assert(m.width === 16 * mw && m.height === 16 * mh)
      assert(m.nMbs === mw * mh)
      assert(m.qpY === (18 + id % 11 + id % 7).toInt)
      var sy = 0L; var scb = 0L; var scr = 0L
      for (y <- 0 until 16 * mh; x <- 0 until 16 * mw)
        sy += ((id + 3 * x + 5 * y) % 256).toInt
      for (y <- 0 until 8 * mh; x <- 0 until 8 * mw) {
        scb += ((id + 2 * x + 7 * y) % 256).toInt
        scr += ((3 * id + x + y) % 256).toInt
      }
      assert(m.sumY === sy, s"id=$id n=$n")
      assert(m.sumCb === scb && m.sumCr === scr)
      assert(m.firstY === (id % 256).toInt)
    }
    // truncated slice data and a broken mb_type reject, never throw
    val good = buildAvcIslicePattern(3L, 4L)
    assert(parseAvcIslice(3L, good.take(good.length - 40)).isEmpty)
    (0 until good.length by 13).foreach(c =>
      parseAvcIslice(3L, good.take(c))) // totality
  }

  // --------------------------------------------------- JPEG restarts

  test("jpeg: restart markers decode identically to the unmarked stream") {
    // same picture with and without DRI must decode to the same pixels;
    // interval 1 maximizes marker count and forces DC-predictor resets
    Seq(1, 2, 3).foreach { ri =>
      val plain = decodeJpegPixels(7, buildJpegPattern(40, 24, 7)).get
      val marked = decodeJpegPixels(7,
        buildJpegPattern(40, 24, 7, restartInterval = ri)).get
      assert(marked === plain, s"ri=$ri")
    }
    // color + 4:2:0 paths too
    val cPlain = decodeJpegRgb(9, buildJpegColorPattern(24, 16, 9)).get
    val cMarked = decodeJpegRgb(9,
      buildJpegColorPattern(24, 16, 9, restartInterval = 2)).get
    assert(cMarked === cPlain)
    val sPlain = decodeJpegRgb(11, buildJpeg420Pattern(33, 18, 11)).get
    val sMarked = decodeJpegRgb(11,
      buildJpeg420Pattern(33, 18, 11, restartInterval = 1)).get
    assert(sMarked === sPlain)
  }

  test("jpeg: wrong RSTn sequence and truncated markers rejected") {
    val good = buildJpegPattern(40, 24, 5, restartInterval = 1)
    // find the first RST0 (FF D0) in the entropy stream and break its n
    val at = (2 until good.length - 1).find(i =>
      (good(i) & 0xff) == 0xff && (good(i + 1) & 0xff) == 0xd0).get
    val bad = good.clone()
    bad(at + 1) = 0xd5.toByte // out-of-sequence restart number
    assert(decodeJpegPixels(5, bad).isEmpty)
  }
}
