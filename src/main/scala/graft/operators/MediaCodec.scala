package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.col
import Bytes._
import scala.reflect.runtime.universe.TypeTag

/** REAL media parsing and decoding in pure JVM code — the part of the
  * multimodal path that needs no native codec library. Container walks
  * (BMP, PNG, GIF, JPEG markers, RIFF/WAVE, ISO-BMFF, MPEG audio, ADTS,
  * Ogg, Matroska, WebP, TIFF/EXIF, ID3, Annex-B H.264 parameter sets)
  * and full decodes (PNG inflate + defilter, GIF LZW, baseline and
  * progressive JPEG entropy decode + IDCT, VP8L, FLAC, µ-law and
  * IMA-ADPCM WAV, TIFF strips, H.264 I_PCM slices) run here. Only the
  * remaining entropy-coded payloads (MP3/AAC granules, Vorbis/Opus
  * frames, CAVLC/CABAC H.264 slices) stay behind the
  * [[Multimodal.MediaDecoder]] seam.
  *
  * Format references (public): BMP file header + BITMAPINFOHEADER as
  * documented in the Windows SDK (14 + 40 bytes, 4-byte-aligned rows,
  * negative biHeight = top-down); RIFF/WAVE as in the Microsoft/IBM
  * WAVE spec (chunked: `fmt ` then `data`, possibly with other chunks
  * like `LIST` between them).
  *
  * Same scale contract as [[Multimodal]]: payloads are built by
  * [[fixture]] and decoded by [[decodeEach]] per partition, so they never
  * cross a shuffle; only the small typed metadata rows continue
  * downstream.
  */
object MediaCodec {

  /** Parsed container metadata. `valid=false` rows carry zeros — a
    * corrupt payload must be a datum, not a task failure (at 100 TB
    * some fraction of every crawl IS corrupt). */
  final case class AvMeta(id: Long, kind: String, byteLen: Int,
                          valid: Boolean, width: Int, height: Int,
                          channels: Int, sampleRate: Int, nSamples: Long)

  // --------------------------------------------------- Spark plumbing

  /** The gated fixtures' payload source: one (doc_id, payload) row per
    * document, `build(doc_id, n_chars)` run map-side. Only the two seed
    * longs ride the [[Partitioning.spread]] exchange that lets a
    * single-split fixture scan build on every core. */
  def fixture(spark: SparkSession, docs: DataFrame)(
      build: (Long, Long) => Array[Byte]): Dataset[(Long, Array[Byte])] = {
    import spark.implicits._
    Partitioning.spread(docs.select(col("doc_id").cast("long"),
        col("n_chars").cast("long")))
      .as[(Long, Long)]
      .map { case (id, nChars) => (id, build(id, nChars)) }
  }

  /** Per-partition decode over (id, payload) rows: `parse` yields zero
    * or more typed rows per payload, so payloads never shuffle and only
    * the small stat rows continue downstream. */
  def decodeEach[T <: Product : TypeTag](media: Dataset[(Long, Array[Byte])])(
      parse: (Long, Array[Byte]) => IterableOnce[T]): Dataset[T] = {
    import media.sparkSession.implicits._
    media.mapPartitions(_.flatMap { case (id, p) => parse(id, p) })
  }

  // ---------------------------------------------------------- parsing

  /** BMP: "BM" + BITMAPINFOHEADER. Returns (width, |height|) — a
    * negative biHeight encodes top-down row order, not a negative
    * size. Truncated headers parse invalid. */
  def parseBmp(b: Array[Byte]): Option[(Int, Int)] =
    if (b.length >= 54 && b(0) == 'B' && b(1) == 'M' &&
        le32(b, 14).toInt >= 40) { // header size: BITMAPINFOHEADER or larger
      val w = le32(b, 18).toInt
      val h = le32(b, 22).toInt
      if (w > 0 && h != 0 && h != Int.MinValue) Some((w, math.abs(h)))
      else None
    } else None

  /** PNG: 8-byte signature + IHDR chunk (big-endian, always first).
    * The IHDR CRC32 is VERIFIED (java.util.zip.CRC32 over type+data, per
    * the PNG spec) — a bit-flipped header parses invalid instead of
    * yielding garbage dimensions. */
  def parsePng(b: Array[Byte]): Option[(Int, Int)] = {
    val sig = Array[Int](0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
    if (b.length < 33 || !sig.indices.forall(i => (b(i) & 0xff) == sig(i)))
      return None
    if (be32(b, 8) != 13L || tag(b, 12) != "IHDR") return None
    val crc = new java.util.zip.CRC32()
    crc.update(b, 12, 4 + 13) // chunk type + data
    if (crc.getValue != be32(b, 29)) return None
    val w = be32(b, 16); val h = be32(b, 20)
    if (w > 0 && h > 0 && w <= Int.MaxValue && h <= Int.MaxValue)
      Some((w.toInt, h.toInt))
    else None
  }

  /** JPEG: walk the marker segments to the first SOFn frame header
    * (C0–CF minus C4/C8/CC) — dimension extraction needs the marker
    * structure only, never the entropy-coded stream. Fill bytes (FF
    * runs) are skipped per the spec; EOI or SOS before any SOF means
    * no parseable frame. */
  def parseJpeg(b: Array[Byte]): Option[(Int, Int)] = {
    if (b.length < 4 || u8(b, 0) != 0xff || u8(b, 1) != 0xd8) return None
    var off = 2
    while (off + 4 <= b.length) {
      if (u8(b, off) != 0xff) return None // desynchronized
      var mOff = off + 1
      while (mOff < b.length && u8(b, mOff) == 0xff) mOff += 1 // fill bytes
      if (mOff + 3 > b.length) return None
      val marker = u8(b, mOff)
      if (marker == 0xd9 || marker == 0xda) return None // EOI / SOS
      val len = be16(b, mOff + 1)
      if (len < 2) return None
      if (marker >= 0xc0 && marker <= 0xcf &&
          marker != 0xc4 && marker != 0xc8 && marker != 0xcc) {
        if (mOff + 8 > b.length) return None
        val h = be16(b, mOff + 4)
        val w = be16(b, mOff + 6)
        return if (w > 0 && h > 0) Some((w, h)) else None
      }
      off = mOff + 1 + len
    }
    None
  }

  /** GIF87a/89a: 6-byte signature + little-endian logical screen size. */
  def parseGif(b: Array[Byte]): Option[(Int, Int)] = {
    if (b.length < 10) return None
    val sig = new String(b, 0, 6, java.nio.charset.StandardCharsets.US_ASCII)
    if (sig != "GIF87a" && sig != "GIF89a") return None
    val w = le16(b, 6); val h = le16(b, 8)
    if (w > 0 && h > 0) Some((w, h)) else None
  }

  /** The RIFF/WAVE chunks every WAV decoder reads, from one
    * [[Bytes.riffWalk]] (chunks like `LIST` legally sit between them
    * and skip by size; odd chunks pad to even): the first `fmt ` whose
    * 16-byte core is present — plus its extension's samplesPerBlock
    * when 20 bytes are, else −1 — the first `fact` frame count (−1
    * when absent), and the first `data` chunk's offset and length,
    * clamped to the bytes actually present. */
  private final case class WavHeader(format: Int, channels: Int, rate: Int,
      blockAlign: Int, bits: Int, samplesPerBlock: Int, factFrames: Long,
      dataOff: Int, dataLen: Long)

  private def wavHeader(b: Array[Byte]): Option[WavHeader] = {
    if (b.length < 12 || tag(b, 0) != "RIFF" || tag(b, 8) != "WAVE")
      return None
    var fmt = -1; var fact = -1L; var dataOff = -1; var dataLen = -1L
    riffWalk(b, 12) { (id, body, size) =>
      if (id == "fmt " && fmt < 0 && body + 16 <= b.length) fmt = body
      else if (id == "fact" && fact < 0 && body + 4 <= b.length)
        fact = le32(b, body)
      else if (id == "data" && dataOff < 0) {
        dataOff = body; dataLen = math.min(size, b.length - body)
      }
      true
    }
    if (fmt < 0 || dataOff < 0) None
    else Some(WavHeader(le16(b, fmt), le16(b, fmt + 2),
      le32(b, fmt + 4).toInt, le16(b, fmt + 12), le16(b, fmt + 14),
      if (fmt + 20 <= b.length) le16(b, fmt + 18) else -1, fact, dataOff,
      dataLen))
  }

  /** The `fmt ` core of a RIFF/WAVE file; `ext` shorts follow it. */
  private def wavFmt(format: Int, ch: Int, rate: Int, byteRate: Int,
                     align: Int, bits: Int, ext: Int*): Array[Byte] =
    bytes(16 + 2 * ext.size, java.nio.ByteOrder.LITTLE_ENDIAN) { f =>
      f.putShort(format.toShort).putShort(ch.toShort).putInt(rate)
        .putInt(byteRate).putShort(align.toShort).putShort(bits.toShort)
      ext.foreach(e => f.putShort(e.toShort))
    }

  /** RIFF/WAVE: (channels, sampleRate, bitsPerSample, nSamples). */
  def parseWav(b: Array[Byte]): Option[(Int, Int, Int, Long)] =
    wavHeader(b).filter(h => h.channels > 0 && h.bits > 0 && h.rate > 0)
      .map(h => (h.channels, h.rate, h.bits,
        h.dataLen / (h.channels.toLong * (h.bits / 8).max(1))))

  /** Per-image pixel statistics from a REAL decode — means are exact
    * integer channel sums divided once, so the SQL twin reproduces them
    * bit-for-bit. `topRowMean` averages all three channels of the
    * IMAGE-space top row: the one statistic that catches a decoder
    * mishandling BMP's bottom-up default row order (whole-image means
    * are row-order invariant). */
  final case class BmpPixels(id: Long, width: Int, height: Int,
                             meanR: Double, meanG: Double, meanB: Double,
                             topRowMean: Double)

  /** Full pixel decode of an uncompressed 24-bpp BMP — the real codec
    * path (pure JVM: the format is fixed-layout BGR rows, 4-byte
    * aligned, bottom-up unless biHeight < 0, per the Windows SDK
    * layout). Returns None for anything that is not a well-formed
    * uncompressed 24-bpp BMP — palette/compressed/32-bpp variants stay
    * behind the decoder seam with the entropy-coded formats. */
  def decodeBmpPixels(id: Long, b: Array[Byte]): Option[BmpPixels] = try {
    val (w, h, topDown, off, stride, bpp, palette) =
      bmpLayout(b).getOrElse(return None)
    var sumR = 0L; var sumG = 0L; var sumB = 0L; var top = 0L
    var y = 0
    while (y < h) { // y is the IMAGE row; map to the stored row
      val stored = if (topDown) y else h - 1 - y
      // fits Int: off + stride·h ≤ b.length ≤ Int.MaxValue (checked)
      val ro = (off.toLong + stored * stride).toInt
      var x = 0
      while (x < w) {
        var r = 0; var g = 0; var bl = 0
        if (bpp == 24) {
          val p = ro + 3 * x // BGR order
          bl = b(p) & 0xff; g = b(p + 1) & 0xff; r = b(p + 2) & 0xff
        } else { // 8-bpp: index through the BGRA color table
          val ci = b(ro + x) & 0xff
          if (4 * ci >= palette.length) return None
          bl = palette(4 * ci) & 0xff
          g = palette(4 * ci + 1) & 0xff
          r = palette(4 * ci + 2) & 0xff
        }
        sumB += bl; sumG += g; sumR += r
        if (y == 0) top += bl + g + r
        x += 1
      }
      y += 1
    }
    val n = w.toLong * h
    Some(BmpPixels(id, w, h, sumR.toDouble / n, sumG.toDouble / n,
      sumB.toDouble / n, top.toDouble / (3L * w)))
  } catch { // corrupt payload is a datum, never a task failure
    case scala.util.control.NonFatal(_) => None
  }

  /** Shared BMP layout parse: uncompressed 24-bpp truecolor or 8-bpp
    * PALETTE (BITMAPINFOHEADER color table — BGRA quads, biClrUsed
    * entries, 0 = 256) — returns (w, h, topDown, pixelOff, stride,
    * bpp, palette or null). Everything else parses None. */
  private def bmpLayout(b: Array[Byte])
      : Option[(Int, Int, Boolean, Int, Long, Int, Array[Byte])] = try {
    if (!(b.length >= 54 && b(0) == 'B' && b(1) == 'M' &&
        le32(b, 14).toInt >= 40)) return None
    val off = le32(b, 10).toInt // pixel-array offset from the file header
    val w = le32(b, 18).toInt
    val hRaw = le32(b, 22).toInt
    val topDown = hRaw < 0
    val h = math.abs(hRaw)
    val bpp = le16(b, 28)
    val comp = le32(b, 30).toInt // BI_RGB = 0 only
    if (w <= 0 || h <= 0 || hRaw == Int.MinValue ||
        (bpp != 24 && bpp != 8) || comp != 0)
      return None
    // stride in Long: a crafted w ≥ ~89M overflows the Int expression
    // to a negative stride that slips past the bounds check below
    val stride = ((bpp.toLong * w + 31L) / 32L) * 4L // rows pad to 4
    if (off < 54 || off.toLong + stride * h > b.length) return None
    val palette =
      if (bpp == 24) null
      else {
        val clrUsed = le32(b, 46).toInt
        val colors = if (clrUsed == 0) 256 else clrUsed
        val tableOff = 14 + le32(b, 14).toInt // after the info header
        if (colors < 0 || colors > 256 ||
            tableOff.toLong + 4L * colors > b.length) return None
        java.util.Arrays.copyOfRange(b, tableOff, tableOff + 4 * colors)
      }
    Some((w, h, topDown, off, stride, bpp, palette))
  } catch { case scala.util.control.NonFatal(_) => None }

  /** Real encode of an 8-bpp PALETTE BMP: the 54-byte headers with a
    * 256-entry BGRA color table (entry i → (i, 2i mod 255, 3i mod 253)
    * — the shared palette formula of the GIF and palette-PNG
    * fixtures), index (x + 7y + seed) mod 256, 1-byte-per-pixel rows
    * padded to 4 bytes, bottom-up or top-down. */
  def buildBmpPalettePattern(width: Int, height: Int, topDown: Boolean,
                             seed: Long): Array[Byte] = {
    require(width > 0 && height > 0)
    val rowSize = ((8 * width + 31) / 32) * 4
    val dataLen = rowSize * height
    val total = 54 + 1024 + dataLen
    val b = java.nio.ByteBuffer.allocate(total)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(total)
      .putShort(0).putShort(0).putInt(54 + 1024) // pixel offset
    b.putInt(40).putInt(width).putInt(if (topDown) -height else height)
      .putShort(1).putShort(8) // planes, bpp
      .putInt(0).putInt(dataLen).putInt(2835).putInt(2835)
      .putInt(256).putInt(0) // biClrUsed, biClrImportant
    var i = 0
    while (i < 256) { // BGRA quads
      b.put(((3 * i) % 253).toByte).put(((2 * i) % 255).toByte)
        .put(i.toByte).put(0.toByte)
      i += 1
    }
    val arr = b.array()
    var y = 0
    while (y < height) {
      val stored = if (topDown) y else height - 1 - y
      val base = 54 + 1024 + stored * rowSize
      var x = 0
      while (x < width) {
        arr(base + x) = ((x + 7L * y + seed) % 256).toByte
        x += 1
      }
      y += 1
    }
    arr
  }

  /** Per-clip sample statistics from a REAL PCM decode — integer-exact
    * sums divided once, like [[BmpPixels]]: `meanSample` catches a
    * decoder misreading the little-endian int16 layout or the sign,
    * `meanAbs`/`peakAbs` are the loudness stats an audio-curation
    * pipeline filters on, and `firstFrameMean` (mean over channels of
    * frame 0) catches a wrong data-chunk offset. */
  final case class WavSamples(id: Long, channels: Int, sampleRate: Int,
                              nSamples: Long, meanSample: Double,
                              meanAbs: Double, peakAbs: Int,
                              firstFrameMean: Double)

  /** Full sample decode of an uncompressed 16-bit PCM RIFF/WAVE — the
    * real audio codec path (pure JVM: little-endian int16 frames,
    * channel-interleaved, after the chunk walk [[parseWav]] documents).
    * Returns None for anything that is not well-formed 16-bit PCM —
    * compressed/float/8-bit variants stay behind the decoder seam. */
  def decodeWavSamples(id: Long, b: Array[Byte]): Option[WavSamples] =
    pcm16(b).map(h => frameStats(id, h, 2)(p => le16(b, p).toShort.toInt))

  /** A well-formed 16-bit PCM header. */
  private def pcm16(b: Array[Byte]): Option[WavHeader] =
    wavHeader(b).filter(h => h.format == 1 && h.bits == 16 &&
      h.channels > 0 && h.rate > 0)

  /** The loudness statistics of [[WavSamples]], accumulated exactly. */
  private final class Loudness {
    private var sum = 0L; private var sumAbs = 0L
    private var peak = 0; private var first = 0L
    def add(v: Int, frame: Long): Unit = {
      sum += v
      val a = math.abs(v)
      sumAbs += a
      if (a > peak) peak = a
      if (frame == 0L) first += v
    }
    def row(id: Long, ch: Int, rate: Int, nFrames: Long): WavSamples = {
      val n = nFrames * ch
      WavSamples(id, ch, rate, nFrames,
        if (n > 0) sum.toDouble / n else 0.0,
        if (n > 0) sumAbs.toDouble / n else 0.0,
        peak,
        if (nFrames > 0) first.toDouble / ch else 0.0)
    }
  }

  /** Stats over every whole frame of `width`-byte interleaved samples,
    * `sample(offset)` decoding one. */
  private def frameStats(id: Long, h: WavHeader, width: Int)(
      sample: Int => Int): WavSamples = {
    val ch = h.channels
    val nFrames = h.dataLen / (ch * width)
    val acc = new Loudness
    var f = 0L
    while (f < nFrames) {
      var c = 0
      while (c < ch) {
        acc.add(sample((h.dataOff + (f * ch + c) * width).toInt), f)
        c += 1
      }
      f += 1
    }
    acc.row(id, ch, h.rate, nFrames)
  }

  // ----------------------------------------------------- µ-law audio

  /** G.711 µ-law expand: one companded byte → linear int16. The
    * CCITT/G.711 reference formula — complement, 3-bit exponent, 4-bit
    * mantissa, bias 0x84 — stateless per sample, so a SQL oracle can
    * mirror it with integer arithmetic. */
  def ulawDecodeSample(b0: Int): Int = {
    val u = ~b0 & 0xff
    var t = ((u & 0x0f) << 3) + 0x84
    t <<= (u & 0x70) >> 4
    if ((u & 0x80) != 0) 0x84 - t else t - 0x84
  }

  /** G.711 µ-law compress: linear int16 → companded byte (the search
    * half of the pair; used by the round-trip spec). */
  def ulawEncodeSample(pcm: Int): Int = {
    var s = pcm
    val sign = if (s < 0) { s = -s; 0x80 } else 0
    if (s > 32635) s = 32635
    s += 0x84
    var exp = 7
    var mask = 0x4000
    while (exp > 0 && (s & mask) == 0) { exp -= 1; mask >>= 1 }
    ~(sign | (exp << 4) | ((s >> (exp + 3)) & 0x0f)) & 0xff
  }

  /** Full sample decode of a µ-law RIFF/WAVE (format tag 7, 8-bit
    * companded) — the real COMPRESSED-audio codec path, the telephony
    * G.711 standard: chunk walk, then per-byte expansion to linear
    * int16 and the same loudness statistics as [[decodeWavSamples]].
    * Non-µ-law streams return None. */
  def decodeWavUlaw(id: Long, b: Array[Byte]): Option[WavSamples] =
    wavHeader(b).filter(h => h.format == 7 && h.bits == 8 &&
      h.channels > 0 && h.rate > 0)
      .map(h => frameStats(id, h, 1)(p => ulawDecodeSample(b(p) & 0xff)))

  /** A µ-law WAV with a deterministic companded byte pattern
    * b(f, c) = (5f + 11c + seed) mod 256 — every statistic follows
    * from the G.711 expansion of that arithmetic. Its odd-length data
    * chunks carry no pad byte (the fixture's frozen layout). */
  def buildWavUlawPattern(channels: Int, sampleRate: Int, nSamples: Long,
                          seed: Long): Array[Byte] = {
    require(channels > 0 && sampleRate > 0 && nSamples >= 0)
    val data = new Array[Byte]((nSamples * channels).toInt)
    var i = 0
    while (i < data.length) { // sample i = frame i / ch, channel i % ch
      data(i) = ((5L * (i / channels) + 11 * (i % channels) + seed) % 256)
        .toByte
      i += 1
    }
    riff("WAVE", Seq(
      "fmt " -> wavFmt(7, channels, sampleRate, sampleRate * channels,
        channels, 8), // WAVE_FORMAT_MULAW, 1 byte per sample
      "data" -> data), pad = false)
  }

  // ------------------------------------------------ IMA-ADPCM audio

  /** IMA/DVI ADPCM step-size table — the public 89-entry reference
    * table (IMA Digital Audio Focus Group algorithm, also RFC 3551
    * §4.5.1 DVI4 and the Microsoft WAVE_FORMAT_IMA_ADPCM layout). */
  val imaStepTable: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31,
    34, 37, 41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130,
    143, 157, 173, 190, 209, 230, 253, 279, 307, 337, 371, 408, 449,
    494, 544, 598, 658, 724, 796, 876, 963, 1060, 1166, 1282, 1411,
    1552, 1707, 1878, 2066, 2272, 2499, 2749, 3024, 3327, 3660, 4026,
    4428, 4871, 5358, 5894, 6484, 7132, 7845, 8630, 9493, 10442,
    11487, 12635, 13899, 15289, 16818, 18500, 20350, 22385, 24623,
    27086, 29794, 32767)

  /** Index adaptation per nibble magnitude (nibble & 7). */
  val imaIndexDelta: Array[Int] = Array(-1, -1, -1, -1, 2, 4, 6, 8)

  /** One IMA-ADPCM state step, shared VERBATIM by the encoder and the
    * decoder (the codec is a delta follower: both sides reconstruct
    * the same predicted sample from the same nibble, or they drift).
    * Returns (decodedSample, nextIndex). All arithmetic is integer
    * shifts and adds, so a SQL oracle mirrors it exactly. */
  private def imaStep(pred: Int, index: Int, nibble: Int): (Int, Int) = {
    val step = imaStepTable(index)
    var dq = step >> 3
    if ((nibble & 4) != 0) dq += step
    if ((nibble & 2) != 0) dq += step >> 1
    if ((nibble & 1) != 0) dq += step >> 2
    val next = math.max(-32768, math.min(32767,
      if ((nibble & 8) != 0) pred - dq else pred + dq))
    val ni = math.max(0, math.min(88, index + imaIndexDelta(nibble & 7)))
    (next, ni)
  }

  /** The standard greedy IMA quantizer: pick the nibble whose
    * reconstruction best tracks `target` from (pred, index). */
  private def imaEncodeNibble(pred: Int, index: Int, target: Int): Int = {
    val step = imaStepTable(index)
    val diff = target - pred
    var nibble = if (diff < 0) 8 else 0
    var ad = if (diff < 0) -diff else diff
    if (ad >= step) { nibble |= 4; ad -= step }
    if (ad >= (step >> 1)) { nibble |= 2; ad -= step >> 1 }
    if (ad >= (step >> 2)) nibble |= 1
    nibble
  }

  /** Frames per IMA block for a given block align: the per-channel
    * 4-byte header carries frame 0; every following data byte carries
    * two nibbles (one frame each per channel). */
  private def imaFramesPerBlock(blockAlign: Int, ch: Int): Int =
    (blockAlign - 4 * ch) * 2 / ch + 1

  /** Real WAVE_FORMAT_IMA_ADPCM (tag 0x11) encode of the same
    * closed-form PCM16 target signal as [[buildWavPattern]]
    * (v = (7f + 13c + seed) mod 2003 − 1001): per-block per-channel
    * 4-byte headers (initial sample, step index 0, reserved), then
    * nibbles packed low-first in per-channel 4-byte groups
    * (interleaved by channel for stereo — the real block layout naive
    * mono-stream decoders break on), a `fact` chunk with the true
    * frame count (mandatory for compressed WAVE), and the final block
    * zero-padded to a full block align. The encoder runs the REAL
    * greedy quantizer against its own decoder state, so the decoded
    * stream is the deterministic fixed point a SQL oracle can simulate
    * frame by frame. */
  def buildWavAdpcmPattern(channels: Int, sampleRate: Int, nFrames: Int,
                           seed: Long): Array[Byte] = {
    require(channels > 0 && channels <= 2 && sampleRate > 0 && nFrames > 0)
    val ch = channels
    val blockAlign = 132 * ch // → 257 frames per block
    val fpb = imaFramesPerBlock(blockAlign, ch)
    val nBlocks = (nFrames + fpb - 1) / fpb
    val dataLen = nBlocks * blockAlign
    def target(f: Int, c: Int): Int =
      ((7L * f + 13L * c + seed) % 2003L - 1001L).toInt
    val b = java.nio.ByteBuffer.allocate(dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var g = 0
    while (g < nBlocks) {
      val f0 = g * fpb
      val pred = new Array[Int](ch)
      val index = new Array[Int](ch)
      var c = 0
      while (c < ch) { // per-channel block headers
        pred(c) = target(f0, c)
        index(c) = 0
        b.putShort(pred(c).toShort).put(0.toByte).put(0.toByte)
        c += 1
      }
      // nibble payload: per-channel 4-byte groups, 8 frames per round
      val frames = fpb - 1 // beyond the header frame
      var base = 0
      while (base < frames) {
        c = 0
        while (c < ch) {
          var i = 0
          while (i < 4) {
            var byte0 = 0
            var k = 0
            while (k < 2) {
              val f = f0 + 1 + base + 2 * i + k
              val nib =
                if (f < nFrames && f < f0 + fpb) {
                  val n0 = imaEncodeNibble(pred(c), index(c), target(f, c))
                  val (p1, i1) = imaStep(pred(c), index(c), n0)
                  pred(c) = p1; index(c) = i1
                  n0
                } else 0 // zero-pad the final partial block
              byte0 |= nib << (4 * k)
              k += 1
            }
            b.put(byte0.toByte)
            i += 1
          }
          c += 1
        }
        base += 8
      }
      g += 1
    }
    riff("WAVE", Seq(
      // WAVE_FORMAT_IMA_ADPCM at its nominal byte rate, 4 bits per
      // compressed sample; extension: cbSize 2, samplesPerBlock
      "fmt " -> wavFmt(0x11, ch, sampleRate, sampleRate * blockAlign / fpb,
        blockAlign, 4, 2, fpb),
      "fact" -> bytes(4, java.nio.ByteOrder.LITTLE_ENDIAN)(_.putInt(nFrames)),
      "data" -> b.array()))
  }

  /** Full sample decode of a WAVE_FORMAT_IMA_ADPCM RIFF/WAVE — the
    * real PREDICTIVE-audio codec path (the 4-bit step-adaptive DPCM of
    * wild-web WAV containers): chunk walk (fmt extension for
    * samplesPerBlock, `fact` for the true frame count), per-block
    * per-channel header state, per-channel 4-byte nibble groups, and
    * the table-driven reconstruction [[imaStep]] — then the same
    * loudness statistics as [[decodeWavSamples]]. Returns None for
    * anything that is not well-formed IMA ADPCM. */
  def decodeWavAdpcm(id: Long, b: Array[Byte]): Option[WavSamples] = try {
    wavHeader(b) match {
      case Some(WavHeader(0x11, ch, rate, align, 4, fpb, factFrames,
          dataOff, dataLen))
          if ch > 0 && ch <= 2 && rate > 0 && align > 4 * ch &&
            fpb == imaFramesPerBlock(align, ch) && factFrames >= 0 =>
        val nBlocks = (dataLen / align).toInt
        val nFrames = math.min(factFrames, nBlocks.toLong * fpb)
        val acc = new Loudness
        val pred = new Array[Int](ch)
        val index = new Array[Int](ch)
        var g = 0
        while (g < nBlocks && g.toLong * fpb < nFrames) {
          val blockOff = (dataOff + g.toLong * align).toInt
          var c = 0
          while (c < ch) {
            val ho = blockOff + 4 * c
            pred(c) = le16(b, ho).toShort.toInt
            index(c) = math.max(0, math.min(88, b(ho + 2) & 0xff))
            acc.add(pred(c), g.toLong * fpb)
            c += 1
          }
          val frames = math.min(fpb.toLong, nFrames - g.toLong * fpb) - 1
          val dataBase = blockOff + 4 * ch
          var f = 0L
          while (f < frames) {
            c = 0
            while (c < ch) {
              // frame f (0-based past the header) of channel c lives in
              // the (f/8)-th per-channel 4-byte group, low nibble first
              val group = (f / 8).toInt
              val within = (f % 8).toInt
              val byteOff = dataBase + (group * ch + c) * 4 + within / 2
              val nib = ((b(byteOff) & 0xff) >> (4 * (within % 2))) & 0xf
              val (p1, i1) = imaStep(pred(c), index(c), nib)
              pred(c) = p1; index(c) = i1
              acc.add(p1, g.toLong * fpb + 1 + f)
              c += 1
            }
            f += 1
          }
          g += 1
        }
        Some(acc.row(id, ch, rate, nFrames))
      case _ => None
    }
  } catch { case scala.util.control.NonFatal(_) => None }

  // ------------------------------------ MP4 / ISO-BMFF container walk

  /** Parsed MP4/ISO-BMFF container metadata — the fields a real video
    * intake pipeline filters on BEFORE any frame decode (brand, track
    * layout, dimensions, duration, codec fourcc, payload size). Frame
    * PIXELS stay behind the decoder seam (H.264 entropy decode needs
    * native libs); the container grammar is public (ISO/IEC 14496-12)
    * and pure-JVM arithmetic. */
  final case class Mp4Meta(id: Long, brand: String, nTracks: Int,
                           durationMs: Long, width: Int, height: Int,
                           videoCodec: String, audioCodec: String,
                           channels: Int, sampleRate: Int, mdatBytes: Long)

  /** Walk an ISO-BMFF box sequence ([[Bytes.boxWalk]]): `ftyp` major
    * brand, `mvhd` timescale/duration (v0 and v1), per-`trak` handler +
    * `tkhd` 16.16 dimensions + `stsd` sample-entry fourcc/fields, `mdat`
    * payload bytes (32-bit, 64-bit `largesize`, and size-0 to-EOF
    * forms). Unknown boxes (`free`, `skip`, `uuid`, vendor boxes) skip
    * by size; container boxes (`moov`/`trak`/`mdia`/`minf`/`stbl`)
    * recurse. A malformed size aborts the walk — corrupt payloads parse
    * to None, never a hung task. */
  def parseMp4Meta(id: Long, b: Array[Byte]): Option[Mp4Meta] = try {
    if (b.length < 16 || tag(b, 4) != "ftyp") return None
    var brand = ""
    var timescale = 0L
    var duration = 0L
    var nTracks = 0
    var width = 0
    var height = 0
    var videoCodec = ""
    var audioCodec = ""
    var channels = 0
    var sampleRate = 0
    var mdatBytes = 0L
    // per-trak capture, committed when the trak closes
    var trakHandler = ""
    var trakW = 0
    var trakH = 0
    var trakCodec = ""
    var trakCh = 0
    var trakSr = 0

    def walk(from: Long, to: Long, depth: Int): Boolean =
      depth <= 8 && boxWalk(b, from, to) { (fourcc, body, end) =>
        val i = body.toInt
        val bodyLen = end - body
        fourcc match {
          case "moov" | "mdia" | "minf" | "stbl" => walk(body, end, depth + 1)
          case "trak" =>
            trakHandler = ""; trakW = 0; trakH = 0; trakCodec = ""
            trakCh = 0; trakSr = 0
            val ok = walk(body, end, depth + 1)
            nTracks += 1
            if (trakHandler == "vide") {
              width = trakW; height = trakH; videoCodec = trakCodec
            } else if (trakHandler == "soun") {
              audioCodec = trakCodec; channels = trakCh
              sampleRate = trakSr
            }
            ok
          case _ =>
            fourcc match {
              case "ftyp" if bodyLen >= 4 => brand = tag(b, i)
              case "mvhd" if bodyLen >= 4 =>
                val v = b(i) & 0xff
                if (v == 1 && bodyLen >= 32) {
                  timescale = be32(b, i + 20)
                  duration = be64(b, i + 24)
                } else if (v == 0 && bodyLen >= 20) {
                  timescale = be32(b, i + 12)
                  duration = be32(b, i + 16)
                }
              case "tkhd" if bodyLen >= 84 =>
                // width/height are the LAST 8 body bytes in v0 and v1
                val wOff = (end - 8).toInt
                if ((b(i) & 0xff) <= 1) {
                  trakW = (be32(b, wOff) >>> 16).toInt
                  trakH = (be32(b, wOff + 4) >>> 16).toInt
                }
              case "hdlr" if bodyLen >= 12 => trakHandler = tag(b, i + 8)
              case "stsd" if bodyLen >= 16 =>
                // fullbox(4) + entry_count(4), then the first sample entry
                val e = i + 8
                val entLen = be32(b, e)
                if (entLen >= 16 && e + entLen <= end) {
                  trakCodec = tag(b, e + 4)
                  if (trakHandler == "vide" && entLen >= 36) {
                    // sample-entry coded dims at +32/+34 (after 6 reserved
                    // + 2 dref + 16 predefined/reserved bytes)
                    trakW = be16(b, e + 32)
                    trakH = be16(b, e + 34)
                  } else if (trakHandler == "soun" && entLen >= 36) {
                    trakCh = be16(b, e + 24)
                    trakSr = (be32(b, e + 32) >>> 16).toInt
                  }
                }
              case "mdat" => mdatBytes += bodyLen
              case _ => () // free/skip/uuid/vmhd/smhd/dinf/stts/…: skip
            }
            true
        }
      }
    if (!walk(0L, b.length.toLong, 0) || brand.isEmpty || timescale <= 0)
      None
    else Some(Mp4Meta(id, brand, nTracks,
      duration * 1000L / timescale, width, height, videoCodec,
      audioCodec, channels, sampleRate, mdatBytes))
  } catch { case scala.util.control.NonFatal(_) => None }

  // The box builders both MP4 fixtures share (ISO/IEC 14496-12 layouts).

  private val UnityMatrix = bytes(36) { m =>
    m.putInt(0x10000).putInt(0).putInt(0)
    m.putInt(0).putInt(0x10000).putInt(0)
    m.putInt(0).putInt(0).putInt(0x40000000)
  }

  private def ftyp(brand: String): Array[Byte] =
    box("ftyp", ascii(brand), bytes(4)(_.putInt(0x200)), ascii("isom"),
      ascii("mp41"))

  private def mvhd(timescale: Int, duration: Long, nextTrack: Int,
                   v1: Boolean = false): Array[Byte] =
    box("mvhd", bytes(if (v1) 112 else 100) { m =>
      if (v1) m.putInt(0x01000000).putLong(0L).putLong(0L) // 64-bit times
      else m.putInt(0).putInt(0).putInt(0) // version, creation, modified
      m.putInt(timescale)
      if (v1) m.putLong(duration) else m.putInt(duration.toInt)
      m.putInt(0x10000).putShort(0x100.toShort).putShort(0) // rate, volume
      m.putLong(0L) // reserved
      m.put(UnityMatrix)
      m.put(new Array[Byte](24)) // predefined
      m.putInt(nextTrack)
    })

  private def tkhd(trackId: Int, duration: Int, volume: Int, w: Int,
                   h: Int): Array[Byte] =
    box("tkhd", bytes(84) { t =>
      t.putInt(7) // version 0, flags: enabled | in-movie | in-preview
      t.putInt(0).putInt(0)
      t.putInt(trackId).putInt(0)
      t.putInt(duration) // track duration, movie timescale
      t.putLong(0L)
      t.putShort(0).putShort(0) // layer, alternate group
      t.putShort(volume.toShort).putShort(0)
      t.put(UnityMatrix)
      t.putInt(w << 16).putInt(h << 16) // 16.16 fixed
    })

  private def mdhd(ts: Long, dur: Long): Array[Byte] =
    box("mdhd", bytes(24) { m =>
      m.putInt(0)
      m.putInt(0).putInt(0)
      m.putInt(ts.toInt).putInt(dur.toInt)
      m.putShort(0x55c4.toShort).putShort(0) // 'und', predefined
    })

  private def hdlr(kind: String, name: String): Array[Byte] =
    box("hdlr", bytes(24 + name.length + 1) { h =>
      h.putInt(0)
      h.putInt(0) // predefined
      h.put(ascii(kind))
      h.put(new Array[Byte](12))
      h.put(ascii(name))
      h.put(0.toByte)
    })

  private val Dinf = box("dinf", box("dref",
    bytes(8)(d => d.putInt(0).putInt(1)),
    bytes(12)(_.putInt(12).put(ascii("url ")).putInt(1)))) // self-contained

  /** The one sample description of an stbl. */
  private def stsd(entry: Array[Byte]): Array[Byte] =
    box("stsd", bytes(8)(s => s.putInt(0).putInt(1)), entry)

  /** A video `trak` (track 1): tkhd, mdhd, `vide` handler, vmhd, dinf,
    * and an stbl of the visual sample entry followed by `tables`. */
  private def videoTrak(codec: String, w: Int, h: Int, movieDur: Int,
                        mediaTs: Long, mediaDur: Long,
                        tables: Array[Byte]*): Array[Byte] = {
    val entry = bytes(86) { e =>
      e.putInt(86)
      e.put(ascii(codec))
      e.put(new Array[Byte](6)).putShort(1) // reserved, dref index
      e.put(new Array[Byte](16)) // predefined/reserved
      e.putShort(w.toShort).putShort(h.toShort)
      e.putInt(0x480000).putInt(0x480000) // 72 dpi
      e.putInt(0)
      e.putShort(1) // frame count
      e.put(new Array[Byte](32)) // compressor name
      e.putShort(24).putShort(0xffff.toShort) // depth, predefined -1
    }
    box("trak", tkhd(1, movieDur, 0, w, h),
      box("mdia", mdhd(mediaTs, mediaDur), hdlr("vide", "VideoHandler"),
        box("minf", box("vmhd", bytes(12)(_.putInt(1))), Dinf,
          box("stbl", stsd(entry) +: tables: _*))))
  }

  /** A deterministic MP4 container from (id, nChars): ftyp + moov
    * (mvhd v1 for every 6th id, else v0; one `avc1`/`hev1` video trak
    * with full vmhd/dinf/stbl plumbing and one `mp4a` audio trak) +
    * mdat (64-bit `largesize` form for every 3rd id). Every 2nd id
    * carries a `free` box before moov, every 4th uses the
    * moov-after-mdat (non-faststart) layout, every 5th a trailing
    * `uuid` box — the structural variants a real crawl contains, so
    * the box walk is exercised, not pattern-matched. */
  def buildMp4Pattern(id: Long, nChars: Long): Array[Byte] = {
    val durMs = 5000L + nChars % 120000L
    val width = 160 + (id % 8).toInt * 16
    val height = 96 + (id % 9).toInt * 16
    val vCodec = if (id % 2 == 0) "avc1" else "hev1"
    val sr = (id % 3) match {
      case 0 => 44100; case 1 => 48000; case _ => 32000 }
    val ch = 1 + (id % 2).toInt
    val mdatLen = 50 + (nChars % 200).toInt
    def emptyFull(fourcc: String, extraZeros: Int): Array[Byte] =
      box(fourcc, new Array[Byte](8 + extraZeros))
    val emptyTables = Seq(emptyFull("stts", 0), emptyFull("stsc", 0),
      emptyFull("stsz", 4), emptyFull("stco", 0))
    val audioEntry = bytes(36) { e =>
      e.putInt(36)
      e.put(ascii("mp4a"))
      e.put(new Array[Byte](6)).putShort(1)
      e.putLong(0L) // version/revision/vendor
      e.putShort(ch.toShort).putShort(16) // channels, sample size
      e.putInt(0)
      e.putInt(sr << 16) // 16.16 fixed (truncates for 44100: spec'd)
    }
    val vTrak = videoTrak(vCodec, width, height, durMs.toInt, 90000L,
      durMs * 90L, emptyTables: _*)
    val aTrak = box("trak", tkhd(2, durMs.toInt, 0x100, 0, 0),
      box("mdia", mdhd(sr.toLong, durMs * sr / 1000L),
        hdlr("soun", "SoundHandler"),
        box("minf", box("smhd", new Array[Byte](8)),
          Dinf, box("stbl", stsd(audioEntry) +: emptyTables: _*))))
    val moov = box("moov", mvhd(1000, durMs, 3, v1 = id % 6 == 0), vTrak,
      aTrak)
    val mdatPayload = Array.tabulate[Byte](mdatLen)(j =>
      ((j * 31 + id) % 251).toByte)
    val mdat =
      if (id % 3 == 0) // 64-bit largesize form
        bytes(16)(_.putInt(1).put(ascii("mdat")).putLong(16L + mdatLen)) ++
          mdatPayload
      else box("mdat", mdatPayload)
    val free = if (id % 2 == 1)
      Some(box("free", new Array[Byte]((id % 16).toInt))) else None
    val uuid = if (id % 5 == 0)
      Some(box("uuid", Array.tabulate[Byte](20)(j => (j + 1).toByte)))
    else None
    val ft = ftyp(if (id % 2 == 0) "isom" else "mp42")
    val parts =
      if (id % 4 == 0) Seq(ft) ++ free ++ Seq(mdat, moov) ++ uuid
      else Seq(ft) ++ free ++ Seq(moov, mdat) ++ uuid
    Array.concat(parts: _*)
  }

  /** Sample-table metadata resolved from a real ISO-BMFF stbl — what a
    * video-intake pipeline uses to sample keyframes WITHOUT decoding:
    * per-sample sizes (stsz, both the constant-size and per-sample
    * forms), decode deltas (stts), sync samples (stss), and the
    * sample→chunk→byte-offset resolution through stsc/stco.
    * `lastKfRelOffset` is the byte offset (within the mdat payload) of
    * the LAST keyframe, resolved through the full chain — a real
    * random-access computation, not a table echo. */
  final case class Mp4Samples(id: Long, nSamples: Int,
                              totalSampleBytes: Long, maxSampleSize: Int,
                              nKeyframes: Int, nChunks: Int,
                              durationUnits: Long, lastKfRelOffset: Long)

  /** A deterministic single-video-track MP4 with REAL sample tables:
    * two stts runs, stss keyframes every 5–8 samples, stsc with a
    * short-tail second entry when the sample count doesn't divide the
    * chunk size, stco holding TRUE absolute file offsets (moov is
    * built twice: once to measure, once with the offsets), and an
    * mdat whose payload is the concatenated samples chunk by chunk.
    * Every 4th id uses stsz's constant-sample-size form, the rest the
    * per-sample table. All values derive from (id, nChars) arithmetic
    * the oracle re-derives in SQL. */
  def buildMp4SamplesPattern(id: Long, nChars: Long): Array[Byte] = {
    val n = 20 + (nChars % 60).toInt
    val constSize = id % 4 == 0
    def sz(k: Int): Int =
      if (constSize) 150 + (id % 100).toInt
      else 100 + ((id * 7 + k * 13) % 900).toInt
    val d1 = 1000 + (id % 500).toInt
    val d2 = 2000 + (id % 1000).toInt
    val n1 = n / 2
    val durationUnits = n1.toLong * d1 + (n - n1).toLong * d2
    val g = 5 + (id % 4).toInt
    val nKf = 1 + (n - 1) / g
    val spc = 4 + (id % 3).toInt
    val nChunks = (n + spc - 1) / spc
    val totalBytes = (0 until n).map(sz).map(_.toLong).sum
    /** A full box body: version/flags 0, then the 32-bit fields. */
    def table(fourcc: String, fields: Seq[Long]): Array[Byte] =
      box(fourcc, bytes(4 + 4 * fields.size) { s =>
        s.putInt(0); fields.foreach(v => s.putInt(v.toInt))
      })
    val stts = table("stts", Seq(2L, n1, d1, n - n1, d2))
    val stss = table("stss", nKf.toLong +: (0 until nKf).map(k => 1L + k * g))
    val tail = n % spc
    val stsc = table("stsc",
      if (tail == 0) Seq(1L, 1L, spc, 1L)
      else Seq(2L, 1L, spc, 1L, nChunks, tail, 1L))
    val stsz =
      if (constSize) table("stsz", Seq(sz(0), n))
      else table("stsz", Seq(0L, n) ++ (0 until n).map(sz(_).toLong))
    def moov(chunkOffsets: Array[Long]): Array[Byte] =
      box("moov", mvhd(90000, durationUnits, 2), // media == movie timescale
        videoTrak("avc1", 320, 240, durationUnits.toInt, 90000L,
          durationUnits, stts, stsc, stsz, stss,
          table("stco", nChunks.toLong +: chunkOffsets.toSeq)))
    // two-pass: measure moov with placeholder offsets, then stamp the
    // true absolute chunk offsets (table sizes don't change)
    val ft = ftyp("isom")
    val moovLen = moov(new Array[Long](nChunks)).length
    val mdatPayloadStart = ft.length.toLong + moovLen + 8
    val offsets = new Array[Long](nChunks)
    var acc = 0L
    var k = 0
    var c = 0
    while (c < nChunks) {
      offsets(c) = mdatPayloadStart + acc
      val inChunk = math.min(spc, n - c * spc)
      var s = 0
      while (s < inChunk) { acc += sz(k); k += 1; s += 1 }
      c += 1
    }
    val mdatPayload = Array.tabulate[Byte](totalBytes.toInt)(j =>
      ((j * 31 + id) % 251).toByte)
    val mv = moov(offsets)
    require(mv.length == moovLen, "moov size changed between passes")
    Array.concat(ft, mv, box("mdat", mdatPayload))
  }

  /** Real sample-table walk + resolution (ISO/IEC 14496-12 §8.6–8.7):
    * parses stts/stsz/stss/stsc/stco from the stbl, cross-checks the
    * tables against each other AND the actual bytes — Σ stts counts
    * must equal the stsz count, chunk offsets must be strictly
    * increasing and land exactly where the chunked sample layout says
    * inside the real mdat, total sample bytes must equal the mdat
    * body length — then resolves the last keyframe's byte offset
    * through stss → stsc → stco → stsz. Any inconsistency → None. */
  def parseMp4Samples(id: Long, b: Array[Byte]): Option[Mp4Samples] = try {
    if (b.length < 16 || tag(b, 4) != "ftyp") return None
    var sttsCounts: Array[Long] = null
    var sttsDeltas: Array[Long] = null
    var sizes: Array[Int] = null
    var constSize = 0
    var sampleCount = 0
    var syncs: Array[Int] = null
    var stscFirst: Array[Int] = null
    var stscSpc: Array[Int] = null
    var chunkOffs: Array[Long] = null
    var mdatStart = -1L
    var mdatLen = -1L

    def walk(from: Long, to: Long, depth: Int): Boolean =
      depth <= 8 && boxWalk(b, from, to) { (fourcc, body, end) =>
        val e = body.toInt
        // entry counts are UNTRUSTED 32-bit fields: bound every
        // count-driven allocation by the bytes the box actually holds,
        // or a ~60-byte crafted payload could demand a multi-GB array
        // (OutOfMemoryError escapes the NonFatal catch and would kill
        // the task instead of yielding None); -1 = does not fit
        def entries(headerBytes: Int, entryBytes: Int): Int = {
          val ne = be32(b, e + 4)
          if (headerBytes + entryBytes * ne > end - body) -1 else ne.toInt
        }
        def u32(at: Int): Long = be32(b, e + at)
        fourcc match {
          case "moov" | "trak" | "mdia" | "minf" | "stbl" =>
            walk(body, end, depth + 1)
          case "stts" =>
            val ne = entries(8, 8)
            sttsCounts = Array.tabulate(ne max 0)(j => u32(8 + 8 * j))
            sttsDeltas = Array.tabulate(ne max 0)(j => u32(12 + 8 * j))
            ne >= 0
          case "stsz" =>
            constSize = u32(4).toInt
            val n0 = u32(8)
            sampleCount = n0.toInt
            val fits = n0 <= Int.MaxValue &&
              (constSize != 0 || 12 + 4 * n0 <= end - body)
            if (fits && constSize == 0)
              sizes = Array.tabulate(sampleCount)(j => u32(12 + 4 * j).toInt)
            fits
          case "stss" =>
            val ne = entries(8, 4)
            syncs = Array.tabulate(ne max 0)(j => u32(8 + 4 * j).toInt)
            ne >= 0
          case "stsc" =>
            val ne = entries(8, 12)
            stscFirst = Array.tabulate(ne max 0)(j => u32(8 + 12 * j).toInt)
            stscSpc = Array.tabulate(ne max 0)(j => u32(12 + 12 * j).toInt)
            ne >= 0
          case "stco" =>
            val ne = entries(8, 4)
            chunkOffs = Array.tabulate(ne max 0)(j => u32(8 + 4 * j))
            ne >= 0
          case "mdat" => mdatStart = body; mdatLen = end - body; true
          case _ => true
        }
      }
    if (!walk(0L, b.length.toLong, 0)) return None
    if (sttsCounts == null || sampleCount <= 0 || syncs == null ||
        stscFirst == null || chunkOffs == null || mdatStart < 0)
      return None
    def sizeOf(k: Int): Int = // 0-based
      if (constSize != 0) constSize else sizes(k)
    // cross-check 1: stts sample total == stsz count
    if (sttsCounts.sum != sampleCount.toLong) return None
    val totalBytes = (0 until sampleCount).map(sizeOf(_).toLong).sum
    // cross-check 2: samples exactly fill the real mdat body
    if (totalBytes != mdatLen) return None
    // expand stsc: samples-per-chunk for each chunk (1-based chunks)
    val nChunks = chunkOffs.length
    val spcByChunk = new Array[Int](nChunks)
    var ei = 0
    var c = 1
    while (c <= nChunks) {
      while (ei + 1 < stscFirst.length && stscFirst(ei + 1) <= c) ei += 1
      spcByChunk(c - 1) = stscSpc(ei)
      c += 1
    }
    if (spcByChunk.map(_.toLong).sum != sampleCount.toLong) return None
    // cross-check 3: every chunk offset is exactly where the chunked
    // layout puts it inside the mdat (strictly increasing follows)
    var acc = 0L
    var k = 0
    c = 0
    while (c < nChunks) {
      if (chunkOffs(c) != mdatStart + acc) return None
      var s = 0
      while (s < spcByChunk(c)) { acc += sizeOf(k); k += 1; s += 1 }
      c += 1
    }
    // resolve the LAST keyframe through stss -> stsc -> stco -> stsz
    val lastKf = syncs.last // 1-based sample number
    if (lastKf < 1 || lastKf > sampleCount) return None
    var firstInChunk = 1
    c = 0
    while (firstInChunk + spcByChunk(c) <= lastKf) {
      firstInChunk += spcByChunk(c); c += 1
    }
    var within = 0L
    k = firstInChunk - 1
    while (k < lastKf - 1) { within += sizeOf(k); k += 1 }
    val absOff = chunkOffs(c) + within
    val durationUnits =
      sttsCounts.zip(sttsDeltas).map { case (n0, d) => n0 * d }.sum
    Some(Mp4Samples(id, sampleCount, totalBytes,
      (0 until sampleCount).map(sizeOf).max, syncs.length, nChunks,
      durationUnits, absOff - mdatStart))
  } catch { case scala.util.control.NonFatal(_) => None }

  // ------------------------------------------- MP3 frame-header walk

  /** Parsed MPEG-audio stream metadata from a frame-header walk — the
    * fields an audio intake pipeline filters on before any sample
    * decode. Sample PAYLOADS (Huffman-coded granules) stay behind the
    * decoder seam; the header grammar and bitrate/samplerate tables
    * are public (ISO/IEC 11172-3). */
  final case class Mp3Meta(id: Long, hasId3: Boolean, bitrateKbps: Int,
                           sampleRate: Int, channels: Int, nFrames: Int,
                           audioBytes: Long, durationMs: Long)

  /** MPEG1 Layer III bitrate table, kbps by 4-bit index (0 = free,
    * 15 = bad — both rejected). */
  private val Mp3Bitrates: Array[Int] =
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256,
      320, 0)

  /** MPEG1 sample-rate table by 2-bit index (3 = reserved). */
  private val Mp3SampleRates: Array[Int] = Array(44100, 48000, 32000, 0)

  /** Walk a CBR MPEG1 Layer III stream: skip a leading ID3v2 tag
    * (syncsafe 28-bit size), then advance frame by frame — sync word,
    * version/layer bits, bitrate/samplerate table lookups, padding
    * bit — `frameLen = 144·bitrate/sampleRate + padding` per the
    * public formula. The walk stops at the first non-frame byte;
    * zero valid frames parses None. Duration is the CBR closed form
    * `nFrames · 1152 / sampleRate` (1152 samples per MPEG1 L3 frame).
    */
  def parseMp3Meta(id: Long, b: Array[Byte]): Option[Mp3Meta] = try {
    var off = 0L
    val hasId3 = b.length >= 10 && b(0) == 'I' && b(1) == 'D' &&
      b(2) == '3'
    if (hasId3) {
      // syncsafe size: 4 × 7 bits, high bit of each byte must be 0
      if ((b(6) | b(7) | b(8) | b(9)) < 0) return None
      val tagSize = ((b(6) & 0x7f) << 21) | ((b(7) & 0x7f) << 14) |
        ((b(8) & 0x7f) << 7) | (b(9) & 0x7f)
      off = 10L + tagSize
    }
    var nFrames = 0
    var audioBytes = 0L
    var bitrate = 0
    var sampleRate = 0
    var channels = 0
    var cbr = true
    var done = false
    while (!done && off + 4 <= b.length) {
      val i = off.toInt
      val b1 = b(i + 1) & 0xff
      val valid = (b(i) & 0xff) == 0xff &&
        (b1 & 0xe0) == 0xe0 && // sync
        ((b1 >> 3) & 3) == 3 && // MPEG1
        ((b1 >> 1) & 3) == 1 // Layer III
      if (!valid) done = true
      else {
        val b2 = b(i + 2) & 0xff
        val brIdx = (b2 >> 4) & 0xf
        val srIdx = (b2 >> 2) & 3
        val pad = (b2 >> 1) & 1
        val br = Mp3Bitrates(brIdx)
        val sr = Mp3SampleRates(srIdx)
        if (br == 0 || sr == 0) done = true
        else {
          val mode = ((b(i + 3) & 0xff) >> 6) & 3
          val frameLen = 144 * br * 1000 / sr + pad
          if (nFrames == 0) {
            bitrate = br; sampleRate = sr
            channels = if (mode == 3) 1 else 2
          } else if (br != bitrate) cbr = false
          nFrames += 1
          audioBytes += frameLen
          off += frameLen
        }
      }
    }
    if (nFrames == 0 || !cbr) None
    else Some(Mp3Meta(id, hasId3, bitrate, sampleRate, channels, nFrames,
      audioBytes, nFrames * 1152000L / sampleRate))
  } catch { case scala.util.control.NonFatal(_) => None }

  /** A deterministic CBR MPEG1 Layer III stream from (id, nChars):
    * bitrate 128/160/192 kbps by id mod 3, sample rate by (id/3) mod
    * 3, mono for odd ids, the padding bit alternating per frame as
    * `(id + frame) mod 2` (so frame SIZES vary and the walk must read
    * every header, not stride), an ID3v2 tag of id-dependent size for
    * every 3rd id. Frame payloads are deterministic filler — the
    * entropy-coded granules stay behind the decoder seam. */
  def buildMp3Pattern(id: Long, nChars: Long): Array[Byte] = {
    val brIdx = 9 + (id % 3).toInt // 128, 160, 192 kbps
    val srIdx = ((id / 3) % 3).toInt
    val br = Mp3Bitrates(brIdx)
    val sr = Mp3SampleRates(srIdx)
    val mode = if (id % 2 == 1) 3 else 0 // mono / stereo
    val nFrames = 20 + (nChars % 60).toInt
    // exact-size fill (~40 KB/doc): per-byte stream writes here were the
    // bottleneck of the whole mm_mp3_meta query at sf0.1
    val baseLen = 144 * br * 1000 / sr
    val tagSize = if (id % 3 == 0) 20 + (id % 101).toInt else 0
    val tagLen = if (tagSize > 0) 10 + tagSize else 0
    var padded = 0
    var i = 0
    while (i < nFrames) { padded += ((id + i) % 2).toInt; i += 1 }
    val out = new Array[Byte](tagLen + nFrames * baseLen + padded)
    var o = 0
    if (tagSize > 0) {
      out(0) = 'I'; out(1) = 'D'; out(2) = '3'
      out(3) = 3; out(4) = 0; out(5) = 0 // v2.3, flags 0
      out(6) = ((tagSize >> 21) & 0x7f).toByte
      out(7) = ((tagSize >> 14) & 0x7f).toByte
      out(8) = ((tagSize >> 7) & 0x7f).toByte
      out(9) = (tagSize & 0x7f).toByte
      var j = 0
      while (j < tagSize) { out(10 + j) = ((j * 17 + 3) % 251).toByte; j += 1 }
      o = tagLen
    }
    i = 0
    while (i < nFrames) {
      val pad = ((id + i) % 2).toInt
      val frameLen = baseLen + pad
      out(o) = 0xff.toByte; out(o + 1) = 0xfb.toByte // sync, MPEG1, L3, no CRC
      out(o + 2) = ((brIdx << 4) | (srIdx << 2) | (pad << 1)).toByte
      out(o + 3) = ((mode << 6) | 0x04).toByte // original bit set
      var j = 4
      while (j < frameLen) {
        out(o + j) = ((i * 7 + j * 31 + id) % 251).toByte
        j += 1
      }
      o += frameLen
      i += 1
    }
    out
  }

  /** Xing/Info VBR-header metadata, cross-checked against the real
    * frame walk — the duration/bitrate source a real intake uses for
    * VBR MP3s (a CBR formula over the first frame's bitrate is wrong
    * for them). tocSum pins all 100 seek-table bytes. */
  final case class Mp3VbrMeta(id: Long, isVbr: Boolean, nFrames: Int,
                              audioBytes: Long, quality: Int,
                              tocSum: Long, durationMs: Long)

  /** A deterministic VBR MPEG1-L3 stream: frame 0 carries a real
    * Xing (VBR; every id except multiples of 5) or Info (CBR) header
    * at the correct post-side-info offset (17 bytes mono / 32
    * stereo), flags 0x0F, frame/byte totals, the 100-byte TOC, and a
    * quality field; frames 1..n then ROTATE bitrates 128/160/192/224
    * (constant 160 for Info) with per-frame padding — so the byte
    * total is only reachable by walking every variable-size frame.
    * All fields derive from (id, nChars) arithmetic. */
  def buildMp3VbrPattern(id: Long, nChars: Long): Array[Byte] = {
    val srIdx = (id % 3).toInt
    val sr = Mp3SampleRates(srIdx)
    val mono = id % 2 == 1
    val mode = if (mono) 3 else 0
    val nF = 20 + (nChars % 60).toInt
    val info = id % 5 == 0
    def brIdx(k: Int): Int = if (info) 10 else 9 + ((id + k) % 4).toInt
    def frameLen(k: Int): Int =
      144 * Mp3Bitrates(brIdx(k)) * 1000 / sr + ((id + k) % 2).toInt
    val audioBytes = (1 to nF).map(frameLen(_).toLong).sum
    val xingFrameLen = 144 * Mp3Bitrates(12) * 1000 / sr // 224k, no pad
    val out = new Array[Byte](xingFrameLen +
      (1 to nF).map(frameLen).sum)
    def header(o: Int, bi: Int, pad: Int): Unit = {
      out(o) = 0xff.toByte; out(o + 1) = 0xfb.toByte
      out(o + 2) = ((bi << 4) | (srIdx << 2) | (pad << 1)).toByte
      out(o + 3) = ((mode << 6) | 0x04).toByte
    }
    header(0, 12, 0)
    val side = if (mono) 17 else 32 // MPEG1 L3 side-info bytes
    var o = 4 + side
    val tag = if (info) "Info" else "Xing"
    tag.foreach { c => out(o) = c.toByte; o += 1 }
    def be32(v: Long): Unit = {
      out(o) = ((v >> 24) & 0xff).toByte; out(o + 1) = ((v >> 16) & 0xff).toByte
      out(o + 2) = ((v >> 8) & 0xff).toByte; out(o + 3) = (v & 0xff).toByte
      o += 4
    }
    be32(0x0f) // frames | bytes | toc | quality
    be32(nF)
    be32(audioBytes)
    var k = 0
    while (k < 100) { out(o) = ((2 * k + id) % 256).toByte; o += 1; k += 1 }
    be32(id % 101)
    // rest of the Xing frame is filler
    o = xingFrameLen
    var i = 1
    while (i <= nF) {
      val len = frameLen(i)
      header(o, brIdx(i), ((id + i) % 2).toInt)
      var j = 4
      while (j < len) { out(o + j) = ((i * 7 + j * 31 + id) % 251).toByte
        j += 1 }
      o += len
      i += 1
    }
    out
  }

  /** Real Xing/Info parse + VBR frame walk (the Xing SDK/LAME layout,
    * public): frame 0's header decoded for mode/rate, the tag read at
    * the post-side-info offset, flags honored, then EVERY following
    * frame header walked (bitrates may differ per frame — the VBR
    * point) and the walked frame/byte totals CROSS-CHECKED against
    * the Xing fields; a mismatch, a bad header, or a truncated TOC →
    * None. Duration derives from the Xing frame count — the correct
    * VBR formula. */
  def parseMp3Vbr(id: Long, b: Array[Byte]): Option[Mp3VbrMeta] = try {
    if (b.length < 4) return None
    def frameHeader(o: Int): Option[(Int, Int, Int, Int)] = {
      // (bitrateKbps, sampleRate, mode, frameLen)
      if (o + 4 > b.length) return None
      if ((b(o) & 0xff) != 0xff || (b(o + 1) & 0xfe) != 0xfa) return None
      val bi = (b(o + 2) >> 4) & 0xf
      val si = (b(o + 2) >> 2) & 0x3
      val pad = (b(o + 2) >> 1) & 0x1
      if (bi == 0 || bi == 15 || si == 3) return None
      val br = Mp3Bitrates(bi)
      val sr = Mp3SampleRates(si)
      Some((br, sr, (b(o + 3) >> 6) & 0x3, 144 * br * 1000 / sr + pad))
    }
    val (_, sr, mode, len0) = frameHeader(0).getOrElse(return None)
    val side = if (mode == 3) 17 else 32
    var o = 4 + side
    if (o + 8 > b.length) return None
    val isVbr = tag(b, o) match {
      case "Xing" => true
      case "Info" => false
      case _ => return None
    }
    o += 4
    def next32(): Long = {
      val v = be32(b, o)
      o += 4
      v
    }
    val flags = next32()
    // the cross-check needs frame and byte totals; a header without
    // them carries nothing to verify the walk against
    if ((flags & 0x3) != 0x3) return None
    if (o + 8 > b.length) return None
    val xFrames = next32()
    val xBytes = next32()
    var tocSum = 0L
    if ((flags & 0x4) != 0) {
      if (o + 100 > b.length) return None
      var k = 0
      while (k < 100) { tocSum += b(o + k) & 0xff; k += 1 }
      o += 100
    }
    val quality =
      if ((flags & 0x8) != 0) { if (o + 4 > b.length) return None
        next32().toInt }
      else 0
    // the VBR walk: every frame after the Xing frame, variable sizes
    var pos = len0
    var frames = 0L
    var bytes = 0L
    while (pos < b.length) {
      val (_, fsr, fmode, flen) = frameHeader(pos).getOrElse(return None)
      if (fsr != sr || fmode != mode) return None
      frames += 1
      bytes += flen
      pos += flen
    }
    if (pos != b.length) return None
    // the header's totals must match what the walk measured
    if (frames != xFrames || bytes != xBytes) return None
    Some(Mp3VbrMeta(id, isVbr, xFrames.toInt, xBytes, quality, tocSum,
      xFrames * 1152000L / sr))
  } catch { case scala.util.control.NonFatal(_) => None }

  /** The real header decoder behind the [[Multimodal.MediaDecoder]]-
    * shaped seam: BMP, PNG, GIF, JPEG and WAV headers parse for real;
    * anything else (or a corrupt payload) yields an invalid row. */
  def decode(id: Long, payload: Array[Byte]): AvMeta = {
    val n = payload.length
    // belt-and-braces on the datum contract: even a parser bug on some
    // adversarial payload must yield an invalid row, not a failed task
    try parseBmp(payload).orElse(parsePng(payload)).orElse(parseGif(payload))
      .orElse(parseJpeg(payload))
      .map { case (w, h) =>
        AvMeta(id, "image", n, valid = true, w, h, 0, 0, 0L)
      }.orElse(parseWav(payload).map { case (ch, rate, bits, samples) =>
        AvMeta(id, "audio", n, valid = true, 0, 0, ch, rate, samples)
      }).getOrElse(AvMeta(id, "unknown", n, valid = false, 0, 0, 0, 0, 0L))
    catch { case scala.util.control.NonFatal(_) =>
      AvMeta(id, "unknown", n, valid = false, 0, 0, 0, 0, 0L)
    }
  }

  // ------------------------------------------------------ synthesizers

  /** A minimal valid 24-bpp BMP. `topDown` exercises the negative-
    * biHeight encoding. Pixel bytes are zeros — header-parse fixtures,
    * not pictures. */
  def buildBmp(width: Int, height: Int, topDown: Boolean): Array[Byte] = {
    require(width > 0 && height > 0)
    val rowSize = ((24 * width + 31) / 32) * 4 // 4-byte-aligned rows
    val dataLen = rowSize * height
    val total = 54 + dataLen
    val b = java.nio.ByteBuffer.allocate(total)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(total)
      .putShort(0).putShort(0).putInt(54) // reserved, pixel offset
    b.putInt(40).putInt(width).putInt(if (topDown) -height else height)
      .putShort(1).putShort(24) // planes, bpp
      .putInt(0).putInt(dataLen).putInt(2835).putInt(2835)
      .putInt(0).putInt(0) // compression..colors
    b.array()
  }

  /** [[buildBmp]] with a deterministic PICTURE: channel values are
    * linear functions of the IMAGE-space coordinates and the seed
    * (r = (x+y+2s) mod 255, g = (2x+y+s) mod 253, b = (x+3y+s) mod 251)
    * laid out in real BGR byte order with real row padding and the real
    * bottom-up/top-down row placement — so decoding them back checks
    * the whole pixel path, and an oracle can recompute every statistic
    * from (w, h, seed) arithmetic alone. */
  def buildBmpPattern(width: Int, height: Int, topDown: Boolean,
                      seed: Long): Array[Byte] =
    encodeBmpRgb(width, height, topDown, (x, y) =>
      (((x + y + 2L * seed) % 255).toInt, ((2L * x + y + seed) % 253).toInt,
        ((x + 3L * y + seed) % 251).toInt))

  /** 8×8 average-hash of a decoded image — the canonical perceptual
    * near-dup key for image corpora (aHash, the same family as
    * pHash/dHash used by LAION-style image dedup). */
  final case class ImageHash(id: Long, width: Int, height: Int,
                             ahash: String)

  /** aHash over a REAL 24-bpp BMP decode, integer-exact end to end so
    * a SQL oracle reproduces it bit-for-bit: per-pixel gray = r+g+b
    * (a sum, never a division), pixel (x, y) belongs to grid cell
    * (x·8 div w, y·8 div h), and bit(cell) = 1 iff the cell's mean
    * gray exceeds the image mean — compared CROSS-MULTIPLIED
    * (cellSum·totalPixels > totalSum·cellPixels) so no floating point
    * or rounding convention enters. The 64 bits are emitted row-major
    * as a '0'/'1' string: images closer than a few bits are
    * perceptual near-dups; equal strings are the exact-dup key. */
  def ahashBmp(id: Long, b: Array[Byte]): Option[ImageHash] =
    bmpGray(b).map(g => ImageHash(id, g.width, g.height, ahashGray(g)))

  // ------------------------------------- unified pixel → hash entry

  /** Decoded grayscale matrix, row-major top-down: gray = r + g + b
    * per pixel (0..765 — a SUM, never a division, so every derived
    * statistic stays integer-exact). This is the SINGLE pixel →
    * perceptual-hash representation: every real image decode (BMP,
    * PNG, GIF, baseline JPEG) lands here via [[decodeGray]], so
    * aHash / pHash / any future perceptual key hash one matrix
    * regardless of the container format — the same picture stored as
    * a BMP and as a PNG produces the same hash bit-for-bit. */
  final case class GrayImage(width: Int, height: Int, gray: Array[Int])

  /** Format-sniffing gray decode — the one entry point from payload
    * bytes to the perceptual-hash matrix. Dispatches on magic bytes to
    * the real decoders (24-bpp BMP, 8-bit truecolor PNG, GIF87a/89a,
    * baseline grayscale/4:4:4/4:2:0 JPEG); anything else decodes None
    * (a corrupt crawl payload is a datum, never a task failure). */
  def decodeGray(b: Array[Byte]): Option[GrayImage] = {
    if (b.length < 6) None
    else if (b(0) == 'B' && b(1) == 'M') bmpGray(b)
    else if ((b(0) & 0xff) == 0x89 && b(1) == 'P') pngGray(b)
    else if (b(0) == 'G' && b(1) == 'I' && b(2) == 'F') gifGray(b)
    else if ((b(0) & 0xff) == 0xff && (b(1) & 0xff) == 0xd8) jpegGray(b)
    else None
  }

  private def bmpGray(b: Array[Byte]): Option[GrayImage] = try {
    val (w, h, topDown, off, stride, bpp, palette) =
      bmpLayout(b).getOrElse(return None)
    if (w.toLong * h > Int.MaxValue) return None
    val gray = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      val stored = if (topDown) y else h - 1 - y
      val ro = (off.toLong + stored * stride).toInt
      var x = 0
      while (x < w) {
        gray(y * w + x) =
          if (bpp == 24) {
            val p = ro + 3 * x
            (b(p) & 0xff) + (b(p + 1) & 0xff) + (b(p + 2) & 0xff)
          } else {
            val ci = b(ro + x) & 0xff
            if (4 * ci >= palette.length) return None
            (palette(4 * ci) & 0xff) + (palette(4 * ci + 1) & 0xff) +
              (palette(4 * ci + 2) & 0xff)
          }
        x += 1
      }
      y += 1
    }
    Some(GrayImage(w, h, gray))
  } catch { case scala.util.control.NonFatal(_) => None }

  private def pngGray(b: Array[Byte]): Option[GrayImage] =
    pngRgbBytes(b).map { case (w, h, img) =>
      val gray = new Array[Int](w * h)
      var p = 0
      var i = 0
      while (p < img.length) {
        gray(i) = (img(p) & 0xff) + (img(p + 1) & 0xff) + (img(p + 2) & 0xff)
        p += 3
        i += 1
      }
      GrayImage(w, h, gray)
    }

  private def gifGray(b: Array[Byte]): Option[GrayImage] =
    gifIndexed(b).flatMap { case (w, h, palette, idx) =>
      val nColors = palette.length / 3
      val gray = new Array[Int](w * h)
      var p = 0
      while (p < gray.length) {
        val ci = idx(p) & 0xff
        if (ci >= nColors) return None
        gray(p) = (palette(3 * ci) & 0xff) + (palette(3 * ci + 1) & 0xff) +
          (palette(3 * ci + 2) & 0xff)
        p += 1
      }
      Some(GrayImage(w, h, gray))
    }

  /** Baseline JPEG → gray: color scans convert through the same
    * fixed-point JFIF YCbCr→RGB as [[decodeJpegRgb]]; a grayscale
    * (1-component) scan is r = g = b = clamp(Y), so gray = 3·clamp(Y)
    * — the clamp matters because IDCT output can leave 0..255. */
  private def jpegGray(b: Array[Byte]): Option[GrayImage] =
    decodeJpegPlanes(b).flatMap { case (w, h, planes) =>
      val gray = new Array[Int](w * h)
      if (planes.length == 1) {
        val p = planes(0)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            gray(y * w + x) = 3 * math.max(0, math.min(255, p.at(x, y)))
            x += 1
          }
          y += 1
        }
        Some(GrayImage(w, h, gray))
      } else if (planes.length == 3) {
        val (py, pcb, pcr) = (planes(0), planes(1), planes(2))
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val (r, g, bl) = ycc2rgb(py.at(x, y), pcb.at(x, y), pcr.at(x, y))
            gray(y * w + x) = r + g + bl
            x += 1
          }
          y += 1
        }
        Some(GrayImage(w, h, gray))
      } else None
    }

  /** 8×8 average-hash bits over a decoded gray matrix — the exact
    * arithmetic [[ahashBmp]] always used (cross-multiplied means, no
    * floating point), now computable for every format [[decodeGray]]
    * covers. */
  def ahashGray(img: GrayImage): String = {
    val w = img.width; val h = img.height
    val cellSum = new Array[Long](64)
    val cellN = new Array[Long](64)
    var total = 0L
    var y = 0
    while (y < h) {
      val cy = y * 8 / h
      var x = 0
      while (x < w) {
        val gray = img.gray(y * w + x)
        val c = cy * 8 + x * 8 / w
        cellSum(c) += gray
        cellN(c) += 1
        total += gray
        x += 1
      }
      y += 1
    }
    val n = w.toLong * h
    val bits = new java.lang.StringBuilder(64)
    var c = 0
    while (c < 64) {
      bits.append(if (cellSum(c) * n > total * cellN(c)) '1' else '0')
      c += 1
    }
    bits.toString
  }

  /** Fixed-point cosine basis for the perceptual DCT hash:
    * cos(π(2x+1)u/64)·1024, rounded half-even away from the exactness
    * question entirely — BOTH sides (this kernel and the SQL oracle)
    * use the same integer table, so the hash is exact by construction
    * at any precision. u ∈ 1..8 (index 0..7), x ∈ 0..31. */
  val phashCos: Array[Array[Int]] =
    Array.tabulate(8, 32)((u0, x) =>
      math.round(math.cos(math.Pi * (2 * x + 1) * (u0 + 1) / 64.0)
        * 1024.0).toInt)

  /** 64-bit perceptual DCT hash (the pHash family, LAION-style image
    * dedup) over any decoded gray matrix, integer-exact end to end so
    * a SQL oracle re-derives it bit-for-bit:
    *
    *  1. 32×32 grid: pixel (x, y) belongs to cell (x·32 div w,
    *     y·32 div h); per cell keep (sum, count) — integers.
    *  2. Centered cell quantity q(c) = cellSum(c)·N − totalSum·
    *     cellN(c) (the aHash cross-multiplied-means trick generalized
    *     from a comparison to a VALUE): q is N·cellN·(cellMean −
    *     imageMean) without a single division, and a global
    *     brightness shift +Δ cancels EXACTLY — (cellSum + Δ·cellN)·N
    *     − (totalSum + Δ·N)·cellN = q.
    *  3. 2-D DCT over q with the integer cosine table [[phashCos]]:
    *     coef(u, v) = Σ_cells q·C[u][cx]·C[v][cy] for u, v ∈ 1..8 —
    *     the 64 lowest AC frequencies, excluding the u=0/v=0 row and
    *     column so pure-horizontal/vertical exposure gradients barely
    *     register (what lets pHash keep matching where aHash flips
    *     half its bits).
    *  4. bit((u−1)·8 + (v−1)) = 1 iff coef(u, v) > 0, emitted
    *     u-major as a '0'/'1' string like [[ahashGray]].
    *
    * Long arithmetic is exact up to ~30k-pixel images (|q| ≤
    * 765·N·max cellN, times 2²⁰ for the two cosine factors, times
    * 1024 cells); larger images switch to BigInt accumulation —
    * same integers, same bits, no overflow. */
  def phashGray(img: GrayImage): String = {
    val w = img.width; val h = img.height
    val cs = new Array[Long](1024)
    val cn = new Array[Long](1024)
    var total = 0L
    var y = 0
    while (y < h) {
      val cy = y * 32 / h
      var x = 0
      while (x < w) {
        val c = cy * 32 + x * 32 / w
        cs(c) += img.gray(y * w + x)
        cn(c) += 1
        x += 1
      }
      y += 1
    }
    val n = w.toLong * h
    var i = 0
    while (i < 1024) { total += cs(i); i += 1 }
    val q = new Array[Long](1024)
    i = 0
    while (i < 1024) { q(i) = cs(i) * n - total * cn(i); i += 1 }
    // Long-exactness bound: |q| ≤ 765·N·max(cellN) and each DCT term
    // multiplies by two cosine factors ≤ 2¹⁰ over ≤ 1024 cells — switch
    // to BigInt when the worst case could pass Long.MaxValue
    var cnMax = 0L
    i = 0
    while (i < 1024) { if (cn(i) > cnMax) cnMax = cn(i); i += 1 }
    val maxQ = 765.0 * n * cnMax // double: the BOUND may overflow Long
    val fitsLong = maxQ < (Long.MaxValue >> 31).toDouble // 1024 · 2²⁰ · 2
    val bits = new java.lang.StringBuilder(64)
    // Separable 2-D DCT: row pass t(u, cy) = Σ_cx q·C[u][cx], then
    // coef(u, v) = Σ_cy t(u, cy)·C[v][cy] — the same integer products
    // regrouped (exact in both Long and BigInt), 6× fewer multiplies
    // than the direct double sum per image.
    if (fitsLong) {
      val t = Array.ofDim[Long](8, 32)
      var cy = 0
      while (cy < 32) {
        var u = 0
        while (u < 8) {
          val cu = phashCos(u)
          var acc = 0L
          var cx = 0
          while (cx < 32) { acc += q(cy * 32 + cx) * cu(cx); cx += 1 }
          t(u)(cy) = acc
          u += 1
        }
        cy += 1
      }
      var u = 0
      while (u < 8) {
        val tu = t(u)
        var v = 0
        while (v < 8) {
          val cv = phashCos(v)
          var acc = 0L
          var k = 0
          while (k < 32) { acc += tu(k) * cv(k); k += 1 }
          bits.append(if (acc > 0L) '1' else '0')
          v += 1
        }
        u += 1
      }
    } else {
      val t = Array.ofDim[BigInt](8, 32)
      var cy = 0
      while (cy < 32) {
        var u = 0
        while (u < 8) {
          val cu = phashCos(u)
          var acc = BigInt(0)
          var cx = 0
          while (cx < 32) {
            val qv = q(cy * 32 + cx)
            if (qv != 0L) acc += BigInt(qv) * cu(cx)
            cx += 1
          }
          t(u)(cy) = acc
          u += 1
        }
        cy += 1
      }
      var u = 0
      while (u < 8) {
        val tu = t(u)
        var v = 0
        while (v < 8) {
          val cv = phashCos(v)
          var acc = BigInt(0)
          var k = 0
          while (k < 32) { acc += tu(k) * cv(k); k += 1 }
          bits.append(if (acc.signum > 0) '1' else '0')
          v += 1
        }
        u += 1
      }
    }
    bits.toString
  }

  /** Perceptual DCT hash of one decoded image. */
  final case class ImagePhash(id: Long, width: Int, height: Int,
                              phash: String)

  /** Real BMP encode of an arbitrary RGB pixel function: the
    * [[buildBmp]] header + BGR rows with real 4-byte padding and
    * real bottom-up/top-down placement. */
  def encodeBmpRgb(width: Int, height: Int, topDown: Boolean,
                   rgb: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
    val arr = buildBmp(width, height, topDown)
    val rowSize = ((24 * width + 31) / 32) * 4
    var y = 0
    while (y < height) {
      val stored = if (topDown) y else height - 1 - y
      val base = 54 + stored * rowSize
      var x = 0
      while (x < width) {
        val p = base + 3 * x
        val (r, g, bl) = rgb(x, y)
        arr(p) = bl.toByte
        arr(p + 1) = g.toByte
        arr(p + 2) = r.toByte
        x += 1
      }
      y += 1
    }
    arr
  }

  /** The 48×32 pHash fixture picture for class `s` ∈ 0..36: classes
    * 0..29 are the [[buildBmpTexture]]-style channel textures; classes
    * 30..36 render class s−30's picture with a saturating horizontal
    * EXPOSURE RAMP (+(80·x div 48) per channel, capped at each
    * channel's modulus) — the smooth brightness gradient of uneven
    * lighting / vignetting. The ramp shifts ~half the pixels across
    * the image mean, so the twin sits 26..33 aHash bits from its base
    * (aHash can never pair them) — but a near-horizontal gradient
    * lives in the u≥1, v=0 DCT row that [[phashGray]] EXCLUDES, so
    * the twin stays 2..4 pHash bits away and the banded Hamming join
    * finds every planted pair. All arithmetic is closed-form in
    * (x, y, s), so a SQL oracle re-derives the hash exactly. */
  def phashTwinRgb(s: Long)(x: Int, y: Int): (Int, Int, Int) = {
    val b0 = if (s >= 30) s - 30 else s
    val ramp = if (s >= 30) (80 * x) / 48 else 0
    (math.min(254, (31L * x + 47L * y + 61L * b0) % 255 + ramp).toInt,
      math.min(252, (59L * x + 83L * y + 29L * b0) % 253 + ramp).toInt,
      math.min(250, (73L * x + 151L * y + 97L * b0) % 251 + ramp).toInt)
  }

  /** A TEXTURED BMP fixture for the hash gate: large multipliers make
    * each channel wrap its modulus many times across the image, so the
    * seed shifts the wrap phase and different seeds produce genuinely
    * different cell-mean layouts — [[buildBmpPattern]]'s smooth
    * gradient hashes identically for every seed (the mean-threshold
    * bits only see the gradient), which would collapse the dedup gate
    * to one giant group. */
  def buildBmpTexture(width: Int, height: Int, topDown: Boolean,
                      seed: Long): Array[Byte] =
    encodeBmpRgb(width, height, topDown, (x, y) =>
      (((31L * x + 47L * y + 61L * seed) % 255).toInt,
        ((59L * x + 83L * y + 29L * seed) % 253).toInt,
        ((73L * x + 151L * y + 97L * seed) % 251).toInt))

  /** [[buildBmpTexture]] at a fixed 24×16 with NEAR-DUP TWINS: classes
    * 30..36 render class s−30's picture with one aHash grid cell
    * COMPLEMENTED — the 3×2 pixels of cell 0 invert per channel
    * (250−B, 252−G, 254−R, i.e. gray′ = 756 − gray), which flips that
    * cell's relation to the image mean while barely moving the mean
    * itself — a few Hamming bits from the base class, a distinct
    * exact key. The banded Hamming join has to FIND these pairs;
    * unrelated classes sit ~30 bits apart. */
  def buildBmpTwinTexture(s: Long): Array[Byte] = {
    val base = if (s >= 30) s - 30 else s
    encodeBmpRgb(24, 16, topDown = false, { (x, y) =>
      val patched = s >= 30 && x < 3 && y < 2
      val rr = ((31L * x + 47L * y + 61L * base) % 255).toInt
      val gg = ((59L * x + 83L * y + 29L * base) % 253).toInt
      val bb = ((73L * x + 151L * y + 97L * base) % 251).toInt
      if (patched) (254 - rr, 252 - gg, 250 - bb) else (rr, gg, bb)
    })
  }

  /** Windowed loudness profile of a PCM16 clip — the audio-curation
    * stats (silence share, energy) a speech-data pipeline filters on.
    * All fields are exact integer arithmetic. */
  final case class WavEnergy(id: Long, nWindows: Long, energyTotal: Long,
                             nSilent: Long, peakWindowEnergy: Long)

  /** Decode 16-bit PCM and profile loudness in fixed windows of
    * `window` frames (last window may be partial): per window the sum
    * of squared samples across channels (energy) and the max |sample|;
    * a window is SILENT when its max |sample| < `threshold`. Returns
    * exact longs so the SQL oracle reproduces every field. */
  def wavEnergy(id: Long, b: Array[Byte], window: Int = 100,
                threshold: Int = 64): Option[WavEnergy] = try {
    if (window <= 0) return None // a 0-frame window would never advance
    val h = pcm16(b).getOrElse(return None)
    val (ch, dataOff) = (h.channels, h.dataOff)
    val frames = h.dataLen / (2 * ch)
    var nWin = 0L; var totalE = 0L; var nSilent = 0L; var peakE = 0L
    var f = 0L
    while (f < frames) {
      val end = math.min(f + window, frames)
      var we = 0L; var wMax = 0
      while (f < end) {
        var c = 0
        while (c < ch) {
          val p = (dataOff + f * ch * 2 + 2 * c).toInt
          val v = le16(b, p).toShort.toInt
          we += v.toLong * v
          val a = math.abs(v)
          if (a > wMax) wMax = a
          c += 1
        }
        f += 1
      }
      nWin += 1
      totalE += we
      if (wMax < threshold) nSilent += 1
      if (we > peakE) peakE = we
    }
    Some(WavEnergy(id, nWin, totalE, nSilent, peakE))
  } catch {
    case scala.util.control.NonFatal(_) => None
  }

  /** [[buildWavPattern]] with MUTED STRETCHES the silence detector has
    * to find: frames in windows where (f div 100 + seed) mod 5 == 0
    * carry small samples (|v| ≤ 48, under the 64 threshold), all other
    * windows provably exceed it (100 consecutive frames span ≥ 693 of
    * the ±1001 range, so some |sample| ≥ 346). */
  def buildWavEnergyPattern(channels: Int, sampleRate: Int, nSamples: Long,
                            seed: Long): Array[Byte] =
    pcmWav(channels, sampleRate, nSamples, withListChunk = false) { (f, c) =>
      if ((f / 100 + seed) % 5 == 0) ((7 * f + 13 * c + seed) % 97 - 48).toInt
      else ((7 * f + 13 * c + seed) % 2003 - 1001).toInt
    }

  /** Zero-crossing profile of a PCM16 clip — with energy, the classic
    * cheap speech/music/noise discriminator (high ZCR ≈ fricatives/
    * noise, low ≈ voiced speech/tones). Exact integers throughout. */
  final case class WavZcr(id: Long, channels: Int, nFrames: Long,
                          crossings: Long)

  /** Count STRICT sign flips between consecutive frames per channel
    * (prev·cur < 0 — zero samples break a run rather than crossing),
    * summed over channels. Exact, so the SQL oracle mirrors it with a
    * per-channel LAG. */
  def wavZcr(id: Long, b: Array[Byte]): Option[WavZcr] = try {
    val h = pcm16(b).getOrElse(return None)
    val (ch, dataOff) = (h.channels, h.dataOff)
    val frames = h.dataLen / (2 * ch)
    val prev = new Array[Int](ch)
    var crossings = 0L
    var f = 0L
    while (f < frames) {
      var c = 0
      while (c < ch) {
        val p = (dataOff + f * ch * 2 + 2 * c).toInt
        val v = le16(b, p).toShort.toInt
        if (f > 0 && prev(c).toLong * v < 0) crossings += 1
        prev(c) = v
        c += 1
      }
      f += 1
    }
    Some(WavZcr(id, ch, frames, crossings))
  } catch {
    case scala.util.control.NonFatal(_) => None
  }

  /** A minimal valid PNG: signature + IHDR (with a REAL CRC32) + IEND.
    * Header fixture — no IDAT; [[parsePng]] reads and verifies IHDR. */
  def buildPng(width: Int, height: Int): Array[Byte] = {
    require(width > 0 && height > 0)
    pngChunks(Seq(ihdr(width, height, 2, 0), // truecolor
      "IEND" -> Array.emptyByteArray))
  }

  /** A minimal valid JPEG header skeleton: SOI + JFIF APP0 + SOF0
    * (1 component) + EOI — everything [[parseJpeg]]'s marker walk
    * traverses, no entropy stream. */
  def buildJpeg(width: Int, height: Int): Array[Byte] = {
    require(width > 0 && height > 0 && width <= 0xffff && height <= 0xffff)
    val b = java.nio.ByteBuffer.allocate(35) // big-endian by default
    b.putShort(0xffd8.toShort) // SOI
    b.putShort(0xffe0.toShort).putShort(16) // APP0, len
    b.put("JFIF".getBytes("US-ASCII")).put(0.toByte)
    b.putShort(0x0101.toShort).put(0.toByte) // version, units
    b.putShort(1).putShort(1).put(0.toByte).put(0.toByte) // density, thumb
    b.putShort(0xffc0.toShort).putShort(11) // SOF0, len = 8 + 3·1
    b.put(8.toByte).putShort(height.toShort).putShort(width.toShort)
    b.put(1.toByte) // 1 component
    b.put(1.toByte).put(0x11.toByte).put(0.toByte) // id, sampling, qtable
    b.putShort(0xffd9.toShort) // EOI
    b.array()
  }

  /** A minimal valid GIF89a: signature + logical screen descriptor +
    * trailer. */
  def buildGif(width: Int, height: Int): Array[Byte] = {
    require(width > 0 && height > 0 && width <= 0xffff && height <= 0xffff)
    val b = java.nio.ByteBuffer.allocate(14)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("GIF89a".getBytes("US-ASCII"))
    b.putShort(width.toShort).putShort(height.toShort)
    b.put(0.toByte).put(0.toByte).put(0.toByte) // packed, bg, aspect
    b.put(0x3b.toByte) // trailer
    b.array()
  }

  /** A minimal valid PCM16 WAV. `withListChunk` inserts a LIST chunk
    * between `fmt ` and `data` — the legal layout naive offset-44
    * parsers break on. Sample bytes are zeros. */
  def buildWav(channels: Int, sampleRate: Int, nSamples: Long,
               withListChunk: Boolean): Array[Byte] = {
    require(channels > 0 && sampleRate > 0 && nSamples >= 0)
    riff("WAVE", Seq("fmt " -> wavFmt(1, channels, sampleRate, // PCM
        sampleRate * channels * 2, channels * 2, 16)) ++
      (if (withListChunk) Seq("LIST" -> ascii("INFO")) else Nil) :+
      ("data" -> new Array[Byte]((nSamples * channels * 2).toInt)))
  }

  /** [[buildWav]] with a deterministic SIGNAL: sample value for frame i,
    * channel c is ((7i + 13c + seed) mod 2003) − 1001 — spans negative
    * and positive int16 values so a sign/endianness bug in the decoder
    * is caught, and every statistic is recomputable from
    * (nSamples, channels, seed) arithmetic alone. */
  def buildWavPattern(channels: Int, sampleRate: Int, nSamples: Long,
                      withListChunk: Boolean, seed: Long): Array[Byte] =
    pcmWav(channels, sampleRate, nSamples, withListChunk)((f, c) =>
      ((7 * f + 13 * c + seed) % 2003 - 1001).toInt)

  /** [[buildWav]] with every little-endian int16 `sample(frame,
    * channel)` written into the data chunk. */
  private def pcmWav(channels: Int, sampleRate: Int, nSamples: Long,
                     withListChunk: Boolean)(
      sample: (Long, Int) => Int): Array[Byte] = {
    val arr = buildWav(channels, sampleRate, nSamples, withListChunk)
    val dataOff = 44 + (if (withListChunk) 12 else 0)
    var f = 0L
    while (f < nSamples) {
      var c = 0
      while (c < channels) {
        val v = sample(f, c)
        val p = (dataOff + f * channels * 2 + 2 * c).toInt
        arr(p) = (v & 0xff).toByte
        arr(p + 1) = ((v >> 8) & 0xff).toByte
        c += 1
      }
      f += 1
    }
    arr
  }

  // ----------------------------------------------------- JPEG pixels

  /** Decoded JPEG statistics (grayscale baseline): integer pixel sums
    * divided once, like the other codecs' stats. */
  final case class JpegPixels(id: Long, width: Int, height: Int,
                              meanGray: Double, topRowMean: Double)

  /** Zigzag scan order (JPEG spec Figure 5): zigzag(k) = the block
    * index (row*8+col) of the k-th coefficient in scan order. */
  private val zigzag: Array[Int] = {
    val z = new Array[Int](64)
    var k = 0
    var d = 0
    while (d < 15) { // anti-diagonals
      val range = math.max(0, d - 7) to math.min(7, d)
      val cells = range.map(i => (i, d - i)) // (row, col) with row+col=d
      val ordered = if (d % 2 == 0) cells.reverse else cells
      ordered.foreach { case (r, c) => z(k) = r * 8 + c; k += 1 }
      d += 1
    }
    z
  }

  /** Standard luminance Huffman tables (JPEG Annex K.3.3) as
    * (codes per length, symbols). Both sides READ tables from the DHT
    * segment, so any valid table covering the emitted symbols round
    * trips; the standard ones are used for interchange fidelity. */
  private val StdDc = (Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0),
    (0 to 11).toArray)
  private val StdAc = (Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d),
    Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
    0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
    0xa1, 0x08, 0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0, 0x24,
    0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16, 0x17, 0x18, 0x19, 0x1a,
    0x25, 0x26, 0x27, 0x28, 0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38,
    0x39, 0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4a, 0x53,
    0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5a, 0x63, 0x64, 0x65, 0x66,
    0x67, 0x68, 0x69, 0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8a, 0x92, 0x93,
    0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5,
    0xa6, 0xa7, 0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6, 0xb7,
    0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5, 0xc6, 0xc7, 0xc8, 0xc9,
    0xca, 0xd2, 0xd3, 0xd4, 0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1,
    0xe2, 0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea, 0xf1, 0xf2,
    0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8, 0xf9, 0xfa))

  /** The progressive fixtures' AC table: the BASELINE standard AC table
    * has no EOBn symbols (0x10..0xE0 carry s=0 only in progressive
    * scans), so the AC band scans ship their own flat 9-bit table
    * covering (r, s) ∀ r, s∈1..10 + EOB runs + ZRL — 176 symbols,
    * Kraft 176/512, read back from the DHT like any other table. */
  private val ProgAc = {
    val vals = (Seq(0x00, 0xf0) ++ (1 to 14).map(_ << 4) ++
      (for (r <- 0 to 15; s <- 1 to 10) yield (r << 4) | s)).toArray
    (Array.tabulate(16)(l => if (l == 8) vals.length else 0), vals)
  }

  /** One DHT table: the shared canonical [[PrefixCode]] over the table's
    * symbol order (the spec's code-generation procedure, Annex C) and
    * the symbol values. */
  private final class JpegHuff(bits: Array[Int], vals: Array[Int]) {
    private val code = PrefixCode.fromCounts(bits)
    private val index = Array.fill(256)(-1)
    vals.indices.foreach(i => index(vals(i)) = i)
    def decode(r: BitReader): Int = {
      val i = code.decode(r)
      if (i < 0) -1 else vals(i)
    }
    def put(w: BitWriter, sym: Int): Unit = code.encode(w, index(sym))
  }

  /** The JPEG layer over the shared MSB-first writer: an FF byte is
    * stuffed with 00, and `flush` pads with 1-bits (spec F.1.2.3). */
  private final class JpegBitWriter(o: java.io.ByteArrayOutputStream)
      extends BitWriter(msbFirst = true, o) {
    override protected def emit(byte: Int): Unit = {
      out.write(byte)
      if (byte == 0xff) out.write(0x00)
    }
    def flush(): Unit = alignToByte(1)
  }

  /** The JPEG layer over the shared MSB-first reader: a stuffed FF 00
    * reads as FF, any other marker (FF xx) ends the input (−1). Kept a
    * subclass so the shared reader never branches on JPEG. */
  private final class JpegBitReader(b: Array[Byte], start: Int)
      extends BitReader(b, start, msbFirst = true) {
    override protected def nextByte(): Int = {
      if (pos >= b.length) return -1
      val v = b(pos) & 0xff
      pos += 1
      if (v == 0xff) {
        if (pos >= b.length || (b(pos) & 0xff) != 0x00) return -1
        pos += 1 // stuffed zero
      }
      v
    }
    /** §F.2.1.3.1 restart sync: discard the current byte's remaining
      * pad bits, skip a stuffed FF 00 pad byte if the 1-bit padding
      * formed one, then consume exactly the expected RSTn marker. */
    def restartSync(expect: Int): Boolean = {
      alignToByte()
      while (pos + 1 < b.length && (b(pos) & 0xff) == 0xff &&
        (b(pos + 1) & 0xff) == 0x00) pos += 2
      if (pos + 1 >= b.length) return false
      if ((b(pos) & 0xff) != 0xff ||
        (b(pos + 1) & 0xff) != 0xd0 + (expect % 8)) return false
      pos += 2
      true
    }
  }

  /** One marker segment: FF, marker, the 16-bit length, the body. */
  private def segment(out: java.io.ByteArrayOutputStream, marker: Int,
                      body: Array[Byte]): Unit = {
    out.write(0xff); out.write(marker)
    out.write((body.length + 2) >> 8); out.write((body.length + 2) & 0xff)
    out.write(body, 0, body.length)
  }

  private def u8s(v: Int*): Array[Byte] = v.map(_.toByte).toArray

  /** The head every encoded fixture JPEG shares: SOI, an all-ones 8-bit
    * quant table 0 (coefficients stay lossless), the SOFn frame header
    * (component ids 1..n, `samp` sampling bytes, all on quant table 0),
    * and DHT DC table 0 (standard) + AC table 0 (`ac`). Returns the DC
    * and AC tables for the entropy coder. */
  private def jpegHead(out: java.io.ByteArrayOutputStream, sof: Int,
                       width: Int, height: Int, samp: Array[Int],
                       ac: (Array[Int], Array[Int])): (JpegHuff, JpegHuff) = {
    require(width > 0 && height > 0 && width <= 0xffff && height <= 0xffff)
    out.write(0xff); out.write(0xd8) // SOI
    segment(out, 0xdb, 0.toByte +: Array.fill[Byte](64)(1)) // DQT
    segment(out, sof, u8s(8, height >> 8, height, width >> 8, width,
      samp.length) ++ samp.indices.flatMap(c => u8s(c + 1, samp(c), 0)))
    def dht(cls: Int, t: (Array[Int], Array[Int])): JpegHuff = {
      segment(out, 0xc4, ((cls << 4) +: (t._1 ++ t._2)).map(_.toByte))
      new JpegHuff(t._1, t._2)
    }
    (dht(0, StdDc), dht(1, ac))
  }

  /** Huffman symbol `sym`, then `v` in `s` magnitude bits (negative
    * values as v + 2^s − 1, spec F.1.2.1). */
  private def putSym(w: BitWriter, t: JpegHuff, sym: Int, v: Int,
                     s: Int): Unit = {
    t.put(w, sym)
    if (s > 0) w.write(if (v < 0) v + (1 << s) - 1 else v, s)
  }

  /** DQT / DHT segment bodies `[from, end)`, several tables each: 8-bit
    * quant tables into `quant`, Huffman tables into `huff(class·4+id)`.
    * False on a 16-bit quant table (the decoder seam), an out-of-range
    * id, or a table running past its segment. */
  private def jpegTables(b: Array[Byte], marker: Int, from: Int, end: Int,
                         quant: Array[Array[Int]],
                         huff: Array[JpegHuff]): Boolean = {
    var p = from
    while (p < end) {
      val hi = u8(b, p) >> 4; val lo = u8(b, p) & 15
      if (marker == 0xdb) {
        if (hi != 0 || lo > 3 || p + 65 > end) return false
        quant(lo) = Array.tabulate(64)(i => u8(b, p + 1 + i))
        p += 65
      } else {
        if (hi > 1 || lo > 3) return false
        val bits = Array.tabulate(16)(i => u8(b, p + 1 + i))
        val n = bits.sum
        if (p + 17 + n > end) return false
        huff(hi * 4 + lo) =
          new JpegHuff(bits, Array.tabulate(n)(i => u8(b, p + 17 + i)))
        p += 17 + n
      }
    }
    true
  }

  /** EXTEND (spec F.2.2.1): map a magnitude-category bit pattern back
    * to the signed value. */
  private def extend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  /** Magnitude category of a coefficient (0..11). */
  private def category(v: Int): Int = {
    var a = math.abs(v)
    var s = 0
    while (a != 0) { a >>= 1; s += 1 }
    s
  }

  /** Direct 2-D IDCT (spec A.3.3, the textbook double sum) with a
    * precomputed cosine table; DC-only blocks reconstruct exactly
    * (sample = DC/8, an integer for the fixtures' DC = 8·(val−128)). */
  private val idctCos: Array[Double] = {
    val t = new Array[Double](64) // t(x*8+u) = cos((2x+1)uπ/16)
    var x = 0
    while (x < 8) {
      var u = 0
      while (u < 8) {
        t(x * 8 + u) = math.cos((2 * x + 1) * u * math.Pi / 16)
        u += 1
      }
      x += 1
    }
    t
  }

  private def idct8x8(coef: Array[Int]): Array[Int] = {
    val out = new Array[Int](64)
    val c = new Array[Double](8)
    c(0) = 1.0 / math.sqrt(2.0)
    var i = 1
    while (i < 8) { c(i) = 1.0; i += 1 }
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var sum = 0.0
        var v = 0
        while (v < 8) {
          var u = 0
          while (u < 8) {
            val cf = coef(v * 8 + u)
            if (cf != 0)
              sum += c(u) * c(v) * cf * idctCos(x * 8 + u) * idctCos(y * 8 + v)
            u += 1
          }
          v += 1
        }
        val s = math.rint(sum / 4.0).toInt + 128
        out(y * 8 + x) = math.max(0, math.min(255, s))
        x += 1
      }
      y += 1
    }
    out
  }

  /** Huffman-encode ONE block of (already quantized) coefficients in
    * natural (row-major) order against the given code tables; returns
    * the new DC predictor. Shared by the fixture builder and the spec's
    * arbitrary-coefficient round trips (runs, ZRL, EOB all real). */
  private def encodeBlock(w: JpegBitWriter, coef: Array[Int], dcPred: Int,
                          dc: JpegHuff, ac: JpegHuff): Int = {
    val diff = coef(0) - dcPred
    putSym(w, dc, category(diff), diff, category(diff))
    // AC in zigzag order with run-length coding
    var run = 0
    var k = 1
    while (k < 64) {
      val v = coef(zigzag(k))
      if (v == 0) run += 1
      else {
        while (run > 15) { ac.put(w, 0xf0); run -= 16 } // ZRL
        putSym(w, ac, (run << 4) | category(v), v, category(v))
        run = 0
      }
      k += 1
    }
    if (run > 0) ac.put(w, 0x00) // EOB
    coef(0)
  }

  /** Real grayscale baseline JPEG ENCODE: DQT (all-ones quant), the
    * standard DHT pair, SOF0 (1 component), SOS, and a real
    * Huffman-coded entropy stream with DC prediction and byte
    * stuffing. `blocks(bi)` is the quantized coefficient block (natural
    * order) of the bi-th MCU in row-major MCU order. */
  def buildJpegBlocks(width: Int, height: Int,
                      blocks: Int => Array[Int],
                      restartInterval: Int = 0): Array[Byte] =
    buildJpegMulti(width, height, Array(0x11), (bi, _, _) => blocks(bi),
      restartInterval)

  /** The 4:4:4 color variant: `blocks(bi, c)` is component c's
    * quantized block for the bi-th MCU (c = 0/1/2 → Y/Cb/Cr). */
  def buildJpegColorBlocks(width: Int, height: Int,
                           blocks: (Int, Int) => Array[Int],
                           restartInterval: Int = 0): Array[Byte] =
    buildJpegMulti(width, height, Array(0x11, 0x11, 0x11),
      (bi, c, _) => blocks(bi, c), restartInterval)

  /** The 4:2:0 variant: per 16×16 MCU, `blocks(bi, 0, sub)` are the
    * four Y blocks (sub = v·2 + h, row-major) and `blocks(bi, 1/2, 0)`
    * the single Cb/Cr block. */
  def buildJpeg420Blocks(width: Int, height: Int,
                         blocks: (Int, Int, Int) => Array[Int],
                         restartInterval: Int = 0): Array[Byte] =
    buildJpegMulti(width, height, Array(0x22, 0x11, 0x11), blocks,
      restartInterval)

  private def buildJpegMulti(width: Int, height: Int, samp: Array[Int],
                             blocks: (Int, Int, Int) => Array[Int],
                             restartInterval: Int = 0)
      : Array[Byte] = {
    val nComp = samp.length
    val out = new java.io.ByteArrayOutputStream()
    val (dcT, acT) = jpegHead(out, 0xc0, width, height, samp, StdAc)
    if (restartInterval > 0) // DRI
      segment(out, 0xdd, u8s(restartInterval >> 8, restartInterval))
    // SOS: every component uses DC 0 / AC 0; Ss, Se, AhAl = 0, 63, 0
    segment(out, 0xda, u8s((nComp +: (0 until nComp).flatMap(c =>
      Seq(c + 1, 0x00))) ++ Seq(0, 63, 0): _*))
    val bw = new JpegBitWriter(out)
    val hMax = samp.map(_ >> 4).max
    val vMax = samp.map(_ & 15).max
    val mcuW = (width + 8 * hMax - 1) / (8 * hMax)
    val mcuH = (height + 8 * vMax - 1) / (8 * vMax)
    val preds = new Array[Int](nComp)
    var rst = 0
    var bi = 0
    while (bi < mcuW * mcuH) {
      var c = 0
      while (c < nComp) { // component-interleaved MCUs, Hc×Vc subs each
        val subs = (samp(c) >> 4) * (samp(c) & 15)
        var sub = 0
        while (sub < subs) {
          preds(c) = encodeBlock(bw, blocks(bi, c, sub), preds(c), dcT, acT)
          sub += 1
        }
        c += 1
      }
      if (restartInterval > 0 && (bi + 1) % restartInterval == 0 &&
        bi + 1 < mcuW * mcuH) {
        bw.flush() // 1-bit padding (stuffed by the writer if it forms FF)
        out.write(0xff); out.write(0xd0 + rst); rst = (rst + 1) % 8
        java.util.Arrays.fill(preds, 0)
      }
      bi += 1
    }
    bw.flush()
    out.write(0xff); out.write(0xd9) // EOI
    out.toByteArray
  }

  /** [[buildJpegColorBlocks]] with a block-constant YCbCr picture —
    * DC-only blocks, exact through the IDCT, so the only arithmetic the
    * oracle must mirror is the fixed-point color conversion:
    * Y = (bx + 3·by + s) mod 256, Cb = (2·bx + by + s) mod 256,
    * Cr = (bx + 7·by + 2·s) mod 256. */
  def buildJpegColorPattern(width: Int, height: Int, seed: Long,
                            restartInterval: Int = 0): Array[Byte] = {
    val bw8 = (width + 7) / 8
    buildJpegColorBlocks(width, height, restartInterval = restartInterval,
      blocks = { (bi, c) =>
      val bx = bi % bw8
      val by = bi / bw8
      val v = (c match {
        case 0 => (bx + 3L * by + seed) % 256
        case 1 => (2L * bx + by + seed) % 256
        case _ => (bx + 7L * by + 2L * seed) % 256
      }).toInt
      val coef = new Array[Int](64)
      coef(0) = (v - 128) * 8
      coef
    })
  }

  /** [[buildJpegBlocks]] with the deterministic PICTURE the gate
    * verifies: every 8×8 block is a constant gray
    * (bx + 3·by + seed) mod 256 — a DC-only coefficient block
    * (DC = 8·(val−128), all AC zero) that baseline JPEG reproduces
    * EXACTLY (quant 1, IDCT of a DC-only block is DC/8 per sample), so
    * the lossy format carries a lossless fixture and the oracle can
    * recompute every statistic from (w, h, seed) arithmetic. */
  def buildJpegPattern(width: Int, height: Int, seed: Long,
                       restartInterval: Int = 0): Array[Byte] = {
    val bw8 = (width + 7) / 8
    buildJpegBlocks(width, height, restartInterval = restartInterval,
      blocks = { bi =>
      val bx = bi % bw8
      val by = bi / bw8
      val v = ((bx + 3L * by + seed) % 256).toInt
      val coef = new Array[Int](64)
      coef(0) = (v - 128) * 8
      coef
    })
  }

  /** Full decode of a grayscale baseline JPEG — the fifth real codec,
    * covering the DCT-family pipeline end to end in pure JVM: marker
    * walk, DQT/DHT read FROM THE FILE (never assumed), SOF0 frame
    * header, Huffman entropy decode with byte-destuffing and DC
    * prediction, run-length AC reconstruction (EOB/ZRL), dezigzag,
    * dequantization, and the real 8×8 IDCT with level shift and
    * clamping. Color (multi-component), progressive (SOF2), restart
    * intervals, and 16-bit quant tables stay behind the decoder seam —
    * None, never a task failure. */
  def decodeJpegPixels(id: Long, b: Array[Byte]): Option[JpegPixels] =
    decodeJpegPlanes(b) match {
      case Some((w, h, planes)) if planes.length == 1 =>
        val p = planes(0)
        var sumG = 0L; var top = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val v = p.at(x, y)
            sumG += v
            if (y == 0) top += v
            x += 1
          }
          y += 1
        }
        val n = w.toLong * h
        Some(JpegPixels(id, w, h, sumG.toDouble / n, top.toDouble / w))
      case _ => None
    }

  /** Decoded color-JPEG statistics: per-channel integer sums divided
    * once, `topRowMean` over all three channels of image row 0. */
  final case class JpegRgb(id: Long, width: Int, height: Int,
                           meanR: Double, meanG: Double, meanB: Double,
                           topRowMean: Double)

  /** Fixed-point JFIF YCbCr→RGB (the libjpeg 16-bit constants — public
    * interchange math): non-negative-biased so truncating and flooring
    * divisions agree, which lets a SQL oracle mirror it exactly. */
  private def ycc2rgb(yv: Int, cb: Int, cr: Int): (Int, Int, Int) = {
    val bias = 256 << 16
    def clamp(v: Int): Int = math.max(0, math.min(255, v))
    val r = clamp((((yv << 16) + 91881 * (cr - 128) + 32768 + bias) >> 16)
      - 256)
    val g = clamp((((yv << 16) - 22554 * (cb - 128) - 46802 * (cr - 128)
      + 32768 + bias) >> 16) - 256)
    val bl = clamp((((yv << 16) + 116130 * (cb - 128) + 32768 + bias) >> 16)
      - 256)
    (r, g, bl)
  }

  /** Full decode of a color baseline JPEG — 4:4:4 (all 1×1) or 4:2:0
    * (Y 2×2, chroma 1×1): the same entropy/IDCT core, subsampled
    * chroma upsampled by sample replication (the JFIF simple
    * upsampling — `JpegPlane.at`'s coordinate shifts), then the
    * fixed-point JFIF color conversion per pixel. */
  def decodeJpegRgb(id: Long, b: Array[Byte]): Option[JpegRgb] =
    decodeJpegPlanes(b) match {
      case Some((w, h, planes)) if planes.length == 3 =>
        val (py, pcb, pcr) = (planes(0), planes(1), planes(2))
        var sumR = 0L; var sumG = 0L; var sumB = 0L; var top = 0L
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val (r, g, bl) =
              ycc2rgb(py.at(x, y), pcb.at(x, y), pcr.at(x, y))
            sumR += r; sumG += g; sumB += bl
            if (y == 0) top += r + g + bl
            x += 1
          }
          y += 1
        }
        val n = w.toLong * h
        Some(JpegRgb(id, w, h, sumR.toDouble / n, sumG.toDouble / n,
          sumB.toDouble / n, top.toDouble / (3L * w)))
      case _ => None
    }

  /** One decoded component plane: MCU-padded samples plus the
    * coordinate shifts that implement JFIF sample-replication
    * upsampling (shift 0 = full resolution, 1 = half). */
  private final case class JpegPlane(data: Array[Int], stride: Int,
                                     shiftX: Int, shiftY: Int) {
    def at(x: Int, y: Int): Int =
      data((y >> shiftY) * stride + (x >> shiftX))
  }

  /** The shared baseline-sequential core: marker walk, file-read
    * DQT/DHT, SOF0 with Nf ∈ {1, 3} — all-1×1 sampling (grayscale /
    * 4:4:4) or the 4:2:0 layout (Y 2×2, chroma 1×1) — component-
    * interleaved MCU entropy decode with per-component DC prediction,
    * dequant, IDCT. Returns MCU-padded planes in SOF component order.
    * Anything outside that envelope — other component counts or
    * sampling layouts, progressive, restart intervals, 16-bit quant —
    * returns None, never throws. */
  private def decodeJpegPlanes(b: Array[Byte])
      : Option[(Int, Int, Array[JpegPlane])] = try {
    if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8)
      return None
    var off = 2
    var w = 0; var h = 0
    var nf = 0
    val quant = new Array[Array[Int]](4)
    val huffCodes = new Array[JpegHuff](8) // per (class, id)
    var sosAt = -1
    var restartInterval = 0
    val sofIds = new Array[Int](3) // component ids in SOF order
    val qIds = new Array[Int](3) // quant table per component
    val samp = new Array[Int](3) // sampling byte (H << 4 | V)
    val dcSel = new Array[Int](3)
    val acSel = new Array[Int](3)
    while (sosAt < 0) {
      if (off + 4 > b.length || u8(b, off) != 0xff) return None
      // skip 0xFF fill bytes before the marker (legal padding, T.81
      // B.1.1.2, mirroring parseJpeg) — without this a padded segment
      // reads marker 0xFF and a bogus length, silently dropping the row
      while (off + 4 < b.length && u8(b, off + 1) == 0xff) off += 1
      val marker = u8(b, off + 1)
      if (marker == 0xd9) return None // EOI before SOS
      val len = be16(b, off + 2)
      if (len < 2 || off + 2 + len > b.length) return None
      val seg = off + 4
      marker match {
        case 0xdb | 0xc4 => // DQT / DHT: possibly several tables each
          if (!jpegTables(b, marker, seg, off + 2 + len, quant, huffCodes))
            return None
        case 0xc0 => // SOF0 baseline
          if (u8(b, seg) != 8) return None
          h = be16(b, seg + 1); w = be16(b, seg + 3)
          nf = u8(b, seg + 5)
          if (nf != 1 && nf != 3) return None // grayscale or color
          var c = 0
          while (c < nf) {
            sofIds(c) = u8(b, seg + 6 + 3 * c)
            samp(c) = u8(b, seg + 7 + 3 * c)
            qIds(c) = u8(b, seg + 8 + 3 * c)
            if (qIds(c) > 3) return None
            c += 1
          }
          // supported layouts: all 1×1, or 4:2:0 (Y 2×2 + chroma 1×1)
          val all11 = (0 until nf).forall(samp(_) == 0x11)
          val is420 = nf == 3 && samp(0) == 0x22 &&
            samp(1) == 0x11 && samp(2) == 0x11
          if (!all11 && !is420) return None
        case 0xc1 | 0xc2 | 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca |
             0xcb | 0xcc | 0xcd | 0xce | 0xcf =>
          return None // progressive / extended / arithmetic: the seam
        case 0xdd => // DRI: restart interval in MCUs
          if (len != 4) return None
          restartInterval = be16(b, seg)
        case 0xda =>
          if (nf == 0 || u8(b, seg) != nf) return None
          var sc = 0
          while (sc < nf) {
            val cid = u8(b, seg + 1 + 2 * sc)
            val tsel = u8(b, seg + 2 + 2 * sc)
            val ci = sofIds.indexOf(cid)
            if (ci < 0 || ci >= nf) return None
            dcSel(ci) = tsel >> 4
            acSel(ci) = (tsel & 15) + 4 // huffCodes index for class 1
            sc += 1
          }
          sosAt = off + 2 + len
        case _ => () // APPn, COM, …: skip
      }
      if (sosAt < 0) off += 2 + len
    }
    if (w <= 0 || h <= 0) return None
    val qts = Array.tabulate(nf) { c =>
      if (quant(qIds(c)) == null) return None else quant(qIds(c))
    }
    val dcTs = Array.tabulate(nf) { c =>
      val t = huffCodes(dcSel(c)); if (t == null) return None else t
    }
    val acTs = Array.tabulate(nf) { c =>
      val t = huffCodes(acSel(c)); if (t == null) return None else t
    }
    val br = new JpegBitReader(b, sosAt)
    val hs = Array.tabulate(nf)(c => samp(c) >> 4) // horizontal factors
    val vs = Array.tabulate(nf)(c => samp(c) & 15)
    val hMax = hs.max
    val vMax = vs.max
    val mcuW = (w + 8 * hMax - 1) / (8 * hMax)
    val mcuH = (h + 8 * vMax - 1) / (8 * vMax)
    val strides = Array.tabulate(nf)(c => mcuW * 8 * hs(c))
    val planes = Array.tabulate(nf) { c =>
      JpegPlane(new Array[Int](strides(c) * mcuH * 8 * vs(c)), strides(c),
        shiftX = if (hs(c) == hMax) 0 else 1,
        shiftY = if (vs(c) == vMax) 0 else 1)
    }
    val preds = new Array[Int](nf)
    val coef = new Array[Int](64)
    var mcuIdx = 0
    var rstN = 0
    var my = 0
    while (my < mcuH) {
      var mx = 0
      while (mx < mcuW) {
        var c = 0
        while (c < nf) { // Hc×Vc blocks per component per MCU
          var sv = 0
          while (sv < vs(c)) {
            var sh = 0
            while (sh < hs(c)) {
              java.util.Arrays.fill(coef, 0)
              val qt = qts(c)
              val s = dcTs(c).decode(br)
              if (s < 0 || s > 11) return None
              val dcBits = br.read(s).toInt
              if (dcBits < 0) return None
              preds(c) += extend(dcBits, s)
              coef(0) = preds(c) * qt(0)
              var k = 1
              var eob = false
              while (k < 64 && !eob) {
                val rs = acTs(c).decode(br)
                if (rs < 0) return None
                val run = rs >> 4
                val sz = rs & 15
                if (rs == 0x00) eob = true
                else if (rs == 0xf0) k += 16
                else {
                  k += run
                  if (k > 63 || sz == 0) return None
                  val vb = br.read(sz).toInt
                  if (vb < 0) return None
                  coef(zigzag(k)) = extend(vb, sz) * qt(k)
                  k += 1
                }
              }
              val px = idct8x8(coef)
              val plane = planes(c).data
              val stride = strides(c)
              val x0 = (mx * hs(c) + sh) * 8
              val y0 = (my * vs(c) + sv) * 8
              var yy = 0
              while (yy < 8) {
                var xx = 0
                while (xx < 8) {
                  plane((y0 + yy) * stride + x0 + xx) = px(yy * 8 + xx)
                  xx += 1
                }
                yy += 1
              }
              sh += 1
            }
            sv += 1
          }
          c += 1
        }
        mcuIdx += 1
        if (restartInterval > 0 && mcuIdx % restartInterval == 0 &&
          mcuIdx < mcuW * mcuH) {
          if (!br.restartSync(rstN)) return None
          rstN = (rstN + 1) % 8
          java.util.Arrays.fill(preds, 0) // DC predictors reset per RSTn
        }
        mx += 1
      }
      my += 1
    }
    Some((w, h, planes))
  } catch { case scala.util.control.NonFatal(_) => None }

  // ------------------------------------------------- progressive JPEG

  /** Grayscale PROGRESSIVE (SOF2) decode: the coefficient array
    * accumulates across scans. Spectral selection — a DC scan (Ss=0,
    * diff-coded like baseline, values << Al) then AC band scans
    * (Ss..Se with EOBRUN runs spanning blocks, per F.2.2) — AND
    * successive approximation: DC refinement scans (one raw bit per
    * block ORed into bit Al) and AC refinement scans (correction bits
    * for already-nonzero coefficients interleaved with newly-visible
    * ±2^Al ones, per G.1.2.3). Multi-component progressive stays
    * behind the decoder seam. After the last scan every block goes
    * through the same dequant + IDCT as baseline. */
  def decodeJpegProgressive(id: Long, b: Array[Byte])
      : Option[JpegPixels] = try {
    if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8)
      return None
    var off = 2
    var w = 0; var h = 0; var qId = -1
    val quant = new Array[Array[Int]](4)
    val huffCodes = new Array[JpegHuff](8)
    var coefs: Array[Array[Int]] = null // per-block natural-order coefs
    var bw8 = 0; var bh8 = 0
    var dcPred = 0
    var sawSof = false
    while (off + 2 <= b.length) {
      if (u8(b, off) != 0xff) return None
      // skip 0xFF fill bytes before the marker (T.81 B.1.1.2), like
      // parseJpeg — padded segments must decode, not silently drop
      while (off + 2 < b.length && u8(b, off + 1) == 0xff) off += 1
      val marker = u8(b, off + 1)
      if (marker == 0xd9) { // EOI: reconstruct
        if (!sawSof || coefs == null || qId < 0 || quant(qId) == null)
          return None
        val qt = quant(qId)
        var sumG = 0L; var top = 0L
        var by = 0
        while (by < bh8) {
          var bx = 0
          while (bx < bw8) {
            val c = coefs(by * bw8 + bx)
            val dq = new Array[Int](64)
            var k = 0
            while (k < 64) { // quant table is in zigzag order, like coefs' source scan positions mapped back
              dq(zigzag(k)) = c(zigzag(k)) * qt(k)
              k += 1
            }
            val px = idct8x8(dq)
            val xMax = math.min(8, w - bx * 8)
            val yMax = math.min(8, h - by * 8)
            var yy = 0
            while (yy < yMax) {
              var xx = 0
              while (xx < xMax) {
                val v = px(yy * 8 + xx)
                sumG += v
                if (by == 0 && yy == 0) top += v
                xx += 1
              }
              yy += 1
            }
            bx += 1
          }
          by += 1
        }
        val n = w.toLong * h
        return Some(JpegPixels(id, w, h, sumG.toDouble / n, top.toDouble / w))
      }
      if (off + 4 > b.length) return None
      val len = be16(b, off + 2)
      if (len < 2 || off + 2 + len > b.length) return None
      val seg = off + 4
      marker match {
        case 0xdb | 0xc4 =>
          if (!jpegTables(b, marker, seg, off + 2 + len, quant, huffCodes))
            return None
        case 0xc2 => // SOF2 progressive
          if (u8(b, seg) != 8 || u8(b, seg + 5) != 1) return None // gray only
          if (u8(b, seg + 7) != 0x11) return None
          h = be16(b, seg + 1); w = be16(b, seg + 3)
          qId = u8(b, seg + 8)
          if (w <= 0 || h <= 0) return None
          bw8 = (w + 7) / 8; bh8 = (h + 7) / 8
          coefs = Array.fill(bw8 * bh8)(new Array[Int](64))
          sawSof = true
        case 0xc0 | 0xc1 | 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca |
             0xcb | 0xcc | 0xcd | 0xce | 0xcf =>
          return None // only SOF2 on this path
        case 0xdd => return None
        case 0xda => // one scan: entropy data follows until next marker
          if (!sawSof || u8(b, seg) != 1) return None
          val tsel = u8(b, seg + 2)
          val ss = u8(b, seg + 3); val se = u8(b, seg + 4)
          val ah = u8(b, seg + 5) >> 4; val al = u8(b, seg + 5) & 15
          if (ss > se || se > 63) return None
          val br = new JpegBitReader(b, off + 2 + len)
          if (ss == 0 && ah == 0) { // DC first scan (se == 0 per spec)
            if (se != 0) return None
            val dcT = huffCodes(tsel >> 4)
            if (dcT == null) return None
            dcPred = 0
            var bi = 0
            while (bi < coefs.length) {
              val s = dcT.decode(br)
              if (s < 0 || s > 11) return None
              val bits = if (s == 0) 0 else br.read(s).toInt
              if (bits < 0) return None
              dcPred += extend(bits, s)
              coefs(bi)(0) = dcPred << al
              bi += 1
            }
          } else if (ss == 0) { // DC refinement: one appended bit/block
            // successive approximation, T.81 G.1.2.1: the scan is a raw
            // bit per block ORed into bit Al of the two's-complement DC
            // (no Huffman table at all)
            if (se != 0) return None
            var bi = 0
            while (bi < coefs.length) {
              val x = br.read(1).toInt
              if (x < 0) return None
              if (x == 1) coefs(bi)(0) |= (1 << al)
              bi += 1
            }
          } else if (ah == 0) { // AC band first scan, single component
            val acT = huffCodes((tsel & 15) + 4)
            if (acT == null) return None
            var eobrun = 0
            var bi = 0
            while (bi < coefs.length) {
              if (eobrun > 0) eobrun -= 1
              else {
                var k = ss
                var done = false
                while (k <= se && !done) {
                  val rs = acT.decode(br)
                  if (rs < 0) return None
                  val r = rs >> 4
                  val s = rs & 15
                  if (s == 0) {
                    if (r == 15) k += 16 // ZRL
                    else { // EOBn: run of 2^r + extra bits, incl. this
                      val extra = if (r == 0) 0 else br.read(r).toInt
                      if (extra < 0) return None
                      eobrun = (1 << r) - 1 + extra
                      done = true
                    }
                  } else {
                    k += r
                    if (k > se) return None
                    val vb = br.read(s).toInt
                    if (vb < 0) return None
                    coefs(bi)(zigzag(k)) = extend(vb, s) << al
                    k += 1
                  }
                }
              }
              bi += 1
            }
          } else { // AC band REFINEMENT scan, T.81 G.1.2.3
            // Two interleaved streams ride the band: correction bits
            // (one per already-nonzero coefficient passed, ORing bit Al
            // toward the value's sign) and newly-visible ±2^Al
            // coefficients coded as (run, 1) + sign. EOB runs cover
            // whole blocks, but unlike the first pass their blocks
            // still carry correction bits for every nonzero
            // coefficient in the band.
            val acT = huffCodes((tsel & 15) + 4)
            if (acT == null) return None
            val p1 = 1 << al
            val m1 = -1 << al
            // read one correction bit for the nonzero coef at zigzag k
            def correct(blk: Array[Int], z: Int): Boolean = {
              val cb = br.read(1).toInt
              if (cb < 0) return false
              if (cb == 1 && (blk(z) & p1) == 0)
                blk(z) += (if (blk(z) >= 0) p1 else m1)
              true
            }
            var eobrun = 0
            var bi = 0
            while (bi < coefs.length) {
              val blk = coefs(bi)
              var k = ss
              if (eobrun == 0) {
                var break = false
                while (k <= se && !break) {
                  val rs = acT.decode(br)
                  if (rs < 0) return None
                  var r = rs >> 4
                  val s = rs & 15
                  var newVal = 0
                  if (s != 0) {
                    if (s != 1) return None // only ±1 new at this bit
                    val sb = br.read(1).toInt
                    if (sb < 0) return None
                    newVal = if (sb == 1) p1 else m1
                  } else if (r != 15) { // EOBn: current block included
                    eobrun = 1 << r
                    if (r > 0) {
                      val extra = br.read(r).toInt
                      if (extra < 0) return None
                      eobrun += extra
                    }
                    break = true
                  } // r == 15, s == 0: ZRL — skip 16 zero-history slots
                  if (!break) {
                    // advance over r zero-HISTORY coefficients (16 for
                    // ZRL), correcting nonzero ones passed on the way
                    var placed = false
                    while (k <= se && !placed) {
                      val z = zigzag(k)
                      if (blk(z) != 0) {
                        if (!correct(blk, z)) return None
                        k += 1
                      } else if (r == 0) placed = true
                      else { r -= 1; k += 1 }
                    }
                    if (placed) {
                      if (newVal != 0) blk(zigzag(k)) = newVal
                      k += 1
                    } else if (newVal != 0) return None // ran off band
                  }
                }
              }
              if (eobrun > 0) {
                // EOB-run block: correction bits for the remaining
                // nonzero coefficients, then consume one run slot
                while (k <= se) {
                  val z = zigzag(k)
                  if (blk(z) != 0 && !correct(blk, z)) return None
                  k += 1
                }
                eobrun -= 1
              }
              bi += 1
            }
          }
          // skip the entropy bytes to the next marker (destuffed scan)
          var p = off + 2 + len
          var found = -1
          while (found < 0 && p + 1 < b.length) {
            if (u8(b, p) == 0xff && u8(b, p + 1) != 0x00) found = p
            else p += 1
          }
          if (found < 0) return None
          off = found
        case _ => ()
      }
      if (marker != 0xda) off += 2 + len
    }
    None // ran off the end without EOI
  } catch { case scala.util.control.NonFatal(_) => None }

  /** Real progressive ENCODE (spectral selection, grayscale): SOF2,
    * a DC scan, then one AC band scan (1..63) — nonzero bands coded
    * with the baseline (r, s) pairs and zero tails folded into EOBRUN
    * runs that span blocks, per the progressive F.2.2 coding model. */
  def buildJpegProgressive(width: Int, height: Int,
                           blocks: Int => Array[Int]): Array[Byte] =
    progressiveScans(width, height, blocks, refine = false)

  /** Real SUCCESSIVE-APPROXIMATION progressive ENCODE (grayscale):
    * SOF2 and four scans — DC first pass at Al=1 (diffs of the
    * arithmetic-shifted DC), AC band 1..63 first pass at Al=1
    * (sign-magnitude point transform), then the two Ah=1→Al=0
    * refinement scans: raw DC bits, and the AC refinement coding
    * model of T.81 G.1.2.3 — new ±1 coefficients as (run, 1) + sign
    * over ZERO-HISTORY run positions, correction bits for
    * already-nonzero coefficients buffered behind each emitted
    * symbol, EOB runs carrying their blocks' correction bits. */
  def buildJpegProgressiveRefined(width: Int, height: Int,
                                  blocks: Int => Array[Int]): Array[Byte] =
    progressiveScans(width, height, blocks, refine = true)

  /** The two progressive encoders: first-pass DC and AC scans at point
    * transform Al = 1 when `refine` (else 0), then — when `refine` —
    * the two Ah=1 → Al=0 refinement scans. */
  private def progressiveScans(width: Int, height: Int,
                               blocks: Int => Array[Int],
                               refine: Boolean): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val (dcT, acT) = jpegHead(out, 0xc2, width, height, Array(0x11), ProgAc)
    val nB = ((width + 7) / 8) * ((height + 7) / 8)
    val al = if (refine) 1 else 0
    var bw: JpegBitWriter = null
    def scan(ss: Int, se: Int, ah: Int, al: Int)(code: => Unit): Unit = {
      segment(out, 0xda, u8s(1, 1, 0x00, ss, se, (ah << 4) | al))
      bw = new JpegBitWriter(out)
      code
      bw.flush()
    }
    // EOBn (G.1.2.2): a run of all-zero band tails codes as the largest
    // 2^r ≤ run plus r extra bits, then the correction bits its blocks
    // carry (refinement scans only)
    var eobrun = 0
    val eobBits = scala.collection.mutable.ArrayBuffer.empty[Int]
    def flushEobrun(): Unit = if (eobrun > 0) {
      var r = 0
      while ((2 << r) <= eobrun && r < 14) r += 1 // largest 2^r <= run
      putSym(bw, acT, r << 4, eobrun - (1 << r), r)
      eobrun = 0
      eobBits.foreach(x => bw.write(x, 1)); eobBits.clear()
    }
    // scan 1: DC first pass — diffs of (dc >> Al), an arithmetic shift
    // on the two's-complement value like the refinement expects
    scan(0, 0, 0, al) {
      var pred = 0
      var bi = 0
      while (bi < nB) {
        val dc = blocks(bi)(0) >> al
        putSym(bw, dcT, category(dc - pred), dc - pred, category(dc - pred))
        pred = dc
        bi += 1
      }
    }
    // scan 2: AC band 1..63 first pass with EOBRUN folding across
    // all-zero tails; the sign-magnitude point transform
    // t = sgn(v)·(|v| >> Al) leaves |v| < 2^Al for the refinement scan
    scan(1, 63, 0, al) {
      var bi = 0
      while (bi < nB) {
        val coef = blocks(bi)
        def t(k: Int): Int = {
          val v = coef(zigzag(k))
          if (v < 0) -((-v) >> al) else v >> al
        }
        var last = 63
        while (last >= 1 && t(last) == 0) last -= 1
        if (last == 0) eobrun += 1
        else {
          flushEobrun()
          var run = 0
          var k = 1
          while (k <= last) {
            val v = t(k)
            if (v == 0) run += 1
            else {
              while (run > 15) { acT.put(bw, 0xf0); run -= 16 }
              putSym(bw, acT, (run << 4) | category(v), v, category(v))
              run = 0
            }
            k += 1
          }
          if (last < 63) eobrun += 1 // EOB for this block's zero tail
        }
        if (eobrun == 32767) flushEobrun()
        bi += 1
      }
      flushEobrun()
    }
    if (refine) {
      // scan 3: DC refinement — one raw bit per block (the
      // two's-complement LSB; the decoder ORs it back in)
      scan(0, 0, 1, 0) {
        var bi = 0
        while (bi < nB) { bw.write(blocks(bi)(0) & 1, 1); bi += 1 }
      }
      // scan 4: AC refinement (T.81 G.1.2.3): walk the band per block;
      // |v| > 1 coefficients buffer their LSB as a correction bit
      // behind the next emitted symbol, |v| == 1 coefficients emit
      // (zero-history run, 1) + sign, trailing zero/correction-only
      // tails fold into an EOB run that carries its blocks' bits
      scan(1, 63, 1, 0) {
        var bi = 0
        while (bi < nB) {
          val coef = blocks(bi)
          var last = 63 // last |v| != 0 position: ZRLs beyond it fold to EOB
          while (last >= 1 && coef(zigzag(last)) == 0) last -= 1
          var r = 0
          val brBits = scala.collection.mutable.ArrayBuffer.empty[Int]
          def emit(sym: Int): Unit = {
            flushEobrun()
            acT.put(bw, sym)
          }
          var k = 1
          while (k <= 63) {
            val v = coef(zigzag(k))
            val a = math.abs(v)
            if (a == 0) r += 1
            else {
              while (r > 15 && k <= last) {
                emit(0xf0)
                r -= 16
                brBits.foreach(x => bw.write(x, 1)); brBits.clear()
              }
              if (a > 1) brBits += (a & 1) // history-nonzero: correction
              else { // newly visible ±1
                emit((r << 4) | 1)
                bw.write(if (v < 0) 0 else 1, 1) // sign bit
                brBits.foreach(x => bw.write(x, 1)); brBits.clear()
                r = 0
              }
            }
            k += 1
          }
          if (r > 0 || brBits.nonEmpty) {
            eobrun += 1
            eobBits ++= brBits
            if (eobrun == 32767 || eobBits.length > 900) flushEobrun()
          }
          bi += 1
        }
        flushEobrun()
      }
    }
    out.write(0xff); out.write(0xd9) // EOI
    out.toByteArray
  }

  /** [[buildJpegProgressiveRefined]] with a picture whose DC values
    * are 8·(v−128)+5 for v = (bx + 3·by + seed) mod 255 — decoded
    * pixel rint((8m+5)/8)+128 = v+1 exactly, while a decoder that
    * skipped the refinement scans would sit on 8m+4 and half-even
    * rounding would diverge on alternating blocks: the gate catches a
    * fake refinement pass, not just a missing one. */
  def buildJpegRefinePattern(width: Int, height: Int,
                             seed: Long): Array[Byte] = {
    val bw8 = (width + 7) / 8
    buildJpegProgressiveRefined(width, height, { bi =>
      val v = ((bi % bw8) + 3L * (bi / bw8) + seed) % 255
      val coef = new Array[Int](64)
      coef(0) = (v.toInt - 128) * 8 + 5
      coef
    })
  }

  /** [[buildJpegProgressive]] with the block-constant gray picture —
    * DC-only, exact through the IDCT, same arithmetic as the baseline
    * fixture so the oracle shape is shared. */
  def buildJpegProgressivePattern(width: Int, height: Int,
                                  seed: Long): Array[Byte] = {
    val bw8 = (width + 7) / 8
    buildJpegProgressive(width, height, { bi =>
      val v = ((bi % bw8) + 3L * (bi / bw8) + seed) % 256
      val coef = new Array[Int](64)
      coef(0) = (v.toInt - 128) * 8
      coef
    })
  }

  /** [[buildJpeg420Blocks]] with a deterministic picture the oracle can
    * re-derive: Y constant per 8×8 luma block at global block coords
    * (bx8 + 3·by8 + s) mod 256, chroma constant per 16×16 MCU —
    * Cb = (2·mx + my + s) mod 256, Cr = (mx + 7·my + 2·s) mod 256 — so
    * sample-replication upsampling of the constant chroma block is
    * exact and every pixel's RGB follows from integer arithmetic. */
  def buildJpeg420Pattern(width: Int, height: Int, seed: Long,
                          restartInterval: Int = 0): Array[Byte] = {
    val mcuW = (width + 15) / 16
    buildJpeg420Blocks(width, height, restartInterval = restartInterval,
      blocks = { (bi, c, sub) =>
      val mx = bi % mcuW
      val my = bi / mcuW
      val v = (c match {
        case 0 =>
          val bx8 = mx * 2 + (sub & 1)
          val by8 = my * 2 + (sub >> 1)
          (bx8 + 3L * by8 + seed) % 256
        case 1 => (2L * mx + my + seed) % 256
        case _ => (mx + 7L * my + 2L * seed) % 256
      }).toInt
      val coef = new Array[Int](64)
      coef(0) = (v - 128) * 8
      coef
    })
  }

  // ------------------------------------------------------ GIF pixels

  /** Decoded GIF pixel statistics — same contract as [[BmpPixels]] /
    * [[PngPixels]]: integer channel sums (through the REAL color
    * table read from the file) divided once. */
  final case class GifPixels(id: Long, width: Int, height: Int,
                             meanR: Double, meanG: Double, meanB: Double,
                             topRowMean: Double)

  /** GIF's LZW: LSB-first codes on GIF's width schedule (the shared
    * [[Lzw]] without early change). */
  private def gifLzw(minCodeSize: Int): Lzw =
    Lzw(minCodeSize, msbFirst = false, earlyChange = false)

  /** Bytes of the color table a packed flags byte announces: 2^(n+1)
    * RGB triples when its top bit is set, else none. */
  private def colorTableLen(packed: Int): Int =
    if ((packed & 0x80) != 0) 3 << ((packed & 7) + 1) else 0

  /** Offset just past the data sub-blocks at `from` (their 0 terminator
    * consumed), or −1 when they run past the end. */
  private def skipSubBlocks(b: Array[Byte], from: Int): Int = {
    var off = from
    while (off < b.length && b(off) != 0) off += 1 + (b(off) & 0xff)
    if (off < b.length) off + 1 else -1
  }

  /** One image's data at `from` — LZW minimum code size, then data
    * sub-blocks — decoded to `nPixels` color indices. Returns (indices,
    * offset past the terminator); indices are null when the data is
    * malformed. */
  private def gifImage(b: Array[Byte], from: Int,
                       nPixels: Int): (Array[Byte], Int) = {
    if (from >= b.length) return (null, -1)
    val minCodeSize = b(from) & 0xff
    val z = new java.io.ByteArrayOutputStream()
    var off = from + 1
    while (off < b.length && b(off) != 0) {
      val n = b(off) & 0xff
      if (off + 1 + n > b.length) return (null, -1)
      z.write(b, off + 1, n)
      off += 1 + n
    }
    if (off >= b.length || minCodeSize < 2 || minCodeSize > 11)
      return (null, -1)
    val data = z.toByteArray
    (gifLzw(minCodeSize).decode(data, 0, data.length, nPixels), off + 1)
  }

  private def putLe16(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >> 8) & 0xff)
  }

  /** The fixture encoders' GIF89a head: logical screen and a 256-entry
    * global color table (8-bit resolution), entry i → (i, 2i mod 255,
    * 3i mod 253). */
  private def gifHead(out: java.io.ByteArrayOutputStream, width: Int,
                      height: Int): Unit = {
    out.write(ascii("GIF89a"))
    putLe16(out, width); putLe16(out, height)
    out.write(0xf7) // global table, 8-bit resolution, 256 entries
    out.write(0); out.write(0) // bg, aspect
    var i = 0
    while (i < 256) {
      out.write(i); out.write((2 * i) % 255); out.write((3 * i) % 253)
      i += 1
    }
  }

  /** Image data: `idx` LZW-compressed at minimum code size 8 into
    * ≤255-byte sub-blocks, then the block terminator. */
  private def gifData(out: java.io.ByteArrayOutputStream,
                      idx: Array[Byte]): Unit = {
    out.write(8)
    val z = gifLzw(8).encode(idx)
    var pos = 0
    while (pos < z.length) {
      val n = math.min(255, z.length - pos)
      out.write(n)
      out.write(z, pos, n)
      pos += n
    }
    out.write(0)
  }

  /** Full pixel decode of a GIF89a/87a first frame — the fourth real
    * codec (pure JVM): logical screen descriptor, the global color
    * table READ FROM THE BYTES (never assumed), extension blocks
    * skipped by their sub-block structure, then the image descriptor's
    * LZW stream decompressed with the shared variable-width [[Lzw]]
    * and mapped through the palette. Local color tables override
    * the global one per the spec. Interlaced frames and anything
    * structurally invalid return None — data, not task failures. */
  def decodeGifPixels(id: Long, b: Array[Byte]): Option[GifPixels] =
    gifIndexed(b).flatMap { case (w, h, palette, idx) =>
      val nPixels = w * h
      val nColors = palette.length / 3
      var sumR = 0L; var sumG = 0L; var sumB = 0L; var top = 0L
      var p = 0
      while (p < nPixels) {
        val ci = idx(p) & 0xff
        if (ci >= nColors) return None
        val r = palette(3 * ci) & 0xff
        val g = palette(3 * ci + 1) & 0xff
        val bl = palette(3 * ci + 2) & 0xff
        sumR += r; sumG += g; sumB += bl
        if (p < w) top += r + g + bl
        p += 1
      }
      val n = nPixels.toLong
      Some(GifPixels(id, w, h, sumR.toDouble / n, sumG.toDouble / n,
        sumB.toDouble / n, top.toDouble / (3L * w)))
    }

  /** The shared GIF decode core: header/palette/block walk + the real
    * variable-width LZW, returning (w, h, palette, index stream) —
    * the means path and the perceptual-hash gray path both read this
    * one decode. */
  private def gifIndexed(b: Array[Byte])
      : Option[(Int, Int, Array[Byte], Array[Byte])] = try {
    if (b.length < 14) return None
    val sig = new String(b, 0, 6, java.nio.charset.StandardCharsets.US_ASCII)
    if (sig != "GIF87a" && sig != "GIF89a") return None
    val sw = le16(b, 6); val sh = le16(b, 8)
    var off = 13
    val gn = colorTableLen(b(10) & 0xff)
    if (off + gn > b.length) return None
    var palette =
      if (gn > 0) java.util.Arrays.copyOfRange(b, off, off + gn) else null
    off += gn
    // block walk: skip extensions, find the first image descriptor
    while (off < b.length && (b(off) & 0xff) == 0x21) { // extension
      off = skipSubBlocks(b, off + 2) // past introducer + label
      if (off < 0) return None
    }
    if (off >= b.length || (b(off) & 0xff) != 0x2c) return None
    if (off + 10 > b.length) return None
    val w = le16(b, off + 5); val h = le16(b, off + 7)
    val ipacked = b(off + 9) & 0xff
    val interlaced = (ipacked & 0x40) != 0
    off += 10
    val ln = colorTableLen(ipacked) // a local color table overrides
    if (off + ln > b.length) return None
    if (ln > 0) palette = java.util.Arrays.copyOfRange(b, off, off + ln)
    off += ln
    if (palette == null || w <= 0 || h <= 0 || w > sw || h > sh) return None
    val nPixels = w * h
    val raw = gifImage(b, off, nPixels)._1
    if (raw == null) return None
    // GIF 4-pass interlace (spec appendix E): stored row order is
    // rows 0,8,16…, then 4,12…, then 2,6,10…, then 1,3,5… — remap
    // back to image order so every consumer sees one layout
    val idx =
      if (!interlaced) raw
      else {
        val out = new Array[Byte](nPixels)
        var src = 0
        for ((start, step) <- Seq((0, 8), (4, 8), (2, 4), (1, 2))) {
          var y = start
          while (y < h) {
            System.arraycopy(raw, src * w, out, y * w, w)
            src += 1
            y += step
          }
        }
        out
      }
    Some((w, h, palette, idx))
  } catch { case scala.util.control.NonFatal(_) => None }

  /** Real GIF89a ENCODE of a deterministic indexed picture: a 256-entry
    * global color table (entry i → (i, 2i mod 255, 3i mod 253)), pixel
    * index (x + 7y + seed) mod 256, a Graphic Control Extension before
    * the image descriptor when `withExtension` (the block naive parsers
    * trip on), and the index stream compressed with the real
    * variable-width [[Lzw]], packaged into ≤255-byte sub-blocks. */
  def buildGifPattern(width: Int, height: Int, seed: Long,
                      withExtension: Boolean,
                      interlaced: Boolean = false): Array[Byte] = {
    require(width > 0 && height > 0 && width <= 0xffff && height <= 0xffff)
    val out = new java.io.ByteArrayOutputStream()
    gifHead(out, width, height)
    if (withExtension) { // GCE: introducer, label, size-4 block, term
      out.write(0x21); out.write(0xf9); out.write(4)
      out.write(0); putLe16(out, 0); out.write(0); out.write(0)
    }
    out.write(0x2c) // image descriptor
    Seq(0, 0, width, height).foreach(putLe16(out, _))
    out.write(if (interlaced) 0x40 else 0) // no local table
    val idx = new Array[Byte](width * height)
    // row storage order: image order, or the 4-pass interlace schedule
    val rowOrder: Seq[Int] =
      if (!interlaced) 0 until height
      else Seq((0, 8), (4, 8), (2, 4), (1, 2))
        .flatMap { case (start, step) => start until height by step }
    var out0 = 0
    for (y <- rowOrder) {
      var x = 0
      while (x < width) {
        idx(out0 * width + x) = ((x + 7L * y + seed) % 256).toByte
        x += 1
      }
      out0 += 1
    }
    gifData(out, idx)
    out.write(0x3b) // trailer
    out.toByteArray
  }

  // ------------------------------------------------ GIF animations

  /** Per-frame canvas statistics of a GIF89a ANIMATION: `frames(f)` is
    * the total gray (r+g+b summed over every canvas pixel) AFTER frame
    * f composited — the exact-integer per-frame signal a frame-sampling
    * pipeline filters on (scene cuts, fades, duplicate frames). */
  final case class GifAnimStats(width: Int, height: Int,
                                frames: IndexedSeq[Long])

  /** Full decode of a multi-frame GIF89a — the real ANIMATION path
    * (the wild-web "video" container that is pure-JVM decodable): block
    * walk over Graphic Control Extensions (disposal mode, delay),
    * application extensions (NETSCAPE looping — skipped structurally),
    * and every image descriptor; each frame's rectangle LZW-decodes
    * with the shared variable-width decoder and composites onto the
    * logical-screen canvas at its (left, top) through the active
    * palette (local table overriding global per frame, per the spec).
    * Memory is ONE canvas — per-frame totals update incrementally
    * (`cur += new − old` per composited pixel), so a thousand-frame
    * clip costs no more than its logical screen. Undrawn canvas is
    * background gray 0.
    *
    * Envelope (everything else decodes None, never throws): disposal
    * "none"/"do not dispose" only (restore-background/previous stay
    * behind the seam with transparency and interlace), ≤ `maxFrames`
    * frames, rectangles inside the logical screen. */
  def gifAnimStats(b: Array[Byte],
                   maxFrames: Int = 4096): Option[GifAnimStats] = {
    val sums = IndexedSeq.newBuilder[Long]
    gifAnimFold(b, maxFrames) { (_, total, _) => sums += total }
      .map { case (w, h, _) => GifAnimStats(w, h, sums.result()) }
  }

  /** The shared animation decode core: walks the stream, composites
    * every frame onto the one canvas, and hands the callback
    * (frameIdx, running canvas gray total, canvas) after each frame —
    * the stats path reads the total, the per-frame hash path reads the
    * canvas (on its sampled frames only). Returns (w, h, nFrames). */
  private def gifAnimFold(b: Array[Byte], maxFrames: Int)(
      onFrame: (Int, Long, Array[Int]) => Unit)
      : Option[(Int, Int, Int)] = try {
    if (b.length < 14) return None
    val sig = new String(b, 0, 6, java.nio.charset.StandardCharsets.US_ASCII)
    if (sig != "GIF87a" && sig != "GIF89a") return None
    val sw = le16(b, 6); val sh = le16(b, 8)
    if (sw <= 0 || sh <= 0 || sw.toLong * sh > Int.MaxValue) return None
    var off = 13
    val gn = colorTableLen(b(10) & 0xff)
    if (off + gn > b.length) return None
    val global =
      if (gn > 0) java.util.Arrays.copyOfRange(b, off, off + gn) else null
    off += gn
    val canvas = new Array[Int](sw * sh) // gray per pixel, bg = 0
    var cur = 0L
    var nFrames = 0
    var disposal = 0
    var done = false
    while (!done) {
      if (off >= b.length) return None // no trailer
      (b(off) & 0xff) match {
        case 0x3b => done = true
        case 0x21 => // extension: GCE reads disposal, others skip
          if (off + 2 > b.length) return None
          val label = b(off + 1) & 0xff
          off += 2
          if (label == 0xf9) {
            if (off + 6 > b.length || (b(off) & 0xff) != 4) return None
            val gp = b(off + 1) & 0xff
            if ((gp & 1) != 0) return None // transparency: behind the seam
            disposal = (gp >> 2) & 7
            if (disposal > 1) return None // restore-bg/prev: behind the seam
            off += 6 // size byte + 4 payload + terminator
          } else {
            off = skipSubBlocks(b, off)
            if (off < 0) return None
          }
        case 0x2c => // image descriptor: one frame
          if (off + 10 > b.length) return None
          val left = le16(b, off + 1); val top = le16(b, off + 3)
          val iw = le16(b, off + 5); val ih = le16(b, off + 7)
          val ipacked = b(off + 9) & 0xff
          if ((ipacked & 0x40) != 0) return None // interlaced
          off += 10
          val ln = colorTableLen(ipacked)
          if (off + ln > b.length) return None
          val palette =
            if (ln > 0) java.util.Arrays.copyOfRange(b, off, off + ln)
            else global
          off += ln
          if (palette == null || iw <= 0 || ih <= 0 ||
              left + iw > sw || top + ih > sh) return None
          val (idx, next) = gifImage(b, off, iw * ih)
          if (idx == null) return None
          off = next
          val nColors = palette.length / 3
          var y = 0
          while (y < ih) {
            var x = 0
            while (x < iw) {
              val ci = idx(y * iw + x) & 0xff
              if (ci >= nColors) return None
              val g = (palette(3 * ci) & 0xff) +
                (palette(3 * ci + 1) & 0xff) + (palette(3 * ci + 2) & 0xff)
              val p = (top + y) * sw + (left + x)
              cur += g - canvas(p)
              canvas(p) = g
              x += 1
            }
            y += 1
          }
          nFrames += 1
          if (nFrames > maxFrames) return None
          onFrame(nFrames - 1, cur, canvas)
        case _ => return None
      }
    }
    if (nFrames == 0) None
    else Some((sw, sh, nFrames))
  } catch { case scala.util.control.NonFatal(_) => None }

  /** Real GIF89a ANIMATION encode: the [[buildGifPattern]] global
    * palette, a NETSCAPE2.0 looping application extension (the block
    * single-image parsers trip on), then `nFrames` frames each behind
    * a Graphic Control Extension (disposal = do-not-dispose, 4 cs
    * delay): frame 0 paints the full canvas with index
    * (x + 7y + seed) mod 256; frame f ≥ 1 is an 8×8 SUB-RECTANGLE
    * update at slot f−1 (row-major over the ⌊w/8⌋×⌊h/8⌋ grid) with
    * index (3x + 5y + 11f + seed) mod 256 in CANVAS coordinates — so
    * an oracle derives every per-frame canvas total in closed form.
    * Each frame's rectangle runs through the real LZW encoder. */
  def buildGifAnimPattern(width: Int, height: Int, nFrames: Int,
                          seed: Long): Array[Byte] =
    encodeGifAnim(width, height, nFrames, (f, cx, cy) =>
      (if (f == 0) (cx + 7L * cy + seed) % 256
       else (3L * cx + 5L * cy + 11L * f + seed) % 256).toInt)

  /** Real GIF89a animation encode over an arbitrary per-frame index
    * function `idx(frame, canvasX, canvasY)` — the format half of
    * [[buildGifAnimPattern]] factored out so the video-near-dup
    * fixture can plant perceptual twins through the same real
    * encoder. Frame 0 is the full canvas; frame f ≥ 1 is the 8×8
    * sub-rect at slot f−1 (row-major over the ⌊w/8⌋×⌊h/8⌋ grid). */
  def encodeGifAnim(width: Int, height: Int, nFrames: Int,
                    idxFn: (Int, Int, Int) => Int): Array[Byte] = {
    require(width >= 8 && height >= 8 && width <= 0xffff &&
      height <= 0xffff && nFrames >= 1)
    val out = new java.io.ByteArrayOutputStream()
    gifHead(out, width, height)
    // NETSCAPE2.0 looping extension (loop forever)
    out.write(0x21); out.write(0xff); out.write(11)
    out.write(ascii("NETSCAPE2.0"))
    out.write(3); out.write(1); putLe16(out, 0); out.write(0)
    val slotsX = width / 8
    val slotsY = height / 8
    var f = 0
    while (f < nFrames) {
      // GCE: do-not-dispose, 4 cs delay, no transparency
      out.write(0x21); out.write(0xf9); out.write(4)
      out.write(1 << 2); putLe16(out, 4); out.write(0); out.write(0)
      val (left, top, iw, ih) =
        if (f == 0) (0, 0, width, height)
        else (8 * ((f - 1) % slotsX),
          8 * (((f - 1) / slotsX) % slotsY), 8, 8)
      out.write(0x2c)
      Seq(left, top, iw, ih).foreach(putLe16(out, _))
      out.write(0) // no local table, not interlaced
      gifData(out, Array.tabulate[Byte](iw * ih)(p =>
        idxFn(f, left + p % iw, top + p / iw).toByte))
      f += 1
    }
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** One sampled animation frame's exact canvas statistic. */
  final case class GifFrameStat(id: Long, width: Int, height: Int,
                                nFrames: Int, frameIdx: Int, graySum: Long)

  /** Frame sampling over REAL animation decode: every `stride`-th
    * frame's exact canvas total — the planner-only
    * [[Multimodal.sampleFramePlan]] shape with the decode made real. */
  def gifFrameStats(stride: Int): (Long, Array[Byte]) => Seq[GifFrameStat] = {
    require(stride > 0, s"stride must be positive, got $stride")
    (id, p) => gifAnimStats(p).toSeq.flatMap { st =>
      st.frames.indices.collect {
        case f if f % stride == 0 =>
          GifFrameStat(id, st.width, st.height, st.frames.size, f,
            st.frames(f))
      }
    }
  }

  /** One sampled frame's perceptual hash — the video-fingerprint row. */
  final case class VideoFrameHash(id: Long, nFrames: Int, frameIdx: Int,
                                  phash: String)

  /** Per-video sampled-frame pHash sequence over REAL animation decode:
    * every `stride`-th composited canvas hashes through [[phashGray]] —
    * the LAION-video curation shape (per-frame perceptual fingerprints;
    * re-encodes and small edits land a few bits from the original
    * frame-for-frame). */
  def gifFrameHashes(stride: Int)
      : (Long, Array[Byte]) => Seq[VideoFrameHash] = {
    require(stride > 0, s"stride must be positive, got $stride")
    (id, p) => {
      val hashes = Seq.newBuilder[(Int, String)]
      gifAnimFold(p, 4096) { (f, _, canvas) =>
        if (f % stride == 0) {
          // phashGray reads the matrix without retaining it; the canvas
          // mutates across frames, so hash NOW, store only the bits.
          // The logical-screen dims come straight from the header, valid
          // by the time the fold invokes its callback.
          hashes += f -> phashGray(GrayImage(le16(p, 6), le16(p, 8), canvas))
        }
      } match {
        case Some((_, _, n)) =>
          hashes.result().map { case (f, hsh) =>
            VideoFrameHash(id, n, f, hsh)
          }
        case None => Seq.empty
      }
    }
  }

  // ------------------------------------------------------ PNG pixels

  /** Decoded PNG pixel statistics — same fields/contract as
    * [[BmpPixels]] (integer channel sums divided once; `topRowMean`
    * over the image-space top row, which for PNG is scanline 0). */
  final case class PngPixels(id: Long, width: Int, height: Int,
                             meanR: Double, meanG: Double, meanB: Double,
                             topRowMean: Double)

  /** Paeth predictor, verbatim from the PNG spec (RFC 2083 §6.6):
    * closest of left/up/up-left to a+b−c, ties break left, up,
    * up-left. */
  /** The Adam7 passes as (x0, y0, dx, dy), in pass order. */
  private val Adam7 = Seq((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8),
    (2, 0, 4, 4), (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))

  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b)
    val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Full pixel decode of an 8-bit truecolor non-interlaced PNG — the
    * real compressed-image codec path, pure JVM end to end: chunk walk
    * with per-chunk CRC32 verification, multi-IDAT concatenation (the
    * spec allows the zlib stream to split at ANY byte boundary),
    * `java.util.zip.Inflater` for the DEFLATE stream, then per-scanline
    * reconstruction of all five filter types (None/Sub/Up/Average/
    * Paeth) against the previously reconstructed row. Anything else —
    * palette, 16-bit, alpha, interlaced, bad CRC, short stream — parses
    * None, never throws: corrupt crawl payloads are data, not task
    * failures. */
  def decodePngPixels(id: Long, b: Array[Byte]): Option[PngPixels] =
    pngRgbBytes(b).map { case (w, h, img) =>
      val stride = 3 * w
      var sumR = 0L; var sumG = 0L; var sumB = 0L; var top = 0L
      var p = 0
      val n = w.toLong * h
      while (p < img.length) {
        val r = img(p) & 0xff; val g = img(p + 1) & 0xff
        val bl = img(p + 2) & 0xff
        sumR += r; sumG += g; sumB += bl
        if (p < stride) top += r + g + bl // scanline 0 = image top row
        p += 3
      }
      PngPixels(id, w, h, sumR.toDouble / n, sumG.toDouble / n,
        sumB.toDouble / n, top.toDouble / (3L * w))
    }

  /** The shared PNG decode core: chunk walk + CRC verification +
    * inflate + per-scanline defilter, returning the reconstructed RGB
    * scanlines top-down — the means path and the perceptual-hash gray
    * path both read this one decode. */
  private def pngRgbBytes(b: Array[Byte])
      : Option[(Int, Int, Array[Byte])] = try {
    val sig = Array[Int](0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)
    if (b.length < 45 || !sig.indices.forall(i => (b(i) & 0xff) == sig(i)))
      return None
    // chunk walk: IHDR first (parsePng already CRC-checks it), then
    // concatenate IDAT payloads, stop at IEND; every chunk CRC verified
    val wh = parsePng(b).getOrElse(return None)
    val (w, h) = wh
    // IHDR fields beyond dimensions: this codec does 8-bit truecolor
    // (color type 2) and 8-bit PALETTE (color type 3, PLTE-indexed) —
    // deflate, filter method 0, sequential OR Adam7-interlaced
    val colorType = b(25) & 0xff
    val interlace = b(28) & 0xff
    if (b(24) != 8 || (colorType != 2 && colorType != 3) ||
        b(26) != 0 || b(27) != 0 || interlace > 1)
      return None
    val idat = new java.io.ByteArrayOutputStream()
    var plte: Array[Byte] = null
    var off = 33 // after IHDR chunk
    var done = false
    while (!done) {
      if (off + 12 > b.length) return None // no room for len+type+crc
      val len = be32(b, off)
      if (len > Int.MaxValue - 12 || off + 12 + len > b.length) return None
      val typ = tag(b, off + 4)
      val crc = new java.util.zip.CRC32()
      crc.update(b, off + 4, 4 + len.toInt)
      if (crc.getValue != be32(b, off + 8 + len.toInt)) return None
      if (typ == "IDAT") idat.write(b, off + 8, len.toInt)
      else if (typ == "PLTE") {
        if (len % 3 != 0 || len > 768 || len == 0) return None
        plte = java.util.Arrays.copyOfRange(b, off + 8, off + 8 + len.toInt)
      }
      else if (typ == "tRNS") return None // transparency: behind the seam
      else if (typ == "IEND") done = true
      off += 12 + len.toInt
    }
    if (colorType == 3 && plte == null) return None
    // stride/expected in Long: a crafted IHDR width ≥ ~715M overflows
    // 3·w in Int, and h·(1+stride) can exceed Int range either way
    val bpp = if (colorType == 2) 3 else 1 // filter byte distance
    if (bpp.toLong * w > Int.MaxValue) return None
    // Adam7: seven reduced images, each with its own filter bytes and
    // its own "prior row" (spec: passes defilter independently); an
    // EMPTY pass (zero width or height) contributes no bytes at all.
    // Sequential decode is the one-pass special case of the same walk.
    val passes = if (interlace == 0) Seq((0, 0, 1, 1)) else Adam7
    val dims = passes.map { case (x0, y0, dx, dy) =>
      val pw = if (w > x0) (w - x0 + dx - 1) / dx else 0
      val ph = if (h > y0) (h - y0 + dy - 1) / dy else 0
      (x0, y0, dx, dy, pw, ph)
    }
    val expected = dims.map { case (_, _, _, _, pw, ph) =>
      if (pw == 0 || ph == 0) 0L
      else ph.toLong * (1L + bpp.toLong * pw)
    }.sum
    if (expected > Int.MaxValue || expected == 0) return None
    val z = idat.toByteArray
    val raw = inflateExactly(z, 0, z.length, expected.toInt)
    if (raw == null) return None // short / preset-dictionary / corrupt
    // defilter each pass, scatter into the full recon image
    val img = new Array[Byte](bpp * w * h)
    var rawOff = 0
    dims.foreach { case (x0, y0, dx, dy, pw, ph) =>
      if (pw > 0 && ph > 0) {
        val rowBytes = bpp * pw
        val recon = new Array[Byte](ph * rowBytes)
        var y = 0
        while (y < ph) {
          val fo = rawOff + y * (1 + rowBytes) // filter byte in raw
          val ro = y * rowBytes
          val po = ro - rowBytes
          val ft = raw(fo) & 0xff
          if (ft > 4) return None
          var i = 0
          while (i < rowBytes) {
            val x = raw(fo + 1 + i) & 0xff
            val a = if (i >= bpp) recon(ro + i - bpp) & 0xff else 0
            val up = if (y > 0) recon(po + i) & 0xff else 0
            val ul = if (y > 0 && i >= bpp) recon(po + i - bpp) & 0xff
              else 0
            val rv = ft match {
              case 0 => x
              case 1 => x + a
              case 2 => x + up
              case 3 => x + (a + up) / 2
              case _ => x + paeth(a, up, ul)
            }
            recon(ro + i) = (rv & 0xff).toByte
            i += 1
          }
          y += 1
        }
        var j = 0
        while (j < ph) {
          var i2 = 0
          while (i2 < pw) {
            val dst = ((y0 + j * dy) * w + (x0 + i2 * dx)) * bpp
            var c = 0
            while (c < bpp) {
              img(dst + c) = recon(j * rowBytes + i2 * bpp + c); c += 1
            }
            i2 += 1
          }
          j += 1
        }
        rawOff += ph * (1 + rowBytes)
      }
    }
    if (colorType == 2) Some((w, h, img))
    else { // palette expansion: 1 index byte/pixel through PLTE
      val nColors = plte.length / 3
      val rgb = new Array[Byte](3 * w * h)
      var p = 0
      while (p < img.length) {
        val ci = img(p) & 0xff
        if (ci >= nColors) return None
        rgb(3 * p) = plte(3 * ci)
        rgb(3 * p + 1) = plte(3 * ci + 1)
        rgb(3 * p + 2) = plte(3 * ci + 2)
        p += 1
      }
      Some((w, h, rgb))
    }
  } catch { // corrupt payload is a datum, never a task failure
    case scala.util.control.NonFatal(_) => None
  }

  /** Real PNG ENCODE of the same deterministic picture as
    * [[buildBmpPattern]] (r = (x+y+2s) mod 255, g = (2x+y+s) mod 253,
    * b = (x+3y+s) mod 251): 8-bit truecolor scanlines, each row
    * filtered with type `y mod 5` — so all five filters are actually
    * applied (forward filter math per the spec) and the decoder's
    * reconstruction of every type is exercised — deflated with
    * `java.util.zip.Deflater`, and split into TWO IDAT chunks when
    * `splitIdat` (the mid-stream boundary naive one-chunk decoders
    * break on). */
  def buildPngPattern(width: Int, height: Int, seed: Long,
                      splitIdat: Boolean): Array[Byte] =
    encodePngRgb(width, height, (x, y) =>
      (((x + y + 2L * seed) % 255).toInt,
        ((2L * x + y + seed) % 253).toInt,
        ((x + 3L * y + seed) % 251).toInt), splitIdat)

  private val PngSig = u8s(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)

  private def ihdr(width: Int, height: Int, colorType: Int,
                   interlace: Int): (String, Array[Byte]) =
    "IHDR" -> bytes(13)(_.putInt(width).putInt(height)
      .put(8.toByte).put(colorType.toByte) // bit depth 8
      .put(0.toByte).put(0.toByte).put(interlace.toByte)) // deflate, filter 0

  /** The PNG signature, then each chunk: length, type, data, CRC-32 of
    * type + data. */
  private def pngChunks(chunks: Seq[(String, Array[Byte])]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    out.write(PngSig)
    chunks.foreach { case (typ, data) =>
      val crc = new java.util.zip.CRC32()
      crc.update(ascii(typ))
      crc.update(data)
      out.write(bytes(8)(_.putInt(data.length).put(ascii(typ))))
      out.write(data)
      out.write(bytes(4)(_.putInt(crc.getValue.toInt)))
    }
    out.toByteArray
  }

  /** The PNG writer every encoder shares: IHDR, any `extra` chunks
    * (PLTE), the deflated `filtered` scanlines as one IDAT — cut in
    * two when `splitIdat` — and IEND. */
  private def pngFile(width: Int, height: Int, colorType: Int,
                      interlace: Int, extra: Seq[(String, Array[Byte])],
                      filtered: Array[Byte],
                      splitIdat: Boolean): Array[Byte] = {
    val z = deflate(filtered)
    val idat =
      if (splitIdat && z.length >= 2) Seq(z.take(z.length / 2),
        z.drop(z.length / 2))
      else Seq(z)
    pngChunks(Seq(ihdr(width, height, colorType, interlace)) ++ extra ++
      idat.map("IDAT" -> _) :+ ("IEND" -> Array.emptyByteArray))
  }

  /** Forward-filter the `rows` scanlines of `img` (`rowBytes` each, the
    * filter's left neighbor `bpp` bytes back) into `out`, row y with
    * filter type `ft(y)` — the inverse of the decoder's defilter. */
  private def pngFilter(img: Array[Byte], rows: Int, rowBytes: Int, bpp: Int,
                        out: java.io.ByteArrayOutputStream)(
      ft: Int => Int): Unit = {
    var y = 0
    while (y < rows) {
      val ro = y * rowBytes
      val po = ro - rowBytes
      val t = ft(y)
      out.write(t)
      var i = 0
      while (i < rowBytes) {
        val x = img(ro + i) & 0xff
        val a = if (i >= bpp) img(ro + i - bpp) & 0xff else 0
        val up = if (y > 0) img(po + i) & 0xff else 0
        val ul = if (y > 0 && i >= bpp) img(po + i - bpp) & 0xff else 0
        val v = t match {
          case 0 => x
          case 1 => x - a
          case 2 => x - up
          case 3 => x - (a + up) / 2
          case _ => x - paeth(a, up, ul)
        }
        out.write(v & 0xff)
        i += 1
      }
      y += 1
    }
  }

  /** Real PNG encode of an arbitrary RGB pixel function — the format
    * half of [[buildPngPattern]] factored out so fixtures can encode
    * the SAME picture as a PNG and as a BMP (the cross-format
    * exact-dup shape of the unified-gray gate). Row y filtered with
    * type y mod 5 so all five filter reconstructions run. */
  def encodePngRgb(width: Int, height: Int,
                   rgb: (Int, Int) => (Int, Int, Int),
                   splitIdat: Boolean): Array[Byte] = {
    require(width > 0 && height > 0)
    val img = new Array[Byte](height * 3 * width) // scanline order
    var p = 0
    while (p < width * height) {
      val (r, g, bl) = rgb(p % width, p / width)
      img(3 * p) = r.toByte; img(3 * p + 1) = g.toByte
      img(3 * p + 2) = bl.toByte
      p += 1
    }
    val filt = new java.io.ByteArrayOutputStream()
    pngFilter(img, height, 3 * width, 3, filt)(_ % 5)
    pngFile(width, height, 2, 0, Nil, filt.toByteArray, splitIdat)
  }

  /** Real encode of an ADAM7-INTERLACED truecolor PNG: the seven
    * reduced images in pass order, each row forward-filtered with a
    * rotating type (global row counter mod 5, so every filter hits
    * every pass shape), empty passes emitting nothing — the
    * progressive layout early-web images and many icon pipelines
    * still carry. */
  def encodePngRgbAdam7(width: Int, height: Int,
                        rgb: (Int, Int) => (Int, Int, Int),
                        splitIdat: Boolean): Array[Byte] = {
    require(width > 0 && height > 0)
    val filt = new java.io.ByteArrayOutputStream()
    var rowCounter = 0
    Adam7.foreach { case (x0, y0, dx, dy) =>
      val pw = if (width > x0) (width - x0 + dx - 1) / dx else 0
      val ph = if (height > y0) (height - y0 + dy - 1) / dy else 0
      if (pw > 0 && ph > 0) {
        val sub = new Array[Byte](ph * 3 * pw)
        var p = 0
        while (p < pw * ph) {
          val (r, g, bl) = rgb(x0 + (p % pw) * dx, y0 + (p / pw) * dy)
          sub(3 * p) = r.toByte; sub(3 * p + 1) = g.toByte
          sub(3 * p + 2) = bl.toByte
          p += 1
        }
        pngFilter(sub, ph, 3 * pw, 3, filt)(y => (rowCounter + y) % 5)
        rowCounter += ph
      }
    }
    pngFile(width, height, 2, 1, Nil, filt.toByteArray, splitIdat)
  }

  /** Deterministic Adam7 fixture: r = (2x+5y+s) mod 255,
    * g = (x+3y+2s) mod 253, b = (4x+y+3s) mod 251; widths/heights
    * start at 1 so EMPTY passes (w < 5 or h < 5 kill passes 2/3)
    * are in-corpus, not just spec-covered. */
  def buildPngAdam7Pattern(width: Int, height: Int, seed: Long,
                           splitIdat: Boolean): Array[Byte] =
    encodePngRgbAdam7(width, height, (x, y) =>
      (((2L * x + 5L * y + seed) % 255).toInt,
        ((x + 3L * y + 2L * seed) % 253).toInt,
        ((4L * x + y + 3L * seed) % 251).toInt), splitIdat)

  /** Real encode of an 8-bit PALETTE PNG (color type 3): a PLTE of
    * `colors` entries (entry i → (i, 2i mod 255, 3i mod 253) — the GIF
    * fixture palette, so oracles share one arithmetic), pixel index
    * (x + 7y + seed) mod colors, each 1-byte-per-pixel scanline
    * forward-filtered with type y mod 5 (left distance = 1 byte, the
    * bpp the defilter must honor for indexed images), deflated, IDAT
    * split when `splitIdat`. */
  def buildPngPalettePattern(width: Int, height: Int, seed: Long,
                             splitIdat: Boolean,
                             colors: Int = 256): Array[Byte] = {
    require(width > 0 && height > 0 && colors >= 1 && colors <= 256)
    val img = Array.tabulate[Byte](height * width)(p =>
      ((p % width + 7L * (p / width) + seed) % colors).toByte)
    val filt = new java.io.ByteArrayOutputStream()
    pngFilter(img, height, width, 1, filt)(_ % 5)
    val plte = Array.tabulate[Byte](3 * colors) { j =>
      val i = j / 3
      (j % 3 match { case 0 => i; case 1 => (2 * i) % 255
        case _ => (3 * i) % 253 }).toByte
    }
    pngFile(width, height, 3, 0, Seq("PLTE" -> plte), filt.toByteArray,
      splitIdat)
  }

  // ------------------------------------------------------------------
  // FLAC — real lossless-audio decode (RFC 9639 / the public FLAC
  // format spec). Unlike the MP4/MP3 header walks, FLAC's entropy
  // layer (rice-coded residuals) is plain integer arithmetic, so the
  // FULL sample decode is pure-JVM feasible: STREAMINFO, frame-header
  // grammar (blocksize/rate codes, UTF-8 frame numbers, CRC-8),
  // constant/verbatim/fixed-predictor subframes, partitioned-rice
  // residuals, and the trailing CRC-16 all decode for real here.
  // Only LPC subframes (encoder-chosen float coefficients) stay out —
  // the fixture never emits them and the decoder rejects them.
  // ------------------------------------------------------------------

  /** CRC-8, poly x^8+x^2+x+1 (0x07), init 0, MSB-first — the FLAC
    * frame-header checksum. */
  private[operators] def flacCrc8(b: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= b(i) & 0xff
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xff
              else (crc << 1) & 0xff
        k += 1
      }
      i += 1
    }
    crc
  }

  /** CRC-16, poly x^16+x^15+x^2+1 (0x8005), init 0, MSB-first — the
    * FLAC whole-frame checksum. */
  private[operators] def flacCrc16(b: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= (b(i) & 0xff) << 8
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xffff
              else (crc << 1) & 0xffff
        k += 1
      }
      i += 1
    }
    crc
  }

  /** Decoded FLAC reduced to exact-integer corpus stats (the
    * loudness/shape profile an audio intake pipeline computes after
    * lossless decode); `firstSample` pins frame 0 / channel 0 /
    * sample 0 so a frame- or channel-order bug can't hide in sums. */
  final case class FlacMeta(id: Long, channels: Int, sampleRate: Int,
                            bitsPerSample: Int, nFrames: Int,
                            totalSamples: Long, sumSamples: Long,
                            sumAbs: Long, peakAbs: Int, firstSample: Int)

  private val FlacBlockSize = 256

  /** fLaC magic + STREAMINFO prelude shared by every FLAC fixture
    * builder (min/max block = [[FlacBlockSize]], sizes unknown,
    * 16-bit, md5 zeroed). */
  private def flacStreamPrelude(out: java.io.ByteArrayOutputStream,
                                channels: Int, sampleRate: Int,
                                totalSamples: Long): Unit = {
    out.write('f'); out.write('L'); out.write('a'); out.write('C')
    val si = new BitWriter(msbFirst = true)
    si.write(FlacBlockSize, 16); si.write(FlacBlockSize, 16)
    si.write(0, 24); si.write(0, 24) // min/max frame size unknown
    si.write(sampleRate, 20)
    si.write(channels - 1, 3)
    si.write(16 - 1, 5)
    si.write(totalSamples, 36)
    var k = 0
    while (k < 16) { si.write(0, 8); k += 1 } // md5 unknown
    val siBytes = si.toBytes
    out.write(0x80); out.write(0); out.write(0); out.write(siBytes.length)
    out.write(siBytes, 0, siBytes.length)
  }

  /** One fixture frame, shared framing: header (fixed-blocksize
    * stream, blocksize code 8 = 256, the given rate code / channel
    * assignment, 16-bit sample code, single-byte frame number) with
    * its CRC-8, then the subframe payload written by `body`, then
    * byte-align + whole-frame CRC-16. */
  private def flacFrame(out: java.io.ByteArrayOutputStream, srCode: Int,
                        chAssignCode: Int, frameNo: Int)
                       (body: BitWriter => Unit): Unit = {
    val w = new BitWriter(msbFirst = true)
    w.write(0x3ffe, 14) // sync
    w.write(0, 1) // reserved
    w.write(0, 1) // fixed-blocksize stream
    w.write(8, 4) // blocksize code 8 = 256
    w.write(srCode, 4)
    w.write(chAssignCode, 4)
    w.write(4, 3) // sample size code 4 = 16-bit
    w.write(0, 1) // reserved
    w.write(frameNo, 8) // single-byte UTF-8 frame number
    val headBytes = w.toBytes // header is byte-aligned here
    val fw = new BitWriter(msbFirst = true)
    headBytes.foreach(b => fw.write(b & 0xffL, 8))
    fw.write(flacCrc8(headBytes, 0, headBytes.length), 8)
    body(fw)
    val frameBytes = fw.toBytes // alignToByte pads the tail
    out.write(frameBytes, 0, frameBytes.length)
    val c16 = flacCrc16(frameBytes, 0, frameBytes.length)
    out.write((c16 >> 8) & 0xff); out.write(c16 & 0xff)
  }

  /** The fixtures' stream rate by id mod 3 and its frame-header table
    * code: 44.1 kHz (9), 22.05 kHz (6), 8 kHz (4). */
  private def flacRate(id: Long): (Int, Int) = (id % 3) match {
    case 0 => (44100, 9); case 1 => (22050, 6); case _ => (8000, 4)
  }

  /** The fixtures' partitioned-rice residuals for samples `order` until
    * the block end: partition order i mod 2, rice k = 2 + (id + i + p)
    * mod 3 per partition (so unary quotients actually occur), residual
    * j = (id + 3i + 5c + j) mod 15 − 7, zigzag-coded — a zero-mean
    * pattern over each 15-step cycle. */
  private def writeFixtureResiduals(fw: BitWriter, id: Long, i: Int, c: Int,
                                    order: Int): Unit = {
    val po = i % 2
    fw.write(0, 2) // rice method, 4-bit params
    fw.write(po, 4)
    val partLen = FlacBlockSize >> po
    var j = order // residual index = sample index
    for (p <- 0 until 1 << po) {
      val riceK = 2 + ((id + i + p) % 3).toInt
      fw.write(riceK, 4)
      val end = (p + 1) * partLen
      while (j < end) {
        val e = ((id + i * 3 + c * 5 + j) % 15 - 7).toInt
        val u = if (e >= 0) e << 1 else (-e << 1) - 1 // zigzag
        fw.writeUnary(u >>> riceK)
        fw.write(u & ((1 << riceK) - 1), riceK)
        j += 1
      }
    }
  }

  /** A deterministic FLAC stream from (id, nChars): 2–7 frames of 256
    * samples, rate 44.1k/22.05k/8k by id mod 3 (every 4th id's frame
    * headers use rate code 0 = "from STREAMINFO", the rest the
    * explicit table codes — both grammar paths decode under the gate),
    * mono/stereo by id parity, and per (id, frame) a rotating subframe
    * type: CONSTANT, FIXED order-1 with partitioned-rice residuals
    * (partition order i mod 2, rice k varying per partition so unary
    * quotients actually occur), or VERBATIM. All sample values derive
    * from (id, i, c, j) arithmetic the oracle re-derives in SQL; the
    * order-1 residual pattern sums to zero over each 15-step cycle so
    * cumulative samples stay 16-bit-safe at any frame count. */
  def buildFlacPattern(id: Long, nChars: Long): Array[Byte] = {
    val nFrames = 2 + (nChars % 6).toInt
    val channels = 1 + (id % 2).toInt
    val (sampleRate, rateCode) = flacRate(id)
    val out = new java.io.ByteArrayOutputStream()
    flacStreamPrelude(out, channels, sampleRate,
      nFrames.toLong * FlacBlockSize)
    var i = 0
    while (i < nFrames) {
      val srCode = if (id % 4 == 0) 0 else rateCode // 0: "from STREAMINFO"
      flacFrame(out, srCode, channels - 1, i) { fw =>
        var c = 0
        while (c < channels) {
          val t = ((id + i) % 3).toInt
          fw.write(0, 1) // subframe reserved bit
          t match {
            case 0 => // CONSTANT
              fw.write(0, 6); fw.write(0, 1) // type, no wasted bits
              val v = ((id * 31 + i * 17 + c * 7) % 1001 - 500).toInt
              fw.write(v.toLong & 0xffff, 16)
            case 2 => // VERBATIM
              fw.write(1, 6); fw.write(0, 1)
              var j = 0
              while (j < FlacBlockSize) {
                val s = ((id * 3 + i * 5 + c * 9 + j * 13) % 1201 - 600).toInt
                fw.write(s.toLong & 0xffff, 16)
                j += 1
              }
            case _ => // FIXED order 1
              fw.write(0x08 | 1, 6); fw.write(0, 1)
              val s0 = ((id * 13 + i * 7 + c * 3) % 801 - 400).toInt
              fw.write(s0.toLong & 0xffff, 16) // warmup
              writeFixtureResiduals(fw, id, i, c, order = 1)
          }
          c += 1
        }
      }
      i += 1
    }
    out.toByteArray
  }

  /** A deterministic FLAC stream exercising the quantized-LPC subframe
    * path (RFC 9639 §9.2.6) — the subframe type real encoders emit for
    * nearly all music. Per (id, frame) a rotating subframe type:
    * LPC order-1 (coef [1], shift 1 — x[j] = ⌊x[j-1]/2⌋ + e[j], a
    * leaky integrator), LPC order-2 (coefs [1, 1], shift 2 —
    * x[j] = ⌊(x[j-1]+x[j-2])/4⌋ + e[j]), or CONSTANT. Both LPC chains
    * are strictly contractive (Σ|coef|/2^shift ≤ 1/2), so samples stay
    * bounded by the warmup magnitude at any frame count, and the
    * floor-division recurrences re-derive exactly in SQL as a
    * recursive CTE (the `mm_flac_lpc` oracle; DuckDB `//` TRUNCATES,
    * so the oracle floors explicitly — arithmetic shift IS floor
    * division). The decoder itself is general (any order ≤ 32, any
    * precision, any non-negative shift): the spec drives it with
    * non-SQL-friendly coefficients ([9,-5,2] >> 3) against a direct
    * recurrence. Residuals reuse the zero-mean mod-15 pattern and the
    * varying-k partitioned-rice scheme of [[buildFlacPattern]];
    * headers/STREAMINFO are the same grammar. */
  def buildFlacLpcPattern(id: Long, nChars: Long): Array[Byte] = {
    val nFrames = 2 + (nChars % 6).toInt
    val channels = 1 + (id % 2).toInt
    val (sampleRate, rateCode) = flacRate(id)
    val out = new java.io.ByteArrayOutputStream()
    flacStreamPrelude(out, channels, sampleRate,
      nFrames.toLong * FlacBlockSize)
    var i = 0
    while (i < nFrames) {
      val srCode = if (id % 4 == 0) 0 else rateCode
      flacFrame(out, srCode, channels - 1, i) { fw =>
        var c = 0
        while (c < channels) {
          val t = ((id + i) % 3).toInt
          fw.write(0, 1)
          if (t == 2) { // CONSTANT
            fw.write(0, 6); fw.write(0, 1)
            val v = ((id * 31 + i * 17 + c * 7) % 1001 - 500).toInt
            fw.write(v.toLong & 0xffff, 16)
          } else { // LPC order 1 (t=0) or order 2 (t=1)
            val order = t + 1
            fw.write(0x20 | (order - 1), 6); fw.write(0, 1)
            val x0 = ((id * 13 + i * 7 + c * 3) % 801 - 400).toInt
            fw.write(x0.toLong & 0xffff, 16) // warmup 0
            if (order == 2) {
              val x1 = ((id * 11 + i * 5 + c * 9) % 601 - 300).toInt
              fw.write(x1.toLong & 0xffff, 16) // warmup 1
            }
            // precision-1 (4 bits), shift (5 bits), then the coefs
            val precision = if (order == 1) 3 else 4
            fw.write(precision - 1, 4)
            fw.write(order, 5) // shift: 1 for order-1, 2 for order-2
            var q = 0
            while (q < order) { fw.write(1, precision); q += 1 } // coefs all 1
            writeFixtureResiduals(fw, id, i, c, order)
          }
          c += 1
        }
      }
      i += 1
    }
    out.toByteArray
  }

  /** A deterministic STEREO FLAC stream exercising every channel
    * assignment (RFC 9639 §9.1.3): per (id, frame) a rotating mode —
    * independent L/R, left-side, right-side, mid-side — over the SAME
    * target (L, R) sample grids, all subframes verbatim. Because
    * decorrelation is lossless, the decoded output is the identical
    * (L, R) whatever rode the wire, so the oracle is pure grid
    * arithmetic with no mode term — but the Spark side only lands on
    * it by reading real 17-bit side channels, reconstructing
    * right = left − side / left = right + side, and restoring mid-side
    * via the shared-parity trick (mid2 = (mid<<1)|(side&1) = L+R
    * exactly). The grids make (L−R) hit both parities, so a dropped
    * parity bit diverges the hash. */
  def buildFlacStereoPattern(id: Long, nChars: Long): Array[Byte] = {
    val nFrames = 2 + (nChars % 6).toInt
    val (sampleRate, rateCode) = flacRate(id)
    val totalSamples = nFrames.toLong * FlacBlockSize
    def left(i: Int, j: Int): Int =
      ((id * 3 + i * 5 + j * 7) % 1201 - 600).toInt
    def right(i: Int, j: Int): Int =
      ((id * 7 + i * 11 + j * 13) % 1001 - 500).toInt
    val out = new java.io.ByteArrayOutputStream()
    flacStreamPrelude(out, 2, sampleRate, totalSamples)
    var i = 0
    while (i < nFrames) {
      // mode rotation covers all four assignments in any 4 frames
      val chAssign = ((id + i) % 4).toInt match {
        case 0 => 1  // independent stereo
        case 1 => 8  // left-side
        case 2 => 9  // right-side
        case _ => 10 // mid-side
      }
      flacFrame(out, rateCode, chAssign, i) { fw =>
        // channel payloads per mode; side = L−R rides bps+1 = 17 bits
        def verbatim(width: Int, v: Int => Int): Unit = {
          fw.write(0, 1); fw.write(1, 6); fw.write(0, 1)
          var j = 0
          while (j < FlacBlockSize) {
            fw.write(v(j).toLong & ((1L << width) - 1), width); j += 1
          }
        }
        chAssign match {
          case 1 =>
            verbatim(16, left(i, _)); verbatim(16, right(i, _))
          case 8 =>
            verbatim(16, left(i, _))
            verbatim(17, j => left(i, j) - right(i, j))
          case 9 =>
            verbatim(17, j => left(i, j) - right(i, j))
            verbatim(16, right(i, _))
          case _ =>
            verbatim(16, j => (left(i, j) + right(i, j)) >> 1)
            verbatim(17, j => left(i, j) - right(i, j))
        }
      }
      i += 1
    }
    out.toByteArray
  }

  /** A deterministic mono FLAC stream whose every subframe uses WASTED
    * BITS (RFC 9639 §9.2.2) — the header feature real encoders emit on
    * shifted/quiet material: per frame k = 1–3 wasted bits (count−1
    * unary-coded after the flag), the subframe coded at 16−k bits in
    * the narrowed domain, every decoded sample shifted back left by k.
    * Frames alternate CONSTANT and VERBATIM; all values are exact
    * multiples of 2^k by construction, so the oracle is the base
    * arithmetic times the per-frame power of two. */
  def buildFlacWastedPattern(id: Long, nChars: Long): Array[Byte] = {
    val nFrames = 2 + (nChars % 6).toInt
    val (sampleRate, rateCode) = flacRate(id)
    val out = new java.io.ByteArrayOutputStream()
    flacStreamPrelude(out, 1, sampleRate, nFrames.toLong * FlacBlockSize)
    var i = 0
    while (i < nFrames) {
      val wasted = 1 + ((id + i) % 3).toInt // 1..3
      val cw = 16 - wasted // coded width
      flacFrame(out, rateCode, 0, i) { fw =>
        fw.write(0, 1) // subframe reserved bit
        if ((id + i) % 2 == 0) fw.write(0, 6) // CONSTANT
        else fw.write(1, 6) // VERBATIM
        fw.write(1, 1) // wasted-bits flag
        fw.writeUnary(wasted - 1) // count−1 unary
        if ((id + i) % 2 == 0) {
          val base = ((id * 31 + i * 17) % 201 - 100).toInt
          fw.write(base.toLong & ((1L << cw) - 1), cw)
        } else {
          var j = 0
          while (j < FlacBlockSize) {
            val base = ((id * 3 + i * 5 + j * 7) % 201 - 100).toInt
            fw.write(base.toLong & ((1L << cw) - 1), cw)
            j += 1
          }
        }
      }
      i += 1
    }
    out.toByteArray
  }

  /** UTF-8-style coded frame/sample number (the FLAC header field —
    * same prefix grammar as UTF-8 but allowed up to 7 bytes). Returns
    * -1 on malformed coding. */
  private[operators] def readFlacUtf8(r: BitReader): Long = {
    val b0 = r.read(8)
    if (b0 < 0) return -1
    if ((b0 & 0x80) == 0) return b0
    var nCont = 0
    var mask = 0x40
    while ((b0 & mask) != 0 && nCont < 7) { nCont += 1; mask >>= 1 }
    if (nCont == 0 || nCont > 6) return -1
    var v = b0 & (mask - 1)
    var i = 0
    while (i < nCont) {
      val bc = r.read(8)
      if (bc < 0 || (bc & 0xc0) != 0x80) return -1
      v = (v << 6) | (bc & 0x3f)
      i += 1
    }
    v
  }

  /** Partitioned-rice residual decode (the shared residual grammar of
    * FIXED and LPC subframes, RFC 9639 §9.2.7): fills
    * `res(order until blockSize)` in sample order. 4-bit params only —
    * the 5-bit method and the k=15 escape are rejected, the fixtures
    * never emit them. Returns false on any structural violation. */
  private def readRiceResiduals(r: BitReader, blockSize: Int,
                                order: Int, res: Array[Int]): Boolean = {
    if (r.read(2) != 0) return false
    val po = r.read(4).toInt
    if (po < 0 || (blockSize >> po) << po != blockSize) return false
    val nParts = 1 << po
    val partLen = blockSize >> po
    if (partLen <= order && nParts > 1) return false
    var j = order
    var p = 0
    while (p < nParts) {
      val riceK = r.read(4).toInt
      if (riceK < 0 || riceK == 15) return false // escape unused
      val nRes = if (p == 0) partLen - order else partLen
      var t = 0
      while (t < nRes) {
        val q = r.readUnary()
        if (q < 0) return false
        val rem = r.read(riceK)
        if (rem < 0) return false
        val u = (q.toLong << riceK) | rem
        res(j) = if ((u & 1) == 0) (u >> 1).toInt
                 else (-((u + 1) >> 1)).toInt
        j += 1; t += 1
      }
      p += 1
    }
    j == blockSize
  }

  /** One FLAC subframe decoded into `out` — CONSTANT / VERBATIM /
    * FIXED order 0–4 / quantized LPC order ≤ 32 — at sample width
    * `wIn` bits (the stream bps, +1 on a decorrelated side channel).
    * Wasted bits (RFC 9639 §9.2.2: flag bit, then count−1 unary)
    * narrow the coded width; decoded samples shift back left. Returns
    * false on any structural violation. */
  private def decodeSubframe(r: BitReader, blockSize: Int, wIn: Int,
                             out: Array[Int]): Boolean = {
    if (r.read(1) != 0) return false
    val sfType = r.read(6).toInt
    val wasted =
      if (r.read(1) == 0) 0
      else {
        val u = r.readUnary()
        if (u < 0) return false
        u + 1
      }
    if (wasted >= wIn) return false
    val w = wIn - wasted // subframe codes in the narrowed domain
    if (!decodeSubframeBody(r, blockSize, w, sfType, out)) return false
    if (wasted > 0) {
      var j = 0
      while (j < blockSize) { out(j) = out(j) << wasted; j += 1 }
    }
    true
  }

  private def decodeSubframeBody(r: BitReader, blockSize: Int,
                                 w: Int, sfType: Int,
                                 out: Array[Int]): Boolean = {
    def sext(v: Long): Int = ((v << (64 - w)) >> (64 - w)).toInt
    if (sfType == 0) { // CONSTANT
      val v = sext(r.read(w))
      java.util.Arrays.fill(out, v)
      true
    } else if (sfType == 1) { // VERBATIM
      var j = 0
      while (j < blockSize) { out(j) = sext(r.read(w)); j += 1 }
      true
    } else if ((sfType & 0x38) == 0x08 && (sfType & 7) <= 4) { // FIXED
      val order = sfType & 7
      val res = new Array[Int](blockSize)
      var j = 0
      while (j < order) { out(j) = sext(r.read(w)); j += 1 }
      if (!readRiceResiduals(r, blockSize, order, res)) return false
      while (j < blockSize) {
        out(j) = (order match {
          case 0 => 0
          case 1 => out(j - 1)
          case 2 => 2 * out(j - 1) - out(j - 2)
          case 3 => 3 * out(j - 1) - 3 * out(j - 2) + out(j - 3)
          case _ => 4 * out(j - 1) - 6 * out(j - 2) +
            4 * out(j - 3) - out(j - 4)
        }) + res(j)
        j += 1
      }
      true
    } else if ((sfType & 0x20) != 0) { // LPC, order 1..32
      val order = (sfType & 0x1f) + 1
      if (order > blockSize) return false
      val res = new Array[Int](blockSize)
      var j = 0
      while (j < order) { out(j) = sext(r.read(w)); j += 1 }
      val precCode = r.read(4)
      if (precCode < 0 || precCode == 15) return false // 1111 invalid
      val precision = precCode.toInt + 1
      val shiftRaw = r.read(5)
      if (shiftRaw < 0) return false
      // 5-bit two's complement; negative shifts are reserved by
      // RFC 9639 §9.2.6 and no real encoder emits them — reject
      val shift = ((shiftRaw << 59) >> 59).toInt
      if (shift < 0) return false
      val coef = new Array[Long](order)
      var k = 0
      while (k < order) {
        val c0 = r.read(precision)
        if (c0 < 0) return false
        coef(k) = (c0 << (64 - precision)) >> (64 - precision)
        k += 1
      }
      if (!readRiceResiduals(r, blockSize, order, res)) return false
      while (j < blockSize) {
        // 64-bit accumulator, arithmetic shift (= floor division by
        // 2^shift — the quantized-LPC prediction, RFC 9639)
        var acc = 0L
        k = 0
        while (k < order) { acc += coef(k) * out(j - 1 - k); k += 1 }
        out(j) = ((acc >> shift) + res(j)).toInt
        j += 1
      }
      true
    } else false // reserved subframe type
  }

  /** Real FLAC decode: STREAMINFO walk, per-frame header grammar with
    * CRC-8 verification, subframe decode (constant / verbatim / fixed
    * predictors order 0–4 / quantized LPC any order ≤ 32 with 64-bit
    * prediction accumulator, partitioned rice incl. the 5-bit escape-
    * free path), stereo decorrelation (left-side / right-side /
    * mid-side undone losslessly, side channel at bps+1 bits),
    * byte-align, CRC-16 verification, reduced to [[FlacMeta]]. Any
    * structural violation, reserved subframe type or channel
    * assignment, negative LPC shift, or checksum mismatch yields
    * None — a corrupt file is a missing row, not a wrong row. */
  def parseFlacMeta(id: Long, b: Array[Byte]): Option[FlacMeta] = try {
    if (b.length < 42 || b(0) != 'f' || b(1) != 'L' || b(2) != 'a' ||
        b(3) != 'C') return None
    // metadata blocks: need STREAMINFO (type 0) first, skip the rest
    var pos = 4
    var last = false
    var sRate = 0; var channels = 0; var bits = 0
    var totalSamples = 0L
    var sawStreamInfo = false
    while (!last) {
      if (pos + 4 > b.length) return None
      val h0 = b(pos) & 0xff
      last = (h0 & 0x80) != 0
      val btype = h0 & 0x7f
      val len = be24(b, pos + 1)
      if (pos + 4 + len > b.length) return None
      if (btype == 0) {
        if (len != 34) return None
        val r = new BitReader(b, pos + 4, msbFirst = true)
        r.read(16); r.read(16); r.read(24); r.read(24)
        sRate = r.read(20).toInt
        channels = r.read(3).toInt + 1
        bits = r.read(5).toInt + 1
        totalSamples = r.read(36)
        sawStreamInfo = true
      }
      pos += 4 + len
    }
    if (!sawStreamInfo || sRate <= 0 || bits != 16) return None
    var nFrames = 0
    var decoded = 0L
    var sum = 0L; var sumAbs = 0L; var peak = 0
    var first = 0; var haveFirst = false
    while (pos < b.length) {
      val frameStart = pos
      val r = new BitReader(b, pos, msbFirst = true)
      if (r.read(14) != 0x3ffe) return None
      if (r.read(1) != 0) return None
      r.read(1) // blocking strategy (fixed/variable both walk the same)
      val bsCode = r.read(4).toInt
      val srCode = r.read(4).toInt
      val chAssign = r.read(4).toInt
      val ssCode = r.read(3).toInt
      if (r.read(1) != 0) return None
      if (readFlacUtf8(r) < 0) return None
      var blockSize = bsCode match {
        case 0 => return None
        case 1 => 192
        case n if n >= 2 && n <= 5 => 576 << (n - 2)
        case 6 => -8 // tail byte
        case 7 => -16 // tail 2 bytes
        case n => 256 << (n - 8)
      }
      if (blockSize == -8) blockSize = r.read(8).toInt + 1
      else if (blockSize == -16) blockSize = r.read(16).toInt + 1
      val frameRate = srCode match {
        case 0 => sRate
        case 1 => 88200; case 2 => 176400; case 3 => 192000
        case 4 => 8000; case 5 => 16000; case 6 => 22050; case 7 => 24000
        case 8 => 32000; case 9 => 44100; case 10 => 48000; case 11 => 96000
        case 12 => r.read(8).toInt * 1000
        case 13 => r.read(16).toInt
        case 14 => r.read(16).toInt * 10
        case _ => return None
      }
      if (frameRate != sRate) return None
      // channel assignment (RFC 9639 §9.1.3): 0–7 independent, 8
      // left/side, 9 right/side, 10 mid/side; 11–15 reserved
      if (chAssign > 10) return None
      val decorrelated = chAssign >= 8
      val nCh = if (decorrelated) 2 else chAssign + 1
      if (nCh != channels) return None
      val frameBits = ssCode match {
        case 0 => bits // "from STREAMINFO"
        case 1 => 8; case 2 => 12; case 4 => 16; case 5 => 20; case 6 => 24
        case 7 => 32; case _ => return None
      }
      if (frameBits != bits) return None
      // header CRC-8: everything from sync through the byte before it
      val crcPos = r.bytePos
      if (!r.aligned) return None // header fields are byte-aligned here
      if (r.read(8).toInt != flacCrc8(b, frameStart, crcPos)) return None
      def record(s: Int): Unit = {
        if (!haveFirst) { first = s; haveFirst = true }
        sum += s; sumAbs += math.abs(s)
        if (math.abs(s) > peak) peak = math.abs(s)
        decoded += 1
      }
      val chBufs = Array.ofDim[Int](nCh, blockSize)
      var c = 0
      while (c < nCh) {
        // the side channel carries ONE extra bit: the L−R difference
        // spans one more bit than either operand (RFC 9639 §9.2.1)
        val isSide = (chAssign == 8 && c == 1) ||
          (chAssign == 9 && c == 0) || (chAssign == 10 && c == 1)
        val w = if (isSide) bits + 1 else bits
        if (!decodeSubframe(r, blockSize, w, chBufs(c))) return None
        c += 1
      }
      // undo stereo decorrelation — lossless integer arithmetic; the
      // output is always (left, right) whatever rode the wire
      if (chAssign == 8) { // ch0 = left, ch1 = side: right = left − side
        var j = 0
        while (j < blockSize) {
          chBufs(1)(j) = chBufs(0)(j) - chBufs(1)(j); j += 1
        }
      } else if (chAssign == 9) { // ch0 = side, ch1 = right: L = R + side
        var j = 0
        while (j < blockSize) {
          chBufs(0)(j) = chBufs(1)(j) + chBufs(0)(j); j += 1
        }
      } else if (chAssign == 10) { // ch0 = mid, ch1 = side
        // mid = (L+R)>>1 dropped side's low bit: restore it — mid2 =
        // (mid<<1)|(side&1) is exactly L+R (L+R and L−R share parity)
        var j = 0
        while (j < blockSize) {
          val side = chBufs(1)(j)
          val mid2 = (chBufs(0)(j) << 1) | (side & 1)
          chBufs(0)(j) = (mid2 + side) >> 1
          chBufs(1)(j) = (mid2 - side) >> 1
          j += 1
        }
      }
      c = 0
      while (c < nCh) {
        var j = 0
        while (j < blockSize) { record(chBufs(c)(j)); j += 1 }
        c += 1
      }
      r.alignToByte()
      val frameEnd = r.bytePos
      val c16raw = r.read(16)
      if (c16raw < 0) return None // truncated before the frame CRC
      val c16 = (c16raw & 0xffffL).toInt
      if (c16 != flacCrc16(b, frameStart, frameEnd)) return None
      nFrames += 1
      pos = frameEnd + 2
    }
    if (nFrames == 0 || decoded != totalSamples * channels) return None
    Some(FlacMeta(id, channels, sRate, bits, nFrames, totalSamples,
      sum, sumAbs, peak, first))
  } catch { case scala.util.control.NonFatal(_) => None }

  // ------------------------------------------------------------------
  // Ogg — real page walk (RFC 3533). The container every Vorbis/Opus
  // stream rides; an intake pipeline reads page structure (stream
  // serial, packet boundaries from the lacing table, granule
  // positions, BOS/EOS) and VERIFIES the per-page CRC before any
  // codec work. All of that is public page grammar + the Ogg CRC-32
  // (poly 0x04C11DB7, init 0, no reflection, no xor-out — NOT the
  // zlib CRC), decoded for real here; codec packets (Vorbis/Opus
  // entropy payloads) stay behind the decoder seam.
  // ------------------------------------------------------------------

  private val oggCrcTable: Array[Int] = {
    val t = new Array[Int](256)
    var i = 0
    while (i < 256) {
      var r = i << 24
      var k = 0
      while (k < 8) {
        r = if ((r & 0x80000000) != 0) (r << 1) ^ 0x04c11db7 else r << 1
        k += 1
      }
      t(i) = r
      i += 1
    }
    t
  }

  private[operators] def oggCrc(b: Array[Byte], from: Int,
                                until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc = (crc << 8) ^ oggCrcTable(((crc >>> 24) ^ (b(i) & 0xff)) & 0xff)
      i += 1
    }
    crc
  }

  /** Ogg reduced to the intake-filter fields: stream serial, page and
    * packet counts (packets = lacing segments terminated by a < 255
    * value), payload byte total, and the final granule position. */
  final case class OggMeta(id: Long, serial: Long, nPages: Int,
                           nPackets: Int, payloadBytes: Long,
                           lastGranule: Long)

  /** A deterministic Ogg stream from (id, nChars): 2–5 pages, 1–3
    * packets per page with sizes from (id, page, k) arithmetic — every
    * 5th packet sized ≥ 255 so the lacing table carries real
    * 255-continuation entries — BOS on the first page, EOS on the
    * last, granule advancing (page+1)·(1000 + id mod 500), and a real
    * Ogg CRC-32 stamped per page. */
  def buildOggPattern(id: Long, nChars: Long): Array[Byte] = {
    val nPages = 2 + (nChars % 4).toInt
    val serial = (id % 100000).toInt
    val out = new java.io.ByteArrayOutputStream()
    var p = 0
    while (p < nPages) {
      val nPk = 1 + ((id + p) % 3).toInt
      val sizes = (0 until nPk).map { k =>
        if ((id + p + k) % 5 == 0) 300 + ((id + k) % 200).toInt
        else 20 + ((id + p * 7 + k * 13) % 230).toInt
      }
      // payload bytes derive from the GLOBAL page-payload position so
      // the packet split is byte-transparent (frozen oracle contract)
      var base = 0
      val packets = sizes.map { sz =>
        val a = Array.tabulate[Byte](sz)(x =>
          (((base + x) * 31 + id + p) % 251).toByte)
        base += sz
        a
      }
      val flags = if (p == 0) 0x02 else if (p == nPages - 1) 0x04 else 0x00
      val granule = (p + 1).toLong * (1000 + (id % 500))
      val page = oggPage(flags, granule, serial, p, packets)
      out.write(page, 0, page.length)
      p += 1
    }
    out.toByteArray
  }

  /** One validated page from [[walkOggPages]]: header fields, lacing
    * table, and the absolute payload position in the stream. */
  private final case class OggPageRef(flags: Int, granule: Long,
                                      serial: Long, lacing: Array[Int],
                                      payloadOff: Int, payloadLen: Int)

  /** The validated Ogg page walk shared by every Ogg gate: capture
    * pattern, version 0, BOS-first/EOS-last ordering, single-serial
    * contract, lacing/length bounds, and the page CRC-32 recomputed
    * with the CRC field zeroed (RFC 3533). Returns pages in stream
    * order, or None on any structural violation. */
  private def walkOggPages(b: Array[Byte]): Option[Vector[OggPageRef]] =
    try {
      var pos = 0
      var n = 0
      var serial = -1L
      var sawEos = false
      val pages = Vector.newBuilder[OggPageRef]
      while (pos < b.length) {
        if (sawEos) return None // data after the EOS page
        if (pos + 27 > b.length) return None
        if (b(pos) != 'O' || b(pos + 1) != 'g' || b(pos + 2) != 'g' ||
            b(pos + 3) != 'S') return None
        if (b(pos + 4) != 0) return None
        val flags = b(pos + 5) & 0xff
        if (n == 0 && (flags & 0x02) == 0) return None // BOS first
        if (n > 0 && (flags & 0x02) != 0) return None
        val granule = le64(b, pos + 6)
        val ser = le32(b, pos + 14)
        if (serial < 0) serial = ser
        else if (ser != serial) return None // single-stream contract
        val nSegs = b(pos + 26) & 0xff
        if (pos + 27 + nSegs > b.length) return None
        val lacing = new Array[Int](nSegs)
        var bodyLen = 0
        var k = 0
        while (k < nSegs) {
          val l = b(pos + 27 + k) & 0xff
          lacing(k) = l
          bodyLen += l
          k += 1
        }
        val pageLen = 27 + nSegs + bodyLen
        if (pos + pageLen > b.length) return None
        // CRC: page bytes with the CRC field zeroed
        val copy = java.util.Arrays.copyOfRange(b, pos, pos + pageLen)
        val stored = le32(copy, 22).toInt
        copy(22) = 0; copy(23) = 0; copy(24) = 0; copy(25) = 0
        if (oggCrc(copy, 0, copy.length) != stored) return None
        pages += OggPageRef(flags, granule, ser, lacing,
          pos + 27 + nSegs, bodyLen)
        if ((flags & 0x04) != 0) sawEos = true
        n += 1
        pos += pageLen
      }
      if (n == 0 || !sawEos) None else Some(pages.result())
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Reassemble the first `n` packets (all by default; fewer when the
    * stream has fewer) from page-local lacing tables. A packet spanning
    * pages is outside this profile → None (RFC 3533 marks continuation
    * with flag 0x01, which the builders never emit). */
  private def oggPackets(b: Array[Byte], pages: Vector[OggPageRef],
                         n: Int = Int.MaxValue): Option[Seq[Array[Byte]]] = {
    val packets = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    var pi = 0
    while (pi < pages.size && packets.size < n) {
      val pg = pages(pi)
      var off = pg.payloadOff
      var len = 0
      var open = false
      var k = 0
      while (k < pg.lacing.length && packets.size < n) {
        len += pg.lacing(k)
        open = pg.lacing(k) == 255
        if (!open) {
          packets += java.util.Arrays.copyOfRange(b, off, off + len)
          off += len
          len = 0
        }
        k += 1
      }
      if (open && packets.size < n) return None // spans pages
      pi += 1
    }
    Some(packets.toSeq)
  }

  /** (packets, payload bytes) over the page walk: lacing values < 255
    * end a packet. */
  private def oggCounts(pages: Vector[OggPageRef]): (Int, Long) =
    (pages.map(_.lacing.count(_ < 255)).sum,
      pages.map(_.payloadLen.toLong).sum)

  /** Real Ogg page walk reduced to container stats (RFC 3533; the
    * shared [[walkOggPages]] grammar). Anything malformed yields
    * None. */
  def parseOggMeta(id: Long, b: Array[Byte]): Option[OggMeta] =
    walkOggPages(b).map { pages =>
      val (nPackets, payload) = oggCounts(pages)
      OggMeta(id, pages.head.serial, pages.size, nPackets, payload,
        pages.last.granule)
    }

  /** One Ogg page from whole packets (RFC 3533 lacing: 255-runs plus a
    * terminator < 255, so an exact-multiple-of-255 packet ends in a
    * 0-valued segment), CRC-32 stamped. */
  private def oggPage(flags: Int, granule: Long, serial: Int, seq: Int,
                      packets: Seq[Array[Byte]]): Array[Byte] = {
    val lacing = packets.flatMap { p =>
      Seq.fill(p.length / 255)(255) :+ (p.length % 255)
    }
    val payloadLen = packets.map(_.length).sum
    val page = new Array[Byte](27 + lacing.length + payloadLen)
    page(0) = 'O'; page(1) = 'g'; page(2) = 'g'; page(3) = 'S'
    page(4) = 0
    page(5) = flags.toByte
    var o = 6
    var g = granule
    var k = 0
    while (k < 8) { page(o) = (g & 0xff).toByte; g >>= 8; o += 1; k += 1 }
    var sv = serial
    k = 0
    while (k < 4) { page(o) = (sv & 0xff).toByte; sv >>= 8; o += 1; k += 1 }
    var sq = seq
    k = 0
    while (k < 4) { page(o) = (sq & 0xff).toByte; sq >>= 8; o += 1; k += 1 }
    o += 4 // CRC stays zero while hashing
    page(o) = lacing.length.toByte; o += 1
    lacing.foreach { l => page(o) = l.toByte; o += 1 }
    packets.foreach { p => System.arraycopy(p, 0, page, o, p.length)
      o += p.length }
    val crc = oggCrc(page, 0, page.length)
    page(22) = (crc & 0xff).toByte
    page(23) = ((crc >>> 8) & 0xff).toByte
    page(24) = ((crc >>> 16) & 0xff).toByte
    page(25) = ((crc >>> 24) & 0xff).toByte
    page
  }

  /** Codec identification recovered from the first packet of an Ogg
    * stream — the metadata an audio-intake filter routes on before any
    * entropy decode. preSkip is 0 for Vorbis (an Opus-only field). */
  final case class OggAudioMeta(id: Long, codec: String, channels: Int,
                                sampleRate: Long, preSkip: Int,
                                nPages: Int, nPackets: Int,
                                payloadBytes: Long)

  /** A real OpusHead identification header (RFC 7845 §5.1): magic,
    * version 1, channels, pre-skip LE16, input sample rate LE32,
    * output gain LE16 = 0, mapping family 0 — fields from id
    * arithmetic. */
  private def opusHeadPacket(id: Long): Array[Byte] = {
    val ch = 1 + ((id / 2) % 2).toInt
    val preSkip = 312 + (id % 100).toInt
    val rate = (id % 3) match {
      case 0 => 48000; case 1 => 24000; case _ => 16000
    }
    val b = java.nio.ByteBuffer.allocate(19)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("OpusHead".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    b.put(1.toByte).put(ch.toByte)
    b.putShort(preSkip.toShort)
    b.putInt(rate)
    b.putShort(0).put(0.toByte)
    b.array()
  }

  /** A real Vorbis identification header (Vorbis I §4.2.2): 0x01
    * "vorbis", version LE32 = 0, channels, rate LE32, three bitrate
    * LE32 fields, blocksize nibble pair (2^8, 2^11), framing bit 1. */
  private def vorbisIdPacket(id: Long): Array[Byte] = {
    val ch = 1 + ((id / 2) % 2).toInt
    val rate = (id % 3) match {
      case 0 => 44100; case 1 => 32000; case _ => 11025
    }
    val b = java.nio.ByteBuffer.allocate(30)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put(1.toByte)
    b.put("vorbis".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    b.putInt(0).put(ch.toByte)
    b.putInt(rate)
    b.putInt(0).putInt(0).putInt(0)
    b.put(((11 << 4) | 8).toByte) // blocksize_0 = 2^8, _1 = 2^11
    b.put(1.toByte) // framing
    b.array()
  }

  /** A deterministic Ogg AUDIO stream: the first page carries exactly
    * one packet — a real OpusHead (RFC 7845 §5.1, even ids) or Vorbis
    * identification header (Vorbis I §4.2.2, odd ids) — followed by
    * 2–4 body pages of opaque packets (entropy-coded audio stays
    * behind the decoder seam). All header fields derive from id
    * arithmetic the oracle re-derives in SQL. */
  def buildOggAudioPattern(id: Long, nChars: Long): Array[Byte] = {
    val serial = (id % 100000).toInt
    val header: Array[Byte] =
      if (id % 2 == 0) opusHeadPacket(id) else vorbisIdPacket(id)
    val nBody = 2 + (nChars % 3).toInt
    val out = new java.io.ByteArrayOutputStream()
    val first = oggPage(0x02, 0L, serial, 0, Seq(header))
    out.write(first, 0, first.length)
    var p = 1
    while (p <= nBody) {
      val nPk = 1 + ((id + p) % 3).toInt
      val packets = (0 until nPk).map { k =>
        val sz = if ((id + p + k) % 5 == 0) 300 + ((id + k) % 200).toInt
                 else 20 + ((id + p * 7 + k * 13) % 230).toInt
        Array.tabulate[Byte](sz)(j => ((j * 31 + id + p) % 251).toByte)
      }
      val flags = if (p == nBody) 0x04 else 0x00
      val granule = p.toLong * (1000 + (id % 500))
      val page = oggPage(flags, granule, serial, p, packets)
      out.write(page, 0, page.length)
      p += 1
    }
    out.toByteArray
  }

  /** Real Ogg audio identification: the page walk of [[parseOggMeta]]
    * (capture/version/CRC/lacing/BOS/EOS checks) plus reassembly of
    * the FIRST packet, parsed as OpusHead (RFC 7845 §5.1: version 1,
    * channel count, pre-skip, input sample rate) or a Vorbis
    * identification header (Vorbis I §4.2.2: version 0, channels,
    * rate, blocksize sanity, framing bit). Unknown first-packet magic,
    * malformed header fields, or any page-level violation → None. */
  def parseOggAudioMeta(id: Long, b: Array[Byte]): Option[OggAudioMeta] =
    try {
      val pages = walkOggPages(b).getOrElse(return None)
      // the ID header must be whole on the BOS page
      val h = oggPackets(b, pages.take(1), 1).flatMap(_.headOption)
        .getOrElse(return None)
      val (nPackets, payload) = oggCounts(pages)
      val nPages = pages.size
      val isOpus = h.length >= 19 &&
        new String(h, 0, 8, java.nio.charset.StandardCharsets.US_ASCII) ==
          "OpusHead"
      val isVorbis = h.length >= 30 && h(0) == 1 &&
        new String(h, 1, 6, java.nio.charset.StandardCharsets.US_ASCII) ==
          "vorbis"
      if (isOpus) {
        if (h(8) != 1) return None // version
        val ch = h(9) & 0xff
        if (ch < 1) return None
        Some(OggAudioMeta(id, "opus", ch, le32(h, 12), le16(h, 10), nPages,
          nPackets, payload))
      } else if (isVorbis) {
        if (le32(h, 7) != 0L) return None // vorbis_version
        val ch = h(11) & 0xff
        val rate = le32(h, 12)
        if (ch < 1 || rate <= 0) return None
        val bs0 = h(28) & 0x0f
        val bs1 = (h(28) >> 4) & 0x0f
        if (bs0 < 6 || bs0 > 13 || bs1 < bs0 || bs1 > 13) return None
        if ((h(29) & 1) != 1) return None // framing bit
        Some(OggAudioMeta(id, "vorbis", ch, rate, 0, nPages, nPackets,
          payload))
      } else None
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Comment-header metadata recovered from an Ogg audio stream's
    * second packet — the tag block (vendor, user comments) an intake
    * pipeline routes on (language, title, license). `lang` is the
    * value of the LANG tag (field names are case-insensitive ASCII,
    * Vorbis I §5.2); empty when absent. */
  final case class OggTagsMeta(id: Long, codec: String, vendor: String,
                               nComments: Int, commentBytes: Long,
                               lang: String)

  /** A deterministic Ogg audio stream with a REAL comment header:
    * page 0 (BOS) carries the identification header
    * ([[opusHeadPacket]] / [[vorbisIdPacket]] by id parity), page 1
    * the OpusTags (RFC 7845 §5.2) or Vorbis comment (Vorbis I §5)
    * packet — vendor string, LE32-length-prefixed "KEY=value"
    * comments incl. a LANG tag, Vorbis framing bit — and page 2 (EOS)
    * one opaque body packet. Every field derives from id arithmetic
    * the oracle re-derives in SQL (incl. the strings, via chr/repeat
    * arithmetic). */
  def buildOggTagsPattern(id: Long, nChars: Long): Array[Byte] = {
    val serial = (id % 100000).toInt
    val idPkt = if (id % 2 == 0) opusHeadPacket(id) else vorbisIdPacket(id)
    val vendor = "graft-" + ('a' + (id % 26).toInt).toChar
    val nC = 1 + (id % 4).toInt
    val comments = (0 until nC).map { k =>
      if (k == 0)
        "LANG=" + ('a' + (id % 26).toInt).toChar +
          ('a' + ((id / 26) % 26).toInt).toChar
      else "K" + k + "=" + ("v" * (1 + ((id + k) % 5).toInt))
    }
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val tagsBody = new java.io.ByteArrayOutputStream()
    def le32(v: Int): Unit = {
      tagsBody.write(v & 0xff); tagsBody.write((v >> 8) & 0xff)
      tagsBody.write((v >> 16) & 0xff); tagsBody.write((v >> 24) & 0xff)
    }
    if (id % 2 == 0)
      tagsBody.write("OpusTags".getBytes(
        java.nio.charset.StandardCharsets.US_ASCII))
    else {
      tagsBody.write(3)
      tagsBody.write("vorbis".getBytes(
        java.nio.charset.StandardCharsets.US_ASCII))
    }
    val vb = vendor.getBytes(utf8)
    le32(vb.length); tagsBody.write(vb, 0, vb.length)
    le32(comments.size)
    comments.foreach { c =>
      val cb = c.getBytes(utf8)
      le32(cb.length); tagsBody.write(cb, 0, cb.length)
    }
    if (id % 2 != 0) tagsBody.write(1) // Vorbis framing bit
    val bodyPkt = Array.tabulate[Byte](40 + (nChars % 60).toInt)(j =>
      ((j * 31 + id) % 251).toByte)
    val out = new java.io.ByteArrayOutputStream()
    val p0 = oggPage(0x02, 0L, serial, 0, Seq(idPkt))
    val p1 = oggPage(0x00, 0L, serial, 1, Seq(tagsBody.toByteArray))
    val p2 = oggPage(0x04, 1000 + (id % 500), serial, 2, Seq(bodyPkt))
    out.write(p0, 0, p0.length)
    out.write(p1, 0, p1.length)
    out.write(p2, 0, p2.length)
    out.toByteArray
  }

  /** Real comment-header parse behind the shared page walk: the
    * stream's second packet as OpusTags (RFC 7845 §5.2) or a Vorbis
    * comment header (Vorbis I §5 — packet type 3, framing bit
    * checked): vendor string, LE32-prefixed "KEY=value" list, LANG
    * tag extracted with the case-insensitive field-name rule. Any
    * structural violation (lengths past the packet, a comment with no
    * '=', a count the packet can't hold) → None. */
  def parseOggTags(id: Long, b: Array[Byte]): Option[OggTagsMeta] = try {
    val pages = walkOggPages(b).getOrElse(return None)
    val pkts = oggPackets(b, pages, 2).filter(_.size == 2)
      .getOrElse(return None)
    val idh = pkts(0)
    val tags = pkts(1)
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    val isOpus = idh.length >= 19 &&
      new String(idh, 0, 8, ascii) == "OpusHead"
    val isVorbis = idh.length >= 30 && idh(0) == 1 &&
      new String(idh, 1, 6, ascii) == "vorbis"
    val (codec, headerLen) =
      if (isOpus) {
        if (tags.length < 8 || new String(tags, 0, 8, ascii) != "OpusTags")
          return None
        ("opus", 8)
      } else if (isVorbis) {
        if (tags.length < 7 || tags(0) != 3 ||
            new String(tags, 1, 6, ascii) != "vorbis") return None
        ("vorbis", 7)
      } else return None
    var o = headerLen
    def next32(): Long =
      if (o + 4 > tags.length) -1L
      else {
        val v = le32(tags, o)
        o += 4
        v
      }
    val vlen = next32()
    if (vlen < 0 || o + vlen > tags.length) return None
    val vendor =
      new String(tags, o, vlen.toInt, java.nio.charset.StandardCharsets.UTF_8)
    o += vlen.toInt
    val n = next32()
    // bound the loop by what the packet can hold (each comment costs
    // ≥ 4 length bytes) — an untrusted count must not spin or allocate
    if (n < 0 || n > (tags.length - o) / 4) return None
    var lang = ""
    var commentBytes = 0L
    var i = 0L
    while (i < n) {
      val cl = next32()
      if (cl < 0 || o + cl > tags.length) return None
      val c = new String(tags, o, cl.toInt,
        java.nio.charset.StandardCharsets.UTF_8)
      o += cl.toInt
      commentBytes += cl
      val eq = c.indexOf('=')
      if (eq <= 0) return None // a field name is required
      if (c.substring(0, eq)
            .toUpperCase(java.util.Locale.ROOT) == "LANG")
        lang = c.substring(eq + 1)
      i += 1
    }
    if (isVorbis && (o >= tags.length || (tags(o) & 1) != 1)) return None
    Some(OggTagsMeta(id, codec, vendor, n.toInt, commentBytes, lang))
  } catch { case scala.util.control.NonFatal(_) => None }

  /** EXIF fields recovered from a JPEG's APP1 segment — what an image
    * intake pipeline rotates and filters on before any pixel decode:
    * TIFF byte order, orientation (1–8), pixel dimensions, the Make
    * string, and ISO from the chained Exif sub-IFD. */
  final case class ExifMeta(id: Long, byteOrder: String, orientation: Int,
                            width: Long, height: Long, make: String,
                            iso: Int)

  /** A deterministic JPEG carrying a REAL EXIF block (TIFF 6.0 inside
    * APP1 per EXIF 2.3): SOI, a JFIF APP0 for every 3rd id and a COM
    * segment sized by nChars (both must be SKIPPED to find the Exif
    * APP1), then the TIFF structure — "II" little-endian for even
    * ids, "MM" big-endian for odd (the walk must handle BOTH), magic
    * 42, IFD0 with width/height (LONG), Make (ASCII via data-area
    * offset), orientation (SHORT, left-justified inline value), and
    * an Exif sub-IFD pointer (0x8769) whose single entry carries
    * ISOSpeedRatings — then EOI. All values from id arithmetic. */
  def buildJpegExifPattern(id: Long, nChars: Long): Array[Byte] = {
    val le = id % 2 == 0
    val orientation = 1 + (id % 8).toInt
    val width = 640 + (id % 1280)
    val height = 360 + (id % 720)
    val make = "CAM" + ('A' + (id % 26).toInt).toChar
    val iso = 50 + (id % 3150).toInt
    // --- TIFF block ---
    val t = new java.io.ByteArrayOutputStream()
    def u16(v: Int): Unit =
      if (le) { t.write(v & 0xff); t.write((v >> 8) & 0xff) }
      else { t.write((v >> 8) & 0xff); t.write(v & 0xff) }
    def u32(v: Long): Unit =
      if (le) { t.write((v & 0xff).toInt); t.write(((v >> 8) & 0xff).toInt)
        t.write(((v >> 16) & 0xff).toInt); t.write(((v >> 24) & 0xff).toInt) }
      else { t.write(((v >> 24) & 0xff).toInt)
        t.write(((v >> 16) & 0xff).toInt)
        t.write(((v >> 8) & 0xff).toInt); t.write((v & 0xff).toInt) }
    // entry: tag, type, count, then a 4-byte value field; SHORT values
    // are LEFT-justified in the field (TIFF 6.0 §2)
    def entryLong(tag: Int, v: Long): Unit = {
      u16(tag); u16(4); u32(1); u32(v)
    }
    def entryShort(tag: Int, v: Int): Unit = {
      u16(tag); u16(3); u32(1); u16(v); u16(0)
    }
    def entryAsciiOff(tag: Int, len: Int, off: Long): Unit = {
      u16(tag); u16(2); u32(len); u32(off)
    }
    t.write(if (le) 'I' else 'M'); t.write(if (le) 'I' else 'M')
    u16(42)
    u32(8) // IFD0 directly after the header
    // IFD0: 5 entries sorted by tag, next-IFD = 0; layout:
    //   header 8 | IFD0 8..74 | ExifIFD 74..92 | make string 92..97
    u16(5)
    entryLong(0x0100, width)
    entryLong(0x0101, height)
    entryAsciiOff(0x010f, make.length + 1, 92)
    entryShort(0x0112, orientation)
    entryLong(0x8769, 74) // Exif sub-IFD pointer
    u32(0)
    u16(1)
    entryShort(0x8827, iso) // ISOSpeedRatings
    u32(0)
    t.write(make.getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    t.write(0)
    val tiff = t.toByteArray
    // --- JPEG wrapper ---
    val out = new java.io.ByteArrayOutputStream()
    out.write(0xff); out.write(0xd8) // SOI
    if (id % 3 == 0) // a JFIF APP0 the walk must skip
      segment(out, 0xe0, ascii("JFIF") ++ u8s(0, 1, 2, 0, 0, 1, 0, 1, 0, 0))
    segment(out, 0xfe, Array.tabulate[Byte]((nChars % 40).toInt)(j =>
      ((j + id) % 120 + 1).toByte)) // COM, also skipped
    segment(out, 0xe1, ascii("Exif") ++ u8s(0, 0) ++ tiff) // APP1
    out.write(0xff); out.write(0xd9) // EOI
    out.toByteArray
  }

  /** Real EXIF walk (EXIF 2.3 over TIFF 6.0): JPEG marker loop to the
    * "Exif\0\0" APP1 (other APPn/COM segments skipped by length),
    * then the TIFF structure in EITHER byte order — magic 42, IFD0
    * entries (SHORT values left-justified inline, ASCII via bounded
    * data-area offsets), and the 0x8769 Exif sub-IFD chain for ISO.
    * Every offset/count is bounds-checked against the segment (an
    * untrusted entry count or offset must reject, not allocate or
    * read wild); orientation outside 1–8 rejects. None on anything
    * malformed. */
  def parseExifMeta(id: Long, b: Array[Byte]): Option[ExifMeta] = try {
    if (b.length < 4 || (b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8)
      return None
    // marker walk to APP1/Exif
    var pos = 2
    var tiff: Array[Byte] = null
    while (tiff == null) {
      if (pos + 4 > b.length) return None
      if ((b(pos) & 0xff) != 0xff) return None
      val marker = b(pos + 1) & 0xff
      if (marker == 0xd9 || marker == 0xda) return None // EOI/SOS: no Exif
      val len = be16(b, pos + 2)
      if (len < 2 || pos + 2 + len > b.length) return None
      if (marker == 0xe1 && len >= 8 &&
          b(pos + 4) == 'E' && b(pos + 5) == 'x' && b(pos + 6) == 'i' &&
          b(pos + 7) == 'f' && b(pos + 8) == 0 && b(pos + 9) == 0)
        tiff = java.util.Arrays.copyOfRange(b, pos + 10, pos + 2 + len)
      pos += 2 + len
    }
    if (tiff.length < 8) return None
    val le =
      if (tiff(0) == 'I' && tiff(1) == 'I') true
      else if (tiff(0) == 'M' && tiff(1) == 'M') false
      else return None
    def u16(o: Int): Int =
      if (o < 0 || o + 2 > tiff.length) -1
      else if (le) le16(tiff, o) else be16(tiff, o)
    def u32(o: Int): Long =
      if (o < 0 || o + 4 > tiff.length) -1L
      else if (le) le32(tiff, o) else be32(tiff, o)
    if (u16(2) != 42) return None
    var orientation = 0
    var width = -1L
    var height = -1L
    var make = ""
    var iso = 0
    var exifIfd = -1L
    def walkIfd(off: Long): Boolean = {
      if (off < 0 || off + 2 > tiff.length) return false
      val n = u16(off.toInt)
      // each entry is 12 bytes: an untrusted count must fit the block
      if (n < 0 || off + 2 + 12L * n + 4 > tiff.length) return false
      var k = 0
      while (k < n) {
        val e = (off + 2 + 12 * k).toInt
        val tag = u16(e)
        val typ = u16(e + 2)
        val count = u32(e + 4)
        if (count < 0) return false
        tag match {
          case 0x0100 if typ == 4 => width = u32(e + 8)
          case 0x0100 if typ == 3 => width = u16(e + 8).toLong
          case 0x0101 if typ == 4 => height = u32(e + 8)
          case 0x0101 if typ == 3 => height = u16(e + 8).toLong
          case 0x0112 if typ == 3 =>
            orientation = u16(e + 8) // left-justified inline SHORT
          case 0x010f if typ == 2 =>
            // ASCII: inline when ≤ 4 bytes, else a bounded offset
            val cnt = count.toInt
            val start = if (count <= 4) e + 8 else u32(e + 8).toInt
            if (cnt <= 0 || start < 0 || start + cnt > tiff.length)
              return false
            // NUL-terminated per TIFF; trim the terminator
            val raw = new String(tiff, start, cnt,
              java.nio.charset.StandardCharsets.US_ASCII)
            make = raw.takeWhile(_ != '\u0000')
          case 0x8769 if typ == 4 => exifIfd = u32(e + 8)
          case 0x8827 if typ == 3 => iso = u16(e + 8)
          case _ => ()
        }
        k += 1
      }
      true
    }
    if (!walkIfd(u32(4))) return None
    if (exifIfd >= 0 && !walkIfd(exifIfd)) return None
    if (orientation < 1 || orientation > 8) return None
    if (width <= 0 || height <= 0 || iso <= 0) return None
    Some(ExifMeta(id, if (le) "II" else "MM", orientation, width, height,
      make, iso))
  } catch { case scala.util.control.NonFatal(_) => None }

  // ------------------------------------------------- H.264 / AVC SPS

  /** Parsed Annex-B stream summary for the `mm_avc_sps` gate. */
  final case class AvcMeta(id: Long, profile: Int, level: Int,
      pocType: Int, refFrames: Int, width: Int, height: Int,
      nNals: Int, nIdr: Int, sliceBytes: Long, initQp: Int)

  /** Exp-Golomb on the MSB-first bit reader (ITU-T H.264 §9.1):
    * ue(v) = leadingZeroBits zeros, a 1, then leadingZeroBits info
    * bits; codeNum = 2^lz + info − 1. Negative on corruption. */
  private def readUe(r: BitReader): Long = {
    val lz = r.readUnary(limit = 31)
    if (lz < 0) return -1L
    val info = r.read(lz)
    if (info < 0) -1L else (1L << lz) + info - 1
  }

  /** se(v) mapping (§9.1.1): codeNum k → (−1)^(k+1)·⌈k/2⌉. Returns
    * Long.MinValue on corruption (0 is a valid se value). */
  private def readSe(r: BitReader): Long = {
    val k = readUe(r)
    if (k < 0) Long.MinValue
    else if (k % 2 == 1) (k + 1) / 2
    else -(k / 2)
  }

  private def writeUe(w: BitWriter, v: Long): Unit = {
    val k = v + 1
    val bits = 63 - java.lang.Long.numberOfLeadingZeros(k)
    w.write(0L, bits)
    w.write(k, bits + 1)
  }

  private def writeSe(w: BitWriter, v: Long): Unit =
    writeUe(w, if (v > 0) 2 * v - 1 else -2 * v)

  /** RBSP → EBSP: insert the 0x03 emulation-prevention byte after any
    * 00 00 that precedes 00/01/02/03 (§7.4.1.1), so NAL payloads can
    * never fake a start code. */
  private[operators] def ebspEscape(rbsp: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(rbsp.length + 8)
    var zeros = 0
    var i = 0
    while (i < rbsp.length) {
      val b = rbsp(i) & 0xff
      if (zeros >= 2 && b <= 3) { out.write(3); zeros = 0 }
      out.write(b)
      zeros = if (b == 0) zeros + 1 else 0
      i += 1
    }
    out.toByteArray
  }

  /** EBSP → RBSP: strip 00 00 03 → 00 00. */
  private[operators] def ebspUnescape(ebsp: Array[Byte], from: Int,
                                      until: Int): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(until - from)
    var zeros = 0
    var i = from
    while (i < until) {
      val b = ebsp(i) & 0xff
      if (zeros >= 2 && b == 3) zeros = 0 // emulation-prevention byte
      else {
        out.write(b)
        zeros = if (b == 0) zeros + 1 else 0
      }
      i += 1
    }
    out.toByteArray
  }

  /** Real Annex-B walk: split on 3-/4-byte start codes, unescape each
    * NAL to RBSP, parse the SPS (§7.3.2.1 — profile-conditional chroma
    * branch, poc-type branches, frame cropping with 4:2:0 crop units)
    * and the PPS through its signed-Golomb QP fields; count slice NALs
    * and their RBSP payload bytes. Returns None on any structural
    * violation (no SPS, bad forbidden bit, truncated Golomb). Slice
    * GUTS (CAVLC/CABAC entropy) stay behind the decoder seam — this is
    * the stream-intake metadata layer, like the MP4/MP3/Ogg walks. */
  def parseAvcMeta(id: Long, b: Array[Byte]): Option[AvcMeta] = {
    // collect NAL (start, end) spans between 3-/4-byte start codes; a
    // NAL's RBSP never ends in 0x00 (the stop bit shares the last
    // byte), so a zero before `00 00 01` is the 4-byte code's own
    val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var i = 0
    var cur = -1
    while (i + 2 < b.length) {
      if (b(i) == 0 && b(i + 1) == 0 && b(i + 2) == 1) {
        if (cur >= 0) {
          val e = if (i > cur && b(i - 1) == 0) i - 1 else i
          spans += ((cur, e))
        }
        cur = i + 3
        i += 3
      } else i += 1
    }
    if (cur >= 0) spans += ((cur, b.length))
    if (spans.isEmpty) return None
    var profile = -1; var level = -1; var pocType = -1
    var refFrames = -1; var width = -1; var height = -1
    var initQp = Int.MinValue
    var nIdr = 0
    var sliceBytes = 0L
    spans.foreach { case (s, e) =>
      if (e <= s) return None
      val hdr = b(s) & 0xff
      if ((hdr & 0x80) != 0) return None // forbidden_zero_bit
      val nalType = hdr & 0x1f
      val rbsp = ebspUnescape(b, s + 1, e)
      nalType match {
        case 7 => // SPS
          if (rbsp.length < 4) return None
          profile = rbsp(0) & 0xff
          level = rbsp(2) & 0xff
          val r = new BitReader(rbsp, 3, msbFirst = true)
          if (readUe(r) < 0) return None // seq_parameter_set_id
          if (Set(100, 110, 122, 244, 44, 83, 86, 118, 128).contains(profile)) {
            val chroma = readUe(r) // chroma_format_idc
            if (chroma < 0 || chroma > 3) return None
            if (chroma == 3 && r.read(1) < 0) return None // separate planes
            if (readUe(r) < 0) return None // bit_depth_luma_minus8
            if (readUe(r) < 0) return None // bit_depth_chroma_minus8
            if (r.read(1) < 0) return None // qpprime_y_zero_transform
            val scaling = r.read(1) // seq_scaling_matrix_present_flag
            if (scaling != 0) return None // fixture never emits matrices
          }
          if (readUe(r) < 0) return None // log2_max_frame_num_minus4
          pocType = readUe(r).toInt
          pocType match {
            case 0 => if (readUe(r) < 0) return None // log2_max_poc_lsb
            case 2 => ()
            case _ => return None // type-1 (cyclic) not in fixture scope
          }
          refFrames = readUe(r).toInt
          if (refFrames < 0) return None
          if (r.read(1) < 0) return None // gaps_in_frame_num_allowed
          val mbW = readUe(r) + 1
          val mbH = readUe(r) + 1
          if (mbW <= 0 || mbH <= 0) return None
          val frameMbsOnly = r.read(1)
          if (frameMbsOnly < 0) return None
          if (frameMbsOnly == 0 && r.read(1) < 0) return None // mbaff
          if (r.read(1) < 0) return None // direct_8x8_inference
          val cropping = r.read(1)
          if (cropping < 0) return None
          var cl = 0L; var cr = 0L; var ct = 0L; var cb = 0L
          if (cropping == 1) {
            cl = readUe(r); cr = readUe(r); ct = readUe(r); cb = readUe(r)
            if (cl < 0 || cr < 0 || ct < 0 || cb < 0) return None
          }
          // 4:2:0 crop units: x2, and y2·(2−frame_mbs_only_flag)
          val cropY = 2 * (2 - frameMbsOnly)
          width = (mbW * 16 - 2 * (cl + cr)).toInt
          height = ((2 - frameMbsOnly) * mbH * 16 - cropY * (ct + cb)).toInt
        case 8 => // PPS: walk to the signed QP fields
          val r = new BitReader(rbsp, 0, msbFirst = true)
          if (readUe(r) < 0 || readUe(r) < 0) return None // pps id, sps id
          if (r.read(2) < 0) return None // entropy mode + bottom-field-poc
          if (readUe(r) != 0) return None // num_slice_groups_minus1
          if (readUe(r) < 0 || readUe(r) < 0) return None // ref idx l0/l1
          if (r.read(3) < 0) return None // weighted pred + bipred idc
          val qp = readSe(r)
          if (qp == Long.MinValue) return None
          initQp = (26 + qp).toInt
        case 5 => nIdr += 1; sliceBytes += rbsp.length.toLong
        case 1 => sliceBytes += rbsp.length.toLong
        case _ => return None
      }
    }
    if (profile < 0 || initQp == Int.MinValue) return None
    Some(AvcMeta(id, profile, level, pocType, refFrames, width, height,
      spans.size, nIdr, sliceBytes, initQp))
  }

  /** Deterministic Annex-B fixture: SPS (profile rotates Baseline /
    * Main / High — the High branch carries the chroma/bit-depth
    * fields), PPS with signed-Golomb QP offsets, then alternating
    * IDR / non-IDR slice stubs whose payload bytes are ≥0x80 (no fake
    * start codes; slice entropy stays behind the decoder seam). SPS
    * and PPS RBSPs go through real emulation-prevention escaping. */
  def buildAvcPattern(id: Long, nChars: Long): Array[Byte] = {
    val profile = (id % 3) match {
      case 0 => 66; case 1 => 77; case _ => 100 }
    val level = 30 + (id % 22).toInt
    val pocType = ((id % 2) * 2).toInt
    val refFrames = 1 + (id % 4)
    val mbW = 2 + (id % 40)
    val mbH = 2 + (id % 23)
    val cropping = id % 2 == 0
    val cr = if (cropping) id % 3 else 0
    val cb = if (cropping) (id / 3) % 2 else 0
    val sps = {
      val w = new BitWriter(msbFirst = true)
      w.write(profile.toLong, 8)
      w.write(0L, 8) // constraint flags + reserved
      w.write(level.toLong, 8)
      writeUe(w, 0) // seq_parameter_set_id
      if (profile == 100) {
        writeUe(w, 1) // chroma_format_idc 4:2:0
        writeUe(w, 0); writeUe(w, 0) // bit depths
        w.write(0L, 1) // qpprime
        w.write(0L, 1) // no scaling matrices
      }
      writeUe(w, id % 5) // log2_max_frame_num_minus4
      writeUe(w, pocType.toLong)
      if (pocType == 0) writeUe(w, id % 5) // log2_max_poc_lsb_minus4
      writeUe(w, refFrames)
      w.write(0L, 1) // gaps_in_frame_num
      writeUe(w, mbW - 1)
      writeUe(w, mbH - 1)
      w.write(1L, 1) // frame_mbs_only_flag
      w.write(1L, 1) // direct_8x8_inference
      if (cropping) {
        w.write(1L, 1)
        writeUe(w, 0); writeUe(w, cr); writeUe(w, 0); writeUe(w, cb)
      } else w.write(0L, 1)
      w.write(0L, 1) // vui_parameters_present
      w.write(1L, 1) // rbsp stop bit
      w.toBytes
    }
    val pps = {
      val w = new BitWriter(msbFirst = true)
      writeUe(w, 0); writeUe(w, 0) // pps id, sps id
      w.write((id % 2), 1) // entropy_coding_mode (CABAC/CAVLC)
      w.write(0L, 1) // bottom_field_pic_order_in_frame_present
      writeUe(w, 0) // num_slice_groups_minus1
      writeUe(w, id % 3); writeUe(w, 0) // default ref idx l0/l1
      w.write(0L, 1) // weighted_pred
      w.write(0L, 2) // weighted_bipred_idc
      writeSe(w, (id % 11) - 5) // pic_init_qp_minus26
      writeSe(w, 0) // pic_init_qs_minus26
      writeSe(w, (id % 5) - 2) // chroma_qp_index_offset
      w.write(1L, 1) // deblocking_filter_control_present
      w.write(0L, 1) // constrained_intra_pred
      w.write(0L, 1) // redundant_pic_cnt_present
      w.write(1L, 1) // rbsp stop bit
      w.toBytes
    }
    val out = new java.io.ByteArrayOutputStream()
    def nal(refIdc: Int, nalType: Int, rbsp: Array[Byte],
            fourByte: Boolean): Unit = {
      if (fourByte) out.write(0)
      out.write(0); out.write(0); out.write(1)
      out.write((refIdc << 5) | nalType)
      val e = ebspEscape(rbsp)
      out.write(e, 0, e.length)
    }
    nal(3, 7, sps, fourByte = true)
    nal(3, 8, pps, fourByte = true)
    val nFrames = (3 + nChars % 6).toInt
    var k = 0
    while (k < nFrames) {
      val len = (50 + (id + k * 7) % 100).toInt
      val payload = Array.tabulate[Byte](len)(j =>
        (0x80 | ((id + k + j) % 0x7f)).toByte)
      nal(if (k % 2 == 0) 3 else 2, if (k % 2 == 0) 5 else 1, payload,
        fourByte = false)
      k += 1
    }
    out.toByteArray
  }

  // ------------------------------------------- H.264 I_PCM slice decode

  /** Decoded IDR-slice content for the `mm_avc_islice` gate. */
  final case class AvcIslice(id: Long, width: Int, height: Int,
      nMbs: Int, qpY: Int, sumY: Long, sumCb: Long, sumCr: Long,
      firstY: Int)

  /** REAL H.264 slice-layer decode for the I_PCM path (ITU-T H.264
    * §7.3.3, §7.3.4, §7.3.5): SPS/PPS parse, the full IDR slice
    * header (frame_num, idr_pic_id, dec_ref_pic_marking,
    * slice_qp_delta, deblocking control), then the macroblock loop —
    * mb_type ue(v) = 25 (I_PCM), pcm_alignment_zero_bits to the byte
    * boundary, and 256 luma + 64 Cb + 64 Cr raw samples per MB placed
    * at their frame positions. No entropy tables, no stand-ins: this
    * path decodes real conforming streams byte-exact (I_PCM is how
    * H.264 carries lossless macroblocks; every conformance suite
    * exercises it). CAVLC/CABAC residual entropy remains behind the
    * decoder seam. Profile: frame_mbs_only, CAVLC PPS, single slice,
    * all-I_PCM; anything else → None. */
  def parseAvcIslice(id: Long, b: Array[Byte]): Option[AvcIslice] = {
    val spans = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    var i = 0
    var cur = -1
    while (i + 2 < b.length) {
      if (b(i) == 0 && b(i + 1) == 0 && b(i + 2) == 1) {
        if (cur >= 0) {
          val e = if (i > cur && b(i - 1) == 0) i - 1 else i
          spans += ((cur, e))
        }
        cur = i + 3
        i += 3
      } else i += 1
    }
    if (cur >= 0) spans += ((cur, b.length))
    if (spans.isEmpty) return None
    var mbW = -1; var mbH = -1
    var log2Fn = -1; var pocType = -1; var log2Poc = -1
    var picInitQp = Int.MinValue; var deblockPresent = -1
    var result: Option[AvcIslice] = None
    spans.foreach { case (s, e) =>
      if (e <= s) return None
      val hdr = b(s) & 0xff
      if ((hdr & 0x80) != 0) return None
      val nalType = hdr & 0x1f
      val rbsp = ebspUnescape(b, s + 1, e)
      nalType match {
        case 7 => // SPS — the same §7.3.2.1 walk as the meta gate
          if (rbsp.length < 4) return None
          val profile = rbsp(0) & 0xff
          val r = new BitReader(rbsp, 3, msbFirst = true)
          if (readUe(r) < 0) return None
          if (Set(100, 110, 122, 244, 44, 83, 86, 118, 128)
              .contains(profile)) {
            val chroma = readUe(r)
            if (chroma != 1) return None // 4:2:0 only
            if (readUe(r) != 0 || readUe(r) != 0) return None
            if (r.read(2) < 0) return None // qpprime + scaling flag
          }
          log2Fn = readUe(r).toInt + 4
          pocType = readUe(r).toInt
          pocType match {
            case 0 => log2Poc = readUe(r).toInt + 4
            case 2 => ()
            case _ => return None
          }
          if (readUe(r) < 0) return None // max refs
          if (r.read(1) < 0) return None // gaps allowed
          mbW = readUe(r).toInt + 1
          mbH = readUe(r).toInt + 1
          if (mbW <= 0 || mbH <= 0 || mbW > 256 || mbH > 256) return None
          if (r.read(1) != 1) return None // frame_mbs_only required
          if (r.read(1) < 0) return None // direct_8x8
          if (r.read(1) != 0) return None // cropping: out of profile here
        case 8 => // PPS
          val r = new BitReader(rbsp, 0, msbFirst = true)
          if (readUe(r) < 0 || readUe(r) < 0) return None
          if (r.read(1) != 0) return None // CAVLC required for ue mb_type
          if (r.read(1) < 0) return None // bottom-field-poc
          if (readUe(r) != 0) return None // no slice groups
          if (readUe(r) < 0 || readUe(r) < 0) return None
          if (r.read(3) < 0) return None
          val qp = readSe(r)
          if (qp == Long.MinValue) return None
          picInitQp = (26 + qp).toInt
          if (readSe(r) == Long.MinValue) return None // qs
          if (readSe(r) == Long.MinValue) return None // chroma offset
          deblockPresent = r.read(1).toInt
          if (deblockPresent < 0 || r.read(2) < 0) return None
        case 5 => // IDR slice
          if (mbW < 0 || picInitQp == Int.MinValue) return None
          val r = new BitReader(rbsp, 0, msbFirst = true)
          if (readUe(r) != 0) return None // first_mb_in_slice
          val sliceType = readUe(r)
          if (sliceType != 2 && sliceType != 7) return None // I slice
          if (readUe(r) < 0) return None // pps id
          if (r.read(log2Fn) < 0) return None // frame_num
          if (readUe(r) < 0) return None // idr_pic_id
          if (pocType == 0 && r.read(log2Poc) < 0) return None
          if (r.read(2) < 0) return None // dec_ref_pic_marking (IDR)
          val qpDelta = readSe(r)
          if (qpDelta == Long.MinValue) return None
          if (deblockPresent == 1) {
            val idc = readUe(r)
            if (idc < 0) return None
            if (idc != 1 &&
                (readSe(r) == Long.MinValue ||
                 readSe(r) == Long.MinValue)) return None
          }
          val w = 16 * mbW; val h = 16 * mbH
          val y = new Array[Int](w * h)
          val cb = new Array[Int]((w / 2) * (h / 2))
          val cr = new Array[Int]((w / 2) * (h / 2))
          var mb = 0
          while (mb < mbW * mbH) {
            if (readUe(r) != 25) return None // I_PCM only in profile
            r.alignToByte()
            val mx = (mb % mbW) * 16; val my = (mb / mbW) * 16
            var j = 0
            while (j < 256) {
              val v = r.read(8)
              if (v < 0) return None
              y((my + j / 16) * w + mx + j % 16) = v.toInt
              j += 1
            }
            def chroma(plane: Array[Int]): Boolean = {
              var j = 0
              while (j < 64) {
                val v = r.read(8)
                if (v < 0) return false
                plane((my / 2 + j / 8) * (w / 2) + mx / 2 + j % 8) =
                  v.toInt
                j += 1
              }
              true
            }
            if (!chroma(cb) || !chroma(cr)) return None
            mb += 1
          }
          if (r.read(1) != 1) return None // rbsp stop bit
          def sum(p: Array[Int]): Long = p.foldLeft(0L)(_ + _)
          result = Some(AvcIslice(id, w, h, mbW * mbH,
            (picInitQp + qpDelta).toInt, sum(y), sum(cb), sum(cr),
            y(0)))
        case _ => return None
      }
    }
    result
  }

  /** Deterministic all-I_PCM IDR fixture: Baseline SPS (pocType 2,
    * mbW = 1 + n mod 3 by mbH = 1 + (n div 3) mod 2), CAVLC PPS with
    * deblocking control present (idc 1 = disabled, the PCM-correct
    * setting), one IDR slice; luma(x, y) = (id + 3x + 5y) mod 256,
    * Cb = (id + 2x + 7y) mod 256, Cr = (3id + x + y) mod 256 on
    * chroma coords. PCM bytes hit 00 00 0x runs, so real
    * emulation-prevention escaping is load-bearing. */
  def buildAvcIslicePattern(id: Long, nChars: Long): Array[Byte] = {
    val mbW = 1 + (nChars % 3).toInt
    val mbH = 1 + ((nChars / 3) % 2).toInt
    val sps = {
      val w = new BitWriter(msbFirst = true)
      w.write(66L, 8); w.write(0L, 8); w.write(30L, 8)
      writeUe(w, 0) // sps id
      writeUe(w, id % 5) // log2_max_frame_num_minus4
      writeUe(w, 2) // poc type
      writeUe(w, 0) // max refs
      w.write(0L, 1) // gaps
      writeUe(w, mbW - 1); writeUe(w, mbH - 1)
      w.write(1L, 1) // frame_mbs_only
      w.write(1L, 1) // direct_8x8
      w.write(0L, 1) // no cropping
      w.write(0L, 1) // no vui
      w.write(1L, 1) // stop bit
      w.toBytes
    }
    val pps = {
      val w = new BitWriter(msbFirst = true)
      writeUe(w, 0); writeUe(w, 0)
      w.write(0L, 1) // CAVLC
      w.write(0L, 1)
      writeUe(w, 0)
      writeUe(w, 0); writeUe(w, 0)
      w.write(0L, 1); w.write(0L, 2)
      writeSe(w, (id % 11) - 5) // pic_init_qp_minus26
      writeSe(w, 0)
      writeSe(w, 0)
      w.write(1L, 1) // deblocking control present
      w.write(0L, 1); w.write(0L, 1)
      w.write(1L, 1)
      w.toBytes
    }
    val slice = {
      val w = new BitWriter(msbFirst = true)
      writeUe(w, 0) // first_mb_in_slice
      writeUe(w, 7) // slice_type: I (all slices)
      writeUe(w, 0) // pps id
      w.write(0L, (id % 5).toInt + 4) // frame_num
      writeUe(w, id % 3) // idr_pic_id
      w.write(0L, 2) // dec_ref_pic_marking
      writeSe(w, (id % 7) - 3) // slice_qp_delta
      writeUe(w, 1) // disable_deblocking_filter_idc: off
      for (mb <- 0 until mbW * mbH) {
        writeUe(w, 25) // I_PCM
        w.alignToByte()
        val mx = (mb % mbW) * 16; val my = (mb / mbW) * 16
        for (j <- 0 until 256)
          w.write((id + 3 * (mx + j % 16) + 5 * (my + j / 16)) % 256, 8)
        for (j <- 0 until 64)
          w.write((id + 2 * (mx / 2 + j % 8) + 7 * (my / 2 + j / 8)) % 256, 8)
        for (j <- 0 until 64)
          w.write((3 * id + (mx / 2 + j % 8) + (my / 2 + j / 8)) % 256, 8)
      }
      w.write(1L, 1) // stop bit
      w.toBytes
    }
    val out = new java.io.ByteArrayOutputStream()
    def nal(refIdc: Int, nalType: Int, rbsp: Array[Byte]): Unit = {
      out.write(0); out.write(0); out.write(0); out.write(1)
      out.write((refIdc << 5) | nalType)
      val e = ebspEscape(rbsp)
      out.write(e, 0, e.length)
    }
    nal(3, 7, sps); nal(3, 8, pps); nal(3, 5, slice)
    out.toByteArray
  }

  // --------------------------------------------------- AAC ADTS walk

  /** ADTS frame-walk summary for the `mm_aac_adts` gate. */
  final case class AdtsMeta(id: Long, profile: Int, sampleRate: Int,
      channels: Int, nFrames: Int, aacBytes: Long, durationMs: Long)

  private val AdtsRates = Array(96000, 88200, 64000, 48000, 44100, 32000,
    24000, 22050, 16000, 12000, 11025, 8000, 7350)

  /** Real ADTS header walk (ISO/IEC 14496-3 §1.A.2.2): 12-bit sync,
    * MPEG-4 ID, the 13-bit frame length that makes every frame
    * variable-size (the walk must read each header, not stride),
    * profile / sampling-frequency-index / channel-configuration pinned
    * consistent across frames. Raw AAC payloads are entropy-coded and
    * stay behind the decoder seam. Duration: 1024 PCM samples per
    * frame at the table rate. */
  def parseAdtsMeta(id: Long, b: Array[Byte]): Option[AdtsMeta] = {
    var pos = 0
    var profile = -1; var rate = -1; var channels = -1
    var nFrames = 0
    var total = 0L
    while (pos < b.length) {
      if (pos + 7 > b.length) return None // truncated header
      val h0 = b(pos) & 0xff; val h1 = b(pos + 1) & 0xff
      if (h0 != 0xff || (h1 & 0xf0) != 0xf0) return None // sync
      if ((h1 & 0x08) != 0) return None // ID: MPEG-4 only in fixture
      if ((h1 & 0x06) != 0) return None // layer must be 00
      val protectionAbsent = h1 & 1
      if (protectionAbsent != 1) return None // fixture: no CRC variant
      val h2 = b(pos + 2) & 0xff
      val prof = (h2 >> 6) & 0x3
      val sfIdx = (h2 >> 2) & 0xf
      if (sfIdx >= AdtsRates.length) return None
      val ch = (((h2 & 1) << 2) | ((b(pos + 3) & 0xc0) >>> 6)) & 0x7
      val frameLen = (((b(pos + 3) & 0x03) << 11) |
        ((b(pos + 4) & 0xff) << 3) | ((b(pos + 5) & 0xe0) >>> 5)) & 0x1fff
      if (frameLen < 7 || pos + frameLen > b.length) return None
      if (profile < 0) { profile = prof; rate = AdtsRates(sfIdx); channels = ch }
      else if (prof != profile || AdtsRates(sfIdx) != rate ||
        ch != channels) return None // mid-stream parameter change
      nFrames += 1
      total += frameLen
      pos += frameLen
    }
    if (nFrames == 0) return None
    Some(AdtsMeta(id, profile, rate, channels, nFrames, total,
      nFrames.toLong * 1024L * 1000L / rate))
  }

  /** Deterministic ADTS fixture: every frame re-encodes the full
    * header (profile id%4, rate rotating 48k/44.1k/16k, 1-2 channels,
    * VBR buffer-fullness marker) over a variable-length opaque payload
    * whose bytes avoid 0xFF (no fake syncwords). */
  def buildAdtsPattern(id: Long, nChars: Long): Array[Byte] = {
    val prof = (id % 4).toInt
    val sfIdx = (id % 3) match { case 0 => 3; case 1 => 4; case _ => 8 }
    val ch = 1 + (id % 2).toInt
    val nFrames = (20 + nChars % 40).toInt
    val out = new java.io.ByteArrayOutputStream()
    var k = 0
    while (k < nFrames) {
      val payloadLen = (30 + (id + 11L * k) % 200).toInt
      val frameLen = 7 + payloadLen
      out.write(0xff)
      out.write(0xf1) // MPEG-4, layer 0, protection_absent=1
      out.write((prof << 6) | (sfIdx << 2) | ((ch >> 2) & 1))
      out.write(((ch & 0x3) << 6) | ((frameLen >> 11) & 0x3))
      out.write((frameLen >> 3) & 0xff)
      out.write(((frameLen & 0x7) << 5) | 0x1f) // fullness high bits
      out.write(0xfc) // fullness low 6 bits = all ones, 0 extra blocks
      var j = 0
      while (j < payloadLen) {
        out.write(0x40 | ((id + k + j) % 0x3f).toInt)
        j += 1
      }
      k += 1
    }
    out.toByteArray
  }

  // -------------------------------------------------------- WebP/RIFF

  /** RIFF/WebP container summary for the `mm_webp_meta` gate. */
  final case class WebpMeta(id: Long, format: String, width: Int,
      height: Int, riffBytes: Long, hasAlpha: Boolean)

  /** Real RIFF chunk walk + the three WebP bitstream headers (public
    * container spec + VP8 RFC 6386 §9.1 / VP8L lossless format): the
    * lossy keyframe start code and 14-bit dimensions, the lossless
    * 0x2f signature with packed 14-bit dimensions and the alpha hint,
    * and the VP8X extended header with 24-bit canvas fields and the
    * alpha flag. Chunk padding (odd sizes) honored; the VP8X variant
    * must find dimensions in VP8X, not the embedded VP8 frame. */
  def parseWebpMeta(id: Long, b: Array[Byte]): Option[WebpMeta] = {
    if (b.length < 12) return None
    if (tag(b, 0) != "RIFF") return None
    val riffSize = le32(b, 4)
    if (riffSize + 8 != b.length) return None
    if (tag(b, 8) != "WEBP") return None
    var format: String = null
    var width = -1; var height = -1; var hasAlpha = false
    val end = riffWalk(b, 12) { (fourcc, body, size) =>
      body + size <= b.length && (fourcc match {
        case "VP8 " =>
          // 3-byte frame tag (a keyframe), then the start code 9D 01 2A
          format != null || (size >= 10 && (b(body) & 1) == 0 &&
            (b(body + 3) & 0xff) == 0x9d && (b(body + 4) & 0xff) == 0x01 &&
            (b(body + 5) & 0xff) == 0x2a && {
              width = le16(b, body + 6) & 0x3fff
              height = le16(b, body + 8) & 0x3fff
              format = "lossy"
              true
            })
        case "VP8L" =>
          size >= 5 && (b(body) & 0xff) == 0x2f && {
            val bits = le32(b, body + 1)
            width = ((bits & 0x3fff) + 1).toInt
            height = (((bits >> 14) & 0x3fff) + 1).toInt
            hasAlpha = ((bits >> 28) & 1) == 1
            format = "lossless"
            true
          }
        case "VP8X" =>
          size >= 10 && {
            hasAlpha = (b(body) & 0x10) != 0
            width = le24(b, body + 4) + 1
            height = le24(b, body + 7) + 1
            format = "extended"
            true
          }
        case "ALPH" => true // alpha payload: entropy-coded, seam
        case _ => false
      })
    }
    // the chunks (odd ones padded) must tile the RIFF body exactly
    if (end != b.length || format == null || width <= 0) return None
    Some(WebpMeta(id, format, width, height, riffSize, hasAlpha))
  }

  /** Deterministic WebP fixture rotating the three layouts; the
    * extended variant embeds an ALPH chunk (when flagged) and a lossy
    * VP8 frame whose tag dimensions deliberately differ from the VP8X
    * canvas (a parser reading the wrong header diverges). Odd payload
    * sizes exercise RIFF padding. */
  def buildWebpPattern(id: Long): Array[Byte] = {
    val w = 16 + (id % 1000).toInt
    val h = 16 + ((id * 7) % 800).toInt
    def fill(n: Long): Array[Byte] =
      Array.tabulate[Byte](n.toInt)(j => (0x20 | ((id + j) % 0x5f)).toByte)
    def vp8Body(wd: Int, ht: Int): Array[Byte] = // keyframe tag, start code
      u8s(0x00, 0x00, 0x00, 0x9d, 0x01, 0x2a, wd, (wd >> 8) & 0x3f, ht,
        (ht >> 8) & 0x3f) ++ fill(11 + id % 30) // odd sizes occur
    val chunks: Seq[(String, Array[Byte])] = (id % 3) match {
      case 0 => Seq("VP8 " -> vp8Body(w, h))
      case 1 =>
        val bits = ((w - 1) & 0x3fff) | ((h - 1) & 0x3fff) << 14 |
          ((id % 2) << 28).toInt
        Seq("VP8L" -> ((0x2f.toByte +: bytes(4,
          java.nio.ByteOrder.LITTLE_ENDIAN)(_.putInt(bits))) ++
          fill(10 + id % 31)))
      case _ =>
        val alpha = id % 2 == 0
        val wm1 = w - 1; val hm1 = h - 1
        Seq("VP8X" -> u8s(if (alpha) 0x10 else 0x00, 0, 0, 0, // reserved
          wm1, wm1 >> 8, wm1 >> 16, hm1, hm1 >> 8, hm1 >> 16)) ++
          (if (alpha) Seq("ALPH" -> fill(5 + id % 10)) else Nil) :+
          // embedded frame carries DIFFERENT dims than the canvas
          ("VP8 " -> vp8Body(w / 2 + 1, h / 2 + 1))
    }
    riff("WEBP", chunks)
  }

  // ------------------------------------------- VP8L lossless pixels

  /** REAL WebP-lossless (VP8L) pixel decode — the entropy-coded layer
    * behind what [[parseWebpMeta]] stops at. Implemented from the
    * public "WebP Lossless Bitstream Specification": LSB-first bit
    * reading, canonical prefix codes read MSB-of-code-first — both the
    * code-length-coded form (3-bit code-length-code lengths in the
    * fixed symbol order, repeat codes 16/17/18, the optional
    * max_symbol short-circuit) and the 1/2-symbol "simple" form — the
    * five-tree group (green+length+cache / red / blue / alpha /
    * distance), LZ77 backward references with the shared prefix-coded
    * value scheme and the 120-entry 2D distance neighborhood map, the
    * color cache (0x1e35a7bd multiplicative hash), and the
    * subtract-green transform. Out of the builders' profile (→ None):
    * the predictor / cross-color / color-indexing transforms and the
    * meta-prefix (entropy image) path — the fixture never emits them,
    * and a file carrying them fails loudly instead of drifting. */
  final case class WebplPixels(id: Long, width: Int, height: Int,
      meanR: Double, meanG: Double, meanB: Double, topRowMean: Double)

  private[operators] object Vp8l {
    /** Code-length-code symbol order (spec §"Decoding the Code Lengths"). */
    val CodeLengthOrder: Array[Int] =
      Array(17, 18, 0, 1, 2, 3, 4, 5, 16, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15)

    /** Distance codes 1..120 map to 2D pixel-neighborhood offsets
      * (dx, dy); plain distances continue above 120. Table from the
      * spec's distance-mapping section (dist = dy·xsize + dx, min 1).
      * The gate fixture pins plain codes; entries 0-1 are additionally
      * spec-pinned in ScalaTest via hand-built streams. */
    val DistanceMap: Array[(Int, Int)] = Array(
      (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
      (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
      (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
      (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
      (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
      (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
      (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
      (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
      (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
      (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
      (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
      (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
      (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
      (-6, 6), (2, 8), (-2, 8), (8, 3), (-8, 3), (5, 7), (-5, 7), (7, 5),
      (-7, 5), (8, 4), (3, 8), (-3, 8), (8, 5), (4, 8), (-4, 8), (8, 6),
      (5, 8), (-5, 8))

    /** The shared length/distance prefix-value scheme: code < 4 →
      * value code+1; else extra = (code-2)>>1 bits follow the code. */
    def prefixExtraBits(code: Int): Int = if (code < 4) 0 else (code - 2) >> 1
    def prefixOffset(code: Int): Int =
      if (code < 4) code + 1 else ((2 + (code & 1)) << prefixExtraBits(code)) + 1
    /** Encoder side: value → (code, extraBits, extraValue). */
    def prefixEncode(v: Int): (Int, Int, Int) = {
      require(v >= 1)
      val t = v - 1
      if (t < 4) (t, 0, 0)
      else {
        val hb = 31 - Integer.numberOfLeadingZeros(t)
        val eb = hb - 1
        val second = (t >>> eb) & 1 // t ∈ [2·2^eb, 4·2^eb): selects 2 vs 3
        val code = 2 * eb + second + 2
        (code, eb, t - ((2 + second) << eb))
      }
    }

    def cacheHash(argb: Int, cacheBits: Int): Int =
      (((0x1e35a7bdL * (argb & 0xffffffffL)) & 0xffffffffL) >>>
        (32 - cacheBits)).toInt

    // ---- predictor-transform arithmetic (spec pseudocode, exact) ----

    /** Per-channel modular add / subtract of two packed ARGB pixels. */
    def addPixels(a: Int, b: Int): Int =
      (((a & 0xff00ff00) + (b & 0xff00ff00)) & 0xff00ff00.toInt) |
        (((a & 0x00ff00ff) + (b & 0x00ff00ff)) & 0x00ff00ff)
    def subPixels(a: Int, b: Int): Int = {
      def ch(sh: Int): Int =
        ((((a >>> sh) & 0xff) - ((b >>> sh) & 0xff)) & 0xff) << sh
      ch(24) | ch(16) | ch(8) | ch(0)
    }

    /** Per-byte floor average (the spec's Average2). */
    def average2(a: Int, b: Int): Int =
      (((a ^ b) & 0xfefefefe) >>> 1) + (a & b)

    private def clamp255(v: Int): Int =
      if (v < 0) 0 else if (v > 255) 255 else v

    private def select(l: Int, t: Int, tl: Int): Int = {
      // Manhattan distance of L and T to the L+T-TL estimate
      var pL = 0; var pT = 0
      var sh = 0
      while (sh < 32) {
        val cl = (l >>> sh) & 0xff; val ct = (t >>> sh) & 0xff
        val p = cl + ct - ((tl >>> sh) & 0xff)
        pL += math.abs(p - cl); pT += math.abs(p - ct)
        sh += 8
      }
      if (pL < pT) l else t
    }

    private def clampAddSubtractFull(a: Int, b: Int, c: Int): Int = {
      def ch(sh: Int): Int = clamp255(((a >>> sh) & 0xff) +
        ((b >>> sh) & 0xff) - ((c >>> sh) & 0xff)) << sh
      ch(24) | ch(16) | ch(8) | ch(0)
    }

    private def clampAddSubtractHalf(a: Int, b: Int): Int = {
      // per channel: clamp(a + (a - b) / 2), division truncating to 0
      def ch(sh: Int): Int = {
        val av = (a >>> sh) & 0xff; val bv = (b >>> sh) & 0xff
        clamp255(av + (av - bv) / 2) << sh
      }
      ch(24) | ch(16) | ch(8) | ch(0)
    }

    /** Predictor mode 0-13 at flat index `i` (interior pixels: x > 0,
      * y > 0). Neighbors address the FLAT array, so the top-right of a
      * rightmost pixel is the current row's first pixel — the spec's
      * one-dimensional addressing. Shared verbatim by the encoder (on
      * true pixels) and the decoder (on reconstructed ones). */
    def predictPixel(px: Array[Int], i: Int, w: Int, mode: Int): Int = {
      def L = px(i - 1); def T = px(i - w)
      def TL = px(i - w - 1); def TR = px(i - w + 1)
      mode match {
        case 0 => 0xff000000
        case 1 => L
        case 2 => T
        case 3 => TR
        case 4 => TL
        case 5 => average2(average2(L, TR), T)
        case 6 => average2(L, TL)
        case 7 => average2(L, T)
        case 8 => average2(TL, T)
        case 9 => average2(T, TR)
        case 10 => average2(average2(L, TL), average2(T, TR))
        case 11 => select(L, T, TL)
        case 12 => clampAddSubtractFull(L, T, TL)
        case 13 => clampAddSubtractHalf(average2(L, T), TL)
        case _ =>
          throw new IllegalArgumentException(s"bad predictor mode $mode")
      }
    }

    /** A VP8L read: LSB-first; running out of input is corruption
      * (IllegalArgumentException, which [[decodeVp8l]] maps to None). */
    def bits(br: BitReader, n: Int): Int = {
      val v = br.read(n)
      if (v < 0) throw new IllegalArgumentException("VP8L overrun")
      v.toInt
    }

    /** One symbol; a one-symbol code reads no bits (spec: simple codes
      * may carry one symbol). */
    def readSym(p: PrefixCode, br: BitReader): Int =
      if (p.single >= 0) p.single
      else {
        val s = p.decode(br)
        if (s < 0) throw new IllegalArgumentException("bad prefix code word")
        s
      }

    /** A tree the spec admits: Kraft-complete, or a single symbol. */
    def tree(lengths: Array[Int]): PrefixCode = {
      val p = new PrefixCode(lengths)
      if (p.single < 0 && !p.complete)
        throw new IllegalArgumentException("prefix code not complete")
      p
    }

    /** Encoder side: a 1-symbol simple tree (8-bit symbol form). */
    def writeSimple1(bw: BitWriter, sym: Int): Unit = {
      bw.write(1, 1) // simple
      bw.write(0, 1) // one symbol
      bw.write(1, 1) // 8-bit symbol
      bw.write(sym.toLong, 8)
    }

    /** Encoder side: a code-length-coded tree whose lengths form runs
      * of ≤ 2 distinct nonzero values — written with the {lengths, 16}
      * code-length code and repeat-16 runs. */
    def writeLens(bw: BitWriter, lens: Array[Int]): Unit = {
      bw.write(0, 1) // not simple
      val used = lens.distinct.sorted
      require(used.nonEmpty && used.size <= 2 && used.forall(_ > 0))
      val clLens = new Array[Int](19)
      clLens(16) = 1
      if (used.size == 1) clLens(used.head) = 1
      else { clLens(used(0)) = 2; clLens(used(1)) = 2 }
      val clTree = new PrefixCode(clLens)
      val maxPos = CodeLengthOrder.indices
        .filter(i => clLens(CodeLengthOrder(i)) > 0).max
      val total = math.max(4, maxPos + 1)
      bw.write((total - 4).toLong, 4)
      (0 until total).foreach(i =>
        bw.write(clLens(CodeLengthOrder(i)).toLong, 3))
      bw.write(0, 1) // no max_symbol
      var i = 0
      var prev = -1
      while (i < lens.length) {
        if (lens(i) == prev) {
          var run = 0
          while (i + run < lens.length && lens(i + run) == prev && run < 6)
            run += 1
          if (run >= 3) {
            bw.writeCode(clTree.codes(16), clLens(16))
            bw.write((run - 3).toLong, 2)
            i += run
          } else {
            bw.writeCode(clTree.codes(lens(i)), clLens(lens(i)))
            i += 1
          }
        } else {
          prev = lens(i)
          bw.writeCode(clTree.codes(lens(i)), clLens(lens(i)))
          i += 1
        }
      }
    }

    /** A complete two-level length split over `n` symbols: as many
      * `short`-bit codes as Kraft allows, the rest one bit longer. */
    def splitLens(n: Int, short: Int): Array[Int] = {
      // a codes at `short`, b at short+1: a·2 + b = 2^(short+1), a+b = n
      val a = (1 << (short + 1)) - n
      require(a >= 0 && a <= n, s"no complete ($short, ${short + 1}) split for $n")
      Array.tabulate(n)(i => if (i < a) short else short + 1)
    }

    /** Read one tree: the simple form or the code-length-coded form
      * (spec §"Decoding of Meta Prefix Codes"). */
    def readTree(br: BitReader, alphabetSize: Int): PrefixCode = {
      val lengths = new Array[Int](alphabetSize)
      if (bits(br, 1) == 1) { // simple
        val numSymbols = bits(br, 1) + 1
        val first8 = bits(br, 1) == 1
        val s0 = if (first8) bits(br, 8) else bits(br, 1)
        if (s0 >= alphabetSize)
          throw new IllegalArgumentException("simple symbol out of range")
        if (numSymbols == 1) lengths(s0) = 1
        else {
          val s1 = bits(br, 8)
          if (s1 >= alphabetSize || s1 == s0)
            throw new IllegalArgumentException("bad simple pair")
          lengths(s0) = 1; lengths(s1) = 1
        }
      } else {
        val clLens = new Array[Int](19)
        val numCl = 4 + bits(br, 4)
        var i = 0
        while (i < numCl) {
          clLens(CodeLengthOrder(i)) = bits(br, 3); i += 1
        }
        val clCode = tree(clLens)
        var maxSymbol =
          if (bits(br, 1) == 1) { // use_max_symbol
            val nbits = 2 + 2 * bits(br, 3)
            2 + bits(br, nbits)
          } else alphabetSize
        var sym = 0
        var prev = 8 // spec: initial previous code length
        while (sym < alphabetSize && maxSymbol > 0) {
          maxSymbol -= 1
          val s = readSym(clCode, br)
          if (s < 16) {
            lengths(sym) = s; sym += 1
            if (s != 0) prev = s
          } else {
            val (repeat, value) = s match {
              case 16 => (3 + bits(br, 2), prev)
              case 17 => (3 + bits(br, 3), 0)
              case _ => (11 + bits(br, 7), 0)
            }
            if (sym + repeat > alphabetSize)
              throw new IllegalArgumentException("length repeat overrun")
            var j = 0
            while (j < repeat) { lengths(sym) = value; sym += 1; j += 1 }
          }
        }
      }
      tree(lengths)
    }
  }

  /** One entropy-coded VP8L image (the spec's "spatially-coded image"):
    * its own color-cache bit, the meta-prefix bit when `level0` (a
    * meta-prefix entropy image selecting one of N five-tree groups per
    * block), the tree groups, then the literal / backward-reference /
    * cache-hit pixel loop. Used for the main ARGB image AND for
    * transform sub-images (predictor modes, cross-color elements, the
    * color-indexing palette). Throws IllegalArgumentException on
    * corruption; returns null on an out-of-profile construct. */
  private def decodeVp8lImage(br: BitReader, w: Int, h: Int,
                              level0: Boolean): Array[Int] = {
    import Vp8l.{readTree, prefixOffset, prefixExtraBits, cacheHash,
      DistanceMap, bits, readSym}
    val cacheBits = if (bits(br, 1) == 1) bits(br, 4) else 0
    if (cacheBits > 11) return null
    // meta-prefix: a sub-image whose (red<<8|green) picks the tree
    // group for each `metaBits`-sized block of the main image
    var metaBits = 0; var metaTw = 0
    var metaIdx: Array[Int] = null
    if (level0 && bits(br, 1) == 1) {
      metaBits = bits(br, 3) + 2
      metaTw = (w + (1 << metaBits) - 1) >> metaBits
      val mh = (h + (1 << metaBits) - 1) >> metaBits
      val sub = decodeVp8lImage(br, metaTw, mh, level0 = false)
      if (sub == null) return null
      metaIdx = sub.map(p => (p >>> 8) & 0xffff)
    }
    val cacheSize = if (cacheBits > 0) 1 << cacheBits else 0
    final class Group {
      val green = readTree(br, 256 + 24 + cacheSize)
      val red = readTree(br, 256)
      val blue = readTree(br, 256)
      val alpha = readTree(br, 256)
      val dist = readTree(br, 40)
    }
    val numGroups = if (metaIdx == null) 1 else metaIdx.max + 1
    if (numGroups > 256) return null // sanity: fixture profile bound
    val groups = Array.fill(numGroups)(new Group)
    val n = w * h
    val px = new Array[Int](n)
    val cache = new Array[Int](math.max(cacheSize, 1))
    def insert(argb: Int): Unit =
      if (cacheBits > 0) cache(cacheHash(argb, cacheBits)) = argb
    var pos = 0
    while (pos < n) {
      val g =
        if (metaIdx == null) groups(0)
        else groups(metaIdx(
          ((pos / w) >> metaBits) * metaTw + ((pos % w) >> metaBits)))
      val green = g.green; val red = g.red; val blue = g.blue
      val alpha = g.alpha; val dist = g.dist
      val s = readSym(green, br)
      if (s < 256) {
        val r = readSym(red, br); val bl = readSym(blue, br)
        val a = readSym(alpha, br)
        val argb = (a << 24) | (r << 16) | (s << 8) | bl
        px(pos) = argb; insert(argb); pos += 1
      } else if (s < 280) {
        val lc = s - 256
        // prefix value = offset (already includes the +1) + extra bits
        val length = prefixOffset(lc) + bits(br, prefixExtraBits(lc))
        val ds = readSym(dist, br)
        val distCode = prefixOffset(ds) + bits(br, prefixExtraBits(ds))
        val d0 =
          if (distCode > 120) distCode - 120
          else {
            val (dx, dy) = DistanceMap(distCode - 1)
            math.max(1, dy * w + dx)
          }
        if (d0 > pos || length < 1 || pos + length > n)
          throw new IllegalArgumentException("VP8L bad backward reference")
        var j = 0
        while (j < length) {
          val v = px(pos - d0)
          px(pos) = v; insert(v); pos += 1; j += 1
        }
      } else {
        val idx = s - 280
        if (idx >= cacheSize)
          throw new IllegalArgumentException("VP8L bad cache index")
        val v = cache(idx)
        px(pos) = v; pos += 1
      }
    }
    px
  }

  /** Decode one VP8L stream (the body of a VP8L RIFF chunk, signature
    * byte included) to ARGB pixels, or None when the file is corrupt.
    * Full spec coverage: all FOUR transforms — subtract-green,
    * predictor (all 14 modes, spec edge rules, flat-array top-right
    * addressing), cross-color (signed 3.5 fixed-point per-block
    * multipliers) and color-indexing (delta-coded palette, pixel
    * bundling at 1/2/4/8 px per byte) — plus the meta-prefix entropy
    * image (per-block five-tree group selection). */
  private[operators] def decodeVp8l(b: Array[Byte])
      : Option[(Int, Int, Array[Int])] =
    try {
      import Vp8l._
      if (b.length < 5 || (b(0) & 0xff) != 0x2f) return None
      val br = new BitReader(b, 1, msbFirst = false)
      val w = bits(br, 14) + 1
      val h = bits(br, 14) + 1
      bits(br, 1) // alpha hint
      if (bits(br, 3) != 0) return None // version must be 0
      // transforms, in read order; inverses apply in REVERSE read order
      sealed trait T
      case object SubGreen extends T
      final case class Pred(sizeBits: Int, tw: Int, modes: Array[Int])
        extends T
      final case class Cross(sizeBits: Int, tw: Int, elems: Array[Int])
        extends T
      final case class ColorIdx(palette: Array[Int], widthBits: Int)
        extends T
      val transforms = scala.collection.mutable.ListBuffer.empty[T]
      var imgW = w // color-indexing bundles pixels: the coded width shrinks
      var reading = true
      while (reading) {
        if (bits(br, 1) == 0) reading = false
        else bits(br, 2) match {
          case 0 => // predictor: block-size bits + a mode sub-image
            val sizeBits = bits(br, 3) + 2
            val tw = (imgW + (1 << sizeBits) - 1) >> sizeBits
            val th = (h + (1 << sizeBits) - 1) >> sizeBits
            val sub = decodeVp8lImage(br, tw, th, level0 = false)
            if (sub == null) return None
            transforms += Pred(sizeBits, tw, sub.map(p => (p >>> 8) & 0xff))
          case 1 => // cross-color: block-size bits + element sub-image
            val sizeBits = bits(br, 3) + 2
            val tw = (imgW + (1 << sizeBits) - 1) >> sizeBits
            val th = (h + (1 << sizeBits) - 1) >> sizeBits
            val sub = decodeVp8lImage(br, tw, th, level0 = false)
            if (sub == null) return None
            transforms += Cross(sizeBits, tw, sub)
          case 2 => transforms += SubGreen
          case 3 => // color indexing: delta-coded palette row
            val nColors = bits(br, 8) + 1
            val stored = decodeVp8lImage(br, nColors, 1, level0 = false)
            if (stored == null) return None
            val pal = new Array[Int](nColors)
            var i = 0
            var prev = 0
            while (i < nColors) { // per-channel cumulative sum
              val s0 = stored(i)
              val v = (((prev & 0xff00ff00) + (s0 & 0xff00ff00)) &
                0xff00ff00) |
                (((prev & 0x00ff00ff) + (s0 & 0x00ff00ff)) & 0x00ff00ff)
              pal(i) = v; prev = v; i += 1
            }
            val wb =
              if (nColors <= 2) 3 else if (nColors <= 4) 2
              else if (nColors <= 16) 1 else 0
            transforms += ColorIdx(pal, wb)
            imgW = (w + (1 << wb) - 1) >> wb
          case _ => return None // cross-color: out of profile
        }
      }
      var px = decodeVp8lImage(br, imgW, h, level0 = true)
      if (px == null) return None
      var curW = imgW
      transforms.reverseIterator.foreach {
        case ColorIdx(pal, wb) =>
          val bitsPp = 8 >> wb
          val mask = (1 << bitsPp) - 1
          val full = new Array[Int](w * h)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val packed = (px(y * curW + (x >> wb)) >>> 8) & 0xff
              val idx = (packed >>> ((x & ((1 << wb) - 1)) * bitsPp)) & mask
              full(y * w + x) = if (idx < pal.length) pal(idx) else 0
              x += 1
            }
            y += 1
          }
          px = full; curW = w
        case SubGreen =>
          var i = 0
          while (i < px.length) {
            val p = px(i)
            val g = (p >>> 8) & 0xff
            val r = (((p >>> 16) & 0xff) + g) & 0xff
            val bl = ((p & 0xff) + g) & 0xff
            px(i) = (p & 0xff00ff00) | (r << 16) | bl
            i += 1
          }
        case Cross(sizeBits, tw, elems) =>
          // Element pixel channels (spec): blue = green_to_red,
          // green = green_to_blue, red = red_to_blue. Deltas are
          // SIGNED 3.5 fixed-point products: (int8 * int8) >> 5.
          var i = 0
          while (i < px.length) {
            val m = elems(((i / curW) >> sizeBits) * tw +
              ((i % curW) >> sizeBits))
            val g2r = (m & 0xff).toByte
            val g2b = ((m >>> 8) & 0xff).toByte
            val r2b = ((m >>> 16) & 0xff).toByte
            val p = px(i)
            val g = ((p >>> 8) & 0xff).toByte
            val nr = (((p >>> 16) & 0xff) + ((g2r * g) >> 5)) & 0xff
            val nb = ((p & 0xff) + ((g2b * g) >> 5) +
              ((r2b * nr.toByte) >> 5)) & 0xff
            px(i) = (p & 0xff00ff00) | (nr << 16) | nb
            i += 1
          }
        case Pred(sizeBits, tw, modes) =>
          var i = 0
          val n = px.length
          while (i < n) {
            val x = i % curW; val y = i / curW
            val pred =
              if (i == 0) 0xff000000
              else if (y == 0) px(i - 1)    // row 0: left
              else if (x == 0) px(i - curW) // column 0: top
              else predictPixel(px, i, curW,
                modes((y >> sizeBits) * tw + (x >> sizeBits)))
            px(i) = addPixels(px(i), pred)
            i += 1
          }
      }
      Some((w, h, px))
    } catch { case _: IllegalArgumentException => None }

  /** Full-file VP8L pixel walk: RIFF → VP8L chunk → [[decodeVp8l]] →
    * channel means (the same reduction every image gate publishes). */
  def parseWebplPixels(id: Long, b: Array[Byte]): Option[WebplPixels] = {
    val meta = parseWebpMeta(id, b).getOrElse(return None)
    if (meta.format != "lossless") return None
    // the VP8L chunk body (parseWebpMeta verified every chunk's bounds)
    var body: Array[Byte] = null
    riffWalk(b, 12) { (fourcc, at, size) =>
      if (fourcc == "VP8L")
        body = java.util.Arrays.copyOfRange(b, at, at + size.toInt)
      body == null
    }
    if (body == null) return None
    val (w, h, px) = decodeVp8l(body).getOrElse(return None)
    if (w != meta.width || h != meta.height) return None
    var sr = 0L; var sg = 0L; var sb = 0L; var top = 0L
    var i = 0
    while (i < px.length) {
      val p = px(i)
      val r = (p >>> 16) & 0xff; val g = (p >>> 8) & 0xff
      val bl = p & 0xff
      sr += r; sg += g; sb += bl
      if (i < w) top += r + g + bl
      i += 1
    }
    val n = (w * h).toDouble
    Some(WebplPixels(id, w, h, sr / n, sg / n, sb / n, top / (3.0 * w)))
  }

  /** Deterministic VP8L encoder (fixture side): pixel (x, y) has
    * ci = (x + 7y + id) mod 256 → ARGB (255, (5ci) mod 251, ci,
    * (3ci) mod 253), stored with the subtract-green transform. Row 0
    * is literal/cache-coded; every later row is one LZ77 copy of
    * length w-7 at distance w-7 (pixel (x, y) equals (x+7, y-1) under
    * the pattern) followed by 7 literal/cache pixels — so literals,
    * backward references with extra bits, and color-cache hits all
    * occur in every image. Trees: green is code-length-coded over the
    * full 344-symbol alphabet (168×8 + 176×9 bits, repeat-16 runs),
    * red/blue are code-length-coded 256×8, alpha and distance are
    * 1-symbol simple codes. */
  def buildWebplPixelFile(id: Long, nChars: Long): Array[Byte] = {
    import Vp8l._
    val w = 10 + (nChars % 40).toInt
    val h = 2 + (nChars % 20).toInt
    val cacheBits = 6
    def argbAt(x: Int, y: Int): Int = {
      val ci = ((x + 7 * y + id) % 256).toInt
      val r = (5 * ci) % 251; val g = ci; val b = (3 * ci) % 253
      // subtract-green stored form
      (0xff << 24) | (((r - g) & 0xff) << 16) | (g << 8) | ((b - g) & 0xff)
    }
    val greenLens = splitLens(256 + 24 + (1 << cacheBits), 8)
    val byteLens = Array.fill(256)(8)
    val greenTree = new PrefixCode(greenLens)
    val byteTree = new PrefixCode(byteLens)
    val bw = new BitWriter(msbFirst = false)
    bw.write((w - 1).toLong, 14); bw.write((h - 1).toLong, 14)
    bw.write(0, 1); bw.write(0, 3) // no alpha hint, version 0
    bw.write(1, 1); bw.write(2, 2) // transform: subtract-green
    bw.write(0, 1)                 // no more transforms
    bw.write(1, 1); bw.write(cacheBits.toLong, 4)
    bw.write(0, 1)                 // no meta-prefix image
    writeLens(bw, greenLens)
    writeLens(bw, byteLens); writeLens(bw, byteLens) // red, blue
    val (dCode, dBits, dExtra) = prefixEncode((w - 7) + 120)
    writeSimple1(bw, 255)   // alpha
    writeSimple1(bw, dCode) // distance: the one code every copy uses
    // pixel stream
    val cache = new Array[Int](1 << cacheBits)
    val seen = new Array[Boolean](1 << cacheBits)
    def emitPixel(argb: Int): Unit = {
      val hsh = cacheHash(argb, cacheBits)
      if (seen(hsh) && cache(hsh) == argb) {
        val sym = 280 + hsh
        bw.writeCode(greenTree.codes(sym), greenLens(sym))
      } else {
        val g = (argb >>> 8) & 0xff
        bw.writeCode(greenTree.codes(g), greenLens(g))
        bw.writeCode(byteTree.codes((argb >>> 16) & 0xff), 8)
        bw.writeCode(byteTree.codes(argb & 0xff), 8)
        // alpha: single-symbol tree, zero bits
        cache(hsh) = argb; seen(hsh) = true
      }
    }
    def insertOnly(argb: Int): Unit = {
      val hsh = cacheHash(argb, cacheBits)
      cache(hsh) = argb; seen(hsh) = true
    }
    val (lCode, lBits, lExtra) = prefixEncode(w - 7)
    for (y <- 0 until h) {
      if (y == 0) (0 until w).foreach(x => emitPixel(argbAt(x, 0)))
      else {
        // one backward reference: length w-7 at distance w-7
        val sym = 256 + lCode
        bw.writeCode(greenTree.codes(sym), greenLens(sym))
        bw.write(lExtra.toLong, lBits)
        // distance: single-symbol tree (zero bits) + extra bits
        bw.write(dExtra.toLong, dBits)
        (0 until (w - 7)).foreach(x => insertOnly(argbAt(x, y)))
        ((w - 7) until w).foreach(x => emitPixel(argbAt(x, y)))
      }
    }
    webplContainer(bw.toBytes)
  }

  /** Wrap a raw VP8L entropy stream into RIFF/WEBP/VP8L framing. */
  private def webplContainer(stream: Array[Byte]): Array[Byte] =
    riff("WEBP", Seq("VP8L" -> (0x2f.toByte +: stream)))

  /** One literal-coded entropy image: green channel from `greens`
    * through a code-length-coded tree over `alphabet` symbols; red /
    * blue / alpha per pixel from the given channel functions, each
    * either a 1-symbol simple tree (when constant) or the 256×8
    * table. Writes trees + pixels ONLY — the cache bit (and, for the
    * main image, the meta-prefix bit) belongs to the caller. */
  private def writeLiteralImage(bw: BitWriter, greens: Array[Int],
      alphabet: Int, red: Int => Int, blue: Int => Int,
      alpha: Int => Int, constRba: Option[(Int, Int, Int)]): Unit = {
    import Vp8l._
    val greenLens = splitLens(alphabet, 8)
    val greenTree = new PrefixCode(greenLens)
    val byteLens = Array.fill(256)(8)
    val byteTree = new PrefixCode(byteLens)
    writeLens(bw, greenLens)
    constRba match {
      case Some((r, b, a)) =>
        writeSimple1(bw, r); writeSimple1(bw, b); writeSimple1(bw, a)
        writeSimple1(bw, 0) // distance: never used (literals only)
        greens.foreach(g => bw.writeCode(greenTree.codes(g), greenLens(g)))
      case None =>
        writeLens(bw, byteLens); writeLens(bw, byteLens)
        writeLens(bw, byteLens)
        writeSimple1(bw, 0)
        greens.indices.foreach { i =>
          val g = greens(i)
          bw.writeCode(greenTree.codes(g), greenLens(g))
          bw.writeCode(byteTree.codes(red(i)), 8)
          bw.writeCode(byteTree.codes(blue(i)), 8)
          bw.writeCode(byteTree.codes(alpha(i)), 8)
        }
    }
  }

  /** Deterministic VP8L COLOR-INDEXING fixture: K = 2 + id mod 15
    * palette colors (so the bundled widths 8/4/2 px-per-byte all
    * rotate), palette entry j = (255, (37j+id) mod 256,
    * (11j+3id) mod 256, (53j+7id) mod 256), pixel index
    * (x + 7y + id) mod K. The palette row is DELTA-coded per spec;
    * the packed index image stores 1 << widthBits indices per green
    * byte. */
  def buildWebplPaletteFile(id: Long, nChars: Long): Array[Byte] = {
    import Vp8l._
    val w = 7 + (nChars % 29).toInt
    val h = 2 + (nChars % 13).toInt
    val k = 2 + (id % 15).toInt
    def palR(j: Int): Int = ((37 * j + id) % 256).toInt
    def palG(j: Int): Int = ((11 * j + 3 * id) % 256).toInt
    def palB(j: Int): Int = ((53 * j + 7 * id) % 256).toInt
    val palette = Array.tabulate(k)(j =>
      (0xff << 24) | (palR(j) << 16) | (palG(j) << 8) | palB(j))
    val wb = if (k <= 2) 3 else if (k <= 4) 2 else 1 // k ≤ 16 always
    val bitsPp = 8 >> wb
    val subW = (w + (1 << wb) - 1) >> wb
    val bw = new BitWriter(msbFirst = false)
    bw.write((w - 1).toLong, 14); bw.write((h - 1).toLong, 14)
    bw.write(0, 1); bw.write(0, 3)
    bw.write(1, 1); bw.write(3, 2)        // transform: color indexing
    bw.write((k - 1).toLong, 8)
    // the delta-coded palette row as its own literal entropy image
    val deltas = Array.tabulate(k)(j =>
      if (j == 0) palette(0) else subPixels(palette(j), palette(j - 1)))
    bw.write(0, 1) // palette sub-image: no cache
    writeLiteralImage(bw, deltas.map(p => (p >>> 8) & 0xff), 280,
      i => (deltas(i) >>> 16) & 0xff, i => deltas(i) & 0xff,
      i => (deltas(i) >>> 24) & 0xff, constRba = None)
    bw.write(0, 1) // no more transforms
    // the packed index image (greens carry the bundled indices)
    val packed = new Array[Int](subW * h)
    for (y <- 0 until h; x <- 0 until w) {
      val idx = ((x + 7 * y + id) % k).toInt
      val p = y * subW + (x >> wb)
      packed(p) |= idx << ((x & ((1 << wb) - 1)) * bitsPp)
    }
    bw.write(0, 1) // main image: no cache
    bw.write(0, 1) // no meta-prefix image
    writeLiteralImage0(bw, packed, 280)
    webplContainer(bw.toBytes)
  }

  /** Literal image with constant r=0, b=0, a=255 channels — the packed
    * index / predictor-mode sub-image shape (only green carries data).
    * NOTE: writes trees + pixels only (cache/meta bits are the
    * caller's, since sub-images have no meta bit). */
  private def writeLiteralImage0(bw: BitWriter, greens: Array[Int],
                                 alphabet: Int): Unit = {
    import Vp8l._
    val greenLens = splitLens(alphabet, 8)
    val greenTree = new PrefixCode(greenLens)
    writeLens(bw, greenLens)
    writeSimple1(bw, 0); writeSimple1(bw, 0) // red, blue
    writeSimple1(bw, 255)                    // alpha
    writeSimple1(bw, 0)                      // distance (unused)
    greens.foreach(g => bw.writeCode(greenTree.codes(g), greenLens(g)))
  }

  /** Deterministic VP8L PREDICTOR fixture: the mm_webpl_pixels pattern
    * stored as per-pixel residuals against a 4×4-block predictor image
    * whose mode rotates (bx + by + id) mod 14 — every one of the 14
    * spec predictors appears across the corpus, with the spec edge
    * rules (top-left black, row 0 left, column 0 top) and flat-array
    * top-right addressing exercised on every image. */
  def buildWebplPredictFile(id: Long, nChars: Long): Array[Byte] = {
    import Vp8l._
    val w = 8 + (nChars % 21).toInt
    val h = 3 + (nChars % 17).toInt
    val sizeBits = 2 // 4×4 blocks
    val tw = (w + 3) >> 2; val th = (h + 3) >> 2
    val truth = Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      val ci = ((x + 7 * y + id) % 256).toInt
      (0xff << 24) | (((5 * ci) % 251) << 16) | (ci << 8) | ((3 * ci) % 253)
    }
    val modes = Array.tabulate(tw * th) { bi =>
      ((bi % tw + bi / tw + id) % 14).toInt
    }
    val residuals = Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      val pred =
        if (i == 0) 0xff000000
        else if (y == 0) truth(i - 1)
        else if (x == 0) truth(i - w)
        else predictPixel(truth, i, w,
          modes((y >> sizeBits) * tw + (x >> sizeBits)))
      subPixels(truth(i), pred)
    }
    val bw = new BitWriter(msbFirst = false)
    bw.write((w - 1).toLong, 14); bw.write((h - 1).toLong, 14)
    bw.write(0, 1); bw.write(0, 3)
    bw.write(1, 1); bw.write(0, 2)          // transform: predictor
    bw.write((sizeBits - 2).toLong, 3)
    bw.write(0, 1) // mode sub-image: no cache
    writeLiteralImage0(bw, modes, 280)
    bw.write(0, 1) // no more transforms
    bw.write(0, 1) // main image: no cache
    bw.write(0, 1) // no meta-prefix image
    writeLiteralImage(bw, residuals.map(p => (p >>> 8) & 0xff), 280,
      i => (residuals(i) >>> 16) & 0xff, i => residuals(i) & 0xff,
      i => (residuals(i) >>> 24) & 0xff, constRba = None)
    webplContainer(bw.toBytes)
  }

  /** Deterministic VP8L CROSS-COLOR fixture: the truth pattern
    * ci = (x + 3y + id) mod 256 → (255, (11ci) mod 255, ci,
    * (7ci) mod 249) is stored as residuals under per-4×4-block
    * ColorTransformElements that sweep the FULL signed byte range —
    * g2r = (13·bi + id) mod 256, g2b = (19·bi + 3id) mod 256,
    * r2b = (23·bi + 7id) mod 256 — so the signed 3.5 fixed-point
    * products ((int8·int8) >> 5, arithmetic shift on negatives) are
    * exercised in every image; the element sub-image is its own
    * entropy image per spec (blue = g2r, green = g2b, red = r2b). */
  def buildWebplCrossFile(id: Long, nChars: Long): Array[Byte] = {
    import Vp8l._
    val w = 6 + (nChars % 23).toInt
    val h = 3 + (nChars % 19).toInt
    val sizeBits = 2
    val tw = (w + 3) >> 2; val th = (h + 3) >> 2
    def ctDelta(t: Int, c: Int): Int = (t.toByte * c.toByte) >> 5
    val truth = Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      val ci = ((x + 3 * y + id) % 256).toInt
      (0xff << 24) | (((11 * ci) % 255) << 16) | (ci << 8) |
        ((7 * ci) % 249)
    }
    def g2r(bi: Int): Int = ((13 * bi + id) % 256).toInt
    def g2b(bi: Int): Int = ((19 * bi + 3 * id) % 256).toInt
    def r2b(bi: Int): Int = ((23 * bi + 7 * id) % 256).toInt
    // forward transform (spec encoder): subtract deltas, original red
    // feeds the red_to_blue term so decode's use of the RECOVERED red
    // round-trips exactly
    val residuals = Array.tabulate(w * h) { i =>
      val x = i % w; val y = i / w
      val bi = ((y >> sizeBits) * tw) + (x >> sizeBits)
      val p = truth(i)
      val g = (p >>> 8) & 0xff; val r = (p >>> 16) & 0xff
      val nr = (r - ctDelta(g2r(bi), g)) & 0xff
      val nb = ((p & 0xff) - ctDelta(g2b(bi), g) -
        ctDelta(r2b(bi), r)) & 0xff
      (p & 0xff00ff00) | (nr << 16) | nb
    }
    val bw = new BitWriter(msbFirst = false)
    bw.write((w - 1).toLong, 14); bw.write((h - 1).toLong, 14)
    bw.write(0, 1); bw.write(0, 3)
    bw.write(1, 1); bw.write(1, 2)          // transform: cross-color
    bw.write((sizeBits - 2).toLong, 3)
    bw.write(0, 1) // element sub-image: no cache
    val elems = Array.tabulate(tw * th)(bi =>
      (0xff << 24) | (r2b(bi) << 16) | (g2b(bi) << 8) | g2r(bi))
    writeLiteralImage(bw, elems.map(p => (p >>> 8) & 0xff), 280,
      i => (elems(i) >>> 16) & 0xff, i => elems(i) & 0xff,
      i => 0xff, constRba = None)
    bw.write(0, 1) // no more transforms
    bw.write(0, 1) // main image: no cache
    bw.write(0, 1) // no meta-prefix image
    writeLiteralImage(bw, residuals.map(p => (p >>> 8) & 0xff), 280,
      i => (residuals(i) >>> 16) & 0xff, i => residuals(i) & 0xff,
      i => 0xff, constRba = None)
    webplContainer(bw.toBytes)
  }

  /** Deterministic VP8L META-PREFIX fixture: 2 + id mod 3 five-tree
    * groups, the entropy image rotating the group index per 4×4 block
    * ((bx + by + id) mod N), each group's green code a DIFFERENT
    * rotation of the (8, 9)-bit split — decoding any block with the
    * wrong group's tree desynchronizes the stream, so the pattern
    * oracle is only reachable through correct per-block group
    * selection. Pattern: ci = (x + 11y + id) mod 256 →
    * (255, (7ci) mod 251, ci, (5ci) mod 241). */
  def buildWebplMetaFile(id: Long, nChars: Long): Array[Byte] = {
    import Vp8l._
    val w = 9 + (nChars % 19).toInt
    val h = 4 + (nChars % 11).toInt
    val metaBits = 2
    val tw = (w + 3) >> 2; val th = (h + 3) >> 2
    val numGroups = (2 + id % 3).toInt
    val groupOf = Array.tabulate(tw * th)(bi =>
      ((bi % tw + bi / tw + id) % numGroups).toInt)
    val base = splitLens(280, 8)
    // group g's green lengths: the same Kraft-complete length multiset,
    // rotated — different canonical codes per group
    val greenLens = Array.tabulate(numGroups)(g =>
      Array.tabulate(280)(sym => base((sym + 37 * g) % 280)))
    val greenTrees = greenLens.map(new PrefixCode(_))
    val byteLens = Array.fill(256)(8)
    val byteTree = new PrefixCode(byteLens)
    val bw = new BitWriter(msbFirst = false)
    bw.write((w - 1).toLong, 14); bw.write((h - 1).toLong, 14)
    bw.write(0, 1); bw.write(0, 3)
    bw.write(0, 1) // no transforms
    bw.write(0, 1) // no color cache
    bw.write(1, 1) // meta-prefix image present
    bw.write((metaBits - 2).toLong, 3)
    bw.write(0, 1) // entropy sub-image: no cache
    writeLiteralImage0(bw, groupOf, 280)
    // the N five-tree groups, in index order
    for (g <- 0 until numGroups) {
      writeLens(bw, greenLens(g))
      writeLens(bw, byteLens); writeLens(bw, byteLens) // red, blue
      writeSimple1(bw, 255)                            // alpha
      writeSimple1(bw, 0)                              // distance
    }
    for (i <- 0 until w * h) {
      val x = i % w; val y = i / w
      val g = groupOf((y >> metaBits) * tw + (x >> metaBits))
      val ci = ((x + 11 * y + id) % 256).toInt
      val green = ci
      bw.writeCode(greenTrees(g).codes(green), greenLens(g)(green))
      bw.writeCode(byteTree.codes((7 * ci) % 251), 8)
      bw.writeCode(byteTree.codes((5 * ci) % 241), 8)
    }
    webplContainer(bw.toBytes)
  }

  // --------------------------------------------------- Matroska/EBML

  /** Matroska container summary for the `mm_mkv_meta` gate. */
  final case class MkvMeta(id: Long, docType: String, tsScale: Long,
      durationMs: Long, nTracks: Int, vCodec: String, width: Int,
      height: Int, aCodec: String, channels: Int, sampleRate: Int,
      nBlocks: Int, blockBytes: Long)

  // EBML / Matroska element IDs (public: RFC 8794 + matroska.org spec)
  private[operators] object Mkv {
    val EBML = 0x1A45DFA3L; val DocType = 0x4282L
    val Segment = 0x18538067L
    val Info = 0x1549A966L; val TimestampScale = 0x2AD7B1L
    val Duration = 0x4489L; val MuxingApp = 0x4D80L
    val WritingApp = 0x5741L
    val Tracks = 0x1654AE6BL; val TrackEntry = 0xAEL
    val TrackNumber = 0xD7L; val TrackUID = 0x73C5L
    val TrackType = 0x83L; val CodecID = 0x86L
    val Video = 0xE0L; val PixelWidth = 0xB0L; val PixelHeight = 0xBAL
    val Audio = 0xE1L; val SamplingFrequency = 0xB5L; val Channels = 0x9FL
    val Cluster = 0x1F43B675L; val Timestamp = 0xE7L
    val SimpleBlock = 0xA3L
  }

  /** Real EBML walk (RFC 8794 vints: the ID keeps its marker bits, the
    * size strips them) over the Matroska document grammar a video
    * intake filters on: DocType, Info (TimestampScale + float
    * Duration), both TrackEntry branches (codec ids, video pixel dims,
    * audio float rate + channels), and the Cluster's SimpleBlocks
    * (whose frame payloads are entropy-coded and stay behind the
    * decoder seam — only their sizes are walked). Unknown elements
    * skip by size; unknown-size (all-ones) vints, truncation, or a
    * missing required element reject the stream. */
  def parseMkvMeta(id: Long, b: Array[Byte]): Option[MkvMeta] = {
    var pos = 0
    def readId(): Long = {
      val (v, width) = Ebml.vint(b, pos, keepMarker = true)
      if (width == 0 || width > 4) return -1
      pos += width
      v
    }
    def readSize(): Long = {
      val (v, width) = Ebml.vint(b, pos, keepMarker = false)
      if (width == 0) return -1
      pos += width
      // all-ones payload = "unknown size": not valid in this profile
      if (v == (1L << (7 * width)) - 1) -1 else v
    }
    def floatAt(from: Int, until: Int): Double = (until - from) match {
      case 4 => java.lang.Float.intBitsToFloat(beUint(b, from, until).toInt)
        .toDouble
      case 8 => java.lang.Double.longBitsToDouble(beUint(b, from, until))
      case _ => Double.NaN
    }
    var docType: String = null
    var tsScale = -1L; var duration = Double.NaN
    var nTracks = 0
    var vCodec: String = null; var width = -1; var height = -1
    var aCodec: String = null; var channels = -1; var sampleRate = -1.0
    var nBlocks = 0; var blockBytes = 0L
    var sawEbml = false; var sawSegment = false

    // per-TrackEntry state, buffered across the whole entry walk: EBML
    // fixes no child order, so a file ordering CodecID before TrackType
    // must still classify the codec — assignment happens AFTER the
    // TrackEntry's walk completes, not at the CodecID element
    var trackType = -1L
    var pendingCodec: String = null

    /** Walk one master element's children up to `end`; `ctx` selects
      * which child IDs are interpreted. Returns false on corruption. */
    def walk(end: Int, ctx: Long): Boolean = {
      while (pos < end) {
        val eid = readId()
        if (eid < 0) return false
        val size = readSize()
        if (size < 0) return false
        val body = pos
        val bodyEnd = body + size.toInt
        if (bodyEnd > end) return false
        (ctx, eid) match {
          case (0L, Mkv.EBML) =>
            sawEbml = true
            if (!walk(bodyEnd, Mkv.EBML)) return false
          case (0L, Mkv.Segment) =>
            sawSegment = true
            if (!walk(bodyEnd, Mkv.Segment)) return false
          case (Mkv.EBML, Mkv.DocType) =>
            docType = new String(b, body, size.toInt, "US-ASCII")
            pos = bodyEnd
          case (Mkv.Segment, Mkv.Info) | (Mkv.Segment, Mkv.Tracks) |
               (Mkv.Segment, Mkv.Cluster) =>
            if (!walk(bodyEnd, eid)) return false
          case (Mkv.Info, Mkv.TimestampScale) =>
            tsScale = beUint(b, body, bodyEnd); pos = bodyEnd
          case (Mkv.Info, Mkv.Duration) =>
            duration = floatAt(body, bodyEnd); pos = bodyEnd
          case (Mkv.Tracks, Mkv.TrackEntry) =>
            nTracks += 1
            trackType = -1L; pendingCodec = null
            if (!walk(bodyEnd, Mkv.TrackEntry)) return false
            if (pendingCodec != null) {
              if (trackType == 1) vCodec = pendingCodec
              else aCodec = pendingCodec
            }
          case (Mkv.TrackEntry, Mkv.TrackType) =>
            trackType = beUint(b, body, bodyEnd); pos = bodyEnd
          case (Mkv.TrackEntry, Mkv.CodecID) =>
            pendingCodec = new String(b, body, size.toInt, "US-ASCII")
            pos = bodyEnd
          case (Mkv.TrackEntry, Mkv.Video) =>
            if (!walk(bodyEnd, Mkv.Video)) return false
          case (Mkv.TrackEntry, Mkv.Audio) =>
            if (!walk(bodyEnd, Mkv.Audio)) return false
          case (Mkv.Video, Mkv.PixelWidth) =>
            width = beUint(b, body, bodyEnd).toInt; pos = bodyEnd
          case (Mkv.Video, Mkv.PixelHeight) =>
            height = beUint(b, body, bodyEnd).toInt; pos = bodyEnd
          case (Mkv.Audio, Mkv.SamplingFrequency) =>
            sampleRate = floatAt(body, bodyEnd); pos = bodyEnd
          case (Mkv.Audio, Mkv.Channels) =>
            channels = beUint(b, body, bodyEnd).toInt; pos = bodyEnd
          case (Mkv.Cluster, Mkv.SimpleBlock) =>
            // block header: track vint + 2-byte ts + flags, then frame
            if (size < 4) return false
            nBlocks += 1
            blockBytes += size - 4
            pos = bodyEnd
          case _ =>
            pos = bodyEnd // unknown / uninterpreted: skip by size
        }
      }
      pos == end
    }
    if (!walk(b.length, 0L)) return None
    if (!sawEbml || !sawSegment || docType == null || tsScale <= 0 ||
      duration.isNaN || vCodec == null || aCodec == null ||
      width <= 0 || height <= 0 || channels <= 0 || sampleRate <= 0)
      return None
    // Duration is in TimestampScale units; scale 1e6 ns → milliseconds
    val durMs = math.round(duration * (tsScale / 1000000.0))
    Some(MkvMeta(id, docType, tsScale, durMs, nTracks, vCodec, width,
      height, aCodec, channels, sampleRate.toInt, nBlocks, blockBytes))
  }

  /** Deterministic Matroska fixture: EBML header (DocType rotates
    * webm/matroska), Segment with Info (scale 1 ms, float64 Duration),
    * a video + an audio TrackEntry, and one Cluster of SimpleBlocks
    * with opaque frame payloads. Sizes are minimal-width vints, so
    * element offsets vary with every field — a vint-width bug shifts
    * everything after it. */
  def buildMkvPattern(id: Long, nChars: Long): Array[Byte] = {
    import Ebml.{el, uint, float}
    val docType = if (id % 2 == 0) "webm" else "matroska"
    val durationMs = (1000 + id % 9000).toDouble
    val vCodec = (id % 3) match {
      case 0 => "V_VP8"; case 1 => "V_VP9"; case _ => "V_MPEG4/ISO/AVC" }
    val aCodec = if (id % 2 == 0) "A_OPUS" else "A_VORBIS"
    val w = 320 + (id % 640).toInt
    val h = 240 + (id % 480).toInt
    val rate = if (id % 2 == 0) 48000.0 else 44100.0
    val nBlocks = (3 + nChars % 5).toInt

    val ebml = el(Mkv.EBML,
      el(0x4286L, uint(1)) ++ el(0x42F7L, uint(1)) ++
        el(0x42F2L, uint(4)) ++ el(0x42F3L, uint(8)) ++
        el(Mkv.DocType, ascii(docType)) ++
        el(0x4287L, uint(4)) ++ el(0x4285L, uint(2)))
    val info = el(Mkv.Info,
      el(Mkv.TimestampScale, uint(1000000L)) ++
        el(Mkv.Duration, float(durationMs)) ++
        el(Mkv.MuxingApp, ascii("graft")) ++
        el(Mkv.WritingApp, ascii("graft")))
    val videoTrack = el(Mkv.TrackEntry,
      el(Mkv.TrackNumber, uint(1)) ++
        el(Mkv.TrackUID, uint(id + 1)) ++
        el(Mkv.TrackType, uint(1)) ++
        el(Mkv.CodecID, ascii(vCodec)) ++
        el(Mkv.Video, el(Mkv.PixelWidth, uint(w.toLong)) ++
          el(Mkv.PixelHeight, uint(h.toLong))))
    val audioTrack = el(Mkv.TrackEntry,
      el(Mkv.TrackNumber, uint(2)) ++
        el(Mkv.TrackUID, uint(id + 2)) ++
        el(Mkv.TrackType, uint(2)) ++
        el(Mkv.CodecID, ascii(aCodec)) ++
        el(Mkv.Audio, el(Mkv.SamplingFrequency, float(rate)) ++
          el(Mkv.Channels, uint(1 + id % 2))))
    val tracks = el(Mkv.Tracks, videoTrack ++ audioTrack)
    val blocks = (0 until nBlocks).flatMap { k =>
      val payloadLen = (20 + (id + 13L * k) % 100).toInt
      val body = new java.io.ByteArrayOutputStream()
      body.write(0x81) // track 1 as a 1-byte vint
      val ts = k * 40
      body.write((ts >> 8) & 0xff); body.write(ts & 0xff)
      body.write(0x80) // keyframe flag
      var j = 0
      while (j < payloadLen) {
        body.write(0x20 | ((id + k + j) % 0x5f).toInt); j += 1
      }
      el(Mkv.SimpleBlock, body.toByteArray)
    }.toArray
    val cluster = el(Mkv.Cluster,
      el(Mkv.Timestamp, uint(0)) ++ blocks)
    val segment = el(Mkv.Segment, info ++ tracks ++ cluster)
    ebml ++ segment
  }

  // ------------------------------------------------ Opus packet TOCs

  /** Opus packet-TOC walk summary for the `mm_opus_toc` gate. */
  final case class OpusTocMeta(id: Long, nPackets: Int, nFrames: Int,
      durationUs: Long, stereoPackets: Int, paddingBytes: Long,
      frameBytes: Long, maxFrame: Int)

  /** Frame duration in µs per TOC config (RFC 6716 §3.1 Table 2):
    * SILK configs 0-11 run 10/20/40/60 ms, hybrid 12-15 run 10/20 ms,
    * CELT 16-31 run 2.5/5/10/20 ms. */
  private def opusFrameDurUs(config: Int): Long =
    if (config < 12) (config % 4) match {
      case 0 => 10000L; case 1 => 20000L; case 2 => 40000L; case _ => 60000L
    } else if (config < 16) { if (config % 2 == 0) 10000L else 20000L }
    else ((config - 16) % 4) match {
      case 0 => 2500L; case 1 => 5000L; case 2 => 10000L; case _ => 20000L
    }

  /** Real per-packet TOC parse (RFC 6716 §3): config/stereo/code bits,
    * the four frame-packing codes — code 1's equal split (odd payload
    * rejected), code 2's 1/2-byte length encoding, code 3's
    * count/VBR/padding byte with per-frame lengths and trailing
    * padding, the M·duration ≤ 120 ms limit — reduced to the counts an
    * audio intake needs. Frame payloads (CELT/SILK entropy ranges)
    * stay behind the decoder seam; only their SIZES are walked.
    * Returns (nFrames, durUs, stereo, paddingBytes, frameLens). */
  private def parseOpusPacket(pkt: Array[Byte])
      : Option[(Int, Long, Boolean, Int, Seq[Int])] = {
    if (pkt.length < 1) return None
    val toc = pkt(0) & 0xff
    val config = toc >>> 3
    val stereo = ((toc >>> 2) & 1) == 1
    val code = toc & 3
    val dur = opusFrameDurUs(config)
    def twoByteLen(at: Int): Option[(Int, Int)] = { // (len, bytesUsed)
      if (at >= pkt.length) return None
      val b1 = pkt(at) & 0xff
      if (b1 < 252) Some((b1, 1))
      else if (at + 1 >= pkt.length) None
      else Some((4 * (pkt(at + 1) & 0xff) + b1, 2))
    }
    code match {
      case 0 =>
        Some((1, dur, stereo, 0, Seq(pkt.length - 1)))
      case 1 =>
        val body = pkt.length - 1
        if (body % 2 != 0) return None
        if (2 * dur > 120000L) return None
        Some((2, 2 * dur, stereo, 0, Seq(body / 2, body / 2)))
      case 2 =>
        val (len1, used) = twoByteLen(1).getOrElse(return None)
        val len2 = pkt.length - 1 - used - len1
        if (len2 < 0) return None
        if (2 * dur > 120000L) return None
        Some((2, 2 * dur, stereo, 0, Seq(len1, len2)))
      case _ =>
        if (pkt.length < 2) return None
        val cnt = pkt(1) & 0xff
        val vbr = (cnt & 0x80) != 0
        val hasPadding = (cnt & 0x40) != 0
        val m = cnt & 0x3f
        if (m < 1 || m > 48 || m * dur > 120000L) return None
        var pos = 2
        var padding = 0
        if (hasPadding) {
          var more = true
          while (more) {
            if (pos >= pkt.length) return None
            val pb = pkt(pos) & 0xff; pos += 1
            if (pb == 255) padding += 254
            else { padding += pb; more = false }
          }
        }
        val dataEnd = pkt.length - padding
        if (dataEnd < pos) return None
        if (vbr) {
          val lens = new Array[Int](m)
          var i = 0
          while (i < m - 1) {
            val (l, used) = twoByteLen(pos).getOrElse(return None)
            lens(i) = l; pos += used; i += 1
          }
          var sum = 0
          i = 0
          while (i < m - 1) { sum += lens(i); i += 1 }
          val last = dataEnd - pos - sum
          if (last < 0) return None
          lens(m - 1) = last
          Some((m, m * dur, stereo, padding, lens.toSeq))
        } else {
          val body = dataEnd - pos
          if (body % m != 0) return None
          Some((m, m * dur, stereo, padding, Seq.fill(m)(body / m)))
        }
    }
  }

  /** Ogg walk → OpusHead/OpusTags headers verified → every audio
    * packet's TOC parsed — total frames, exact duration in µs (2.5 ms
    * CELT frames make ms lossy), stereo-flag count, padding data
    * bytes, frame byte totals. */
  def parseOpusToc(id: Long, b: Array[Byte]): Option[OpusTocMeta] = {
    val pages = walkOggPages(b).getOrElse(return None)
    val packets = oggPackets(b, pages).getOrElse(return None)
    if (packets.size < 3) return None
    val ascii = java.nio.charset.StandardCharsets.US_ASCII
    if (packets(0).length < 8 ||
      new String(packets(0), 0, 8, ascii) != "OpusHead") return None
    if (packets(1).length < 8 ||
      new String(packets(1), 0, 8, ascii) != "OpusTags") return None
    var nFrames = 0; var durUs = 0L; var stereoN = 0
    var padBytes = 0L; var frameBytes = 0L; var maxFrame = 0
    packets.drop(2).foreach { pkt =>
      val (m, d, st, pad, lens) = parseOpusPacket(pkt).getOrElse(return None)
      nFrames += m; durUs += d
      if (st) stereoN += 1
      padBytes += pad
      lens.foreach { l => frameBytes += l; if (l > maxFrame) maxFrame = l }
    }
    Some(OpusTocMeta(id, packets.size - 2, nFrames, durUs, stereoN,
      padBytes, frameBytes, maxFrame))
  }

  /** Deterministic Opus stream exercising all four TOC codes: per
    * packet k (seed u = id + 3k) code k%4 — code 0 single frame,
    * code 1 equal split, code 2 with a length that crosses the
    * 1-byte/2-byte encoding boundary, code 3 with VBR and CBR
    * variants, padding, and the CELT config range (so the 120 ms cap
    * holds at M ≤ 4). Odd-k packets use SILK/hybrid configs for table
    * coverage. */
  def buildOpusTocPattern(id: Long, nChars: Long): Array[Byte] = {
    val serial = (id % 100000).toInt
    val np = (6 + nChars % 8).toInt
    def fill(n: Int, seed: Long): Array[Byte] =
      Array.tabulate[Byte](n)(j => (0x11 + (seed + j) % 200).toByte)
    def lenBytes(l: Int): Array[Byte] =
      if (l < 252) Array(l.toByte)
      else {
        val b1 = 252 + ((l - 252) % 4)
        Array(b1.toByte, ((l - b1) / 4).toByte)
      }
    val audio = (0 until np).map { k =>
      val u = id + 3L * k
      val code = k % 4
      val config =
        if (code == 3 || k % 2 == 0) 16 + (u % 16).toInt
        else (u % 16).toInt // SILK/hybrid side of the table
      val stereo = ((u >> 1) % 2).toInt
      val toc = (config << 3) | (stereo << 2) | code
      val out = new java.io.ByteArrayOutputStream()
      out.write(toc)
      code match {
        case 0 =>
          out.write(fill((10 + u % 60).toInt, u))
        case 1 =>
          val l = (8 + u % 30).toInt
          out.write(fill(2 * l, u))
        case 2 =>
          val len1 = (200 + u % 300).toInt
          val lb = lenBytes(len1)
          out.write(lb, 0, lb.length)
          out.write(fill(len1, u))
          out.write(fill((7 + u % 40).toInt, u + 1))
        case _ =>
          val vbr = u % 2 == 1
          val pad = u % 3 == 0
          val m = (2 + u % 3).toInt
          val padLen = (u % 20).toInt
          out.write((if (vbr) 0x80 else 0) | (if (pad) 0x40 else 0) | m)
          if (pad) out.write(padLen)
          if (vbr) {
            (0 until m - 1).foreach { i =>
              out.write((6 + (u + i) % 80).toInt)
            }
            (0 until m - 1).foreach { i =>
              out.write(fill((6 + (u + i) % 80).toInt, u + i))
            }
            out.write(fill((9 + u % 33).toInt, u + m))
          } else {
            out.write(fill(m * (9 + u % 25).toInt, u))
          }
          if (pad) out.write(new Array[Byte](padLen))
      }
      out.toByteArray
    }
    val bytes = new java.io.ByteArrayOutputStream()
    val first = oggPage(0x02, 0L, serial, 0, Seq(opusHeadPacket(id)))
    bytes.write(first, 0, first.length)
    val tags = {
      val t = new java.io.ByteArrayOutputStream()
      t.write("OpusTags".getBytes(
        java.nio.charset.StandardCharsets.US_ASCII))
      t.write(5); t.write(0); t.write(0); t.write(0)
      t.write("graft".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
      t.write(0); t.write(0); t.write(0); t.write(0) // zero comments
      t.toByteArray
    }
    val second = oggPage(0x00, 0L, serial, 1, Seq(tags))
    bytes.write(second, 0, second.length)
    // audio packets across pages of 1-3 packets each
    var seq = 2
    var i = 0
    while (i < audio.size) {
      val take = math.min(audio.size - i, 1 + ((id + i) % 3).toInt)
      val flags = if (i + take >= audio.size) 0x04 else 0x00
      val page = oggPage(flags, (i + take).toLong * 960L, serial, seq,
        audio.slice(i, i + take))
      bytes.write(page, 0, page.length)
      i += take
      seq += 1
    }
    bytes.toByteArray
  }

  // ------------------------------------------------------- ID3v2 tags

  /** Parsed ID3v2 tag summary for the `mm_id3_tags` gate. */
  final case class Id3Meta(id: Long, version: Int, tagBytes: Int,
      nFrames: Int, title: String, artist: String, album: String,
      track: Int, year: Int, comment: String)

  /** Real ID3v2.3/2.4 frame walk (id3.org informal standard): the
    * 10-byte header with the SYNCSAFE tag size (7 bits per byte — a
    * plain-int reader overruns on any tag ≥ 128 bytes), frame headers
    * with plain-int (v2.3) vs syncsafe (v2.4) frame sizes — the
    * version split real parsers get wrong — text frames in
    * ISO-8859-1 (encoding 0) and UTF-8 (encoding 3, v2.4), the COMM
    * frame's language + short-description prefix, and zero-byte
    * padding after the last frame. */
  def parseId3(id: Long, b: Array[Byte]): Option[Id3Meta] = {
    if (b.length < 10 || b(0) != 'I' || b(1) != 'D' || b(2) != '3')
      return None
    val version = b(3) & 0xff
    if (version != 3 && version != 4) return None
    if ((b(4) & 0xff) != 0) return None // revision
    if ((b(5) & 0xff) != 0) return None // no unsync/extended/footer
    def syncsafe(p: Int): Int = {
      var v = 0
      var i = 0
      while (i < 4) {
        val byte = b(p + i) & 0xff
        if ((byte & 0x80) != 0) return -1
        v = (v << 7) | byte
        i += 1
      }
      v
    }
    val tagSize = syncsafe(6)
    if (tagSize < 0 || 10 + tagSize > b.length) return None
    var pos = 10
    val end = 10 + tagSize
    var title = ""; var artist = ""; var album = ""; var comment = ""
    var track = 0; var year = 0
    var nFrames = 0
    var done = false
    while (!done && pos + 10 <= end) {
      if (b(pos) == 0) done = true // padding reached
      else {
        val frameId = tag(b, pos)
        if (!frameId.forall(c => (c >= 'A' && c <= 'Z') ||
          (c >= '0' && c <= '9'))) return None
        val size =
          if (version == 4) syncsafe(pos + 4)
          else be32(b, pos + 4).toInt
        if (size < 0 || pos + 10 + size > end) return None
        // frame flags (2 bytes) must be clear in this profile
        if (b(pos + 8) != 0 || b(pos + 9) != 0) return None
        val body = pos + 10
        def text(): Option[String] = {
          if (size < 1) return Some("")
          (b(body) & 0xff) match {
            case 0 => Some(new String(b, body + 1, size - 1, "ISO-8859-1"))
            case 3 if version == 4 =>
              Some(new String(b, body + 1, size - 1, "UTF-8"))
            case _ => None
          }
        }
        frameId match {
          case "TIT2" => title = text().getOrElse(return None)
          case "TPE1" => artist = text().getOrElse(return None)
          case "TALB" => album = text().getOrElse(return None)
          case "TRCK" =>
            track = try text().getOrElse(return None).toInt
            catch { case _: NumberFormatException => return None }
          case "TYER" | "TDRC" =>
            val t = text().getOrElse(return None)
            year = try t.take(4).toInt
            catch { case _: NumberFormatException => return None }
          case "COMM" =>
            // encoding byte, 3-char language, short description, 0, text
            if (size < 5) return None
            if ((b(body) & 0xff) != 0) return None // latin1 profile
            val z = {
              var i = body + 4
              while (i < body + size && b(i) != 0) i += 1
              if (i >= body + size) return None
              i
            }
            comment = new String(b, z + 1, body + size - z - 1,
              "ISO-8859-1")
          case _ => () // unknown frames skip by size
        }
        nFrames += 1
        pos = body + size
      }
    }
    // everything after the last frame must be zero padding
    var i = pos
    while (i < end) { if (b(i) != 0) return None; i += 1 }
    Some(Id3Meta(id, version, tagSize, nFrames, title, artist, album,
      track, year, comment))
  }

  /** Deterministic ID3v2 builder: v2.3 (plain-int frame sizes, latin1)
    * for even ids, v2.4 (SYNCSAFE frame sizes, UTF-8 text, TDRC) for
    * odd — tag sizes cross the 128-byte syncsafe carry so a plain-int
    * tag-size reader diverges — plus an unknown frame to skip, a COMM
    * frame, and deterministic padding. */
  def buildId3Pattern(id: Long): Array[Byte] = {
    val v4 = id % 2 == 1
    val enc = if (v4) 3 else 0
    def frame(fid: String, body: Array[Byte]): Array[Byte] = {
      val hdr = new java.io.ByteArrayOutputStream()
      hdr.write(fid.getBytes("US-ASCII"), 0, 4)
      val n = body.length
      if (v4) {
        hdr.write((n >>> 21) & 0x7f); hdr.write((n >>> 14) & 0x7f)
        hdr.write((n >>> 7) & 0x7f); hdr.write(n & 0x7f)
      } else {
        hdr.write((n >>> 24) & 0xff); hdr.write((n >>> 16) & 0xff)
        hdr.write((n >>> 8) & 0xff); hdr.write(n & 0xff)
      }
      hdr.write(0); hdr.write(0)
      hdr.toByteArray ++ body
    }
    def textBody(s: String): Array[Byte] =
      Array(enc.toByte) ++ s.getBytes(if (v4) "UTF-8" else "ISO-8859-1")
    val title = s"Title ${('A' + id % 26).toChar}${id % 100}" +
      ("x" * (id % 120).toInt) // crosses the 128-byte syncsafe carry
    val artist = s"Artist ${id % 40}"
    val album = s"Album ${id % 15}"
    val track = s"${1 + id % 20}"
    val yearStr = s"${1970 + id % 55}"
    val comm = Array(0.toByte) ++ "eng".getBytes("US-ASCII") ++
      s"d${id % 9}".getBytes("ISO-8859-1") ++ Array(0.toByte) ++
      s"note ${id % 7}".getBytes("ISO-8859-1")
    val frames = frame("TIT2", textBody(title)) ++
      frame("TPE1", textBody(artist)) ++
      frame("TALB", textBody(album)) ++
      frame("TRCK", textBody(track)) ++
      frame(if (v4) "TDRC" else "TYER", textBody(yearStr)) ++
      frame("COMM", comm) ++
      frame("WXXX", Array(0.toByte) ++ // unknown frame: skipped by size
        s"u${id % 5}".getBytes("ISO-8859-1"))
    val padding = new Array[Byte]((id % 40).toInt)
    val tagSize = frames.length + padding.length
    val out = new java.io.ByteArrayOutputStream()
    out.write('I'); out.write('D'); out.write('3')
    out.write(if (v4) 4 else 3); out.write(0); out.write(0)
    out.write((tagSize >>> 21) & 0x7f); out.write((tagSize >>> 14) & 0x7f)
    out.write((tagSize >>> 7) & 0x7f); out.write(tagSize & 0x7f)
    out.write(frames, 0, frames.length)
    out.write(padding, 0, padding.length)
    out.toByteArray
  }

  // ------------------------------------------------------ TIFF pixels

  /** Decoded TIFF content stats for the `mm_tiff_pixels` gate. */
  final case class TiffPixels(id: Long, byteOrder: String, width: Int,
      height: Int, nStrips: Int, sumPix: Long, peak: Int, firstPix: Int)

  /** TIFF 6.0 strip codecs (public spec, §9 PackBits + §13 LZW).
    * TIFF LZW is the shared [[Lzw]], MSB-first with early change: the
    * encoder emits ClearCode before the table would take entry 4094,
    * so 4095 is never allocated. Matched encoder (fixture) + decoder
    * (engine) pairs; the decoders are defensive against corrupt input
    * (they return null, the caller maps it to a skipped payload). */
  private[operators] object TiffCodec {
    val lzw: Lzw = Lzw(8, msbFirst = true, earlyChange = true)

    def packBitsDecode(b: Array[Byte], off: Int, len: Int,
                       expect: Int): Array[Byte] = {
      val out = new Array[Byte](expect)
      var outPos = 0
      var p = off; val end = off + len
      while (p < end && outPos < expect) {
        val n = b(p); p += 1
        if (n >= 0) { // literal run of n+1
          val l = n + 1
          if (p + l > end || outPos + l > expect) return null
          System.arraycopy(b, p, out, outPos, l)
          p += l; outPos += l
        } else if (n != -128) { // replicate next byte 1-n times
          val l = 1 - n
          if (p >= end || outPos + l > expect) return null
          java.util.Arrays.fill(out, outPos, outPos + l, b(p))
          p += 1; outPos += l
        } // -128: no-op
      }
      if (outPos == expect && p == end) out else null
    }

    /** Per-row PackBits (the spec's recommendation: rows compress
      * independently, runs never cross a row boundary). */
    def packBitsEncode(data: Array[Byte], rowBytes: Int): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      var rowStart = 0
      while (rowStart < data.length) {
        val rowEnd = math.min(rowStart + rowBytes, data.length)
        var p = rowStart
        while (p < rowEnd) {
          // measure the run at p
          var run = 1
          while (p + run < rowEnd && data(p + run) == data(p) && run < 128)
            run += 1
          if (run >= 2) {
            out.write(1 - run); out.write(data(p) & 0xff); p += run
          } else {
            // literal until the next run of >= 3 (or 128 bytes)
            var q = p + 1
            var stop = false
            while (q < rowEnd && q - p < 128 && !stop) {
              var r = 1
              while (q + r < rowEnd && data(q + r) == data(q) && r < 3)
                r += 1
              if (r >= 3) stop = true else q += 1
            }
            out.write(q - p - 1)
            out.write(data, p, q - p)
            p = q
          }
        }
        rowStart = rowEnd
      }
      out.toByteArray
    }
  }

  /** Real TIFF 6.0 baseline-grayscale decode: the header + IFD walk in
    * BOTH byte orders (the EXIF gate walks metadata; this one reads
    * CONTENT), strip geometry from RowsPerStrip with the
    * StripOffsets/StripByteCounts arrays pulled from the data area
    * (SHORT or LONG entry types), 8-bit samples in the three wild
    * compressions — none (1), LZW (5, MSB-first early-change variant,
    * optionally under Predictor 2 horizontal differencing) and
    * PackBits (32773) — reassembled across strips into the intake
    * loudness-style stats. Any bounds/type/geometry violation →
    * None. */
  def parseTiffPixels(id: Long, b: Array[Byte]): Option[TiffPixels] = {
    if (b.length < 8) return None
    val little = b(0) == 'I' && b(1) == 'I'
    val big = b(0) == 'M' && b(1) == 'M'
    if (!little && !big) return None
    def u16(p: Int): Int =
      if (p + 2 > b.length) -1
      else if (little) le16(b, p) else be16(b, p)
    def u32(p: Int): Long =
      if (p + 4 > b.length) -1
      else if (little) le32(b, p) else be32(b, p)
    if (u16(2) != 42) return None
    val ifd = u32(4).toInt
    if (ifd < 8 || ifd + 2 > b.length) return None
    val n = u16(ifd)
    if (n <= 0) return None
    var width = -1; var height = -1; var bits = -1; var compression = -1
    var rowsPerStrip = -1L
    var offsets: IndexedSeq[Long] = IndexedSeq.empty
    var counts: IndexedSeq[Long] = IndexedSeq.empty
    var samplesPerPixel = 1
    var predictor = 1
    (0 until n).foreach { k =>
      val e = ifd + 2 + 12 * k
      if (e + 12 > b.length) return None
      val tag = u16(e); val tpe = u16(e + 2); val count = u32(e + 4)
      def scalar(): Long = tpe match {
        case 3 => u16(e + 8).toLong // SHORT inline
        case 4 => u32(e + 8)        // LONG inline
        case _ => -1L
      }
      def array(): IndexedSeq[Long] = {
        val width = if (tpe == 3) 2 else if (tpe == 4) 4 else return null
        val total = width * count
        val base = if (total <= 4) e + 8 else u32(e + 8).toInt
        if (base < 0 || base + total > b.length) return null
        (0L until count).map { i =>
          if (tpe == 3) u16(base + 2 * i.toInt).toLong
          else u32(base + 4 * i.toInt)
        }
      }
      tag match {
        case 256 => width = scalar().toInt
        case 257 => height = scalar().toInt
        case 258 => bits = scalar().toInt
        case 259 => compression = scalar().toInt
        case 277 => samplesPerPixel = scalar().toInt
        case 278 => rowsPerStrip = scalar()
        case 317 => predictor = scalar().toInt
        case 273 =>
          val a = array(); if (a == null) return None; offsets = a
        case 279 =>
          val a = array(); if (a == null) return None; counts = a
        case _ => () // uninterpreted tags skip (entries are fixed-size)
      }
    }
    if (width <= 0 || height <= 0 || bits != 8 ||
      (compression != 1 && compression != 5 && compression != 8 &&
        compression != 32946 && compression != 32773) ||
      samplesPerPixel != 1 || rowsPerStrip <= 0 ||
      (predictor != 1 && predictor != 2) ||
      offsets.isEmpty || offsets.size != counts.size) return None
    val expectStrips = ((height + rowsPerStrip - 1) / rowsPerStrip).toInt
    if (offsets.size != expectStrips) return None
    var sum = 0L; var peak = 0; var first = -1
    var row = 0L
    offsets.indices.foreach { s =>
      val rows = math.min(rowsPerStrip, height - row).toInt
      val expected = rows * width
      val off = offsets(s).toInt
      if (off < 0 || off + counts(s) > b.length || counts(s) < 0)
        return None
      val raw: Array[Byte] = compression match {
        case 1 =>
          if (counts(s) != expected) return None
          java.util.Arrays.copyOfRange(b, off, off + expected)
        case 5 =>
          TiffCodec.lzw.decode(b, off, off + counts(s).toInt, expected)
        case 8 | 32946 => // Adobe deflate / legacy deflate: zlib strips
          inflateExactly(b, off, counts(s).toInt, expected)
        case _ => // 32773 PackBits
          TiffCodec.packBitsDecode(b, off, counts(s).toInt, expected)
      }
      if (raw == null) return None
      // Predictor 2 (horizontal differencing): each row is stored as
      // deltas; the first column is absolute
      if (predictor == 2) {
        var r = 0
        while (r < rows) {
          var x = 1
          while (x < width) {
            raw(r * width + x) =
              ((raw(r * width + x) + raw(r * width + x - 1)) & 0xff)
                .toByte
            x += 1
          }
          r += 1
        }
      }
      var i = 0
      while (i < expected) {
        val v = raw(i) & 0xff
        sum += v
        if (v > peak) peak = v
        if (first < 0) first = v
        i += 1
      }
      row += rows
    }
    if (row != height) return None
    Some(TiffPixels(id, if (little) "II" else "MM", width, height,
      offsets.size, sum, peak, first))
  }

  /** A one-IFD 8-bit grayscale TIFF in either byte order: the header,
    * the IFD (9 entries, a 10th for Predictor 2), the StripOffsets and
    * StripByteCounts arrays in the data area — written even for one
    * strip, whose entries then hold the value inline, so offsets stay
    * layout-stable — then the strips. */
  private def tiffFile(little: Boolean, w: Int, h: Int, rps: Int,
                       compression: Int, predictor: Int,
                       strips: Seq[Array[Byte]]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    def w16(v: Int): Unit =
      if (little) { out.write(v & 0xff); out.write((v >>> 8) & 0xff) }
      else { out.write((v >>> 8) & 0xff); out.write(v & 0xff) }
    def w32(v: Long): Unit =
      if (little) (0 until 4).foreach(i =>
        out.write(((v >>> (8 * i)) & 0xff).toInt))
      else (3 to 0 by -1).foreach(i =>
        out.write(((v >>> (8 * i)) & 0xff).toInt))
    def entry(tag: Int, tpe: Int, count: Long, value: Long): Unit = {
      w16(tag); w16(tpe); w32(count)
      if (tpe == 3) { w16(value.toInt); w16(0) } else w32(value)
    }
    val nStrips = strips.size
    val nEntries = if (predictor == 2) 10 else 9
    // layout: IFD at 8, entries 12B each + count(2) + next(4); then the
    // offsets/counts arrays (LONG), then pixel strips
    val offArrayAt = 8 + 2 + 12 * nEntries + 4
    val cntArrayAt = offArrayAt + 4 * nStrips
    val stripOffsets = strips.indices.map { s =>
      cntArrayAt + 4L * nStrips + strips.take(s).map(_.length.toLong).sum
    }
    out.write(if (little) 'I' else 'M'); out.write(if (little) 'I' else 'M')
    w16(42)
    w32(8) // IFD right after the header
    w16(nEntries)
    entry(256, 4, 1, w.toLong)  // ImageWidth
    entry(257, 4, 1, h.toLong)  // ImageLength
    entry(258, 3, 1, 8)         // BitsPerSample
    entry(259, 3, 1, compression.toLong)
    entry(262, 3, 1, 1)         // Photometric: BlackIsZero
    entry(273, 4, nStrips.toLong, // StripOffsets
      if (nStrips == 1) stripOffsets.head else offArrayAt.toLong)
    entry(277, 3, 1, 1)         // SamplesPerPixel
    entry(278, 4, 1, rps.toLong) // RowsPerStrip
    entry(279, 4, nStrips.toLong, // StripByteCounts
      if (nStrips == 1) strips.head.length.toLong else cntArrayAt.toLong)
    if (predictor == 2) entry(317, 3, 1, 2)
    w32(0) // next IFD
    stripOffsets.foreach(w32)
    strips.foreach(s => w32(s.length.toLong))
    strips.foreach(s => out.write(s, 0, s.length))
    out.toByteArray
  }

  /** Deterministic baseline-gray TIFF: byte order rotates II/MM, strip
    * geometry from RowsPerStrip 1-4 (multi-strip offset/count arrays in
    * the data area), pixel(x,y) = (id + 3x + 7y) mod 251. */
  def buildTiffPattern(id: Long): Array[Byte] = {
    val w = 8 + (id % 40).toInt
    val h = 6 + (id % 30).toInt
    val rps = 1 + (id % 4).toInt
    val strips = (0 until (h + rps - 1) / rps).map { s =>
      Array.tabulate[Byte](math.min(rps, h - s * rps) * w)(i =>
        ((id + 3 * (i % w) + 7 * (s * rps + i / w)) % 251).toByte)
    }
    tiffFile(id % 2 == 0, w, h, rps, 1, 1, strips) // Compression: none
  }

  /** Deterministic COMPRESSED grayscale TIFF rotating the THREE wild
    * compressions by id mod 3 — LZW (5), PackBits (32773), Adobe
    * deflate (8) — LZW/deflate alternating Predictor 2 horizontal
    * differencing; pixel(x,y) = (id + 5·(x div 4) + 3y) mod 256
    * (runs of 4 so PackBits exercises replicate AND literal packets,
    * LZW builds real multi-byte phrases); strip geometry and byte
    * order rotate like the baseline fixture, StripByteCounts carry
    * the VARIABLE compressed sizes. */
  def buildTiffCompressedPattern(id: Long): Array[Byte] = {
    val compression = (id % 3) match {
      case 0 => 5; case 1 => 32773; case _ => 8
    }
    val predictor =
      if (compression != 32773 && (id / 3) % 2 == 1) 2 else 1
    val w = 8 + (id % 37).toInt
    val h = 5 + (id % 23).toInt
    val rps = 2 + (id % 5).toInt
    val nStrips = (h + rps - 1) / rps
    def pix(x: Int, y: Int): Int = ((id + 5 * (x / 4) + 3 * y) % 256).toInt
    // per-strip compressed payloads
    val strips = (0 until nStrips).map { s =>
      val rows = math.min(rps, h - s * rps)
      val raw = new Array[Byte](rows * w)
      var i = 0
      (0 until rows).foreach { r =>
        (0 until w).foreach { x =>
          raw(i) = pix(x, s * rps + r).toByte; i += 1
        }
      }
      if (predictor == 2) { // forward horizontal differencing
        (0 until rows).foreach { r =>
          var x = w - 1
          while (x >= 1) {
            raw(r * w + x) =
              ((raw(r * w + x) - raw(r * w + x - 1)) & 0xff).toByte
            x -= 1
          }
        }
      }
      compression match {
        case 5 => TiffCodec.lzw.encode(raw)
        case 32773 => TiffCodec.packBitsEncode(raw, w)
        case _ => deflate(raw)
      }
    }
    tiffFile(id % 2 == 0, w, h, rps, compression, predictor, strips)
  }

}
