package graft.operators

/** The one bit reader the codec stack uses, for both bit orders.
  *
  * `read(n)` returns the next `n` bits (0 ≤ n ≤ 56) as an unsigned
  * value — an MSB-first stream (JPEG, FLAC, H.264, TIFF LZW) puts the
  * first bit read at the top of it, an LSB-first stream (GIF LZW, VP8L)
  * at the bottom — or −1 once the input runs out. Every decoder turns
  * that −1 into its own "corrupt payload → None". Bytes load only when
  * a read needs them, so between reads fewer than 8 bits are buffered
  * and `bytePos` is the byte holding the next bit. */
private[operators] class BitReader(b: Array[Byte], from: Int, until: Int,
                                   msbFirst: Boolean) {
  def this(b: Array[Byte], from: Int, msbFirst: Boolean) =
    this(b, from, b.length, msbFirst)

  /** The next byte to load. */
  protected var pos: Int = from
  private var acc = 0L
  private var nBits = 0

  /** The next input byte, or −1 at the end. A format that escapes its
    * bytes (JPEG's FF 00 stuffing) overrides this one method. */
  protected def nextByte(): Int =
    if (pos < until) { pos += 1; b(pos - 1) & 0xff } else -1

  def read(n: Int): Long = {
    while (nBits < n) {
      val v = nextByte()
      if (v < 0) return -1L
      if (msbFirst) acc = (acc << 8) | v else acc |= v.toLong << nBits
      nBits += 8
    }
    nBits -= n
    val mask = (1L << n) - 1
    if (msbFirst) {
      val v = (acc >>> nBits) & mask
      acc &= (1L << nBits) - 1
      v
    } else {
      val v = acc & mask
      acc >>>= n
      v
    }
  }

  /** Count 0-bits up to the terminating 1 (the unary code of FLAC's
    * rice quotients and H.264's Exp-Golomb prefix); −1 at the end of
    * input or once more than `limit` zeros have been read. */
  def readUnary(limit: Int = 1 << 20): Int = {
    var q = 0
    while (true) {
      val x = read(1)
      if (x < 0) return -1
      if (x == 1) return q
      q += 1
      if (q > limit) return -1
    }
    -1
  }

  /** Drop the rest of the current byte. */
  def alignToByte(): Unit = { acc = 0L; nBits = 0 }

  def aligned: Boolean = nBits == 0

  /** Offset of the byte holding the next bit. */
  def bytePos: Int = pos - (nBits + 7) / 8
}

/** The one bit writer, the mirror of [[BitReader]]: `write(v, n)`
  * appends the low `n` bits of `v` (0 ≤ n ≤ 56) in the stream's bit
  * order into `out`. */
private[operators] class BitWriter(msbFirst: Boolean,
    protected val out: java.io.ByteArrayOutputStream =
      new java.io.ByteArrayOutputStream()) {
  private var acc = 0L
  private var nBits = 0

  /** Put one finished byte; JPEG's writer overrides it to stuff FF. */
  protected def emit(byte: Int): Unit = out.write(byte)

  def write(v: Long, n: Int): Unit = {
    val bits = v & ((1L << n) - 1)
    if (msbFirst) {
      acc = (acc << n) | bits
      nBits += n
      while (nBits >= 8) { nBits -= 8; emit(((acc >>> nBits) & 0xff).toInt) }
      acc &= (1L << nBits) - 1
    } else {
      acc |= bits << nBits
      nBits += n
      while (nBits >= 8) { emit((acc & 0xff).toInt); acc >>>= 8; nBits -= 8 }
    }
  }

  /** A prefix-code word, MSB of the code first in either bit order. */
  def writeCode(code: Int, len: Int): Unit =
    if (msbFirst || len == 0) write(code, len)
    else write(Integer.reverse(code) >>> (32 - len), len)

  /** `q` zeros, then a one. */
  def writeUnary(q: Int): Unit = {
    var left = q
    while (left > 32) { write(0L, 32); left -= 32 }
    write(0L, left)
    write(1L, 1)
  }

  /** Pad the last partial byte with `fill` (0 or 1) bits. */
  def alignToByte(fill: Int = 0): Unit =
    if (nBits > 0) write(if (fill == 0) 0L else -1L, 8 - nBits)

  def toBytes: Array[Byte] = { alignToByte(); out.toByteArray }
}

/** A canonical prefix code built from per-symbol code lengths (0 = the
  * symbol is unused): codes are assigned in (length, symbol) order —
  * the rule JPEG's DHT tables (symbols = table positions), DEFLATE and
  * VP8L share. Code words travel MSB of the code first in either bit
  * order, so decoding reads one bit at a time. */
private[operators] final class PrefixCode(val lengths: Array[Int]) {
  private val maxLen = if (lengths.isEmpty) 0 else lengths.max
  private val counts = new Array[Int](maxLen + 1)
  private val symbols = new Array[Int](lengths.count(_ > 0))

  /** Each symbol's code word, for the encoder. */
  val codes = new Array[Int](lengths.length)

  {
    var code = 0
    var k = 0
    var len = 1
    while (len <= maxLen) {
      var s = 0
      while (s < lengths.length) {
        if (lengths(s) == len) {
          codes(s) = code; symbols(k) = s
          code += 1; k += 1; counts(len) += 1
        }
        s += 1
      }
      code <<= 1
      len += 1
    }
  }

  /** The Kraft sum is exactly 1: every long-enough bit string decodes. */
  val complete: Boolean = maxLen > 0 &&
    (1 to maxLen).map(l => counts(l).toLong << (maxLen - l)).sum ==
      (1L << maxLen)

  /** The one symbol of a one-symbol code, else −1. */
  val single: Int = if (symbols.length == 1) symbols(0) else -1

  /** The next symbol, or −1 at the end of input or on a bit string no
    * code word starts. */
  def decode(r: BitReader): Int = {
    var code = 0; var first = 0; var index = 0
    var len = 1
    while (len <= maxLen) {
      val bit = r.read(1)
      if (bit < 0) return -1
      code |= bit.toInt
      val count = counts(len)
      if (code - first < count) return symbols(index + code - first)
      index += count
      first = (first + count) << 1
      code <<= 1
      len += 1
    }
    -1
  }

  def encode(w: BitWriter, sym: Int): Unit =
    w.writeCode(codes(sym), lengths(sym))
}

private[operators] object PrefixCode {
  /** JPEG's DHT form: `counts(l - 1)` codes of length l, l = 1..16, one
    * per table position in order. */
  def fromCounts(counts: Array[Int]): PrefixCode =
    new PrefixCode(counts.indices.flatMap(l => Seq.fill(counts(l))(l + 1))
      .toArray)
}

/** LZW with variable-width codes (GIF appendix F, TIFF §13): Clear =
  * 2^minCodeSize, EOI = Clear + 1, phrase codes from Clear + 2, at
  * most 12 bits. The width grows after the k-th code since the last
  * Clear once Clear + 2 + k (+ 2 with `earlyChange`) exceeds 2^width;
  * the encoder emits Clear instead of adding entry 4095 (4093 with
  * `earlyChange`). Without it that is GIF's schedule; with it, the one
  * the TIFF strips here are written and read with — encoder and
  * decoder count the same k, so each pair round-trips. */
private[operators] final case class Lzw(minCodeSize: Int, msbFirst: Boolean,
                                        earlyChange: Boolean) {
  private val clear = 1 << minCodeSize
  private val eoi = clear + 1
  private val firstFree = clear + 2
  private val early = if (earlyChange) 2 else 0

  private def widened(width: Int, k: Int): Int =
    if (firstFree + k + early > (1 << width) && width < 12) width + 1
    else width

  def encode(data: Array[Byte]): Array[Byte] = {
    val w = new BitWriter(msbFirst)
    var width = minCodeSize + 1
    var k = 0 // codes since the last Clear
    val dict = new java.util.HashMap[Integer, Integer](8192)
    def put(code: Int): Unit = {
      w.write(code, width); k += 1; width = widened(width, k)
    }
    w.write(clear, width)
    if (data.nonEmpty) {
      var prev = data(0) & 0xff
      var i = 1
      while (i < data.length) {
        val c = data(i) & 0xff
        val key = Integer.valueOf((prev << 8) | c)
        val hit = dict.get(key)
        if (hit != null) prev = hit.intValue()
        else {
          put(prev)
          if (firstFree + k + early == 4096) { // table full: start over
            w.write(clear, width)
            dict.clear(); width = minCodeSize + 1; k = 0
          } else dict.put(key, Integer.valueOf(firstFree + k - 1))
          prev = c
        }
        i += 1
      }
      put(prev)
    }
    w.write(eoi, width)
    w.toBytes
  }

  /** Decode `b[from, until)` into exactly `expect` bytes; decoding
    * stops once they are produced (a missing EOI is tolerated, as in
    * the wild), and returns null on a short or structurally invalid
    * stream. KwKwK (code == next entry) expands prev + prev[0]. */
  def decode(b: Array[Byte], from: Int, until: Int,
             expect: Int): Array[Byte] = {
    val r = new BitReader(b, from, until, msbFirst)
    val out = new Array[Byte](expect)
    var n = 0
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    val firstByte = new Array[Byte](4096)
    val stack = new Array[Byte](4097)
    var width = minCodeSize + 1
    var k = 0
    var next = firstFree
    var prev = -1
    def head(code: Int): Byte =
      if (code < clear) code.toByte else firstByte(code)
    while (n < expect) {
      val c = r.read(width).toInt
      if (c < 0 || c == eoi) return null
      if (c == clear) {
        width = minCodeSize + 1; k = 0; next = firstFree; prev = -1
      } else {
        if (prev < 0) {
          if (c >= clear) return null // the first code must be a literal
          out(n) = c.toByte; n += 1
        } else {
          if (c > next) return null
          var sp = 0
          var code = c
          if (c == next) { stack(0) = head(prev); sp = 1; code = prev }
          while (code >= firstFree) {
            stack(sp) = suffix(code); sp += 1; code = prefix(code)
          }
          stack(sp) = code.toByte; sp += 1
          if (n + sp > expect) return null
          while (sp > 0) { sp -= 1; out(n) = stack(sp); n += 1 }
          if (next < 4096) {
            prefix(next) = prev; suffix(next) = code.toByte
            firstByte(next) = head(prev); next += 1
          }
        }
        prev = c
        k += 1
        width = widened(width, k)
      }
    }
    out
  }
}
