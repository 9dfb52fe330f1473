package graft.operators

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.charset.StandardCharsets.US_ASCII

/** The one set of unsigned fixed-width integer reads the codec parsers
  * share, plus the one bounds-checked walk and the one writer per
  * chunked container (RIFF, ISO-BMFF, EBML) and the zlib round trip.
  * Every reader indexes the array directly, so an offset outside
  * it throws `ArrayIndexOutOfBoundsException` — the parsers that wrap
  * their walk in `try … catch NonFatal → None` rely on that throw to
  * turn a truncated payload into an invalid row. 32-bit reads return
  * `Long` so values ≥ 2³¹ stay unsigned; callers that want the signed
  * field (BMP's biHeight) take `.toInt`. */
private[operators] object Bytes {

  def u8(b: Array[Byte], off: Int): Int = b(off) & 0xff

  def le16(b: Array[Byte], off: Int): Int = u8(b, off) | (u8(b, off + 1) << 8)

  def be16(b: Array[Byte], off: Int): Int = (u8(b, off) << 8) | u8(b, off + 1)

  def le24(b: Array[Byte], off: Int): Int = le16(b, off) | (u8(b, off + 2) << 16)

  def be24(b: Array[Byte], off: Int): Int = (u8(b, off) << 16) | be16(b, off + 1)

  def le32(b: Array[Byte], off: Int): Long =
    le16(b, off).toLong | (le16(b, off + 2).toLong << 16)

  def be32(b: Array[Byte], off: Int): Long =
    (be16(b, off).toLong << 16) | be16(b, off + 2)

  def le64(b: Array[Byte], off: Int): Long = le32(b, off) | (le32(b, off + 4) << 32)

  def be64(b: Array[Byte], off: Int): Long = (be32(b, off) << 32) | be32(b, off + 4)

  /** Big-endian unsigned of the bytes `[from, until)` — the EBML uint
    * element body, 0-8 bytes wide (an empty body reads 0). */
  def beUint(b: Array[Byte], from: Int, until: Int): Long = {
    var v = 0L; var i = from
    while (i < until) { v = (v << 8) | u8(b, i); i += 1 }
    v
  }

  /** A 4-character chunk/box tag, or "" when fewer than 4 bytes remain
    * — chunk walks compare it against a literal, so a truncated tag is
    * just a mismatch. */
  def tag(b: Array[Byte], off: Int): String =
    if (off + 4 <= b.length) new String(b, off, 4, US_ASCII) else ""

  /** `n` bytes filled through a ByteBuffer (big-endian unless told). */
  def bytes(n: Int, order: ByteOrder = ByteOrder.BIG_ENDIAN)(
      f: ByteBuffer => Unit): Array[Byte] = {
    val buf = ByteBuffer.allocate(n).order(order)
    f(buf)
    buf.array()
  }

  def ascii(s: String): Array[Byte] = s.getBytes(US_ASCII)

  // ------------------------------------------------------------ RIFF

  /** Walk RIFF chunks from `from` while an 8-byte header fits:
    * `visit(fourcc, bodyOff, size)` gets the declared unsigned 32-bit
    * size, which may run past the end (each caller clamps or rejects)
    * and returns false to stop. Offsets are Long and every step
    * advances 8 + size + pad ≥ 8 bytes, so a hostile size ends the
    * walk instead of stalling or wrapping it. Returns the offset the
    * walk ended at: `b.length` exactly when the chunks tile the
    * input. */
  def riffWalk(b: Array[Byte], from: Int)(
      visit: (String, Int, Long) => Boolean): Long = {
    var off = from.toLong
    while (off + 8 <= b.length) {
      val i = off.toInt // off < b.length ≤ Int.MaxValue
      val size = le32(b, i + 4)
      if (!visit(tag(b, i), i + 8, size)) return off
      off += 8L + size + (size & 1L)
    }
    off
  }

  /** A RIFF file: "RIFF", size, the form type, then each chunk with
    * its little-endian size, odd bodies padded to even length unless
    * `pad` is false. */
  def riff(form: String, chunks: Seq[(String, Array[Byte])],
           pad: Boolean = true): Array[Byte] = {
    val body = chunks.map { case (_, c) =>
      8 + c.length + (if (pad) c.length & 1 else 0) }.sum
    val out = ByteBuffer.allocate(12 + body).order(ByteOrder.LITTLE_ENDIAN)
    out.put(ascii("RIFF")).putInt(4 + body).put(ascii(form))
    chunks.foreach { case (fourcc, c) =>
      out.put(ascii(fourcc)).putInt(c.length).put(c)
      if (pad && (c.length & 1) == 1) out.put(0.toByte)
    }
    out.array()
  }

  // --------------------------------------------------------- ISO-BMFF

  /** Walk the ISO-BMFF boxes of `[from, to)`: 32-bit sizes, the 64-bit
    * `largesize` form (size field 1) and size 0 = to the end of the
    * range. `visit(fourcc, bodyOff, boxEnd)` returns false to abort.
    * A size below its header or past `to` — the only way a walk could
    * stall or overrun — also aborts; the result is false on any
    * abort. */
  def boxWalk(b: Array[Byte], from: Long, to: Long)(
      visit: (String, Long, Long) => Boolean): Boolean = {
    var off = from
    while (off + 8 <= to) {
      val i = off.toInt
      val size32 = be32(b, i)
      val (size, hdr) =
        if (size32 == 1L && off + 16 <= to) (be64(b, i + 8), 16)
        else if (size32 == 0L) (to - off, 8)
        else (size32, 8)
      if (size < hdr || off + size > to) return false
      if (!visit(tag(b, i + 4), off + hdr, off + size)) return false
      off += size
    }
    true
  }

  /** One ISO-BMFF box: 32-bit size, fourcc, the parts concatenated. */
  def box(fourcc: String, parts: Array[Byte]*): Array[Byte] = {
    val out = ByteBuffer.allocate(8 + parts.map(_.length).sum)
    out.putInt(out.capacity()).put(ascii(fourcc))
    parts.foreach(out.put)
    out.array()
  }

  // ------------------------------------------------------------- EBML

  /** EBML (RFC 8794): the vint reader, and the element writer — the ID
    * with its marker bits kept, then the body size as a minimal-width
    * vint. */
  object Ebml {
    /** The vint at `p` as (value, width): the length marker kept for an
      * element ID, stripped for a size. Width 0 = no vint (a zero first
      * byte, or one running past the end). */
    def vint(b: Array[Byte], p: Int, keepMarker: Boolean): (Long, Int) = {
      if (p >= b.length || b(p) == 0) return (-1L, 0)
      val first = b(p) & 0xff
      val width = Integer.numberOfLeadingZeros(first) - 23
      if (p + width > b.length) return (-1L, 0)
      val head = if (keepMarker) first else first & ((0x100 >>> width) - 1)
      ((head.toLong << (8 * (width - 1))) | beUint(b, p + 1, p + width), width)
    }

    private def be(v: Long, width: Int): Array[Byte] =
      Array.tabulate[Byte](width)(i =>
        ((v >>> (8 * (width - 1 - i))) & 0xff).toByte)

    def el(id: Long, body: Array[Byte]): Array[Byte] = {
      val idWidth = if (id <= 0xffL) 1 else if (id <= 0xffffL) 2
        else if (id <= 0xffffffL) 3 else 4
      val n = body.length.toLong
      var width = 1 // all-ones is reserved for "unknown size"
      while (width <= 8 && n >= (1L << (7 * width)) - 1) width += 1
      val size = be(n, width)
      size(0) = (size(0) | (0x100 >>> width)).toByte
      be(id, idWidth) ++ size ++ body
    }

    /** Big-endian unsigned body, as few bytes as the value needs. */
    def uint(v: Long): Array[Byte] = {
      var width = 1
      while (width < 8 && (v >>> (8 * width)) != 0) width += 1
      be(v, width)
    }

    def float(d: Double): Array[Byte] =
      be(java.lang.Double.doubleToLongBits(d), 8)
  }

  // ------------------------------------------------------------- zlib

  /** Compress all of `data`: zlib framing, or raw DEFLATE when
    * `nowrap`. */
  def deflate(data: Array[Byte],
              level: Int = java.util.zip.Deflater.DEFAULT_COMPRESSION,
              nowrap: Boolean = false): Array[Byte] = {
    val d = new java.util.zip.Deflater(level, nowrap)
    val out = new java.io.ByteArrayOutputStream()
    try {
      d.setInput(data)
      d.finish()
      val buf = new Array[Byte](8192)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
    } finally d.end()
    out.toByteArray
  }

  /** Inflate the zlib stream in `b[off, off + len)` into exactly
    * `expect` bytes, or null when it is short or malformed. A stream
    * with a preset dictionary (FDICT) is rejected: `inflate` would
    * return 0 forever on it. */
  def inflateExactly(b: Array[Byte], off: Int, len: Int,
                     expect: Int): Array[Byte] = {
    val out = new Array[Byte](expect)
    val inf = new java.util.zip.Inflater()
    try {
      inf.setInput(b, off, len)
      var got = 0
      while (got < expect && !inf.finished()) {
        val n = inf.inflate(out, got, expect - got)
        if (n == 0 && (inf.needsInput() || inf.needsDictionary()))
          return null
        got += n
      }
      if (got < expect) null else out
    } catch {
      case _: java.util.zip.DataFormatException => null
    } finally inf.end()
  }
}
