package graft.operators

import java.nio.charset.StandardCharsets.US_ASCII

/** The one set of unsigned fixed-width integer reads the codec parsers
  * share. Every reader indexes the array directly, so an offset outside
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
}
