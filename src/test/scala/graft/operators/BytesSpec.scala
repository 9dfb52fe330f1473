package graft.operators

import java.nio.{ByteBuffer, ByteOrder}
import org.scalatest.funsuite.AnyFunSuite

/** The shared codec byte readers against `java.nio.ByteBuffer` in both
  * byte orders: unsigned results (values ≥ 2³¹ included), and a throw —
  * never a silent wrong value — for an offset outside the array, which
  * the parsers' `NonFatal → None` contract depends on. */
class BytesSpec extends AnyFunSuite {

  // seeded bytes with plenty of high bits set, plus an all-ones tail
  private val data: Array[Byte] = {
    val rnd = new scala.util.Random(7)
    Array.fill[Byte](56)(rnd.nextInt(256).toByte) ++ Array.fill[Byte](8)(-1)
  }
  private val le = ByteBuffer.wrap(data).order(ByteOrder.LITTLE_ENDIAN)
  private val be = ByteBuffer.wrap(data).order(ByteOrder.BIG_ENDIAN)

  test("every reader matches ByteBuffer at every offset, both orders") {
    for (off <- 0 to data.length - 8) {
      assert(Bytes.u8(data, off) == java.lang.Byte.toUnsignedInt(data(off)))
      assert(Bytes.le16(data, off) ==
        java.lang.Short.toUnsignedInt(le.getShort(off)))
      assert(Bytes.be16(data, off) ==
        java.lang.Short.toUnsignedInt(be.getShort(off)))
      assert(Bytes.le24(data, off) == (le.getInt(off) & 0xffffff))
      assert(Bytes.be24(data, off) == (be.getInt(off) >>> 8))
      assert(Bytes.le32(data, off) == Integer.toUnsignedLong(le.getInt(off)))
      assert(Bytes.be32(data, off) == Integer.toUnsignedLong(be.getInt(off)))
      assert(Bytes.le64(data, off) == le.getLong(off))
      assert(Bytes.be64(data, off) == be.getLong(off))
      for (w <- 0 to 8) {
        val expect =
          if (w == 0) 0L else be.getLong(off) >>> (8 * (8 - w))
        assert(Bytes.beUint(data, off, off + w) == expect, s"width $w")
      }
    }
  }

  test("values at and above 2^31 read unsigned") {
    val b = Array[Byte](-1, -1, -1, -1, 0, 0, 0, -128, -128, 0, 0, 0)
    assert(Bytes.u8(b, 0) == 255)
    assert(Bytes.le16(b, 0) == 0xffff && Bytes.be16(b, 0) == 0xffff)
    assert(Bytes.le24(b, 0) == 0xffffff && Bytes.be24(b, 0) == 0xffffff)
    assert(Bytes.le32(b, 0) == 0xffffffffL)
    assert(Bytes.be32(b, 0) == 0xffffffffL)
    assert(Bytes.le32(b, 4) == 0x80000000L)
    assert(Bytes.be32(b, 8) == 0x80000000L)
    assert(Bytes.le32(b, 4) > Int.MaxValue)
  }

  test("an offset outside the array throws") {
    val b = new Array[Byte](8)
    val readers: Seq[(String, Int, Int => Any)] = Seq(
      ("u8", 1, Bytes.u8(b, _)),
      ("le16", 2, Bytes.le16(b, _)), ("be16", 2, Bytes.be16(b, _)),
      ("le24", 3, Bytes.le24(b, _)), ("be24", 3, Bytes.be24(b, _)),
      ("le32", 4, Bytes.le32(b, _)), ("be32", 4, Bytes.be32(b, _)),
      ("le64", 8, Bytes.le64(b, _)), ("be64", 8, Bytes.be64(b, _)),
      ("beUint", 2, off => Bytes.beUint(b, off, off + 2)))
    for ((name, width, read) <- readers) {
      read(b.length - width) // the last in-range offset reads
      for (off <- Seq(b.length - width + 1, b.length, -1))
        withClue(s"$name at $off: ") {
          intercept[IndexOutOfBoundsException](read(off))
        }
    }
  }

  test("tag reads four ASCII chars; fewer than four left reads empty") {
    val b = "RIFF\u0000\u0000\u0000\u0000WAVE".getBytes("US-ASCII")
    assert(Bytes.tag(b, 0) == "RIFF")
    assert(Bytes.tag(b, 8) == "WAVE")
    assert(Bytes.tag(b, 9) == "")
    assert(Bytes.tag(b, b.length) == "")
  }
}
