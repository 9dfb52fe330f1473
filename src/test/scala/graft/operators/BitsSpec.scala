package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** The shared bit reader and writer against a BigInt model of the bit
  * string, in both bit orders: every width at every bit offset, writer →
  * reader round trips, and −1 — never a wrong value — once the input
  * runs out, which every codec's "corrupt → None" contract depends on.
  * Plus the canonical prefix code the JPEG and VP8L paths share. */
class BitsSpec extends AnyFunSuite {

  // seeded bytes with plenty of high bits set, plus an all-ones tail
  private val data: Array[Byte] = {
    val rnd = new scala.util.Random(11)
    Array.fill[Byte](24)(rnd.nextInt(256).toByte) ++ Array.fill[Byte](8)(-1)
  }
  private val nBits = 8 * data.length

  /** Stream bit i: MSB-first streams take each byte from bit 7 down,
    * LSB-first ones from bit 0 up. */
  private def bitAt(b: Array[Byte], i: Int, msb: Boolean): Int =
    ((b(i / 8) & 0xff) >> (if (msb) 7 - i % 8 else i % 8)) & 1

  /** The value of stream bits [off, off + n): the first bit is the top
    * of it (MSB-first) or the bottom (LSB-first). */
  private def reference(b: Array[Byte], off: Int, n: Int,
                        msb: Boolean): BigInt =
    (0 until n).foldLeft(BigInt(0)) { (acc, j) =>
      val bit = BigInt(bitAt(b, off + j, msb))
      if (msb) (acc << 1) | bit else acc | (bit << j)
    }

  private def skip(r: BitReader, bits: Int): Unit = {
    var left = bits
    while (left > 0) { val k = math.min(left, 56); r.read(k); left -= k }
  }

  test("every width at every bit offset matches a BigInt reference, " +
    "both bit orders") {
    for (msb <- Seq(true, false); off <- 0 until nBits;
         n <- 0 to math.min(56, nBits - off)) {
      val r = new BitReader(data, 0, msb)
      skip(r, off)
      assert(r.read(n) == reference(data, off, n, msb).toLong,
        s"msb=$msb off=$off n=$n")
    }
  }

  test("a read past the end returns -1, also against an `until` bound") {
    for (msb <- Seq(true, false)) {
      val r = new BitReader(data, 0, msb)
      skip(r, nBits - 3)
      assert(r.read(4) == -1L, s"msb=$msb")
      val bounded = new BitReader(data, 2, 3, msb) // data(2) only
      assert(bounded.read(8) == reference(data, 16, 8, msb).toLong)
      assert(bounded.read(1) == -1L, s"msb=$msb")
      assert(new BitReader(Array.emptyByteArray, 0, msb).read(1) == -1L)
      // a unary code running off the end, and one past its limit
      assert(new BitReader(Array[Byte](0), 0, msb).readUnary() == -1)
      val zerosThenOnes = Array[Byte](0, -1)
      assert(new BitReader(zerosThenOnes, 0, msb).readUnary(limit = 7) == -1)
      assert(new BitReader(zerosThenOnes, 0, msb).readUnary(limit = 8) == 8)
    }
  }

  test("byte alignment: alignToByte drops the rest of the byte, " +
    "bytePos and aligned track the next bit") {
    for (msb <- Seq(true, false)) {
      val r = new BitReader(data, 1, msb)
      assert(r.aligned && r.bytePos == 1)
      r.read(3)
      assert(!r.aligned && r.bytePos == 1)
      r.alignToByte()
      assert(r.aligned && r.bytePos == 2)
      assert(r.read(8) == (data(2) & 0xffL))
    }
  }

  test("writer -> reader round trips in both bit orders, matching the " +
    "reference bit string") {
    val rnd = new scala.util.Random(5)
    for (msb <- Seq(true, false); _ <- 0 until 50) {
      val fields = Seq.fill(rnd.nextInt(40)) {
        val n = rnd.nextInt(57)
        (rnd.nextLong(), n)
      }
      val w = new BitWriter(msb)
      fields.foreach { case (v, n) => w.write(v, n) }
      val out = w.toBytes
      val total = fields.map(_._2).sum
      assert(out.length == (total + 7) / 8)
      val r = new BitReader(out, 0, msb)
      var off = 0
      fields.foreach { case (v, n) =>
        val mask = if (n == 0) 0L else -1L >>> (64 - n)
        assert(reference(out, off, n, msb).toLong == (v & mask))
        assert(r.read(n) == (v & mask), s"msb=$msb n=$n")
        off += n
      }
      // the zero pad, and nothing after it
      assert(r.read((8 - total % 8) % 8) == 0L)
      assert(r.read(1) == -1L)
    }
  }

  test("code words go MSB of the code first in either order; unary " +
    "codes and 1-bit padding round trip") {
    for (msb <- Seq(true, false)) {
      val w = new BitWriter(msb)
      w.writeCode(0x5, 3) // 101
      w.writeCode(0x1, 2) // 01
      w.writeUnary(0); w.writeUnary(37); w.writeUnary(5)
      w.alignToByte(fill = 1)
      val out = w.toBytes
      val r = new BitReader(out, 0, msb)
      assert(Seq.fill(5)(r.read(1)) == Seq(1L, 0L, 1L, 0L, 1L))
      assert(r.readUnary() == 0 && r.readUnary() == 37 &&
        r.readUnary() == 5)
      while (!r.aligned) assert(r.read(1) == 1L) // the 1-bit padding
      assert(r.read(1) == -1L)
    }
  }

  test("prefix code: JPEG's Annex K DC table assigns the spec's codes") {
    val dc = PrefixCode.fromCounts(
      Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0))
    val expect = Seq("00", "010", "011", "100", "101", "110", "1110",
      "11110", "111110", "1111110", "11111110", "111111110")
    for ((bits, sym) <- expect.zipWithIndex) {
      assert(dc.lengths(sym) == bits.length)
      assert(dc.codes(sym) == Integer.parseInt(bits, 2), s"symbol $sym")
    }
    assert(!dc.complete) // JPEG reserves the all-ones code word
    assert(dc.single == -1)
  }

  test("prefix code: encode -> decode round trips in both bit orders; " +
    "unassigned words and the end of input decode -1") {
    // a complete code: 2 symbols at 2 bits, 4 at 3, and symbol 6 unused
    val lens = Array(3, 2, 3, 2, 3, 3, 0)
    val code = new PrefixCode(lens)
    assert(code.complete && code.single == -1)
    val msg = Seq(1, 3, 0, 2, 4, 5, 5, 3, 1, 0)
    for (msb <- Seq(true, false)) {
      val w = new BitWriter(msb)
      msg.foreach(code.encode(w, _))
      val out = w.toBytes
      val r = new BitReader(out, 0, msb)
      assert(msg.map(_ => code.decode(r)) == msg)
    }
    // an incomplete code: the word 11 starts no code word
    val partial = new PrefixCode(Array(1, 2))
    assert(!partial.complete)
    val w = new BitWriter(msbFirst = true)
    w.write(3, 2)
    assert(partial.decode(new BitReader(w.toBytes, 0, true)) == -1)
    assert(partial.decode(new BitReader(Array.emptyByteArray, 0, true)) == -1)
    assert(new PrefixCode(Array(0, 0, 4)).single == 2)
  }
}
