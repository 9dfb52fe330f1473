package graft.operators

import Bytes._

/** VP8 keyframe (intra-frame) bitstream mechanics per RFC 6386 — the
  * lossy layer behind WebP-lossy and most wild `.webm` video tracks.
  *
  * What is REAL and spec-exact here: the boolean arithmetic
  * coder (§7 — decoder and encoder pair, carry propagation and all),
  * the uncompressed frame tag + start code + 14-bit dims (§9.1), the
  * first-partition header grammar (color space, segmentation off,
  * loop-filter fields, partition count, quantizer indices + deltas,
  * the 1056 per-entry coefficient-probability update flags,
  * mb_no_coeff_skip), per-MB intra mode coding through prefix trees,
  * the token partition with band mapping, left/above nonzero
  * contexts, the no-EOB-after-ZERO rule, category extra bits, sign
  * bits, zigzag, dequantization, the exact integer inverse WHT (Y2)
  * and 4x4 IDCT (20091/35468 fixed-point butterflies), and all four
  * 16x16 intra predictors with the spec's 127/129 edge rows.
  *
  * What is a documented STAND-IN: the VALUES of the default
  * probability tables and dequantization lookup tables. In arithmetic
  * coding the probabilities affect only bit-efficiency, never
  * correctness, as long as encoder and decoder share them — and this
  * sandbox has no real-VP8 corpus (zero egress) against which the
  * spec's byte-exact default tables could be pinned, so this codec
  * uses deterministic tables of the right SHAPE ([4][8][3][11] coeff
  * probs, [128] quant lookups) and says so, rather than presenting
  * half-remembered constants as spec values. Swapping in the spec
  * tables is a data-only change.
  *
  * Profile (rejected loudly when violated): keyframes, 16x16 luma
  * modes (no B_PRED), no segmentation, loop filter level 0, one
  * token partition, no prob updates, MB-aligned dims. The fixture
  * encodes DC-only residuals, so reconstruction is uniform per MB and
  * the oracle can replay prediction + iWHT + iDCT DC paths as exact
  * floor-shift arithmetic over the MB grid.
  */
object Vp8Codec {

  // ------------------------------------------------------ bool coder

  /** RFC 6386 §7.3 boolean decoder: 16-bit big-endian value window,
    * range in [128, 255]. Reads virtual zero bytes past the end but
    * records the overrun so callers can reject truncated streams. */
  final class BoolDec(b: Array[Byte], start: Int, end: Int) {
    private var pos = start
    private var range = 255
    private var value = 0
    private var bitCount = 0
    var overrun = 0
    private def nextByte(): Int =
      if (pos < end) { val v = b(pos) & 0xff; pos += 1; v }
      else { overrun += 1; 0 }
    value = (nextByte() << 8) | nextByte()

    def bool(prob: Int): Int = {
      val split = 1 + (((range - 1) * prob) >> 8)
      val bigSplit = split << 8
      val ret =
        if (value >= bigSplit) { range -= split; value -= bigSplit; 1 }
        else { range = split; 0 }
      while (range < 128) {
        value <<= 1; range <<= 1
        bitCount += 1
        if (bitCount == 8) { bitCount = 0; value |= nextByte() }
      }
      ret
    }
    /** Uniform literal of n bits, MSB first (prob 128 each). */
    def literal(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | bool(128); i += 1 }
      v
    }
    def signed(n: Int): Int = {
      val v = literal(n)
      if (bool(128) == 1) -v else v
    }
    /** Walk a prefix tree (pairs of branch targets; negative = leaf
      * ~value) with per-node probabilities. */
    def tree(t: Array[Int], probs: Array[Int], startIdx: Int = 0): Int = {
      var i = startIdx
      while (true) {
        i = t(i + bool(probs(i >> 1)))
        if (i <= 0) return -i
      }
      0 // unreachable
    }
  }

  /** RFC 6386 §7.2 boolean encoder with carry propagation. */
  final class BoolEnc {
    private val out = new java.io.ByteArrayOutputStream()
    private var range = 255
    private var bottom = 0L
    private var bitCount = 24
    private val buf = scala.collection.mutable.ArrayBuffer.empty[Int]

    private def addOne(): Unit = { // carry into already-buffered bytes
      var i = buf.length - 1
      var carry = true
      while (carry && i >= 0) {
        if (buf(i) == 0xff) { buf(i) = 0; i -= 1 }
        else { buf(i) += 1; carry = false }
      }
      // a carry off the front of a valid stream cannot happen: the
      // first buffered byte is < 0xff by construction of the coder
    }
    def bool(prob: Int, bit: Int): Unit = {
      val split = 1 + (((range - 1) * prob) >> 8)
      if (bit != 0) { bottom += split; range -= split }
      else range = split
      while (range < 128) {
        if ((bottom & (1L << 31)) != 0) addOne()
        range <<= 1
        bottom = (bottom << 1) & 0xffffffffL
        bitCount -= 1
        if (bitCount == 0) {
          buf += ((bottom >> 24) & 0xff).toInt
          bottom &= 0xffffffL
          bitCount = 8
        }
      }
    }
    def literal(n: Int, v: Int): Unit = {
      var i = n - 1
      while (i >= 0) { bool(128, (v >> i) & 1); i -= 1 }
    }
    def signed(n: Int, v: Int): Unit = {
      literal(n, math.abs(v)); bool(128, if (v < 0) 1 else 0)
    }
    def tree(t: Array[Int], probs: Array[Int], leaf: Int): Unit = {
      // walk from the root following the branch whose subtree holds
      // the leaf; precomputing paths is overkill at fixture scale
      def contains(i: Int): Boolean =
        if (i <= 0) -i == leaf
        else contains(t(i)) || contains(t(i + 1))
      var i = 0
      while (true) {
        val takeRight = contains(t(i + 1)) && !contains(t(i))
        bool(probs(i >> 1), if (takeRight) 1 else 0)
        val n = t(i + (if (takeRight) 1 else 0))
        if (n <= 0) return
        i = n
      }
    }
    def result(): Array[Byte] = {
      var i = 0
      while (i < 32) { bool(128, 0); i += 1 } // flush
      val r = new Array[Byte](buf.length)
      var j = 0
      while (j < buf.length) { r(j) = buf(j).toByte; j += 1 }
      out.reset(); r
    }
  }

  // ------------------------------------------------- format constants

  // intra modes (16x16 + chroma): DC, V, H, TM
  val DC_PRED = 0; val V_PRED = 1; val H_PRED = 2; val TM_PRED = 3
  val B_PRED = 4

  // keyframe luma-mode tree + probs (tree structure per RFC 6386
  // §11.2; the probability VALUES are the stand-in caveat above)
  private val KfYmodeTree = Array(-B_PRED, 2, 4, 6,
    -DC_PRED, -V_PRED, -H_PRED, -TM_PRED)
  private val KfYmodeProb = Array(145, 156, 163, 128)
  private val UvModeTree = Array(-DC_PRED, 2, -V_PRED, 4,
    -H_PRED, -TM_PRED)
  private val KfUvModeProb = Array(142, 114, 183)

  // coefficient tokens
  private val TkEob = 0; private val Tk0 = 1; private val Tk1 = 2
  private val Tk2 = 3; private val Tk3 = 4; private val Tk4 = 5
  private val TkCat1 = 6; private val TkCat2 = 7; private val TkCat3 = 8
  private val TkCat4 = 9; private val TkCat5 = 10; private val TkCat6 = 11
  /** Token tree (RFC 6386 §13.2 shape): EOB / 0 / 1 / 2 / 3 / 4 /
    * cat1..cat6. The no-EOB-after-ZERO rule enters at index 2. */
  private val TokenTree = Array(
    -TkEob, 2,
    -Tk0, 4,
    -Tk1, 6,
    8, 12,
    -Tk2, 10,
    -Tk3, -Tk4,
    14, 16,
    -TkCat1, -TkCat2,
    18, 20,
    -TkCat3, -TkCat4,
    -TkCat5, -TkCat6)
  private val CatBase = Array(5, 7, 11, 19, 35, 67)
  private val CatBits = Array(1, 2, 3, 4, 5, 11)
  /** Category extra-bit probabilities (RFC 6386 §13.2 values — these
    * small tables are remembered with confidence and only affect
    * coding efficiency regardless). */
  private val CatProbs: Array[Array[Int]] = Array(
    Array(159),
    Array(165, 145),
    Array(173, 148, 140),
    Array(176, 155, 140, 135),
    Array(180, 157, 141, 134, 130),
    Array(254, 254, 243, 230, 196, 177, 153, 140, 133, 130, 129))

  /** Coefficient position → probability band (RFC 6386 §13.3). */
  private val CoeffBands =
    Array(0, 1, 2, 3, 6, 4, 5, 6, 6, 6, 6, 6, 6, 6, 6, 7)
  /** Zigzag: coefficient order → raster position (RFC 6386 §13). */
  private val Zigzag =
    Array(0, 1, 4, 8, 5, 2, 3, 6, 9, 12, 13, 10, 7, 11, 14, 15)

  /** STAND-IN default token probabilities, [plane][band][ctx][node]:
    * deterministic, in (50, 206) so every split is usable. Same shape
    * as the spec's table; see the class doc for why the values are a
    * declared stand-in rather than half-remembered constants. */
  private[operators] def coeffProb(plane: Int, band: Int, ctx: Int,
                                   node: Int): Int =
    128 + (((plane * 7 + band * 13 + ctx * 29 + node * 37) % 157) - 78)

  /** STAND-IN coefficient-update probabilities (one per entry; the
    * spec's table is mostly 255 — meaning "update almost never") */
  private val UpdateProb = 252

  /** STAND-IN dequantization lookups: monotone in qindex, the spec's
    * SHAPE (separate DC/AC, Y2 doubling). */
  private[operators] def dcQ(qi: Int): Int = 4 + qi
  private[operators] def acQ(qi: Int): Int = 4 + 2 * qi
  private[operators] def y2dcQ(qi: Int): Int = 2 * dcQ(qi)
  private[operators] def y2acQ(qi: Int): Int = 31 * acQ(qi) / 10
  private[operators] def uvdcQ(qi: Int): Int = dcQ(qi)
  private[operators] def uvacQ(qi: Int): Int = acQ(qi)

  // --------------------------------------------------- transforms

  /** RFC 6386 §14.3 inverse WHT (Y2): input 16 dequantized coeffs,
    * output the 16 sub-block DC values (raster order). */
  private[operators] def iwalsh(in: Array[Int]): Array[Int] = {
    val t = new Array[Int](16)
    val out = new Array[Int](16)
    var i = 0
    while (i < 4) { // columns
      val a1 = in(i) + in(12 + i); val b1 = in(4 + i) + in(8 + i)
      val c1 = in(4 + i) - in(8 + i); val d1 = in(i) - in(12 + i)
      t(i) = a1 + b1; t(4 + i) = c1 + d1
      t(8 + i) = a1 - b1; t(12 + i) = d1 - c1
      i += 1
    }
    i = 0
    while (i < 4) { // rows
      val o = 4 * i
      val a1 = t(o) + t(o + 3); val b1 = t(o + 1) + t(o + 2)
      val c1 = t(o + 1) - t(o + 2); val d1 = t(o) - t(o + 3)
      out(o) = (a1 + b1 + 3) >> 3
      out(o + 1) = (c1 + d1 + 3) >> 3
      out(o + 2) = (a1 - b1 + 3) >> 3
      out(o + 3) = (d1 - c1 + 3) >> 3
      i += 1
    }
    out
  }

  private val CosPi = 20091 // cospi8sqrt2 - 1, Q16
  private val SinPi = 35468 // sinpi8sqrt2, Q16

  /** RFC 6386 §14.4 inverse 4x4 DCT: dequantized coeffs (raster
    * order) → residual pixels. */
  private[operators] def idct4x4(in: Array[Int]): Array[Int] = {
    val t = new Array[Int](16)
    val out = new Array[Int](16)
    var i = 0
    while (i < 4) { // columns
      val a1 = in(i) + in(8 + i)
      val b1 = in(i) - in(8 + i)
      var temp1 = (in(4 + i) * SinPi) >> 16
      var temp2 = in(12 + i) + ((in(12 + i) * CosPi) >> 16)
      val c1 = temp1 - temp2
      temp1 = in(4 + i) + ((in(4 + i) * CosPi) >> 16)
      temp2 = (in(12 + i) * SinPi) >> 16
      val d1 = temp1 + temp2
      t(i) = a1 + d1; t(12 + i) = a1 - d1
      t(4 + i) = b1 + c1; t(8 + i) = b1 - c1
      i += 1
    }
    i = 0
    while (i < 4) { // rows
      val o = 4 * i
      val a1 = t(o) + t(o + 2)
      val b1 = t(o) - t(o + 2)
      var temp1 = (t(o + 1) * SinPi) >> 16
      var temp2 = t(o + 3) + ((t(o + 3) * CosPi) >> 16)
      val c1 = temp1 - temp2
      temp1 = t(o + 1) + ((t(o + 1) * CosPi) >> 16)
      temp2 = (t(o + 3) * SinPi) >> 16
      val d1 = temp1 + temp2
      out(o) = (a1 + d1 + 4) >> 3; out(o + 3) = (a1 - d1 + 4) >> 3
      out(o + 1) = (b1 + c1 + 4) >> 3; out(o + 2) = (b1 - c1 + 4) >> 3
      i += 1
    }
    out
  }

  // --------------------------------------------------------- decoder

  final case class Vp8Pixels(id: Long, width: Int, height: Int,
      qindex: Int, meanY: Double, meanU: Double, meanV: Double)

  final class Vp8FormatException(msg: String)
      extends IllegalArgumentException(msg)
  private def fail(msg: String): Nothing = throw new Vp8FormatException(msg)

  private def clamp255(v: Int): Int =
    if (v < 0) 0 else if (v > 255) 255 else v

  /** Decode one VP8 keyframe (profile in the class doc) to Y/U/V
    * planes. Returns None on corruption or out-of-profile features. */
  def decodeFrame(b: Array[Byte]): Option[(Int, Int, Int,
      Array[Int], Array[Int], Array[Int])] = try {
    if (b.length < 10) return None
    // frame tag (3 bytes LE): keyframe bit 0, version, show, part size
    val tag = le24(b, 0)
    if ((tag & 1) != 0) return None // not a keyframe
    val part1Len = tag >> 5
    if ((b(3) & 0xff) != 0x9d || (b(4) & 0xff) != 0x01 ||
        (b(5) & 0xff) != 0x2a) return None // start code
    val w = le16(b, 6) & 0x3fff; val h = le16(b, 8) & 0x3fff
    if (w == 0 || h == 0 || (w & 15) != 0 || (h & 15) != 0) return None
    val mbW = w / 16; val mbH = h / 16
    if (10 + part1Len > b.length) return None
    val d = new BoolDec(b, 10, 10 + part1Len)
    if (d.bool(128) != 0) return None // color space must be 0
    d.bool(128) // clamping type
    if (d.bool(128) != 0) return None // segmentation: out of profile
    d.bool(128) // filter type
    if (d.literal(6) != 0) return None // loop filter level 0 only
    d.literal(3) // sharpness
    if (d.bool(128) != 0) return None // lf delta: out of profile
    if (d.literal(2) != 0) return None // one token partition only
    val qindex = d.literal(7)
    // five quantizer deltas: flag + signed(4); profile: all absent
    var k = 0
    while (k < 5) { if (d.bool(128) != 0) return None; k += 1 }
    d.bool(128) // refresh entropy probs (keyframe: ignored)
    // 1056 coefficient-probability update flags; profile: no updates
    var pl = 0
    while (pl < 4) {
      var bd = 0
      while (bd < 8) {
        var cx = 0
        while (cx < 3) {
          var nd = 0
          while (nd < 11) {
            if (d.bool(UpdateProb) != 0) return None
            nd += 1
          }
          cx += 1
        }
        bd += 1
      }
      pl += 1
    }
    if (d.bool(128) != 0) return None // mb_no_coeff_skip: off in profile
    // per-MB modes (keyframe: coded in partition 1)
    val yModes = new Array[Int](mbW * mbH)
    val uvModes = new Array[Int](mbW * mbH)
    var mi = 0
    while (mi < mbW * mbH) {
      val ym = d.tree(KfYmodeTree, KfYmodeProb)
      if (ym == B_PRED) return None // out of profile
      yModes(mi) = ym
      uvModes(mi) = d.tree(UvModeTree, KfUvModeProb)
      mi += 1
    }
    if (d.overrun > 0) return None
    // token partition: size-prefixed? With one partition, the rest of
    // the chunk after partition 1 IS the token partition
    val d2 = new BoolDec(b, 10 + part1Len, b.length)
    // nonzero contexts: above per MB column, left per MB; lanes:
    // 4 luma, 2 u, 2 v, 1 y2
    val aboveY = new Array[Int](mbW * 4)
    val aboveU = new Array[Int](mbW * 2)
    val aboveV = new Array[Int](mbW * 2)
    val aboveY2 = new Array[Int](mbW)
    val yPlane = new Array[Int](w * h)
    val uPlane = new Array[Int]((w / 2) * (h / 2))
    val vPlane = new Array[Int]((w / 2) * (h / 2))

    /** One block's tokens → dequantized coefficients (raster order).
      * Returns whether the block has any nonzero coefficient. */
    def readBlock(plane: Int, firstCoeff: Int, ctx0: Int,
                  dqDc: Int, dqAc: Int, out: Array[Int]): Boolean = {
      java.util.Arrays.fill(out, 0)
      var ctx = ctx0
      var ci = firstCoeff
      var any = false
      var afterZero = false
      var done = false
      while (!done && ci < 16) {
        val band = CoeffBands(ci)
        val probs = Array.tabulate(11)(n => coeffProb(plane, band, ctx, n))
        val start = if (afterZero) 2 else 0 // no EOB after a ZERO token
        val tok = d2.tree(TokenTree, probs, start)
        if (tok == TkEob) done = true
        else if (tok == Tk0) {
          afterZero = true; ctx = 0; ci += 1
        } else {
          afterZero = false
          val base = tok match {
            case Tk1 => 1
            case Tk2 => 2
            case Tk3 => 3
            case Tk4 => 4
            case _ =>
              val cat = tok - TkCat1
              var extra = 0
              var j = 0
              while (j < CatBits(cat)) {
                extra = (extra << 1) | d2.bool(CatProbs(cat)(j)); j += 1
              }
              CatBase(cat) + extra
          }
          val v = if (d2.bool(128) == 1) -base else base
          val dq = if (ci == 0) dqDc else dqAc
          out(Zigzag(ci)) = v * dq
          any = true
          ctx = if (base > 1) 2 else 1
          ci += 1
        }
      }
      any
    }

    val coefBuf = new Array[Int](16)
    var mbY = 0
    while (mbY < mbH) {
      var leftY = new Array[Int](4)
      var leftU = new Array[Int](2)
      var leftV = new Array[Int](2)
      var leftY2 = 0
      var mbX = 0
      while (mbX < mbW) {
        val mIdx = mbY * mbW + mbX
        // ---- Y2 block (always present: 16x16 modes only) ----
        val y2ctx = leftY2 + aboveY2(mbX)
        val y2nz = readBlock(1, 0, math.min(y2ctx, 2),
          y2dcQ(qindex), y2acQ(qindex), coefBuf)
        leftY2 = if (y2nz) 1 else 0; aboveY2(mbX) = leftY2
        val subDc = iwalsh(coefBuf)
        // ---- luma sub-blocks (plane 0, coeffs start at 1) ----
        val resid = new Array[Int](16 * 16)
        var sb = 0
        while (sb < 16) {
          val sx = sb % 4; val sy = sb / 4
          val ctx = math.min(leftY(sy) + aboveY(mbX * 4 + sx), 2)
          val nz = readBlock(0, 1, ctx, dcQ(qindex), acQ(qindex), coefBuf)
          leftY(sy) = if (nz) 1 else 0
          aboveY(mbX * 4 + sx) = leftY(sy)
          coefBuf(0) = subDc(sb)
          val px = idct4x4(coefBuf)
          var j = 0
          while (j < 16) {
            resid((sy * 4 + j / 4) * 16 + sx * 4 + j % 4) = px(j)
            j += 1
          }
          sb += 1
        }
        predictAndAdd(yPlane, w, mbX * 16, mbY * 16, 16,
          yModes(mIdx), resid)
        // ---- chroma (plane 2) ----
        def chroma(plane: Array[Int], left: Array[Int],
                   above: Array[Int]): Unit = {
          val cres = new Array[Int](8 * 8)
          var cb = 0
          while (cb < 4) {
            val sx = cb % 2; val sy = cb / 2
            val ctx = math.min(left(sy) + above(mbX * 2 + sx), 2)
            val nz = readBlock(2, 0, ctx, uvdcQ(qindex),
              uvacQ(qindex), coefBuf)
            left(sy) = if (nz) 1 else 0
            above(mbX * 2 + sx) = left(sy)
            val px = idct4x4(coefBuf)
            var j = 0
            while (j < 16) {
              cres((sy * 4 + j / 4) * 8 + sx * 4 + j % 4) = px(j)
              j += 1
            }
            cb += 1
          }
          predictAndAdd(plane, w / 2, mbX * 8, mbY * 8, 8,
            uvModes(mIdx), cres)
        }
        chroma(uPlane, leftU, aboveU)
        chroma(vPlane, leftV, aboveV)
        mbX += 1
      }
      mbY += 1
    }
    if (d2.overrun > 0) return None
    Some((w, h, qindex, yPlane, uPlane, vPlane))
  } catch { case _: Vp8FormatException => None
            case _: ArrayIndexOutOfBoundsException => None }

  /** Intra-predict one size×size block at (x0, y0) from already-
    * reconstructed neighbors in `plane`, add the residual, clamp.
    * Edge rows per spec: missing above = 127, missing left = 129,
    * missing corner = 127 on the top row / 129 in the left column. */
  private def predictAndAdd(plane: Array[Int], stride: Int, x0: Int,
      y0: Int, size: Int, mode: Int, resid: Array[Int]): Unit = {
    def above(i: Int): Int =
      if (y0 == 0) 127 else plane((y0 - 1) * stride + x0 + i)
    def left(i: Int): Int =
      if (x0 == 0) 129 else plane((y0 + i) * stride + x0 - 1)
    def corner: Int =
      if (y0 == 0) 127
      else if (x0 == 0) 129
      else plane((y0 - 1) * stride + x0 - 1)
    val pred = new Array[Int](size * size)
    mode match {
      case DC_PRED =>
        val haveA = y0 > 0; val haveL = x0 > 0
        val dc =
          if (!haveA && !haveL) 128
          else {
            var s = 0; var n = 0
            if (haveA) { var i = 0; while (i < size) { s += above(i); i += 1 }; n += size }
            if (haveL) { var i = 0; while (i < size) { s += left(i); i += 1 }; n += size }
            (s + n / 2) / n
          }
        java.util.Arrays.fill(pred, dc)
      case V_PRED =>
        var y = 0
        while (y < size) {
          var x = 0
          while (x < size) { pred(y * size + x) = above(x); x += 1 }
          y += 1
        }
      case H_PRED =>
        var y = 0
        while (y < size) {
          var x = 0
          while (x < size) { pred(y * size + x) = left(y); x += 1 }
          y += 1
        }
      case _ => // TM_PRED
        val c = corner
        var y = 0
        while (y < size) {
          var x = 0
          while (x < size) {
            pred(y * size + x) = clamp255(left(y) + above(x) - c)
            x += 1
          }
          y += 1
        }
    }
    var y = 0
    while (y < size) {
      var x = 0
      while (x < size) {
        plane((y0 + y) * stride + x0 + x) =
          clamp255(pred(y * size + x) + resid(y * size + x))
        x += 1
      }
      y += 1
    }
  }

  // --------------------------------------------------------- encoder

  /** Deterministic VP8 keyframe fixture: mbW = 1 + n mod 3 by
    * mbH = 1 + (n div 3) mod 3 macroblocks, qindex = id mod 32;
    * per MB (row i, col j): luma mode (i + j + id) mod 4, chroma mode
    * (i + 2j + id) mod 4, DC-only residuals with Y2 level
    * ((i + 2j + id) mod 9) − 4, U level ((2i + j + id) mod 7) − 3,
    * V level ((i + 3j + 2id) mod 7) − 3 — negative levels exercise
    * the sign path, and level 4 boundaries the token split. */
  def buildVp8Frame(id: Long, nChars: Long): Array[Byte] = {
    val mbW = 1 + (nChars % 3).toInt
    val mbH = 1 + ((nChars / 3) % 3).toInt
    val qindex = (id % 32).toInt
    // ---- partition 1: header + modes ----
    val e1 = new BoolEnc
    e1.bool(128, 0) // color space
    e1.bool(128, 0) // clamping
    e1.bool(128, 0) // segmentation off
    e1.bool(128, 0) // filter type
    e1.literal(6, 0) // filter level
    e1.literal(3, 0) // sharpness
    e1.bool(128, 0) // lf deltas off
    e1.literal(2, 0) // one token partition
    e1.literal(7, qindex)
    (0 until 5).foreach(_ => e1.bool(128, 0)) // no quant deltas
    e1.bool(128, 1) // refresh entropy probs
    for (_ <- 0 until 4 * 8 * 3 * 11) e1.bool(UpdateProb, 0)
    e1.bool(128, 0) // mb_no_coeff_skip off
    for (i <- 0 until mbH; j <- 0 until mbW) {
      e1.tree(KfYmodeTree, KfYmodeProb, ((i + j + id) % 4).toInt)
      e1.tree(UvModeTree, KfUvModeProb, ((i + 2 * j + id) % 4).toInt)
    }
    val part1 = e1.result()
    // ---- token partition ----
    val e2 = new BoolEnc
    def writeBlock(plane: Int, firstCoeff: Int, ctx0: Int,
                   dcLevel: Int): Boolean = {
      var ctx = ctx0
      val band0 = CoeffBands(firstCoeff)
      val probs0 = Array.tabulate(11)(n => coeffProb(plane, band0, ctx, n))
      if (dcLevel == 0) { e2.tree(TokenTree, probs0, TkEob); false }
      else {
        val mag = math.abs(dcLevel)
        require(mag <= 4, "fixture profile: levels within the literal tokens")
        e2.tree(TokenTree, probs0, mag match {
          case 1 => Tk1; case 2 => Tk2; case 3 => Tk3; case _ => Tk4
        })
        e2.bool(128, if (dcLevel < 0) 1 else 0) // sign
        ctx = if (mag > 1) 2 else 1
        // EOB after the DC coefficient
        val band1 = CoeffBands(firstCoeff + 1)
        val probs1 =
          Array.tabulate(11)(n => coeffProb(plane, band1, ctx, n))
        e2.tree(TokenTree, probs1, TkEob)
        true
      }
    }
    val aboveY2 = new Array[Int](mbW)
    val aboveU = new Array[Int](mbW * 2)
    val aboveV = new Array[Int](mbW * 2)
    // luma sub-blocks are all-EOB (ctx stays 0 everywhere)
    for (i <- 0 until mbH) {
      var leftY2 = 0
      val leftU = new Array[Int](2); val leftV = new Array[Int](2)
      for (j <- 0 until mbW) {
        val ly2 = ((i + 2 * j + id) % 9).toInt - 4
        val lu = ((2 * i + j + id) % 7).toInt - 3
        val lv = ((i + 3 * j + 2 * id) % 7).toInt - 3
        val y2nz = writeBlock(1, 0, math.min(leftY2 + aboveY2(j), 2), ly2)
        leftY2 = if (y2nz) 1 else 0; aboveY2(j) = leftY2
        for (_ <- 0 until 16) writeBlock(0, 1, 0, 0) // luma: EOB
        def cPlane(level: Int, left: Array[Int],
                   above: Array[Int]): Unit =
          for (cb <- 0 until 4) {
            val sx = cb % 2; val sy = cb / 2
            // chroma has no Y2: each 4x4 sub-block carries the SAME
            // DC level so the MB reconstructs uniform (the profile
            // contract the recurrence oracle depends on)
            val nz = writeBlock(2, 0,
              math.min(left(sy) + above(j * 2 + sx), 2), level)
            left(sy) = if (nz) 1 else 0
            above(j * 2 + sx) = left(sy)
          }
        cPlane(lu, leftU, aboveU)
        cPlane(lv, leftV, aboveV)
      }
    }
    val part2 = e2.result()
    // ---- container: tag + start code + dims ----
    val out = new java.io.ByteArrayOutputStream()
    val tag = part1.length << 5 // keyframe bit 0, version 0, show 0
    out.write(tag & 0xff); out.write((tag >> 8) & 0xff)
    out.write((tag >> 16) & 0xff)
    out.write(0x9d); out.write(0x01); out.write(0x2a)
    val w = mbW * 16; val h = mbH * 16
    out.write(w & 0xff); out.write((w >> 8) & 0x3f)
    out.write(h & 0xff); out.write((h >> 8) & 0x3f)
    out.write(part1, 0, part1.length)
    out.write(part2, 0, part2.length)
    out.toByteArray
  }

  // ------------------------------------------------------ gate plumbing

  def parseVp8Pixels(id: Long, b: Array[Byte]): Option[Vp8Pixels] =
    decodeFrame(b).map { case (w, h, qi, y, u, v) =>
      def mean(p: Array[Int]): Double =
        p.foldLeft(0L)(_ + _).toDouble / p.length
      Vp8Pixels(id, w, h, qi, mean(y), mean(u), mean(v))
    }

  // ------------------------------------------- lossy WebP container

  /** Wrap a raw VP8 frame in RIFF/WEBP/'VP8 ' framing — the layout of
    * virtually every lossy WebP on the web. */
  def buildWebpLossy(id: Long, nChars: Long): Array[Byte] =
    riff("WEBP", Seq("VP8 " -> buildVp8Frame(2 * id + 1, nChars + 5)))

  /** RIFF walk to the 'VP8 ' chunk (sizes verified), then
    * [[decodeFrame]]. The frame's own dims must agree with nothing
    * here — lossy WebP carries dims only inside the VP8 frame. */
  def parseWebpLossy(id: Long, b: Array[Byte]): Option[Vp8Pixels] = {
    if (b.length < 20) return None
    if (tag(b, 0) != "RIFF" || tag(b, 8) != "WEBP") return None
    if (le32(b, 4) != b.length - 8) return None
    var frame: Array[Byte] = null
    riffWalk(b, 12) { (t, body, size) =>
      val fits = body + size <= b.length
      if (fits && t == "VP8 ")
        frame = java.util.Arrays.copyOfRange(b, body, body + size.toInt)
      fits && frame == null
    }
    if (frame == null) None else parseVp8Pixels(id, frame)
  }

  // --------------------------------------------------- WebM container

  final case class WebmFrames(id: Long, nFrames: Int, width: Int,
      height: Int, sumY: Long, sumU: Long, sumV: Long)

  /** A real WebM layout: EBML header (DocType webm), Segment → Info +
    * a V_VP8 TrackEntry + one Cluster whose SimpleBlocks each carry a
    * REAL VP8 keyframe (frame k seeded id + 31k, constant dims like
    * actual video). Element sizes are minimal-width vints via the
    * same arithmetic the Matroska metadata fixture uses. */
  def buildWebmVideo(id: Long, nChars: Long): Array[Byte] = {
    import Ebml.{el, uint}
    val nFrames = (3 + nChars % 5).toInt
    val mbW = 1 + (nChars % 3).toInt; val mbH = 1 + ((nChars / 3) % 3).toInt
    val ebml = el(0x1A45DFA3L,
      el(0x4286L, uint(1)) ++ el(0x42F7L, uint(1)) ++
        el(0x42F2L, uint(4)) ++ el(0x42F3L, uint(8)) ++
        el(0x4282L, ascii("webm")) ++
        el(0x4287L, uint(4)) ++ el(0x4285L, uint(2)))
    val info = el(0x1549A966L,
      el(0x2AD7B1L, uint(1000000L)))
    val track = el(0x1654AE6BL, el(0xAEL,
      el(0xD7L, uint(1)) ++ el(0x73C5L, uint(id + 1)) ++
        el(0x83L, uint(1)) ++ el(0x86L, ascii("V_VP8")) ++
        el(0xE0L, el(0xB0L, uint(16L * mbW)) ++
          el(0xBAL, uint(16L * mbH)))))
    val blocks = (0 until nFrames).flatMap { k =>
      val frame = buildVp8Frame(id + 31 * k, nChars)
      val body = new java.io.ByteArrayOutputStream()
      body.write(0x81) // track 1 as a 1-byte vint
      val ts = k * 33
      body.write((ts >> 8) & 0xff); body.write(ts & 0xff)
      body.write(0x80) // keyframe flag
      body.write(frame, 0, frame.length)
      el(0xA3L, body.toByteArray)
    }.toArray
    val cluster = el(0x1F43B675L, el(0xE7L, uint(0)) ++ blocks)
    ebml ++ el(0x18538067L, info ++ track ++ cluster)
  }

  /** EBML walk to the V_VP8 track's SimpleBlocks, each payload
    * decoded as a VP8 keyframe; per-doc EXACT integer pixel sums
    * across frames. Any EBML, block-header, or frame violation →
    * None. */
  def parseWebmFrames(id: Long, b: Array[Byte]): Option[WebmFrames] = {
    // locate the V_VP8 track number, then collect SimpleBlocks
    var vp8Track = -1L
    var blocks = List.empty[Array[Byte]]
    def walk(from: Int, to: Int, inTrackEntry: Boolean,
             inCluster: Boolean): Boolean = {
      var p = from
      var curTrackNum = -1L; var curType = -1L; var curCodec = ""
      while (p < to) {
        val (eid, iw) = Ebml.vint(b, p, keepMarker = true)
        if (iw == 0) return false
        val (sz, sw) = Ebml.vint(b, p + iw, keepMarker = false)
        if (sw == 0) return false
        val bodyAt = p + iw + sw
        if (sz < 0 || bodyAt + sz > to) return false
        val end = bodyAt + sz.toInt
        eid match {
          case 0x18538067L | 0x1654AE6BL => // Segment, Tracks
            if (!walk(bodyAt, end, false, false)) return false
          case 0xAEL => // TrackEntry
            if (!walk(bodyAt, end, true, false)) return false
          case 0x1F43B675L => // Cluster
            if (!walk(bodyAt, end, false, true)) return false
          case 0xD7L if inTrackEntry => // uint body (not a vint)
            curTrackNum = beUint(b, bodyAt, end)
          case 0x83L if inTrackEntry =>
            curType = beUint(b, bodyAt, end)
          case 0x86L if inTrackEntry =>
            curCodec = new String(b, bodyAt, sz.toInt, "US-ASCII")
          case 0xA3L if inCluster => // SimpleBlock
            val (tn, tw) = Ebml.vint(b, bodyAt, keepMarker = false)
            if (tw == 0 || bodyAt + tw + 3 > end) return false
            if (tn == vp8Track)
              blocks ::= java.util.Arrays.copyOfRange(
                b, bodyAt + tw + 3, end)
          case _ => () // skip by size
        }
        p = end
      }
      if (inTrackEntry && curType == 1L && curCodec == "V_VP8")
        vp8Track = curTrackNum
      true
    }
    if (!walk(0, b.length, false, false)) return None
    if (vp8Track < 0 || blocks.isEmpty) return None
    val frames = blocks.reverse.map(decodeFrame)
    if (frames.exists(_.isEmpty)) return None
    val fs = frames.map(_.get)
    val (w, h) = (fs.head._1, fs.head._2)
    if (fs.exists(f => f._1 != w || f._2 != h)) return None
    def sum(sel: ((Int, Int, Int, Array[Int], Array[Int], Array[Int]))
        => Array[Int]): Long =
      fs.foldLeft(0L)((acc, f) => acc + sel(f).foldLeft(0L)(_ + _))
    Some(WebmFrames(id, fs.size, w, h,
      sum(_._4), sum(_._5), sum(_._6)))
  }

}
