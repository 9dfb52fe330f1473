package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The Morton interleave must agree with a naive per-bit reference on
  * any 16-bit input, survive both execution paths (interpreted eval and
  * whole-stage codegen), and preserve the locality property the layout
  * pass depends on: nearby (x, y) points share z-prefixes.
  */
class ZValueSpec extends SparkSpec {
  import spark.implicits._

  /** Naive reference: bit i of x → bit 2i of z; bit i of y → bit 2i+1. */
  private def naive(x: Long, y: Long): Long = {
    var z = 0L
    var i = 0
    while (i < 16) {
      z |= ((x >> i) & 1L) << (2 * i)
      z |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  test("interleave16 == naive per-bit reference, random + corners") {
    val rnd = new scala.util.Random(20260815L)
    val corners = Seq(0L, 1L, 2L, 0xFFFFL, 0x8000L, 0x5555L, 0xAAAAL)
    val xs = corners ++ List.fill(500)(rnd.nextInt(65536).toLong)
    val ys = corners ++ List.fill(500)(rnd.nextInt(65536).toLong)
    xs.zip(ys).foreach { case (x, y) =>
      assert(ZValue.interleave16(x, y) === naive(x, y), s"($x, $y)")
    }
    // inputs beyond 16 bits mask down, never corrupt high z bits
    assert(ZValue.interleave16(0x1FFFFL, 0L) === naive(0xFFFFL, 0L))
    assert(ZValue.interleave16(-1L, 0L) === naive(0xFFFFL, 0L))
  }

  test("SQL function matches the Scala reference on both exec paths") {
    val rnd = new scala.util.Random(20260816L)
    val rows = List.fill(200)(
      (rnd.nextInt(65536).toLong, rnd.nextInt(65536).toLong))
    val df = rows.toDF("x", "y")
    // codegen path (default) and interpreted path (codegen disabled)
    val key = "spark.sql.codegen.factoryMode"
    val saved = spark.conf.getOption(key)
    try Seq("CODEGEN_ONLY", "NO_CODEGEN").foreach { mode =>
      spark.conf.set(key, mode)
      val got = df.select(col("x"), col("y"),
          call_function("graft_zvalue", col("x"), col("y")).as("z"))
        .collect()
      got.foreach { r =>
        assert(r.getLong(2) === ZValue.interleave16(r.getLong(0), r.getLong(1)),
          s"mode=$mode x=${r.getLong(0)} y=${r.getLong(1)}")
      }
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("null inputs yield null; non-integral inputs are rejected") {
    val df = Seq((Some(3L), None: Option[Long])).toDF("x", "y")
    val r = df.select(
      call_function("graft_zvalue", col("x"), col("y"))).collect()
    assert(r.head.isNullAt(0))
    val bad = intercept[org.apache.spark.sql.AnalysisException] {
      Seq(("a", 1L)).toDF("x", "y")
        .select(call_function("graft_zvalue", col("x"), col("y")))
        .collect()
    }
    assert(bad.getMessage.contains("integral") ||
      bad.getMessage.contains("DATATYPE_MISMATCH"))
  }

  test("locality: z-range of a small (x, y) box stays small") {
    // the reason z-order exists: a 16×16-aligned box in (x, y) space maps
    // to ONE contiguous z range of exactly 256 values, so files cut along
    // z have narrow per-dimension min/max boxes. Check on aligned tiles.
    val rnd = new scala.util.Random(20260817L)
    (1 to 50).foreach { _ =>
      val bx = rnd.nextInt(4096).toLong * 16 // aligned 16×16 tile origin
      val by = rnd.nextInt(4096).toLong * 16
      val zs = for (dx <- 0L until 16L; dy <- 0L until 16L)
        yield ZValue.interleave16(bx + dx, by + dy)
      assert(zs.max - zs.min === 255L, s"tile ($bx, $by) not contiguous")
      assert(zs.distinct.size === 256)
    }
  }
}
