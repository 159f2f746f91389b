package graft

import java.util.zip.{CRC32, Deflater}

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Golden vectors for png_pixel_stats (the ImageHeaderSpec
  * discipline): REAL PNGs — java.util.zip.Deflater-compressed zlib
  * streams, correct chunk CRCs, every RFC 2083 filter type — built by
  * an independent encoder in this spec, decoded by the expression,
  * and checked against channel sums computed directly from the pixel
  * arrays. The gate row (mm_decode_pixels) covers the
  * stored-deflate/zero-CRC fixture class; this spec covers what the
  * gate can't plant from SQL: real compression, filters 2-4, split
  * IDAT chunks, and the reject paths.
  */
class PngPixelSpec extends AnyFunSuite with SparkFixture with Matchers {

  /** Bytes per pixel for a supported color type (0 gray, 2 RGB,
    * 6 RGBA). */
  private def bppOf(colorType: Int): Int =
    colorType match { case 0 => 1; case 2 => 3; case 6 => 4 }

  /** Independent encoder: filters each scanline with `filterOf(y)`,
    * deflates, emits signature + IHDR + IDAT(s) + IEND with real
    * CRCs. Pixels are px(y)(x*bpp + c) ints 0..255. */
  private def encodePng(w: Int, h: Int, px: Array[Array[Int]],
      filterOf: Int => Int, idatSplit: Int = Int.MaxValue,
      colorType: Int = 2): Array[Byte] = {
    val bpp = bppOf(colorType)
    val stride = w * bpp
    val raw = new Array[Byte](h * (1 + stride))
    for (y <- 0 until h) {
      val ft = filterOf(y)
      raw(y * (1 + stride)) = ft.toByte
      for (i <- 0 until stride) {
        val cur = px(y)(i)
        val a = if (i >= bpp) px(y)(i - bpp) else 0
        val up = if (y > 0) px(y - 1)(i) else 0
        val ul = if (y > 0 && i >= bpp) px(y - 1)(i - bpp) else 0
        val pred = ft match {
          case 0 => 0
          case 1 => a
          case 2 => up
          case 3 => (a + up) >> 1
          case 4 =>
            val p = a + up - ul
            val pa = math.abs(p - a); val pb = math.abs(p - up)
            val pc = math.abs(p - ul)
            if (pa <= pb && pa <= pc) a else if (pb <= pc) up else ul
        }
        raw(y * (1 + stride) + 1 + i) = ((cur - pred) & 0xff).toByte
      }
    }
    val d = new Deflater()
    d.setInput(raw); d.finish()
    // loop until finished(): a single deflate call can truncate the
    // stream for large/incompressible fixtures (ADVICE r18)
    val zout = new java.io.ByteArrayOutputStream()
    val buf = new Array[Byte](8192)
    while (!d.finished()) zout.write(buf, 0, d.deflate(buf))
    d.end()
    val zlib = zout.toByteArray

    val out = new java.io.ByteArrayOutputStream()
    def be32(v: Long): Array[Byte] = Array(
      (v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      out.write(be32(data.length))
      val tb = typ.getBytes("US-ASCII")
      out.write(tb); out.write(data)
      val crc = new CRC32(); crc.update(tb); crc.update(data)
      out.write(be32(crc.getValue))
    }
    out.write(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a)
      .map(_.toByte))
    chunk("IHDR", be32(w) ++ be32(h) ++
      Array[Byte](8, colorType.toByte, 0, 0, 0))
    zlib.grouped(math.max(1, idatSplit)).foreach(g => chunk("IDAT", g))
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  private def decode(bytes: Array[Byte]) = {
    import spark.implicits._
    Seq(bytes).toDF("payload")
      .select(expr("png_pixel_stats(payload)").as("st"))
      .select($"st.width", $"st.height", $"st.n_pixels",
        $"st.sum_r", $"st.sum_g", $"st.sum_b")
      .collect()(0)
  }

  private def pixels(w: Int, h: Int, seed: Int): Array[Array[Int]] =
    Array.tabulate(h, w * 3)((y, i) =>
      (seed * 13 + y * 97 + i * 41 + (i * i) % 151) % 256)

  private def sums(px: Array[Array[Int]]): (Long, Long, Long) = {
    val s = Array(0L, 0L, 0L)
    for (row <- px; i <- row.indices) s(i % 3) += row(i)
    (s(0), s(1), s(2))
  }

  test("Deflater-compressed PNG with every filter type decodes exactly") {
    val (w, h) = (19, 11) // odd dims: no alignment luck
    val px = pixels(w, h, 7)
    val bytes = encodePng(w, h, px, y => y % 5) // cycles 0,1,2,3,4
    val row = decode(bytes)
    val (sr, sg, sb) = sums(px)
    (row.getInt(0), row.getInt(1), row.getLong(2)) shouldBe ((w, h, w.toLong * h))
    (row.getLong(3), row.getLong(4), row.getLong(5)) shouldBe ((sr, sg, sb))
  }

  test("Paeth-only and Average-only images decode exactly") {
    for (ft <- Seq(3, 4)) {
      val (w, h) = (8, 6)
      val px = pixels(w, h, 100 + ft)
      val row = decode(encodePng(w, h, px, _ => ft))
      val (sr, sg, sb) = sums(px)
      (row.getLong(3), row.getLong(4), row.getLong(5)) shouldBe ((sr, sg, sb))
    }
  }

  test("IDAT split across many chunks concatenates before inflate") {
    val (w, h) = (16, 9)
    val px = pixels(w, h, 42)
    val row = decode(encodePng(w, h, px, y => y % 5, idatSplit = 7))
    val (sr, sg, sb) = sums(px)
    (row.getLong(3), row.getLong(4), row.getLong(5)) shouldBe ((sr, sg, sb))
  }

  test("grayscale (type 0) decodes with gray expanded to all channels") {
    val (w, h) = (13, 7)
    val px = Array.tabulate(h, w)((y, i) =>
      (11 + y * 83 + i * 29 + (i * i) % 113) % 256)
    val row = decode(encodePng(w, h, px, y => y % 5, colorType = 0))
    val gray = px.map(_.map(_.toLong).sum).sum
    (row.getInt(0), row.getInt(1), row.getLong(2)) shouldBe ((w, h, w.toLong * h))
    (row.getLong(3), row.getLong(4), row.getLong(5)) shouldBe ((gray, gray, gray))
  }

  test("RGBA (type 6) filters through alpha but sums only RGB") {
    val (w, h) = (9, 5)
    val px = Array.tabulate(h, w * 4)((y, i) =>
      (3 + y * 59 + i * 37 + (i * i) % 97) % 256)
    val row = decode(encodePng(w, h, px, y => y % 5, colorType = 6))
    val s = Array(0L, 0L, 0L, 0L)
    for (r <- px; i <- r.indices) s(i % 4) += r(i)
    (row.getInt(0), row.getInt(1), row.getLong(2)) shouldBe ((w, h, w.toLong * h))
    (row.getLong(3), row.getLong(4), row.getLong(5)) shouldBe ((s(0), s(1), s(2)))
  }

  test("reject paths return NULL, never throw") {
    import spark.implicits._
    val good = encodePng(4, 3, pixels(4, 3, 1), _ => 0)
    val truncated = good.take(good.length - 20)
    val mislabeled = { // color type 0 at offset 25: now a SUPPORTED
      // type, but the stream holds 3 bytes/px — the exact-size check
      // must reject the mislabel instead of reading a garbage prefix
      val b = good.clone(); b(25) = 0; b
    }
    val palette = { // color type 3 stays rejected outright
      val b = good.clone(); b(25) = 3; b
    }
    val corrupt = { // flip a byte inside the deflate stream
      val b = good.clone(); b(45) = (b(45) ^ 0x5a).toByte; b
    }
    val notPng = "not a png at all".getBytes("UTF-8")
    val rows = Seq(truncated, mislabeled, palette, corrupt, notPng)
      .toDF("payload")
      .select(expr("png_pixel_stats(payload)").as("st"))
      .collect()
    all(rows.map(_.isNullAt(0))) shouldBe true
  }
}
