package dedup

import org.scalatest.funsuite.AnyFunSuite

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = graft.TestSpark.spark

  // --- hand-built format headers (per the public specs) ---

  private def be32(v: Int) = Array[Byte]((v >>> 24).toByte, (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
  private def be16(v: Int) = Array[Byte]((v >>> 8).toByte, v.toByte)
  private def le32(v: Int) = Array[Byte](v.toByte, (v >>> 8).toByte, (v >>> 16).toByte, (v >>> 24).toByte)
  private def le16(v: Int) = Array[Byte](v.toByte, (v >>> 8).toByte)

  private def pngBytes(w: Int, h: Int): Array[Byte] =
    Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A) ++
      be32(13) ++ "IHDR".getBytes ++ be32(w) ++ be32(h) ++ Array[Byte](8, 2, 0, 0, 0)

  private def gifBytes(w: Int, h: Int): Array[Byte] =
    "GIF89a".getBytes ++ le16(w) ++ le16(h) ++ Array[Byte](0, 0, 0)

  private def bmpBytes(w: Int, h: Int): Array[Byte] =
    "BM".getBytes ++ le32(100) ++ le32(0) ++ le32(54) ++ le32(40) ++ le32(w) ++ le32(h)

  private def jpegBytes(w: Int, h: Int): Array[Byte] =
    Array[Byte](0xFF.toByte, 0xD8.toByte) ++                           // SOI
      Array[Byte](0xFF.toByte, 0xE0.toByte) ++ be16(16) ++ new Array[Byte](14) ++ // APP0
      Array[Byte](0xFF.toByte, 0xC0.toByte) ++ be16(17) ++             // SOF0
      Array[Byte](8) ++ be16(h) ++ be16(w) ++ new Array[Byte](10)

  test("imageDims parses PNG/GIF/BMP/JPEG headers; rejects truncated/non-image") {
    assert(Multimodal.imageDims(pngBytes(640, 480)) === Some((640, 480)))
    assert(Multimodal.imageDims(gifBytes(13, 37)) === Some((13, 37)))
    assert(Multimodal.imageDims(bmpBytes(1920, 1080)) === Some((1920, 1080)))
    assert(Multimodal.imageDims(jpegBytes(800, 600)) === Some((800, 600)))
    // negative BMP height = top-down orientation, dimensions still positive
    assert(Multimodal.imageDims(bmpBytes(10, -20)) === Some((10, 20)))
    assert(Multimodal.imageDims(pngBytes(640, 480).take(20)) === None)
    assert(Multimodal.imageDims(jpegBytes(800, 600).take(6)) === None)
    assert(Multimodal.imageDims("not an image at all".getBytes) === None)
    assert(Multimodal.imageDims(null) === None)
  }

  test("TIFF dims: both byte orders, SHORT and LONG types, ImageIO " +
      "cross-validation, truncation") {
    // fixture roundtrip in both endians
    assert(Multimodal.imageDims(Multimodal.tiffHeader(800, 600)) === Some((800, 600)))
    assert(Multimodal.imageDims(Multimodal.tiffHeader(800, 600, bigEndian = true))
      === Some((800, 600)))
    // byte-offset golden, little-endian: IFD at 8, entry 0 tag 256 LONG
    val le = Multimodal.tiffHeader(0x0102, 0x0304)
    assert(le.slice(0, 4).toSeq === Seq[Byte]('I', 'I', 0x2A, 0))
    assert(le.slice(10, 12).toSeq === Seq[Byte](0x00, 0x01)) // tag 256 LE
    assert(le.slice(18, 22).toSeq === Seq[Byte](0x02, 0x01, 0, 0)) // w LE
    assert(le.slice(30, 34).toSeq === Seq[Byte](0x04, 0x03, 0, 0)) // h LE
    // SHORT-typed entries (type 3, value left-justified) parse too
    val short = Multimodal.tiffHeader(77, 55)
    short(12) = 3; short(24) = 3 // LONG -> SHORT (LE type field low byte)
    assert(Multimodal.imageDims(short) === Some((77, 55)))
    // a REAL TIFF written by the JDK's own ImageIO TIFF writer
    val img = new java.awt.image.BufferedImage(31, 17,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "tiff", bos),
      "JDK must provide a TIFF writer")
    val real = bos.toByteArray
    assert(Multimodal.imageDims(real) === Some((31, 17)))
    // truncation / corruption never throws
    assert(Multimodal.imageDims(Multimodal.tiffHeader(8, 8).take(9)) === None)
    assert(Multimodal.imageDims(Multimodal.tiffHeader(8, 8).take(20)) === None)
  }

  test("pngHeader: byte-offset golden (spec layout) and parser roundtrip") {
    val b = Multimodal.pngHeader(0x01020304, 0x0A0B0C0D)
    // PNG spec: width big-endian u32 at offset 16, height at 20
    assert(b.slice(16, 20).toSeq === Seq[Byte](1, 2, 3, 4))
    assert(b.slice(20, 24).toSeq === Seq[Byte](0x0A, 0x0B, 0x0C, 0x0D))
    assert(b.slice(12, 16).toSeq === "IHDR".getBytes.toSeq)
    assert(Multimodal.imageDims(Multimodal.pngHeader(7, 9)) === Some((7, 9)))
    // constructor output matches the independently hand-built header
    // (up to its length — the hand-built one carries more IHDR fields)
    assert(Multimodal.pngHeader(640, 480).toSeq === pngBytes(640, 480).take(25).toSeq)
  }

  /** Full 24-bit BI_RGB BMP: 54-byte headers + padded pixel rows. `rows`
    * are logical TOP-DOWN RGB triples; stored bottom-up unless topDown. */
  private def bmpImage(w: Int, h: Int, rows: Seq[Seq[(Int, Int, Int)]],
      topDown: Boolean = false): Array[Byte] = {
    val stride = (w * 3 + 3) & ~3
    val px = new Array[Byte](stride * h)
    for (r <- 0 until h; c <- 0 until w) {
      val (red, g, b) = rows(r)(c)
      val sr = if (topDown) r else h - 1 - r // storage row
      val o = sr * stride + c * 3
      px(o) = b.toByte; px(o + 1) = g.toByte; px(o + 2) = red.toByte
    }
    "BM".getBytes ++ le32(54 + px.length) ++ le32(0) ++ le32(54) ++
      le32(40) ++ le32(w) ++ le32(if (topDown) -h else h) ++
      le16(1) ++ le16(24) ++ le32(0) ++ le32(px.length) ++
      le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++ px
  }

  test("decodeBmp: golden pixels — bottom-up flipped, BGR→RGB, padding " +
      "stripped; top-down variant identical; compressed/paletted rejected") {
    val rows = Seq(
      Seq((255, 0, 0), (0, 255, 0)), // logical top row: red, green
      Seq((0, 0, 255), (255, 255, 255))) // bottom: blue, white
    val expected = Array(255, 0, 0, 0, 255, 0, 0, 0, 255, 255, 255, 255)
      .map(_.toByte).toSeq
    val Some((w1, h1, rgb1)) = Multimodal.decodeBmp(bmpImage(2, 2, rows))
    assert((w1, h1) === ((2, 2)) && rgb1.toSeq === expected)
    val Some((_, _, rgb2)) = Multimodal.decodeBmp(bmpImage(2, 2, rows, topDown = true))
    assert(rgb2.toSeq === expected, "top-down storage must decode identically")
    // odd width exercises row padding: 3*3=9 bytes/row padded to 12
    val r3 = Seq.fill(2)(Seq((1, 2, 3), (4, 5, 6), (7, 8, 9)))
    val Some((_, _, rgb3)) = Multimodal.decodeBmp(bmpImage(3, 2, r3))
    assert(rgb3.toSeq === Seq(1, 2, 3, 4, 5, 6, 7, 8, 9, 1, 2, 3, 4, 5, 6, 7, 8, 9)
      .map(_.toByte))
    // compressed (BI_RLE8 at offset 30) and truncated pixels reject cleanly
    val comp = bmpImage(2, 2, rows)
    comp(30) = 1
    assert(Multimodal.decodeBmp(comp) === None)
    assert(Multimodal.decodeBmp(bmpImage(2, 2, rows).take(60)) === None)
    assert(Multimodal.decodeBmp(bmpBytes(8, 8)) === None, "header-only blob")
    assert(Multimodal.decodeBmp(null) === None)
  }

  test("encodeBmp/decodeBmp roundtrip: arbitrary pixels, odd width (row padding)") {
    for ((w, h) <- Seq((9, 8), (18, 16), (11, 9))) { // 11: stride padding
      val rgb = Array.tabulate(w * h * 3)(i => ((i * 37 + 11) % 256).toByte)
      val Some((w2, h2, back)) = Multimodal.decodeBmp(Multimodal.encodeBmp(w, h, rgb))
      assert((w2, h2) === ((w, h)))
      assert(back.toSeq === rgb.toSeq, s"roundtrip at ${w}x$h")
    }
  }

  test("dHash: hand-computed bits on a 9x8 image; brightness-shift invariant; size guard") {
    // 9x8 grayscale, one pixel per cell: column j has luma 10*j — every
    // horizontal pair decreases left-to-right? No: increases, so
    // cell(j) > cell(j+1) is false everywhere -> hash 0
    def gray(v: Int) = (v, v, v)
    def img(f: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
      val rgb = new Array[Byte](9 * 8 * 3)
      for (y <- 0 until 8; x <- 0 until 9) {
        val (r, g, b) = f(x, y)
        val p = (y * 9 + x) * 3
        rgb(p) = r.toByte; rgb(p + 1) = g.toByte; rgb(p + 2) = b.toByte
      }
      rgb
    }
    assert(Multimodal.dHash(9, 8, img((x, _) => gray(10 * x))) === Some(0L))
    // decreasing ramp: every pair left > right -> all 64 bits set (-1L)
    assert(Multimodal.dHash(9, 8, img((x, _) => gray(80 - 10 * x))) === Some(-1L))
    // single bright cell at (i=0, j=0): exactly bit 0 set
    assert(Multimodal.dHash(9, 8,
      img((x, y) => gray(if (x == 0 && y == 0) 200 else 50))) === Some(1L))
    // uniform brightness shift preserves the hash (the perceptual property)
    val base = img((x, y) => gray(10 * x + (if (y < 4) 20 else 0)))
    val brighter = img((x, y) => gray(10 * x + (if (y < 4) 20 else 0) + 30))
    assert(Multimodal.dHash(9, 8, base) === Multimodal.dHash(9, 8, brighter))
    // sub-grid images refuse (an empty block would divide by zero)
    assert(Multimodal.dHash(8, 8, new Array[Byte](8 * 8 * 3)) === None)
    assert(Multimodal.dHash(9, 7, new Array[Byte](9 * 7 * 3)) === None)
  }

  test("imageDHash + imageNearDupEdges: exact copies collide, a one-cell edit is hamming<=1 " +
      "and found by banding; undecodable blobs yield null and are skipped") {
    import spark.implicits._
    def img(seed: Int, tweak: Boolean): Array[Byte] = {
      val w = 18; val h = 16
      val rgb = new Array[Byte](w * h * 3)
      for (y <- 0 until h; x <- 0 until w) {
        val v = (seed * 31 + x * 13 + y * 7) % 200 +
          (if (tweak && x < 2 && y < 2) 55 else 0)
        val p = (y * w + x) * 3
        rgb(p) = v.toByte; rgb(p + 1) = v.toByte; rgb(p + 2) = v.toByte
      }
      Multimodal.encodeBmp(w, h, rgb)
    }
    val rows = Seq(
      (1L, img(3, tweak = false)),
      (2L, img(3, tweak = false)),          // exact copy of 1
      (3L, img(3, tweak = true)),           // near-dup of 1 (one corner cell)
      (4L, img(9, tweak = false)),          // unrelated image
      (5L, "not an image".getBytes)         // undecodable
    ).toDF("id", "img")
    val hashes = Multimodal.imageDHash(rows, "id", "img")
    val m = hashes.collect().map(r =>
      r.getLong(0) -> Option(r.get(3)).map(_.asInstanceOf[Long])).toMap
    assert(m(1L).isDefined && m(1L) === m(2L), "exact copies must collide")
    assert(m(5L).isEmpty, "undecodable blob -> null hash, row kept")
    val ham13 = java.lang.Long.bitCount(m(1L).get ^ m(3L).get)
    assert(ham13 >= 1 && ham13 <= 1, s"one-cell edit must flip exactly the one bit, got $ham13")
    assert(java.lang.Long.bitCount(m(1L).get ^ m(4L).get) > 3, "unrelated image must be far")
    // normalize (src,dst) orientation: star edges point member->rep
    val edges = Multimodal.imageNearDupEdges(hashes, DedupConfig(hammingK = 1, saltBuckets = 2))
      .select("src", "dst").collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)))).toSet
    assert(edges.contains((1L, 2L)), s"exact pair banded+verified, got $edges")
    assert(edges.contains((1L, 3L)) || edges.contains((2L, 3L)),
      s"near-dup pair must survive hamming<=1 verify, got $edges")
    assert(!edges.exists(e => e._1 == 4L || e._2 == 4L), "unrelated image has no edges")
  }

  test("decodeBmp: corrupt giant dims return None, never throw (Int-overflow guards)") {
    def bmpHeader(w: Int, h: Int): Array[Byte] = {
      val b = new Array[Byte](64)
      b(0) = 'B'; b(1) = 'M'
      def putLe32(i: Int, v: Int): Unit = {
        b(i) = v.toByte; b(i + 1) = (v >>> 8).toByte
        b(i + 2) = (v >>> 16).toByte; b(i + 3) = (v >>> 24).toByte
      }
      putLe32(10, 54); putLe32(14, 40); putLe32(18, w); putLe32(22, h)
      b(26) = 1; b(28) = 24 // planes, 24bpp, compression 0
      b
    }
    // w*3 wraps Int negative -> a wrapped rowBytes once defeated the bounds
    // check and crashed on a negative array size
    assert(Multimodal.decodeBmp(bmpHeader(800000000, 1)) === None)
    // abs(Int.MinValue) is still negative -> height guard
    assert(Multimodal.decodeBmp(bmpHeader(1, Int.MinValue)) === None)
    assert(Multimodal.decodeBmp(bmpHeader(Int.MaxValue / 2, 2)) === None)
    assert(Multimodal.decodeBmp(bmpHeader(4, -4)).isEmpty) // top-down but truncated
  }

  // --------------------------------------------------- PNG / GIF codecs

  private def testPixels(w: Int, h: Int, d: Int = 0): Array[Byte] =
    Array.tabulate(w * h * 3) { i =>
      val p = i / 3; val x = p % w; val y = p / w
      (i % 3 match {
        case 0 => (d * 31 + x * 7 + y * 13) % 256
        case 1 => (d * 17 + x * 11 + y * 5) % 256
        case _ => (d * 23 + x * 3 + y * 19) % 256
      }).toByte
    }

  test("encodePng/decodePng roundtrip: every filter type, odd sizes, 1-pixel edges") {
    for ((w, h) <- Seq((1, 1), (1, 7), (7, 1), (9, 8), (18, 16), (11, 9))) {
      val rgb = testPixels(w, h, w + h)
      // default rowFilter cycles 0..4 — all five unfilter branches run
      val Some((w2, h2, back)) = Multimodal.decodePng(Multimodal.encodePng(w, h, rgb))
      assert((w2, h2) === ((w, h)))
      assert(back.toSeq === rgb.toSeq, s"roundtrip at ${w}x$h")
      // each filter alone as well (Paeth needs x>=3 AND y>0 paths)
      for (f <- 0 to 4) {
        val one = Multimodal.decodePng(Multimodal.encodePng(w, h, rgb, _ => f))
        assert(one.map(_._3.toSeq) === Some(rgb.toSeq), s"filter $f at ${w}x$h")
      }
    }
  }

  test("decodeTiff: both byte orders, PackBits, multi-strip, WhiteIsZero; " +
      "golden vs the JDK's own TIFF codec both directions") {
    val w = 21; val h = 13
    val rgb = testPixels(w, h, 5)
    // our encoder -> our decoder, all (endian × compression) corners
    for (be <- Seq(false, true); comp <- Seq("none", "pb", "lzw")) {
      val Some((w1, h1, back)) = Multimodal.decodeTiff(Multimodal.encodeTiff(
        w, h, rgb, be, packBits = comp == "pb", lzw = comp == "lzw"))
      assert((w1, h1) === ((w, h)), s"be=$be comp=$comp")
      assert(back.toSeq === rgb.toSeq, s"pixels be=$be comp=$comp")
    }
    // our LZW wire read by the JDK's decoder (width-change alignment is
    // the classic cross-implementation trap); a long repetitive raster
    // pushes the table past the 511/1023 early-change points
    val bigW = 64; val bigH = 48
    val bigRgb = Array.tabulate(bigW * bigH * 3)(i => ((i / 7) % 251).toByte)
    val ourLzw = Multimodal.encodeTiff(bigW, bigH, bigRgb, lzw = true)
    assert(Multimodal.decodeTiff(ourLzw).get._3.toSeq === bigRgb.toSeq)
    val jdkImg = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(ourLzw))
    assert(jdkImg != null && jdkImg.getWidth === bigW && jdkImg.getHeight === bigH)
    for (y <- 0 until bigH; x <- 0 until bigW) {
      val p = (y * bigW + x) * 3
      assert((jdkImg.getRGB(x, y) & 0xFFFFFF) ===
        (((bigRgb(p) & 0xFF) << 16) | ((bigRgb(p + 1) & 0xFF) << 8) | (bigRgb(p + 2) & 0xFF)),
        s"jdk-lzw $x,$y")
    }
    // our encoder -> JDK decoder (JDK 9+ ships a TIFF ImageIO plugin)
    for (pb <- Seq(false, true)) {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(Multimodal.encodeTiff(w, h, rgb, packBits = pb)))
      assert(img != null && img.getWidth === w && img.getHeight === h, s"pb=$pb")
      for (y <- 0 until h; x <- 0 until w) {
        val argb = img.getRGB(x, y); val p = (y * w + x) * 3
        assert(((argb >> 16) & 0xFF) === (rgb(p) & 0xFF), s"R $x,$y pb=$pb")
        assert(((argb >> 8) & 0xFF) === (rgb(p + 1) & 0xFF), s"G $x,$y pb=$pb")
        assert((argb & 0xFF) === (rgb(p + 2) & 0xFF), s"B $x,$y pb=$pb")
      }
    }
    // JDK encoder -> our decoder (RGB and gray rasters)
    for (imgType <- Seq(java.awt.image.BufferedImage.TYPE_INT_RGB,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY)) {
      val src = new java.awt.image.BufferedImage(w, h, imgType)
      for (y <- 0 until h; x <- 0 until w) {
        val p = (y * w + x) * 3
        src.setRGB(x, y, 0xFF000000 | ((rgb(p) & 0xFF) << 16) |
          ((rgb(p + 1) & 0xFF) << 8) | (rgb(p + 2) & 0xFF))
      }
      val buf = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(src, "tiff", buf), "JDK must write TIFF")
      val Some((w2, h2, back)) = Multimodal.decodeTiff(buf.toByteArray)
      assert((w2, h2) === ((w, h)), s"dims type $imgType")
      val gray = imgType == java.awt.image.BufferedImage.TYPE_BYTE_GRAY
      for (y <- 0 until h; x <- 0 until w) {
        val p = (y * w + x) * 3
        if (gray) {
          val s = src.getRaster.getSample(x, y, 0)
          assert((back(p) & 0xFF) === s, s"gray $x,$y")
        } else {
          val argb = src.getRGB(x, y)
          assert((back(p) & 0xFF) === ((argb >> 16) & 0xFF), s"R $x,$y")
          assert((back(p + 1) & 0xFF) === ((argb >> 8) & 0xFF), s"G $x,$y")
          assert((back(p + 2) & 0xFF) === (argb & 0xFF), s"B $x,$y")
        }
      }
    }
    // compressed variants via the JDK's own TIFF writer: LZW (the
    // MSB-first early-change variant), ZLib/Deflate, PackBits — decoded
    // by OUR strip machinery and compared pixel-exact
    for (ctype <- Seq("LZW", "ZLib", "Deflate", "PackBits");
         imgType <- Seq(java.awt.image.BufferedImage.TYPE_INT_RGB,
           java.awt.image.BufferedImage.TYPE_BYTE_GRAY)) {
      val src = new java.awt.image.BufferedImage(w, h, imgType)
      for (y <- 0 until h; x <- 0 until w) {
        val p = (y * w + x) * 3
        src.setRGB(x, y, 0xFF000000 | ((rgb(p) & 0xFF) << 16) |
          ((rgb(p + 1) & 0xFF) << 8) | (rgb(p + 2) & 0xFF))
      }
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
      val wparam = writer.getDefaultWriteParam
      wparam.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      wparam.setCompressionType(ctype)
      val buf = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(buf)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(src, null, null), wparam)
      ios.close(); writer.dispose()
      val Some((w3, h3, back)) = Multimodal.decodeTiff(buf.toByteArray)
      assert((w3, h3) === ((w, h)), s"dims $ctype type $imgType")
      val gray = imgType == java.awt.image.BufferedImage.TYPE_BYTE_GRAY
      for (y <- 0 until h; x <- 0 until w) {
        val p = (y * w + x) * 3
        if (gray)
          assert((back(p) & 0xFF) === src.getRaster.getSample(x, y, 0),
            s"gray $x,$y $ctype")
        else {
          val argb = src.getRGB(x, y)
          assert((back(p) & 0xFF) === ((argb >> 16) & 0xFF), s"R $x,$y $ctype")
          assert((back(p + 1) & 0xFF) === ((argb >> 8) & 0xFF), s"G $x,$y $ctype")
          assert((back(p + 2) & 0xFF) === (argb & 0xFF), s"B $x,$y $ctype")
        }
      }
    }
    // random high-entropy raster: the dictionary passes 4094 entries and
    // the encoder's mid-stream Clear + every width change must stay
    // aligned with BOTH our decoder and the JDK's
    {
      val rw = 100; val rh = 60
      val rnd = new scala.util.Random(99)
      val rrgb = new Array[Byte](rw * rh * 3)
      rnd.nextBytes(rrgb)
      val wire = Multimodal.encodeTiff(rw, rh, rrgb, lzw = true)
      assert(Multimodal.decodeTiff(wire).get._3.toSeq === rrgb.toSeq,
        "random LZW roundtrip (table reset path)")
      val jdk = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(wire))
      assert(jdk != null && jdk.getWidth === rw)
      for (y <- 0 until rh; x <- 0 until rw) {
        val p = (y * rw + x) * 3
        assert((jdk.getRGB(x, y) & 0xFFFFFF) ===
          (((rrgb(p) & 0xFF) << 16) | ((rrgb(p + 1) & 0xFF) << 8) | (rrgb(p + 2) & 0xFF)),
          s"jdk random-lzw $x,$y")
      }
    }
    // Predictor 2 (horizontal differencing): hand-difference a gray
    // raster, declare tag 317=2, expect the original back
    {
      val gw = 6; val gh = 3
      val orig = Array.tabulate(gw * gh)(i => ((i * 37 + 11) % 256).toByte)
      val diffed = orig.clone()
      for (y <- 0 until gh; x <- (gw - 1) to 1 by -1)
        diffed(y * gw + x) = (orig(y * gw + x) - orig(y * gw + x - 1)).toByte
      val nE = 9
      val pixOff = 8 + 2 + nE * 12 + 4
      val bb = java.nio.ByteBuffer.allocate(pixOff + gw * gh)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
      bb.putShort(nE.toShort)
      def ent2(tag: Int, tpe: Int, cnt: Int, v: Int): Unit = {
        bb.putShort(tag.toShort); bb.putShort(tpe.toShort); bb.putInt(cnt); bb.putInt(v)
      }
      ent2(256, 4, 1, gw); ent2(257, 4, 1, gh); ent2(258, 3, 1, 8)
      ent2(259, 3, 1, 1); ent2(262, 3, 1, 1); ent2(273, 4, 1, pixOff)
      ent2(277, 3, 1, 1); ent2(279, 4, 1, gw * gh); ent2(317, 3, 1, 2)
      bb.putInt(0); bb.put(diffed)
      val Some((_, _, undone)) = Multimodal.decodeTiff(bb.array())
      for (i <- 0 until gw * gh)
        assert((undone(i * 3) & 0xFF) === (orig(i) & 0xFF), s"predictor px $i")
    }
    // WhiteIsZero: photometric 0 inverts — patch a hand-built gray file
    val g = Array.tabulate(16)(i => (i * 16).toByte)
    val bb = java.nio.ByteBuffer.allocate(8 + 2 + 8 * 12 + 4 + 16)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put('I'.toByte).put('I'.toByte).putShort(42).putInt(8)
    bb.putShort(8)
    def ent(tag: Int, tpe: Int, cnt: Int, v: Int): Unit = {
      bb.putShort(tag.toShort); bb.putShort(tpe.toShort); bb.putInt(cnt); bb.putInt(v)
    }
    val pixOff = 8 + 2 + 8 * 12 + 4
    ent(256, 4, 1, 4); ent(257, 4, 1, 4); ent(258, 3, 1, 8)
    ent(259, 3, 1, 1); ent(262, 3, 1, 0) // WhiteIsZero
    ent(273, 4, 1, pixOff); ent(277, 3, 1, 1); ent(279, 4, 1, 16)
    bb.putInt(0); bb.put(g)
    val Some((_, _, inv)) = Multimodal.decodeTiff(bb.array())
    for (i <- 0 until 16)
      assert((inv(i * 3) & 0xFF) === 255 - (g(i) & 0xFF), s"invert $i")
    // imageDHash routes TIFF through the real decoder (format-agnostic)
    assert(Multimodal.decodeImage(Multimodal.encodeTiff(w, h, rgb)).isDefined)
    // corrupt: truncated strip and LZW compression reject as None
    val lzw = Multimodal.encodeTiff(4, 4, new Array[Byte](48))
    lzw(8 + 2 + 3 * 12 + 8) = 5 // Compression entry (index 3) value -> 5 (LZW)
    assert(Multimodal.decodeTiff(lzw) === None)
    assert(Multimodal.decodeTiff(
      Multimodal.encodeTiff(w, h, rgb).dropRight(50)) === None)
  }

  test("decodePng golden vs the JDK's own codec (ImageIO), both directions") {
    val w = 23; val h = 17
    val rgb = testPixels(w, h, 3)
    // our encoder -> JDK decoder
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Multimodal.encodePng(w, h, rgb)))
    assert(img.getWidth === w && img.getHeight === h)
    for (y <- 0 until h; x <- 0 until w) {
      val argb = img.getRGB(x, y)
      val p = (y * w + x) * 3
      assert(((argb >> 16) & 0xFF) === (rgb(p) & 0xFF), s"R at $x,$y")
      assert(((argb >> 8) & 0xFF) === (rgb(p + 1) & 0xFF), s"G at $x,$y")
      assert((argb & 0xFF) === (rgb(p + 2) & 0xFF), s"B at $x,$y")
    }
    // JDK encoder -> our decoder (truecolor, gray and RGBA sources:
    // exercises color types 2, 0 and 6)
    for (imgType <- Seq(java.awt.image.BufferedImage.TYPE_INT_RGB,
        java.awt.image.BufferedImage.TYPE_BYTE_GRAY,
        java.awt.image.BufferedImage.TYPE_INT_ARGB)) {
      val src = new java.awt.image.BufferedImage(w, h, imgType)
      for (y <- 0 until h; x <- 0 until w) {
        val p = (y * w + x) * 3
        src.setRGB(x, y, 0xFF000000 | ((rgb(p) & 0xFF) << 16) |
          ((rgb(p + 1) & 0xFF) << 8) | (rgb(p + 2) & 0xFF))
      }
      val buf = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(src, "png", buf)
      val Some((w2, h2, back)) = Multimodal.decodePng(buf.toByteArray)
      assert((w2, h2) === ((w, h)), s"dims for type $imgType")
      val gray = imgType == java.awt.image.BufferedImage.TYPE_BYTE_GRAY
      for (y <- 0 until h; x <- 0 until w) {
        val p = (y * w + x) * 3
        if (gray) {
          // getRGB on TYPE_BYTE_GRAY color-converts (linear->sRGB); the
          // PNG stores the RAW raster sample — compare against that
          val s = src.getRaster.getSample(x, y, 0)
          assert((back(p) & 0xFF) === s && (back(p + 1) & 0xFF) === s &&
            (back(p + 2) & 0xFF) === s, s"gray $x,$y")
        } else {
          val argb = src.getRGB(x, y)
          assert((back(p) & 0xFF) === ((argb >> 16) & 0xFF), s"R $x,$y type $imgType")
          assert((back(p + 1) & 0xFF) === ((argb >> 8) & 0xFF), s"G $x,$y type $imgType")
          assert((back(p + 2) & 0xFF) === (argb & 0xFF), s"B $x,$y type $imgType")
        }
      }
    }
  }

  test("decodeTiff tiled layout: JDK-written tiled TIFFs (plain and LZW) decode " +
      "pixel-exact, edge tiles clipped") {
    for (ctype <- Seq(None, Some("LZW"));
         imgType <- Seq(java.awt.image.BufferedImage.TYPE_INT_RGB,
           java.awt.image.BufferedImage.TYPE_BYTE_GRAY)) {
      val w = 70; val h = 50 // 32x32 tiles -> 3x2 grid with clipped edges
      val rgb = testPixels(w, h, 13)
      val src = new java.awt.image.BufferedImage(w, h, imgType)
      for (y <- 0 until h; x <- 0 until w) {
        val p = (y * w + x) * 3
        src.setRGB(x, y, 0xFF000000 | ((rgb(p) & 0xFF) << 16) |
          ((rgb(p + 1) & 0xFF) << 8) | (rgb(p + 2) & 0xFF))
      }
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("tiff").next()
      val param = writer.getDefaultWriteParam
      param.setTilingMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      param.setTiling(32, 32, 0, 0)
      ctype.foreach { c =>
        param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
        param.setCompressionType(c)
      }
      val buf = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(buf)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(src, null, null), param)
      ios.close(); writer.dispose()
      val Some((w2, h2, back)) = Multimodal.decodeTiff(buf.toByteArray)
      assert((w2, h2) === ((w, h)), s"dims $ctype type $imgType")
      val gray = imgType == java.awt.image.BufferedImage.TYPE_BYTE_GRAY
      for (y <- 0 until h; x <- 0 until w) {
        val p = (y * w + x) * 3
        if (gray) assert((back(p) & 0xFF) === src.getRaster.getSample(x, y, 0),
          s"gray $x,$y $ctype")
        else {
          val argb = src.getRGB(x, y)
          assert((back(p) & 0xFF) === ((argb >> 16) & 0xFF), s"R $x,$y $ctype")
          assert((back(p + 1) & 0xFF) === ((argb >> 8) & 0xFF), s"G $x,$y $ctype")
          assert((back(p + 2) & 0xFF) === (argb & 0xFF), s"B $x,$y $ctype")
        }
      }
    }
  }

  test("decodeTiff/decodeWavImaAdpcm fuzz: truncations and bit flips never throw; " +
      "giant-dim and hostile-header bombs rejected") {
    val w = 13; val h = 9
    val rgb = testPixels(w, h, 7)
    for (pb <- Seq(false, true)) {
      val good = Multimodal.encodeTiff(w, h, rgb, packBits = pb)
      for (cut <- Seq(4, 9, 30, 80, good.length / 2, good.length - 7))
        Multimodal.decodeTiff(good.take(cut)) // Option either way — no throw
      for (i <- good.indices by 5) {
        val bad = good.clone; bad(i) = (bad(i) ^ 0x55).toByte
        Multimodal.decodeTiff(bad)
      }
    }
    // decompression-bomb guard: claimed 66k×66k raster from a 200-byte file
    val bomb = Multimodal.encodeTiff(4, 4, new Array[Byte](48))
    // ImageWidth entry (index 0) LONG value at 10+8=18; ImageLength at 10+12+8=30
    def putLe32(a: Array[Byte], i: Int, v: Int): Unit = {
      a(i) = v.toByte; a(i + 1) = (v >>> 8).toByte
      a(i + 2) = (v >>> 16).toByte; a(i + 3) = (v >>> 24).toByte
    }
    putLe32(bomb, 18, 66000); putLe32(bomb, 30, 66000)
    assert(Multimodal.decodeTiff(bomb) === None, "256 MiB raster cap")
    // hostile strip offset pointing past EOF
    val oob = Multimodal.encodeTiff(4, 4, new Array[Byte](48))
    putLe32(oob, 10 + 5 * 12 + 8, 1 << 28) // StripOffsets entry (index 5)
    assert(Multimodal.decodeTiff(oob) === None, "strip offset out of bounds")
    // unpackBits goldens: literal+repeat runs, -128 noop, overrun/underrun None
    assert(Multimodal.unpackBits(Array[Byte](2, 10, 20, 30, -2, 7), 0, 6, 6)
      .map(_.toSeq) === Some(Seq[Byte](10, 20, 30, 7, 7, 7)))
    assert(Multimodal.unpackBits(Array[Byte](-128, 1, 65, 66), 0, 4, 2)
      .map(_.toSeq) === Some(Seq[Byte](65, 66)))
    assert(Multimodal.unpackBits(Array[Byte](127, 1, 2), 0, 3, 200) === None)
    assert(Multimodal.unpackBits(Array[Byte](-5, 7), 0, 2, 2) === None)
  }

  test("decodePng Adam7: interlaced streams from the JDK's progressive writer " +
      "decode pixel-exact (incl. sub-8px dims with empty passes)") {
    for ((w, h) <- Seq((23, 17), (3, 2), (20, 9), (8, 8), (1, 1));
         imgType <- Seq(java.awt.image.BufferedImage.TYPE_INT_RGB,
           java.awt.image.BufferedImage.TYPE_BYTE_GRAY)) {
      val rgb = testPixels(w, h, w * 31 + h)
      val src = new java.awt.image.BufferedImage(w, h, imgType)
      for (y <- 0 until h; x <- 0 until w) {
        val p = (y * w + x) * 3
        src.setRGB(x, y, 0xFF000000 | ((rgb(p) & 0xFF) << 16) |
          ((rgb(p + 1) & 0xFF) << 8) | (rgb(p + 2) & 0xFF))
      }
      val writer = javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
      val param = writer.getDefaultWriteParam
      param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT) // Adam7
      val buf = new java.io.ByteArrayOutputStream()
      val ios = javax.imageio.ImageIO.createImageOutputStream(buf)
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(src, null, null), param)
      ios.close(); writer.dispose()
      val png = buf.toByteArray
      assert(png(28 + 0) === 1.toByte, s"writer must emit interlace=1 ${w}x$h")
      val Some((w2, h2, back)) = Multimodal.decodePng(png)
      assert((w2, h2) === ((w, h)), s"dims ${w}x$h type $imgType")
      val gray = imgType == java.awt.image.BufferedImage.TYPE_BYTE_GRAY
      for (y <- 0 until h; x <- 0 until w) {
        val p = (y * w + x) * 3
        if (gray) assert((back(p) & 0xFF) === src.getRaster.getSample(x, y, 0),
          s"gray $x,$y ${w}x$h")
        else {
          val argb = src.getRGB(x, y)
          assert((back(p) & 0xFF) === ((argb >> 16) & 0xFF), s"R $x,$y ${w}x$h")
          assert((back(p + 1) & 0xFF) === ((argb >> 8) & 0xFF), s"G $x,$y ${w}x$h")
          assert((back(p + 2) & 0xFF) === (argb & 0xFF), s"B $x,$y ${w}x$h")
        }
      }
    }
  }

  test("decodePng 16-bit: JDK-written USHORT-gray PNGs decode to the high byte") {
    val w = 19; val h = 11
    val src = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_USHORT_GRAY)
    val rnd = new scala.util.Random(5)
    for (y <- 0 until h; x <- 0 until w)
      src.getRaster.setSample(x, y, 0, rnd.nextInt(65536))
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(src, "png", buf)
    val png = buf.toByteArray
    assert((png(24) & 0xFF) === 16, "writer must emit bit depth 16")
    val Some((w2, h2, back)) = Multimodal.decodePng(png)
    assert((w2, h2) === ((w, h)))
    for (y <- 0 until h; x <- 0 until w) {
      val p = (y * w + x) * 3
      assert((back(p) & 0xFF) === (src.getRaster.getSample(x, y, 0) >> 8),
        s"high byte $x,$y")
    }
  }

  test("decodePng: truncated/corrupt/interlaced/16-bit rejected as None, never thrown") {
    val good = Multimodal.encodePng(9, 8, testPixels(9, 8))
    // cuts that damage the raster data reject; a trailer-only cut (IDAT
    // complete, IEND gone) still decodes — deliberate data-recovery
    // leniency for truncated-in-flight crawl payloads
    for (cut <- Seq(8, 20, 33, good.length / 2))
      assert(Multimodal.decodePng(good.take(cut)).isEmpty, s"truncated at $cut")
    assert(Multimodal.decodePng(good.take(good.length - 5)).map(_._3.toSeq) ===
      Some(testPixels(9, 8).toSeq), "complete IDAT without IEND recovers")
    val interlaced = good.clone; interlaced(28) = 1 // IHDR interlace byte
    // the flag now selects the REAL Adam7 path, whose pass layout needs
    // more raw bytes than this sequential stream carries -> None, not a
    // mis-scattered raster
    assert(Multimodal.decodePng(interlaced).isEmpty,
      "interlace flag inconsistent with stream length")
    val deep = good.clone; deep(24) = 16
    // 16-bit is now a real path: a patched depth flag over an 8-bit
    // stream is length-inconsistent -> None, not a garbled raster
    assert(Multimodal.decodePng(deep).isEmpty, "depth flag inconsistent with stream")
    val giant = good.clone // IHDR w = 2^24: decompression-bomb guard
    giant(16) = 1; giant(17) = 0; giant(18) = 0; giant(19) = 0
    assert(Multimodal.decodePng(giant).isEmpty, "raster cap")
    // bit flips anywhere must never throw
    for (i <- good.indices by 7) {
      val bad = good.clone; bad(i) = (bad(i) ^ 0x55).toByte
      Multimodal.decodePng(bad) // Option either way — just must not throw
    }
  }

  test("encodeGif/decodeGif roundtrip: palette mapping, LZW table growth past 12-bit widths") {
    // small image, small palette
    val pal = Array.tabulate(4 * 3)(i => ((i * 29 + 5) % 256).toByte)
    val idx = Array.tabulate[Byte](7 * 5)(i => (i % 4).toByte)
    val Some((w, h, rgb)) = Multimodal.decodeGif(Multimodal.encodeGif(7, 5, idx, pal))
    assert((w, h) === ((7, 5)))
    for (i <- idx.indices; c <- 0 to 2)
      assert(rgb(i * 3 + c) === pal((idx(i) & 0xFF) * 3 + c), s"pixel $i ch $c")
    // large pseudorandom image with a 256-entry palette: the LZW dict
    // must grow through every code width to 4096 and hit the clear path
    val pal256 = Array.tabulate(256 * 3)(i => ((i * 7 + 1) % 256).toByte)
    val big = Array.tabulate[Byte](256 * 200) { i =>
      (((i * 2654435761L) >>> 13) % 256).toByte // LCG-ish: few repeats
    }
    val Some((bw, bh, bRgb)) = Multimodal.decodeGif(Multimodal.encodeGif(256, 200, big, pal256))
    assert((bw, bh) === ((256, 200)))
    for (i <- 0 until big.length by 997; c <- 0 to 2)
      assert(bRgb(i * 3 + c) === pal256((big(i) & 0xFF) * 3 + c), s"big pixel $i")
    // highly repetitive image (KwKwK-heavy): all-same and ababab rows
    val rep = Array.tabulate[Byte](64 * 64)(i => if ((i / 64) % 2 == 0) 0 else (i % 2).toByte)
    val Some((_, _, repRgb)) = Multimodal.decodeGif(Multimodal.encodeGif(64, 64, rep, pal))
    for (i <- rep.indices)
      assert(repRgb(i * 3) === pal((rep(i) & 0xFF) * 3), s"rep pixel $i")
  }

  test("decodeGif golden vs the JDK's own codec (ImageIO), both directions") {
    val w = 21; val h = 13
    val pal = Array.tabulate(16 * 3)(i => ((i * 37 + 3) % 256).toByte)
    val idx = Array.tabulate[Byte](w * h)(i => ((i * 5 + i / w) % 16).toByte)
    val ours = Multimodal.encodeGif(w, h, idx, pal)
    // our encoder -> JDK decoder
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(ours))
    assert(img.getWidth === w && img.getHeight === h)
    for (y <- 0 until h; x <- 0 until w) {
      val argb = img.getRGB(x, y)
      val pi = (idx(y * w + x) & 0xFF) * 3
      assert(((argb >> 16) & 0xFF) === (pal(pi) & 0xFF), s"R at $x,$y")
      assert(((argb >> 8) & 0xFF) === (pal(pi + 1) & 0xFF), s"G at $x,$y")
      assert((argb & 0xFF) === (pal(pi + 2) & 0xFF), s"B at $x,$y")
    }
    // JDK encoder -> our decoder: same pixels via an explicit indexed model
    val cm = new java.awt.image.IndexColorModel(4, 16,
      Array.tabulate[Byte](16)(i => pal(i * 3)),
      Array.tabulate[Byte](16)(i => pal(i * 3 + 1)),
      Array.tabulate[Byte](16)(i => pal(i * 3 + 2)))
    val src = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, cm)
    for (y <- 0 until h; x <- 0 until w) {
      val pi = (idx(y * w + x) & 0xFF) * 3
      src.setRGB(x, y, 0xFF000000 | ((pal(pi) & 0xFF) << 16) |
        ((pal(pi + 1) & 0xFF) << 8) | (pal(pi + 2) & 0xFF))
    }
    val buf = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(src, "gif", buf)
    val Some((w2, h2, back)) = Multimodal.decodeGif(buf.toByteArray)
    assert((w2, h2) === ((w, h)))
    for (y <- 0 until h; x <- 0 until w) {
      val pi = (idx(y * w + x) & 0xFF) * 3
      val p = (y * w + x) * 3
      assert((back(p) & 0xFF) === (pal(pi) & 0xFF) &&
        (back(p + 1) & 0xFF) === (pal(pi + 1) & 0xFF) &&
        (back(p + 2) & 0xFF) === (pal(pi + 2) & 0xFF), s"pixel $x,$y")
    }
  }

  test("decodeGif: interlaced frames (4-pass row order) and corrupt bytes") {
    val w = 9; val h = 11 // odd height exercises every interlace pass
    val pal = Array.tabulate(8 * 3)(i => ((i * 41 + 7) % 256).toByte)
    val idx = Array.tabulate[Byte](w * h)(i => (i % 8).toByte)
    // storage row r holds logical row rowOrder(r) per GIF spec appendix E
    val order = (Seq(0 until h by 8, 4 until h by 8, 2 until h by 4, 1 until h by 2)
      .flatten).toArray
    val stored = new Array[Byte](w * h)
    for (r <- 0 until h; x <- 0 until w) stored(r * w + x) = idx(order(r) * w + x)
    val plain = Multimodal.encodeGif(w, h, stored, pal)
    // flip the interlace bit in the image descriptor (after header+LSD+table)
    val descOff = 6 + 7 + 3 * 8 // 8-entry global table (tableBits=3)
    assert(plain(descOff) === 0x2C.toByte, "image descriptor located")
    val inter = plain.clone
    inter(descOff + 9) = (inter(descOff + 9) | 0x40).toByte
    val Some((_, _, rgb)) = Multimodal.decodeGif(inter)
    for (i <- idx.indices)
      assert(rgb(i * 3) === pal((idx(i) & 0xFF) * 3), s"deinterlaced pixel $i")
    // truncations / flips never throw; cuts inside the LZW data reject,
    // a trailer-only cut (data complete) recovers — same leniency as PNG
    for (cut <- Seq(5, 12, descOff + 3, descOff + 15))
      assert(Multimodal.decodeGif(plain.take(cut)).isEmpty, s"truncated at $cut")
    assert(Multimodal.decodeGif(plain.take(plain.length - 2)).isDefined,
      "complete LZW data without trailer recovers")
    for (i <- plain.indices by 5) {
      val bad = plain.clone; bad(i) = (bad(i) ^ 0x55).toByte
      Multimodal.decodeGif(bad)
    }
  }

  test("imageDHash routes PNG and GIF through the real decoders (format-agnostic hash)") {
    import spark.implicits._
    val rgb = testPixels(18, 16, 5)
    val pal = Array.tabulate(256 * 3)(i => (i / 3).toByte) // gray palette
    val lumaIdx = Array.tabulate[Byte](18 * 16) { p =>
      val r = rgb(p * 3) & 0xFF; val g = rgb(p * 3 + 1) & 0xFF; val b = rgb(p * 3 + 2) & 0xFF
      ((299 * r + 587 * g + 114 * b) / 1000).toByte
    }
    val df = Seq(
      (1L, Multimodal.encodeBmp(18, 16, rgb)),
      (2L, Multimodal.encodePng(18, 16, rgb)),
      (3L, Multimodal.encodeGif(18, 16, lumaIdx, pal))).toDF("id", "img")
    val out = Multimodal.imageDHash(df, "id", "img").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) None else Some(r.getLong(3)))).toMap
    assert(out(1L).isDefined && out(1L) === out(2L),
      "identical pixels => identical dHash across BMP and PNG containers")
    // the GIF is the LUMA image of the same picture: dHash is luma-based,
    // so it must collide with the color originals too
    assert(out(3L) === out(1L), "gray-palette GIF of same luma collides")
  }
}
