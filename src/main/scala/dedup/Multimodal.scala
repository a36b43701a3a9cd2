package dedup

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Image columns held as opaque bytes: header parsing, codec-free pixel
  * decode and perceptual-hash near-dup edges.
  *
  *   1. Header parsing, no decode: [[imageDims]] reads width and height
  *      from PNG, GIF, BMP, TIFF and JPEG headers; [[pngHeader]] and
  *      [[tiffHeader]] build the matching fixture bytes.
  *   2. Pixel decode for every format implementable without media
  *      libraries: BMP ([[decodeBmp]]) is a plain byte layout; PNG
  *      ([[decodePng]]) is DEFLATE (the JDK ships Inflater) plus five
  *      scanline filters; GIF ([[decodeGif]]) is tabular LZW; TIFF
  *      ([[decodeTiff]]) is LZW, Deflate or PackBits strips and tiles.
  *      [[decodeImage]] dispatches to them. Encoders for all four
  *      ([[encodeBmp]], [[encodePng]], [[encodeGif]], [[encodeTiff]])
  *      make the round-trips golden-testable.
  *   3. Near-dup detection: [[dHash]] fingerprints decoded pixels,
  *      [[imageDHash]] does it over a binary column, and
  *      [[imageNearDupEdges]] bands and verifies the fingerprints with
  *      SimHash's pigeonhole machinery ([[fingerprintNearDupEdges]]).
  */
object Multimodal {

  /** The image container `bytes` start with, by magic number: "png",
    * "jpeg", "gif", "bmp", "tiff", or "" for anything else (null and
    * blobs shorter than 4 bytes included). */
  private def imageMagic(bytes: Array[Byte]): String = {
    if (bytes == null || bytes.length < 4) ""
    else if (bytes(0) == 0x89.toByte && bytes(1) == 'P' && bytes(2) == 'N' && bytes(3) == 'G') "png"
    else if (bytes(0) == 0xFF.toByte && bytes(1) == 0xD8.toByte) "jpeg"
    else if (bytes(0) == 'G' && bytes(1) == 'I' && bytes(2) == 'F') "gif"
    else if (bytes(0) == 'B' && bytes(1) == 'M' && bytes.length >= 26) "bmp"
    else if (bytes(0) == 'I' && bytes(1) == 'I' &&
             bytes(2) == 0x2A.toByte && bytes(3) == 0) "tiff" // little-endian
    else if (bytes(0) == 'M' && bytes(1) == 'M' &&
             bytes(2) == 0 && bytes(3) == 0x2A.toByte) "tiff" // big-endian
    else ""
  }

  /** REAL image-dimension extraction by header parsing — pure byte
    * inspection, no codec (the container formats put dimensions at fixed
    * or marker-addressed offsets):
    *   PNG  — IHDR width/height, big-endian u32 at bytes 16/20 (spec §11.2.2)
    *   GIF  — logical screen descriptor, little-endian u16 at bytes 6/8
    *   BMP  — BITMAPINFOHEADER, little-endian i32 at bytes 18/22
    *   TIFF — IFD0 walk (both byte orders), tags 256/257, SHORT or LONG
    *   JPEG — scan segments for SOF0..SOF15 (not DHT/JPG/DAC), height/width
    *          big-endian u16 at marker+5/+7
    * Returns None for truncated or non-image bytes — never throws. */
  def imageDims(bytes: Array[Byte]): Option[(Int, Int)] = {
    if (bytes == null) return None
    def u8(i: Int) = bytes(i) & 0xFF
    def be16(i: Int) = (u8(i) << 8) | u8(i + 1)
    def be32(i: Int) = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def le16(i: Int) = (u8(i + 1) << 8) | u8(i)
    def le32(i: Int) = (u8(i + 3) << 24) | (u8(i + 2) << 16) | (u8(i + 1) << 8) | u8(i)
    imageMagic(bytes) match {
      case "png" if bytes.length >= 24 && be32(12) == 0x49484452 => // "IHDR"
        Some((be32(16), be32(20)))
      case "gif" if bytes.length >= 10 =>
        Some((le16(6), le16(8)))
      case "bmp" if bytes.length >= 26 =>
        Some((le32(18), math.abs(le32(22)))) // height may be negative (top-down)
      case "tiff" if bytes.length >= 8 =>
        // TIFF 6.0 §2: IFD0 offset at byte 4 (endian per magic); each
        // 12-byte entry = tag u16, type u16, count u32, value u32 —
        // values are LEFT-justified in the 4-byte field, so a SHORT
        // reads at entry+8 in either endianness. Tags 256/257 =
        // ImageWidth/ImageLength, types SHORT(3) or LONG(4).
        val le = bytes(0) == 'I'
        def u16e(i: Int) = if (le) le16(i) else be16(i)
        def u32e(i: Int) = if (le) le32(i) else be32(i)
        val ifd = u32e(4)
        if (ifd < 8 || ifd + 2 > bytes.length) None
        else {
          val n = u16e(ifd)
          var w = -1
          var h = -1
          var e = 0
          while (e < n && ifd + 2 + 12 * (e + 1) <= bytes.length) {
            val off = ifd + 2 + 12 * e
            val v = u16e(off + 2) match {
              case 3 => u16e(off + 8) // SHORT
              case 4 => u32e(off + 8) // LONG
              case _ => -1
            }
            u16e(off) match {
              case 256 => w = v
              case 257 => h = v
              case _ =>
            }
            e += 1
          }
          if (w > 0 && h > 0) Some((w, h)) else None
        }
      case "jpeg" =>
        // walk the segment chain: FF marker, 2-byte big-endian length
        var i = 2
        while (i + 9 < bytes.length) {
          if (u8(i) != 0xFF) return None // lost sync
          var m = u8(i + 1)
          var j = i + 1
          while (m == 0xFF && j + 1 < bytes.length) { j += 1; m = u8(j) } // fill bytes
          val seg = j + 1
          if (m >= 0xC0 && m <= 0xCF && m != 0xC4 && m != 0xC8 && m != 0xCC) {
            if (seg + 7 < bytes.length) return Some((be16(seg + 5), be16(seg + 3)))
            return None
          }
          if (m == 0xD8 || (m >= 0xD0 && m <= 0xD7)) i = seg // no-length markers
          else if (m == 0xD9 || m == 0xDA) return None       // EOI / entropy data
          else {
            if (seg + 1 >= bytes.length) return None
            i = seg + be16(seg)
          }
        }
        None
      case _ => None
    }
  }

  /** Minimal valid PNG signature + IHDR chunk for (w, h) — the test/
    * fixture constructor dual of [[imageDims]]. Byte layout per the PNG
    * spec (§5.2 signature, §11.2.2 IHDR); the suite pins BOTH sides
    * independently: the parser against hand-built golden bytes, this
    * constructor against a byte-offset golden, so a symmetric
    * endianness bug in the pair cannot self-verify. */
  def pngHeader(w: Int, h: Int): Array[Byte] = {
    val out = new Array[Byte](25)
    val sig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A)
    System.arraycopy(sig, 0, out, 0, 8)
    def putBe32(off: Int, v: Int): Unit = {
      out(off) = (v >>> 24).toByte; out(off + 1) = (v >>> 16).toByte
      out(off + 2) = (v >>> 8).toByte; out(off + 3) = v.toByte
    }
    putBe32(8, 13) // IHDR data length
    out(12) = 'I'; out(13) = 'H'; out(14) = 'D'; out(15) = 'R'
    putBe32(16, w)
    putBe32(20, h)
    out(24) = 8 // bit depth (truncated chunk: enough for header parsing)
    out
  }

  /** Minimal TIFF header + IFD0 for (w, h) in either byte order — the
    * fixture dual of the [[imageDims]] TIFF case (TIFF 6.0 §2 layout:
    * 8-byte header, entry-count, two LONG entries for tags 256/257,
    * zero next-IFD pointer). Same both-sides-pinned test discipline as
    * [[pngHeader]]. */
  def tiffHeader(w: Int, h: Int, bigEndian: Boolean = false): Array[Byte] = {
    val b = new Array[Byte](38)
    def put16(i: Int, v: Int): Unit =
      if (bigEndian) { b(i) = (v >>> 8).toByte; b(i + 1) = v.toByte }
      else { b(i) = v.toByte; b(i + 1) = (v >>> 8).toByte }
    def put32(i: Int, v: Int): Unit =
      if (bigEndian) {
        b(i) = (v >>> 24).toByte; b(i + 1) = (v >>> 16).toByte
        b(i + 2) = (v >>> 8).toByte; b(i + 3) = v.toByte
      } else {
        b(i) = v.toByte; b(i + 1) = (v >>> 8).toByte
        b(i + 2) = (v >>> 16).toByte; b(i + 3) = (v >>> 24).toByte
      }
    if (bigEndian) { b(0) = 'M'; b(1) = 'M'; b(2) = 0; b(3) = 0x2A }
    else { b(0) = 'I'; b(1) = 'I'; b(2) = 0x2A; b(3) = 0 }
    put32(4, 8)   // IFD0 directly after the header
    put16(8, 2)   // two entries
    put16(10, 256); put16(12, 4); put32(14, 1); put32(18, w)
    put16(22, 257); put16(24, 4); put32(26, 1); put32(30, h)
    put32(34, 0)  // no next IFD
    b
  }

  // ------------------------------------------------------ real decoders
  /** REAL uncompressed-BMP pixel decode — BI_RGB 24-bit (the plain byte
    * layout, no codec needed; spec: 14-byte file header with the pixel
    * offset at byte 10, BITMAPINFOHEADER with width/height at 18/22,
    * bit count at 28, compression at 30). Returns (w, h, rgb) with rgb
    * row-major TOP-DOWN (bottom-up storage — positive height — is
    * flipped; BGR byte order converted to RGB; 4-byte row padding
    * stripped). None for compressed/paletted/truncated bytes. */
  def decodeBmp(bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    if (bytes == null || bytes.length < 54 || imageMagic(bytes) != "bmp") return None
    def u8(i: Int) = bytes(i) & 0xFF
    def le16(i: Int) = (u8(i + 1) << 8) | u8(i)
    def le32(i: Int) = (u8(i + 3) << 24) | (u8(i + 2) << 16) | (u8(i + 1) << 8) | u8(i)
    val off = le32(10)
    val w = le32(18)
    val hRaw = le32(22)
    // abs(Int.MinValue) is still negative — reject it BEFORE the h == 0
    // check or a corrupt height of 0x80000000 sails through every bound
    val h = if (hRaw == Int.MinValue) 0 else math.abs(hRaw)
    val topDown = hRaw < 0
    val bits = le16(28)
    val compression = le32(30)
    if (bits != 24 || compression != 0 || w <= 0 || h == 0) return None
    // ALL size arithmetic in Long: w*3 wraps Int for w ≥ ~715M and a
    // wrapped-negative rowBytes would defeat the bounds check below, then
    // crash the task on a negative array size — corrupt blobs must decode
    // to None, never throw (the null-safety contract of imageDHash)
    val rowBytesL = (w.toLong * 3 + 3) & ~3L // rows pad to 4-byte boundaries
    if (off < 54 || off.toLong + rowBytesL * h > bytes.length) return None
    val rowBytes = rowBytesL.toInt // ≤ bytes.length after the check above
    val out = new Array[Byte](w * h * 3)
    var row = 0
    while (row < h) {
      val srcRow = if (topDown) row else h - 1 - row
      var x = 0
      var src = off + srcRow * rowBytes
      var dst = row * w * 3
      while (x < w) {
        out(dst) = bytes(src + 2) // B G R -> R G B
        out(dst + 1) = bytes(src + 1)
        out(dst + 2) = bytes(src)
        src += 3; dst += 3; x += 1
      }
      row += 1
    }
    Some((w, h, out))
  }

  /** 24-bit BMP encoder (bottom-up, BI_RGB) — the inverse of
    * [[decodeBmp]], used to materialize synthetic image columns whose
    * pixels are exactly known (fixtures and oracle rows) and as the plain
    * byte-layout export for decoded pixels. RGB row-major top-down in,
    * spec-conformant file bytes out. */
  def encodeBmp(w: Int, h: Int, rgb: Array[Byte]): Array[Byte] = {
    require(w > 0 && h > 0 && rgb.length == w * h * 3, "rgb must be w*h*3")
    val stride = (w * 3 + 3) & ~3
    val out = new Array[Byte](54 + stride * h)
    def putLe32(i: Int, v: Int): Unit = {
      out(i) = v.toByte; out(i + 1) = (v >>> 8).toByte
      out(i + 2) = (v >>> 16).toByte; out(i + 3) = (v >>> 24).toByte
    }
    out(0) = 'B'; out(1) = 'M'
    putLe32(2, out.length); putLe32(10, 54)
    putLe32(14, 40); putLe32(18, w); putLe32(22, h)
    out(26) = 1; out(28) = 24 // planes=1, 24bpp; compression 0 already
    putLe32(34, stride * h)
    var y = 0
    while (y < h) {
      var x = 0
      var src = y * w * 3
      var dst = 54 + (h - 1 - y) * stride // bottom-up storage
      while (x < w) {
        out(dst) = rgb(src + 2) // RGB -> BGR
        out(dst + 1) = rgb(src + 1)
        out(dst + 2) = rgb(src)
        src += 3; dst += 3; x += 1
      }
      y += 1
    }
    out
  }

  /** REAL PNG pixel decode — no external codec: PNG's only compression
    * is DEFLATE (RFC 1951), which the JDK ships (`java.util.zip.Inflater`),
    * and the five scanline filters (None/Sub/Up/Average/Paeth, spec §9)
    * are plain byte arithmetic. Supports the bit-depth-8 color types:
    * 0 grayscale, 2 truecolor, 3 palette (PLTE), 4 gray+alpha, 6 RGBA —
    * alpha is dropped, gray/palette expanded, output is the same
    * (w, h, rgb-top-down) contract as [[decodeBmp]]. Returns None for
    * interlaced (Adam7), 16-bit, sub-byte palette depths, bad CRC-length
    * structure, or any inflate/bounds malformation — never throws. */
  def decodePng(bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] = try {
    if (bytes == null || bytes.length < 45 || imageMagic(bytes) != "png") return None
    def u8(i: Int) = bytes(i) & 0xFF
    def be32(i: Int) = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    // IHDR is mandated first (spec §5.6); signature is 8 bytes
    if (be32(8) != 13 || be32(12) != 0x49484452) return None
    val w = be32(16); val h = be32(20)
    val depth = u8(24); val colorType = u8(25); val interlace = u8(28)
    if (w <= 0 || h <= 0 || (depth != 8 && depth != 16) || interlace > 1) return None
    val channels = colorType match {
      case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
      case _ => return None
    }
    if (colorType == 3 && depth != 8) return None // palette indices are ≤8-bit
    // 16-bit samples are big-endian; the 8-bit output takes the HIGH byte
    // (the standard lossless-magnitude reduction). Filters operate on
    // BYTES with the left-neighbor at bpp = channels·(depth/8) distance.
    val bps = depth / 8
    val bpp = channels * bps
    // Adam7 pass grid (spec §8.2): (xStart, yStart, xStep, yStep); the
    // whole image is one identity pass when non-interlaced
    val passes: Seq[(Int, Int, Int, Int)] =
      if (interlace == 0) Seq((0, 0, 1, 1))
      else Seq((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
    def passDims(p: (Int, Int, Int, Int)): (Int, Int) = {
      val (x0, y0, dx, dy) = p
      (math.max(0, (w - x0 + dx - 1) / dx), math.max(0, (h - y0 + dy - 1) / dy))
    }
    // w*channels wraps Int for giant headers on tiny payloads — all
    // raw-size arithmetic in Long, same corrupt-blob contract as decodeBmp.
    // Unlike BMP (whose pixel bytes must be PRESENT in the blob), PNG
    // decompresses, so a 100-byte blob can claim a multi-GB raster: cap
    // the decode at 256 MiB of raw scanlines (≈9500² RGB) — corpus image
    // payloads beyond that are rejected as None, never allocated.
    // An Adam7 pass with zero columns contributes NO scanlines (spec:
    // empty passes are wholly absent from the stream).
    val rawLen = passes.map { p =>
      val (pw, ph) = passDims(p)
      if (pw == 0 || ph == 0) 0L else (pw.toLong * bpp + 1) * ph
    }.sum
    if (rawLen > (1L << 28) || w.toLong * h * 3 > (1L << 28)) return None
    // one chunk walk: concatenate IDAT payloads, grab PLTE if present
    var palette: Array[Byte] = null
    val idat = new java.io.ByteArrayOutputStream(math.min(bytes.length, 1 << 20))
    var i = 8
    var done = false
    while (!done && i + 8 <= bytes.length) {
      val len = be32(i)
      val typ = be32(i + 4)
      if (len < 0 || i + 12L + len > bytes.length) return None
      typ match {
        case 0x504C5445 => // PLTE
          if (len % 3 != 0 || len > 768) return None
          palette = java.util.Arrays.copyOfRange(bytes, i + 8, i + 8 + len)
        case 0x49444154 => idat.write(bytes, i + 8, len) // IDAT
        case 0x49454E44 => done = true // IEND
        case _ => ()
      }
      i += 12 + len
    }
    if (colorType == 3 && palette == null) return None
    // zlib inflate of the concatenated IDAT stream
    val inf = new java.util.zip.Inflater()
    val raw = new Array[Byte](rawLen.toInt)
    try {
      inf.setInput(idat.toByteArray)
      var off = 0
      while (off < raw.length && !inf.finished()) {
        val n = inf.inflate(raw, off, raw.length - off)
        // truncated stream, or a preset-dictionary stream (illegal in PNG)
        if (n == 0 && (inf.needsInput() || inf.needsDictionary())) return None
        off += n
      }
      if (off < raw.length) return None
    } finally inf.end()
    // unfilter per pass: each scanline is [filterType, channels·pw bytes];
    // the filter context (left/up/up-left) is WITHIN the pass sub-image
    val out = new Array[Byte](w * h * 3)
    var rawOff = 0
    for (p @ (x0, y0, dx, dy) <- passes) {
      val (pw, ph) = passDims(p)
      if (pw > 0 && ph > 0) {
        val stride = pw * bpp
        val line = new Array[Byte](stride)  // current unfiltered scanline
        val prior = new Array[Byte](stride) // previous unfiltered scanline
        java.util.Arrays.fill(prior, 0.toByte)
        var y = 0
        while (y < ph) {
          val base = rawOff + y * (stride + 1)
          val ft = raw(base) & 0xFF
          var x = 0
          while (x < stride) {
            val cur = raw(base + 1 + x) & 0xFF
            val a = if (x >= bpp) line(x - bpp) & 0xFF else 0 // left
            val b = prior(x) & 0xFF                            // up
            val c = if (x >= bpp) prior(x - bpp) & 0xFF else 0 // up-left
            val v = ft match {
              case 0 => cur
              case 1 => cur + a
              case 2 => cur + b
              case 3 => cur + ((a + b) >> 1)
              case 4 => // Paeth predictor (spec §9.4)
                val pp = a + b - c
                val pa = math.abs(pp - a); val pb = math.abs(pp - b); val pc = math.abs(pp - c)
                cur + (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
              case _ => return None
            }
            line(x) = v.toByte
            x += 1
          }
          // scatter this pass scanline into the full-image RGB grid
          var px = 0
          val outY = y0 + y * dy
          while (px < pw) {
            val s = px * bpp
            val dst = (outY * w + x0 + px * dx) * 3
            colorType match {
              case 0 | 4 =>
                val g = line(s)
                out(dst) = g; out(dst + 1) = g; out(dst + 2) = g
              case 2 | 6 =>
                out(dst) = line(s); out(dst + 1) = line(s + bps)
                out(dst + 2) = line(s + 2 * bps)
              case 3 =>
                val pi = (line(s) & 0xFF) * 3
                if (pi + 2 >= palette.length) return None
                out(dst) = palette(pi); out(dst + 1) = palette(pi + 1); out(dst + 2) = palette(pi + 2)
            }
            px += 1
          }
          System.arraycopy(line, 0, prior, 0, stride)
          y += 1
        }
        rawOff += ph * (stride + 1)
      }
    }
    Some((w, h, out))
  } catch { case _: RuntimeException | _: java.util.zip.DataFormatException => None }

  /** PNG encoder — truecolor (type 2), depth 8, non-interlaced; the
    * inverse of [[decodePng]], used for fixtures/oracle rows and as a
    * real lossless export for decoded pixels. `rowFilter` picks the
    * scanline filter type per row; the default cycles through all five
    * spec filters so a round-trip exercises every unfilter branch (any
    * choice is spec-legal — filters change bytes, never pixels). */
  def encodePng(w: Int, h: Int, rgb: Array[Byte],
      rowFilter: Int => Int = _ % 5): Array[Byte] = {
    require(w > 0 && h > 0 && rgb.length == w * h * 3, "rgb must be w*h*3")
    val stride = w * 3
    val raw = new Array[Byte]((stride + 1) * h)
    var y = 0
    while (y < h) {
      val ft = rowFilter(y) match { case f if f >= 0 && f <= 4 => f; case _ => 0 }
      val base = y * (stride + 1)
      raw(base) = ft.toByte
      var x = 0
      while (x < stride) {
        val cur = rgb(y * stride + x) & 0xFF
        val a = if (x >= 3) rgb(y * stride + x - 3) & 0xFF else 0
        val b = if (y > 0) rgb((y - 1) * stride + x) & 0xFF else 0
        val c = if (x >= 3 && y > 0) rgb((y - 1) * stride + x - 3) & 0xFF else 0
        val enc = ft match {
          case 0 => cur
          case 1 => cur - a
          case 2 => cur - b
          case 3 => cur - ((a + b) >> 1)
          case 4 =>
            val p = a + b - c
            val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
            cur - (if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c)
        }
        raw(base + 1 + x) = enc.toByte
        x += 1
      }
      y += 1
    }
    val def_ = new java.util.zip.Deflater()
    val compressed = try {
      def_.setInput(raw); def_.finish()
      val buf = new java.io.ByteArrayOutputStream(raw.length / 2 + 64)
      val tmp = new Array[Byte](8192)
      while (!def_.finished()) buf.write(tmp, 0, def_.deflate(tmp))
      buf.toByteArray
    } finally def_.end()
    val out = new java.io.ByteArrayOutputStream(compressed.length + 64)
    out.write(Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0D, 0x0A, 0x1A, 0x0A), 0, 8)
    def chunk(typ: String, payload: Array[Byte]): Unit = {
      def be32(v: Int) = Array[Byte]((v >>> 24).toByte, (v >>> 16).toByte,
        (v >>> 8).toByte, v.toByte)
      out.write(be32(payload.length), 0, 4)
      val t = typ.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
      val crc = new java.util.zip.CRC32()
      crc.update(t); crc.update(payload)
      out.write(t, 0, 4)
      out.write(payload, 0, payload.length)
      out.write(be32(crc.getValue.toInt), 0, 4)
    }
    val ihdr = new Array[Byte](13)
    ihdr(0) = (w >>> 24).toByte; ihdr(1) = (w >>> 16).toByte
    ihdr(2) = (w >>> 8).toByte; ihdr(3) = w.toByte
    ihdr(4) = (h >>> 24).toByte; ihdr(5) = (h >>> 16).toByte
    ihdr(6) = (h >>> 8).toByte; ihdr(7) = h.toByte
    ihdr(8) = 8; ihdr(9) = 2 // depth 8, truecolor; compression/filter/interlace 0
    chunk("IHDR", ihdr)
    chunk("IDAT", compressed)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** REAL GIF pixel decode — first image frame of a GIF87a/89a stream.
    * GIF's LZW (variable 3..12-bit codes, clear/EOI, GIF89a spec
    * appendix F / Welch 1984) is ~60 lines of table arithmetic — no
    * codec library involved. Global and local color tables, interlaced
    * frames (the 4-pass row order) and frames smaller than the logical
    * screen are all handled; output is the FRAME's (w, h, rgb-top-down).
    * None for truncated/malformed streams — never throws. */
  def decodeGif(bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] = try {
    if (bytes == null || bytes.length < 14 || imageMagic(bytes) != "gif") return None
    def u8(i: Int) = bytes(i) & 0xFF
    def le16(i: Int) = (u8(i + 1) << 8) | u8(i)
    var i = 6
    val screenFlags = u8(i + 4)
    i += 7 // logical screen descriptor
    var globalTable: Array[Byte] = null
    if ((screenFlags & 0x80) != 0) {
      val n = 2 << (screenFlags & 7)
      if (i + n * 3 > bytes.length) return None
      globalTable = java.util.Arrays.copyOfRange(bytes, i, i + n * 3)
      i += n * 3
    }
    while (i < bytes.length) {
      u8(i) match {
        case 0x21 => // extension: label byte then sub-blocks until 0
          i += 2
          while (i < bytes.length && u8(i) != 0) i += 1 + u8(i)
          i += 1
        case 0x2C => // image descriptor — decode this frame and return
          if (i + 10 > bytes.length) return None
          val iw = le16(i + 5); val ih = le16(i + 7)
          val flags = u8(i + 9)
          i += 10
          var table = globalTable
          if ((flags & 0x80) != 0) {
            val n = 2 << (flags & 7)
            if (i + n * 3 > bytes.length) return None
            table = java.util.Arrays.copyOfRange(bytes, i, i + n * 3)
            i += n * 3
          }
          // same decompression-amplification cap as decodePng
          if (table == null || iw <= 0 || ih <= 0 ||
              iw.toLong * ih * 3 > (1L << 28)) return None
          val minCode = u8(i); i += 1
          if (minCode < 2 || minCode > 8) return None
          // concatenate the data sub-blocks
          val data = new java.io.ByteArrayOutputStream(1024)
          while (i < bytes.length && u8(i) != 0) {
            val n = u8(i)
            if (i + 1 + n > bytes.length) return None
            data.write(bytes, i + 1, n)
            i += 1 + n
          }
          val indices = lzwDecode(data.toByteArray, minCode, iw * ih)
            .getOrElse(return None)
          // interlaced frames store rows in 4 passes (spec appendix E)
          val rowOrder = new Array[Int](ih)
          if ((flags & 0x40) != 0) {
            var r = 0
            for ((start, step) <- Seq((0, 8), (4, 8), (2, 4), (1, 2));
                 y <- start until ih by step) { rowOrder(r) = y; r += 1 }
          } else { var y = 0; while (y < ih) { rowOrder(y) = y; y += 1 } }
          val out = new Array[Byte](iw * ih * 3)
          var r = 0
          while (r < ih) {
            val y = rowOrder(r)
            var x = 0
            while (x < iw) {
              val pi = (indices(r * iw + x) & 0xFF) * 3
              if (pi + 2 >= table.length) return None
              val dst = (y * iw + x) * 3
              out(dst) = table(pi); out(dst + 1) = table(pi + 1); out(dst + 2) = table(pi + 2)
              x += 1
            }
            r += 1
          }
          return Some((iw, ih, out))
        case 0x3B => return None // trailer before any image
        case _ => return None
      }
    }
    None
  } catch { case _: RuntimeException => None }

  /** GIF LZW decompression: variable-width codes starting at
    * `minCode`+1 bits, clear resets the table, table grows to 4096
    * entries. Returns exactly `expect` pixel indices or None. */
  private[dedup] def lzwDecode(data: Array[Byte], minCode: Int,
      expect: Int): Option[Array[Byte]] = {
    val clearCode = 1 << minCode
    val eoi = clearCode + 1
    // table as (prefix link, appended byte); roots are implicit
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    var tableSize = eoi + 1
    var codeWidth = minCode + 1
    val out = new Array[Byte](expect)
    var outN = 0
    var bitPos = 0
    val totalBits = data.length * 8
    var prev = -1
    val scratch = new Array[Byte](4096)
    def readCode(): Int = {
      if (bitPos + codeWidth > totalBits) return -1
      var v = 0; var b = 0
      while (b < codeWidth) {
        val p = bitPos + b
        if ((data(p >> 3) & (1 << (p & 7))) != 0) v |= 1 << b
        b += 1
      }
      bitPos += codeWidth
      v
    }
    def expand(code: Int, extra: Int): Int = { // write string for code (+optional first-byte repeat)
      var n = 0
      var c = code
      while (c >= clearCode + 2) { scratch(n) = suffix(c); n += 1; c = prefix(c) }
      scratch(n) = c.toByte; n += 1 // root literal
      if (outN + n + (if (extra >= 0) 1 else 0) > expect) return -1
      var k = n - 1
      while (k >= 0) { out(outN) = scratch(k); outN += 1; k -= 1 }
      if (extra >= 0) { out(outN) = scratch(n - 1); outN += 1 }
      scratch(n - 1) & 0xFF // first byte of the expansion
    }
    while (outN < expect) {
      val code = readCode()
      if (code < 0 || code == eoi) return if (outN == expect) Some(out) else None
      if (code == clearCode) {
        tableSize = eoi + 1; codeWidth = minCode + 1; prev = -1
      } else if (prev < 0) {
        if (code >= clearCode) return None // first code must be a root
        if (expand(code, -1) < 0) return None
        prev = code
      } else if (code < tableSize) {
        if (code == eoi || code == clearCode) return None
        val first = expand(code, -1)
        if (first < 0) return None
        if (tableSize < 4096) {
          prefix(tableSize) = prev; suffix(tableSize) = first.toByte; tableSize += 1
          if (tableSize == (1 << codeWidth) && codeWidth < 12) codeWidth += 1
        }
        prev = code
      } else if (code == tableSize && tableSize < 4096) {
        // KwKwK case: string = expand(prev) + firstByte(prev)
        val first = expand(prev, 0)
        if (first < 0) return None
        prefix(tableSize) = prev; suffix(tableSize) = first.toByte; tableSize += 1
        if (tableSize == (1 << codeWidth) && codeWidth < 12) codeWidth += 1
        prev = code
      } else return None
    }
    Some(out)
  }

  /** GIF89a encoder — single frame over a caller-supplied color table
    * (≤256 RGB entries), REAL LZW compression (dictionary of
    * (prefix, byte) pairs, clear on table overflow). The inverse of
    * [[decodeGif]] for fixtures, oracle rows and golden round-trips. */
  def encodeGif(w: Int, h: Int, indices: Array[Byte],
      palette: Array[Byte]): Array[Byte] = {
    require(w > 0 && h > 0 && indices.length == w * h, "indices must be w*h")
    require(palette.length % 3 == 0 && palette.length <= 768, "palette must be <=256 RGB entries")
    val nColors = palette.length / 3
    var tableBits = 1
    while ((1 << tableBits) < nColors) tableBits += 1
    if (tableBits < 1) tableBits = 1
    val out = new java.io.ByteArrayOutputStream(indices.length / 2 + 64)
    def le16(v: Int): Unit = { out.write(v & 0xFF); out.write((v >>> 8) & 0xFF) }
    out.write("GIF89a".getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    le16(w); le16(h)
    out.write(0x80 | (tableBits - 1)) // global table present, 2^tableBits entries
    out.write(0); out.write(0)        // background index, aspect
    out.write(palette, 0, palette.length)
    var pad = (1 << tableBits) - nColors // table sizes are powers of two
    while (pad > 0) { out.write(0); out.write(0); out.write(0); pad -= 1 }
    out.write(0x2C) // image descriptor at (0,0), full size, no local table
    le16(0); le16(0); le16(w); le16(h); out.write(0)
    val minCode = math.max(2, tableBits)
    out.write(minCode)
    // LZW encode: dictionary maps (prefixCode << 8 | byte) -> code
    val dict = new java.util.HashMap[Integer, Integer](4096)
    val clearCode = 1 << minCode
    val eoi = clearCode + 1
    var tableSize = eoi + 1
    var codeWidth = minCode + 1
    val bits = new java.io.ByteArrayOutputStream(indices.length / 2 + 16)
    var acc = 0L; var accN = 0
    def emit(code: Int): Unit = {
      acc |= code.toLong << accN
      accN += codeWidth
      while (accN >= 8) { bits.write((acc & 0xFF).toInt); acc >>>= 8; accN -= 8 }
    }
    emit(clearCode)
    var prev = indices(0) & 0xFF
    var i = 1
    while (i < indices.length) {
      val k = indices(i) & 0xFF
      val key = Integer.valueOf((prev << 8) | k)
      val hit = dict.get(key)
      if (hit != null) prev = hit.intValue()
      else {
        emit(prev)
        if (tableSize < 4096) {
          dict.put(key, Integer.valueOf(tableSize))
          tableSize += 1
          // width grows when the NEXT code to assign no longer fits
          if (tableSize - 1 == (1 << codeWidth) && codeWidth < 12) codeWidth += 1
        } else {
          emit(clearCode)
          dict.clear()
          tableSize = eoi + 1
          codeWidth = minCode + 1
        }
        prev = k
      }
      i += 1
    }
    emit(prev); emit(eoi)
    if (accN > 0) bits.write((acc & 0xFF).toInt)
    // wrap in <=255-byte sub-blocks
    val payload = bits.toByteArray
    var off = 0
    while (off < payload.length) {
      val n = math.min(255, payload.length - off)
      out.write(n)
      out.write(payload, off, n)
      off += n
    }
    out.write(0)    // block terminator
    out.write(0x3B) // trailer
    out.toByteArray
  }

  /** PackBits run-length decoding (TIFF 6.0 §9, the Apple RLE scheme):
    * control byte n in 0..127 → copy n+1 literals; n in -127..-1 → repeat
    * next byte 1-n times; -128 → no-op. None when output overruns
    * `expect` or input truncates. */
  private[dedup] def unpackBits(in: Array[Byte], off: Int, len: Int,
                                expect: Int): Option[Array[Byte]] = {
    val out = new Array[Byte](expect)
    var i = off; var o = 0
    val end = off + len
    while (i < end && o < expect) {
      val n = in(i); i += 1
      if (n >= 0) {
        val run = n + 1
        if (i + run > end || o + run > expect) return None
        System.arraycopy(in, i, out, o, run)
        i += run; o += run
      } else if (n != -128) {
        val run = 1 - n
        if (i >= end || o + run > expect) return None
        java.util.Arrays.fill(out, o, o + run, in(i))
        i += 1; o += run
      }
    }
    if (o == expect) Some(out) else None
  }

  /** TIFF LZW decompression (TIFF 6.0 §13) — NOT the GIF variant:
    * MSB-first bit packing, roots are raw bytes, Clear=256, EOI=257,
    * first table code 258, 9→12-bit widths with the spec's EARLY change
    * (width grows one code sooner than GIF: at next-code 511/1023/2047).
    * Returns exactly `expect` bytes or None. */
  private[dedup] def tiffLzwDecode(data: Array[Byte], off: Int, len: Int,
      expect: Int): Option[Array[Byte]] = {
    val ClearCode = 256; val Eoi = 257
    val prefix = new Array[Int](4096)
    val suffix = new Array[Byte](4096)
    var tableSize = 258
    var codeWidth = 9
    val out = new Array[Byte](expect)
    var outN = 0
    var bitPos = off.toLong * 8
    val totalBits = (off + len).toLong * 8
    var prev = -1
    val scratch = new Array[Byte](4096)
    def readCode(): Int = {
      if (bitPos + codeWidth > totalBits) return -1
      var v = 0; var b = 0
      while (b < codeWidth) { // MSB-first
        val p = bitPos + b
        v <<= 1
        if ((data((p >> 3).toInt) & (0x80 >> (p & 7))) != 0) v |= 1
        b += 1
      }
      bitPos += codeWidth
      v
    }
    /** write code's string (+ optional repeat of its first byte); returns
      * the first byte, or -1 on overrun/corrupt link. */
    def expand(code: Int, extra: Boolean): Int = {
      var n = 0
      var c = code
      while (c >= 258) {
        if (n >= scratch.length) return -1
        scratch(n) = suffix(c); n += 1; c = prefix(c)
      }
      if (c >= 256) return -1 // ClearCode/Eoi can never be a string root
      scratch(n) = c.toByte; n += 1
      if (outN + n + (if (extra) 1 else 0) > expect) return -1
      var k = n - 1
      while (k >= 0) { out(outN) = scratch(k); outN += 1; k -= 1 }
      if (extra) { out(outN) = scratch(n - 1); outN += 1 }
      scratch(n - 1) & 0xFF
    }
    def bumpWidth(): Unit = // TIFF early change: grow one code EARLY
      if (tableSize + 1 >= (1 << codeWidth) && codeWidth < 12) codeWidth += 1
    while (outN < expect) {
      val code = readCode()
      if (code < 0 || code == Eoi) return if (outN == expect) Some(out) else None
      if (code == ClearCode) {
        tableSize = 258; codeWidth = 9; prev = -1
      } else if (prev < 0) {
        if (code >= 256) return None // first code after Clear must be a root
        if (expand(code, extra = false) < 0) return None
        prev = code
      } else if (code < tableSize) {
        val first = expand(code, extra = false)
        if (first < 0) return None
        if (tableSize < 4096) {
          prefix(tableSize) = prev; suffix(tableSize) = first.toByte; tableSize += 1
          bumpWidth()
        }
        prev = code
      } else if (code == tableSize && tableSize < 4096) {
        val first = expand(prev, extra = true) // KwKwK
        if (first < 0) return None
        prefix(tableSize) = prev; suffix(tableSize) = first.toByte; tableSize += 1
        bumpWidth()
        prev = code
      } else return None
    }
    Some(out)
  }

  /** zlib/deflate strip decompression (TIFF Compression 8 "Adobe Deflate"
    * and legacy 32946): the PNG machinery's Inflater, bounded to
    * `expect`. */
  private def tiffInflate(data: Array[Byte], off: Int, len: Int,
      expect: Int): Option[Array[Byte]] = try {
    val inf = new java.util.zip.Inflater()
    inf.setInput(data, off, len)
    val out = new Array[Byte](expect)
    var o = 0
    while (o < expect && !inf.finished()) {
      val r = inf.inflate(out, o, expect - o)
      if (r == 0 && inf.needsInput()) { inf.end(); return None }
      o += r
    }
    inf.end()
    if (o == expect) Some(out) else None
  } catch { case _: Exception => None }

  /** REAL baseline-TIFF pixel decode (TIFF 6.0): both byte orders,
    * strip-organized 8-bit grayscale (photometric 0/1) and RGB
    * (photometric 2), Compression 1 (none), 5 (LZW — the spec's own
    * MSB-first early-change variant, [[tiffLzwDecode]]), 8/32946
    * (Deflate) or 32773 (PackBits), with Predictor 2 (horizontal
    * differencing) undone per row. Handles inline vs offset-stored tag
    * values (count×size > 4 indirects), multi-strip images, and
    * WhiteIsZero inversion. Returns (w, h, RGB row-major); None on
    * JPEG-in-TIFF, tiled layout, non-8-bit samples, or any malformation
    * — never throws. Raster capped at 256 MiB like the other
    * decoders. */
  def decodeTiff(bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] = try {
    if (bytes == null || bytes.length < 8 || imageMagic(bytes) != "tiff") return None
    val le = bytes(0) == 'I'
    def u8(i: Int) = bytes(i) & 0xFF
    def u16(i: Int) = if (le) (u8(i + 1) << 8) | u8(i) else (u8(i) << 8) | u8(i + 1)
    def u32(i: Int): Long =
      (if (le) (u8(i + 3).toLong << 24) | (u8(i + 2) << 16) | (u8(i + 1) << 8) | u8(i)
       else (u8(i).toLong << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)) & 0xFFFFFFFFL
    val ifd = u32(4).toInt
    if (ifd < 8 || ifd + 2 > bytes.length) return None
    val n = u16(ifd)
    var w = -1; var h = -1; var compression = 1; var photometric = -1
    var spp = 1; var rowsPerStrip = Int.MaxValue; var bitsOk = true
    var predictor = 1
    var stripOffs: Array[Long] = null; var stripLens: Array[Long] = null
    var tileW = 0; var tileH = 0
    var tileOffs: Array[Long] = null; var tileLens: Array[Long] = null
    /** all `count` values of an entry, honoring inline-vs-offset. */
    def values(off: Int): Option[Array[Long]] = {
      val tpe = u16(off + 2); val count = u32(off + 4)
      val size = tpe match { case 1 => 1; case 3 => 2; case 4 => 4; case _ => return None }
      if (count > (1L << 20)) return None
      val total = count * size
      val base = if (total <= 4) off + 8 else u32(off + 8).toInt
      if (base < 0 || base + total > bytes.length) return None
      Some(Array.tabulate(count.toInt) { k =>
        size match {
          case 1 => u8(base + k).toLong
          case 2 => u16(base + k * 2).toLong
          case _ => u32(base + k * 4)
        }
      })
    }
    var e = 0
    while (e < n && ifd + 2 + 12 * (e + 1) <= bytes.length) {
      val off = ifd + 2 + 12 * e
      u16(off) match {
        case 256 => w = values(off).flatMap(_.headOption).getOrElse(-1L).toInt
        case 257 => h = values(off).flatMap(_.headOption).getOrElse(-1L).toInt
        case 258 => bitsOk = values(off).exists(_.forall(_ == 8L))
        case 259 => compression = values(off).flatMap(_.headOption).getOrElse(1L).toInt
        case 262 => photometric = values(off).flatMap(_.headOption).getOrElse(-1L).toInt
        case 273 => stripOffs = values(off).orNull
        case 277 => spp = values(off).flatMap(_.headOption).getOrElse(1L).toInt
        case 278 => rowsPerStrip = math.min(values(off)
          .flatMap(_.headOption).getOrElse(Int.MaxValue.toLong), Int.MaxValue.toLong).toInt
        case 279 => stripLens = values(off).orNull
        case 317 => predictor = values(off).flatMap(_.headOption).getOrElse(1L).toInt
        case 322 => tileW = values(off).flatMap(_.headOption).getOrElse(0L).toInt
        case 323 => tileH = values(off).flatMap(_.headOption).getOrElse(0L).toInt
        case 324 => tileOffs = values(off).orNull
        case 325 => tileLens = values(off).orNull
        case _ =>
      }
      e += 1
    }
    val tiled = tileOffs != null
    if (w <= 0 || h <= 0 || !bitsOk) return None
    if (tiled) {
      if (tileLens == null || tileOffs.length != tileLens.length ||
          tileW <= 0 || tileH <= 0) return None
      if (tileW.toLong * tileH * spp > (256L << 20)) return None
    } else {
      if (stripOffs == null || stripLens == null) return None
      if (stripOffs.length != stripLens.length || rowsPerStrip <= 0) return None
    }
    if (compression != 1 && compression != 5 && compression != 8 &&
        compression != 32773 && compression != 32946) return None
    if (predictor != 1 && predictor != 2) return None
    val gray = photometric == 0 || photometric == 1
    if (!gray && photometric != 2) return None
    if (gray && spp != 1) return None
    if (!gray && spp != 3) return None
    if (w.toLong * h * 3 > (256L << 20)) return None
    val rgb = new Array[Byte](w * h * 3)
    /** decompress one segment (strip or tile) to exactly `rawLen` bytes
      * and undo Predictor 2 with the segment's own row width. */
    def segment(sOff: Long, sLen: Long, rawLen: Int, rowBytes: Int): Option[Array[Byte]] = {
      if (sOff < 0 || sOff + sLen > bytes.length) return None
      val data: Array[Byte] = (compression match {
        case 1 =>
          if (sLen < rawLen) None
          else Some(java.util.Arrays.copyOfRange(bytes, sOff.toInt, sOff.toInt + rawLen))
        case 5 => tiffLzwDecode(bytes, sOff.toInt, sLen.toInt, rawLen)
        case 8 | 32946 => tiffInflate(bytes, sOff.toInt, sLen.toInt, rawLen)
        case _ => unpackBits(bytes, sOff.toInt, sLen.toInt, rawLen)
      }).getOrElse(return None)
      if (predictor == 2) { // undo horizontal differencing, per row/channel
        var rb = 0
        while (rb < rawLen) {
          var x = spp
          while (x < rowBytes) {
            data(rb + x) = (data(rb + x) + data(rb + x - spp)).toByte
            x += 1
          }
          rb += rowBytes
        }
      }
      Some(data)
    }
    /** expand one source pixel into the RGB output (WhiteIsZero inverts). */
    @inline def putPixel(data: Array[Byte], src: Int, dst: Int): Unit =
      if (gray) {
        val v0 = data(src) & 0xFF
        val v = if (photometric == 0) 255 - v0 else v0
        rgb(dst) = v.toByte; rgb(dst + 1) = v.toByte; rgb(dst + 2) = v.toByte
      } else {
        rgb(dst) = data(src); rgb(dst + 1) = data(src + 1); rgb(dst + 2) = data(src + 2)
      }
    if (tiled) {
      // TIFF 6.0 §15: tiles are ALWAYS full-size (edge tiles padded),
      // ordered left-to-right, top-to-bottom
      val across = (w + tileW - 1) / tileW
      val down = (h + tileH - 1) / tileH
      if (tileOffs.length < across * down) return None
      val rawLen = tileW * tileH * spp
      var ty = 0
      while (ty < down) {
        var tx = 0
        while (tx < across) {
          val idx = ty * across + tx
          val data = segment(tileOffs(idx), tileLens(idx), rawLen, tileW * spp)
            .getOrElse(return None)
          val rows = math.min(tileH, h - ty * tileH)
          val cols = math.min(tileW, w - tx * tileW)
          var row = 0
          while (row < rows) {
            val srcRow = row * tileW * spp
            val dstRow = ((ty * tileH + row) * w + tx * tileW) * 3
            var cx = 0
            while (cx < cols) {
              putPixel(data, srcRow + cx * spp, dstRow + cx * 3)
              cx += 1
            }
            row += 1
          }
          tx += 1
        }
        ty += 1
      }
    } else {
      // clamp BEFORE the ceiling-divide: the spec's "rows-per-strip
      // absent = 2^32-1" default would overflow h + rowsPerStrip - 1
      if (rowsPerStrip > h) rowsPerStrip = h
      val expectedStrips = (h + rowsPerStrip - 1) / rowsPerStrip
      if (stripOffs.length < expectedStrips) return None
      var strip = 0
      while (strip < expectedStrips) {
        val rows = math.min(rowsPerStrip, h - strip * rowsPerStrip)
        val rawLen = rows * w * spp
        val data = segment(stripOffs(strip), stripLens(strip), rawLen, w * spp)
          .getOrElse(return None)
        var p = 0
        val outBase = strip * rowsPerStrip * w * 3
        while (p < rows * w) {
          putPixel(data, p * spp, outBase + p * 3)
          p += 1
        }
        strip += 1
      }
    }
    Some((w, h, rgb))
  } catch { case _: Exception => None }

  /** TIFF LZW ENCODER — the wire dual of [[tiffLzwDecode]]: MSB-first
    * packing, Clear/EOI 256/257, 9→12-bit widths with the spec's early
    * change (encoder bumps when the table reaches 2^width, i.e. one code
    * before GIF would), Clear at 4094 so codes never exceed 12 bits. */
  private[dedup] def tiffLzwEncode(data: Array[Byte]): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(data.length / 2 + 16)
    var acc = 0L; var accN = 0
    var codeWidth = 9
    def emit(code: Int): Unit = {
      acc = (acc << codeWidth) | code
      accN += codeWidth
      while (accN >= 8) { out.write(((acc >>> (accN - 8)) & 0xFF).toInt); accN -= 8 }
    }
    val dict = new java.util.HashMap[Integer, Integer](4096)
    var tableSize = 258
    emit(256) // streams begin with Clear
    if (data.nonEmpty) {
      var prev = data(0) & 0xFF
      var i = 1
      while (i < data.length) {
        val k = data(i) & 0xFF
        val key = Integer.valueOf((prev << 8) | k)
        val hit = dict.get(key)
        if (hit != null) prev = hit.intValue()
        else {
          emit(prev)
          dict.put(key, Integer.valueOf(tableSize))
          tableSize += 1
          if (tableSize == (1 << codeWidth) && codeWidth < 12) codeWidth += 1
          if (tableSize >= 4094) { // re-Clear before codes outgrow 12 bits
            emit(256)
            dict.clear(); tableSize = 258; codeWidth = 9
          }
          prev = k
        }
        i += 1
      }
      emit(prev)
    }
    emit(257) // EOI
    if (accN > 0) out.write(((acc << (8 - accN)) & 0xFF).toInt)
    out.toByteArray
  }

  /** Baseline-TIFF ENCODER — the fixture dual of [[decodeTiff]] (same
    * role as [[encodeBmp]]/[[encodePng]]): single-strip 8-bit RGB, either
    * byte order, Compression 1, PackBits (literal-only runs — valid
    * PackBits, exercises the decode path without an optimizing packer) or
    * real LZW ([[tiffLzwEncode]]). */
  def encodeTiff(w: Int, h: Int, rgb: Array[Byte], bigEndian: Boolean = false,
                 packBits: Boolean = false, lzw: Boolean = false): Array[Byte] = {
    require(w > 0 && h > 0 && rgb.length == w * h * 3, "rgb must be w*h*3")
    require(!(packBits && lzw), "pick one compression")
    val pix: Array[Byte] =
      if (lzw) tiffLzwEncode(rgb)
      else if (!packBits) rgb
      else { // literal PackBits runs of ≤128 bytes
        val out = new java.io.ByteArrayOutputStream(rgb.length + rgb.length / 128 + 1)
        var i = 0
        while (i < rgb.length) {
          val run = math.min(128, rgb.length - i)
          out.write(run - 1)
          out.write(rgb, i, run)
          i += run
        }
        out.toByteArray
      }
    val nEntries = 8
    val ifdOff = 8
    val ifdSize = 2 + nEntries * 12 + 4
    val bpsOff = ifdOff + ifdSize          // 3 SHORTs (6 bytes) stored out of line
    val pixOff = bpsOff + 6
    val out = new Array[Byte](pixOff + pix.length)
    def put16(i: Int, v: Int): Unit =
      if (bigEndian) { out(i) = (v >>> 8).toByte; out(i + 1) = v.toByte }
      else { out(i) = v.toByte; out(i + 1) = (v >>> 8).toByte }
    def put32(i: Int, v: Int): Unit =
      if (bigEndian) {
        out(i) = (v >>> 24).toByte; out(i + 1) = (v >>> 16).toByte
        out(i + 2) = (v >>> 8).toByte; out(i + 3) = v.toByte
      } else {
        out(i) = v.toByte; out(i + 1) = (v >>> 8).toByte
        out(i + 2) = (v >>> 16).toByte; out(i + 3) = (v >>> 24).toByte
      }
    if (bigEndian) { out(0) = 'M'; out(1) = 'M'; out(2) = 0; out(3) = 0x2A }
    else { out(0) = 'I'; out(1) = 'I'; out(2) = 0x2A; out(3) = 0 }
    put32(4, ifdOff)
    put16(ifdOff, nEntries)
    var eo = ifdOff + 2
    def entry(tag: Int, tpe: Int, count: Int, value: Int): Unit = {
      put16(eo, tag); put16(eo + 2, tpe); put32(eo + 4, count)
      if (tpe == 3 && count == 1) { put16(eo + 8, value); put16(eo + 10, 0) }
      else put32(eo + 8, value)
      eo += 12
    }
    entry(256, 4, 1, w)            // ImageWidth
    entry(257, 4, 1, h)            // ImageLength
    entry(258, 3, 3, bpsOff)       // BitsPerSample → out-of-line [8,8,8]
    entry(259, 3, 1, if (lzw) 5 else if (packBits) 32773 else 1)
    entry(262, 3, 1, 2)            // RGB
    entry(273, 4, 1, pixOff)       // StripOffsets (single strip)
    entry(277, 3, 1, 3)            // SamplesPerPixel
    entry(279, 4, 1, pix.length)   // StripByteCounts
    put32(eo, 0)                   // no next IFD
    put16(bpsOff, 8); put16(bpsOff + 2, 8); put16(bpsOff + 4, 8)
    System.arraycopy(pix, 0, out, pixOff, pix.length)
    out
  }

  /** Decode ANY supported image container to (w, h, rgb-top-down): the
    * codec-free BMP layout plus the compressed formats whose
    * compression is implementable without media libraries (PNG via the
    * JDK's Inflater, GIF via LZW, TIFF via LZW/Deflate/PackBits). */
  def decodeImage(bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] =
    decodeBmp(bytes).orElse(decodePng(bytes)).orElse(decodeGif(bytes))
      .orElse(decodeTiff(bytes))

  // -------------------------------------------- perceptual image hashing
  /** dHash: the standard difference-hash perceptual image fingerprint —
    * 8×9 luminance grid, one bit per horizontal neighbor pair, 64 bits.
    * Near-identical images (recompression, small edits, brightness-
    * preserving noise) land within a small Hamming distance, so the
    * SimHash pigeonhole-banding machinery gives image near-dup dedup for
    * free ([[imageNearDupEdges]]).
    *
    * INTEGER-EXACT by construction (replicable in any SQL engine, no
    * float anywhere):
    *   - luma = (299·R + 587·G + 114·B) / 1000, integer floor (Rec.601
    *     per-mille weights);
    *   - cell(i,j), i∈[0,8), j∈[0,9) = floor-mean of lumas over pixel
    *     block x ∈ [j·w/9, (j+1)·w/9), y ∈ [i·h/8, (i+1)·h/8) (integer
    *     floor boundaries — blocks tile the image exactly);
    *   - bit k = i·8+j set iff cell(i,j) > cell(i,j+1).
    * Requires w ≥ 9 and h ≥ 8 (every block non-empty): returns None
    * otherwise. */
  def dHash(w: Int, h: Int, rgb: Array[Byte]): Option[Long] = {
    if (w < 9 || h < 8 || rgb == null || rgb.length < w * h * 3) return None
    val cells = new Array[Long](8 * 9)
    var i = 0
    while (i < 8) {
      val y0 = i * h / 8
      val y1 = (i + 1) * h / 8
      var j = 0
      while (j < 9) {
        val x0 = j * w / 9
        val x1 = (j + 1) * w / 9
        var sum = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            val p = (y * w + x) * 3
            sum += (299 * (rgb(p) & 0xFF) + 587 * (rgb(p + 1) & 0xFF) +
              114 * (rgb(p + 2) & 0xFF)) / 1000
            x += 1
          }
          y += 1
        }
        cells(i * 9 + j) = sum / ((y1 - y0).toLong * (x1 - x0))
        j += 1
      }
      i += 1
    }
    var hash = 0L
    i = 0
    while (i < 8) {
      var j = 0
      while (j < 8) {
        if (cells(i * 9 + j) > cells(i * 9 + j + 1)) hash |= 1L << (i * 8 + j)
        j += 1
      }
      i += 1
    }
    Some(hash)
  }

  /** Binary image column → (id, w, h, dhash) fingerprints, one typed
    * mapPartitions pass (decode once per blob). Undecodable blobs and
    * sub-9×8 images yield null dims/hash — kept, never a task failure.
    * Decodes BMP, PNG, GIF and TIFF ([[decodeImage]]); a production deployment widens the dispatch
    * to JPEG — the hash and everything downstream are format-agnostic. */
  def imageDHash(df: DataFrame, idCol: String, binCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long").as("id"), col(binCol).as("bin"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bin) =>
          decodeImage(bin) match {
            case Some((w, h, rgb)) =>
              (id, Some(w), Some(h), dHash(w, h, rgb))
            case None => (id, None, None, None)
          }
        }
      }
      .toDF("id", "w", "h", "dhash")
  }

  /** Near-dup edges over ANY precomputed 64-bit perceptual fingerprint
    * column (image dHash, …): the SAME pigeonhole
    * block-banding + salted grouping + exact Hamming verify as SimHash
    * text dedup — recall 1.0 for hamming ≤ blocks−1 by pigeonhole,
    * bucketed and salted so it scales like every other banded stage.
    * Null fingerprints (undecodable blobs) are skipped. Feed the output
    * to ConnectedComponents for cluster assignment. */
  def fingerprintNearDupEdges(hashes: DataFrame, fpCol: String,
      cfg: DedupConfig): DataFrame = {
    val blocks = SimHash.blocksFor(cfg.hammingK)
    val fps = hashes.where(col(fpCol).isNotNull)
      .select(col("id").cast("long").as("id"), col(fpCol).cast("long").as("fp"))
      .localCheckpoint()
    val cand = Lsh.groupEdges(SimHash.bandKeys(fps, blocks), cfg.saltBuckets,
      cfg.allPairsCap, cfg.chainEdges)
    VerifyPairs.verifyHamming(cand, fps, cfg.hammingK)
  }

  /** Image near-dup edges: [[imageDHash]] output through
    * [[fingerprintNearDupEdges]]. */
  def imageNearDupEdges(hashes: DataFrame, cfg: DedupConfig): DataFrame =
    fingerprintNearDupEdges(hashes, "dhash", cfg)
}
