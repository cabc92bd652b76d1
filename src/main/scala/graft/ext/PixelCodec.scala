package graft.ext

import java.util.zip.{CRC32, Deflater, Inflater}

/** REAL pixel codecs in pure JDK — no external imaging library, only
  * public format knowledge and `java.util.zip`:
  *
  *   - PNG decode: zlib-inflate the IDAT stream, undo all five standard
  *     scanline filters (None/Sub/Up/Average/Paeth), expand gray /
  *     palette / gray+alpha / RGBA to RGB. Bit depth 8, both
  *     non-interlaced and Adam7 interlaced (seven scattered passes).
  *   - PNG encode: per-row filter of the caller's choice, zlib-deflate,
  *     real CRC-32 chunk trailers — output decodes in any PNG reader.
  *   - BMP decode: uncompressed 24-bit BITMAPINFOHEADER, bottom-up and
  *     top-down, 4-byte row padding.
  *   - GIF decode: full LZW decompression (variable code width, clear
  *     codes, 4096-entry table), global/local color tables, interlaced
  *     row ordering, frame compositing with disposal methods and
  *     transparency — animated GIFs yield one composited RGB canvas per
  *     frame.
  *   - GIF encode (fixture side): valid LZW stream via the classic
  *     literal-codes-with-periodic-clear construction.
  *
  * These give [[Multimodal]] real bodies for decode / feature-extract /
  * resize / frame-sample on PNG, BMP, GIF and JPEG payloads (the latter
  * via [[JpegCodec]] — full Huffman+IDCT entropy decode, sequential
  * and progressive). Video samples remain the stated stub fallback at
  * each call site.
  *
  * Everything here is row-local byte work: one payload in, one pixel
  * buffer out, no Spark types — the distribution shape (per-partition
  * batching, binary never shuffling) lives in [[Multimodal]].
  */
object PixelCodec {

  /** Decoded raster: 8-bit RGB, row-major, 3 bytes per pixel. */
  final case class RgbImage(width: Int, height: Int, rgb: Array[Byte]) {
    require(rgb.length == width * height * 3, "pixel buffer size mismatch")
  }

  /** Hard ceiling on decoded raster size (64 MPx ≈ 192 MB RGB): a
    * malformed header must not be able to demand a multi-GB allocation
    * inside an executor. Real corpus work that needs larger rasters
    * raises this consciously.
    */
  val MaxPixels: Long = 64L * 1024 * 1024

  private def dimsSane(w: Int, h: Int): Boolean =
    w > 0 && h > 0 && w.toLong * h <= MaxPixels

  // ---------------------------------------------------------------- PNG

  private val PngSig = Array(0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** PNG → RGB. Supports bit depth 8, color types 0 (gray), 2 (RGB),
    * 3 (palette), 4 (gray+alpha), 6 (RGBA), non-interlaced and Adam7
    * interlaced. Alpha is dropped (composited over nothing — the raw
    * channel values are kept), matching the feature-extraction use.
    * Returns None for other depths, truncated streams, or inflate
    * errors — never throws on malformed input.
    */
  def decodePng(bytes: Array[Byte]): Option[RgbImage] = {
    if (bytes.length < PngSig.length + 25 || !bytes.startsWith(PngSig)) return None
    def u8(i: Int) = bytes(i) & 0xff
    def be32(i: Int) = (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)

    var w, h, depth, colorType, interlace = -1
    var palette: Array[Byte] = null
    val idat = new java.io.ByteArrayOutputStream()
    var i = PngSig.length
    var done = false
    while (!done && i + 8 <= bytes.length) {
      val len = be32(i)
      if (len < 0 || i + 12L + len > bytes.length) return None
      val typ = new String(bytes, i + 4, 4, "US-ASCII")
      val ds = i + 8
      typ match {
        case "IHDR" =>
          if (len < 13) return None
          w = be32(ds); h = be32(ds + 4)
          depth = u8(ds + 8); colorType = u8(ds + 9); interlace = u8(ds + 12)
        case "PLTE" => palette = java.util.Arrays.copyOfRange(bytes, ds, ds + len)
        case "IDAT" => idat.write(bytes, ds, len)
        case "IEND" => done = true
        case _ => // ancillary chunk — skip (CRC not verified; parse-tolerant)
      }
      i = ds + len + 4
    }
    if (w <= 0 || depth != 8 || (interlace != 0 && interlace != 1) || !dimsSane(w, h)) return None
    val channels = colorType match {
      case 0 => 1; case 2 => 3; case 3 => 1; case 4 => 2; case 6 => 4
      case _ => return None
    }
    if (colorType == 3 && (palette == null || palette.length % 3 != 0)) return None

    // Adam7 (interlace 1) stores seven independently-filtered reduced
    // images; non-interlaced is the same loop with one full-frame pass.
    // Per pass p, source pixel (x, y) lands at (x0 + x·dx, y0 + y·dy).
    val passes: Seq[(Int, Int, Int, Int)] =
      if (interlace == 0) Seq((0, 0, 1, 1))
      else Seq((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
        (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))
    def ceilDiv(a: Int, b: Int) = (a + b - 1) / b
    val dims = passes.map { case (x0, y0, dx, dy) =>
      (math.max(0, ceilDiv(w - x0, dx)), math.max(0, ceilDiv(h - y0, dy)))
    }
    val expected = dims.map { case (pw, ph) =>
      if (pw == 0 || ph == 0) 0L else ph.toLong * (pw.toLong * channels + 1)
    }.sum
    val raw = inflate(idat.toByteArray, expected) match {
      case Some(r) => r
      case None => return None
    }
    val out = new Array[Byte](w * h * 3)
    val bpp = channels // bit depth 8: filter distance = channel count
    var base = 0
    for (((x0, y0, dx, dy), (pw, ph)) <- passes.zip(dims) if pw > 0 && ph > 0) {
      val rowBytes = pw * channels
      // Undo per-row filters over a two-row window; filters never cross
      // pass boundaries (each pass's first row sees a zero prior row)
      val prev = new Array[Byte](rowBytes)
      val cur = new Array[Byte](rowBytes)
      var y = 0
      while (y < ph) {
        val ft = raw(base) & 0xff
        System.arraycopy(raw, base + 1, cur, 0, rowBytes)
        base += rowBytes + 1
        ft match {
          case 0 =>
          case 1 =>
            var x = bpp
            while (x < rowBytes) { cur(x) = (cur(x) + cur(x - bpp)).toByte; x += 1 }
          case 2 =>
            var x = 0
            while (x < rowBytes) { cur(x) = (cur(x) + prev(x)).toByte; x += 1 }
          case 3 =>
            var x = 0
            while (x < rowBytes) {
              val left = if (x >= bpp) cur(x - bpp) & 0xff else 0
              cur(x) = (cur(x) + ((left + (prev(x) & 0xff)) >> 1)).toByte
              x += 1
            }
          case 4 =>
            var x = 0
            while (x < rowBytes) {
              val a = if (x >= bpp) cur(x - bpp) & 0xff else 0
              val b = prev(x) & 0xff
              val c = if (x >= bpp) prev(x - bpp) & 0xff else 0
              cur(x) = (cur(x) + paeth(a, b, c)).toByte
              x += 1
            }
          case _ => return None
        }
        // expand to RGB, scattering to the pass's interleaved positions
        var x = 0
        while (x < pw) {
          val o = ((y0 + y * dy) * w + (x0 + x * dx)) * 3
          colorType match {
            case 0 =>
              val g = cur(x); out(o) = g; out(o + 1) = g; out(o + 2) = g
            case 2 =>
              out(o) = cur(3 * x); out(o + 1) = cur(3 * x + 1); out(o + 2) = cur(3 * x + 2)
            case 3 =>
              val pi = (cur(x) & 0xff) * 3
              if (pi + 2 >= palette.length) return None
              out(o) = palette(pi); out(o + 1) = palette(pi + 1); out(o + 2) = palette(pi + 2)
            case 4 =>
              val g = cur(2 * x); out(o) = g; out(o + 1) = g; out(o + 2) = g
            case 6 =>
              out(o) = cur(4 * x); out(o + 1) = cur(4 * x + 1); out(o + 2) = cur(4 * x + 2)
          }
          x += 1
        }
        System.arraycopy(cur, 0, prev, 0, rowBytes)
        y += 1
      }
    }
    Some(RgbImage(w, h, out))
  }

  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  private def inflate(data: Array[Byte], expected: Long): Option[Array[Byte]] = {
    if (expected <= 0 || expected > Int.MaxValue - 8) return None
    val inf = new Inflater()
    try {
      inf.setInput(data)
      val out = new Array[Byte](expected.toInt)
      var off = 0
      while (off < out.length && !inf.finished()) {
        val n = inf.inflate(out, off, out.length - off)
        // any zero-progress iteration is fatal: needsInput (truncated
        // stream) or needsDictionary (FDICT preset, unsupported) — looping
        // on would hang the executor thread
        if (n == 0) return None
        off += n
      }
      if (off == out.length) Some(out) else None
    } catch {
      case _: java.util.zip.DataFormatException => None
    } finally inf.end()
  }

  /** RGB → PNG (color type 2, bit depth 8, non-interlaced), real CRCs,
    * zlib-deflated IDAT. `filterFor(y)` picks the scanline filter
    * (0–4) per row — specs use this to exercise every unfilter path;
    * the default Sub is a good general choice for natural gradients.
    */
  def encodePng(img: RgbImage, filterFor: Int => Int = _ => 1): Array[Byte] = {
    val rowBytes = img.width * 3
    val raw = new Array[Byte]((rowBytes + 1) * img.height)
    val bpp = 3
    var y = 0
    while (y < img.height) {
      val ft = filterFor(y)
      require(ft >= 0 && ft <= 4, s"invalid PNG filter $ft")
      val base = y * (rowBytes + 1)
      raw(base) = ft.toByte
      var x = 0
      while (x < rowBytes) {
        val v = img.rgb(y * rowBytes + x) & 0xff
        val left = if (x >= bpp) img.rgb(y * rowBytes + x - bpp) & 0xff else 0
        val up = if (y > 0) img.rgb((y - 1) * rowBytes + x) & 0xff else 0
        val ul = if (x >= bpp && y > 0) img.rgb((y - 1) * rowBytes + x - bpp) & 0xff else 0
        val filtered = ft match {
          case 0 => v
          case 1 => v - left
          case 2 => v - up
          case 3 => v - ((left + up) >> 1)
          case 4 => v - paeth(left, up, ul)
        }
        raw(base + 1 + x) = filtered.toByte
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    out.write(PngSig, 0, PngSig.length)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      def be32(v: Long): Unit = {
        out.write((v >>> 24).toInt); out.write((v >> 16).toInt)
        out.write((v >> 8).toInt); out.write(v.toInt)
      }
      be32(data.length.toLong)
      val tb = typ.getBytes("US-ASCII")
      out.write(tb, 0, 4)
      out.write(data, 0, data.length)
      val crc = new CRC32()
      crc.update(tb); crc.update(data)
      be32(crc.getValue)
    }
    val ihdr = new Array[Byte](13)
    def put32(a: Array[Byte], i: Int, v: Int): Unit = {
      a(i) = (v >>> 24).toByte; a(i + 1) = (v >> 16).toByte
      a(i + 2) = (v >> 8).toByte; a(i + 3) = v.toByte
    }
    put32(ihdr, 0, img.width); put32(ihdr, 4, img.height)
    ihdr(8) = 8; ihdr(9) = 2 // depth 8, truecolor
    chunk("IHDR", ihdr)
    val def_ = new Deflater(Deflater.DEFAULT_COMPRESSION)
    def_.setInput(raw); def_.finish()
    val zbuf = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](8192)
    while (!def_.finished()) {
      val n = def_.deflate(tmp)
      zbuf.write(tmp, 0, n)
    }
    def_.end()
    chunk("IDAT", zbuf.toByteArray)
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  // ---------------------------------------------------------------- BMP

  /** BMP → RGB: uncompressed 24-bit BITMAPINFOHEADER (the overwhelmingly
    * common on-disk form), bottom-up (positive height) and top-down
    * (negative), rows padded to 4 bytes. Returns None otherwise.
    */
  def decodeBmp(bytes: Array[Byte]): Option[RgbImage] = {
    if (bytes.length < 54 || bytes(0) != 'B' || bytes(1) != 'M') return None
    def u8(i: Int) = bytes(i) & 0xff
    def le16(i: Int) = u8(i) | u8(i + 1) << 8
    def le32(i: Int) = u8(i) | (u8(i + 1) << 8) | (u8(i + 2) << 16) | (u8(i + 3) << 24)
    val dataOff = le32(10)
    val hdrSize = le32(14)
    if (hdrSize < 40) return None
    val w = le32(18)
    val hRaw = le32(22)
    val topDown = hRaw < 0
    val h = math.abs(hRaw)
    val bpp = le16(28)
    val compression = le32(30)
    if (bpp != 24 || compression != 0 || !dimsSane(w, h)) return None
    val rowSize = ((w * 3 + 3) / 4) * 4
    if (dataOff < 0 || dataOff.toLong + rowSize.toLong * h > bytes.length) return None
    val out = new Array[Byte](w * h * 3)
    var y = 0
    while (y < h) {
      val srcRow = if (topDown) y else h - 1 - y
      val src = dataOff + srcRow * rowSize
      var x = 0
      while (x < w) {
        val o = (y * w + x) * 3
        // BMP stores BGR
        out(o) = bytes(src + x * 3 + 2)
        out(o + 1) = bytes(src + x * 3 + 1)
        out(o + 2) = bytes(src + x * 3)
        x += 1
      }
      y += 1
    }
    Some(RgbImage(w, h, out))
  }

  /** Raw DIB sample decode — AVI `##db`/`##dc` chunks of an
    * uncompressed or RLE8 video stream carry pixel BITS only; the
    * describing BITMAPINFOHEADER (+ palette) lives in the stream's
    * `strf` header chunk, passed here as `strf`. Supports the two DIB
    * forms AVI files actually ship: BI_RGB 24-bit (decoded by
    * synthesizing a BMP file header in front of `strf ++ bits` and
    * reusing [[decodeBmp]]'s row walk) and BI_RLE8 8-bit palettized
    * (run-length decode below). Returns None for anything else; all
    * paths are bounds-checked and never throw.
    */
  def decodeDib(strf: Array[Byte], bits: Array[Byte]): Option[RgbImage] = {
    if (strf == null || bits == null || strf.length < 40) return None
    def u8(a: Array[Byte], i: Int) = a(i) & 0xff
    def le16(i: Int) = u8(strf, i) | u8(strf, i + 1) << 8
    def le32(i: Int) =
      u8(strf, i) | u8(strf, i + 1) << 8 | u8(strf, i + 2) << 16 | u8(strf, i + 3) << 24
    val hdrSize = le32(0)
    if (hdrSize < 40 || hdrSize > strf.length) return None
    val bpp = le16(14)
    val comp = le32(16)
    (comp, bpp) match {
      case (0, 24) =>
        // BI_RGB: a BMP is exactly fileheader ++ infoheader ++ bits
        val dataOff = 14 + strf.length
        val out = new java.io.ByteArrayOutputStream(dataOff + bits.length)
        out.write('B'); out.write('M')
        def le32w(v: Int): Unit =
          { out.write(v & 0xff); out.write((v >> 8) & 0xff); out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff) }
        le32w(dataOff + bits.length); le32w(0); le32w(dataOff)
        out.write(strf); out.write(bits)
        decodeBmp(out.toByteArray)
      case (1, 8) => decodeRle8(strf, hdrSize, bits)
      case _ => None
    }
  }

  /** BI_RLE8 decode: (count, index) runs, escapes 0=EOL / 1=EOS /
    * 2=delta(dx,dy) / n≥3 = n absolute indices word-padded; rows are
    * stored bottom-up for positive height. Out-of-canvas writes clip;
    * truncated streams end the decode with what was painted.
    */
  private def decodeRle8(strf: Array[Byte], hdrSize: Int,
      bits: Array[Byte]): Option[RgbImage] = {
    def u8(a: Array[Byte], i: Int) = a(i) & 0xff
    def le32(i: Int) =
      u8(strf, i) | u8(strf, i + 1) << 8 | u8(strf, i + 2) << 16 | u8(strf, i + 3) << 24
    val w = le32(4)
    val hRaw = le32(8)
    val topDown = hRaw < 0
    val h = math.abs(hRaw)
    if (!dimsSane(w, h)) return None
    val clrUsed = le32(32)
    val nColors = if (clrUsed <= 0 || clrUsed > 256) 256 else clrUsed
    if (strf.length < hdrSize + nColors * 4) return None
    val idx = new Array[Byte](w * h) // storage-order index canvas, bg = 0
    var x = 0
    var y = 0
    var i = 0
    var eos = false
    while (!eos && i + 1 < bits.length && y < h) {
      val c = u8(bits, i); val v = u8(bits, i + 1); i += 2
      if (c > 0) {
        var k = 0
        while (k < c && x < w) { idx(y * w + x) = v.toByte; x += 1; k += 1 }
      } else v match {
        case 0 => x = 0; y += 1 // EOL
        case 1 => eos = true // EOS
        case 2 =>
          if (i + 1 < bits.length) { x += u8(bits, i); y += u8(bits, i + 1); i += 2 }
          else eos = true
        case n => // absolute mode, word-padded
          var k = 0
          while (k < n && i < bits.length) {
            if (x < w && y < h) { idx(y * w + x) = bits(i); x += 1 }
            i += 1; k += 1
          }
          if ((n & 1) == 1) i += 1
      }
    }
    // palette (BGRA quads after the info header) maps index → RGB, with
    // the bottom-up row flip decodeBmp applies
    val out = new Array[Byte](w * h * 3)
    var yy = 0
    while (yy < h) {
      val srcRow = if (topDown) yy else h - 1 - yy
      var xx = 0
      while (xx < w) {
        val ci = math.min(nColors - 1, idx(srcRow * w + xx) & 0xff)
        val p = hdrSize + ci * 4
        val o = (yy * w + xx) * 3
        out(o) = strf(p + 2); out(o + 1) = strf(p + 1); out(o + 2) = strf(p)
        xx += 1
      }
      yy += 1
    }
    Some(RgbImage(w, h, out))
  }

  // ---------------------------------------------------------------- GIF

  /** One decoded GIF frame: the full logical-screen canvas AFTER this
    * frame is composited (what a viewer displays at that point).
    */
  final case class GifFrame(image: RgbImage, delayCs: Int)

  /** GIF87a/89a → composited frames. Full LZW (variable code width up
    * to 12 bits, clear/EOI codes, deferred clear), global and local
    * color tables, interlaced images, transparency, disposal methods
    * 0/1 (leave), 2 (restore background), 3 (restore previous).
    * Returns None on structural corruption; never throws.
    */
  def decodeGifFrames(bytes: Array[Byte]): Option[Seq[GifFrame]] = {
    if (bytes.length < 13) return None
    def u8(i: Int) = bytes(i) & 0xff
    def le16(i: Int) = u8(i) | u8(i + 1) << 8
    val sig = new String(bytes, 0, 6, "US-ASCII")
    if (sig != "GIF87a" && sig != "GIF89a") return None
    val sw = le16(6); val sh = le16(8)
    if (!dimsSane(sw, sh)) return None
    val lsdFlags = u8(10)
    val bgIndex = u8(11)
    var i = 13
    var gct: Array[Byte] = null
    if ((lsdFlags & 0x80) != 0) {
      val n = 3 * (2 << (lsdFlags & 7))
      if (i + n > bytes.length) return None
      gct = java.util.Arrays.copyOfRange(bytes, i, i + n)
      i += n
    }
    val canvas = new Array[Byte](sw * sh * 3)
    // background fill (only meaningful with a GCT; else stays black)
    if (gct != null && (bgIndex * 3 + 2) < gct.length) {
      var p = 0
      while (p < canvas.length) {
        canvas(p) = gct(bgIndex * 3); canvas(p + 1) = gct(bgIndex * 3 + 1)
        canvas(p + 2) = gct(bgIndex * 3 + 2); p += 3
      }
    }
    val frames = scala.collection.mutable.ArrayBuffer.empty[GifFrame]
    var transparentIdx = -1
    var disposal = 0
    var delayCs = 0
    var ok = true
    var ended = false
    while (ok && !ended && i < bytes.length) {
      u8(i) match {
        case 0x3b => ended = true
        case 0x21 => // extension: label + sub-blocks
          if (i + 2 > bytes.length) { ok = false }
          else {
            val label = u8(i + 1)
            var j = i + 2
            if (label == 0xf9 && j + 6 <= bytes.length && u8(j) == 4) {
              val packed = u8(j + 1)
              disposal = (packed >> 2) & 7
              delayCs = le16(j + 2)
              transparentIdx = if ((packed & 1) != 0) u8(j + 4) else -1
            }
            // skip sub-blocks to terminator
            var run = true
            while (run && j < bytes.length) {
              val bs = u8(j)
              if (bs == 0) { run = false; j += 1 }
              else j += 1 + bs
            }
            if (run) ok = false else i = j
          }
        case 0x2c => // image descriptor
          if (i + 10 > bytes.length) { ok = false }
          else {
            val left = le16(i + 1); val top = le16(i + 3)
            val iw = le16(i + 5); val ih = le16(i + 7)
            val flags = u8(i + 9)
            var j = i + 10
            var table = gct
            if ((flags & 0x80) != 0) {
              val n = 3 * (2 << (flags & 7))
              if (j + n > bytes.length) { ok = false }
              else { table = java.util.Arrays.copyOfRange(bytes, j, j + n); j += n }
            }
            if (!ok || table == null || iw <= 0 || ih <= 0 ||
                left + iw > sw || top + ih > sh) { ok = false }
            else {
              val interlaced = (flags & 0x40) != 0
              decodeLzwImage(bytes, j, iw * ih) match {
                case None => ok = false
                case Some((indices, after)) =>
                  if (indices.length < iw * ih) ok = false
                  else {
                    val before =
                      if (disposal == 3) java.util.Arrays.copyOf(canvas, canvas.length) else null
                    // composite
                    var y = 0
                    while (y < ih) {
                      val destY = top + (if (interlaced) deinterlaceRow(y, ih) else y)
                      var x = 0
                      while (x < iw) {
                        val idx = indices(y * iw + x) & 0xff
                        if (idx != transparentIdx && idx * 3 + 2 < table.length) {
                          val o = (destY * sw + left + x) * 3
                          canvas(o) = table(idx * 3); canvas(o + 1) = table(idx * 3 + 1)
                          canvas(o + 2) = table(idx * 3 + 2)
                        }
                        x += 1
                      }
                      y += 1
                    }
                    frames += GifFrame(
                      RgbImage(sw, sh, java.util.Arrays.copyOf(canvas, canvas.length)), delayCs)
                    disposal match {
                      case 2 =>
                        // restore the frame rect to background
                        val (br, bg_, bb) =
                          if (gct != null && bgIndex * 3 + 2 < gct.length)
                            (gct(bgIndex * 3), gct(bgIndex * 3 + 1), gct(bgIndex * 3 + 2))
                          else (0.toByte, 0.toByte, 0.toByte)
                        var yy = 0
                        while (yy < ih) {
                          var xx = 0
                          while (xx < iw) {
                            val o = ((top + yy) * sw + left + xx) * 3
                            canvas(o) = br; canvas(o + 1) = bg_; canvas(o + 2) = bb
                            xx += 1
                          }
                          yy += 1
                        }
                      case 3 => System.arraycopy(before, 0, canvas, 0, canvas.length)
                      case _ =>
                    }
                    transparentIdx = -1; disposal = 0; delayCs = 0
                    i = after
                  }
              }
            }
          }
        case _ => ok = false
      }
    }
    if (ok && frames.nonEmpty) Some(frames.toSeq) else None
  }

  /** Adam-free GIF interlace: source row y of an ih-row interlaced
    * image lands on this display row (4 passes: 0/8, 4/8, 2/4, 1/2).
    */
  private def deinterlaceRow(y: Int, ih: Int): Int = {
    val p1 = (ih + 7) / 8
    val p2 = (ih + 3) / 8 // rows ≡ 4 (mod 8)
    val p3 = (ih + 1) / 4 // rows ≡ 2 (mod 4)
    if (y < p1) y * 8
    else if (y < p1 + p2) (y - p1) * 8 + 4
    else if (y < p1 + p2 + p3) (y - p1 - p2) * 4 + 2
    else (y - p1 - p2 - p3) * 2 + 1
  }

  /** GIF-LZW decode starting at the min-code-size byte; returns the
    * palette-index array and the offset just past the block terminator.
    * Decoding stops once `maxPixels` indices are produced: a crafted
    * stream of max-length table references can otherwise expand a few MB
    * of codes into tens of GB, and the frame needs only iw*ih pixels —
    * the caller discards anything past that anyway.
    */
  private def decodeLzwImage(bytes: Array[Byte], start: Int,
                             maxPixels: Int): Option[(Array[Byte], Int)] = {
    def u8(i: Int) = bytes(i) & 0xff
    if (start >= bytes.length) return None
    val minCode = u8(start)
    if (minCode < 2 || minCode > 11) return None
    // concatenate sub-blocks
    val data = new java.io.ByteArrayOutputStream()
    var i = start + 1
    var done = false
    while (!done && i < bytes.length) {
      val bs = u8(i)
      if (bs == 0) { done = true; i += 1 }
      else {
        if (i + 1 + bs > bytes.length) return None
        data.write(bytes, i + 1, bs)
        i += 1 + bs
      }
    }
    if (!done) return None
    val d = data.toByteArray
    val clear = 1 << minCode
    val eoi = clear + 1
    // Table entry c expands to expansion(prefix(c)) + suffix(c);
    // first(c) caches the expansion's first byte (literals prefill).
    val MaxCodes = 4096
    val prefix = new Array[Int](MaxCodes)
    val suffix = new Array[Byte](MaxCodes)
    val first = new Array[Byte](MaxCodes)
    var c0 = 0
    while (c0 < clear) { first(c0) = c0.toByte; c0 += 1 }
    val out = new java.io.ByteArrayOutputStream()
    val stack = new Array[Byte](MaxCodes)
    var nextCode = eoi + 1
    var codeWidth = minCode + 1
    var prev = -1
    var bitPos = 0
    var finished = false
    def readCode(): Int = {
      if ((bitPos + codeWidth + 7) / 8 > d.length) -1
      else {
        var v = 0
        var b = 0
        while (b < codeWidth) {
          if ((d((bitPos + b) >> 3) & (1 << ((bitPos + b) & 7))) != 0) v |= 1 << b
          b += 1
        }
        bitPos += codeWidth
        v
      }
    }
    var code = readCode()
    while (!finished && code >= 0 && out.size() < maxPixels) {
      if (code == clear) {
        nextCode = eoi + 1; codeWidth = minCode + 1; prev = -1
      } else if (code == eoi) {
        finished = true
      } else if (prev < 0) {
        if (code >= clear) return None // first code must be a literal
        out.write(code)
        prev = code
      } else {
        if (code > nextCode || code == eoi) return None
        // first byte of the expansion this code will emit
        val fb: Byte = if (code == nextCode) first(prev) else first(code)
        // walk the prefix chain onto the stack (KwKwK emits prev + fb)
        var sp = 0
        var cur = code
        if (code == nextCode) { stack(sp) = fb; sp += 1; cur = prev }
        while (cur >= eoi + 1) {
          if (sp >= stack.length) return None
          stack(sp) = suffix(cur); sp += 1
          cur = prefix(cur)
        }
        stack(sp) = cur.toByte; sp += 1
        while (sp > 0) { sp -= 1; out.write(stack(sp) & 0xff) }
        if (nextCode < MaxCodes) {
          prefix(nextCode) = prev
          suffix(nextCode) = fb
          first(nextCode) = first(prev)
          nextCode += 1
          if (codeWidth < 12 && nextCode == (1 << codeWidth)) codeWidth += 1
        }
        prev = code
      }
      if (!finished) code = readCode()
    }
    Some((out.toByteArray, i))
  }

  /** Valid GIF-LZW stream for an index array: literal codes with a
    * CLEAR emitted before the table would force a width change — the
    * classic "uncompressed GIF" construction every decoder accepts.
    */
  private def encodeLzwLiteral(indices: Array[Byte], minCode: Int): Array[Byte] = {
    val clear = 1 << minCode
    val eoi = clear + 1
    val codeWidth = minCode + 1
    val bits = new java.io.ByteArrayOutputStream()
    var acc = 0L
    var nbits = 0
    def emit(code: Int): Unit = {
      acc |= code.toLong << nbits
      nbits += codeWidth
      while (nbits >= 8) { bits.write((acc & 0xff).toInt); acc >>= 8; nbits -= 8 }
    }
    emit(clear)
    var sinceClear = 0
    val budget = (1 << codeWidth) - eoi - 2 // table slots before width would grow
    indices.foreach { ix =>
      if (sinceClear >= budget) { emit(clear); sinceClear = 0 }
      emit(ix & 0xff)
      sinceClear += 1
    }
    emit(eoi)
    if (nbits > 0) bits.write((acc & 0xff).toInt)
    bits.toByteArray
  }

  /** Fixture-side GIF builder: logical screen w×h with a 256-entry
    * global color table `palette` (RGB triples), one full-frame image
    * per element of `frameIndices` (each an index array of length w*h).
    * Real header/LSD/GCE/descriptor bytes and a real LZW stream.
    */
  def syntheticGif(w: Int, h: Int, palette: Array[Byte],
      frameIndices: Seq[Array[Byte]], delayCs: Int = 4): Array[Byte] = {
    require(palette.length == 256 * 3, "palette must have 256 RGB entries")
    require(frameIndices.nonEmpty)
    val out = new java.io.ByteArrayOutputStream()
    def b(v: Int): Unit = out.write(v & 0xff)
    def le16(v: Int): Unit = { b(v); b(v >> 8) }
    out.write("GIF89a".getBytes("US-ASCII"))
    le16(w); le16(h)
    b(0x80 | 7) // GCT present, 256 entries
    b(0) // background index
    b(0) // aspect
    out.write(palette, 0, palette.length)
    frameIndices.foreach { idx =>
      require(idx.length == w * h, "frame index size mismatch")
      // GCE (no transparency, disposal 1)
      b(0x21); b(0xf9); b(4); b(0x04); le16(delayCs); b(0); b(0)
      // image descriptor: full frame, no LCT, not interlaced
      b(0x2c); le16(0); le16(0); le16(w); le16(h); b(0)
      b(8) // min LZW code size
      val lzw = encodeLzwLiteral(idx, 8)
      var off = 0
      while (off < lzw.length) {
        val n = math.min(255, lzw.length - off)
        b(n); out.write(lzw, off, n)
        off += n
      }
      b(0) // block terminator
    }
    b(0x3b)
    out.toByteArray
  }

  // ------------------------------------------------------- transforms

  /** Nearest-neighbor resample — the standard cheap resize; pixel (x,y)
    * of the target samples source (x*sw/tw, y*sh/th).
    */
  def resizeNearest(img: RgbImage, tw: Int, th: Int): RgbImage = {
    require(dimsSane(tw, th), s"bad target dims ${tw}x$th")
    val out = new Array[Byte](tw * th * 3)
    var y = 0
    while (y < th) {
      val sy = (y.toLong * img.height / th).toInt
      var x = 0
      while (x < tw) {
        val sx = (x.toLong * img.width / tw).toInt
        val s = (sy * img.width + sx) * 3
        val o = (y * tw + x) * 3
        out(o) = img.rgb(s); out(o + 1) = img.rgb(s + 1); out(o + 2) = img.rgb(s + 2)
        x += 1
      }
      y += 1
    }
    RgbImage(tw, th, out)
  }

  /** Grid-pooled luminance features: mean Rec.601 luma (integer
    * weights 299/587/114, /1000) over a gridW×gridH partition of the
    * image, row-major, normalized to [0,1] — a real pooled embedding
    * for near-dup / similarity work over decoded rasters.
    */
  def pooledLuma(img: RgbImage, gridW: Int, gridH: Int): Array[Float] = {
    require(gridW > 0 && gridH > 0)
    val out = new Array[Float](gridW * gridH)
    var gy = 0
    while (gy < gridH) {
      val y0 = gy * img.height / gridH
      val y1 = math.max(y0 + 1, (gy + 1) * img.height / gridH)
      var gx = 0
      while (gx < gridW) {
        val x0 = gx * img.width / gridW
        val x1 = math.max(x0 + 1, (gx + 1) * img.width / gridW)
        var sum = 0L
        var y = y0
        while (y < math.min(y1, img.height)) {
          var x = x0
          while (x < math.min(x1, img.width)) {
            val o = (y * img.width + x) * 3
            sum += 299L * (img.rgb(o) & 0xff) + 587L * (img.rgb(o + 1) & 0xff) +
              114L * (img.rgb(o + 2) & 0xff)
            x += 1
          }
          y += 1
        }
        val n = (math.min(y1, img.height) - y0).toLong * (math.min(x1, img.width) - x0)
        out(gy * gridW + gx) = if (n == 0) 0f else (sum.toDouble / (n * 1000 * 255)).toFloat
        gx += 1
      }
      gy += 1
    }
    out
  }

  /** Decode any supported raster container: PNG (incl. Adam7), BMP,
    * GIF (first frame), or JPEG ([[JpegCodec.decode]] — full entropy
    * decode, sequential AND progressive). Video payloads remain the
    * callers' stated stub fallback.
    */
  def decodeImage(bytes: Array[Byte]): Option[RgbImage] =
    if (bytes == null || bytes.length < 2) None
    else if (bytes.length >= 8 && bytes.startsWith(PngSig)) decodePng(bytes)
    else if (bytes(0) == 'B' && bytes(1) == 'M') decodeBmp(bytes)
    else if (bytes.length >= 6 &&
      (new String(bytes, 0, 6, "US-ASCII") == "GIF87a" ||
        new String(bytes, 0, 6, "US-ASCII") == "GIF89a"))
      decodeGifFrames(bytes).map(_.head.image)
    else if ((bytes(0) & 0xff) == 0xff && (bytes(1) & 0xff) == 0xd8)
      JpegCodec.decode(bytes)
    else None
}
