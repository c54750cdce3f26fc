package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque `binary` columns
  * with typed metadata, plus decode / feature-extract / resize / frame-sample
  * stages.
  *
  * The Spark-side design is the real artifact here — schema, partition-
  * preserving batch processing, deterministic outputs — while the actual
  * codec call is STUBBED (this container has no image/audio libraries): the
  * `???`-equivalent is [[StubCodec]], a deterministic fake whose "pixels"
  * are derived from the bytes. Swapping StubCodec for a JNI/FFI codec (or a
  * `mapInPandas`-style Python bridge) changes nothing about the plumbing.
  *
  * Scale design: decode is per-row map work with NO shuffle —
  * `mapPartitions` keeps the codec's per-batch setup cost (model load,
  * decoder init) amortized across each partition, exactly like a Pandas UDF
  * batch. Binary payloads stay in the executor; only extracted features
  * (small fixed-width vectors) flow onward.
  */
object Multimodal {

  /** Typed row for decoded media features. */
  case class MediaFeatures(id: Long, format: String, n_bytes: Long,
                           width: Int, height: Int, checksum: Long,
                           features: Array[Float])

  /** Deterministic fake codec — stands in for the real image/audio decoder. */
  object StubCodec {
    /** "Decode" a media blob: dimensions + a fixed-width feature vector,
      * all pure functions of the bytes (so tests and oracles can pin them).
      */
    def decode(id: Long, format: String, bytes: Array[Byte], dim: Int): MediaFeatures = {
      var checksum = 0L
      var i = 0
      while (i < bytes.length) {
        checksum = (checksum * 31 + (bytes(i) & 0xff)) % 1000000007L
        i += 1
      }
      val width = 1 + (checksum % 64).toInt
      val height = 1 + ((checksum / 64) % 64).toInt
      val features = new Array[Float](dim)
      var j = 0
      while (j < dim) {
        features(j) = if (bytes.isEmpty) 0f
          else (bytes(j % bytes.length) & 0xff).toFloat / 255f
        j += 1
      }
      MediaFeatures(id, format, bytes.length.toLong, width, height, checksum, features)
    }
  }

  /** REAL codec for standard uncompressed 24-bit BMP — pure header+pixel
    * arithmetic, zero library dependencies, so the one non-real seam in the
    * repo (StubCodec) gains a genuine byte-level twin: encode writes an
    * actual BITMAPFILEHEADER + BITMAPINFOHEADER + bottom-up BGR pixel array
    * with rows padded to 4 bytes, decode parses exactly that (validating
    * magic, offset, bpp, compression) — a decoder that mishandles padding,
    * BGR order, or the bottom-up row direction produces different
    * position-weighted features and fails the q140 oracle gate.
    * StubCodec remains for shape tests on arbitrary bytes.
    */
  object BmpCodec {
    /** Standard 54-byte-header 24bpp uncompressed BMP of the given pixel
      * function ((x, y from TOP-left) -> (r, g, b)), rows bottom-up and
      * 4-byte padded per the format.
      */
    def encode(width: Int, height: Int, pixel: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
      require(width > 0 && height > 0, "need positive dimensions")
      val rowBytes = width * 3
      val pad = (4 - rowBytes % 4) % 4
      val dataSize = (rowBytes + pad) * height
      val fileSize = 54 + dataSize
      val buf = java.nio.ByteBuffer.allocate(fileSize)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      buf.put('B'.toByte).put('M'.toByte)
      buf.putInt(fileSize).putInt(0).putInt(54) // reserved, pixel offset
      buf.putInt(40).putInt(width).putInt(height) // BITMAPINFOHEADER, bottom-up
      buf.putShort(1).putShort(24) // planes, bpp
      buf.putInt(0).putInt(dataSize) // BI_RGB (uncompressed), image size
      buf.putInt(2835).putInt(2835).putInt(0).putInt(0) // 72 DPI, palette
      var y = height - 1 // bottom row first
      while (y >= 0) {
        var x = 0
        while (x < width) {
          val (r, g, b) = pixel(x, y)
          buf.put(b.toByte).put(g.toByte).put(r.toByte) // BGR on disk
          x += 1
        }
        var p = 0
        while (p < pad) { buf.put(0: Byte); p += 1 }
        y -= 1
      }
      buf.array()
    }

    /** Decoded BMP: dimensions plus position-weighted channel features —
      * sum over pixels of (1 + x + y·width)·channel mod P per channel, a
      * checksum that pins pixel VALUES and their (x, y) positions (a plain
      * mean would not notice a row-order or padding bug).
      */
    case class Decoded(width: Int, height: Int, rSum: Long, gSum: Long, bSum: Long)

    val P = 1000000007L

    /** Parse a standard uncompressed 24bpp BMP. Handles both bottom-up
      * (positive biHeight — the common case) and top-down (negative)
      * row order, and the 4-byte row padding. Throws on anything that is
      * not a BI_RGB 24bpp BMP — a codec must fail loudly, not guess.
      */
    def decode(bytes: Array[Byte]): Decoded = {
      require(bytes.length >= 54, s"BMP too short: ${bytes.length} bytes")
      val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      require(buf.get(0) == 'B'.toByte && buf.get(1) == 'M'.toByte, "bad BMP magic")
      val pixelOffset = buf.getInt(10)
      val width = buf.getInt(18)
      val rawHeight = buf.getInt(22)
      val bpp = buf.getShort(28).toInt
      val compression = buf.getInt(30)
      require(bpp == 24, s"only 24bpp supported, got $bpp")
      require(compression == 0, s"only BI_RGB (uncompressed) supported, got $compression")
      val topDown = rawHeight < 0
      val height = math.abs(rawHeight)
      require(width > 0 && height > 0, s"bad dimensions ${width}x$rawHeight")
      // a pixel array cannot start inside the 54 mandatory header bytes,
      // and all size arithmetic runs in Long so a forged width/height
      // cannot overflow Int into a passing bounds check
      require(pixelOffset >= 54 && pixelOffset <= bytes.length,
        s"bad pixel offset $pixelOffset")
      val rowStrideL = (width.toLong * 3 + 3) / 4 * 4
      require(pixelOffset + rowStrideL * height <= bytes.length,
        "truncated pixel array")
      val rowStride = rowStrideL.toInt // fits: bounded by bytes.length above
      var rSum = 0L; var gSum = 0L; var bSum = 0L
      var row = 0
      while (row < height) {
        val y = if (topDown) row else height - 1 - row // y from TOP-left
        val base = pixelOffset + row * rowStride
        var x = 0
        while (x < width) {
          val weight = 1L + x + y.toLong * width
          bSum = (bSum + weight * (bytes(base + x * 3) & 0xff)) % P
          gSum = (gSum + weight * (bytes(base + x * 3 + 1) & 0xff)) % P
          rSum = (rSum + weight * (bytes(base + x * 3 + 2) & 0xff)) % P
          x += 1
        }
        row += 1
      }
      Decoded(width, height, rSum, gSum, bSum)
    }
  }

  /** REAL codec for non-interlaced 8-bit PNG (grayscale / RGB / RGBA) —
    * JDK-only (`java.util.zip.Inflater` for the DEFLATE stream,
    * `java.util.zip.CRC32` for chunk integrity; PNG is a public spec, RFC
    * 2083), so the multimodal surface gains the format real corpora
    * actually carry alongside the arithmetic-only BMP twin. decode parses
    * the chunk stream (signature, IHDR, concatenated IDAT, IEND),
    * validates every chunk CRC, inflates, and reverses all five scanline
    * filters (None/Sub/Up/Average/Paeth) — a decoder that mishandles any
    * filter, the per-row filter byte, or channel order produces different
    * position-weighted features and fails the golden-fixture gate
    * (PngCodecSpec pins hand-built fixtures per filter type). encode
    * writes a spec-compliant minimal PNG (color type 2, filter 0 rows, one
    * IDAT) so fixtures round-trip without any external tool. Everything
    * throws loudly on non-PNG bytes, bad CRCs, or unsupported variants
    * (bit depths ≠ 8, palette, interlace) — a codec must fail, not guess.
    */
  object PngCodec {
    private val Signature = Array(137, 80, 78, 71, 13, 10, 26, 10).map(_.toByte)
    val P = 1000000007L

    private def crcOf(typeAndData: Array[Byte]): Int = {
      val c = new java.util.zip.CRC32()
      c.update(typeAndData)
      c.getValue.toInt
    }

    /** Minimal spec-compliant encoder: 8-bit RGB (color type 2),
      * non-interlaced, every scanline filter 0, a single IDAT. `pixel` is
      * ((x, y from top-left) -> (r, g, b)).
      */
    def encode(width: Int, height: Int, pixel: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
      require(width > 0 && height > 0, "need positive dimensions")
      val raw = new Array[Byte]((1 + width * 3) * height)
      var y = 0
      while (y < height) {
        val base = y * (1 + width * 3)
        raw(base) = 0 // filter: None
        var x = 0
        while (x < width) {
          val (r, g, b) = pixel(x, y)
          raw(base + 1 + x * 3) = r.toByte
          raw(base + 2 + x * 3) = g.toByte
          raw(base + 3 + x * 3) = b.toByte
          x += 1
        }
        y += 1
      }
      val deflater = new java.util.zip.Deflater()
      deflater.setInput(raw); deflater.finish()
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!deflater.finished()) out.write(buf, 0, deflater.deflate(buf))
      deflater.end()
      val idat = out.toByteArray
      val bb = java.nio.ByteBuffer.allocate(8 + (12 + 13) + (12 + idat.length) + 12)
      bb.put(Signature)
      def chunk(typ: String, data: Array[Byte]): Unit = {
        bb.putInt(data.length)
        val td = typ.getBytes("US-ASCII") ++ data
        bb.put(td)
        bb.putInt(crcOf(td))
      }
      val ihdr = java.nio.ByteBuffer.allocate(13)
        .putInt(width).putInt(height)
        .put(8: Byte).put(2: Byte) // bit depth 8, color type 2 (RGB)
        .put(0: Byte).put(0: Byte).put(0: Byte) // deflate, adaptive filter, no interlace
        .array()
      chunk("IHDR", ihdr)
      chunk("IDAT", idat)
      chunk("IEND", Array.emptyByteArray)
      bb.array()
    }

    /** Decoded PNG: dimensions, color type, and the SAME position-weighted
      * channel checksums as [[BmpCodec.decode]] — sum over pixels of
      * (1 + x + y·width)·channel mod P. Grayscale reports the gray value
      * in all three channels; RGBA's alpha is validated (it must unfilter)
      * but not summed.
      */
    case class Decoded(width: Int, height: Int, colorType: Int,
                       rSum: Long, gSum: Long, bSum: Long)

    def decode(bytes: Array[Byte]): Decoded = {
      require(bytes.length >= 8 + 12 + 13 + 12, s"PNG too short: ${bytes.length} bytes")
      require(java.util.Arrays.equals(bytes.slice(0, 8), Signature), "bad PNG signature")
      val bb = java.nio.ByteBuffer.wrap(bytes)
      bb.position(8)
      var width = 0; var height = 0; var colorType = -1
      var sawIhdr = false; var sawIend = false
      val idat = new java.io.ByteArrayOutputStream()
      while (!sawIend) {
        require(bb.remaining() >= 12, "truncated chunk stream")
        val len = bb.getInt
        require(len >= 0 && len <= bb.remaining() - 8, s"bad chunk length $len")
        val td = new Array[Byte](4 + len)
        bb.get(td)
        val storedCrc = bb.getInt
        require(storedCrc == crcOf(td),
          s"CRC mismatch in ${new String(td, 0, 4, "US-ASCII")} chunk")
        new String(td, 0, 4, "US-ASCII") match {
          case "IHDR" =>
            require(!sawIhdr, "duplicate IHDR")
            require(len == 13, s"bad IHDR length $len")
            val ib = java.nio.ByteBuffer.wrap(td, 4, 13)
            width = ib.getInt; height = ib.getInt
            val bitDepth = ib.get(); colorType = ib.get()
            val compression = ib.get(); val filterMethod = ib.get()
            val interlace = ib.get()
            require(width > 0 && height > 0, s"bad dimensions ${width}x$height")
            require(bitDepth == 8, s"only bit depth 8 supported, got $bitDepth")
            require(colorType == 0 || colorType == 2 || colorType == 6,
              s"only grayscale(0)/RGB(2)/RGBA(6) supported, got color type $colorType")
            require(compression == 0 && filterMethod == 0,
              "unknown compression/filter method")
            require(interlace == 0, "interlaced PNG not supported")
            sawIhdr = true
          case "IDAT" =>
            require(sawIhdr, "IDAT before IHDR")
            idat.write(td, 4, len)
          case "IEND" => sawIend = true
          case _ => () // ancillary chunk: CRC-checked above, content ignored
        }
      }
      // nothing may follow IEND (r15 ADVICE): the codec rejects over-long
      // DEFLATE streams and bad CRCs as forged, so silently accepting
      // arbitrary trailing bytes was the one lenient spot in an otherwise
      // fail-loud contract — keep the posture uniform
      require(bb.remaining() == 0,
        s"${bb.remaining()} trailing byte(s) after IEND — not a valid PNG stream")
      require(sawIhdr, "missing IHDR")
      val bpp = colorType match { case 0 => 1; case 2 => 3; case 6 => 4 }
      // Long arithmetic: forged dimensions must not overflow Int into a
      // passing size check (the BmpCodec discipline)
      val stride = 1L + width.toLong * bpp
      val expected = stride * height
      require(expected <= Int.MaxValue, s"image too large: $expected bytes")
      val raw = new Array[Byte](expected.toInt)
      val inflater = new java.util.zip.Inflater()
      inflater.setInput(idat.toByteArray)
      try {
        var off = 0
        while (off < raw.length && !inflater.finished()) {
          val k = inflater.inflate(raw, off, raw.length - off)
          require(k > 0 || inflater.finished(),
            "truncated DEFLATE stream (inflater stalled before the expected pixel volume)")
          off += k
        }
        require(off == raw.length,
          s"pixel data size mismatch: expected ${raw.length}, inflated $off")
        // and nothing beyond: a stream carrying MORE pixels than IHDR
        // declares is forged, not padded
        require(inflater.finished() || inflater.inflate(new Array[Byte](1)) == 0,
          "DEFLATE stream carries more data than IHDR's dimensions declare")
      } catch {
        case e: java.util.zip.DataFormatException =>
          throw new IllegalArgumentException(s"corrupt DEFLATE stream: ${e.getMessage}")
      } finally inflater.end()
      // reverse the per-scanline filters in place
      val rowBytes = stride.toInt - 1
      var y = 0
      while (y < height) {
        val base = y * stride.toInt
        val filter = raw(base) & 0xff
        var i = 0
        while (i < rowBytes) {
          val cur = raw(base + 1 + i) & 0xff
          val a = if (i >= bpp) raw(base + 1 + i - bpp) & 0xff else 0
          val b = if (y > 0) raw(base + 1 + i - stride.toInt) & 0xff else 0
          val c = if (y > 0 && i >= bpp) raw(base + 1 + i - stride.toInt - bpp) & 0xff else 0
          val recon = filter match {
            case 0 => cur
            case 1 => cur + a
            case 2 => cur + b
            case 3 => cur + (a + b) / 2
            case 4 =>
              val p = a + b - c
              val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
              val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
              cur + pred
            case f => throw new IllegalArgumentException(s"bad filter type $f in row $y")
          }
          raw(base + 1 + i) = (recon & 0xff).toByte
          i += 1
        }
        y += 1
      }
      var rSum = 0L; var gSum = 0L; var bSum = 0L
      y = 0
      while (y < height) {
        val base = y * stride.toInt + 1
        var x = 0
        while (x < width) {
          val weight = 1L + x + y.toLong * width
          val px = base + x * bpp
          if (colorType == 0) {
            val v = raw(px) & 0xff
            rSum = (rSum + weight * v) % P
            gSum = (gSum + weight * v) % P
            bSum = (bSum + weight * v) % P
          } else {
            rSum = (rSum + weight * (raw(px) & 0xff)) % P
            gSum = (gSum + weight * (raw(px + 1) & 0xff)) % P
            bSum = (bSum + weight * (raw(px + 2) & 0xff)) % P
          }
          x += 1
        }
        y += 1
      }
      Decoded(width, height, colorType, rSum, gSum, bSum)
    }
  }

  /** GIF89a fixture ENCODER (reference: the public GIF89a specification).
    * Palette-based and LOSSLESS for images with ≤ 256 distinct colors —
    * which makes it the third lossless lane for the format-sniffing gate
    * (q143): the decode side is deliberately NOT hand-rolled; GIF blobs go
    * through [[ImageIoCodec]] like any crawled image, and the oracle pins
    * the JDK reader's pixels against the pixel arithmetic.
    *
    * LZW: the uncompressed-style stream (every index emitted as a literal
    * code, with a CLEAR before the dictionary could force a code-width
    * increase — the classic patent-era recipe, long public). Deterministic
    * byte-for-byte, tiny for fixture-sized images, and decodable by every
    * conformant reader precisely because the decoder's dictionary never
    * leaves its initial width.
    */
  object GifCodec {

    private final class BitWriterLsb {
      private val buf = new java.io.ByteArrayOutputStream()
      private var cur = 0
      private var nbits = 0
      def put(v: Int, w: Int): Unit = {
        cur |= v << nbits
        nbits += w
        while (nbits >= 8) { buf.write(cur & 0xff); cur >>>= 8; nbits -= 8 }
      }
      def toBytes: Array[Byte] = {
        if (nbits > 0) { buf.write(cur & 0xff); cur = 0; nbits = 0 }
        buf.toByteArray
      }
    }

    def encode(width: Int, height: Int,
               pixel: (Int, Int) => (Int, Int, Int)): Array[Byte] = {
      require(width > 0 && height > 0 && width <= 0xffff && height <= 0xffff,
        s"need 1..65535 dimensions, got ${width}x$height")
      // palette in first-occurrence scan order; index stream alongside
      val palette = scala.collection.mutable.LinkedHashMap[Int, Int]()
      val indices = new Array[Int](width * height)
      var i = 0
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          val (r, g, b) = pixel(x, y)
          val rgb = ((r & 0xff) << 16) | ((g & 0xff) << 8) | (b & 0xff)
          indices(i) = palette.getOrElseUpdate(rgb, palette.size)
          i += 1; x += 1
        }
        y += 1
      }
      require(palette.size <= 256,
        s"GIF is palette-based: need <= 256 distinct colors, got ${palette.size}")
      // global color table = 2^gctBits entries (spec: power of two, >= 2)
      var gctBits = 1
      while ((1 << gctBits) < palette.size) gctBits += 1
      val mcs = math.max(2, gctBits) // LZW minimum code size (spec floor 2)
      val out = new java.io.ByteArrayOutputStream()
      def u16(v: Int): Unit = { out.write(v & 0xff); out.write((v >> 8) & 0xff) }
      out.write("GIF89a".getBytes("US-ASCII"))
      u16(width); u16(height)
      // packed: GCT present | color resolution (gctBits-1) | unsorted | size N
      // where table = 2^(N+1)
      out.write(0x80 | (((gctBits - 1) & 7) << 4) | ((gctBits - 1) & 7))
      out.write(0) // background color index
      out.write(0) // pixel aspect ratio: unspecified
      val colors = palette.keys.toArray
      var c = 0
      while (c < (1 << gctBits)) {
        val rgb = if (c < colors.length) colors(c) else 0
        out.write((rgb >> 16) & 0xff); out.write((rgb >> 8) & 0xff); out.write(rgb & 0xff)
        c += 1
      }
      // image descriptor: full-frame, no local color table, not interlaced
      out.write(0x2c); u16(0); u16(0); u16(width); u16(height); out.write(0)
      // table-based image data: literal-only LZW at fixed width mcs+1.
      // After a CLEAR the decoder's table holds 2^mcs+2 codes and grows by
      // one per literal after the first; it widens codes when the table
      // reaches 2^(mcs+1) — so at most (2^mcs - 2) literals sit between
      // CLEARs, keeping every code exactly mcs+1 bits wide.
      out.write(mcs)
      val clear = 1 << mcs
      val endOfInfo = clear + 1
      val codeW = mcs + 1
      val groupMax = (1 << mcs) - 2
      val bits = new BitWriterLsb
      bits.put(clear, codeW)
      var inGroup = 0
      var k = 0
      while (k < indices.length) {
        if (inGroup == groupMax) { bits.put(clear, codeW); inGroup = 0 }
        bits.put(indices(k), codeW)
        inGroup += 1; k += 1
      }
      bits.put(endOfInfo, codeW)
      val data = bits.toBytes
      var off = 0
      while (off < data.length) { // sub-blocks, <= 255 bytes each
        val len = math.min(255, data.length - off)
        out.write(len); out.write(data, off, len); off += len
      }
      out.write(0) // block terminator
      out.write(0x3b) // trailer
      out.toByteArray
    }
  }

  /** General-purpose image decode through the JDK's OWN codecs
    * (`javax.imageio` — JPEG, PNG, BMP, GIF, TIFF; still zero external
    * dependencies, and headless-safe): the format-sniffing stage a real
    * crawl corpus needs, where one binary column carries a mix of formats.
    * Emits the same position-weighted channel sums as [[BmpCodec]] /
    * [[PngCodec]], which yields the cross-codec contract the spec pins:
    * for the LOSSLESS formats, ImageIO's decode of a [[PngCodec.encode]] /
    * [[BmpCodec.encode]] byte stream must produce BIT-IDENTICAL sums to
    * the hand-rolled decoders — two entirely independent implementations
    * agreeing on every pixel. For LOSSY JPEG the sums are deterministic
    * within a JDK (same libjpeg tables) but only near-exact vs the source
    * pixels — callers pinning JPEG features across JDK upgrades should
    * re-baseline (the spec pins determinism + a tolerance, never exact
    * JPEG values). Alpha is ignored, matching PngCodec.
    */
  object ImageIoCodec {
    val P = 1000000007L

    case class Decoded(width: Int, height: Int, rSum: Long, gSum: Long, bSum: Long)

    def decode(bytes: Array[Byte]): Decoded = {
      // MemoryCacheImageInputStream, not the bare InputStream overload:
      // ImageIO's default use-cache wraps every stream in a DISK cache
      // file — one temp-file create/write/delete per blob in the hot
      // mapPartitions path, and a hard failure on executors with an
      // unwritable tmpdir, for bytes that are already in memory
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(bytes))
      // ImageIO.read(ImageInputStream) closes the stream itself on a
      // successful read (but not on null/throw) — tolerate the double-close
      val img = try javax.imageio.ImageIO.read(iis)
        finally { try iis.close() catch { case _: java.io.IOException => () } }
      require(img != null,
        s"not a decodable image (${bytes.length} bytes; ImageIO found no reader)")
      val w = img.getWidth; val h = img.getHeight
      var rSum = 0L; var gSum = 0L; var bSum = 0L
      val row = new Array[Int](w)
      var y = 0
      while (y < h) {
        img.getRGB(0, y, w, 1, row, 0, w) // bulk per row — never per-pixel RPCs
        var x = 0
        while (x < w) {
          val argb = row(x)
          val weight = 1L + x + y.toLong * w
          rSum = (rSum + weight * ((argb >> 16) & 0xff)) % P
          gSum = (gSum + weight * ((argb >> 8) & 0xff)) % P
          bSum = (bSum + weight * (argb & 0xff)) % P
          x += 1
        }
        y += 1
      }
      Decoded(w, h, rSum, gSum, bSum)
    }
  }

  /** Typed row for [[extractImageFeatures]] (format-agnostic grain). */
  case class ImageFeatures(id: Long, n_bytes: Long, width: Int, height: Int,
                           r_sum: Long, g_sum: Long, b_sum: Long)

  /** Format-sniffing decode over a mixed-format binary column — JPEG, PNG,
    * BMP, GIF, TIFF in ONE stage via [[ImageIoCodec]]; same
    * partition-preserving mapPartitions shape as the single-format paths.
    */
  def extractImageFeatures(media: DataFrame): Dataset[ImageFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("id").cast("long"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val d = ImageIoCodec.decode(bytes)
          ImageFeatures(id, bytes.length.toLong, d.width, d.height,
            d.rSum, d.gSum, d.bSum)
        }
      }
  }

  /** Typed row for decoded BMP features (the q140 gate's output grain). */
  case class BmpFeatures(id: Long, n_bytes: Long, width: Int, height: Int,
                         r_sum: Long, g_sum: Long, b_sum: Long)

  /** Typed row for decoded PNG features. */
  case class PngFeatures(id: Long, n_bytes: Long, width: Int, height: Int,
                         color_type: Int, r_sum: Long, g_sum: Long, b_sum: Long)

  /** Decode real PNG blobs — same partition-preserving mapPartitions shape
    * as [[extractBmpFeatures]], with [[PngCodec]]. Input: (id long,
    * media binary) where media is an 8-bit gray/RGB/RGBA PNG.
    */
  def extractPngFeatures(media: DataFrame): Dataset[PngFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("id").cast("long"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val d = PngCodec.decode(bytes)
          PngFeatures(id, bytes.length.toLong, d.width, d.height,
            d.colorType, d.rSum, d.gSum, d.bSum)
        }
      }
  }

  /** Decode real BMP blobs — same partition-preserving mapPartitions shape
    * as [[extractFeatures]], with [[BmpCodec]] instead of the stub.
    * Input: (id long, media binary) where media is a 24bpp BMP.
    */
  def extractBmpFeatures(media: DataFrame): Dataset[BmpFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("id").cast("long"), col("media"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          val d = BmpCodec.decode(bytes)
          BmpFeatures(id, bytes.length.toLong, d.width, d.height,
            d.rSum, d.gSum, d.bSum)
        }
      }
  }

  /** Decode + feature-extract over a (id, format, media binary) frame.
    * Partition-preserving mapPartitions: one codec instance per partition.
    */
  def extractFeatures(media: DataFrame, dim: Int = 16): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("id").cast("long"), col("format").cast("string"), col("media"))
      .as[(Long, String, Array[Byte])]
      .mapPartitions { it =>
        // per-partition setup seam (real codec init goes here, once per batch)
        it.map { case (id, fmt, bytes) => StubCodec.decode(id, fmt, bytes, dim) }
      }
  }

}
