package graft.spark.multimodal

/** A from-scratch baseline JPEG decoder (ITU T.81): marker parse, DQT/DHT
  * canonical-Huffman tables, entropy-coded MCU scan with byte unstuffing and
  * restart markers, dequantization, de-zigzag, floating IDCT (Annex A.3.3),
  * level shift + clamp. Scope: baseline sequential (SOF0), 8-bit, grayscale
  * (single component) AND YCbCr color — 3 components at 1:1:1 or 4:2:0
  * chroma subsampling (interleaved MCU scan, nearest-neighbor chroma
  * upsample, BT.601 YCbCr→RGB); other layouts are rejected explicitly, not
  * mis-decoded.
  *
  * Verification: decoded pixels are cross-checked against the JDK's own
  * independent ImageIO JPEG decoder (JpegSpec + q_jpeg_decode) — T.81 does
  * not mandate a bit-exact IDCT, so agreement is pinned to a small
  * per-pixel tolerance rather than equality.
  */
object JpegCodec extends Serializable {

  /** channels: 1 = grayscale plane; 3 = interleaved RGB. */
  final case class DecodedJpeg(width: Int, height: Int, channels: Int, pixels: Array[Byte])

  private val zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  // cos((2x+1) u pi / 16) table for the separable IDCT
  private val cosT: Array[Double] = {
    val t = new Array[Double](64)
    var x = 0
    while (x < 8) {
      var u = 0
      while (u < 8) {
        t(x * 8 + u) = math.cos((2 * x + 1) * u * math.Pi / 16.0)
        u += 1
      }
      x += 1
    }
    t
  }
  private val c0 = 1.0 / math.sqrt(2.0)

  /** Canonical Huffman table: decode via (length, code) search — tables are
    * tiny, the linear-by-length walk is the textbook T.81 DECODE proc. */
  private final class Huff(counts: Array[Int], symbols: Array[Int]) {
    // minCode/maxCode/valPtr per code length 1..16 (T.81 F.2.2.3)
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0
      var k = 0
      var l = 1
      while (l <= 16) {
        valPtr(l) = k
        minCode(l) = code
        code += counts(l - 1)
        k += counts(l - 1)
        maxCode(l) = if (counts(l - 1) > 0) code - 1 else -1
        code <<= 1
        l += 1
      }
    }
    def decode(br: BitReader): Int = {
      var code = br.bit()
      var l = 1
      while (l <= 16) {
        if (maxCode(l) >= 0 && code <= maxCode(l)) {
          return symbols(valPtr(l) + code - minCode(l))
        }
        code = (code << 1) | br.bit()
        l += 1
      }
      throw new IllegalArgumentException("invalid Huffman code")
    }
  }

  /** MSB-first bit reader over the entropy-coded segment with FF00
    * unstuffing; restart markers are consumed by `reset`. */
  private final class BitReader(data: Array[Byte], var pos: Int) {
    private var cur = 0
    private var nbits = 0
    def bit(): Int = {
      if (nbits == 0) {
        require(pos < data.length, "entropy stream exhausted")
        var b = data(pos) & 0xff
        pos += 1
        if (b == 0xff) {
          require(pos < data.length, "truncated after FF")
          val m = data(pos) & 0xff
          if (m == 0x00) pos += 1 // stuffed
          else if (m >= 0xd0 && m <= 0xd7) {
            // restart marker reached while bits requested — malformed here
            throw new IllegalArgumentException("unexpected restart marker")
          } else {
            // marker (e.g. EOI): pad with 1-bits per spec is encoder-side;
            // reaching it mid-decode means truncation
            throw new IllegalArgumentException(f"marker 0x$m%02x inside scan")
          }
          b = 0xff
        }
        cur = b
        nbits = 8
      }
      nbits -= 1
      (cur >>> nbits) & 1
    }
    def receive(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | bit(); i += 1 }
      v
    }
    /** Align to byte and consume an expected RSTn marker. */
    def reset(expected: Int): Unit = {
      nbits = 0
      require(pos + 1 < data.length, "truncated at restart")
      require((data(pos) & 0xff) == 0xff &&
        (data(pos + 1) & 0xff) == (0xd0 + expected),
        f"expected RST$expected at $pos")
      pos += 2
    }
  }

  private def extend(v: Int, t: Int): Int =
    if (t == 0) 0 else if (v < (1 << (t - 1))) v - (1 << t) + 1 else v

  private def u16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)

  def decode(jpeg: Array[Byte]): DecodedJpeg = {
    require(jpeg != null && jpeg.length > 4 &&
      (jpeg(0) & 0xff) == 0xff && (jpeg(1) & 0xff) == 0xd8, "not a JPEG")
    var i = 2
    val qtables = new Array[Array[Int]](4)
    val dcTables = new Array[Huff](4)
    val acTables = new Array[Huff](4)
    var width = 0
    var height = 0
    var nf = 0
    var restartInterval = 0
    val compId = new Array[Int](3)
    val compH = new Array[Int](3)
    val compV = new Array[Int](3)
    val compQ = new Array[Int](3)
    val compDc = new Array[Int](3)
    val compAc = new Array[Int](3)
    var scanStart = -1

    while (scanStart < 0) {
      require(i + 4 <= jpeg.length, "truncated before SOS")
      require((jpeg(i) & 0xff) == 0xff, f"expected marker at $i")
      val m = jpeg(i + 1) & 0xff
      if (m == 0xd8) { i += 2 }
      else {
        val len = u16(jpeg, i + 2)
        val seg = i + 4
        m match {
          case 0xdb => // DQT: one or more tables
            var p = seg
            while (p < i + 2 + len) {
              val pq = (jpeg(p) & 0xff) >> 4
              val tq = jpeg(p) & 0x0f
              require(pq == 0, "16-bit quant tables unsupported")
              val t = new Array[Int](64)
              var k = 0
              while (k < 64) { t(k) = jpeg(p + 1 + k) & 0xff; k += 1 }
              qtables(tq) = t
              p += 65
            }
          case 0xc4 => // DHT: one or more tables
            var p = seg
            while (p < i + 2 + len) {
              val tc = (jpeg(p) & 0xff) >> 4
              val th = jpeg(p) & 0x0f
              val counts = new Array[Int](16)
              var n = 0
              var k = 0
              while (k < 16) { counts(k) = jpeg(p + 1 + k) & 0xff; n += counts(k); k += 1 }
              val syms = new Array[Int](n)
              k = 0
              while (k < n) { syms(k) = jpeg(p + 17 + k) & 0xff; k += 1 }
              val h = new Huff(counts, syms)
              if (tc == 0) dcTables(th) = h else acTables(th) = h
              p += 17 + n
            }
          case 0xc0 => // SOF0 baseline
            require((jpeg(seg) & 0xff) == 8, "only 8-bit precision")
            height = u16(jpeg, seg + 1)
            width = u16(jpeg, seg + 3)
            nf = jpeg(seg + 5) & 0xff
            require(nf == 1 || nf == 3, s"1 or 3 components supported, got $nf")
            var c = 0
            while (c < nf) {
              val off = seg + 6 + c * 3
              compId(c) = jpeg(off) & 0xff
              compH(c) = (jpeg(off + 1) & 0xff) >> 4
              compV(c) = jpeg(off + 1) & 0x0f
              compQ(c) = jpeg(off + 2) & 0xff
              require(compH(c) >= 1 && compH(c) <= 2 && compV(c) >= 1 && compV(c) <= 2,
                s"sampling factor ${compH(c)}x${compV(c)} unsupported")
              c += 1
            }
          case 0xc1 | 0xc2 | 0xc3 =>
            throw new IllegalArgumentException("only baseline SOF0 supported")
          case 0xdd => // DRI
            restartInterval = u16(jpeg, seg)
          case 0xda => // SOS
            val ns = jpeg(seg) & 0xff
            require(ns == nf, s"interleaved scan over all $nf components expected")
            var c = 0
            while (c < ns) {
              require((jpeg(seg + 1 + c * 2) & 0xff) == compId(c),
                "scan component order must match the frame header")
              compDc(c) = (jpeg(seg + 2 + c * 2) & 0xff) >> 4
              compAc(c) = jpeg(seg + 2 + c * 2) & 0x0f
              c += 1
            }
            scanStart = i + 2 + len
          case 0xd9 =>
            throw new IllegalArgumentException("EOI before scan data")
          case _ => () // APPn/COM/etc: skip
        }
        if (scanStart < 0) i += 2 + len
      }
    }
    require(width > 0 && height > 0 && nf > 0, "missing SOF0")
    val hMax = (0 until nf).map(compH).max
    val vMax = (0 until nf).map(compV).max
    val mcusX = (width + 8 * hMax - 1) / (8 * hMax)
    val mcusY = (height + 8 * vMax - 1) / (8 * vMax)
    // per-component sample planes (full MCU grid; cropped at the end)
    val planeW = new Array[Int](nf)
    val planeH = new Array[Int](nf)
    val planes = new Array[Array[Byte]](nf)
    var c = 0
    while (c < nf) {
      planeW(c) = mcusX * compH(c) * 8
      planeH(c) = mcusY * compV(c) * 8
      planes(c) = new Array[Byte](planeW(c) * planeH(c))
      require(qtables(compQ(c)) != null && dcTables(compDc(c)) != null &&
        acTables(compAc(c)) != null, s"missing tables for component $c")
      c += 1
    }

    val br = new BitReader(jpeg, scanStart)
    val coefs = new Array[Int](64)
    val block = new Array[Double](64)
    val tmp = new Array[Double](64)
    val dcPred = new Array[Int](nf)

    def decodeBlock(ci: Int, plane: Array[Byte], pw: Int, ox: Int, oy: Int): Unit = {
      val q = qtables(compQ(ci))
      java.util.Arrays.fill(coefs, 0)
      val t = dcTables(compDc(ci)).decode(br)
      dcPred(ci) += extend(br.receive(t), t)
      coefs(0) = dcPred(ci) * q(0)
      var k = 1
      var eob = false
      while (k < 64 && !eob) {
        val rs = acTables(compAc(ci)).decode(br)
        val r = rs >> 4
        val s = rs & 0x0f
        if (s == 0) {
          if (r == 15) k += 16 else eob = true
        } else {
          k += r
          require(k < 64, "AC index overflow")
          coefs(zigzag(k)) = extend(br.receive(s), s) * q(k)
          k += 1
        }
      }
      // separable IDCT: rows then columns
      var v0 = 0
      while (v0 < 8) {
        var x0 = 0
        while (x0 < 8) {
          var s = 0.0
          var u = 0
          while (u < 8) {
            s += (if (u == 0) c0 else 1.0) * coefs(v0 * 8 + u) * cosT(x0 * 8 + u)
            u += 1
          }
          tmp(v0 * 8 + x0) = s / 2.0
          x0 += 1
        }
        v0 += 1
      }
      var x1 = 0
      while (x1 < 8) {
        var y1 = 0
        while (y1 < 8) {
          var s = 0.0
          var v = 0
          while (v < 8) {
            s += (if (v == 0) c0 else 1.0) * tmp(v * 8 + x1) * cosT(y1 * 8 + v)
            v += 1
          }
          block(y1 * 8 + x1) = s / 2.0
          y1 += 1
        }
        x1 += 1
      }
      var yy = 0
      while (yy < 8) {
        var xx = 0
        while (xx < 8) {
          val v = math.round(block(yy * 8 + xx) + 128.0).toInt
          plane((oy + yy) * pw + ox + xx) = math.max(0, math.min(255, v)).toByte
          xx += 1
        }
        yy += 1
      }
    }

    var rst = 0
    var mcu = 0
    var my = 0
    while (my < mcusY) {
      var mx = 0
      while (mx < mcusX) {
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
          br.reset(rst)
          rst = (rst + 1) & 7
          java.util.Arrays.fill(dcPred, 0)
        }
        var ci = 0
        while (ci < nf) {
          var v = 0
          while (v < compV(ci)) {
            var h = 0
            while (h < compH(ci)) {
              decodeBlock(ci, planes(ci), planeW(ci),
                (mx * compH(ci) + h) * 8, (my * compV(ci) + v) * 8)
              h += 1
            }
            v += 1
          }
          ci += 1
        }
        mcu += 1
        mx += 1
      }
      my += 1
    }

    if (nf == 1) {
      val out = new Array[Byte](width * height)
      var y = 0
      while (y < height) {
        System.arraycopy(planes(0), y * planeW(0), out, y * width, width)
        y += 1
      }
      DecodedJpeg(width, height, 1, out)
    } else {
      // chroma upsample: triangle filter for the 2x2 (4:2:0) case — the
      // libjpeg "fancy" weights (9, 3, 3, 1)/16 with edge replication, which
      // is what the JDK's reader uses, so cross-validation stays within IDCT
      // tolerance even at sharp chroma edges; other factors sample nearest
      def sampleChroma(plane: Array[Byte], pw: Int, hC: Int, vC: Int,
                       x: Int, y: Int): Int = {
        if (hC == 1 && vC == 1 && hMax == 2 && vMax == 2) {
          // neighbors replicate at the VALID chroma edge (ceil(dim/2)), not
          // the MCU-padded plane edge; rounding bias alternates 8/7 by
          // horizontal phase — both as in the reference triangle filter
          val validW = (width + 1) / 2
          val validH = (height + 1) / 2
          val cx = x >> 1
          val cy = y >> 1
          val hx = math.max(0, math.min(validW - 1, cx + (if ((x & 1) == 1) 1 else -1)))
          val vy = math.max(0, math.min(validH - 1, cy + (if ((y & 1) == 1) 1 else -1)))
          val bias = if ((x & 1) == 1) 7 else 8
          (9 * (plane(cy * pw + cx) & 0xff) + 3 * (plane(cy * pw + hx) & 0xff) +
            3 * (plane(vy * pw + cx) & 0xff) + (plane(vy * pw + hx) & 0xff) + bias) >> 4
        } else plane((y * vC / vMax) * pw + x * hC / hMax) & 0xff
      }
      // YCbCr -> RGB (JFIF / CCIR 601 full range)
      val out = new Array[Byte](width * height * 3)
      val y0p = planes(0); val cbp = planes(1); val crp = planes(2)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          val yy = y0p((y * compV(0) / vMax) * planeW(0) + x * compH(0) / hMax) & 0xff
          val cb = sampleChroma(cbp, planeW(1), compH(1), compV(1), x, y) - 128
          val cr = sampleChroma(crp, planeW(2), compH(2), compV(2), x, y) - 128
          val r = math.round(yy + 1.402 * cr).toInt
          val g = math.round(yy - 0.344136 * cb - 0.714136 * cr).toInt
          val b = math.round(yy + 1.772 * cb).toInt
          val o = (y * width + x) * 3
          out(o) = math.max(0, math.min(255, r)).toByte
          out(o + 1) = math.max(0, math.min(255, g)).toByte
          out(o + 2) = math.max(0, math.min(255, b)).toByte
          x += 1
        }
        y += 1
      }
      DecodedJpeg(width, height, 3, out)
    }
  }

  // ---- fixture: grayscale JPEGs encoded by the JDK's independent codec ----

  /** Deterministic grayscale JPEG: dims like the PNG fixture, pixel (x, y) =
    * (3x + 5y + i) mod 256, compressed by javax.imageio (the independent
    * encoder the decoder is validated against). */
  def mkRealJpeg(i: Long): Array[Byte] =
    mkRealJpegAt(8 + (i % 16).toInt * 2, 8 + ((i / 16) % 16).toInt * 2, i)

  /** Same fixture with dims and content seed decoupled (the AVI fixture
    * needs constant dims across a clip's frames with per-frame content). */
  def mkRealJpegAt(w: Int, h: Int, seed: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { raster.setSample(x, y, 0, ((3 * x + 5 * y + seed) % 256).toInt); x += 1 }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", out)
    out.toByteArray
  }

  /** The JDK decoder (the independent cross-check); emits the same
    * channel layout as [[decode]]. */
  def decodeWithImageIO(jpeg: Array[Byte]): DecodedJpeg = {
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(jpeg))
    require(img != null, "ImageIO failed to decode")
    val w = img.getWidth
    val h = img.getHeight
    val gray = img.getColorModel.getNumComponents == 1
    if (gray) {
      val out = new Array[Byte](w * h)
      val raster = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { out(y * w + x) = raster.getSample(x, y, 0).toByte; x += 1 }
        y += 1
      }
      DecodedJpeg(w, h, 1, out)
    } else {
      val out = new Array[Byte](w * h * 3)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val o = (y * w + x) * 3
          out(o) = ((rgb >> 16) & 0xff).toByte
          out(o + 1) = ((rgb >> 8) & 0xff).toByte
          out(o + 2) = (rgb & 0xff).toByte
          x += 1
        }
        y += 1
      }
      DecodedJpeg(w, h, 3, out)
    }
  }

  /** Deterministic COLOR JPEG fixture (RGB gradients), ImageIO-encoded as
    * 4:2:0 YCbCr — exercises the interleaved-MCU + chroma-upsampling +
    * color-conversion path. */
  def mkRealJpegColor(i: Long): Array[Byte] = {
    val w = 8 + (i % 16).toInt * 2
    val h = 8 + ((i / 16) % 16).toInt * 2
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = (3 * x + 5 * y + i) % 256
        val g = (2 * x + 7 * y + 2 * i) % 256
        val b = (x + y + 3 * i) % 256
        img.setRGB(x, y, (r.toInt << 16) | (g.toInt << 8) | b.toInt)
        x += 1
      }
      y += 1
    }
    val out = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "jpg", out)
    out.toByteArray
  }
}
