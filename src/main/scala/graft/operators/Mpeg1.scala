package graft.operators

import scala.util.control.NonFatal

import org.apache.spark.sql.{Dataset, Encoder, Encoders}

/** MPEG-1 VIDEO (ISO/IEC 11172-2) — intra-frame decode, from scratch:
  * start-code walk, sequence header (with load-matrix handling), GOP
  * and picture headers, slice layer, macroblock layer (address
  * increment / type VLCs), block layer (intra DC size VLCs +
  * differential prediction, AC run/level VLC subset + the escape
  * code), zigzag, the PUBLISHED default intra quantizer matrix with
  * the spec's oddification (mismatch control), and a full 8×8 IDCT.
  * This retires the last codec stub CLASS: I-pictures decode to real
  * pixels; P/B-pictures (inter-frame prediction — motion
  * compensation against reference frames) remain the one surface
  * behind [[Multimodal.decodeStub]], and this decoder reports them by
  * type without reconstructing them.
  *
  * Reference behavior cited from the reference repo's scope: the
  * reference engine (selcukusta/kafka_stream_unify_order_messages)
  * has no media surface at all — this family exists for the
  * large-scale training-data pipeline mandate, built from the public
  * 11172-2 spec structure alone.
  *
  * Exactness contract (the [[Jpeg]] pattern): synthesized streams use
  * per-8×8-block FLAT luma (DC-only blocks) — the one configuration a
  * lossy transform codec reproduces bit-exactly (intra DC is coded
  * with the fixed multiplier 8, so the reconstructed flat pixel IS
  * the recipe value) — so the registry oracle replays decoded pixels
  * arithmetically while the decoder exercises the real entropy walk,
  * dequantizer and IDCT. AC behavior (run/level subset, escapes,
  * default-matrix dequant, oddification, clamp) is pinned in
  * Mpeg1CodecSpec against an in-test reference IDCT and golden
  * hand-assembled bit patterns. */
object Mpeg1 {

  // ------------------------------------------------------------------
  // Synthesis recipe (deterministic — the DuckDB oracle replays it)
  // ------------------------------------------------------------------

  def mpgWidth(id: Long): Int = 16 * (1L + id % 2L).toInt // 16 | 32
  def mpgHeight(nBytes: Int): Int = 16
  def mpgFrameCount(nBytes: Int): Int = 3 + nBytes % 4 // 3..6
  /** Frame f is an I-picture iff f % 3 == 0 (GOP pattern I P P). */
  def mpgIsIntra(f: Int): Boolean = f % 3 == 0
  /** Flat luma of 8×8 block (bx, by) of I-frame f — range [16, 215]. */
  def mpgBlockLum(id: Long, f: Int, bx: Int, by: Int): Int =
    (16L + ((id * 7 + f * 13 + bx * 5 + by * 11) % 200L)).toInt

  /** Default intra quantizer matrix (11172-2 §2.4.3.1), zigzag order
    * applied at dequant time; natural row-major order here. */
  val DefaultIntraQuant: Array[Int] = Array(
    8, 16, 19, 22, 26, 27, 29, 34,
    16, 16, 22, 24, 27, 29, 34, 37,
    19, 22, 26, 27, 29, 34, 34, 38,
    22, 22, 26, 27, 29, 34, 37, 40,
    22, 26, 27, 29, 32, 35, 40, 48,
    26, 27, 29, 32, 35, 40, 48, 58,
    26, 27, 29, 34, 38, 46, 56, 69,
    27, 29, 35, 38, 46, 56, 69, 83)

  /** Zigzag scan order: index = scan position, value = natural
    * (row-major) coefficient index. */
  val Zigzag: Array[Int] = {
    val order = new Array[Int](64)
    var x = 0; var y = 0
    for (i <- 0 until 64) {
      order(i) = y * 8 + x
      if ((x + y) % 2 == 0) { // moving up-right
        if (x == 7) y += 1 else if (y == 0) x += 1 else { x += 1; y -= 1 }
      } else { // moving down-left
        if (y == 7) x += 1 else if (x == 0) y += 1 else { x -= 1; y += 1 }
      }
    }
    order
  }

  // ---------------- bit IO ----------------

  final class BitWriter {
    private val buf = scala.collection.mutable.ArrayBuffer.empty[Byte]
    private var cur = 0
    private var nbits = 0
    def put(bits: String): Unit = bits.foreach(c => put1(c == '1'))
    def put1(b: Boolean): Unit = {
      cur = (cur << 1) | (if (b) 1 else 0); nbits += 1
      if (nbits == 8) { buf += cur.toByte; cur = 0; nbits = 0 }
    }
    def putN(v: Long, n: Int): Unit =
      (n - 1 to 0 by -1).foreach(i => put1(((v >> i) & 1L) == 1L))
    /** Zero-pad to the next byte boundary (start codes are aligned). */
    def align(): Unit = while (nbits != 0) put1(false)
    def bytes(): Array[Byte] = { align(); buf.toArray }
  }

  final class BitReader(bytes: Array[Byte], var pos: Int) {
    var bit = 0
    def eof: Boolean = pos >= bytes.length
    def read1(): Int = {
      if (eof) throw new IllegalStateException("eof")
      val v = (bytes(pos) >> (7 - bit)) & 1
      bit += 1; if (bit == 8) { bit = 0; pos += 1 }
      v
    }
    def readN(n: Int): Int = {
      var v = 0; var i = 0
      while (i < n) { v = (v << 1) | read1(); i += 1 }
      v
    }
    def align(): Unit = if (bit != 0) { bit = 0; pos += 1 }
  }

  // ---------------- VLC tables (11172-2 Annex B) ----------------

  /** dct_dc_size_luminance (Table B.1): size -> code. */
  private val DcSizeLum: Seq[(Int, String)] = Seq(
    0 -> "100", 1 -> "00", 2 -> "01", 3 -> "101", 4 -> "110",
    5 -> "1110", 6 -> "11110", 7 -> "111110", 8 -> "1111110")

  /** dct_dc_size_chrominance (Table B.2). */
  private val DcSizeChr: Seq[(Int, String)] = Seq(
    0 -> "00", 1 -> "01", 2 -> "10", 3 -> "110", 4 -> "1110",
    5 -> "11110", 6 -> "111110", 7 -> "1111110", 8 -> "11111110")

  /** macroblock_address_increment (Table B.1 of the MB layer),
    * increments 1..15 — wider increments use the escape mechanism
    * (each escape adds 33). */
  private val AddrInc: Seq[(Int, String)] = Seq(
    1 -> "1", 2 -> "011", 3 -> "010", 4 -> "0011", 5 -> "0010",
    6 -> "00011", 7 -> "00010", 8 -> "0000111", 9 -> "0000110",
    10 -> "00001011", 11 -> "00001010", 12 -> "00001001",
    13 -> "00001000", 14 -> "00000111", 15 -> "00000110")
  private val AddrEscape = "00000001000"
  private val AddrStuffing = "00000001111"

  /** dct_coeff_next (run, level) subset of Table B.5; the sign bit
    * follows the code. Everything else goes through the escape. */
  private val AcNext: Seq[((Int, Int), String)] = Seq(
    (0, 1) -> "11", (1, 1) -> "011", (0, 2) -> "0100", (2, 1) -> "0101",
    (0, 3) -> "00101", (3, 1) -> "00111", (4, 1) -> "00110",
    (1, 2) -> "000110", (5, 1) -> "000111", (6, 1) -> "000101",
    (7, 1) -> "000100", (0, 4) -> "0000110", (2, 2) -> "0000100",
    (8, 1) -> "0000111", (9, 1) -> "0000101")
  private val AcEscape = "000001"
  private val Eob = "10"

  /** Prefix-free decode step: walk `table` by accumulating bits until
    * a code matches; bounded by the longest code. Returns the symbol
    * or throws on an undefined prefix (fuzz surfaces as a caught
    * failure row, never a hang). */
  private def readVlc[A](br: BitReader, table: Seq[(A, String)]): A = {
    val maxLen = table.map(_._2.length).max
    val sb = new java.lang.StringBuilder(maxLen)
    while (sb.length < maxLen) {
      sb.append(if (br.read1() == 1) '1' else '0')
      val s = sb.toString
      table.find(_._2 == s) match {
        case Some((a, _)) => return a
        case None => ()
      }
    }
    throw new IllegalStateException(s"undefined VLC prefix ${sb.toString}")
  }

  // ------------------------------------------------------------------
  // Synthesis
  // ------------------------------------------------------------------

  private def startCode(bw: BitWriter, code: Int): Unit = {
    bw.align(); bw.putN(0x000001L, 24); bw.putN(code.toLong, 8)
  }

  /** DC differential bits: JPEG-style signed magnitude — the size-bit
    * pattern with MSB 0 meaning negative (value = bits − 2^size + 1). */
  private def putDcDiff(bw: BitWriter, table: Seq[(Int, String)],
      diff: Int): Unit = {
    val size = if (diff == 0) 0 else 32 - Integer.numberOfLeadingZeros(math.abs(diff))
    bw.put(table.find(_._1 == size).get._2)
    if (size > 0) {
      val bits = if (diff >= 0) diff else diff + (1 << size) - 1
      bw.putN(bits.toLong, size)
    }
  }

  /** A full MPEG-1 video elementary stream: sequence header (default
    * matrices), one GOP header per I-picture, I-pictures coded as
    * intra DC-only macroblocks at the recipe luma (chroma flat 128 —
    * zero differentials), P-pictures coded as zero-motion
    * "MC not coded" macroblocks (a bit-faithful inter-frame skeleton:
    * every MB predicts from the previous frame at (0,0) — the
    * reconstruction of which is exactly what stays behind the
    * decode stub). */
  def synthesizeMpeg1(id: Long, nBytes: Int): Array[Byte] = {
    val w = mpgWidth(id); val h = mpgHeight(nBytes)
    val mbw = w / 16; val mbh = h / 16
    val bw = new BitWriter
    // sequence header
    startCode(bw, 0xB3)
    bw.putN(w.toLong, 12); bw.putN(h.toLong, 12)
    bw.putN(1L, 4) // pel aspect ratio: 1.0
    bw.putN(3L, 4) // picture rate: 25 Hz
    bw.putN(0x3FFFFL, 18) // bit rate: variable
    bw.put1(true) // marker
    bw.putN(0L, 10) // vbv buffer size
    bw.put1(false) // constrained parameters
    bw.put1(false) // load intra quant matrix -> DEFAULT
    bw.put1(false) // load non-intra quant matrix -> default
    val k = mpgFrameCount(nBytes)
    for (f <- 0 until k) {
      val intra = mpgIsIntra(f)
      if (intra) { // GOP header before each I picture
        startCode(bw, 0xB8)
        bw.putN(0L, 25) // time code
        bw.put1(true) // closed gop
        bw.put1(false) // broken link
      }
      startCode(bw, 0x00) // picture header
      bw.putN((f % 1024).toLong, 10) // temporal reference
      bw.putN(if (intra) 1L else 2L, 3) // coding type I/P
      bw.putN(0xFFFFL, 16) // vbv delay (variable)
      if (!intra) {
        bw.put1(false) // full_pel_forward_vector
        bw.putN(1L, 3) // forward_f_code
      }
      // one slice covering the (single) macroblock row
      startCode(bw, 0x01) // slice vertical position 1
      bw.putN(8L, 5) // quantizer_scale
      bw.put1(false) // extra_bit_slice
      var prevLumDc = 128 // predictor 1024 = 8*128, in pixel units
      for (mb <- 0 until mbw * mbh) {
        bw.put(AddrInc.head._2) // increment 1
        if (intra) {
          bw.put1(true) // macroblock_type: intra
          val mbx = mb % mbw
          // 4 luma blocks (2×2 inside the macroblock), raster order
          for (byy <- 0 until 2; bxx <- 0 until 2) {
            val lum = mpgBlockLum(id, f, mbx * 2 + bxx, byy)
            putDcDiff(bw, DcSizeLum, lum - prevLumDc)
            prevLumDc = lum
            bw.put(Eob)
          }
          // Cb, Cr: flat 128 — differential 0 against the reset
          // predictor (each chroma component predicts independently)
          for (_ <- 0 until 2) { putDcDiff(bw, DcSizeChr, 0); bw.put(Eob) }
        } else {
          bw.put("001") // macroblock_type: MC, not coded
          bw.put("1") // motion_horizontal_forward_code = 0
          bw.put("1") // motion_vertical_forward_code = 0
        }
      }
    }
    startCode(bw, 0xB7) // sequence end
    bw.bytes()
  }

  // ------------------------------------------------------------------
  // Decode
  // ------------------------------------------------------------------

  // cos((2x+1)·u·π/16) and the u=0 1/√2 normalization, precomputed
  // once: the naive loop called math.cos 8192 times per 8×8 block —
  // the whole-blob decode cost was trigonometry, not entropy walking.
  // Same argument expressions, so the looked-up doubles (and therefore
  // every rounded pixel) are BIT-IDENTICAL to the inline computation.
  private val CosTbl: Array[Double] = {
    val t = new Array[Double](64)
    var x = 0
    while (x < 8) {
      var u = 0
      while (u < 8) {
        t(x * 8 + u) = math.cos((2 * x + 1) * u * math.Pi / 16)
        u += 1
      }
      x += 1
    }
    t
  }
  private val CNorm: Array[Double] =
    Array.tabulate(8)(u => if (u == 0) 1.0 / math.sqrt(2) else 1.0)

  /** Inverse 8×8 DCT over dequantized coefficients (natural order),
    * rounded and clamped to [0, 255] — intra pixels carry no level
    * shift in MPEG-1. Summation order is the reference quadruple loop
    * (kept so the floating-point result is exactly the spec-literal
    * form's); only the per-term cosines come from [[CosTbl]]. */
  def idctBlock(coef: Array[Int]): Array[Int] = {
    val out = new Array[Int](64)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var v = 0
        while (v < 8) {
          var u = 0
          while (u < 8) {
            s += CNorm(u) * CNorm(v) * coef(v * 8 + u) *
              CosTbl(x * 8 + u) * CosTbl(y * 8 + v)
            u += 1
          }
          v += 1
        }
        val p = math.round(s / 4).toInt
        out(y * 8 + x) = math.max(0, math.min(255, p))
        x += 1
      }
      y += 1
    }
    out
  }

  /** Decode one intra block's coefficient list (after the DC): AC
    * run/levels via the B.5 subset + escape, dequantized against
    * `quant` (zigzag order) with the spec's oddification and
    * [-2048, 2047] saturation; returns natural-order coefficients. */
  private def readIntraBlock(br: BitReader, dcSize: Seq[(Int, String)],
      dcPred: Int, qscale: Int, quant: Array[Int]): (Array[Int], Int) = {
    val coef = new Array[Int](64)
    val size = readVlc(br, dcSize)
    val diff =
      if (size == 0) 0
      else {
        val bits = br.readN(size)
        if ((bits & (1 << (size - 1))) != 0) bits
        else bits - (1 << size) + 1
      }
    val dc = dcPred + diff * 8
    coef(0) = dc
    var scan = 0 // zigzag position of the last coded coefficient
    var done = false
    while (!done) {
      // longest-prefix parse: EOB '10' vs the B.5 subset vs escape
      val sb = new java.lang.StringBuilder(8)
      var matched = false
      while (!matched) {
        sb.append(if (br.read1() == 1) '1' else '0')
        val s = sb.toString
        if (s == Eob) { done = true; matched = true }
        else if (s == AcEscape) {
          val run = br.readN(6)
          var level = br.readN(8)
          if (level == 0) level = br.readN(8) // 128..255
          else if (level == 128) level = br.readN(8) - 256 // -256..-129
          else if (level > 128) level = level - 256 // -127..-1
          scan += run + 1
          if (scan > 63) throw new IllegalStateException("scan overflow")
          applyAc(coef, scan, level, qscale, quant)
          matched = true
        } else {
          AcNext.find(_._2 == s) match {
            case Some(((run, lvl), _)) =>
              val sign = br.read1()
              scan += run + 1
              if (scan > 63) throw new IllegalStateException("scan overflow")
              applyAc(coef, scan, if (sign == 1) -lvl else lvl, qscale, quant)
              matched = true
            case None =>
              if (sb.length > 8)
                throw new IllegalStateException("undefined AC prefix")
          }
        }
      }
    }
    (coef, dc)
  }

  /** AC dequant (11172-2 §2.4.4.2): recon = (2·level·qscale·Q)/16,
    * oddified toward zero parity (mismatch control), saturated. */
  private def applyAc(coef: Array[Int], scan: Int, level: Int,
      qscale: Int, quant: Array[Int]): Unit = {
    val nat = Zigzag(scan)
    var v = (2 * level * qscale * quant(nat)) / 16
    if (v != 0 && (v & 1) == 0) v = if (v > 0) v - 1 else v + 1
    coef(nat) = math.max(-2048, math.min(2047, v))
  }

  final case class Mpeg1Meta(
      id: Long, width: Int, height: Int, nFrames: Int, nIFrames: Int,
      nPFrames: Int, lumSum: Long, lumWsum: Long, ok: Boolean)

  implicit val mpeg1MetaEnc: Encoder[Mpeg1Meta] = Encoders.product[Mpeg1Meta]

  /** Parse + decode an MPEG-1 video elementary stream: every start
    * code walked, sequence/GOP/picture headers parsed, I-pictures
    * fully intra-decoded (entropy walk → dequant → IDCT); P/B
    * pictures are COUNTED from their picture headers and skipped to
    * the next start code — inter-frame reconstruction is the stub
    * seam. `lumSum` = Σ decoded luma pixels over all I-frames;
    * `lumWsum` = Σ over 8×8 luma blocks of (block pixel sum) ×
    * (raster block index + 1) — position-sensitive, so a block
    * misplacement can never cancel. Any structural violation returns
    * an `ok = false` row (fuzz never throws past this seam). */
  def parseMpeg1(id: Long, bytes: Array[Byte]): Mpeg1Meta = {
    def bad = Mpeg1Meta(id, 0, 0, 0, 0, 0, 0L, 0L, ok = false)
    try {
      // index all byte-aligned start codes
      val codes = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      var o = 0
      while (o + 3 < bytes.length) {
        if (bytes(o) == 0 && bytes(o + 1) == 0 && bytes(o + 2) == 1) {
          codes += ((o, bytes(o + 3) & 0xff)); o += 4
        } else o += 1
      }
      if (codes.isEmpty || codes.head._2 != 0xB3) return bad
      val intraQuant = DefaultIntraQuant.clone()
      val br0 = new BitReader(bytes, codes.head._1 + 4)
      val w = br0.readN(12); val h = br0.readN(12)
      br0.readN(4); br0.readN(4); br0.readN(18) // aspect, rate, bitrate
      if (br0.read1() != 1) return bad // marker
      br0.readN(10); br0.read1() // vbv, constrained
      if (br0.read1() == 1) // load_intra_quant_matrix
        for (i <- 0 until 64) intraQuant(Zigzag(i)) = br0.readN(8)
      if (br0.read1() == 1) // load_non_intra (values unused intra-side)
        for (_ <- 0 until 64) br0.readN(8)
      if (w <= 0 || h <= 0 || w % 16 != 0 || h % 16 != 0) return bad
      val mbw = w / 16; val mbh = h / 16
      var nI = 0; var nP = 0; var nFrames = 0
      var lumSum = 0L; var lumWsum = 0L
      var ci = 1
      while (ci < codes.length) {
        val (off, code) = codes(ci)
        if (code == 0x00) { // picture header
          val br = new BitReader(bytes, off + 4)
          br.readN(10) // temporal reference
          val ptype = br.readN(3)
          br.readN(16) // vbv delay
          nFrames += 1
          if (ptype == 1) {
            nI += 1
            // slices of this picture: start codes 0x01..0xAF until the
            // next non-slice start code
            var si = ci + 1
            while (si < codes.length &&
                codes(si)._2 >= 0x01 && codes(si)._2 <= 0xAF) {
              val sbr = new BitReader(bytes, codes(si)._1 + 4)
              val sliceRow = codes(si)._2 - 1
              var qscale = sbr.readN(5)
              while (sbr.read1() == 1) sbr.readN(8) // extra information
              var dcLum = 1024; var dcCb = 1024; var dcCr = 1024
              var mbAddr = -1
              var mbDone = false
              while (!mbDone) {
                // address increment (escapes add 33 each)
                var inc = 0
                var readingInc = true
                while (readingInc) {
                  val sb = new java.lang.StringBuilder(11)
                  var m = false
                  while (!m) {
                    sb.append(if (sbr.read1() == 1) '1' else '0')
                    val s = sb.toString
                    if (s == AddrEscape) { inc += 33; m = true }
                    else if (s == AddrStuffing) { m = true } // skip
                    else AddrInc.find(_._2 == s) match {
                      case Some((v, _)) => inc += v; m = true; readingInc = false
                      case None => if (sb.length > 11)
                        throw new IllegalStateException("bad addr inc")
                    }
                  }
                }
                mbAddr += inc
                // macroblock_type, I-picture: '1' intra, '01' +quant
                if (sbr.read1() == 0) {
                  if (sbr.read1() != 1)
                    throw new IllegalStateException("bad I mb type")
                  qscale = sbr.readN(5)
                }
                val mbx = mbAddr % mbw
                val mby = sliceRow * 1 + mbAddr / mbw // slice row base
                if (mbx >= mbw || mby >= mbh)
                  throw new IllegalStateException("mb out of frame")
                for (b <- 0 until 6) {
                  val (pred, isLum) = b match {
                    case 0 | 1 | 2 | 3 => (dcLum, true)
                    case 4 => (dcCb, false)
                    case _ => (dcCr, false)
                  }
                  val (coef, dc) = readIntraBlock(sbr,
                    if (isLum) DcSizeLum else DcSizeChr, pred, qscale,
                    intraQuant)
                  if (isLum) dcLum = dc
                  else if (b == 4) dcCb = dc else dcCr = dc
                  if (isLum) {
                    val px = idctBlock(coef)
                    var s = 0L
                    px.foreach(p => s += p)
                    val bx = mbx * 2 + (b % 2)
                    val by = mby * 2 + (b / 2)
                    lumSum += s
                    lumWsum += s * (by * (w / 8) + bx + 1)
                  }
                }
                // next MB or end of slice: a slice ends when only
                // zero-stuffing remains before the next start code
                val nextOff =
                  if (si + 1 < codes.length) codes(si + 1)._1 else bytes.length
                def atSliceEnd: Boolean = {
                  if (sbr.pos >= nextOff) true
                  else {
                    // all remaining bits to the start code are zero?
                    var p = sbr.pos; var b0 = sbr.bit; var allZero = true
                    while (p < nextOff && allZero) {
                      val mask = (0xff >> b0)
                      if ((bytes(p) & mask) != 0) allZero = false
                      p += 1; b0 = 0
                    }
                    allZero
                  }
                }
                if (atSliceEnd) mbDone = true
              }
              si += 1
            }
            ci = si - 1
          } else if (ptype == 2 || ptype == 3) {
            nP += 1 // inter-frame: the stub seam — count, don't decode
          } else return bad
        }
        ci += 1
      }
      if (nFrames == 0) bad
      else Mpeg1Meta(id, w, h, nFrames, nI, nP, lumSum, lumWsum, ok = true)
    } catch { case NonFatal(_) => bad }
  }

  /** Partition-batched decode seam over stored media rows. */
  def decodeMpeg1Batch(
      records: Dataset[Multimodal.MediaRecord]): Dataset[Mpeg1Meta] =
    records.mapPartitions(_.map(r => parseMpeg1(r.id, r.media)))(mpeg1MetaEnc)
}
