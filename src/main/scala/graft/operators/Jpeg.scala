package graft.operators

/** Dependency-free JPEG codec (ITU-T T.81, public spec) for the pHash
  * pixel path (SURVEY §2.5 L48).
  *
  * Most web-crawl images are JPEG; before this, [[Media.RealPixelDecoder]]
  * covered PNG/BMP only, so the dominant crawl format silently dropped
  * out of image near-dup (the r16 verdict's top capability gap). This
  * decoder covers BASELINE SEQUENTIAL DCT (SOF0, and SOF1's identical
  * 8-bit case) and PROGRESSIVE DCT (SOF2, T.81 Annex G — a meaningful
  * share of web JPEGs; the r17 verdict's remaining crawl-image blind
  * spot): Annex B marker segments, Annex C canonical Huffman
  * construction, the F.2.2 entropy decoder with byte unstuffing and
  * restart markers, progressive spectral selection + successive
  * approximation (DC first/refine, AC first with EOB runs, the
  * G.1.2.3 AC refinement correction-bit walk), dequantization,
  * inverse zigzag, a separable double-precision 8×8 IDCT, and Y-plane
  * assembly.
  *
  * Only the LUMA plane is materialized: pHash consumes gray, and
  * JPEG's Y channel IS the BT.601 luma the PNG/BMP paths compute from
  * RGB — so all three codecs meet on the same gray contract. Chroma
  * blocks are entropy-decoded (the interleaved MCU stream cannot be
  * advanced without them; progressive chroma scans must also be
  * walked to keep the coefficient history their refinement bits
  * depend on) but never dequantized or transformed. Progressive holds
  * per-component coefficient arrays across scans (the format requires
  * it) — 4 bytes/coefficient, bounded by the same 4096² dims cap.
  *
  * Out-of-subset → `None`, never a throw (the [[Media.HeaderDecoder]]
  * corrupt-tolerance discipline: a bad blob in 100 TB of crawl bytes
  * must not kill the job): arithmetic coding, lossless/hierarchical,
  * 12-bit precision, 16-bit quant tables, dims outside (0, 4096],
  * truncated or garbled streams.
  *
  * The encoder half exists for the gates/specs (the
  * [[Media.pngBytes]]/[[Media.bmpBytes]] precedent): baseline gray or
  * YCbCr 4:2:0, ALL-ONES quantization tables, the Annex K.3 standard
  * Huffman tables. With all-ones tables a flat 8×8 block round-trips
  * EXACTLY (its DCT is the lone integer DC = 8·(v−128); AC sums cancel
  * and quantize to zero), which is what lets the multimodal_phash_real
  * gate plant block-aligned patterns that cross JPEG's lossy boundary
  * bit-exactly — the verdict-prescribed fixture design.
  */
object Jpeg {

  // ------------------------------------------------------------------
  // Shared tables
  // ------------------------------------------------------------------

  /** Zigzag order: position k in the scan → raster index in the 8×8. */
  private val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  // T.81 Annex K.3 — the standard ("typical") Huffman tables. BITS is
  // 1-indexed by code length 1..16; HUFFVAL in code order.
  private val LumDcBits = Array(0, 0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val LumDcVals = Array.tabulate(12)(identity)
  private val ChmDcBits = Array(0, 0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0)
  private val ChmDcVals = Array.tabulate(12)(identity)
  private val LumAcBits = Array(0, 0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7D)
  private val LumAcVals = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5, 0xA6, 0xA7,
    0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5,
    0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1, 0xE2,
    0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA)
  private val ChmAcBits = Array(0, 0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 0x77)
  private val ChmAcVals = Array(
    0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12, 0x41, 0x51, 0x07, 0x61, 0x71,
    0x13, 0x22, 0x32, 0x81, 0x08, 0x14, 0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0,
    0x15, 0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17, 0x18, 0x19, 0x1A, 0x26,
    0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37, 0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48,
    0x49, 0x4A, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68,
    0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87,
    0x88, 0x89, 0x8A, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
    0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3,
    0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA,
    0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2, 0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8,
    0xF9, 0xFA)

  /** 8-point DCT basis with the C(0) = 1/√2 factor folded in:
    * Basis(u)(x) = a(u)·cos((2x+1)uπ/16). Built once per JVM (the
    * phashCosTab discipline). */
  private lazy val Basis: Array[Array[Double]] = Array.tabulate(8, 8) { (u, x) =>
    val a = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
    a * math.cos((2 * x + 1) * u * math.Pi / 16.0)
  }

  // ------------------------------------------------------------------
  // Decoder
  // ------------------------------------------------------------------

  /** Control-flow exception for out-of-subset / corrupt input — caught
    * at the [[decodeYGray]] boundary and surfaced as None. */
  private final class Bail extends RuntimeException(null, null, false, false)
  private def bail(): Nothing = throw new Bail

  /** Canonical Huffman decode table (Annex C + F.2.2.3): min/max code
    * and value pointer per code length. */
  private final class HuffTable(bits: Array[Int], vals: Array[Int]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    val huffVal = vals
    locally {
      var code = 0
      var p = 0
      var l = 1
      while (l <= 16) {
        valPtr(l) = p
        minCode(l) = code
        code += bits(l)
        p += bits(l)
        maxCode(l) = if (bits(l) > 0) code - 1 else -1
        code <<= 1
        l += 1
      }
      if (p != vals.length) bail()
    }
  }

  /** Entropy-segment bit reader: byte-unstuffing (FF00 → FF), stops at
    * any real marker; restart alignment per F.2.1.3.1. */
  private final class BitReader(data: Array[Byte], var pos: Int) {
    private var cur = 0
    private var cnt = 0
    /** Set when the reader ran into a non-RST marker mid-read. */
    def nextBit(): Int = {
      if (cnt == 0) {
        if (pos >= data.length) bail()
        var b = data(pos) & 0xFF
        pos += 1
        if (b == 0xFF) {
          if (pos >= data.length) bail()
          val b2 = data(pos) & 0xFF
          if (b2 == 0x00) pos += 1 // stuffed FF data byte
          else bail() // real marker inside an entropy run we still need
        }
        cur = b
        cnt = 8
      }
      cnt -= 1
      (cur >>> cnt) & 1
    }

    def decodeHuff(t: HuffTable): Int = {
      var code = nextBit()
      var l = 1
      while (code > t.maxCode(l)) {
        if (l >= 16) bail()
        code = (code << 1) | nextBit()
        l += 1
      }
      t.huffVal(t.valPtr(l) + code - t.minCode(l))
    }

    /** RECEIVE + EXTEND (F.2.2.1): read `s` magnitude bits, sign-extend. */
    def receiveExtend(s: Int): Int = {
      if (s == 0) return 0
      var v = 0
      var i = 0
      while (i < s) { v = (v << 1) | nextBit(); i += 1 }
      if (v < (1 << (s - 1))) v - (1 << s) + 1 else v
    }

    /** Consume an expected restart marker: drop partial bits, expect
      * FFD0+m at the byte position. Returns false on anything else. */
    def restart(m: Int): Boolean = {
      cnt = 0
      if (pos + 2 > data.length) return false
      val ok = (data(pos) & 0xFF) == 0xFF && (data(pos + 1) & 0xFF) == (0xD0 + m)
      if (ok) pos += 2
      ok
    }
  }

  private final case class Component(
      id: Int, h: Int, v: Int, tq: Int,
      var td: Int = 0, var ta: Int = 0, var pred: Int = 0)

  /** Decode the luma plane of a baseline JPEG: `(grays, w, h)` with
    * grays row-major integer-valued doubles in [0, 255] (the
    * [[Media.RealPixelDecoder]] gray contract), or None when the
    * stream is out of subset or corrupt. */
  def decodeYGray(c: Array[Byte]): Option[(Array[Double], Int, Int)] = try {
    if (c == null || c.length < 4) return None
    if ((c(0) & 0xFF) != 0xFF || (c(1) & 0xFF) != 0xD8) return None

    val qtabs = new Array[Array[Int]](4)
    val dcTabs = new Array[HuffTable](4)
    val acTabs = new Array[HuffTable](4)
    var comps: Array[Component] = null
    var w = 0
    var h = 0
    var restartInterval = 0
    var yPlane: Array[Int] = null
    var yW = 0
    var yH = 0
    var yStride = 0
    // progressive state: per-component coefficient arrays (the format
    // sends each block's spectrum across several scans)
    var progressive = false
    var coefs: Array[Array[Int]] = null
    var blocksW: Array[Int] = null
    var blocksH: Array[Int] = null
    var mcusW = 0
    var mcusH = 0

    def be16(i: Int): Int = {
      if (i + 2 > c.length) bail()
      ((c(i) & 0xFF) << 8) | (c(i + 1) & 0xFF)
    }

    var pos = 2
    var done = false
    while (!done) {
      // seek the next marker (skip fill bytes)
      if (pos + 2 > c.length) bail()
      if ((c(pos) & 0xFF) != 0xFF) bail()
      while (pos < c.length && (c(pos) & 0xFF) == 0xFF) pos += 1
      if (pos >= c.length) bail()
      val marker = c(pos) & 0xFF
      pos += 1
      marker match {
        case 0xD9 => done = true // EOI
        case 0x01 => () // TEM, standalone
        case m if m >= 0xD0 && m <= 0xD7 => () // stray RST, standalone
        case 0xDB => // DQT
          val len = be16(pos)
          val end = pos + len
          var p = pos + 2
          while (p < end) {
            val pq = (c(p) & 0xF0) >> 4
            val tq = c(p) & 0x0F
            if (pq != 0 || tq > 3) bail() // 16-bit tables out of subset
            if (p + 65 > c.length) bail()
            qtabs(tq) = Array.tabulate(64)(k => c(p + 1 + k) & 0xFF)
            if (qtabs(tq).exists(_ == 0)) bail()
            p += 65
          }
          pos = end
        case 0xC4 => // DHT
          val len = be16(pos)
          val end = pos + len
          var p = pos + 2
          while (p < end) {
            val tc = (c(p) & 0xF0) >> 4
            val th = c(p) & 0x0F
            if (tc > 1 || th > 3) bail()
            if (p + 17 > c.length) bail()
            val bits = new Array[Int](17)
            var n = 0
            var l = 1
            while (l <= 16) { bits(l) = c(p + l) & 0xFF; n += bits(l); l += 1 }
            if (p + 17 + n > c.length || n > 256) bail()
            val vals = Array.tabulate(n)(k => c(p + 17 + k) & 0xFF)
            val t = new HuffTable(bits, vals)
            if (tc == 0) dcTabs(th) = t else acTabs(th) = t
            p += 17 + n
          }
          pos = end
        case 0xC0 | 0xC1 | 0xC2 => // SOF0/1 (8-bit sequential), SOF2 (progressive)
          progressive = marker == 0xC2
          val len = be16(pos)
          if ((c(pos + 2) & 0xFF) != 8) bail() // precision
          h = be16(pos + 3)
          w = be16(pos + 5)
          if (w <= 0 || h <= 0 || w > 4096 || h > 4096) bail()
          val nf = c(pos + 7) & 0xFF
          if (nf < 1 || nf > 4 || len < 8 + 3 * nf) bail()
          comps = Array.tabulate(nf) { i =>
            val p = pos + 8 + 3 * i
            val hv = c(p + 1) & 0xFF
            val comp = Component(c(p) & 0xFF, (hv >> 4) & 0xF, hv & 0xF, c(p + 2) & 0x0F)
            if (comp.h < 1 || comp.h > 4 || comp.v < 1 || comp.v > 4) bail()
            comp
          }
          pos += len
        case m if m >= 0xC3 && m <= 0xCF && m != 0xC4 =>
          return None // lossless, arithmetic, hierarchical
        case 0xDD => // DRI
          val len = be16(pos)
          restartInterval = be16(pos + 2)
          pos += len
        case 0xDA => // SOS — decode one scan
          if (comps == null) bail()
          val len = be16(pos)
          val ns = c(pos + 2) & 0xFF
          if (ns < 1 || ns > comps.length) bail()
          val scan = Array.tabulate(ns) { i =>
            val cid = c(pos + 3 + 2 * i) & 0xFF
            val tt = c(pos + 4 + 2 * i) & 0xFF
            val comp = comps.find(_.id == cid).getOrElse(bail())
            comp.td = (tt >> 4) & 0xF
            comp.ta = tt & 0xF
            comp.pred = 0
            comp
          }
          val hMax = comps.map(_.h).max
          val vMax = comps.map(_.v).max
          if (!progressive) {
            if (yPlane == null) {
              // luma = the first frame component (JFIF: id 1)
              val y = comps(0)
              yW = ceilDiv(w * y.h, hMax)
              yH = ceilDiv(h * y.v, vMax)
              yStride = ceilDiv(yW, 8) * 8
              yPlane = new Array[Int](yStride * ceilDiv(yH, 8) * 8)
            }
            val reader = new BitReader(c, pos + len)
            decodeScan(reader, scan, comps(0), w, h, hMax, vMax,
              restartInterval, qtabs, dcTabs, acTabs, yPlane, yW, yH)
            pos = reader.pos
          } else {
            // progressive scan header: spectral band + approximation
            val pSs = c(pos + 3 + 2 * ns) & 0xFF
            val pSe = c(pos + 4 + 2 * ns) & 0xFF
            val ahal = c(pos + 5 + 2 * ns) & 0xFF
            val ah = (ahal >> 4) & 0xF
            val al = ahal & 0xF
            if (pSs == 0) { if (pSe != 0) bail() } // DC scan
            else if (ns != 1 || pSe < pSs || pSe > 63) bail() // AC: one comp
            if (ah > 13 || al > 13) bail()
            // G.1.1.1.2: a refinement scan (Ah != 0) refines by exactly
            // one bit — Ah must equal Al + 1; anything else is outside
            // the successive-approximation subset → documented None path
            if (ah != 0 && ah != al + 1) bail()
            if (coefs == null) {
              mcusW = ceilDiv(w, 8 * hMax)
              mcusH = ceilDiv(h, 8 * vMax)
              blocksW = comps.map(cp => mcusW * cp.h)
              blocksH = comps.map(cp => mcusH * cp.v)
              // cap TOTAL coefficient memory before allocating: a
              // few-hundred-byte crafted header must not demand
              // hundreds of MB (an OutOfMemoryError is not a Bail —
              // it would kill the executor). 64M ints (256 MB) admits
              // the real worst case (3-component 4:4:4 at the 4096^2
              // dims cap = 50M) and rejects padded multi-component
              // abuse beyond it.
              val totalCoefs = (0 until comps.length)
                .map(i => blocksW(i).toLong * blocksH(i) * 64).sum
              if (totalCoefs > 64000000L) bail()
              coefs = Array.tabulate(comps.length)(i =>
                new Array[Int](blocksW(i) * blocksH(i) * 64))
            }
            val reader = new BitReader(c, pos + len)
            decodeScanProgressive(reader, scan, comps, pSs, pSe, ah, al,
              restartInterval, dcTabs, acTabs, coefs, blocksW,
              mcusW, mcusH, w, h, hMax, vMax)
            pos = reader.pos
          }
        case _ => // APPn, COM, anything else with a length field
          val len = be16(pos)
          if (len < 2) bail()
          pos += len
      }
    }
    if (progressive && coefs != null) {
      // all scans accumulated: dequantize + IDCT the luma blocks now
      val yC = comps(0)
      val q = qtabs(yC.tq)
      if (q == null) bail()
      val hMax = comps.map(_.h).max
      val vMax = comps.map(_.v).max
      yW = ceilDiv(w * yC.h, hMax)
      yH = ceilDiv(h * yC.v, vMax)
      val bw = blocksW(0)
      val bh = blocksH(0)
      yStride = bw * 8
      yPlane = new Array[Int](yStride * bh * 8)
      val cf = coefs(0)
      val coefBlk = new Array[Int](64)
      val tmp = new Array[Double](64)
      var by = 0
      while (by < bh) {
        var bx = 0
        while (bx < bw) {
          val base64 = (by * bw + bx) * 64
          var k = 0
          while (k < 64) {
            val raster = Zigzag(k)
            coefBlk(raster) = cf(base64 + raster) * q(k)
            k += 1
          }
          idctToPlane(coefBlk, tmp, yPlane, by * 8 * yStride + bx * 8, yStride)
          bx += 1
        }
        by += 1
      }
    }
    if (yPlane == null || w == 0) return None
    // crop the padded block grid to the component dims as doubles
    val out = new Array[Double](yW * yH)
    var y = 0
    while (y < yH) {
      var x = 0
      while (x < yW) { out(y * yW + x) = yPlane(y * yStride + x).toDouble; x += 1 }
      y += 1
    }
    Some((out, yW, yH))
  } catch {
    case _: Bail => None
    case _: ArrayIndexOutOfBoundsException => None
  }

  private def ceilDiv(a: Int, b: Int): Int = (a + b - 1) / b

  /** Decode one scan's entropy data. Interleaved (Ns > 1) MCUs per
    * A.2.3; non-interleaved per A.2.2. Only `yComp` blocks are
    * dequantized + transformed into `yPlane`; other components are
    * entropy-decoded and dropped. */
  private def decodeScan(
      r: BitReader, scan: Array[Component], yComp: Component,
      w: Int, h: Int, hMax: Int, vMax: Int, ri: Int,
      qtabs: Array[Array[Int]], dcTabs: Array[HuffTable], acTabs: Array[HuffTable],
      yPlane: Array[Int], yW: Int, yH: Int): Unit = {

    val yBlocksW = ceilDiv(yW, 8)
    val yBlocksH = ceilDiv(yH, 8)
    val yStride = yBlocksW * 8
    val coef = new Array[Int](64)
    val tmp = new Array[Double](64)

    def decodeBlock(comp: Component, store: Boolean, bx: Int, by: Int): Unit = {
      val dcT = dcTabs(comp.td)
      val acT = acTabs(comp.ta)
      if (dcT == null || acT == null) bail()
      java.util.Arrays.fill(coef, 0)
      val q = qtabs(comp.tq)
      if (q == null) bail()
      val s = r.decodeHuff(dcT)
      if (s > 11) bail()
      comp.pred += r.receiveExtend(s)
      coef(0) = comp.pred * q(0)
      var k = 1
      var open = true
      while (open && k < 64) {
        val rs = r.decodeHuff(acT)
        val run = (rs >> 4) & 0xF
        val size = rs & 0xF
        if (size == 0) {
          if (run == 15) k += 16 // ZRL
          else open = false // EOB
        } else {
          k += run
          if (k > 63) bail()
          coef(Zigzag(k)) = r.receiveExtend(size) * q(k)
          k += 1
        }
      }
      // padding MCU blocks past the component's block grid are
      // entropy-decoded (the stream interleaves them) but dropped
      if (store && bx < yBlocksW && by < yBlocksH) {
        idctToPlane(coef, tmp, yPlane, by * 8 * yStride + bx * 8, yStride)
      }
    }

    var nextRst = 0
    if (scan.length == 1) {
      val comp = scan(0)
      val cw = ceilDiv(w * comp.h, hMax)
      val ch = ceilDiv(h * comp.v, vMax)
      val bw = ceilDiv(cw, 8)
      val bh = ceilDiv(ch, 8)
      val isY = comp eq yComp
      var mcu = 0
      val total = bw * bh
      while (mcu < total) {
        if (ri > 0 && mcu > 0 && mcu % ri == 0) {
          if (!r.restart(nextRst)) bail()
          nextRst = (nextRst + 1) & 7
          scan.foreach(_.pred = 0)
        }
        decodeBlock(comp, isY, mcu % bw, mcu / bw)
        mcu += 1
      }
    } else {
      val mcusW = ceilDiv(w, 8 * hMax)
      val mcusH = ceilDiv(h, 8 * vMax)
      var mcu = 0
      val total = mcusW * mcusH
      while (mcu < total) {
        if (ri > 0 && mcu > 0 && mcu % ri == 0) {
          if (!r.restart(nextRst)) bail()
          nextRst = (nextRst + 1) & 7
          scan.foreach(_.pred = 0)
        }
        val mx = mcu % mcusW
        val my = mcu / mcusW
        var ci = 0
        while (ci < scan.length) {
          val comp = scan(ci)
          val isY = comp eq yComp
          var by = 0
          while (by < comp.v) {
            var bx = 0
            while (bx < comp.h) {
              decodeBlock(comp, isY, mx * comp.h + bx, my * comp.v + by)
              bx += 1
            }
            by += 1
          }
          ci += 1
        }
        mcu += 1
      }
    }
  }

  /** Decode one PROGRESSIVE scan (T.81 Annex G) into the per-component
    * coefficient arrays. DC scans (Ss = 0) may interleave; AC scans
    * are single-component over that component's own block grid. First
    * scans (Ah = 0) Huffman-decode magnitudes shifted by the point
    * transform; refinement scans (Ah > 0) add one bit of precision —
    * DC as a raw bit, AC via the G.1.2.3 correction-bit walk in which
    * every already-nonzero coefficient passed consumes a correction
    * bit and zero-history run lengths count only zero-history
    * positions. EOB runs (G.1.2.2) span blocks and reset at restarts. */
  private def decodeScanProgressive(
      r: BitReader, scan: Array[Component], comps: Array[Component],
      ss: Int, se: Int, ah: Int, al: Int, ri: Int,
      dcTabs: Array[HuffTable], acTabs: Array[HuffTable],
      coefs: Array[Array[Int]], blocksW: Array[Int],
      mcusW: Int, mcusH: Int, w: Int, h: Int, hMax: Int, vMax: Int): Unit = {

    var eobrun = 0

    def receive(n: Int): Int = {
      var v = 0
      var i = 0
      while (i < n) { v = (v << 1) | r.nextBit(); i += 1 }
      v
    }

    def dcFirst(comp: Component, ci: Int, blockIx: Int): Unit = {
      val t = dcTabs(comp.td)
      if (t == null) bail()
      val s = r.decodeHuff(t)
      if (s > 11) bail()
      comp.pred += r.receiveExtend(s)
      coefs(ci)(blockIx * 64) = comp.pred << al
    }

    def dcRefine(ci: Int, blockIx: Int): Unit =
      if (r.nextBit() == 1) coefs(ci)(blockIx * 64) |= (1 << al)

    def acFirst(comp: Component, ci: Int, blockIx: Int): Unit = {
      if (eobrun > 0) { eobrun -= 1; return }
      val t = acTabs(comp.ta)
      if (t == null) bail()
      val cf = coefs(ci)
      val base = blockIx * 64
      var k = ss
      var open = true
      while (open && k <= se) {
        val rs = r.decodeHuff(t)
        val run = (rs >> 4) & 0xF
        val size = rs & 0xF
        if (size == 0) {
          if (run < 15) { // EOBn: this block ends, run-counted more skip
            eobrun = (1 << run) - 1 + (if (run > 0) receive(run) else 0)
            open = false
          } else k += 16 // ZRL
        } else {
          k += run
          if (k > se) bail()
          cf(base + Zigzag(k)) = r.receiveExtend(size) << al
          k += 1
        }
      }
    }

    def acRefine(comp: Component, ci: Int, blockIx: Int): Unit = {
      val t = acTabs(comp.ta)
      if (t == null) bail()
      val cf = coefs(ci)
      val base = blockIx * 64
      val p1 = 1 << al
      val m1 = -1 << al
      var k = ss
      if (eobrun == 0) {
        var open = true
        while (open && k <= se) {
          val rs = r.decodeHuff(t)
          var run = (rs >> 4) & 0xF
          val size = rs & 0xF
          var newVal = 0
          if (size == 0) {
            if (run < 15) { // EOBn: only correction bits remain here
              eobrun = (1 << run) - 1 + (if (run > 0) receive(run) else 0)
              open = false
            }
            // run == 15 (ZRL): 15 decrements + the stopping zero-history
            // position = 16 zero-history positions, newVal stays 0
          } else {
            if (size != 1) bail() // refinement introduces exactly ±1
            newVal = if (r.nextBit() == 1) p1 else m1
          }
          if (open) {
            // advance over `run` zero-history positions, consuming a
            // correction bit at every nonzero-history one passed; place
            // the new coefficient at the run's end
            var cont = true
            while (cont && k <= se) {
              val z = base + Zigzag(k)
              if (cf(z) != 0) {
                if (r.nextBit() == 1 && (cf(z) & p1) == 0) {
                  if (cf(z) >= 0) cf(z) += p1 else cf(z) += m1
                }
              } else if (run == 0) {
                if (newVal != 0) cf(z) = newVal
                cont = false
              } else run -= 1
              k += 1
            }
          }
        }
      } else eobrun -= 1
      // inside an EOB run (or after entering one): correction bits for
      // every remaining nonzero coefficient of the band
      while (k <= se) {
        val z = base + Zigzag(k)
        if (cf(z) != 0) {
          if (r.nextBit() == 1 && (cf(z) & p1) == 0) {
            if (cf(z) >= 0) cf(z) += p1 else cf(z) += m1
          }
        }
        k += 1
      }
    }

    def decodeOne(comp: Component, ci: Int, blockIx: Int): Unit =
      if (ss == 0) { if (ah == 0) dcFirst(comp, ci, blockIx) else dcRefine(ci, blockIx) }
      else { if (ah == 0) acFirst(comp, ci, blockIx) else acRefine(comp, ci, blockIx) }

    var nextRst = 0
    def restartIfDue(mcu: Int): Unit =
      if (ri > 0 && mcu > 0 && mcu % ri == 0) {
        if (!r.restart(nextRst)) bail()
        nextRst = (nextRst + 1) & 7
        scan.foreach(_.pred = 0)
        eobrun = 0
      }

    if (scan.length == 1) {
      // non-interleaved: the component's own (un-padded) block grid,
      // written with the MCU-padded stride
      val comp = scan(0)
      val ci = comps.indexWhere(_ eq comp)
      if (ci < 0) bail()
      val cw = ceilDiv(w * comp.h, hMax)
      val ch = ceilDiv(h * comp.v, vMax)
      val bw = ceilDiv(cw, 8)
      val bh = ceilDiv(ch, 8)
      val stride = blocksW(ci)
      var mcu = 0
      val total = bw * bh
      while (mcu < total) {
        restartIfDue(mcu)
        decodeOne(comp, ci, (mcu / bw) * stride + (mcu % bw))
        mcu += 1
      }
    } else {
      // interleaved MCU walk — DC scans only in progressive
      if (ss != 0) bail()
      var mcu = 0
      val total = mcusW * mcusH
      while (mcu < total) {
        restartIfDue(mcu)
        val mx = mcu % mcusW
        val my = mcu / mcusW
        var i = 0
        while (i < scan.length) {
          val comp = scan(i)
          val ci = comps.indexWhere(_ eq comp)
          if (ci < 0) bail()
          var by = 0
          while (by < comp.v) {
            var bx = 0
            while (bx < comp.h) {
              decodeOne(comp, ci,
                (my * comp.v + by) * blocksW(ci) + (mx * comp.h + bx))
              bx += 1
            }
            by += 1
          }
          i += 1
        }
        mcu += 1
      }
    }
  }

  /** Separable 8×8 inverse DCT (dequantized coefficients in raster
    * order) → level-shifted, clamped pixels written into the plane. */
  private def idctToPlane(
      coef: Array[Int], tmp: Array[Double],
      plane: Array[Int], base: Int, stride: Int): Unit = {
    val b = Basis
    // rows: g(v, x) = Σ_u F(v, u)·Basis(u)(x)
    var v = 0
    while (v < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var u = 0
        while (u < 8) { s += coef(v * 8 + u) * b(u)(x); u += 1 }
        tmp(v * 8 + x) = s
        x += 1
      }
      v += 1
    }
    // cols: p(y, x) = ¼·Σ_v g(v, x)·Basis(v)(y), then +128, clamp
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        var s = 0.0
        var vv = 0
        while (vv < 8) { s += tmp(vv * 8 + x) * b(vv)(y); vv += 1 }
        val p = math.round(0.25 * s + 128.0).toInt
        plane(base + y * stride + x) = if (p < 0) 0 else if (p > 255) 255 else p
        x += 1
      }
      y += 1
    }
  }

  // ------------------------------------------------------------------
  // Encoder (fixtures/specs)
  // ------------------------------------------------------------------

  /** Canonical Huffman encode table: value → (code, length). */
  private final class HuffEnc(bits: Array[Int], vals: Array[Int]) {
    val codes = new Array[Int](256)
    val sizes = new Array[Int](256)
    locally {
      var code = 0
      var k = 0
      var l = 1
      while (l <= 16) {
        var i = 0
        while (i < bits(l)) {
          codes(vals(k)) = code
          sizes(vals(k)) = l
          code += 1
          k += 1
          i += 1
        }
        code <<= 1
        l += 1
      }
    }
  }

  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0
    private var n = 0
    def put(code: Int, len: Int): Unit = {
      var i = len - 1
      while (i >= 0) {
        acc = (acc << 1) | ((code >>> i) & 1)
        n += 1
        if (n == 8) {
          out.write(acc & 0xFF)
          if ((acc & 0xFF) == 0xFF) out.write(0x00) // byte stuffing
          acc = 0
          n = 0
        }
        i -= 1
      }
    }
    def flush(): Unit = {
      if (n > 0) {
        acc = (acc << (8 - n)) | ((1 << (8 - n)) - 1) // pad with 1s
        out.write(acc & 0xFF)
        if ((acc & 0xFF) == 0xFF) out.write(0x00)
        acc = 0
        n = 0
      }
    }
  }

  private def magnitude(v: Int): Int = {
    var s = 0
    var a = math.abs(v)
    while (a != 0) { a >>= 1; s += 1 }
    s
  }

  /** Forward 8×8 DCT (double, rounded to nearest) of one level-shifted
    * block with all-ones quantization; emits zigzag-order coefficients. */
  private def fdctQuantOnes(px: Array[Int], zz: Array[Int]): Unit = {
    val b = Basis
    val tmp = new Array[Double](64)
    // rows: g(y, u) = Σ_x p'(y, x)·Basis(u)(x)
    var y = 0
    while (y < 8) {
      var u = 0
      while (u < 8) {
        var s = 0.0
        var x = 0
        while (x < 8) { s += (px(y * 8 + x) - 128) * b(u)(x); x += 1 }
        tmp(y * 8 + u) = s
        u += 1
      }
      y += 1
    }
    var k = 0
    while (k < 64) {
      val r = Zigzag(k)
      val v = r / 8
      val u = r % 8
      var s = 0.0
      var yy = 0
      while (yy < 8) { s += tmp(yy * 8 + u) * b(v)(yy); yy += 1 }
      zz(k) = math.round(0.25 * s).toInt
      k += 1
    }
  }

  private def encodeBlock(
      bw: BitWriter, zz: Array[Int], pred: Int,
      dc: HuffEnc, ac: HuffEnc): Int = {
    val diff = zz(0) - pred
    val s = magnitude(diff)
    bw.put(dc.codes(s), dc.sizes(s))
    if (s > 0) bw.put(if (diff < 0) diff + (1 << s) - 1 else diff, s)
    var k = 1
    var run = 0
    while (k < 64) {
      if (zz(k) == 0) run += 1
      else {
        while (run > 15) { bw.put(ac.codes(0xF0), ac.sizes(0xF0)); run -= 16 }
        val sz = magnitude(zz(k))
        val rs = (run << 4) | sz
        bw.put(ac.codes(rs), ac.sizes(rs))
        bw.put(if (zz(k) < 0) zz(k) + (1 << sz) - 1 else zz(k), sz)
        run = 0
      }
      k += 1
    }
    if (run > 0) bw.put(ac.codes(0x00), ac.sizes(0x00)) // EOB
    zz(0)
  }

  private def writeSeg(o: java.io.ByteArrayOutputStream, marker: Int, body: Array[Int]): Unit = {
    o.write(0xFF); o.write(marker)
    val len = body.length + 2
    o.write((len >> 8) & 0xFF); o.write(len & 0xFF)
    body.foreach(b => o.write(b & 0xFF))
  }

  private def dqtOnes(o: java.io.ByteArrayOutputStream, tq: Int): Unit =
    writeSeg(o, 0xDB, Array(tq) ++ Array.fill(64)(1))

  private def dht(o: java.io.ByteArrayOutputStream, tcTh: Int, bits: Array[Int], vals: Array[Int]): Unit =
    writeSeg(o, 0xC4, Array(tcTh) ++ bits.drop(1) ++ vals)

  /** Grayscale (1-component) baseline JPEG of `grays` with all-ones
    * quantization — flat 8×8 blocks round-trip exactly. Dims must be
    * multiples of 8 (the fixture contract; general JPEG pads edges,
    * which the exactness law doesn't need). `restartInterval` > 0
    * emits DRI + RSTn markers every that-many blocks (the decoder's
    * F.2.1.3.1 path needs a real fixture). */
  def encodeGray(grays: Array[Int], w: Int, h: Int, restartInterval: Int = 0): Array[Byte] = {
    require(grays.length == w * h, s"pixel count ${grays.length} != $w x $h")
    require(w % 8 == 0 && h % 8 == 0, s"fixture dims must be block-aligned: $w x $h")
    val o = new java.io.ByteArrayOutputStream()
    o.write(0xFF); o.write(0xD8) // SOI
    dqtOnes(o, 0)
    writeSeg(o, 0xC0, Array(8, (h >> 8) & 0xFF, h & 0xFF, (w >> 8) & 0xFF, w & 0xFF,
      1, /* comp id */ 1, 0x11, 0))
    dht(o, 0x00, LumDcBits, LumDcVals)
    dht(o, 0x10, LumAcBits, LumAcVals)
    if (restartInterval > 0)
      writeSeg(o, 0xDD, Array((restartInterval >> 8) & 0xFF, restartInterval & 0xFF))
    writeSeg(o, 0xDA, Array(1, 1, 0x00, 0, 63, 0))
    var bw = new BitWriter(o)
    val px = new Array[Int](64)
    val zz = new Array[Int](64)
    var pred = 0
    var rst = 0
    var mcu = 0
    var by = 0
    while (by < h / 8) {
      var bx = 0
      while (bx < w / 8) {
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
          bw.flush()
          o.write(0xFF); o.write(0xD0 + rst)
          rst = (rst + 1) & 7
          pred = 0
          bw = new BitWriter(o)
        }
        var i = 0
        while (i < 64) {
          px(i) = grays((by * 8 + i / 8) * w + bx * 8 + i % 8)
          i += 1
        }
        fdctQuantOnes(px, zz)
        pred = encodeBlock(bw, zz, pred, lumDcEnc, lumAcEnc)
        mcu += 1
        bx += 1
      }
      by += 1
    }
    bw.flush()
    o.write(0xFF); o.write(0xD9) // EOI
    o.toByteArray
  }

  /** 3-component YCbCr 4:2:0 baseline JPEG of a GRAY image (R=G=B, so
    * Y = the gray exactly and Cb = Cr = 128 → all-zero chroma blocks);
    * all-ones quantization. Dims must be multiples of 16 (one MCU).
    * `restartInterval` > 0 emits DRI + RSTn every that-many MCUs. */
  def encodeGray420(grays: Array[Int], w: Int, h: Int, restartInterval: Int = 0): Array[Byte] = {
    require(grays.length == w * h, s"pixel count ${grays.length} != $w x $h")
    require(w % 16 == 0 && h % 16 == 0, s"fixture dims must be MCU-aligned: $w x $h")
    val o = new java.io.ByteArrayOutputStream()
    o.write(0xFF); o.write(0xD8)
    dqtOnes(o, 0)
    dqtOnes(o, 1)
    writeSeg(o, 0xC0, Array(8, (h >> 8) & 0xFF, h & 0xFF, (w >> 8) & 0xFF, w & 0xFF,
      3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1))
    dht(o, 0x00, LumDcBits, LumDcVals)
    dht(o, 0x10, LumAcBits, LumAcVals)
    dht(o, 0x01, ChmDcBits, ChmDcVals)
    dht(o, 0x11, ChmAcBits, ChmAcVals)
    if (restartInterval > 0)
      writeSeg(o, 0xDD, Array((restartInterval >> 8) & 0xFF, restartInterval & 0xFF))
    writeSeg(o, 0xDA, Array(3, 1, 0x00, 2, 0x11, 3, 0x11, 0, 63, 0))
    var bw = new BitWriter(o)
    val px = new Array[Int](64)
    val zz = new Array[Int](64)
    val zeroZz = new Array[Int](64) // flat-128 chroma: all-zero coefficients
    var predY = 0
    var predCb = 0
    var predCr = 0
    var rst = 0
    val mcusW = w / 16
    val mcusH = h / 16
    var mcu = 0
    while (mcu < mcusW * mcusH) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        bw.flush()
        o.write(0xFF); o.write(0xD0 + rst)
        rst = (rst + 1) & 7
        predY = 0; predCb = 0; predCr = 0
        bw = new BitWriter(o)
      }
      val mx = mcu % mcusW
      val my = mcu / mcusW
      var by = 0
      while (by < 2) {
        var bx = 0
        while (bx < 2) {
          var i = 0
          while (i < 64) {
            px(i) = grays((my * 16 + by * 8 + i / 8) * w + mx * 16 + bx * 8 + i % 8)
            i += 1
          }
          fdctQuantOnes(px, zz)
          predY = encodeBlock(bw, zz, predY, lumDcEnc, lumAcEnc)
          bx += 1
        }
        by += 1
      }
      predCb = encodeBlock(bw, zeroZz, predCb, chmDcEnc, chmAcEnc)
      predCr = encodeBlock(bw, zeroZz, predCr, chmDcEnc, chmAcEnc)
      mcu += 1
    }
    bw.flush()
    o.write(0xFF); o.write(0xD9)
    o.toByteArray
  }

  private lazy val lumDcEnc = new HuffEnc(LumDcBits, LumDcVals)
  private lazy val lumAcEnc = new HuffEnc(LumAcBits, LumAcVals)
  private lazy val chmDcEnc = new HuffEnc(ChmDcBits, ChmDcVals)
  private lazy val chmAcEnc = new HuffEnc(ChmAcBits, ChmAcVals)

  // ------------------------------------------------------------------
  // Progressive encoder (fixtures/specs)
  // ------------------------------------------------------------------

  // Progressive AC scans emit EOBn symbols (0x10..0xE0) the baseline
  // K.3 tables don't contain (real encoders ship custom tables per
  // scan). The fixture table covers the WHOLE rs alphabet: 255 codes
  // of length 8 + one of length 9 (canonical; the 9-bit code is 510,
  // so no all-ones code exists and any decoder accepts it).
  private val ProgAcBits = Array(0, 0, 0, 0, 0, 0, 0, 0, 255, 1, 0, 0, 0, 0, 0, 0, 0)
  private val ProgAcVals = Array.tabulate(256)(identity)
  private lazy val progAcEnc = new HuffEnc(ProgAcBits, ProgAcVals)

  /** Emit EOB-run codes covering exactly `count` block-ends (G.1.2.2:
    * EOBn covers (1<<n)+appended blocks; the code sits where the first
    * covered block's end falls). */
  private def putEobRun(bw: BitWriter, ac: HuffEnc, count0: Int): Unit = {
    var count = count0
    while (count > 0) {
      val chunk = math.min(count, 32767)
      var n = 0
      while ((1 << (n + 1)) <= chunk) n += 1
      bw.put(ac.codes(n << 4), ac.sizes(n << 4))
      if (n > 0) bw.put(chunk - (1 << n), n)
      count -= chunk
    }
  }

  /** One block's AC 1..63 under point transform `al` (toward-zero),
    * progressive first-scan coding. Returns the updated pending
    * EOB-run count (flushes it first when the block has codes to
    * write; a block whose last nonzero lands before 63 re-opens it). */
  private def putAcFirstBlock(
      bw: BitWriter, zz: Array[Int], al: Int, ac: HuffEnc, pending0: Int): Int = {
    var lastNz = 0
    var k = 1
    while (k < 64) {
      val v0 = zz(k)
      if ((if (v0 >= 0) v0 >>> al else (-v0) >>> al) != 0) lastNz = k
      k += 1
    }
    if (lastNz == 0) return pending0 + 1 // wholly zero: owes one end-marker
    var pending = pending0
    if (pending > 0) { putEobRun(bw, ac, pending); pending = 0 }
    var run = 0
    k = 1
    while (k <= lastNz) {
      val v0 = zz(k)
      val v = if (v0 >= 0) v0 >>> al else -((-v0) >>> al)
      if (v == 0) run += 1
      else {
        while (run > 15) { bw.put(ac.codes(0xF0), ac.sizes(0xF0)); run -= 16 }
        val sz = magnitude(v)
        bw.put(ac.codes((run << 4) | sz), ac.sizes((run << 4) | sz))
        bw.put(if (v < 0) v + (1 << sz) - 1 else v, sz)
        run = 0
      }
      k += 1
    }
    if (lastNz < 63) pending = 1 // its own end-marker batches forward
    pending
  }

  /** Progressive (SOF2) grayscale JPEG of `grays`, all-ones
    * quantization — the decoder-fixture twin of [[encodeGray]].
    * Spectral-selection script: scan 1 = DC, scan 2 = AC 1..63 with
    * EOB-run batching across zero blocks. With `useSA`, a successive-
    * approximation script instead: DC at Al=1, DC refinement, AC at
    * Al=1, AC refinement — supported for AC-FREE content (flat 8×8
    * blocks, the gate patterns) where both AC scans are pure EOB runs
    * and the refinement paths still fully exercise the decoder's
    * correction-bit machinery on the DC band. `restartInterval` > 0
    * plants DRI + per-scan RSTn markers (progressive restarts reset
    * both predictors and EOB runs). */
  def encodeGrayProgressive(
      grays: Array[Int], w: Int, h: Int,
      useSA: Boolean = false, restartInterval: Int = 0): Array[Byte] = {
    require(grays.length == w * h, s"pixel count ${grays.length} != $w x $h")
    require(w % 8 == 0 && h % 8 == 0, s"fixture dims must be block-aligned: $w x $h")
    val bwBlocks = w / 8
    val blocks = Array.tabulate(bwBlocks * (h / 8)) { b =>
      val px = new Array[Int](64)
      val zz = new Array[Int](64)
      var i = 0
      while (i < 64) {
        px(i) = grays(((b / bwBlocks) * 8 + i / 8) * w + (b % bwBlocks) * 8 + i % 8)
        i += 1
      }
      fdctQuantOnes(px, zz)
      zz
    }
    if (useSA)
      require(blocks.forall(zz => (1 until 64).forall(zz(_) == 0)),
        "SA fixture script needs AC-free content (flat 8x8 blocks)")
    val o = new java.io.ByteArrayOutputStream()
    o.write(0xFF); o.write(0xD8)
    dqtOnes(o, 0)
    writeSeg(o, 0xC2, Array(8, (h >> 8) & 0xFF, h & 0xFF, (w >> 8) & 0xFF, w & 0xFF,
      1, 1, 0x11, 0))
    dht(o, 0x00, LumDcBits, LumDcVals)
    dht(o, 0x10, ProgAcBits, ProgAcVals)
    if (restartInterval > 0)
      writeSeg(o, 0xDD, Array((restartInterval >> 8) & 0xFF, restartInterval & 0xFF))

    def dcScan(al: Int): Unit = {
      writeSeg(o, 0xDA, Array(1, 1, 0x00, 0, 0, al))
      var bw = new BitWriter(o)
      var pred = 0
      var rst = 0
      var mcu = 0
      blocks.foreach { zz =>
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
          bw.flush(); o.write(0xFF); o.write(0xD0 + rst)
          rst = (rst + 1) & 7; pred = 0; bw = new BitWriter(o)
        }
        val v = zz(0) >> al // DC point transform: arithmetic shift
        val diff = v - pred
        pred = v
        val s = magnitude(diff)
        bw.put(lumDcEnc.codes(s), lumDcEnc.sizes(s))
        if (s > 0) bw.put(if (diff < 0) diff + (1 << s) - 1 else diff, s)
        mcu += 1
      }
      bw.flush()
    }

    def dcRefineScan(al: Int): Unit = {
      writeSeg(o, 0xDA, Array(1, 1, 0x00, 0, 0, ((al + 1) << 4) | al))
      var bw = new BitWriter(o)
      var rst = 0
      var mcu = 0
      blocks.foreach { zz =>
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
          bw.flush(); o.write(0xFF); o.write(0xD0 + rst)
          rst = (rst + 1) & 7; bw = new BitWriter(o)
        }
        bw.put((zz(0) >> al) & 1, 1)
        mcu += 1
      }
      bw.flush()
    }

    def acScan(al: Int): Unit = {
      writeSeg(o, 0xDA, Array(1, 1, 0x00, 1, 63, al))
      var bw = new BitWriter(o)
      var pending = 0
      var rst = 0
      var mcu = 0
      blocks.foreach { zz =>
        if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
          if (pending > 0) { putEobRun(bw, progAcEnc, pending); pending = 0 }
          bw.flush(); o.write(0xFF); o.write(0xD0 + rst)
          rst = (rst + 1) & 7; bw = new BitWriter(o)
        }
        pending = putAcFirstBlock(bw, zz, al, progAcEnc, pending)
        mcu += 1
      }
      if (pending > 0) putEobRun(bw, progAcEnc, pending)
      bw.flush()
    }

    def acRefineScan(al: Int): Unit = {
      // AC-free contract: history and this bit-plane are all zero, so
      // the whole scan is EOB runs (split only at restarts)
      writeSeg(o, 0xDA, Array(1, 1, 0x00, 1, 63, ((al + 1) << 4) | al))
      var bw = new BitWriter(o)
      var rst = 0
      var left = blocks.length
      var chunkStart = 0
      while (left > 0) {
        val chunk = if (restartInterval > 0) math.min(left, restartInterval) else left
        if (chunkStart > 0) {
          bw.flush(); o.write(0xFF); o.write(0xD0 + rst)
          rst = (rst + 1) & 7; bw = new BitWriter(o)
        }
        putEobRun(bw, progAcEnc, chunk)
        left -= chunk
        chunkStart += 1
      }
      bw.flush()
    }

    if (useSA) { dcScan(1); dcRefineScan(0); acScan(1); acRefineScan(0) }
    else { dcScan(0); acScan(0) }
    o.write(0xFF); o.write(0xD9)
    o.toByteArray
  }

  /** Progressive 3-component YCbCr 4:2:0 of a GRAY image (the
    * [[encodeGray420]] geometry; chroma blocks all-zero): scan 1 is
    * the INTERLEAVED DC scan (the multi-component progressive path),
    * then per-component AC scans — Y with real coefficients + EOB-run
    * batching, Cb/Cr as pure EOB runs the decoder must still walk to
    * stay bit-synchronized. Dims must be multiples of 16. */
  def encodeGray420Progressive(grays: Array[Int], w: Int, h: Int): Array[Byte] = {
    require(grays.length == w * h, s"pixel count ${grays.length} != $w x $h")
    require(w % 16 == 0 && h % 16 == 0, s"fixture dims must be MCU-aligned: $w x $h")
    val ybw = w / 8
    val yBlocks = Array.tabulate(ybw * (h / 8)) { b =>
      val px = new Array[Int](64)
      val zz = new Array[Int](64)
      var i = 0
      while (i < 64) {
        px(i) = grays(((b / ybw) * 8 + i / 8) * w + (b % ybw) * 8 + i % 8)
        i += 1
      }
      fdctQuantOnes(px, zz)
      zz
    }
    val o = new java.io.ByteArrayOutputStream()
    o.write(0xFF); o.write(0xD8)
    dqtOnes(o, 0)
    dqtOnes(o, 1)
    writeSeg(o, 0xC2, Array(8, (h >> 8) & 0xFF, h & 0xFF, (w >> 8) & 0xFF, w & 0xFF,
      3, 1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1))
    dht(o, 0x00, LumDcBits, LumDcVals)
    dht(o, 0x10, ProgAcBits, ProgAcVals)
    dht(o, 0x01, ChmDcBits, ChmDcVals)
    dht(o, 0x11, ProgAcBits, ProgAcVals)

    // scan 1: interleaved DC, MCU order — 4 Y + Cb + Cr per MCU
    writeSeg(o, 0xDA, Array(3, 1, 0x00, 2, 0x10, 3, 0x10, 0, 0, 0))
    locally {
      val bw = new BitWriter(o)
      var predY = 0
      val mcusW = w / 16
      val mcusH = h / 16
      var mcu = 0
      while (mcu < mcusW * mcusH) {
        val mx = mcu % mcusW
        val my = mcu / mcusW
        var by = 0
        while (by < 2) {
          var bx = 0
          while (bx < 2) {
            val v = yBlocks((my * 2 + by) * ybw + (mx * 2 + bx))(0)
            val diff = v - predY
            predY = v
            val s = magnitude(diff)
            bw.put(lumDcEnc.codes(s), lumDcEnc.sizes(s))
            if (s > 0) bw.put(if (diff < 0) diff + (1 << s) - 1 else diff, s)
            bx += 1
          }
          by += 1
        }
        // chroma DC: flat 128 → 0, diff 0 (magnitude-0 code), twice
        bw.put(chmDcEnc.codes(0), chmDcEnc.sizes(0))
        bw.put(chmDcEnc.codes(0), chmDcEnc.sizes(0))
        mcu += 1
      }
      bw.flush()
    }
    // scan 2: Y AC 1..63 over Y's own raster block grid
    writeSeg(o, 0xDA, Array(1, 1, 0x00, 1, 63, 0))
    locally {
      val bw = new BitWriter(o)
      var pending = 0
      yBlocks.foreach(zz => pending = putAcFirstBlock(bw, zz, 0, progAcEnc, pending))
      if (pending > 0) putEobRun(bw, progAcEnc, pending)
      bw.flush()
    }
    // scans 3/4: Cb, Cr AC — all-zero blocks, one EOB run each
    val chromaBlocks = (w / 16) * (h / 16)
    Seq(2, 3).foreach { cid =>
      writeSeg(o, 0xDA, Array(1, cid, 0x11, 1, 63, 0))
      val bw = new BitWriter(o)
      putEobRun(bw, progAcEnc, chromaBlocks)
      bw.flush()
    }
    o.write(0xFF); o.write(0xD9)
    o.toByteArray
  }
}
