package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.Encoders

/** Audio content fingerprinting (SURVEY §2.5 L48b) — the AV leg of
  * multimodal near-dup: [[Media]]'s pHash covers images and
  * [[Media.decodeAvMeta]] parses AV container HEADERS, but nothing
  * fingerprinted PCM CONTENT until now (r19 verdict gap #3). This is
  * the chromaprint SHAPE (Acoustid's fingerprinter: short-time band
  * energies → binarized features; Haitsma & Kalker 2002's robust
  * audio hash is the published ancestor) reduced to the repo's 64-bit
  * signature contract so [[Dedup.pairsFromSigs64]]'s pigeonhole
  * banding applies unchanged:
  *
  *   - decode PCM (real byte parsing, see [[decodePcm]]),
  *   - 16 equal time frames × 4 Goertzel band energies
  *     (400/800/1600/3200 Hz — inside every common Nyquist),
  *   - bit(f,b) = 1 iff band b carries > 1/8 of frame f's band
  *     energy (a band-ACTIVITY detector: relative thresholds are
  *     robust to gain/noise where raw-energy medians are not).
  *
  * Same content → same bits regardless of container (the cross-codec
  * hamming-0 law, AudioSpec); small perturbations flip at most
  * near-threshold cells (locality law); silence → 0 bits.
  *
  * Decode scope (documented subset, the baseline-JPEG precedent):
  * WAV 16-bit PCM (any channel count, averaged to mono) and FLAC
  * frames whose subframes are VERBATIM or CONSTANT (the lossless
  * container's uncompressed layouts; rice/LPC-coded subframes →
  * None). CRC-8 (header) and CRC-16 (frame) validate — corrupt bytes
  * degrade to None, never to a wrong signature, the Media
  * degrade-not-die contract.
  *
  * Scale shape (100 TB): the codec boundary is the same
  * `mapPartitions` contract as [[Media.phashSignatures]] — only the
  * 8-byte signature leaves the scan, the payload never shuffles; the
  * pair stage is the shared banding (narrow (sig, id) exchange,
  * hot-bucket guard). */
object Audio {

  /** Goertzel band centers (Hz). */
  val BandsHz: Array[Double] = Array(400.0, 800.0, 1600.0, 3200.0)

  /** Time frames in the signature (× 4 bands = 64 bits). */
  val Frames = 16

  /** Minimum decoded samples for a signature (64 per frame). */
  val MinSamples: Int = Frames * 64

  // ------------------------------------------------------------- decode

  /** CRC-8, poly 0x07, init 0 (FLAC frame-header CRC). */
  private[operators] def crc8(b: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= b(i) & 0xFF
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x80) != 0) ((crc << 1) ^ 0x07) & 0xFF else (crc << 1) & 0xFF
        k += 1
      }
      i += 1
    }
    crc
  }

  /** CRC-16, poly 0x8005, init 0 (FLAC whole-frame CRC). */
  private[operators] def crc16(b: Array[Byte], from: Int, until: Int): Int = {
    var crc = 0
    var i = from
    while (i < until) {
      crc ^= (b(i) & 0xFF) << 8
      var k = 0
      while (k < 8) {
        crc = if ((crc & 0x8000) != 0) ((crc << 1) ^ 0x8005) & 0xFFFF else (crc << 1) & 0xFFFF
        k += 1
      }
      i += 1
    }
    crc
  }

  private def le16(b: Array[Byte], i: Int): Int = (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8)
  private def le32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xFF) | ((b(i + 1) & 0xFF) << 8) | ((b(i + 2) & 0xFF) << 16) | ((b(i + 3) & 0xFF) << 24)
  private def be16(b: Array[Byte], i: Int): Int = ((b(i) & 0xFF) << 8) | (b(i + 1) & 0xFF)
  private def fourcc(b: Array[Byte], i: Int, s: String): Boolean =
    b(i) == s.charAt(0).toByte && b(i + 1) == s.charAt(1).toByte &&
      b(i + 2) == s.charAt(2).toByte && b(i + 3) == s.charAt(3).toByte

  /** Decode a WAV or FLAC (verbatim/constant subset) payload to mono
    * samples in [-1, 1] + sample rate. None on anything else —
    * unknown container, compressed subframes, non-16-bit PCM, CRC
    * mismatch, truncation. */
  def decodePcm(c: Array[Byte]): Option[(Array[Double], Int)] =
    try {
      if (c.length >= 12 && fourcc(c, 0, "RIFF") && fourcc(c, 8, "WAVE")) wavPcm(c)
      else if (c.length >= 4 && fourcc(c, 0, "fLaC")) flacPcm(c)
      else None
    } catch { case scala.util.control.NonFatal(_) => None }

  /** WAV: `fmt ` must declare PCM (code 1) 16-bit; `data` holds LE16
    * interleaved frames, averaged to mono. */
  private def wavPcm(c: Array[Byte]): Option[(Array[Double], Int)] = {
    var i = 12
    var sr = 0; var ch = 0; var ok = false
    var data: Option[(Int, Int)] = None
    while (i + 8 <= c.length) {
      val size = le32(c, i + 4)
      if (size < 0 || size > c.length - i - 8) return None
      if (fourcc(c, i, "fmt ") && size >= 16) {
        if (le16(c, i + 8) != 1 || le16(c, i + 22) != 16) return None // PCM 16-bit only
        ch = le16(c, i + 10); sr = le32(c, i + 12); ok = ch > 0 && sr > 0
      } else if (fourcc(c, i, "data")) data = Some((i + 8, size))
      i += 8 + size + (size & 1)
    }
    (data, ok) match {
      case (Some((off, size)), true) =>
        val nFrames = size / (2 * ch)
        val out = new Array[Double](nFrames)
        var f = 0
        while (f < nFrames) {
          var s = 0.0
          var k = 0
          while (k < ch) { s += le16(c, off + 2 * (f * ch + k)).toShort; k += 1 }
          out(f) = s / (ch * 32768.0)
          f += 1
        }
        Some((out, sr))
      case _ => None
    }
  }

  /** FLAC subset: STREAMINFO (16-bit mono required) + a frame walk
    * accepting VERBATIM and CONSTANT subframes only; CRC-8 header and
    * CRC-16 frame checks gate every frame. */
  private def flacPcm(c: Array[Byte]): Option[(Array[Double], Int)] = {
    if (c.length < 42 || (c(4) & 0x7F) != 0) return None // first block must be STREAMINFO
    val siLen = ((c(5) & 0xFF) << 16) | ((c(6) & 0xFF) << 8) | (c(7) & 0xFF)
    if (siLen < 34) return None
    val sr = ((c(18) & 0xFF) << 12) | ((c(19) & 0xFF) << 4) | ((c(20) & 0xFF) >>> 4)
    val ch = ((c(20) >> 1) & 0x7) + 1
    val bits = (((c(20) & 1) << 4) | ((c(21) & 0xFF) >>> 4)) + 1
    if (sr <= 0 || ch != 1 || bits != 16) return None // subset: 16-bit mono
    // skip metadata blocks to the first frame
    var i = 4
    var last = false
    while (!last) {
      if (i + 4 > c.length) return None
      last = (c(i) & 0x80) != 0
      val len = ((c(i + 1) & 0xFF) << 16) | ((c(i + 2) & 0xFF) << 8) | (c(i + 3) & 0xFF)
      i += 4 + len
    }
    val out = scala.collection.mutable.ArrayBuilder.make[Double]
    while (i < c.length) {
      val frameStart = i
      // sync 11111111 111110xx (x = reserved 0, blocking strategy)
      if (i + 5 > c.length || (c(i) & 0xFF) != 0xFF || (c(i + 1) & 0xFC) != 0xF8) return None
      val bsCode = (c(i + 2) >> 4) & 0xF
      val srCode = c(i + 2) & 0xF
      val chAsn = (c(i + 3) >> 4) & 0xF
      val ssCode = (c(i + 3) >> 1) & 0x7
      if ((c(i + 3) & 1) != 0) return None // reserved bit
      if (chAsn != 0) return None          // subset: 1 channel, independent
      if (ssCode != 4 && ssCode != 0) return None // 16-bit (or from STREAMINFO=16)
      i += 4
      // UTF-8 coded frame/sample number: skip lead byte + continuations
      val lead = c(i) & 0xFF
      val cont =
        if (lead < 0x80) 0
        else if ((lead & 0xE0) == 0xC0) 1
        else if ((lead & 0xF0) == 0xE0) 2
        else if ((lead & 0xF8) == 0xF0) 3
        else if ((lead & 0xFC) == 0xF8) 4
        else if ((lead & 0xFE) == 0xFC) 5
        else if (lead == 0xFE) 6
        else return None
      i += 1 + cont
      val blockSize = bsCode match {
        case 0 => return None
        case 1 => 192
        case n if n >= 2 && n <= 5 => 576 << (n - 2)
        case 6 => val v = (c(i) & 0xFF) + 1; i += 1; v
        case 7 => val v = be16(c, i) + 1; i += 2; v
        case n => 256 << (n - 8)
      }
      srCode match {
        case 12 => i += 1
        case 13 | 14 => i += 2
        case 15 => return None // invalid
        case _ => ()
      }
      if (i >= c.length || crc8(c, frameStart, i) != (c(i) & 0xFF)) return None
      i += 1
      // one subframe (mono): header byte = 0 pad + 6-bit type + wasted flag
      val sfh = c(i) & 0xFF
      if ((sfh & 0x80) != 0 || (sfh & 1) != 0) return None // pad/wasted-bits unsupported
      val typ = (sfh >> 1) & 0x3F
      i += 1
      typ match {
        case 0 => // CONSTANT: one 16-bit sample repeated blockSize times
          if (i + 2 > c.length) return None
          val v = be16(c, i).toShort / 32768.0
          var k = 0
          while (k < blockSize) { out += v; k += 1 }
          i += 2
        case 1 => // VERBATIM: blockSize × 16-bit BE
          if (i + 2 * blockSize > c.length) return None
          var k = 0
          while (k < blockSize) { out += be16(c, i + 2 * k).toShort / 32768.0; k += 1 }
          i += 2 * blockSize
        case _ => return None // fixed/LPC-coded: outside the subset
      }
      // byte-aligned already (8-bit headers + 16-bit samples); frame CRC-16
      if (i + 2 > c.length || crc16(c, frameStart, i) != be16(c, i)) return None
      i += 2
    }
    val arr = out.result()
    if (arr.isEmpty) None else Some((arr, sr))
  }

  // ---------------------------------------------------------- signature

  /** Goertzel power of frequency `hz` over samples [from, until). */
  private def goertzel(x: Array[Double], from: Int, until: Int, hz: Double, sr: Int): Double = {
    val w = 2.0 * math.Pi * hz / sr
    val coeff = 2.0 * math.cos(w)
    var s1 = 0.0; var s2 = 0.0
    var i = from
    while (i < until) {
      val s = x(i) + coeff * s1 - s2
      s2 = s1; s1 = s
      i += 1
    }
    s1 * s1 + s2 * s2 - coeff * s1 * s2
  }

  /** The 64-bit content signature: 16 frames × 4 band-activity bits
    * (bit f·4+b set iff band b holds > 1/8 of frame f's band energy).
    * None when the clip is too short or every band is inert. All
    * bands must sit under Nyquist (sr > 6400). */
  def audioFp64(samples: Array[Double], sr: Int): Option[Long] = {
    if (samples.length < MinSamples || sr <= (BandsHz.last * 2).toInt) return None
    val frameLen = samples.length / Frames
    var bitsOut = 0L
    var any = false
    var f = 0
    while (f < Frames) {
      val from = f * frameLen
      val until = from + frameLen
      val e = new Array[Double](BandsHz.length)
      var tot = 0.0
      var b = 0
      while (b < BandsHz.length) {
        e(b) = goertzel(samples, from, until, BandsHz(b), sr)
        tot += e(b)
        b += 1
      }
      b = 0
      while (b < BandsHz.length) {
        if (e(b) > tot / 8.0 && tot > 0.0) { bitsOut |= 1L << (f * 4 + b); any = true }
        b += 1
      }
      f += 1
    }
    if (any) Some(bitsOut) else None
  }

  /** Per-payload content signatures `(doc_id, sig)` — the
    * [[Media.phashSignatures]] codec boundary: decode + fingerprint
    * inside `mapPartitions`, only 8 bytes leave the scan, payloads
    * never shuffle. Undecodable/too-short/silent payloads drop. */
  def fpSignatures(df: DataFrame, id: Column, content: Column): DataFrame =
    df.select(id.cast("long").as("media_id"), content.cast("binary").as("content"))
      .as[Media.MediaRow](Encoders.product[Media.MediaRow])
      .mapPartitions { it =>
        it.flatMap { r =>
          decodePcm(r.content).flatMap { case (pcm, sr) => audioFp64(pcm, sr) }
            .map(sig => (r.media_id, sig))
        }
      }(Encoders.product[(Long, Long)])
      .toDF("doc_id", "sig")

  /** Audio near-duplicate pairs `(id_a, id_b, hamming)` through the
    * shared 4×16-bit pigeonhole banding — the AV twin of
    * [[Media.phashPairs]]. */
  def fpPairs(df: DataFrame, id: Column, content: Column, maxHamming: Int = 3,
      maxBucket: Int = Dedup.DefaultMaxBucket): DataFrame =
    Dedup.pairsFromSigs64(fpSignatures(df, id, content), maxHamming, maxBucket)

  // ----------------------------------------------------------- fixtures

  /** 16-bit WAV bytes (interleaved `channels` copies of `samples`). */
  def wavBytes(samples: Array[Short], sr: Int, channels: Int = 1): Array[Byte] = {
    val dataLen = samples.length * 2 * channels
    val out = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    out.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
    out.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(channels.toShort).putInt(sr)
      .putInt(sr * 2 * channels).putShort((2 * channels).toShort).putShort(16)
    out.put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach { s =>
      var k = 0
      while (k < channels) { out.putShort(s); k += 1 }
    }
    out.array()
  }

  /** FLAC bytes in the decoder's subset: STREAMINFO (mono 16-bit) +
    * ONE fixed-blocksize frame per 4096 samples, each a VERBATIM
    * subframe with real CRC-8/CRC-16. */
  def flacBytes(samples: Array[Short], sr: Int): Array[Byte] = {
    val bb = scala.collection.mutable.ArrayBuilder.make[Byte]
    bb ++= "fLaC".getBytes("US-ASCII")
    // STREAMINFO (last-metadata flag set): 34 bytes
    val si = new Array[Byte](34)
    val bs = 4096
    si(0) = ((bs >> 8) & 0xFF).toByte; si(1) = (bs & 0xFF).toByte  // min block
    si(2) = si(0); si(3) = si(1)                                    // max block
    // min/max frame size (0 = unknown) bytes 4-9
    si(10) = ((sr >> 12) & 0xFF).toByte
    si(11) = ((sr >> 4) & 0xFF).toByte
    si(12) = (((sr & 0xF) << 4) | (0 << 1) | ((16 - 1) >> 4)).toByte // ch-1=0, bits-1 high bit
    si(13) = (((16 - 1) & 0xF) << 4).toByte                          // bits-1 low + samples hi
    bb += 0x80.toByte; bb += 0; bb += 0; bb += 34
    bb ++= si
    var off = 0
    var frameIx = 0L
    while (off < samples.length) {
      val n = math.min(bs, samples.length - off)
      val hdr = scala.collection.mutable.ArrayBuilder.make[Byte]
      hdr += 0xFF.toByte; hdr += 0xF8.toByte  // sync + fixed-blocksize strategy
      hdr += ((7 << 4) | 0).toByte            // blocksize: 16-bit at end; sr: STREAMINFO
      hdr += ((0 << 4) | (4 << 1)).toByte     // mono independent; 16-bit; reserved 0
      // UTF-8 frame number (fixture frames stay < 0x80)
      require(frameIx < 0x80, "fixture writer supports < 128 frames")
      hdr += frameIx.toByte
      hdr += (((n - 1) >> 8) & 0xFF).toByte; hdr += ((n - 1) & 0xFF).toByte
      val h = hdr.result()
      val frame = scala.collection.mutable.ArrayBuilder.make[Byte]
      frame ++= h
      frame += crc8(h, 0, h.length).toByte
      frame += 0x02 // subframe header: VERBATIM, no wasted bits
      var k = 0
      while (k < n) {
        val v = samples(off + k)
        frame += ((v >> 8) & 0xFF).toByte; frame += (v & 0xFF).toByte
        k += 1
      }
      val body = frame.result()
      val crc = crc16(body, 0, body.length)
      bb ++= body
      bb += ((crc >> 8) & 0xFF).toByte; bb += (crc & 0xFF).toByte
      off += n
      frameIx += 1
    }
    bb.result()
  }

  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Synthetic audio clip for payload `id` — the
    * [[Media.syntheticPixelImage]] convention: consecutive ids (k =
    * id/2) render the SAME tone pattern through DIFFERENT containers
    * (id%4 cycles WAV-mono / FLAC / WAV-stereo / FLAC), so the
    * expected near-dup pairs are EXACTLY the consecutive-id pairs at
    * hamming 0, stated in SQL without parsing a byte. Per frame, 1–3
    * of the 4 bands are active (which ones and how many drawn from a
    * splitmix of (k, frame)) — ≥14 patterns/frame keeps banding
    * buckets far under the hot-bucket cap at stress scale. */
  def syntheticAudioClip(id: Long): Array[Byte] = {
    val k = id / 2
    val sr = 16000
    val frameLen = 256
    val n = Frames * frameLen
    val pcm = new Array[Short](n)
    var f = 0
    while (f < Frames) {
      val r = mix(k * 131 + f)
      val nAct = 1 + ((r >>> 8) & 0x7FFFFFFF).toInt % 3
      // distinct active bands: start + stride over Z4 (strides 1 and 3
      // are coprime to 4, so nAct ≤ 3 bands never repeat); 12 distinct
      // band-sets per frame → ~12^4 patterns per 16-bit banding chunk
      val start = ((r >>> 16) & 3).toInt
      val stride = if (((r >>> 24) & 1) == 0L) 1 else 3
      // powers 1/.64/.36 → the weakest active share is .18 of frame
      // energy, a comfortable margin over the 1/8 activity threshold
      val amps = Array(1.0, 0.8, 0.6)
      var i = 0
      while (i < frameLen) {
        var v = 0.0
        var a = 0
        while (a < nAct) {
          val b = (start + a * stride) % 4
          v += amps(a) * math.sin(2.0 * math.Pi * BandsHz(b) * (f * frameLen + i) / sr)
          a += 1
        }
        pcm(f * frameLen + i) = (v / 3.0 * 20000.0).toShort
        i += 1
      }
      f += 1
    }
    (id % 4).toInt match {
      case 0 => wavBytes(pcm, sr, channels = 1)
      case 2 => wavBytes(pcm, sr, channels = 2)
      case _ => flacBytes(pcm, sr)
    }
  }
}
