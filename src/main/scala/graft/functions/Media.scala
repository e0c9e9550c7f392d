package graft.functions

import java.nio.charset.StandardCharsets
import java.util.zip.{CRC32, Deflater, Inflater}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.graft.ColumnBridge.invoke
import org.apache.spark.sql.types._

/** REAL pixel/sample codecs for the multimodal pipeline — no codec jars
  * needed: PNG is zlib (java.util.zip) + per-scanline filters, WAV PCM is
  * pure byte math. This replaces the round-2 `fakeThumbnail` stand-in.
  *
  * PNG side (8-bit RGBA only — the format this pipeline synthesizes):
  *   - [[pngEncode]] writes a spec-correct PNG: signature, IHDR, one IDAT
  *     holding the zlib-deflated filtered scanlines, IEND — all chunk CRCs
  *     real (CRC32 over type+data). Scanline filters CYCLE through all five
  *     spec types (None/Sub/Up/Average/Paeth) so decode exercises every
  *     unfilter branch.
  *   - [[pngDecode]] walks the chunk stream, concatenates IDAT, inflates,
  *     and UNFILTERS each scanline per its filter byte — the real PNG
  *     reconstruction algorithm (RFC 2083 §6).
  * WAV side: 16-bit little-endian PCM encode/decode.
  *
  * Both directions are pinned round-trip in MultimodalSpec (decode ∘ encode
  * = original pixels/samples, exact), and the stats the engine extracts
  * (channel sums, |sample| sums, peaks) are EXACT integers so downstream
  * aggregation is order-independent.
  */
object MediaImpl {

  // ---------------------------------------------------------------- PNG --

  private val PngSig = Array[Byte](0x89.toByte, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a)

  private def beInt(out: java.io.ByteArrayOutputStream, v: Int): Unit = {
    out.write((v >>> 24) & 0xff); out.write((v >>> 16) & 0xff)
    out.write((v >>> 8) & 0xff); out.write(v & 0xff)
  }

  private def chunk(out: java.io.ByteArrayOutputStream, typ: String, data: Array[Byte]): Unit = {
    beInt(out, data.length)
    val t = typ.getBytes(StandardCharsets.US_ASCII)
    out.write(t, 0, 4)
    out.write(data, 0, data.length)
    val crc = new CRC32()
    crc.update(t); crc.update(data)
    beInt(out, crc.getValue.toInt)
  }

  /** Deterministic pixel generator: RGBA of (x, y) under a seed (splitmix-
    * style mix — stable across JVMs, no RNG object).
    */
  @inline private def pixel(seed: Long, x: Int, y: Int): Int = {
    var h = seed + x.toLong * 0x9E3779B97F4A7C15L + y.toLong * 0xC2B2AE3D27D4EB4FL
    h = (h ^ (h >>> 30)) * 0xBF58476D1CE4E5B9L
    h = (h ^ (h >>> 27)) * 0x94D049BB133111EBL
    (h ^ (h >>> 31)).toInt
  }

  @inline private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Raw (unfiltered) RGBA rows for the deterministic test image. */
  def rawImage(w: Int, h: Int, seed: Long): Array[Byte] = {
    val raw = new Array[Byte](h * w * 4)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = pixel(seed, x, y)
        val o = (y * w + x) * 4
        raw(o) = (p & 0xff).toByte
        raw(o + 1) = ((p >>> 8) & 0xff).toByte
        raw(o + 2) = ((p >>> 16) & 0xff).toByte
        raw(o + 3) = ((p >>> 24) | 0x80).toByte // keep alpha high bit set
        x += 1
      }
      y += 1
    }
    raw
  }

  /** Linear-mod-256 RGBA rows (sb = seed mod 256): channels are small
    * affine functions of (x, y), so an independent engine (the DuckDB
    * oracle) can recompute the DECODED channel sums analytically — the
    * container, filter cycling, and zlib stream stay exactly as real as
    * [[rawImage]]'s; only the pixel pattern is simpler.
    */
  def rawImageLin(w: Int, h: Int, seed: Long): Array[Byte] = {
    val sb = (((seed % 256) + 256) % 256).toInt
    val raw = new Array[Byte](h * w * 4)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val o = (y * w + x) * 4
        raw(o) = ((sb + x + 2 * y) % 256).toByte
        raw(o + 1) = ((sb + 3 * x + y) % 256).toByte
        raw(o + 2) = ((sb + x + y) % 256).toByte
        raw(o + 3) = 255.toByte
        x += 1
      }
      y += 1
    }
    raw
  }

  /** Spec-correct PNG encode of the deterministic image: filters cycle
    * 0,1,2,3,4 by row; single zlib IDAT; real CRCs.
    */
  def pngEncode(w: Int, h: Int, seed: Long): Array[Byte] =
    pngEncodeRaw(w, h, rawImage(w, h, seed))

  /** [[pngEncode]] with the analytically-recomputable pixel pattern. */
  def pngEncodeLin(w: Int, h: Int, seed: Long): Array[Byte] =
    pngEncodeRaw(w, h, rawImageLin(w, h, seed))

  def pngEncodeRaw(w: Int, h: Int, raw: Array[Byte]): Array[Byte] = {
    val stride = w * 4
    val filtered = new Array[Byte](h * (1 + stride))
    var y = 0
    while (y < h) {
      val f = y % 5
      filtered(y * (1 + stride)) = f.toByte
      var x = 0
      while (x < stride) {
        val cur = raw(y * stride + x) & 0xff
        val left = if (x >= 4) raw(y * stride + x - 4) & 0xff else 0
        val up = if (y > 0) raw((y - 1) * stride + x) & 0xff else 0
        val ul = if (x >= 4 && y > 0) raw((y - 1) * stride + x - 4) & 0xff else 0
        val pred = f match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) / 2
          case _ => paeth(left, up, ul)
        }
        filtered(y * (1 + stride) + 1 + x) = ((cur - pred) & 0xff).toByte
        x += 1
      }
      y += 1
    }
    // BEST_SPEED: still a spec-correct zlib stream; the pipeline's job is
    // decodable containers, not compression ratio (3× faster synthesis)
    val deflater = new Deflater(Deflater.BEST_SPEED)
    deflater.setInput(filtered)
    deflater.finish()
    val zout = new java.io.ByteArrayOutputStream(filtered.length / 2 + 64)
    val buf = new Array[Byte](8192)
    while (!deflater.finished()) zout.write(buf, 0, deflater.deflate(buf))
    deflater.end()

    val out = new java.io.ByteArrayOutputStream(zout.size() + 64)
    out.write(PngSig, 0, 8)
    val ihdr = new java.io.ByteArrayOutputStream(13)
    beInt(ihdr, w); beInt(ihdr, h)
    ihdr.write(8); ihdr.write(6); ihdr.write(0); ihdr.write(0); ihdr.write(0) // 8-bit RGBA
    chunk(out, "IHDR", ihdr.toByteArray)
    chunk(out, "IDAT", zout.toByteArray)
    chunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Decode result: (width, height, raw RGBA) or null if not a decodable
    * 8-bit RGBA PNG.
    */
  def pngDecode(png: Array[Byte]): (Int, Int, Array[Byte]) = {
    if (png == null || png.length < 8) return null
    var i = 0
    while (i < 8) { if (png(i) != PngSig(i)) return null; i += 1 }
    var off = 8
    var w = 0; var h = 0; var bitDepth = 0; var colorType = 0
    val idat = new java.io.ByteArrayOutputStream()
    while (off + 8 <= png.length) {
      val len = ((png(off) & 0xff) << 24) | ((png(off + 1) & 0xff) << 16) |
        ((png(off + 2) & 0xff) << 8) | (png(off + 3) & 0xff)
      val typ = new String(png, off + 4, 4, StandardCharsets.US_ASCII)
      // bounds math in Long: a corrupted len near 2^31 overflows the Int
      // sum to negative, defeating the check and reading out of bounds
      if (len < 0 || off.toLong + 8L + len + 4L > png.length) return null
      typ match {
        case "IHDR" =>
          // declared length must cover the 13 IHDR fields — a truncated
          // trailing IHDR would otherwise read past the chunk (and, at
          // len < 5, past the array)
          if (len < 13) return null
          w = ((png(off + 8) & 0xff) << 24) | ((png(off + 9) & 0xff) << 16) |
            ((png(off + 10) & 0xff) << 8) | (png(off + 11) & 0xff)
          h = ((png(off + 12) & 0xff) << 24) | ((png(off + 13) & 0xff) << 16) |
            ((png(off + 14) & 0xff) << 8) | (png(off + 15) & 0xff)
          bitDepth = png(off + 16) & 0xff
          colorType = png(off + 17) & 0xff
        case "IDAT" => idat.write(png, off + 8, len)
        case _ => ()
      }
      off += 8 + len + 4
    }
    if (w <= 0 || h <= 0 || bitDepth != 8 || colorType != 6 || idat.size() == 0) return null
    // corrupted IHDR dims: h*(1+4w) in Int can overflow to a negative
    // allocation size (throw) or demand gigabytes for a kilobyte payload.
    // Per-axis cap FIRST (2^24 each keeps the product Long-safe — w=h≈2^31
    // would overflow even the Long product below), then reject anything
    // whose decoded form couldn't fit the compressed data by more than the
    // zlib max ratio (~1032:1) plus slack
    if (w > (1 << 24) || h > (1 << 24)) return null
    if (h.toLong * (1L + w.toLong * 4L) > math.max(1L << 20, idat.size().toLong * 2048L))
      return null
    val stride = w * 4
    val filtered = new Array[Byte](h * (1 + stride))
    val inflater = new Inflater()
    inflater.setInput(idat.toByteArray)
    var got = 0
    try {
      while (got < filtered.length && !inflater.finished()) {
        val n = inflater.inflate(filtered, got, filtered.length - got)
        if (n == 0 && inflater.needsInput()) return null
        got += n
      }
    } catch { case _: java.util.zip.DataFormatException => return null }
    finally inflater.end()
    if (got < filtered.length) return null

    // unfilter (RFC 2083 §6): reconstruct each scanline against the prior
    val raw = new Array[Byte](h * stride)
    var y = 0
    while (y < h) {
      val f = filtered(y * (1 + stride)) & 0xff
      var x = 0
      while (x < stride) {
        val v = filtered(y * (1 + stride) + 1 + x) & 0xff
        val left = if (x >= 4) raw(y * stride + x - 4) & 0xff else 0
        val up = if (y > 0) raw((y - 1) * stride + x) & 0xff else 0
        val ul = if (x >= 4 && y > 0) raw((y - 1) * stride + x - 4) & 0xff else 0
        val pred = f match {
          case 0 => 0
          case 1 => left
          case 2 => up
          case 3 => (left + up) / 2
          case 4 => paeth(left, up, ul)
          case _ => return null
        }
        raw(y * stride + x) = ((v + pred) & 0xff).toByte
        x += 1
      }
      y += 1
    }
    (w, h, raw)
  }

  val ThumbSide = 4

  /** Decoded-pixel feature row: [ok, width, height, sum_r, sum_g, sum_b,
    * sum_a, thumb(binary)] where thumb is a ThumbSide² RGBA average-pooled
    * image of the ACTUAL pixels. Null-free struct; ok=false rows carry
    * zeros/empty.
    */
  def pngStats(png: Array[Byte]): InternalRow = {
    val dec = pngDecode(png)
    if (dec == null)
      return InternalRow(false, 0, 0, 0L, 0L, 0L, 0L, Array.emptyByteArray)
    val (w, h, raw) = dec
    var sr = 0L; var sg = 0L; var sb = 0L; var sa = 0L
    var i = 0
    val n = w * h
    while (i < n) {
      sr += raw(i * 4) & 0xff; sg += raw(i * 4 + 1) & 0xff
      sb += raw(i * 4 + 2) & 0xff; sa += raw(i * 4 + 3) & 0xff
      i += 1
    }
    // average-pool to ThumbSide x ThumbSide RGBA
    val t = ThumbSide
    val thumb = new Array[Byte](t * t * 4)
    var ty = 0
    while (ty < t) {
      val y0 = ty * h / t; val y1 = math.max((ty + 1) * h / t, y0 + 1)
      var tx = 0
      while (tx < t) {
        val x0 = tx * w / t; val x1 = math.max((tx + 1) * w / t, x0 + 1)
        val acc = new Array[Long](4)
        var cnt = 0L
        var y = y0
        while (y < math.min(y1, h)) {
          var x = x0
          while (x < math.min(x1, w)) {
            val o = (y * w + x) * 4
            acc(0) += raw(o) & 0xff; acc(1) += raw(o + 1) & 0xff
            acc(2) += raw(o + 2) & 0xff; acc(3) += raw(o + 3) & 0xff
            cnt += 1; x += 1
          }
          y += 1
        }
        val to = (ty * t + tx) * 4
        var c = 0
        while (c < 4) { thumb(to + c) = (if (cnt == 0) 0 else (acc(c) / cnt)).toByte; c += 1 }
        tx += 1
      }
      ty += 1
    }
    InternalRow(true, w, h, sr, sg, sb, sa, thumb)
  }

  // ---------------------------------------------------------------- WAV --

  /** Deterministic 16-bit PCM samples (interleaved if channels > 1). */
  def rawSamples(nFrames: Int, channels: Int, seed: Long): Array[Short] = {
    val s = new Array[Short](nFrames * channels)
    var i = 0
    while (i < s.length) { s(i) = (pixel(seed, i, 1) >> 8).toShort; i += 1 }
    s
  }

  /** Linear-mod PCM samples (sb = seed mod 256): v_i = ((sb·97 + i·37) mod
    * 65536) − 32768, recomputable analytically by the oracle (see
    * [[rawImageLin]]).
    */
  def rawSamplesLin(nFrames: Int, channels: Int, seed: Long): Array[Short] = {
    val sb = ((seed % 256) + 256) % 256
    val s = new Array[Short](nFrames * channels)
    var i = 0
    while (i < s.length) {
      s(i) = (((sb * 97L + i * 37L) % 65536L) - 32768L).toShort
      i += 1
    }
    s
  }

  /** Canonical RIFF/WAVE PCM file with REAL sample data. */
  def wavEncode(sampleRate: Int, channels: Int, nFrames: Int, seed: Long): Array[Byte] =
    wavEncodeRaw(sampleRate, channels, rawSamples(nFrames, channels, seed))

  /** [[wavEncode]] with the analytically-recomputable sample pattern. */
  def wavEncodeLin(sampleRate: Int, channels: Int, nFrames: Int, seed: Long): Array[Byte] =
    wavEncodeRaw(sampleRate, channels, rawSamplesLin(nFrames, channels, seed))

  def wavEncodeRaw(sampleRate: Int, channels: Int, samples: Array[Short]): Array[Byte] = {
    val dataLen = samples.length * 2
    val out = new Array[Byte](44 + dataLen)
    def asc(off: Int, sIn: String): Unit = { val b = sIn.getBytes(StandardCharsets.US_ASCII); System.arraycopy(b, 0, out, off, b.length) }
    def le32(off: Int, v: Int): Unit = { out(off) = (v & 0xff).toByte; out(off + 1) = ((v >> 8) & 0xff).toByte; out(off + 2) = ((v >> 16) & 0xff).toByte; out(off + 3) = ((v >> 24) & 0xff).toByte }
    def le16(off: Int, v: Int): Unit = { out(off) = (v & 0xff).toByte; out(off + 1) = ((v >> 8) & 0xff).toByte }
    asc(0, "RIFF"); le32(4, 36 + dataLen); asc(8, "WAVE")
    asc(12, "fmt "); le32(16, 16); le16(20, 1); le16(22, channels)
    le32(24, sampleRate); le32(28, sampleRate * channels * 2); le16(32, channels * 2); le16(34, 16)
    asc(36, "data"); le32(40, dataLen)
    var i = 0
    while (i < samples.length) { le16(44 + i * 2, samples(i) & 0xffff); i += 1 }
    out
  }

  /** Decoded-sample feature row: [ok, n_samples, sum_abs, peak,
    * waveform(binary)] — waveform = 16 mean-|amplitude| bins scaled to
    * bytes, from the ACTUAL PCM samples (locates the data chunk by walking
    * RIFF chunks, LE math only).
    */
  def wavStats(wav: Array[Byte]): InternalRow = {
    def le32(off: Int): Int =
      (wav(off) & 0xff) | ((wav(off + 1) & 0xff) << 8) | ((wav(off + 2) & 0xff) << 16) | ((wav(off + 3) & 0xff) << 24)
    if (wav == null || wav.length < 44 ||
      wav(0) != 'R' || wav(1) != 'I' || wav(2) != 'F' || wav(3) != 'F' ||
      wav(8) != 'W' || wav(9) != 'A' || wav(10) != 'V' || wav(11) != 'E')
      return InternalRow(false, 0L, 0L, 0, Array.emptyByteArray)
    var off = 12
    var dataOff = -1; var dataLen = 0
    while (off + 8 <= wav.length && dataOff < 0) {
      val id = new String(wav, off, 4, StandardCharsets.US_ASCII)
      val len = le32(off + 4)
      // a negative/garbage chunk length would make the advance zero or
      // negative (len = -8 → +0, len = -9 → -1): an infinite loop on a
      // malformed container — treat as malformed, mirroring pngDecode
      if (len < 0) return InternalRow(false, 0L, 0L, 0, Array.emptyByteArray)
      if (id == "data") { dataOff = off + 8; dataLen = math.min(len, wav.length - dataOff) }
      else {
        // advance in Long: a garbage len near 2^31 overflows the Int sum to
        // a negative offset, turning the walk into an OOB read
        val next = off.toLong + 8L + len + (len & 1)
        if (next > wav.length) return InternalRow(false, 0L, 0L, 0, Array.emptyByteArray)
        off = next.toInt
      }
    }
    if (dataOff < 0 || dataLen < 2) return InternalRow(false, 0L, 0L, 0, Array.emptyByteArray)
    val n = dataLen / 2
    var sumAbs = 0L
    var peak = 0
    val bins = 16
    val binSum = new Array[Long](bins)
    val binCnt = new Array[Long](bins)
    var i = 0
    while (i < n) {
      val v = ((wav(dataOff + i * 2) & 0xff) | (wav(dataOff + i * 2 + 1) << 8)).toShort.toInt
      val a = math.abs(v)
      sumAbs += a
      if (a > peak) peak = a
      val b = i * bins / n
      binSum(b) += a; binCnt(b) += 1
      i += 1
    }
    val wf = new Array[Byte](bins)
    i = 0
    while (i < bins) { wf(i) = (if (binCnt(i) == 0) 0 else (binSum(i) / binCnt(i)) >> 7).toByte; i += 1 }
    InternalRow(true, n.toLong, sumAbs, peak, wf)
  }
}

/** (w, h, seed) → real PNG bytes. */
object PngImageExpr {
  def apply(w: Column, h: Column, seed: Column): Column =
    invoke(MediaImpl, "pngEncode", BinaryType, w.cast("int"), h.cast("int"), seed.cast("long"))
}

/** (sampleRate, channels, nFrames, seed) → real PCM WAV bytes. */
object WavAudioExpr {
  def apply(sr: Column, ch: Column, nFrames: Column, seed: Column): Column =
    invoke(MediaImpl, "wavEncode", BinaryType,
      sr.cast("int"), ch.cast("int"), nFrames.cast("int"), seed.cast("long"))
}

/** (w, h, seed) → real PNG bytes with the linear oracle-twin pixel pattern. */
object PngImageLinExpr {
  def apply(w: Column, h: Column, seed: Column): Column =
    invoke(MediaImpl, "pngEncodeLin", BinaryType, w.cast("int"), h.cast("int"), seed.cast("long"))
}

/** (sampleRate, channels, nFrames, seed) → real WAV bytes, linear samples. */
object WavAudioLinExpr {
  def apply(sr: Column, ch: Column, nFrames: Column, seed: Column): Column =
    invoke(MediaImpl, "wavEncodeLin", BinaryType,
      sr.cast("int"), ch.cast("int"), nFrames.cast("int"), seed.cast("long"))
}

/** PNG payload → decoded-pixel stats struct (inflate + unfilter + pool). */
object PngStatsExpr {
  val schema: StructType = StructType(Seq(
    StructField("ok", BooleanType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("sum_r", LongType, nullable = false),
    StructField("sum_g", LongType, nullable = false),
    StructField("sum_b", LongType, nullable = false),
    StructField("sum_a", LongType, nullable = false),
    StructField("thumb", BinaryType, nullable = false)))
  def apply(payload: Column): Column = invoke(MediaImpl, "pngStats", schema, payload)
}

/** WAV payload → decoded-sample stats struct (RIFF walk + LE PCM math). */
object WavStatsExpr {
  val schema: StructType = StructType(Seq(
    StructField("ok", BooleanType, nullable = false),
    StructField("n_samples", LongType, nullable = false),
    StructField("sum_abs", LongType, nullable = false),
    StructField("peak", IntegerType, nullable = false),
    StructField("waveform", BinaryType, nullable = false)))
  def apply(payload: Column): Column = invoke(MediaImpl, "wavStats", schema, payload)
}
