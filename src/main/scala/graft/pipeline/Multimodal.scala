package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column processing: opaque binary payloads with typed metadata,
  * decoded by REAL self-contained codecs inside a batched per-partition pass.
  *
  * Three formats, all fully parsed (headers, strides, chunk walks — no
  * byte-length shortcuts):
  *   - image: 24-bit uncompressed BMP (BITMAPINFOHEADER, bottom-up or
  *     top-down, 4-byte row stride, BGR storage) — [[Codecs.decodeBmp]];
  *   - audio: PCM-16 WAV (RIFF chunk walk tolerating extra chunks,
  *     mono/stereo) — [[Codecs.decodeWav]];
  *   - video: a raw-frame container (`GVF1` magic + dims + frame count,
  *     then dense W*H*3 frames) — [[Codecs.decodeGvidHeader]].
  *
  * The driver corpus has no binary column, so [[mediaTable]] *encodes* real
  * payloads deterministically from the document text bytes; the decode path
  * then recovers geometry and pixel/sample checksums by actually parsing
  * them. Because the synthetic fill is cyclic over the text bytes, the
  * DuckDB oracle predicts every decoded value with pure byte arithmetic
  * (valid for the all-ASCII fixture corpus), while MultimodalSpec proves
  * the decoders are format-real by round-tripping payloads produced by
  * *independent* encoders (`javax.imageio` BMP, `javax.sound.sampled` WAV).
  *
  * Scale shape: one decode pass per partition (the shape a
  * Pandas-UDF/mapInPandas pipeline has in PySpark — here a typed
  * mapPartitions), no driver involvement, linear scale-out.
  */
object Multimodal {

  final case class MediaRow(doc_id: Long, kind: String, payload: Array[Byte],
                            source: String, lang: String)
  final case class FeatureRow(doc_id: Long, kind: String, n_bytes: Long,
                              width: Long, height: Long, channels: Long,
                              resized_width: Long, resized_height: Long,
                              checksum: Long, resized_checksum: Long)
  final case class FrameRow(doc_id: Long, frame_idx: Long, offset_bytes: Long,
                            frame_checksum: Long)

  /** Deterministic synthetic-media geometry derived from the text byte
    * length — shared, as arithmetic, with the DuckDB oracle. */
  object Synth {
    def imageDims(n: Int): (Int, Int) = {
      val w = 8 + n % 24
      (w, math.max(1, math.min(40, n / (3 * w))))
    }
    def videoDims(n: Int): (Int, Int, Int) =
      (8 + n % 16, 8 + (n * 3) % 16, 1 + n % 5)
    /** Payload content byte j of the synthetic fill = text byte (j mod n). */
    def fill(bytes: Array[Byte])(j: Long): Byte =
      bytes((j % bytes.length).toInt)
  }

  /** Real encoders/decoders for the three self-contained formats. Scaladoc
    * refs: the reference engine treats media blobs as opaque block payloads
    * (it has no codec layer), so this component is specified by the builder
    * brief, not the reference. */
  object Codecs {
    final case class Image(width: Int, height: Int, channels: Int,
                           pixels: Array[Byte]) // row-major top-down RGB
    final case class Audio(sampleRate: Int, channels: Int,
                           samples: Array[Short])
    final case class Video(width: Int, height: Int, frameCount: Int)

    val GvidHeaderLen = 16

    private def u16(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
    private def i32(b: Array[Byte], o: Int): Int =
      (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
        ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
    private def putU16(b: Array[Byte], o: Int, v: Int): Unit = {
      b(o) = v.toByte; b(o + 1) = (v >> 8).toByte
    }
    private def putI32(b: Array[Byte], o: Int, v: Int): Unit = {
      b(o) = v.toByte; b(o + 1) = (v >> 8).toByte
      b(o + 2) = (v >> 16).toByte; b(o + 3) = (v >> 24).toByte
    }

    /** 24-bit uncompressed BMP from row-major top-down RGB. `topDown`
      * emits the negative-height variant (pixel rows stored first-row
      * first) — both forms must decode identically. */
    def encodeBmp24(width: Int, height: Int, rgb: Array[Byte],
                    topDown: Boolean = false): Array[Byte] = {
      require(rgb.length == width * height * 3, "rgb length != w*h*3")
      val stride = ((3 * width + 3) / 4) * 4
      val out = new Array[Byte](54 + stride * height)
      out(0) = 'B'; out(1) = 'M'
      putI32(out, 2, out.length)
      putI32(out, 10, 54) // pixel-array offset
      putI32(out, 14, 40) // BITMAPINFOHEADER
      putI32(out, 18, width)
      putI32(out, 22, if (topDown) -height else height)
      putU16(out, 26, 1) // planes
      putU16(out, 28, 24) // bpp
      putI32(out, 34, stride * height)
      var y = 0
      while (y < height) {
        val dstRow = if (topDown) y else height - 1 - y
        var x = 0
        while (x < width) {
          val s = (y * width + x) * 3
          val d = 54 + dstRow * stride + x * 3
          out(d) = rgb(s + 2); out(d + 1) = rgb(s + 1); out(d + 2) = rgb(s)
          x += 1
        }
        y += 1
      }
      out
    }

    /** Parse a 24-bit uncompressed BMP: honors the declared pixel-array
      * offset, BITMAPINFOHEADER-or-later header sizes, bottom-up and
      * top-down row order, and 4-byte row stride; returns row-major
      * top-down RGB (BMP stores BGR). */
    def decodeBmp(b: Array[Byte]): Image = {
      require(b.length >= 54 && b(0) == 'B' && b(1) == 'M', "not a BMP")
      val off = i32(b, 10)
      require(i32(b, 14) >= 40, s"unsupported BMP header size ${i32(b, 14)}")
      val width = i32(b, 18)
      val rawH = i32(b, 22)
      val topDown = rawH < 0
      val height = math.abs(rawH)
      require(width > 0 && height > 0 && rawH != Int.MinValue,
        "unsupported BMP geometry")
      require(off >= 54 && off <= b.length, "unsupported BMP pixel offset")
      require(u16(b, 26) == 1, "BMP planes must be 1")
      require(u16(b, 28) == 24, s"only 24-bit BMP supported, got ${u16(b, 28)}")
      require(i32(b, 30) == 0, "compressed BMP not supported")
      // LONG geometry arithmetic: a hostile width/height must not
      // int-overflow the size check into passing (and then reach the
      // raster allocation with garbage) — after this require,
      // stride*height <= payload length, so every later product fits int
      // and the raster is never bigger than the payload
      val strideL = ((3L * width + 3) / 4) * 4
      require(b.length >= off + strideL * height, "truncated BMP pixel array")
      val stride = strideL.toInt
      val rgb = new Array[Byte](width * height * 3)
      var y = 0
      while (y < height) {
        val srcRow = if (topDown) y else height - 1 - y
        var x = 0
        while (x < width) {
          val s = off + srcRow * stride + x * 3
          val d = (y * width + x) * 3
          rgb(d) = b(s + 2); rgb(d + 1) = b(s + 1); rgb(d + 2) = b(s)
          x += 1
        }
        y += 1
      }
      Image(width, height, 3, rgb)
    }

    /** PCM-16 mono WAV (RIFF/fmt/data). */
    def encodeWavPcm16Mono(sampleRate: Int, samples: Array[Short]): Array[Byte] = {
      val dataLen = samples.length * 2
      val out = new Array[Byte](44 + dataLen)
      out(0) = 'R'; out(1) = 'I'; out(2) = 'F'; out(3) = 'F'
      putI32(out, 4, 36 + dataLen)
      out(8) = 'W'; out(9) = 'A'; out(10) = 'V'; out(11) = 'E'
      out(12) = 'f'; out(13) = 'm'; out(14) = 't'; out(15) = ' '
      putI32(out, 16, 16)
      putU16(out, 20, 1) // PCM
      putU16(out, 22, 1) // mono
      putI32(out, 24, sampleRate)
      putI32(out, 28, sampleRate * 2) // byte rate
      putU16(out, 32, 2) // block align
      putU16(out, 34, 16) // bits
      out(36) = 'd'; out(37) = 'a'; out(38) = 't'; out(39) = 'a'
      putI32(out, 40, dataLen)
      var i = 0
      while (i < samples.length) {
        putU16(out, 44 + 2 * i, samples(i) & 0xffff); i += 1
      }
      out
    }

    /** Parse a PCM-16 WAV by walking RIFF chunks (word-aligned, unknown
      * chunks skipped — real files carry LIST/fact chunks before data). */
    def decodeWav(b: Array[Byte]): Audio = {
      require(b.length >= 12 && b(0) == 'R' && b(1) == 'I' && b(2) == 'F' &&
        b(3) == 'F' && b(8) == 'W' && b(9) == 'A' && b(10) == 'V' &&
        b(11) == 'E', "not a RIFF/WAVE file")
      var pos = 12
      var channels = 0
      var rate = 0
      var haveFmt = false
      var samples: Array[Short] = null
      while (pos + 8 <= b.length && (samples == null || !haveFmt)) {
        val id = new String(b, pos, 4, "US-ASCII")
        val len = i32(b, pos + 4)
        // LONG bounds arithmetic: a hostile declared length near 2^31
        // must not int-overflow `pos + 8 + len` into passing (and then
        // reach a garbage-sized sample allocation)
        require(len >= 0 && pos + 8L + len <= b.length, s"truncated $id chunk")
        id match {
          case "fmt " =>
            require(u16(b, pos + 8) == 1, "only PCM WAV supported")
            channels = u16(b, pos + 10)
            require(channels >= 1, "WAV channels must be >= 1")
            rate = i32(b, pos + 12)
            require(u16(b, pos + 22) == 16, "only 16-bit WAV supported")
            haveFmt = true
          case "data" =>
            val ns = len / 2
            samples = new Array[Short](ns)
            var i = 0
            while (i < ns) { samples(i) = u16(b, pos + 8 + 2 * i).toShort; i += 1 }
          case _ => () // skip LIST/fact/etc.
        }
        pos += 8 + len + (len & 1)
      }
      require(haveFmt && samples != null, "missing fmt/data chunk")
      Audio(rate, channels, samples)
    }

    /** Raw-frame video container: magic `GVF1`, u32-LE width/height/frame
      * count (16-byte header), then dense W*H*3-byte frames. */
    def encodeGvid(width: Int, height: Int, frames: Int,
                   fill: Long => Byte): Array[Byte] = {
      val total = width * height * 3 * frames
      val out = new Array[Byte](GvidHeaderLen + total)
      out(0) = 'G'; out(1) = 'V'; out(2) = 'F'; out(3) = '1'
      putI32(out, 4, width); putI32(out, 8, height); putI32(out, 12, frames)
      var g = 0
      while (g < total) { out(GvidHeaderLen + g) = fill(g.toLong); g += 1 }
      out
    }

    def decodeGvidHeader(b: Array[Byte]): Video = {
      require(b.length >= GvidHeaderLen && b(0) == 'G' && b(1) == 'V' &&
        b(2) == 'F' && b(3) == '1', "not a GVF1 container")
      val v = Video(i32(b, 4), i32(b, 8), i32(b, 12))
      require(v.width >= 0 && v.height >= 0 && v.frameCount >= 0,
        "negative GVF1 geometry")
      require(b.length == GvidHeaderLen +
          v.width.toLong * v.height * 3 * v.frameCount,
        "truncated GVF1 payload")
      v
    }
  }

  /** Encode a REAL media payload per document from its text bytes (the
    * driver corpus has no binary column): doc_id mod 3 picks BMP image /
    * WAV audio / GVF1 video. Deterministic, so the decode side is fully
    * oracle-predictable. */
  def mediaTable(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text"), col("source"), col("lang"))
      .as[(Long, String, String, String)]
      .mapPartitions { it =>
        it.map { case (id, text, source, lang) =>
          // null text (damaged crawl row) synthesizes the same payload as
          // empty text — the decode side stays total
          val raw = (if (text == null) "" else text).getBytes("UTF-8")
          val bytes = if (raw.isEmpty) Array[Byte](0) else raw
          val n = bytes.length
          val kind = (id % 3) match {
            case 0 => "image"
            case 1 => "audio"
            case _ => "video"
          }
          val payload = kind match {
            case "image" =>
              val (w, h) = Synth.imageDims(n)
              val rgb = new Array[Byte](w * h * 3)
              var j = 0
              while (j < rgb.length) { rgb(j) = Synth.fill(bytes)(j.toLong); j += 1 }
              Codecs.encodeBmp24(w, h, rgb)
            case "audio" =>
              // one unsigned-byte sample per text byte, stored as int16 LE
              Codecs.encodeWavPcm16Mono(8000, bytes.map(b => (b & 0xff).toShort))
            case _ =>
              val (w, h, f) = Synth.videoDims(n)
              Codecs.encodeGvid(w, h, f, Synth.fill(bytes))
          }
          MediaRow(id, kind, payload, source, lang)
        }
      }.toDF()
  }

  /** Fit-within-`box` resize dims, integer math (exact in any engine):
    * scale the longer edge to `box`, preserve aspect, floor, at least 1.
    * Total on degenerate input: a 0x0 raster (zero-frame/zero-sample
    * media) resizes to 1x1 instead of dividing by zero. */
  def resizeDims(w: Long, h: Long, box: Long = 256L): (Long, Long) = {
    val longest = math.max(1L, math.max(w, h))
    (math.max(1L, w * box / longest), math.max(1L, h * box / longest))
  }

  /** Nearest-neighbor RGB resample with floor index mapping
    * (`sx = x * srcW / dstW`) — pure integer arithmetic, deterministic. */
  def resampleNearest(rgb: Array[Byte], w: Int, h: Int,
                      rw: Int, rh: Int): Array[Byte] = {
    val out = new Array[Byte](rw * rh * 3)
    var y = 0
    while (y < rh) {
      val sy = (y.toLong * h / rh).toInt
      var x = 0
      while (x < rw) {
        val sx = (x.toLong * w / rw).toInt
        val s = (sy * w + sx) * 3
        val d = (y * rw + x) * 3
        out(d) = rgb(s); out(d + 1) = rgb(s + 1); out(d + 2) = rgb(s + 2)
        x += 1
      }
      y += 1
    }
    out
  }

  private def sumBytes(b: Array[Byte], from: Int, until: Int): Long = {
    var s = 0L
    var i = from
    while (i < until) { s += b(i) & 0xff; i += 1 }
    s
  }

  /** Batched feature extraction through the REAL decoders: parse each
    * payload, recover geometry + a checksum over the decoded content
    * (pixel bytes / sample values — NOT raw payload bytes, so a header,
    * stride, or channel-order parsing bug changes the value), and resample
    * images to the fit-within box with real nearest-neighbor pixels.
    * `resized_checksum` covers the resampled raster (images only; 0 for
    * audio/video, whose resize story lives with the frame sampler). */
  def extractFeatures(spark: SparkSession, media: DataFrame): Dataset[FeatureRow] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { it =>
      it.map { m =>
        m.kind match {
          case "image" =>
            val img = Codecs.decodeBmp(m.payload)
            val (rw, rh) = resizeDims(img.width.toLong, img.height.toLong)
            val resized = resampleNearest(img.pixels, img.width, img.height,
              rw.toInt, rh.toInt)
            FeatureRow(m.doc_id, m.kind, m.payload.length.toLong,
              img.width.toLong, img.height.toLong, 3L, rw, rh,
              sumBytes(img.pixels, 0, img.pixels.length),
              sumBytes(resized, 0, resized.length))
          case "audio" =>
            val a = Codecs.decodeWav(m.payload)
            val frames = a.samples.length.toLong / a.channels
            val (rw, rh) = resizeDims(frames, 1L)
            var s = 0L
            var i = 0
            while (i < a.samples.length) { s += a.samples(i).toLong; i += 1 }
            FeatureRow(m.doc_id, m.kind, m.payload.length.toLong,
              frames, 1L, a.channels.toLong, rw, rh, s, 0L)
          case _ =>
            val v = Codecs.decodeGvidHeader(m.payload)
            val (rw, rh) = resizeDims(v.width.toLong, v.height.toLong)
            FeatureRow(m.doc_id, m.kind, m.payload.length.toLong,
              v.width.toLong, v.height.toLong, 3L, rw, rh,
              sumBytes(m.payload, Codecs.GvidHeaderLen, m.payload.length), 0L)
        }
      }
    }
  }

  final case class PHashRow(doc_id: Long, kind: String, phash: Long)

  /** Grayscale proxy of pixel `pix` (row-major index) in an RGB byte
    * array starting at `base`: the channel sum (0..765) — monotone in
    * luminance for the comparisons dHash makes, with no division to
    * disagree about across engines. */
  private def graySum(b: Array[Byte], base: Int, pix: Int): Int = {
    val o = base + pix * 3
    (b(o) & 0xff) + (b(o + 1) & 0xff) + (b(o + 2) & 0xff)
  }

  /** 64-bit perceptual difference hash (dHash) of an RGB raster: sample
    * a 9x8 grid with the same floor-index nearest-neighbor mapping as
    * [[resampleNearest]] (sx = x*w/9, sy = y*h/8), and set bit `y*8+x`
    * iff the sampled gray value brightens left-to-right
    * (g(x+1,y) > g(x,y)). Row-difference signs survive uniform
    * brightness shifts and re-encoding — the property that makes dHash
    * a near-dup signal rather than a checksum. Pure integer
    * arithmetic, so the oracle re-derives every bit from the synthetic
    * fill; MultimodalSpec pins invariance under the BMP top-down /
    * bottom-up storage variants (same raster, same hash). */
  def dHash(rgb: Array[Byte], base: Int, w: Int, h: Int): Long = {
    var hash = 0L
    var y = 0
    while (y < 8) {
      val sy = (y.toLong * h / 8).toInt
      var x = 0
      while (x < 8) {
        val ga = graySum(rgb, base, sy * w + (x.toLong * w / 9).toInt)
        val gb = graySum(rgb, base, sy * w + ((x + 1).toLong * w / 9).toInt)
        if (gb > ga) hash |= 1L << (y * 8 + x)
        x += 1
      }
      y += 1
    }
    hash
  }

  /** 64-bit waveform delta hash for PCM audio: nearest-neighbor
    * downsample to 65 points (sample index i*n/65, floor) and set bit i
    * iff the waveform rises between consecutive points — the audio
    * analogue of [[dHash]]'s gradient-sign signature. A zero-sample
    * input (a well-formed WAV with an empty `data` chunk — decodeWav
    * accepts it) hashes to 0L: the function stays total, matching the
    * flat-waveform hash, instead of indexing past an empty array. */
  def waveformHash(samples: Array[Short]): Long = {
    val n = samples.length
    if (n == 0) return 0L
    var hash = 0L
    var i = 0
    while (i < 64) {
      val a = samples((i.toLong * n / 65).toInt)
      val b = samples(((i + 1).toLong * n / 65).toInt)
      if (b > a) hash |= 1L << i
      i += 1
    }
    hash
  }

  /** Perceptual hash per media payload, through the REAL decoders:
    * images dHash their parsed BMP raster, audio delta-hashes its
    * parsed PCM samples, video dHashes its FIRST decoded frame (the
    * thumbnail convention). One decode+hash pass per partition; feeds
    * `Dedup.bandedHammingPairs` for banded near-dup pairing. */
  def perceptualHashes(spark: SparkSession, media: DataFrame): Dataset[PHashRow] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { it =>
      it.map(m => PHashRow(m.doc_id, m.kind, phashOf(m.kind, m.payload)))
    }
  }

  /** The perceptual hash of ONE payload through the real decoders — the
    * per-row body of [[perceptualHashes]], exposed so admission paths can
    * fuse decode-check and hash into a single decode ([[checkedPHash]]). */
  def phashOf(kind: String, payload: Array[Byte]): Long = kind match {
    case "image" =>
      val img = Codecs.decodeBmp(payload)
      dHash(img.pixels, 0, img.width, img.height)
    case "audio" =>
      waveformHash(Codecs.decodeWav(payload).samples)
    case _ =>
      val v = Codecs.decodeGvidHeader(payload)
      // a zero-frame container is well-formed (header only, exact
      // length) but has no first frame to dHash — hash 0L, the same
      // total-function convention as the empty-data WAV
      if (v.frameCount < 1) 0L
      else dHash(payload, Codecs.GvidHeaderLen, v.width, v.height)
  }

  final case class MediaVerdict(doc_id: Long, kind: String,
                                payload: Array[Byte], source: String,
                                lang: String, quarantined: Boolean,
                                reason: String)

  /** Coarse, engine-stable class of a decode failure. The decoders' own
    * messages are implementation detail (free to evolve); the CLASS is
    * the contract the quarantine oracle hashes: a wrong/absent magic or
    * a header shorter than the magic check reads is `bad_magic`; a
    * well-headed payload whose declared geometry exceeds the actual
    * bytes (or whose mandatory chunks are missing) is `truncated`;
    * anything else (valid container, unsupported variant — compressed
    * BMP, non-PCM WAV) is `unsupported`. */
  private def reasonClass(msg: String): String = {
    val m = if (msg == null) "" else msg
    if (m.contains("not a ")) "bad_magic"
    else if (m.contains("truncated") || m.contains("missing fmt/data"))
      "truncated"
    else "unsupported"
  }

  /** Total decode check: attempt the REAL decode for `kind` (the same
    * parsers [[extractFeatures]]/[[perceptualHashes]] run) and return
    * `None` on success or `Some(reasonClass)` on failure. A crawl-scale
    * media pipeline meets truncated and corrupt files constantly; this
    * converts "executor exception three operators downstream" into a
    * per-row verdict at admission. Defensive catches (index/size errors)
    * classify as `truncated` — a malformed length field that slips a
    * `require` still must not kill the task. */
  def decodeVerdict(kind: String, payload: Array[Byte]): Option[String] =
    try {
      if (payload == null) return Some("bad_magic")
      kind match {
        case "image" => Codecs.decodeBmp(payload)
        case "audio" => Codecs.decodeWav(payload)
        case _       => Codecs.decodeGvidHeader(payload)
      }
      None
    } catch {
      case e: Throwable => classifyDecodeFailure(e) match {
        case some @ Some(_) => some
        case None           => throw e
      }
    }

  /** The decode-failure classifier shared by [[decodeVerdict]] and
    * [[checkedPHash]] — ONE function, so the batch quarantine gate and the
    * streaming admission path have a provably identical accept/reject
    * boundary. `None` means the throwable is NOT a malformed-payload
    * class and must propagate (a real bug should still kill the task). */
  private def classifyDecodeFailure(e: Throwable): Option[String] = e match {
    case e: IllegalArgumentException => Some(reasonClass(e.getMessage))
    case _: ArrayIndexOutOfBoundsException => Some("truncated")
    case _: IndexOutOfBoundsException => Some("truncated")
    // a length field that int-overflows the geometry product can slip
    // the length require and reach the raster allocation negative —
    // still a malformed payload, not a task death. (An honestly-huge
    // positive geometry cannot over-allocate: every decoder checks the
    // declared geometry against the actual byte count BEFORE
    // allocating, so the raster is never bigger than the payload.)
    case _: NegativeArraySizeException => Some("truncated")
    case _ => None
  }

  /** [[decodeVerdict]] fused with the perceptual hash: `Left(reasonClass)`
    * for a payload the real decoders reject, `Right(phash)` otherwise —
    * ONE decode per row (decodeVerdict-then-perceptualHashes would decode
    * twice). Streaming media admission (`streaming.StreamingMediaDedup`)
    * runs it once per row of each micro-batch: a corrupt payload
    * mid-stream becomes a per-row quarantine verdict instead of an
    * executor exception that kills the whole query, with the
    * [[quarantineSplit]] boundary ([[classifyDecodeFailure]]). */
  def checkedPHash(kind: String, payload: Array[Byte]): Either[String, Long] =
    try {
      if (payload == null) Left("bad_magic")
      else Right(phashOf(kind, payload))
    } catch {
      case e: Throwable => classifyDecodeFailure(e) match {
        case Some(r) => Left(r)
        case None    => throw e
      }
    }

  /** Media twin of `sources.Quarantine.split`: every row of `media` is
    * kept and annotated with its decode verdict (`quarantined`,
    * `reason`; accepted rows carry reason `ok`). One narrow
    * mapPartitions pass — no caching, no second read, and the payload
    * column rides through so the accepted side feeds
    * [[extractFeatures]]/[[perceptualHashes]] directly while the
    * quarantined side keeps the offending bytes VERBATIM for
    * re-crawl/repair. No row is ever dropped. */
  def quarantineSplit(spark: SparkSession, media: DataFrame): Dataset[MediaVerdict] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { it =>
      it.map { m =>
        val v = decodeVerdict(m.kind, m.payload)
        MediaVerdict(m.doc_id, m.kind, m.payload, m.source, m.lang,
          v.isDefined, v.getOrElse("ok"))
      }
    }
  }

  /** The decodable side of [[quarantineSplit]], shaped like the input. */
  def goodMedia(spark: SparkSession, media: DataFrame): DataFrame =
    quarantineSplit(spark, media).toDF()
      .where(!col("quarantined"))
      .select("doc_id", "kind", "payload", "source", "lang")

  /** Deterministic corruption families over a media table, for the
    * quarantine gate: `doc_id % 4` picks intact (0) / magic overwritten
    * with 'X' (1) / last byte dropped (2) / truncated to the first 8
    * bytes (3). Arithmetic-predictable on the synthetic corpus, so the
    * DuckDB oracle derives the expected verdict AND reason class per
    * row while the Spark side must earn them from the real decoders. */
  def corruptMedia(spark: SparkSession, media: DataFrame): DataFrame = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions { it =>
      it.map { m =>
        val p = (m.doc_id % 4) match {
          case 0 => m.payload
          case 1 =>
            val c = m.payload.clone(); c(0) = 'X'.toByte; c
          case 2 => java.util.Arrays.copyOf(m.payload, m.payload.length - 1)
          case _ => java.util.Arrays.copyOf(m.payload, 8)
        }
        m.copy(payload = p)
      }
    }.toDF()
  }

  /** Frame sampling for video payloads: parse the GVF1 header, emit one row
    * per frame with its parsed byte offset and decoded-frame checksum — the
    * 1->N expansion shape a real frame sampler has, as a flatMap per
    * partition. */
  def sampleFrames(spark: SparkSession, media: DataFrame): Dataset[FrameRow] = {
    import spark.implicits._
    media.as[MediaRow].filter(_.kind == "video").mapPartitions { it =>
      it.flatMap { m =>
        val v = Codecs.decodeGvidHeader(m.payload)
        val fb = v.width * v.height * 3
        (0 until v.frameCount).iterator.map { f =>
          val off = Codecs.GvidHeaderLen + f * fb
          FrameRow(m.doc_id, f.toLong, off.toLong,
            sumBytes(m.payload, off, off + fb))
        }
      }
    }
  }
}
