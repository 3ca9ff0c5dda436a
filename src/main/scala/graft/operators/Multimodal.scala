package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns plus typed metadata, with decode / feature-extract /
  * resize / frame-sample stages.
  *
  * The Spark side is real — schema, partition-preserving batched
  * `mapPartitions` (the Scala analog of `mapInPandas` batches), typed
  * rows, deterministic output. The codec itself is STUBBED (this
  * container has no image/audio libraries): `StubCodec.decode` derives
  * metadata deterministically from the bytes, and is the single point
  * to swap for a real JNI/javax.imageio decoder.
  *
  * Scale notes: binary payloads stay in the executor partition they
  * were read in (no shuffle in decode/resize/feature stages — pure
  * mapPartitions); only the small feature output ever moves.
  */
object Multimodal {

  final case class MediaRow(doc_id: Long, media_type: String, media: Array[Byte])
  final case class MediaFeatures(doc_id: Long, media_type: String,
      n_bytes: Int, width: Int, height: Int, n_frames: Int,
      channels: Int, sig: Long)

  /** STUB decoder — deterministic fake standing in for the real codec.
    * Swap this object to integrate javax.imageio / ffmpeg / JNI.
    */
  object StubCodec {
    def decode(m: MediaRow): MediaFeatures = {
      val n = m.media.length
      // ??? real decode goes here — deterministic fake below
      val h64 = m.media.foldLeft(1125899906842597L)((a, b) => 31 * a + b)
      MediaFeatures(
        doc_id = m.doc_id,
        media_type = m.media_type,
        n_bytes = n,
        width = 64 + (n % 1024),
        height = 64 + ((n * 7) % 768),
        n_frames = if (m.media_type == "video") n / 1000 + 1 else 1,
        channels = 3,
        sig = h64)
    }

    /** resize stub: returns the byte budget a real resizer would hit */
    def resizedBytes(f: MediaFeatures, maxSide: Int): Int = {
      val scale = math.min(1.0, maxSide.toDouble / math.max(f.width, f.height))
      (f.n_bytes * scale * scale).toInt
    }
  }

  /** Real image decode behind a classpath probe — the integration seam
    * the stub documents. javax.imageio ships with the JDK, so IMAGE
    * rows whose bytes actually decode (PNG/JPEG/BMP/GIF) get real
    * width/height/channels; everything else — audio/video (no codecs
    * in this container) and non-decodable payloads (the m01/m02 gates
    * feed UTF-8 text as the opaque binary) — falls through to the
    * deterministic stub, byte-identically to a stub-only build. The
    * probe guards against stripped JREs; swapping in an ffmpeg/JNI
    * codec means adding another `tryDecode` before the fallback.
    */
  object ImageIoCodec {
    private lazy val available: Boolean =
      try {
        Class.forName("javax.imageio.ImageIO")
        // decode from memory: the JDK default spills every payload to
        // a FileCacheImageInputStream temp file — per-row disk I/O on
        // the executor hot path (and a hard failure in containers with
        // an unwritable tmpdir)
        javax.imageio.ImageIO.setUseCache(false)
        true
      }
      catch { case _: Throwable => false }

    private[operators] def tryDecode(m: MediaRow): Option[MediaFeatures] =
      if (!available || m.media_type != "image") None
      else
        try Option(javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(m.media))).map { img =>
          val stub = StubCodec.decode(m) // sig/n_bytes stay codec-independent
          stub.copy(
            width = img.getWidth,
            height = img.getHeight,
            n_frames = 1,
            channels = img.getColorModel.getNumComponents)
        }
        catch { case _: Exception => None }

    def decode(m: MediaRow): MediaFeatures =
      tryDecode(m).orElse(AudioCodec.tryDecode(m))
        .orElse(VideoCodec.tryDecode(m))
        .getOrElse(StubCodec.decode(m))
  }

  /** Real audio METADATA decode behind the same classpath-probe seam:
    * javax.sound.sampled ships with the JDK (like ImageIO), so AUDIO
    * rows whose bytes parse as WAV/AU/AIFF headers get their real frame
    * count, channel count, sample rate, and sample width — header
    * reads only, the PCM payload is never inflated. The fixed
    * MediaFeatures schema carries the audio-specific fields in the
    * geometry slots: `width` = sample rate (Hz), `height` = bits per
    * sample. Non-parseable payloads (the m01/m02 gates feed UTF-8 text)
    * fall through to the deterministic stub byte-identically; a real
    * compressed-codec integration (mp3/ogg) adds another `tryDecode`
    * before the fallback.
    */
  object AudioCodec {
    private lazy val available: Boolean =
      try { Class.forName("javax.sound.sampled.AudioSystem"); true }
      catch { case _: Throwable => false }

    /** SPI first (AudioSystem consults every installed provider, so a
      * classpath MP3/OGG SPI lights up compressed formats with no code
      * change here), then the dependency-free compressed-header parse,
      * then the stub.
      */
    private[operators] def tryDecode(m: MediaRow): Option[MediaFeatures] =
      trySpi(m).orElse(CompressedAudio.tryDecode(m))

    private def trySpi(m: MediaRow): Option[MediaFeatures] =
      if (!available || m.media_type != "audio") None
      else
        try {
          val aff = javax.sound.sampled.AudioSystem.getAudioFileFormat(
            new java.io.ByteArrayInputStream(m.media))
          val fmt = aff.getFormat
          val ns = javax.sound.sampled.AudioSystem.NOT_SPECIFIED
          val stub = StubCodec.decode(m) // sig/n_bytes codec-independent
          Some(stub.copy(
            width =
              if (fmt.getSampleRate > 0) fmt.getSampleRate.toInt
              else stub.width,
            height =
              if (fmt.getSampleSizeInBits != ns) fmt.getSampleSizeInBits
              else stub.height,
            n_frames =
              if (aff.getFrameLength != ns) aff.getFrameLength
              else stub.n_frames,
            channels =
              if (fmt.getChannels != ns) fmt.getChannels
              else stub.channels))
        }
        catch { case _: Exception => None }

    def decode(m: MediaRow): MediaFeatures =
      tryDecode(m).getOrElse(StubCodec.decode(m))
  }

  /** Real COMPRESSED-audio header metadata with zero dependencies —
    * the same move as the video container walkers: the JDK ships no
    * MP3/OGG codec, but the stream headers are public byte layouts
    * (ISO 11172-3 / 13818-3 MPEG audio frame headers; RFC 3533 OGG
    * pages with Vorbis-I / RFC 7845 OpusHead id headers). Header reads
    * only — the coded payload is never inflated.
    *
    * MediaFeatures mapping mirrors the PCM path: `width` = sample rate
    * (Hz), `channels` = channel count, `n_frames` = MPEG frames (MP3 —
    * what an SPI's getFrameLength reports) or PCM samples from the
    * final page's granule position (OGG). `height` (bits per sample)
    * is undefined for compressed streams and keeps the stub value,
    * exactly like an SPI returning NOT_SPECIFIED.
    *
    * Determinism guard: an MP3 claim is accepted only when the ENTIRE
    * payload walks as chained valid frames (plus optional ID3v1/v2
    * tags) — arbitrary binary that happens to start with sync bits
    * falls to the stub instead of yielding garbage metadata.
    */
  object CompressedAudio {
    private def le32(b: Array[Byte], o: Int): Long =
      ((b(o + 3) & 0xffL) << 24) | ((b(o + 2) & 0xffL) << 16) |
        ((b(o + 1) & 0xffL) << 8) | (b(o) & 0xffL)
    private def le64(b: Array[Byte], o: Int): Long =
      le32(b, o) | (le32(b, o + 4) << 32)
    private def ascii(b: Array[Byte], o: Int, s: String): Boolean =
      o + s.length <= b.length &&
        s.indices.forall(i => (b(o + i) & 0xff) == s.charAt(i))

    // MPEG sample-rate tables by version (V1 / V2 / V2.5), Layer III
    // bitrate tables (kbps; index 0 = free format, 15 = invalid)
    private val srV1 = Array(44100, 48000, 32000)
    private val srV2 = Array(22050, 24000, 16000)
    private val srV25 = Array(11025, 12000, 8000)
    private val brV1L3 =
      Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
    private val brV2L3 =
      Array(0, 8, 16, 24, 32, 40, 48, 56, 64, 80, 96, 112, 128, 144, 160)

    private def id3v2Skip(b: Array[Byte]): Int =
      if (ascii(b, 0, "ID3") && b.length >= 10) {
        // syncsafe 28-bit tag size, exclusive of the 10-byte header
        val sz = ((b(6) & 0x7f) << 21) | ((b(7) & 0x7f) << 14) |
          ((b(8) & 0x7f) << 7) | (b(9) & 0x7f)
        10 + sz
      } else 0

    /** (sampleRate, channels, mpegFrames) if the whole payload is a
      * Layer-III MPEG stream */
    private[operators] def tryMp3(b: Array[Byte]): Option[(Int, Int, Int)] = {
      var o = id3v2Skip(b)
      var frames = 0; var rate = 0; var chans = 0
      var ok = o + 4 <= b.length
      while (ok && o + 4 <= b.length) {
        val h1 = b(o) & 0xff; val h2 = b(o + 1) & 0xff
        val h3 = b(o + 2) & 0xff; val h4 = b(o + 3) & 0xff
        // AAAAAAAA AAABBCCD EEEEFFGH IIxxxxxx: sync(11) ver(2) layer(2)
        // _ bitrate(4) samplerate(2) padding(1) _ channelmode(2)
        if (h1 != 0xff || (h2 & 0xe0) != 0xe0) ok = false
        else {
          val ver = (h2 >> 3) & 3 // 3=MPEG1 2=MPEG2 0=MPEG2.5 1=reserved
          val layer = (h2 >> 1) & 3 // 1 = Layer III
          val brIdx = (h3 >> 4) & 0xf
          val srIdx = (h3 >> 2) & 3
          val pad = (h3 >> 1) & 1
          val mode = (h4 >> 6) & 3 // 3 = mono
          if (ver == 1 || layer != 1 || brIdx == 0 || brIdx == 15 ||
              srIdx == 3) ok = false
          else {
            val sr =
              (if (ver == 3) srV1 else if (ver == 2) srV2 else srV25)(srIdx)
            val kbps = (if (ver == 3) brV1L3 else brV2L3)(brIdx)
            // Layer III frame bytes: 144 (72 for MPEG2/2.5) * bitrate /
            // samplerate + padding
            val len = (if (ver == 3) 144000 else 72000) * kbps / sr + pad
            if (len <= 4 || o + len > b.length) ok = false
            else {
              if (frames == 0) { rate = sr; chans = if (mode == 3) 1 else 2 }
              frames += 1
              o += len
            }
          }
        }
      }
      val tail = b.length - o
      val clean = tail == 0 || (tail == 128 && ascii(b, o, "TAG")) // ID3v1
      if (frames > 0 && clean) Some((rate, chans, frames)) else None
    }

    /** (sampleRate, channels, pcmSamples) from an OGG stream's first
      * page (codec id header) and last page (granule position) */
    private[operators] def tryOgg(b: Array[Byte]): Option[(Int, Int, Int)] = {
      if (b.length < 58 || !ascii(b, 0, "OggS") || b(4) != 0) return None
      val nSegs = b(26) & 0xff
      val p = 27 + nSegs // first page payload = the codec's id header
      if (p + 19 > b.length) return None
      val (rate, chans) =
        if ((b(p) & 0xff) == 1 && ascii(b, p + 1, "vorbis"))
          // Vorbis-I id header: type(1) "vorbis" version(4) channels(1)
          // rate(le32)
          (le32(b, p + 12).toInt, b(p + 11) & 0xff)
        else if (ascii(b, p, "OpusHead"))
          // RFC 7845 §5.1: "OpusHead" version(1) channels(1) preskip(2)
          // input_sample_rate(le32)
          (le32(b, p + 12).toInt, b(p + 9) & 0xff)
        else return None
      if (rate <= 0 || chans <= 0) return None
      // total PCM samples = granule position of the FINAL page; scan
      // backward for the last capture pattern
      var q = b.length - 27
      while (q >= 0 && !ascii(b, q, "OggS")) q -= 1
      if (q < 0) return None
      val gran = le64(b, q + 6)
      if (gran < 0) return None
      Some((rate, chans, math.min(gran, Int.MaxValue.toLong).toInt))
    }

    private[operators] def tryDecode(m: MediaRow): Option[MediaFeatures] =
      if (m.media_type != "audio") None
      else
        try tryMp3(m.media).orElse(tryOgg(m.media)).map {
          case (rate, chans, frames) =>
            val stub = StubCodec.decode(m) // sig/n_bytes codec-independent
            stub.copy(
              width = rate,
              n_frames = if (frames > 0) frames else stub.n_frames,
              channels = chans)
        }
        catch { case _: Exception => None }
  }

  /** Real video CONTAINER-HEADER metadata — no JDK video codec exists,
    * but the container formats are public byte layouts parseable with
    * zero dependencies: ISO BMFF (MP4/MOV — `tkhd` 16.16-fixed
    * width/height, `stsz` sample_count = frame count) and RIFF AVI
    * (`avih` dwWidth/dwHeight/dwTotalFrames). Header reads only; the
    * coded payload is never touched. Non-parseable payloads (the
    * m01/m02 gates feed UTF-8 text) fall through to the deterministic
    * stub byte-identically; a real ffmpeg/JNI integration adds another
    * `tryDecode` before the fallback.
    */
  object VideoCodec {
    private def be32(b: Array[Byte], o: Int): Long =
      ((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
        ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)
    private def le32(b: Array[Byte], o: Int): Long =
      ((b(o + 3) & 0xffL) << 24) | ((b(o + 2) & 0xffL) << 16) |
        ((b(o + 1) & 0xffL) << 8) | (b(o) & 0xffL)
    private def be64(b: Array[Byte], o: Int): Long =
      (be32(b, o) << 32) | be32(b, o + 4)
    private def cc(b: Array[Byte], o: Int): String =
      new String(b, o, 4, "ISO-8859-1")

    // ISO BMFF containers worth descending into for tkhd/stsz
    private val boxDirs = Set("moov", "trak", "mdia", "minf", "stbl")
    private final class Mp4Meta {
      var w = 0; var h = 0; var frames = 0
      def done: Boolean = w > 0 && h > 0 && frames > 0
    }
    private def walkBoxes(b: Array[Byte], from: Int, to: Int,
        m: Mp4Meta, depth: Int): Unit = {
      if (depth > 8) return
      var o = from
      while (o + 8 <= to && !m.done) {
        val sz0 = be32(b, o)
        val typ = cc(b, o + 4)
        // ISO 14496-12 §4.2 size encodings: size==1 carries a 64-bit
        // largesize after the type (mandatory once a box passes 4 GiB —
        // mdat in any real video); size==0 means the box extends to the
        // end of the enclosing scope (legal for the last box only).
        // Bailing on either hands real large media to the stub.
        var hdr = 8
        val sz: Long =
          if (sz0 == 1L) {
            if (o + 16 > to) return
            hdr = 16
            be64(b, o + 8)
          } else if (sz0 == 0L) (to - o).toLong
          else sz0
        if (sz < hdr || o + sz > to) return
        val end = (o + sz).toInt
        typ match {
          case t if boxDirs(t) => walkBoxes(b, o + hdr, end, m, depth + 1)
          case "tkhd" =>
            val p = o + hdr // FullBox payload: version(1) flags(3) ...
            val v = b(p) & 0xff
            val (wo, ho) = if (v == 1) (p + 88, p + 92) else (p + 76, p + 80)
            if (ho + 4 <= end) {
              val w = (be32(b, wo) >> 16).toInt // 16.16 fixed
              val h = (be32(b, ho) >> 16).toInt
              // audio/hint tracks carry 0x0 — keep the first video one
              if (w > 0 && h > 0 && m.w == 0) { m.w = w; m.h = h }
            }
          case "stsz" =>
            val p = o + hdr
            if (p + 12 <= end && m.frames == 0) {
              val n = be32(b, p + 8).toInt // sample_count
              if (n > 0) m.frames = n
            }
          case _ => ()
        }
        o = end
      }
    }

    private def tryMp4(b: Array[Byte]): Option[(Int, Int, Int)] = {
      // every ISO BMFF file leads with a box whose type is well-known
      if (b.length < 12) return None
      val head = cc(b, 4)
      if (head != "ftyp" && head != "moov" && head != "mdat" &&
          head != "free" && head != "wide") return None
      val m = new Mp4Meta
      walkBoxes(b, 0, b.length, m, 0)
      if (m.w > 0 && m.h > 0) Some((m.w, m.h, math.max(m.frames, 1))) else None
    }

    private def tryAvi(b: Array[Byte]): Option[(Int, Int, Int)] = {
      if (b.length < 64 || cc(b, 0) != "RIFF" || cc(b, 8) != "AVI ")
        return None
      // the avih chunk sits inside the first hdrl LIST; a bounded
      // forward scan for its fourcc is robust to padding variations
      var o = 12
      val limit = math.min(b.length - 8, 1024)
      while (o < limit) {
        if (cc(b, o) == "avih") {
          val p = o + 8 // fourcc + chunk size
          if (p + 40 > b.length) return None
          val frames = le32(b, p + 16).toInt
          val w = le32(b, p + 32).toInt
          val h = le32(b, p + 36).toInt
          if (w > 0 && h > 0) return Some((w, h, math.max(frames, 1)))
          return None
        }
        o += 4
      }
      None
    }

    private[graft] def tryDecode(m: MediaRow): Option[MediaFeatures] =
      if (m.media_type != "video") None
      else
        try tryMp4(m.media).orElse(tryAvi(m.media)).map { case (w, h, n) =>
          val stub = StubCodec.decode(m) // sig/n_bytes codec-independent
          stub.copy(width = w, height = h, n_frames = n, channels = 3)
        }
        catch { case _: Exception => None }
  }

  final case class SampledFrame(doc_id: Long, frame_idx: Int,
      width: Int, height: Int, frame_sig: Long, decoded: Boolean)

  /** Pluggable real-codec seam for the video formats a stock JVM can't
    * open (H.264/H.265 in MP4 — i.e. almost all real video). A
    * provider wraps an external decoder (ffmpeg via JNI/JavaCV, a
    * hardware codec) and is discovered through the standard
    * `java.util.ServiceLoader` mechanism (META-INF/services entry for
    * `graft.operators.VideoFrameDecoder`) or, mostly for tests, the
    * class names passed to `decodeFrameSamples` — the
    * same probe-and-fall-through pattern as the MP3 SPI hook: with no
    * provider installed the pipeline is byte-identical to a stub-only
    * build.
    */
  trait VideoFrameDecoder {
    /** every `stride`-th frame, actually decoded; None = this provider
      * cannot handle the payload (the chain falls through)
      */
    def decodeFrames(bytes: Array[Byte], stride: Int): Option[Seq[SampledFrame]]
  }

  object VideoFrameDecoder {
    /** the named classes, then the SPI providers; resolved once per JVM
      * per class list — provider classes are stateless decoders by
      * contract
      */
    private val resolved = new java.util.concurrent.ConcurrentHashMap[
      Seq[String], Seq[VideoFrameDecoder]]
    private[operators] def providers(decoders: Seq[String]): Seq[VideoFrameDecoder] =
      resolved.computeIfAbsent(decoders, _ => {
        val named = decoders.flatMap { cls =>
          try Seq(Class.forName(cls).getDeclaredConstructor()
            .newInstance().asInstanceOf[VideoFrameDecoder])
          catch { case _: Exception => Nil }
        }
        val fromSpi =
          try {
            import scala.jdk.CollectionConverters._
            java.util.ServiceLoader.load(classOf[VideoFrameDecoder])
              .iterator().asScala.toSeq
          } catch { case _: Throwable => Nil }
        named ++ fromSpi
      })

    /** first provider that handles the payload wins; a provider that
      * throws or returns malformed frames (non-positive geometry, out-
      * of-stride indexes) is treated as "can't handle" so a buggy
      * plugin degrades to the metadata fallback instead of failing the
      * Spark task — the same totality fence as the MJPEG walker
      */
    private[operators] def tryProviders(m: MediaRow, stride: Int,
        decoders: Seq[String]): Option[Seq[SampledFrame]] = {
      val ps = providers(decoders)
      if (ps.isEmpty) None
      else ps.iterator.flatMap { p =>
        (try p.decodeFrames(m.media, stride)
         catch { case _: Exception => None })
          .filter(fs => fs.nonEmpty && fs.forall(f =>
            f.width > 0 && f.height > 0 &&
              f.frame_idx >= 0 && f.frame_idx % stride == 0))
          .map(_.map(_.copy(doc_id = m.doc_id, decoded = true)))
      }.nextOption()
    }
  }

  /** Real video FRAME decode with zero dependencies: MJPEG-in-AVI
    * stores each frame as a complete JPEG ('00dc' chunks in the RIFF
    * 'movi' list), so the JDK's ImageIO decodes actual pixels — the
    * one mainstream video codec a stock JVM can fully open. Anything
    * else (H.264 in MP4, arbitrary bytes) falls back to the metadata
    * chain, keeping [[decodeFrameSamples]] total.
    *
    * Determinism guard, same philosophy as the MP3 whole-stream walk:
    * the MJPEG claim is accepted only when the container walks cleanly
    * AND every SAMPLED chunk leads with a JPEG SOI marker and decodes —
    * one bad frame sends the whole payload to the fallback rather than
    * yielding a half-real row mix.
    */
  object MjpegFrames {
    private def le32(b: Array[Byte], o: Int): Long =
      ((b(o + 3) & 0xffL) << 24) | ((b(o + 2) & 0xffL) << 16) |
        ((b(o + 1) & 0xffL) << 8) | (b(o) & 0xffL)
    private def cc(b: Array[Byte], o: Int): String =
      new String(b, o, 4, "ISO-8859-1")

    /** (offset, size) of every non-empty video frame chunk in 'movi',
      * in stream order. None = not a RIFF AVI. Zero-size chunks are
      * AVI's dropped-frame convention and are skipped; 'rec ' groups
      * (interleave batching) are descended.
      */
    private[graft] def frameChunks(b: Array[Byte])
        : Option[Vector[(Int, Int)]] = {
      if (b.length < 12 || cc(b, 0) != "RIFF" || cc(b, 8) != "AVI ")
        return None
      val out = Vector.newBuilder[(Int, Int)]
      def scan(from: Int, to: Int, inMovi: Boolean, depth: Int): Unit = {
        if (depth > 4) return
        var o = from
        while (o + 8 <= to) {
          val id = cc(b, o)
          val sz = le32(b, o + 4).toInt
          // Long arithmetic: a corrupt sz near 2^31 would overflow
          // `o + 8 + sz` negative and sneak past an Int-typed guard
          if (sz < 0 || o + 8L + sz > to) return
          if (id == "LIST" && sz >= 4) {
            val lt = cc(b, o + 8)
            if (lt == "movi" || (inMovi && lt == "rec "))
              scan(o + 12, o + 8 + sz, inMovi = true, depth + 1)
          } else if (inMovi && sz > 0 && id.length == 4 &&
              id.charAt(0).isDigit && id.charAt(1).isDigit &&
              (id.endsWith("dc") || id.endsWith("db"))) {
            out += ((o + 8, sz))
          }
          o += 8 + sz + (sz & 1) // chunks are word-aligned
        }
      }
      scan(12, b.length, inMovi = false, 0)
      Some(out.result())
    }

    private def pixelSig(img: java.awt.image.BufferedImage): Long = {
      var h = 1125899906842597L
      var y = 0
      while (y < img.getHeight) {
        var x = 0
        while (x < img.getWidth) {
          h = 31 * h + img.getRGB(x, y)
          x += 1
        }
        y += 1
      }
      h
    }

    /** every `stride`-th frame ACTUALLY decoded (width/height from the
      * frame's own pixels, sig over the raster); None = not MJPEG AVI
      * or a sampled frame failed to decode
      */
    private[graft] def tryDecodeFrames(m: MediaRow, stride: Int)
        : Option[Seq[SampledFrame]] =
      if (m.media_type != "video") None
      // the container walk itself sits inside the try so a corrupt
      // payload falls back to the metadata path instead of failing
      // the Spark task
      else (try frameChunks(m.media) catch { case _: Exception => None })
        .flatMap { chunks =>
        if (chunks.isEmpty) None
        else try {
          val rows = Range(0, chunks.size, stride).map { i =>
            val (off, len) = chunks(i)
            // MJPEG frames are complete JPEGs: SOI marker required
            if (len < 4 || (m.media(off) & 0xff) != 0xff ||
                (m.media(off + 1) & 0xff) != 0xd8)
              throw new java.io.IOException("not a JPEG frame")
            val img = javax.imageio.ImageIO.read(
              new java.io.ByteArrayInputStream(m.media, off, len))
            if (img == null) throw new java.io.IOException("undecodable")
            SampledFrame(m.doc_id, i, img.getWidth, img.getHeight,
              pixelSig(img), decoded = true)
          }
          Some(rows)
        } catch { case _: Exception => None }
      }
  }

  /** Deterministic synthetic media fixtures — the media analog of
    * [[graft.ScaleGen]]: gates need REAL decodable payloads built from
    * nothing but the row key, so the oracle can state the decoded
    * output in closed form (geometry and frame indexes are exact;
    * raster signatures are excluded from oracled output since JPEG
    * encoder bytes may vary across JDK builds).
    */
  object MediaFixtures {
    private def putLe(a: Array[Byte], o: Int, v: Int): Unit = {
      a(o) = (v & 0xff).toByte; a(o + 1) = ((v >> 8) & 0xff).toByte
      a(o + 2) = ((v >> 16) & 0xff).toByte; a(o + 3) = ((v >> 24) & 0xff).toByte
    }
    private def chunk(id: String, payload: Array[Byte]): Array[Byte] = {
      val hdr = new Array[Byte](8)
      id.getBytes("ISO-8859-1").copyToArray(hdr)
      putLe(hdr, 4, payload.length)
      hdr ++ payload ++
        (if ((payload.length & 1) == 1) Array[Byte](0) else Array.empty[Byte])
    }
    private def list(ltype: String, body: Array[Byte]): Array[Byte] =
      chunk("LIST", ltype.getBytes("ISO-8859-1") ++ body)

    /** a real PNG: solid color derived from the seed (PNG is lossless,
      * so decode geometry and pixels are exact)
      */
    def png(w: Int, h: Int, seed: Long): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      val color = (seed * 2654435761L).toInt & 0xffffff
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) { img.setRGB(x, y, color); x += 1 }
        y += 1
      }
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    /** sample i of the PCM fixture — the closed form a SQL oracle can
      * restate: ((seed·7 + i) mod 201) − 100, range [−100, 100]
      */
    def pcmSample(seed: Long, i: Int): Int =
      (((seed * 7 + i) % 201) - 100).toInt

    /** a real mono 16-bit 8 kHz WAV of `n` samples following
      * [[pcmSample]] (PCM is lossless: the decoder returns these exact
      * values)
      */
    def wavPcm(n: Int, seed: Long): Array[Byte] = {
      import javax.sound.sampled._
      val fmt = new AudioFormat(8000f, 16, 1, true, false)
      val pcm = new Array[Byte](n * 2)
      var i = 0
      while (i < n) {
        val v = pcmSample(seed, i)
        pcm(2 * i) = (v & 0xff).toByte
        pcm(2 * i + 1) = ((v >> 8) & 0xff).toByte
        i += 1
      }
      val ais = new AudioInputStream(
        new java.io.ByteArrayInputStream(pcm), fmt, n.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(ais, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }

    /** a complete MJPEG-in-AVI: `nFrames` solid-color JPEG frames of
      * w×h, colors derived from (seed, frame index)
      */
    def mjpegAvi(nFrames: Int, w: Int, h: Int, seed: Long): Array[Byte] = {
      val frames = (0 until nFrames).map { i =>
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_INT_RGB)
        val color = (seed * 2654435761L + i * 0x9e3779b9L).toInt & 0xffffff
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { img.setRGB(x, y, color); x += 1 }
          y += 1
        }
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(img, "jpg", bos)
        bos.toByteArray
      }
      val avih = new Array[Byte](56)
      putLe(avih, 16, nFrames); putLe(avih, 32, w); putLe(avih, 36, h)
      chunk("RIFF", "AVI ".getBytes("ISO-8859-1") ++
        list("hdrl", chunk("avih", avih)) ++
        list("movi", frames.map(f => chunk("00dc", f)).reduce(_ ++ _)))
    }
  }

  /** documents table → synthetic media table (UTF-8 payload as the
    * opaque binary), exercising the exact schema/partitioning a real
    * media corpus would use.
    */
  def mediaTable(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      // deterministic round-robin media type
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("media_type"),
      encode(col("text"), "UTF-8").as("media"))

  /** batched decode / feature extraction — partition-preserving. Real
    * decode where a codec is present and the bytes decode; the stub
    * otherwise (see [[ImageIoCodec]]).
    */
  def extractFeatures(spark: SparkSession, media: DataFrame): Dataset[MediaFeatures] = {
    import spark.implicits._
    media.as[MediaRow].mapPartitions(_.map(ImageIoCodec.decode))
  }

  /** frame sampling plan for video rows: every `stride`-th frame */
  def sampleFrames(spark: SparkSession, media: DataFrame, stride: Int): DataFrame = {
    import spark.implicits._
    extractFeatures(spark, media)
      .filter(col("media_type") === "video")
      .withColumn("frame_idx",
        explode(sequence(lit(0), col("n_frames") - 1, lit(stride))))
      .select(col("doc_id"), col("frame_idx"), col("width"), col("height"))
  }

  /** frame sampling with REAL pixel decode where the payload allows it
    * (MJPEG AVI via [[MjpegFrames]]; `decoded = true`, per-frame
    * width/height/raster-sig from the actual pixels) and the
    * metadata-derived rows of [[sampleFrames]] everywhere else
    * (`decoded = false`, sig 0). Same 100 TB shape as every decode
    * stage here: partition-preserving mapPartitions, payload bytes
    * never shuffle, only the small frame rows move. `decoders` names
    * [[VideoFrameDecoder]] classes tried ahead of the SPI providers.
    */
  def decodeFrameSamples(spark: SparkSession, media: DataFrame,
      stride: Int, decoders: Seq[String] = Nil): Dataset[SampledFrame] = {
    import spark.implicits._
    require(stride > 0)
    media.as[MediaRow]
      .filter(col("media_type") === "video")
      .mapPartitions(_.flatMap { m =>
        // decode-link order: the dependency-free MJPEG walker, then any
        // installed external codec (ffmpeg/JNI behind the
        // VideoFrameDecoder SPI — the H.264-in-MP4 hook), then the
        // metadata chain; each link is exception-fenced so the stage
        // stays total
        MjpegFrames.tryDecodeFrames(m, stride)
          .orElse(VideoFrameDecoder.tryProviders(m, stride, decoders))
          .getOrElse {
            val f = ImageIoCodec.decode(m)
            Range(0, f.n_frames, stride).map(i =>
              SampledFrame(m.doc_id, i, f.width, f.height, 0L,
                decoded = false))
          }
      })
  }

  final case class ResizedImage(doc_id: Long, width: Int, height: Int,
      n_bytes: Int, resized: Boolean)

  /** bound an image's longest side to `maxSide` preserving aspect.
    * Pure INTEGER geometry — floor(dim·maxSide / longSide), min 1 — so
    * an engine-independent oracle restates it exactly; already-small
    * images pass through unscaled.
    */
  private[graft] def boundedDims(w: Int, h: Int, maxSide: Int): (Int, Int) = {
    val long = math.max(w, h)
    if (long <= maxSide) (w, h)
    else (math.max(1, (w.toLong * maxSide / long).toInt),
      math.max(1, (h.toLong * maxSide / long).toInt))
  }

  /** REAL image resize where the payload decodes (Graphics2D rescale +
    * PNG re-encode; `resized = true`, `n_bytes` = the re-encoded
    * payload) and the stub byte-budget arithmetic on stub geometry
    * everywhere else. Both paths bound geometry via [[boundedDims]].
    * Same decode-stage shape: partition-preserving, payloads never
    * shuffle, output rows are small (the resized BYTES would be
    * written back to storage per partition in a real pipeline — only
    * their size is reported here).
    */
  def resizeImages(spark: SparkSession, media: DataFrame,
      maxSide: Int): Dataset[ResizedImage] = {
    import spark.implicits._
    require(maxSide > 0)
    media.as[MediaRow]
      .filter(col("media_type") === "image")
      .mapPartitions(_.map { m =>
        // ONE decode: pixels and geometry come from the same read
        val img =
          try Option(javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(m.media)))
          catch { case _: Exception => None }
        img match {
          case Some(src) =>
            val (nw, nh) = boundedDims(src.getWidth, src.getHeight, maxSide)
            val out = new java.awt.image.BufferedImage(nw, nh,
              java.awt.image.BufferedImage.TYPE_INT_RGB)
            val g = out.createGraphics()
            g.drawImage(src, 0, 0, nw, nh, null)
            g.dispose()
            val bos = new java.io.ByteArrayOutputStream()
            javax.imageio.ImageIO.write(out, "png", bos)
            ResizedImage(m.doc_id, nw, nh, bos.size(), resized = true)
          case None =>
            val f = StubCodec.decode(m)
            val (nw, nh) = boundedDims(f.width, f.height, maxSide)
            ResizedImage(m.doc_id, nw, nh,
              StubCodec.resizedBytes(f, maxSide), resized = false)
        }
      })
  }

  final case class PcmFeatures(doc_id: Long, n_samples: Long, peak: Int,
      sum_sq: Long, decoded: Boolean)

  /** REAL audio feature extraction: decodable 16-bit PCM payloads
    * (WAV/AU/AIFF through javax.sound — lossless, so sample values are
    * exact) report FRAME count (per-channel sample count / channels,
    * so `n_samples` means the same thing as the metadata fallback's
    * `n_frames` regardless of channel layout), peak |amplitude| and the
    * integer sum of squares over ALL channel values (integer so
    * engines agree bit-for-bit; RMS is one consumer-side sqrt away).
    * Non-decodable payloads fall back to the metadata chain with
    * zeroed amplitude stats. A trailing odd byte is not a 16-bit
    * sample and is ignored.
    */
  def pcmFeatures(spark: SparkSession, media: DataFrame)
      : Dataset[PcmFeatures] = {
    import spark.implicits._
    media.as[MediaRow]
      .filter(col("media_type") === "audio")
      .mapPartitions(_.map { m =>
        tryPcm(m).getOrElse {
          val f = ImageIoCodec.decode(m)
          PcmFeatures(m.doc_id, f.n_frames.toLong, 0, 0L, decoded = false)
        }
      })
  }

  private def tryPcm(m: MediaRow): Option[PcmFeatures] =
    try {
      import javax.sound.sampled._
      val ais = AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(m.media))
      val fmt = ais.getFormat
      if (fmt.getEncoding == AudioFormat.Encoding.PCM_SIGNED &&
          fmt.getSampleSizeInBits == 16)
        Some(pcm16Stats(m.doc_id, ais.readAllBytes(), fmt.isBigEndian,
          fmt.getChannels))
      else {
        // NON-16-bit-PCM payloads (8/24-bit, unsigned, float — and
        // MP3/OGG when a format-conversion SPI is installed): convert
        // through AudioSystem to 16-bit signed PCM, then run the same
        // exact-integer stats. Determinism fence before trusting an
        // external codec: decode the stream TWICE from scratch and
        // require byte-identical output (same philosophy as the MP3
        // whole-stream header walk) — a nondeterministic decoder falls
        // back to the metadata path rather than emitting
        // engine-varying stats.
        val rate =
          if (fmt.getSampleRate > 0) fmt.getSampleRate else 44100f
        val ch = if (fmt.getChannels > 0) fmt.getChannels else 1
        val target = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
          rate, 16, ch, ch * 2, rate, false)
        if (!AudioSystem.isConversionSupported(target, fmt)) None
        else {
          def run(): Array[Byte] = {
            val src = AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(m.media))
            try AudioSystem.getAudioInputStream(target, src).readAllBytes()
            finally src.close()
          }
          val b1 = run()
          if (!java.util.Arrays.equals(b1, run())) None
          else Some(pcm16Stats(m.doc_id, b1, bigEndian = false, ch))
        }
      }
    } catch { case _: Exception => None }

  /** exact integer stats over a 16-bit sample buffer: frame count
    * (per-channel values / channels), peak |amplitude| and sum of
    * squares over ALL channel values; a trailing odd byte is ignored
    */
  private def pcm16Stats(id: Long, bytes: Array[Byte], bigEndian: Boolean,
      channels0: Int): PcmFeatures = {
    var peak = 0
    var sumSq = 0L
    var n = 0L
    var o = 0
    while (o + 1 < bytes.length) {
      val v =
        if (bigEndian) ((bytes(o) << 8) | (bytes(o + 1) & 0xff)).toShort.toInt
        else ((bytes(o + 1) << 8) | (bytes(o) & 0xff)).toShort.toInt
      val a = math.abs(v)
      if (a > peak) peak = a
      sumSq += v.toLong * v
      n += 1
      o += 2
    }
    val channels = math.max(1, channels0)
    PcmFeatures(id, n / channels, peak, sumSq, decoded = true)
  }
}
