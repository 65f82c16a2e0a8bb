package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video payloads as opaque
  * BINARY columns with typed metadata, processed batch-wise per
  * partition.
  *
  * All three modalities now run REAL codec kernels on the bare JDK:
  *   - IMAGE: genuine PNG bytes decoded with `javax.imageio.ImageIO`
  *     into exact dimensions, per-channel pixel sums and a histogram
  *     feature vector; `resize` is decode → exact nearest-neighbor
  *     resample → PNG re-encode.
  *   - AUDIO: genuine WAV (RIFF) containers decoded with
  *     `javax.sound.sampled` — format from the header, 16-bit PCM
  *     samples from the stream; `downsampleAudio` is the audio resize.
  *   - VIDEO: genuine AVI (RIFF) containers parsed from scratch
  *     (avih/strh/strf headers, movi frame chunks, idx1) with two
  *     frame codecs: uncompressed DIB (BI_RGB 24-bit, bit-exact) and
  *     MJPEG (each frame a real JPEG, decoded via ImageIO).
  *     Inter-frame-compressed codecs (h264/vp9/…) are the one thing a
  *     bare JDK cannot decode — those fall through to the clearly
  *     marked deterministic stub kernel; the plumbing is identical.
  *
  * 100 TB design properties (both paths):
  *   - payloads NEVER pass through a shuffle: featurize/resize/sample
  *     are map-side `mapPartitions`, so only the (small) derived
  *     features move downstream;
  *   - `spark.sql.files.maxPartitionBytes` governs blob-scan partition
  *     sizing; rows stay within a partition ⇒ one codec init per task,
  *     amortized across the batch (the Scala analogue of a Pandas-UDF
  *     batch over mapInPandas);
  *   - features are fixed-width arrays ⇒ columnar downstream.
  */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image|audio|video
    StructField("payload", BinaryType, nullable = true),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("sample_rate", IntegerType, nullable = true),
      StructField("n_frames", IntegerType, nullable = true),
      StructField("mime", StringType, nullable = true))), nullable = true)))

  final case class MediaMeta(width: Option[Int], height: Option[Int],
                             sample_rate: Option[Int], n_frames: Option[Int],
                             mime: Option[String])
  final case class Media(media_id: Long, kind: String,
                         payload: Array[Byte], meta: MediaMeta)

  /** Build a media table from any source DataFrame — used in tests to
    * derive deterministic payloads from `documents`. Image dims are a
    * pure function of the id so an arithmetic oracle can replay the
    * decoded pixels (see `pixelR/G/B`). */
  def synthesize(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).cast("long").as("media_id"),
      (when(pmod(col(idCol), lit(3)) === 0, "image")
        .when(pmod(col(idCol), lit(3)) === 1, "audio")
        .otherwise("video")).as("kind"),
      encode(col(textCol), "UTF-8").as("payload"),
      struct(
        (pmod(col(idCol), lit(13)) + 4).cast("int").as("width"),
        (pmod(col(idCol), lit(11)) + 4).cast("int").as("height"),
        lit(16000).as("sample_rate"),
        (pmod(col(idCol), lit(30)) + 1).cast("int").as("n_frames"),
        lit("application/octet-stream").as("mime")).as("meta"))

  /** The deterministic test-image pixel formulas: channel value of
    * pixel (x, y) in image `id`. Chosen so a SQL oracle can replay the
    * decoded values with integer arithmetic. */
  @inline def pixelR(id: Long, x: Int, y: Int): Int = ((id + 7L * x + 13L * y) % 256).toInt
  @inline def pixelG(id: Long, x: Int, y: Int): Int = ((3L * id + 5L * x + 11L * y) % 256).toInt
  @inline def pixelB(id: Long, x: Int, y: Int): Int = ((5L * id + 3L * x + 17L * y) % 256).toInt

  /** Encode the deterministic w×h RGB test image for `id` as real PNG
    * bytes (lossless — decode returns the formula values exactly). */
  def makePng(id: Long, w: Int, h: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, (pixelR(id, x, y) << 16) | (pixelG(id, x, y) << 8) | pixelB(id, x, y))
        x += 1
      }
      y += 1
    }
    val baos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** Replace the payload of `image` rows with real PNG bytes encoding
    * the deterministic test image at the meta dims. Map-side; audio and
    * video rows pass through untouched. */
  def withImagePayloads(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[Media].mapPartitions { it =>
      codecInit()
      it.map { m =>
        if (m.kind == "image")
          m.copy(
            payload = makePng(m.media_id, m.meta.width.getOrElse(16), m.meta.height.getOrElse(16)),
            meta = m.meta.copy(mime = Some("image/png")))
        else m
      }
    }.toDF()
  }

  /** Per-task codec initialization: disable ImageIO's disk cache so
    * decode stays purely in-memory on executors. */
  private def codecInit(): Unit = ImageIO.setUseCache(false)

  /** Exact per-image decode stats: dimensions, channel count, per-channel
    * pixel-value sums, and a `bins`-bin histogram of the red channel. */
  final case class ImageStats(width: Int, height: Int, channels: Int,
                              sumR: Long, sumG: Long, sumB: Long,
                              histR: Array[Long])

  /** REAL image decode via JDK ImageIO (PNG/JPEG/GIF/BMP). Returns None
    * for undecodable payloads. */
  def decodeImage(payload: Array[Byte], bins: Int = 8): Option[ImageStats] = {
    if (payload == null) return None
    try {
      val img = ImageIO.read(new ByteArrayInputStream(payload))
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        var sr = 0L; var sg = 0L; var sb = 0L
        val hist = new Array[Long](bins)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val r = (rgb >> 16) & 0xff
            sr += r
            sg += (rgb >> 8) & 0xff
            sb += rgb & 0xff
            hist(r * bins / 256) += 1L
            x += 1
          }
          y += 1
        }
        Some(ImageStats(w, h, img.getColorModel.getNumColorComponents, sr, sg, sb, hist))
      }
    } catch { case _: java.io.IOException => None }
  }

  // ======== REAL audio decode (javax.sound.sampled — JDK-only) ========

  /** Deterministic test-audio PCM formula: 16-bit sample value at frame
    * `s`, channel `c` of audio `id`. Integer arithmetic so a SQL oracle
    * replays the decoded samples exactly (the audio analogue of
    * pixelR/G/B). */
  @inline def pcmSample(id: Long, c: Int, s: Long): Int =
    (((31L * id + 17L * c + 7L * s) % 65536L) - 32768L).toInt

  /** The deterministic per-id audio parameters (pure id functions, SQL-
    * replayable): 1-2 channels, 256-640 frames, 8/12/16 kHz. */
  @inline def audioChannels(id: Long): Int = (1 + id % 2).toInt
  @inline def audioFrames(id: Long): Long = 256 + (id % 7) * 64
  @inline def audioRate(id: Long): Int = (8000 + (id % 3) * 4000).toInt

  /** Wrap interleaved PCM_SIGNED 16-bit little-endian frames in a REAL
    * WAV (RIFF) container via `javax.sound.sampled.AudioSystem`. */
  private def encodeWav(pcm: Array[Byte], rate: Int, ch: Int): Array[Byte] = {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    val fmt = new AudioFormat(rate.toFloat, 16, ch, true, false)
    val ais = new AudioInputStream(
      new ByteArrayInputStream(pcm), fmt, pcm.length / (ch * 2))
    val baos = new ByteArrayOutputStream()
    AudioSystem.write(ais, AudioFileFormat.Type.WAVE, baos)
    baos.toByteArray
  }

  /** Encode the deterministic test signal for `id` as a REAL WAV file
    * (RIFF container, PCM_SIGNED 16-bit little-endian, interleaved) —
    * decode reads it back sample-exactly. */
  def makeWav(id: Long): Array[Byte] = {
    val ch = audioChannels(id)
    val n = audioFrames(id)
    val pcm = new Array[Byte](n.toInt * ch * 2)
    var s = 0L
    var i = 0
    while (s < n) {
      var c = 0
      while (c < ch) {
        val v = pcmSample(id, c, s)
        pcm(i) = (v & 0xff).toByte
        pcm(i + 1) = ((v >> 8) & 0xff).toByte
        c += 1; i += 2
      }
      s += 1
    }
    encodeWav(pcm, audioRate(id), ch)
  }

  /** Downsample audio rows by integer frame DECIMATION (keep every
    * `factor`-th frame, all channels; output rate = rate/factor) — the
    * audio analogue of [[resize]]: real decode → integer-exact resample
    * → WAV re-encode as the new payload. Kept samples are bit-identical
    * to the input's (no filtering/interpolation), so an arithmetic
    * oracle replays the re-encoded stream exactly. Non-audio rows and
    * undecodable payloads pass through untouched. Map-side. */
  def downsampleAudio(media: DataFrame, factor: Int): DataFrame = {
    require(factor >= 1, s"decimation factor must be >= 1: $factor")
    import javax.sound.sampled.AudioSystem
    val spark = media.sparkSession
    import spark.implicits._
    media.as[Media].mapPartitions { it =>
      it.map { m =>
        if (m.kind != "audio" || m.payload == null) m
        else try {
          val ais = AudioSystem.getAudioInputStream(
            new ByteArrayInputStream(m.payload))
          val fmt = ais.getFormat
          if (fmt.getSampleSizeInBits != 16) m
          else {
            val ch = fmt.getChannels
            val frameSize = fmt.getFrameSize
            val bytes = ais.readAllBytes()
            val nFrames = bytes.length / frameSize
            val kept = (nFrames + factor - 1) / factor
            val out = new Array[Byte](kept * frameSize)
            var f = 0; var o = 0
            while (f < nFrames) {
              System.arraycopy(bytes, f * frameSize, out, o * frameSize, frameSize)
              f += factor; o += 1
            }
            val newRate = fmt.getSampleRate.toInt / factor
            m.copy(payload = encodeWav(out, newRate, ch),
              meta = m.meta.copy(sample_rate = Some(newRate),
                mime = Some("audio/wav")))
          }
        } catch { case scala.util.control.NonFatal(_) => m }
      }
    }.toDF()
  }

  /** Replace the payload of `audio` rows with real WAV bytes for the
    * deterministic test signal. Map-side; other kinds pass through. */
  def withAudioPayloads(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[Media].mapPartitions { it =>
      it.map { m =>
        if (m.kind == "audio")
          m.copy(payload = makeWav(m.media_id),
            meta = m.meta.copy(sample_rate = Some(audioRate(m.media_id)),
              mime = Some("audio/wav")))
        else m
      }
    }.toDF()
  }

  /** Exact per-audio decode stats — everything an SQL oracle can replay
    * from the PCM formula: header-derived rate/channels, frame count,
    * integer sample sum / peak, and the RMS derived from the integer
    * sum of squares. */
  final case class AudioStats(media_id: Long, sample_rate: Int, channels: Int,
                              n_samples: Long, duration_ms: Long,
                              pcm_sum: Long, pcm_peak: Long, rms: Double)

  /** REAL audio decode via `javax.sound.sampled` (WAV/AIFF PCM — the
    * formats the bare JDK ships readers for; lossy codecs would plug in
    * here). Format comes from the CONTAINER header, samples from the
    * stream; returns None for undecodable payloads or non-16-bit PCM. */
  def decodeAudio(payload: Array[Byte]): Option[AudioStats] = {
    import javax.sound.sampled.AudioSystem
    if (payload == null) return None
    try {
      val ais = AudioSystem.getAudioInputStream(new ByteArrayInputStream(payload))
      val fmt = ais.getFormat
      if (fmt.getSampleSizeInBits != 16) return None
      val ch = fmt.getChannels
      val rate = fmt.getSampleRate.toInt
      val bytes = ais.readAllBytes()
      val nFrames = bytes.length / fmt.getFrameSize
      var sum = 0L; var sumSq = 0L; var peak = 0L
      var i = 0
      while (i + 1 < bytes.length) {
        // PCM_SIGNED 16-bit little-endian
        val v0 = (bytes(i) & 0xff) | ((bytes(i + 1) & 0xff) << 8)
        val v = v0.toShort.toInt
        sum += v
        sumSq += v.toLong * v
        val a = math.abs(v).toLong
        if (a > peak) peak = a
        i += 2
      }
      Some(AudioStats(0L, rate, ch, nFrames,
        nFrames * 1000L / rate, sum, peak,
        math.sqrt(sumSq.toDouble / (nFrames.toLong * ch))))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Decode every `audio` row's payload per partition (payloads never
    * shuffle; only the fixed-width stats move downstream). Undecodable
    * rows are dropped — the filter-then-decode contract. */
  def audioFeatures(media: DataFrame): Dataset[AudioStats] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.where(col("kind") === "audio")
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        it.flatMap { case (id, payload) =>
          decodeAudio(payload).map(_.copy(media_id = id))
        }
      }
  }

  // ======== REAL video decode (AVI/RIFF container — JDK-only) ========

  /** Deterministic test-video pixel formulas: channel value of pixel
    * (x, y) in frame `f` of video `id` — the frame-indexed extension of
    * pixelR/G/B, chosen so a SQL oracle replays the decoded values with
    * integer arithmetic. */
  @inline def vpxR(id: Long, f: Int, x: Int, y: Int): Int =
    ((id + 19L * f + 7L * x + 13L * y) % 256).toInt
  @inline def vpxG(id: Long, f: Int, x: Int, y: Int): Int =
    ((3L * id + 23L * f + 5L * x + 11L * y) % 256).toInt
  @inline def vpxB(id: Long, f: Int, x: Int, y: Int): Int =
    ((5L * id + 29L * f + 3L * x + 17L * y) % 256).toInt

  /** Deterministic per-id video parameters (pure id functions, SQL-
    * replayable): 4-10 × 4-8 px, 2-7 frames, 5/10/15 fps. */
  @inline def videoW(id: Long): Int = (id % 7 + 4).toInt
  @inline def videoH(id: Long): Int = (id % 5 + 4).toInt
  @inline def videoFrameCount(id: Long): Int = (id % 6 + 2).toInt
  @inline def videoFps(id: Long): Int = (5 + (id % 3) * 5).toInt

  /** Little-endian RIFF chunk writer helpers. */
  private final class RiffOut {
    val buf = new ByteArrayOutputStream()
    def u16(v: Int): Unit = { buf.write(v & 0xff); buf.write((v >> 8) & 0xff) }
    def u32(v: Int): Unit = { u16(v & 0xffff); u16((v >>> 16) & 0xffff) }
    def fourcc(s: String): Unit = buf.write(s.getBytes("US-ASCII"), 0, 4)
    def bytes(b: Array[Byte]): Unit = buf.write(b, 0, b.length)
    def chunk(id: String, body: Array[Byte]): Unit = {
      fourcc(id); u32(body.length); bytes(body)
      if ((body.length & 1) == 1) buf.write(0) // RIFF chunks pad to even
    }
  }

  /** One uncompressed DIB frame: BGR byte order, bottom-up row order,
    * rows padded to 4-byte boundaries — the BI_RGB 24-bit layout every
    * AVI tool writes. */
  private def dibFrame(id: Long, f: Int, w: Int, h: Int): Array[Byte] = {
    val rowBytes = (w * 3 + 3) & ~3
    val out = new Array[Byte](rowBytes * h)
    var y = 0
    while (y < h) {
      val base = (h - 1 - y) * rowBytes // bottom-up
      var x = 0
      while (x < w) {
        out(base + x * 3) = vpxB(id, f, x, y).toByte
        out(base + x * 3 + 1) = vpxG(id, f, x, y).toByte
        out(base + x * 3 + 2) = vpxR(id, f, x, y).toByte
        x += 1
      }
      y += 1
    }
    out
  }

  /** One MJPEG frame: the formula frame as a real JPEG via ImageIO
    * (lossy — decode is close to, not equal to, the formula values). */
  private def jpegFrame(id: Long, f: Int, w: Int, h: Int): Array[Byte] = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y,
          (vpxR(id, f, x, y) << 16) | (vpxG(id, f, x, y) << 8) | vpxB(id, f, x, y))
        x += 1
      }
      y += 1
    }
    val baos = new ByteArrayOutputStream()
    ImageIO.write(img, "jpg", baos)
    baos.toByteArray
  }

  /** Encode the deterministic test video for `id` as a REAL AVI file:
    * RIFF('AVI ') → LIST(hdrl){avih, LIST(strl){strh, strf}} →
    * LIST(movi){00db|00dc × frames} → idx1. `codec` is `"DIB "`
    * (uncompressed BI_RGB 24-bit, decode returns the formula values
    * exactly) or `"MJPG"` (each frame a real JPEG). */
  def makeAvi(id: Long, codec: String = "DIB "): Array[Byte] = {
    require(codec == "DIB " || codec == "MJPG", s"unsupported codec: $codec")
    val w = videoW(id); val h = videoH(id)
    val n = videoFrameCount(id); val fps = videoFps(id)
    val mjpeg = codec == "MJPG"
    val frames = (0 until n).map { f =>
      if (mjpeg) jpegFrame(id, f, w, h) else dibFrame(id, f, w, h)
    }
    val maxFrame = frames.map(_.length).max

    val strh = new RiffOut()
    strh.fourcc("vids"); strh.fourcc(codec)
    strh.u32(0); strh.u16(0); strh.u16(0) // flags, priority, language
    strh.u32(0) // initial frames
    strh.u32(1); strh.u32(fps) // scale, rate → fps frames/sec
    strh.u32(0); strh.u32(n) // start, length
    strh.u32(maxFrame); strh.u32(-1) // buffer size, quality (default)
    strh.u32(0) // sample size
    strh.u16(0); strh.u16(0); strh.u16(w); strh.u16(h) // rcFrame

    val strf = new RiffOut() // BITMAPINFOHEADER
    strf.u32(40); strf.u32(w); strf.u32(h)
    strf.u16(1); strf.u16(24) // planes, bit count
    if (mjpeg) strf.fourcc("MJPG") else strf.u32(0) // biCompression
    strf.u32(maxFrame); strf.u32(0); strf.u32(0); strf.u32(0); strf.u32(0)

    val strl = new RiffOut()
    strl.fourcc("strl")
    strl.chunk("strh", strh.buf.toByteArray)
    strl.chunk("strf", strf.buf.toByteArray)

    val avih = new RiffOut()
    avih.u32(1000000 / fps) // microseconds per frame
    avih.u32(maxFrame * fps) // max bytes/sec
    avih.u32(0); avih.u32(0x10) // padding granularity; AVIF_HASINDEX
    avih.u32(n); avih.u32(0); avih.u32(1) // total frames, initial, streams
    avih.u32(maxFrame); avih.u32(w); avih.u32(h)
    avih.u32(0); avih.u32(0); avih.u32(0); avih.u32(0) // reserved

    val hdrl = new RiffOut()
    hdrl.fourcc("hdrl")
    hdrl.chunk("avih", avih.buf.toByteArray)
    hdrl.chunk("LIST", strl.buf.toByteArray)

    val movi = new RiffOut()
    movi.fourcc("movi")
    val ckid = if (mjpeg) "00dc" else "00db"
    val offsets = frames.map { fr =>
      val off = movi.buf.size() // offset within movi, before the ckid
      movi.chunk(ckid, fr)
      off
    }

    val idx1 = new RiffOut()
    offsets.zip(frames).foreach { case (off, fr) =>
      idx1.fourcc(ckid); idx1.u32(0x10) // AVIIF_KEYFRAME
      idx1.u32(off); idx1.u32(fr.length)
    }

    val riffBody = new RiffOut()
    riffBody.fourcc("AVI ")
    riffBody.chunk("LIST", hdrl.buf.toByteArray)
    riffBody.chunk("LIST", movi.buf.toByteArray)
    riffBody.chunk("idx1", idx1.buf.toByteArray)

    val out = new RiffOut()
    out.chunk("RIFF", riffBody.buf.toByteArray)
    out.buf.toByteArray
  }

  /** A parsed AVI: header fields + the raw bytes of each video frame
    * chunk, in stream order. */
  private final case class ParsedAvi(width: Int, height: Int, fps: Int,
                                     bitCount: Int, compression: Int,
                                     frames: Vector[Array[Byte]])

  private def le16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], o: Int): Int =
    le16(b, o) | (le16(b, o + 2) << 16)
  private def fourccAt(b: Array[Byte], o: Int): String =
    new String(b, o, 4, "US-ASCII")

  /** Walk the RIFF tree of an AVI payload: header dims/rate from
    * avih/strh/strf of the FIRST `vids` stream, frame bytes from the
    * movi list's `NNdb`/`NNdc` chunks for that stream. Returns None for
    * anything that is not a well-formed AVI. */
  private def parseAvi(payload: Array[Byte]): Option[ParsedAvi] = {
    if (payload == null || payload.length < 12) return None
    if (fourccAt(payload, 0) != "RIFF" || fourccAt(payload, 8) != "AVI ") return None
    var w = 0; var h = 0; var fps = 0; var bitCount = 0; var compression = 0
    var videoStream = -1 // index of the first vids stream
    var streamIdx = -1 // index of the stream the current strl describes
    var sawStrhForStream = false
    val frames = Vector.newBuilder[Array[Byte]]

    def walk(start: Int, end: Int, inMovi: Boolean): Unit = {
      var p = start
      while (p + 8 <= end) {
        val ckid = fourccAt(payload, p)
        val size = le32(payload, p + 4)
        val body = p + 8
        if (size < 0 || body + size > end) return // torn chunk: stop
        ckid match {
          case "LIST" =>
            if (size >= 4) {
              val listType = fourccAt(payload, body)
              if (listType == "strl") { streamIdx += 1; sawStrhForStream = false }
              walk(body + 4, body + size, inMovi || listType == "movi")
            }
          case "strh" if size >= 32 =>
            sawStrhForStream = fourccAt(payload, body) == "vids"
            if (sawStrhForStream && videoStream < 0) {
              videoStream = streamIdx
              val scale = le32(payload, body + 20)
              val rate = le32(payload, body + 24)
              if (scale > 0) fps = rate / scale
            }
          case "strf" if size >= 40 && sawStrhForStream && streamIdx == videoStream =>
            w = le32(payload, body + 4)
            h = le32(payload, body + 8)
            bitCount = le16(payload, body + 14)
            compression = le32(payload, body + 16)
          case _ if inMovi && ckid.length == 4 &&
              ckid(0).isDigit && ckid(1).isDigit &&
              (ckid.substring(2) == "db" || ckid.substring(2) == "dc") =>
            val sid = (ckid(0) - '0') * 10 + (ckid(1) - '0')
            if (sid == math.max(videoStream, 0))
              frames += java.util.Arrays.copyOfRange(payload, body, body + size)
          case _ => () // unknown chunk: skip
        }
        p = body + size + (size & 1) // chunks pad to even
      }
    }

    walk(12, payload.length, inMovi = false)
    val fs = frames.result()
    if (w <= 0 || h <= 0 || fps <= 0 || fs.isEmpty) None
    else Some(ParsedAvi(w, h, fps, bitCount, compression, fs))
  }

  /** Decode ONE video frame chunk to (sumR, sumG, sumB) over its
    * pixels: BI_RGB 24-bit DIB parsed directly (bottom-up BGR, padded
    * rows); MJPG (or any biCompression ≠ 0) handed to ImageIO — MJPEG
    * frames are plain JPEGs. Returns None if undecodable. */
  private def decodeFrameSums(p: ParsedAvi, frame: Array[Byte]): Option[(Long, Long, Long)] = {
    if (p.compression == 0 && p.bitCount == 24) {
      val rowBytes = (p.width * 3 + 3) & ~3
      if (frame.length < rowBytes * p.height) return None
      var sr = 0L; var sg = 0L; var sb = 0L
      var y = 0
      while (y < p.height) {
        val base = (p.height - 1 - y) * rowBytes
        var x = 0
        while (x < p.width) {
          sb += frame(base + x * 3) & 0xff
          sg += frame(base + x * 3 + 1) & 0xff
          sr += frame(base + x * 3 + 2) & 0xff
          x += 1
        }
        y += 1
      }
      Some((sr, sg, sb))
    } else {
      decodeImage(frame).map(st => (st.sumR, st.sumG, st.sumB))
    }
  }

  /** Exact per-video decode stats — header-derived dims/fps, frame
    * count from the movi chunks, per-channel pixel sums over ALL
    * frames. For DIB payloads the sums are bit-exact (SQL-replayable);
    * for MJPEG they are real-JPEG-decode values (spec-checked within
    * tolerance; the header fields stay exact either way). */
  final case class VideoStats(media_id: Long, width: Int, height: Int,
                              fps: Int, n_frames: Int, duration_ms: Long,
                              sum_r: Long, sum_g: Long, sum_b: Long)

  /** REAL video decode: AVI/RIFF container parsed from scratch, frames
    * decoded per [[decodeFrameSums]]. Returns None for undecodable
    * payloads (including codecs the JDK cannot decode — those are what
    * [[stubDecodeFeatures]] remains for). */
  def decodeVideo(payload: Array[Byte]): Option[VideoStats] =
    try parseAvi(payload).flatMap { p =>
      var sr = 0L; var sg = 0L; var sb = 0L
      var ok = true
      p.frames.foreach { fr =>
        decodeFrameSums(p, fr) match {
          case Some((r, g, b)) => sr += r; sg += g; sb += b
          case None => ok = false
        }
      }
      if (!ok) None
      else Some(VideoStats(0L, p.width, p.height, p.fps, p.frames.size,
        p.frames.size * 1000L / p.fps, sr, sg, sb))
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Replace the payload of `video` rows with real AVI bytes for the
    * deterministic test video. Map-side; other kinds pass through. */
  def withVideoPayloads(media: DataFrame, codec: String = "DIB "): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[Media].mapPartitions { it =>
      codecInit()
      it.map { m =>
        if (m.kind == "video")
          m.copy(payload = makeAvi(m.media_id, codec),
            meta = m.meta.copy(
              width = Some(videoW(m.media_id)), height = Some(videoH(m.media_id)),
              n_frames = Some(videoFrameCount(m.media_id)),
              mime = Some("video/avi")))
        else m
      }
    }.toDF()
  }

  /** Decode every `video` row's payload per partition (payloads never
    * shuffle; only fixed-width stats move downstream). Undecodable
    * rows are dropped — the filter-then-decode contract. */
  def videoFeatures(media: DataFrame): Dataset[VideoStats] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.where(col("kind") === "video")
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        codecInit()
        it.flatMap { case (id, payload) =>
          decodeVideo(payload).map(_.copy(media_id = id))
        }
      }
  }

  /** One REALLY-decoded sampled frame: exact per-channel sums plus the
    * frame re-encoded as (lossless) PNG — the downstream-trainable
    * artifact of the frame-sampling pass. */
  final case class SampledFrame(media_id: Long, frame_idx: Int,
                                width: Int, height: Int,
                                sum_r: Long, sum_g: Long, sum_b: Long,
                                frame_png: Array[Byte])

  /** REAL frame sampling: parse the AVI container, keep every
    * `stride`-th frame, decode it (DIB directly / MJPEG via ImageIO)
    * and emit per-frame stats + a PNG re-encode of the frame. Rows
    * explode map-side (generator-shaped, no shuffle); undecodable
    * payloads/frames are dropped. Supersedes the byte-slice
    * [[sampleFrames]] contract with decoded output. */
  def sampleFramesDecoded(media: DataFrame, stride: Int = 2): Dataset[SampledFrame] = {
    require(stride >= 1, s"stride must be >= 1: $stride")
    val spark = media.sparkSession
    import spark.implicits._
    media.where(col("kind") === "video")
      .select(col("media_id"), col("payload"))
      .as[(Long, Array[Byte])]
      .mapPartitions { it =>
        codecInit()
        it.flatMap { case (id, payload) =>
          parseAvi(payload).toSeq.flatMap { p =>
            p.frames.zipWithIndex
              .filter { case (_, f) => f % stride == 0 }
              .flatMap { case (fr, f) =>
                frameToImage(p, fr).map { img =>
                  var sr = 0L; var sg = 0L; var sb = 0L
                  var y = 0
                  while (y < p.height) {
                    var x = 0
                    while (x < p.width) {
                      val rgb = img.getRGB(x, y)
                      sr += (rgb >> 16) & 0xff; sg += (rgb >> 8) & 0xff; sb += rgb & 0xff
                      x += 1
                    }
                    y += 1
                  }
                  val baos = new ByteArrayOutputStream()
                  ImageIO.write(img, "png", baos)
                  SampledFrame(id, f, p.width, p.height, sr, sg, sb, baos.toByteArray)
                }
              }
          }
        }
      }
  }

  /** Decode one frame chunk to a BufferedImage (DIB direct / JPEG via
    * ImageIO). */
  private def frameToImage(p: ParsedAvi, frame: Array[Byte]): Option[BufferedImage] = {
    if (p.compression == 0 && p.bitCount == 24) {
      val rowBytes = (p.width * 3 + 3) & ~3
      if (frame.length < rowBytes * p.height) return None
      val img = new BufferedImage(p.width, p.height, BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < p.height) {
        val base = (p.height - 1 - y) * rowBytes
        var x = 0
        while (x < p.width) {
          img.setRGB(x, y,
            ((frame(base + x * 3 + 2) & 0xff) << 16) |
            ((frame(base + x * 3 + 1) & 0xff) << 8) |
            (frame(base + x * 3) & 0xff))
          x += 1
        }
        y += 1
      }
      Some(img)
    } else {
      try Option(ImageIO.read(new ByteArrayInputStream(frame)))
      catch { case _: java.io.IOException => None }
    }
  }

  /** ======== STUB decode kernel (inter-frame codecs ONLY) ========
    * Image (ImageIO), audio (javax.sound) and video (AVI: DIB + MJPEG,
    * above) all decode for REAL on the bare JDK; what remains here is
    * inter-frame-compressed video (h264/vp9/…), which no JDK API can
    * decode — a real deployment plugs those codecs into
    * [[decodeFrameSums]]. The stub derives `featureDim` deterministic
    * floats from payload bytes so plumbing tests stay stable. */
  def stubDecodeFeatures(payload: Array[Byte], featureDim: Int): Array[Float] = {
    val out = new Array[Float](featureDim)
    if (payload != null) {
      var i = 0
      while (i < payload.length) {
        out(i % featureDim) += (payload(i) & 0xff) / 255.0f
        i += 1
      }
    }
    out
  }

  final case class MediaFeatures(media_id: Long, kind: String, n_bytes: Long,
                                 width: Option[Int], height: Option[Int],
                                 channels: Option[Int],
                                 px_sum_r: Option[Long], px_sum_g: Option[Long],
                                 px_sum_b: Option[Long],
                                 features: Array[Float])

  /** Feature extraction: one batch-iterator pass per partition (codec
    * init once per task), payload dropped on output. Image rows are
    * REALLY decoded (dims/channels/sums from the PNG bytes, features =
    * normalized red-channel histogram); audio/video rows carry meta
    * dims through and use the stub feature kernel. */
  def featurize(media: DataFrame, featureDim: Int = 8): Dataset[MediaFeatures] = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select(col("media_id"), col("kind"), col("payload"),
        col("meta.width").as("meta_w"), col("meta.height").as("meta_h"))
      .mapPartitions { it =>
        codecInit()
        it.map { r =>
          val id = r.getLong(0)
          val kind = r.getString(1)
          val payload = r.getAs[Array[Byte]](2)
          val nBytes = if (payload == null) 0L else payload.length.toLong
          val decoded = if (kind == "image") decodeImage(payload, featureDim) else None
          decoded match {
            case Some(st) =>
              val nPx = st.width.toLong * st.height
              val feats = st.histR.map(c => c.toFloat / nPx)
              MediaFeatures(id, kind, nBytes, Some(st.width), Some(st.height),
                Some(st.channels), Some(st.sumR), Some(st.sumG), Some(st.sumB), feats)
            case None =>
              MediaFeatures(id, kind, nBytes,
                Option(r.getAs[java.lang.Integer](3)).map(_.intValue),
                Option(r.getAs[java.lang.Integer](4)).map(_.intValue),
                None, None, None, None, stubDecodeFeatures(payload, featureDim))
          }
        }
      }
  }

  /** Frame sampling for video rows: emit every `stride`-th frame index
    * with a byte-slice "frame" — the declarative generator shape (rows
    * explode map-side, no shuffle) kept for payloads that are NOT AVI
    * containers; [[sampleFramesDecoded]] is the real-decode version. */
  def sampleFrames(media: DataFrame, stride: Int = 10): DataFrame =
    media.where(col("kind") === "video")
      .select(col("media_id"), col("meta.n_frames").as("n_frames"),
        posexplode(sequence(lit(0), greatest(col("meta.n_frames") - 1, lit(0)), lit(stride)))
          .as(Seq("sample_idx", "frame_idx")),
        col("payload"))
      .select(col("media_id"), col("frame_idx"),
        // stub "frame": a window into the payload bytes
        expr("substring(payload, frame_idx * 16 + 1, 16)").as("frame_bytes"))

  /** Resize. Image rows: REAL decode → exact nearest-neighbor resample
    * (src pixel (x·srcW/w, y·srcH/h), floor division — replayable by an
    * arithmetic oracle) → PNG re-encode as the new payload. Audio/video
    * rows: record the target dims in meta and pass the payload through
    * (the schema/partitioning contract of a real codec resize). */
  def resize(media: DataFrame, w: Int, h: Int): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.as[Media].mapPartitions { it =>
      codecInit()
      it.map { m =>
        val newMeta = m.meta.copy(width = Some(w), height = Some(h))
        if (m.kind != "image") m.copy(meta = newMeta)
        else {
          val src = if (m.payload == null) null
                    else ImageIO.read(new ByteArrayInputStream(m.payload))
          if (src == null) m.copy(meta = newMeta)
          else {
            val dst = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
            val sw = src.getWidth
            val sh = src.getHeight
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                dst.setRGB(x, y, src.getRGB(x * sw / w, y * sh / h) & 0xffffff)
                x += 1
              }
              y += 1
            }
            val baos = new ByteArrayOutputStream()
            ImageIO.write(dst, "png", baos)
            m.copy(payload = baos.toByteArray,
              meta = newMeta.copy(mime = Some("image/png")))
          }
        }
      }
    }.toDF()
  }
}
