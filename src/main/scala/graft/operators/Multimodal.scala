package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata structs (builder brief).
  *
  * The actual codecs are NOT in this container, so decoding is a
  * pluggable [[Decoder]]; the default [[StubDecoder]] is a
  * deterministic fake (dims/durations derived from the bytes). The
  * Spark-side plumbing is real and what matters at 100 TB:
  *
  *  - media rides in `binary` columns next to its metadata (parquet
  *    stores it page-compressed; column pruning skips it when a query
  *    touches only metadata — the scan never reads media pages),
  *  - decode runs batch-at-a-time inside `mapPartitions` (the Scala
  *    twin of `mapInPandas`: one decoder instance per partition, rows
  *    streamed through it, no per-row setup cost),
  *  - outputs are typed structs declared up front, so downstream
  *    queries stay fully columnar.
  */
object Multimodal {

  /** batch decode interface — swap in a real codec outside this container */
  trait Decoder extends Serializable {
    def imageMeta(bytes: Array[Byte]): (Int, Int, Int)         // width, height, channels
    def resize(bytes: Array[Byte], w: Int, h: Int): Array[Byte]
    def frameSample(bytes: Array[Byte], n: Int): Seq[Array[Byte]]
  }

  /** Deterministic fake: metadata from byte content, "resize" scales
    * the payload, "frames" are contiguous byte slices. Replaces the
    * `???` a real codec would fill; keeps every pipeline test runnable
    * and reproducible. */
  object StubDecoder extends Decoder {
    def imageMeta(bytes: Array[Byte]): (Int, Int, Int) = {
      val b0 = if (bytes.nonEmpty) bytes(0) & 0xff else 0
      val b1 = if (bytes.length > 1) bytes(1) & 0xff else 0
      (64 + (b0 % 192), 64 + (b1 % 192), 3)
    }
    def resize(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
      val target = math.max(1, math.min(bytes.length, w * h * 3 / 1024 + 1))
      java.util.Arrays.copyOf(bytes, target)
    }
    def frameSample(bytes: Array[Byte], n: Int): Seq[Array[Byte]] = {
      if (bytes.isEmpty) Seq.empty
      else {
        val stride = math.max(1, bytes.length / n)
        (0 until n).map { i =>
          val from = math.min(i * stride, bytes.length - 1)
          java.util.Arrays.copyOfRange(bytes, from, math.min(from + stride, bytes.length))
        }
      }
    }
  }

  /** Real in-JVM codec over `javax.imageio` — JPEG/PNG/GIF/BMP, the
    * formats the JDK ships readers for; no native libraries, no
    * network. [[StubDecoder]] stays the default where cross-engine
    * oracle determinism matters (the stub's outputs are pure byte
    * functions both engines can mirror); this is the production path
    * for real image corpora.
    *
    *  - `imageMeta`: decoded width/height plus the color model's
    *    component count (3 for RGB JPEG, 4 for RGBA PNG, 1 for gray).
    *  - `resize`: bilinear rescale, re-encoded as PNG (lossless, so
    *    repeated pipeline passes don't compound JPEG artifacts).
    *  - `frameSample`: multi-frame containers the JDK can read
    *    (animated GIF) yield n evenly-spaced frames as PNG; a
    *    single-frame image yields itself once.
    *
    * Throws on undecodable payloads — wrap in [[FailSoft]] when the
    * corpus may contain garbage (at 100 TB it will). */
  object ImageIoDecoder extends Decoder {
    import java.awt.RenderingHints
    import java.awt.image.BufferedImage
    import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
    import javax.imageio.ImageIO

    private def decode(bytes: Array[Byte]): BufferedImage = {
      val img = ImageIO.read(new ByteArrayInputStream(bytes))
      require(img != null, "payload not decodable by any registered ImageIO reader")
      img
    }

    def imageMeta(bytes: Array[Byte]): (Int, Int, Int) = {
      val img = decode(bytes)
      (img.getWidth, img.getHeight, img.getColorModel.getNumComponents)
    }

    def resize(bytes: Array[Byte], w: Int, h: Int): Array[Byte] = {
      require(w > 0 && h > 0, s"target dims must be positive, got ${w}x$h")
      val img = decode(bytes)
      val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      try {
        g.setRenderingHint(RenderingHints.KEY_INTERPOLATION,
          RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, w, h, null)
      } finally g.dispose()
      val bos = new ByteArrayOutputStream()
      ImageIO.write(out, "png", bos)
      bos.toByteArray
    }

    def frameSample(bytes: Array[Byte], n: Int): Seq[Array[Byte]] = {
      require(n > 0, s"n must be positive, got $n")
      val iis = ImageIO.createImageInputStream(new ByteArrayInputStream(bytes))
      try {
        val readers = ImageIO.getImageReaders(iis)
        require(readers.hasNext, "payload not decodable by any registered ImageIO reader")
        val reader = readers.next()
        reader.setInput(iis)
        try {
          val total = reader.getNumImages(true)
          val idxs =
            if (total <= n) 0 until total
            else (0 until n).map(i => i * total / n)
          idxs.map { i =>
            val bos = new ByteArrayOutputStream()
            ImageIO.write(reader.read(i), "png", bos)
            bos.toByteArray
          }
        } finally reader.dispose()
      } finally iis.close()
    }
  }

  /** Corruption guard for real corpora: delegates to `inner`, mapping
    * any decode failure to sentinel outputs ((-1,-1,-1) meta, empty
    * payloads) instead of failing the task — one bad JPEG must not
    * kill a 100 TB pass. Pair with a downstream
    * `filter($"image_meta.width" >= 0)` quarantine. */
  final case class FailSoft(inner: Decoder) extends Decoder {
    def imageMeta(bytes: Array[Byte]): (Int, Int, Int) =
      try inner.imageMeta(bytes) catch { case scala.util.control.NonFatal(_) => (-1, -1, -1) }
    def resize(bytes: Array[Byte], w: Int, h: Int): Array[Byte] =
      try inner.resize(bytes, w, h) catch { case scala.util.control.NonFatal(_) => Array.emptyByteArray }
    def frameSample(bytes: Array[Byte], n: Int): Seq[Array[Byte]] =
      try inner.frameSample(bytes, n) catch { case scala.util.control.NonFatal(_) => Seq.empty }
  }

  // ---- audio ----

  final case class AudioMeta(sampleRate: Int, channels: Int, bitsPerSample: Int,
                             nFrames: Long, durationMs: Long)

  /** Batch audio decode interface — the audio twin of [[Decoder]]. */
  trait AudioDecoder extends Serializable {
    def audioMeta(bytes: Array[Byte]): AudioMeta
    /** Mono-mixed PCM normalized to [-1, 1], at most `maxSamples`
      * (head-truncated — enough for fingerprinting/quality scoring
      * without materializing an hour of audio per row). */
    def pcm(bytes: Array[Byte], maxSamples: Int): Array[Float]
  }

  /** Real in-JVM audio codec over `javax.sound.sampled` — WAV/AIFF/AU,
    * the formats the JDK ships readers for (the ImageIO pattern for
    * sound). PCM 8/16-bit, any channel count (mixed to mono by
    * averaging). Throws on undecodable payloads — wrap in
    * [[FailSoftAudio]] for dirty corpora. */
  object JvmAudioDecoder extends AudioDecoder {
    import javax.sound.sampled.AudioSystem
    import java.io.ByteArrayInputStream

    def audioMeta(bytes: Array[Byte]): AudioMeta = {
      val in = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
      try {
        val f = in.getFormat
        val frames = in.getFrameLength
        AudioMeta(f.getSampleRate.toInt, f.getChannels, f.getSampleSizeInBits,
          frames, (frames * 1000.0 / f.getSampleRate).toLong)
      } finally in.close()
    }

    def pcm(bytes: Array[Byte], maxSamples: Int): Array[Float] = {
      require(maxSamples > 0, s"maxSamples must be positive, got $maxSamples")
      val in = AudioSystem.getAudioInputStream(new ByteArrayInputStream(bytes))
      try {
        val f = in.getFormat
        val bps = f.getSampleSizeInBits
        require(bps == 8 || bps == 16, s"only PCM 8/16-bit supported, got $bps")
        val ch = f.getChannels
        val frameBytes = f.getFrameSize
        // AudioSystem.NOT_SPECIFIED (-1) = stream length unknown (legal
        // for e.g. some AU/AIFF streams): read up to maxSamples and let
        // EOF truncate, instead of allocating a negative-size buffer
        val wantFrames =
          if (in.getFrameLength < 0) maxSamples
          else math.min(in.getFrameLength, maxSamples.toLong).toInt
        val buf = new Array[Byte](wantFrames * frameBytes)
        var off = 0
        var read = 0
        while (off < buf.length && read >= 0) {
          read = in.read(buf, off, buf.length - off)
          if (read > 0) off += read
        }
        val nFrames = off / frameBytes
        val out = new Array[Float](nFrames)
        var i = 0
        while (i < nFrames) {
          var acc = 0.0f
          var c = 0
          while (c < ch) {
            val base = i * frameBytes + c * (bps / 8)
            acc += (if (bps == 16) {
              val lo = buf(base) & 0xff
              val hi = buf(base + 1)
              val s = if (f.isBigEndian) ((buf(base) << 8) | (buf(base + 1) & 0xff)).toShort
                      else ((hi << 8) | lo).toShort
              s / 32768.0f
            } else {
              // 8-bit WAV is unsigned by convention
              ((buf(base) & 0xff) - 128) / 128.0f
            })
            c += 1
          }
          out(i) = acc / ch
          i += 1
        }
        out
      } finally in.close()
    }
  }

  /** Audio corruption guard: sentinel meta (all -1) and empty PCM on
    * decode failure — the [[FailSoft]] pattern. */
  final case class FailSoftAudio(inner: AudioDecoder) extends AudioDecoder {
    def audioMeta(bytes: Array[Byte]): AudioMeta =
      try inner.audioMeta(bytes)
      catch { case scala.util.control.NonFatal(_) => AudioMeta(-1, -1, -1, -1L, -1L) }
    def pcm(bytes: Array[Byte], maxSamples: Int): Array[Float] =
      try inner.pcm(bytes, maxSamples)
      catch { case scala.util.control.NonFatal(_) => Array.emptyFloatArray }
  }

  // ---- video ----

  final case class VideoMeta(width: Int, height: Int, fpsNum: Int, fpsDen: Int,
                             nFrames: Int)

  /** Batch video decode interface. */
  trait VideoDecoder extends Serializable {
    def videoMeta(bytes: Array[Byte]): VideoMeta
    /** Up to `n` evenly-spaced frames, each PNG-encoded. */
    def frames(bytes: Array[Byte], n: Int): Seq[Array[Byte]]
  }

  /** Real pure-JVM video codec for YUV4MPEG2 (`.y4m`) — the standard
    * uncompressed interchange format (mjpegtools/ffmpeg `-f yuv4mpeg`):
    * an ASCII stream header `YUV4MPEG2 W<w> H<h> F<num>:<den> ...`,
    * then per frame an ASCII `FRAME...` line + planar YUV 4:2:0 data
    * (w*h luma + 2*(w/2*h/2) chroma). No JDK video support exists, so
    * this is hand-parsed; compressed containers (MP4/WebM) need a
    * native codec and stay behind the same trait. Frames are converted
    * BT.601 YUV→RGB and PNG-encoded, so video rows flow into the SAME
    * image pipeline ([[withImageMeta]], [[resized]]) unchanged. */
  object Y4mDecoder extends VideoDecoder {
    import java.awt.image.BufferedImage
    import java.io.ByteArrayOutputStream
    import javax.imageio.ImageIO

    private final case class Header(w: Int, h: Int, fn: Int, fd: Int, dataStart: Int)

    private def parseHeader(bytes: Array[Byte]): Header = {
      val nl = bytes.indexOf('\n'.toByte)
      require(nl > 0, "no YUV4MPEG2 stream header")
      val line = new String(bytes, 0, nl, java.nio.charset.StandardCharsets.US_ASCII)
      require(line.startsWith("YUV4MPEG2"), "not a YUV4MPEG2 stream")
      var w = -1; var h = -1; var fn = 30; var fd = 1
      line.split(' ').drop(1).foreach { tok =>
        if (tok.nonEmpty) tok.charAt(0) match {
          case 'W' => w = tok.substring(1).toInt
          case 'H' => h = tok.substring(1).toInt
          case 'F' =>
            val Array(a, b) = tok.substring(1).split(':')
            fn = a.toInt; fd = b.toInt
          case 'C' => require(tok.startsWith("C420"), s"only C420 chroma supported, got $tok")
          case _ => () // interlacing/aspect/extension params — irrelevant here
        }
      }
      require(w > 0 && h > 0, s"missing W/H in Y4M header: $line")
      // C420 subsamples chroma 2x2 — only defined for even dimensions;
      // odd W/H would make the ci=(y/2)*cw+(x/2) chroma index run past
      // the U/V row at the right/bottom edge
      require(w % 2 == 0 && h % 2 == 0,
        s"C420 requires even dimensions, got ${w}x$h")
      Header(w, h, fn, fd, nl + 1)
    }

    private def frameSize(w: Int, h: Int): Int = w * h + 2 * ((w / 2) * (h / 2))

    /** Offsets of each frame's pixel data. */
    private def frameOffsets(bytes: Array[Byte], hd: Header): Seq[Int] = {
      val fs = frameSize(hd.w, hd.h)
      val out = Seq.newBuilder[Int]
      var p = hd.dataStart
      while (p < bytes.length) {
        var nl = p
        while (nl < bytes.length && bytes(nl) != '\n'.toByte) nl += 1
        require(nl < bytes.length && nl + 1 + fs <= bytes.length, "truncated Y4M frame")
        val line = new String(bytes, p, nl - p, java.nio.charset.StandardCharsets.US_ASCII)
        require(line.startsWith("FRAME"), s"expected FRAME marker, got '$line'")
        out += nl + 1
        p = nl + 1 + fs
      }
      out.result()
    }

    def videoMeta(bytes: Array[Byte]): VideoMeta = {
      val hd = parseHeader(bytes)
      VideoMeta(hd.w, hd.h, hd.fn, hd.fd, frameOffsets(bytes, hd).size)
    }

    def frames(bytes: Array[Byte], n: Int): Seq[Array[Byte]] = {
      require(n > 0, s"n must be positive, got $n")
      val hd = parseHeader(bytes)
      val offs = frameOffsets(bytes, hd)
      val idxs = if (offs.size <= n) offs.indices else (0 until n).map(i => i * offs.size / n)
      idxs.map { fi =>
        val off = offs(fi)
        val img = new BufferedImage(hd.w, hd.h, BufferedImage.TYPE_INT_RGB)
        val cw = hd.w / 2
        var y = 0
        while (y < hd.h) {
          var x = 0
          while (x < hd.w) {
            val yy = bytes(off + y * hd.w + x) & 0xff
            val ci = (y / 2) * cw + (x / 2)
            val u = (bytes(off + hd.w * hd.h + ci) & 0xff) - 128
            val v = (bytes(off + hd.w * hd.h + cw * (hd.h / 2) + ci) & 0xff) - 128
            // BT.601 full-range
            def clamp(d: Double) = math.max(0, math.min(255, math.round(d).toInt))
            val r = clamp(yy + 1.402 * v)
            val g = clamp(yy - 0.344136 * u - 0.714136 * v)
            val b = clamp(yy + 1.772 * u)
            img.setRGB(x, y, (r << 16) | (g << 8) | b)
            x += 1
          }
          y += 1
        }
        val bos = new ByteArrayOutputStream()
        ImageIO.write(img, "png", bos)
        bos.toByteArray
      }
    }
  }

  /** Video corruption guard — the [[FailSoft]] pattern. */
  final case class FailSoftVideo(inner: VideoDecoder) extends VideoDecoder {
    def videoMeta(bytes: Array[Byte]): VideoMeta =
      try inner.videoMeta(bytes)
      catch { case scala.util.control.NonFatal(_) => VideoMeta(-1, -1, -1, -1, -1) }
    def frames(bytes: Array[Byte], n: Int): Seq[Array[Byte]] =
      try inner.frames(bytes, n)
      catch { case scala.util.control.NonFatal(_) => Seq.empty }
  }

  val imageMetaType: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("size_bytes", LongType, nullable = false)))

  /** Attach a decoded `image_meta` struct column. Runs the decoder
    * partition-batch-wise via `mapPartitions` over the full row —
    * schema declared explicitly so the result stays columnar. */
  def withImageMeta(df: DataFrame, binCol: String,
                    decoder: Decoder = StubDecoder): DataFrame = {
    val outSchema = StructType(df.schema.fields :+ StructField("image_meta", imageMetaType))
    val binIdx = df.schema.fieldIndex(binCol)
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      // one decoder per partition: per-batch setup cost, not per-row
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        val (w, h, c) = decoder.imageMeta(bytes)
        Row.fromSeq(r.toSeq :+ Row(w, h, c, bytes.length.toLong))
      }
    }(enc)
  }

  /** Thumbnail pass: replace the payload with a resized one, keeping
    * provenance columns. */
  def resized(df: DataFrame, binCol: String, w: Int, h: Int,
              decoder: Decoder = StubDecoder): DataFrame = {
    val outSchema = StructType(df.schema.fields :+ StructField("thumb", BinaryType))
    val binIdx = df.schema.fieldIndex(binCol)
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        Row.fromSeq(r.toSeq :+ decoder.resize(bytes, w, h))
      }
    }(enc)
  }

  /** Frame sampling: one output row per sampled frame (video → image
    * rows), exploding partition-locally with no shuffle. */
  def frameSampled(df: DataFrame, binCol: String, idCol: String, n: Int,
                   decoder: Decoder = StubDecoder): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", df.schema(idCol).dataType),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("frame", BinaryType)))
    val binIdx = df.schema.fieldIndex(binCol)
    val idIdx = df.schema.fieldIndex(idCol)
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        decoder.frameSample(bytes, n).zipWithIndex.map { case (fr, i) =>
          Row(r.get(idIdx), i, fr)
        }
      }
    }(enc)
  }

  val audioMetaType: StructType = StructType(Seq(
    StructField("sample_rate", IntegerType, nullable = false),
    StructField("channels", IntegerType, nullable = false),
    StructField("bits_per_sample", IntegerType, nullable = false),
    StructField("n_frames", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("size_bytes", LongType, nullable = false)))

  /** Attach a decoded `audio_meta` struct column — [[withImageMeta]]
    * for the audio modality; quarantine rows via
    * `filter($"audio_meta.sample_rate" >= 0)` with [[FailSoftAudio]]. */
  def withAudioMeta(df: DataFrame, binCol: String,
                    decoder: AudioDecoder = FailSoftAudio(JvmAudioDecoder)): DataFrame = {
    val outSchema = StructType(df.schema.fields :+ StructField("audio_meta", audioMetaType))
    val binIdx = df.schema.fieldIndex(binCol)
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        val m = decoder.audioMeta(bytes)
        Row.fromSeq(r.toSeq :+ Row(m.sampleRate, m.channels, m.bitsPerSample,
          m.nFrames, m.durationMs, bytes.length.toLong))
      }
    }(enc)
  }

  /** Windowed audio features — one row per (clip, window): RMS energy,
    * peak amplitude, zero-crossing rate. The quality-scoring scan for
    * audio corpora (silence/clipping detection, speech-vs-noise
    * heuristics); decode + features stream partition-locally, no
    * shuffle, and only the first `maxSamples` PCM frames materialize
    * per row. */
  def audioFeatures(df: DataFrame, binCol: String, idCol: String,
                    windowSize: Int = 4096, maxSamples: Int = 1 << 20,
                    decoder: AudioDecoder = FailSoftAudio(JvmAudioDecoder)): DataFrame = {
    require(windowSize > 0)
    val outSchema = StructType(Seq(
      StructField("media_id", df.schema(idCol).dataType),
      StructField("window_idx", IntegerType, nullable = false),
      StructField("rms", DoubleType, nullable = false),
      StructField("peak", DoubleType, nullable = false),
      StructField("zcr", DoubleType, nullable = false)))
    val binIdx = df.schema.fieldIndex(binCol)
    val idIdx = df.schema.fieldIndex(idCol)
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        val pcm = decoder.pcm(r.getAs[Array[Byte]](binIdx), maxSamples)
        pcm.grouped(windowSize).zipWithIndex.map { case (w, i) =>
          var sq = 0.0; var peak = 0.0; var zc = 0
          var j = 0
          while (j < w.length) {
            val v = w(j)
            sq += v.toDouble * v
            if (math.abs(v) > peak) peak = math.abs(v)
            if (j > 0 && (w(j - 1) >= 0) != (v >= 0)) zc += 1
            j += 1
          }
          Row(r.get(idIdx), i, math.sqrt(sq / math.max(1, w.length)), peak,
            zc.toDouble / math.max(1, w.length - 1))
        }
      }
    }(enc)
  }

  /** Production audio fingerprint — the real-PCM realization of the
    * qm04 stub's energy-delta sign chain (Haitsma & Kalker 2002
    * shape): bit w of the `bits`-wide fingerprint is set iff
    * RMS(window w+1) > RMS(window w) over the first bits+1
    * [[audioFeatures]] windows of the decoded clip.
    *
    *  - GAIN-INVARIANT by construction: scaling the waveform scales
    *    every window RMS by the same positive factor, preserving every
    *    delta sign — a volume-normalized re-master fingerprints
    *    identically (spec-pinned).
    *  - NOT resample-invariant: windows are sample-count frames, so
    *    clips must be resampled to a canonical rate upstream (the
    *    documented contract, same as dHash's decode-first).
    *  - Undecodable clips (empty PCM under [[FailSoftAudio]]) and
    *    clips too short to fingerprint (< 2 windows) yield a NULL
    *    fingerprint — the cannot-judge sentinel, mirroring
    *    [[withPerceptualHash]]; clips with 2..bits+1 windows carry a
    *    deterministic partial fingerprint.
    *
    * Output: one row per input id — (media_id, fp). The fingerprint
    * feeds the SAME hamming machinery as the image plane
    * ([[hashNearDup]] / [[hashNearDupMih]] / IncrementalHashDedup), so
    * near-dup audio rides the measured funnels unchanged. Decode +
    * windowing stream partition-locally (audioFeatures caps PCM at
    * bits+2 windows per clip); the fold to `bits` bits is one bounded
    * window function + an 8-byte-key aggregation.
    *
    * `bits` is the fingerprint width (delta-sign count; bits+1 windows
    * decoded). The default is 64 — the audio-plane sweep (NOTES_r13)
    * measured the 32-bit space collapsing under birthday pressure by ~10⁴ clips
    * (precision 0.38 at 20k, and best-match confusion dragged recall
    * to 0.81) while 64 bits read precision 0.99 / recall 1.00 on the
    * same corpus; a 32-bit width exists only as the qm04 STUB-twin
    * shape (the stub is [[textAudioFp32]], a different function — the
    * oracle never pins this one's width). */
  def audioFingerprint(df: DataFrame, binCol: String, idCol: String,
                       windowSize: Int = 4096,
                       decoder: AudioDecoder = FailSoftAudio(JvmAudioDecoder),
                       bits: Int = 64): DataFrame = {
    require(bits >= 1 && bits <= 64, s"bits must be 1..64, got $bits")
    import org.apache.spark.sql.expressions.Window
    val feats = audioFeatures(df, binCol, idCol, windowSize,
      maxSamples = (bits + 2) * windowSize, decoder)
    val w = Window.partitionBy(col("media_id")).orderBy(col("window_idx"))
    val fps = feats.filter(col("window_idx") <= bits)
      .withColumn("next_rms", lead(col("rms"), 1).over(w))
      .filter(col("window_idx") <= bits - 1 && col("next_rms").isNotNull)
      .groupBy(col("media_id"))
      .agg(sum(when(col("next_rms") > col("rms"),
        expr("shiftleft(CAST(1 AS BIGINT), window_idx)")).otherwise(lit(0L)))
        .as("fp"))
    df.select(col(idCol).as("media_id"))
      .join(fps, Seq("media_id"), "left")
  }

  val videoMetaType: StructType = StructType(Seq(
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("fps_num", IntegerType, nullable = false),
    StructField("fps_den", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false),
    StructField("size_bytes", LongType, nullable = false)))

  /** Attach a decoded `video_meta` struct column. */
  def withVideoMeta(df: DataFrame, binCol: String,
                    decoder: VideoDecoder = FailSoftVideo(Y4mDecoder)): DataFrame = {
    val outSchema = StructType(df.schema.fields :+ StructField("video_meta", videoMetaType))
    val binIdx = df.schema.fieldIndex(binCol)
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.getAs[Array[Byte]](binIdx)
        val m = decoder.videoMeta(bytes)
        Row.fromSeq(r.toSeq :+ Row(m.width, m.height, m.fpsNum, m.fpsDen,
          m.nFrames, bytes.length.toLong))
      }
    }(enc)
  }

  // ---- perceptual hashing (the image plane's dedup key) ----

  /** 64-bit difference hash (dHash) of an image payload: decode,
    * reduce to a 9x8 AREA-AVERAGED luma grid, set bit r*8+c iff
    * luma(r,c) > luma(r,c+1). Robust to re-encoding, scaling, and mild
    * color shifts; hamming distance between hashes is the near-dup
    * signal. Throws on undecodable payloads — the caller decides
    * quarantine policy (see [[withPerceptualHash]]).
    *
    * The grid is an exact box filter (mean luma over each cell's pixel
    * block), matching the published recipe's "resize with
    * antialiasing" step. A single-step bilinear `drawImage` downscale
    * — the previous implementation — samples only a 2x2 neighborhood
    * per output pixel and aliases on large downscales: measured on the
    * image-plane corpus (NOTES_r12) it drifted rescaled copies to hamming
    * 10+ (recall 0.42 at threshold 6), while the box filter holds the
    * same copies at hamming <= 3 and is cheaper (one int-array pass,
    * no Graphics2D). */
  def dhash64(bytes: Array[Byte]): Long = {
    import java.io.ByteArrayInputStream
    import javax.imageio.ImageIO
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    require(img != null, "payload not decodable by any registered ImageIO reader")
    val w = img.getWidth
    val h = img.getHeight
    // one reused scanline buffer instead of a full-resolution int[w*h]
    // getRGB copy (which doubled peak per-row memory on large images
    // next to ImageIO's own decoded raster) — O(w) extra memory. Each
    // cell's sum accumulates luma values in the SAME (y, x) order as
    // the previous whole-image pass (the accumulator round-trips
    // through grid between rows, which doesn't change double values),
    // so the means are bit-identical and no near-tie grid comparison
    // can flip.
    val rowBuf = new Array[Int](w)
    val grid = new Array[Double](72) // 8 rows x 9 cols
    var gy = 0
    while (gy < 8) {
      val y0 = gy * h / 8
      val y1 = math.max(y0 + 1, (gy + 1) * h / 8)
      var y = y0
      while (y < y1) {
        img.getRGB(0, y, w, 1, rowBuf, 0, w)
        var gx = 0
        while (gx < 9) {
          val x0 = gx * w / 9
          val x1 = math.max(x0 + 1, (gx + 1) * w / 9)
          var sum = grid(gy * 9 + gx)
          var x = x0
          while (x < x1) {
            val rgb = rowBuf(x)
            sum += 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
              0.114 * (rgb & 0xff)
            x += 1
          }
          grid(gy * 9 + gx) = sum
          gx += 1
        }
        y += 1
      }
      var gx = 0
      while (gx < 9) {
        val x0 = gx * w / 9
        val x1 = math.max(x0 + 1, (gx + 1) * w / 9)
        grid(gy * 9 + gx) /= ((y1 - y0) * (x1 - x0))
        gx += 1
      }
      gy += 1
    }
    var out = 0L
    var r = 0
    while (r < 8) {
      var c = 0
      while (c < 8) {
        if (grid(r * 9 + c) > grid(r * 9 + c + 1)) out |= 1L << (r * 8 + c)
        c += 1
      }
      r += 1
    }
    out
  }

  /** Attach a `phash64` column (null = undecodable, the quarantine
    * sentinel) — decode + hash stream partition-locally, the media
    * bytes never shuffle; downstream dedup works on the 8-byte hash. */
  def withPerceptualHash(df: DataFrame, binCol: String,
                         outCol: String = "phash64"): DataFrame = {
    val outSchema = StructType(df.schema.fields :+ StructField(outCol, LongType))
    val binIdx = df.schema.fieldIndex(binCol)
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val h: java.lang.Long =
          try java.lang.Long.valueOf(dhash64(r.getAs[Array[Byte]](binIdx)))
          catch { case scala.util.control.NonFatal(_) => null }
        Row.fromSeq(r.toSeq :+ h)
      }
    }(enc)
  }

  /** Hash-banded near-dup over ANY integer perceptual hash column —
    * the qd-funnel shape on hamming space: split the hash into `bands`
    * contiguous `bandBits`-bit keys, docs sharing a (band, key) bucket
    * are candidates, candidates verify with bit_count(xor). Pigeonhole
    * recall guarantee: `maxHamming` flipped bits touch at most
    * `maxHamming` bands, so while `bands > maxHamming` every true pair
    * shares at least one EXACT band — recall 1.0, never all-pairs.
    * One explode (x bands), one key-shuffled self-join, codegen'd
    * popcount verify — the image twin of simhash64 dedup.
    *
    * Output (qd13 conventions): one row per input id, `dup_of` = the
    * smallest candidate id within `maxHamming` (null when none),
    * `hamming` of that pair, `is_dup` flag. */
  def hashNearDup(hashes: DataFrame, idCol: String, hashCol: String,
                  bands: Int, bandBits: Int, maxHamming: Int): DataFrame = {
    require(bands > maxHamming,
      s"pigeonhole recall needs bands ($bands) > maxHamming ($maxHamming)")
    require(bands * bandBits <= 64, "bands x bandBits must fit the 64-bit hash")
    import org.apache.spark.sql.expressions.Window
    val mask = (1L << bandBits) - 1
    // materialize the (id, hash) table once: it is referenced by BOTH
    // self-join sides and the final left join, and the hash column may
    // be an expensive derivation (the Dedup signature-cache pattern) —
    // 9-16 bytes/doc of state vs recomputing the hash 3x. Eager
    // localCheckpoint (not persist) so the blocks are owned by the RDD
    // lineage and GC'd with it — a persist here would leak one cached
    // relation in the cache manager per invocation of a long session.
    val h = hashes.select(col(idCol), col(hashCol)).localCheckpoint(true)
    val banded = h.select(col(idCol), col(hashCol),
      posexplode(array((0 until bands).map(b =>
        shiftright(col(hashCol), b * bandBits).bitwiseAND(lit(mask))): _*))
        .as(Seq("band", "bkey")))
    val cands = banded.select(col(idCol).as("a_id"), col(hashCol).as("a_h"),
        col("band"), col("bkey"))
      .join(banded.select(col(idCol).as("b_id"), col(hashCol).as("b_h"),
        col("band"), col("bkey")), Seq("band", "bkey"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("a_h"), col("b_h"))
      .distinct()
    val hits = cands
      .withColumn("hamming",
        bit_count(col("a_h").bitwiseXOR(col("b_h"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
    val best = hits
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("b_id")).orderBy(col("a_id").asc)))
      .filter(col("rn") === 1)
      .select(col("b_id").as(idCol), col("a_id").as("dup_of"), col("hamming"))
    h.join(best, Seq(idCol), "left")
      .select(col(idCol), col(hashCol), col("dup_of"), col("hamming"),
        col("dup_of").isNotNull.as("is_dup"))
  }

  /** Multi-index-hashing near-dup over an integer perceptual hash —
    * the WIDE-KEY sibling of [[hashNearDup]] (Norouzi, Punjani &
    * Fleet, "Fast Search in Hamming Space with Multi-Index Hashing",
    * CVPR 2012). [[hashNearDup]]'s pigeonhole split needs
    * `bands > maxHamming`, which forces NARROW band keys on a 64-bit
    * hash (8 bands → 8-bit keys → 256 buckets/band) — and narrow keys
    * saturate: incidental same-bucket candidates grow ~N²/2^bandBits,
    * measured in the scale-family control sweep (NOTES_r12) as the one
    * super-linear term. MIH generalizes the pigeonhole: `maxHamming`
    * flips over `bands` bands leave SOME band with at most
    * t = floor(maxHamming/bands) flips, so exact-matching each band
    * against every key within hamming t of the probe's band value
    * keeps recall 1.0 with FEW, WIDE bands (4 × 16-bit keys cover
    * hamming ≤ 7 at t=1 — 256× more buckets per band than the 8×8
    * split, with a LARGER guaranteed radius than its ≤ 6).
    *
    * Cost shape: probe side explodes to bands × (1 + bandBits) rows
    * per item (t = 1: the exact key + every single-bit flip); the
    * target side stays at `bands` rows. Candidates still verify with
    * one codegen'd popcount. t is capped at 1 — t=2 would cube the
    * probe fan-out, and 4×16-bit bands at t=1 already cover the
    * hamming budget any perceptual-hash dedup uses.
    *
    * Output contract = [[hashNearDup]]'s exactly: one row per input
    * id, `dup_of` = smallest candidate id within `maxHamming`,
    * `hamming`, `is_dup` (spec-pinned equal where both funnels apply). */
  def hashNearDupMih(hashes: DataFrame, idCol: String, hashCol: String,
                     bands: Int, bandBits: Int, maxHamming: Int): DataFrame = {
    val t = maxHamming / bands
    require(t <= 1,
      s"per-band tolerance ${t} > 1 (maxHamming=$maxHamming over $bands bands): " +
      "raise bands or use hashNearDup — t=2 probe fan-out is quadratic in bandBits")
    require(bands * (t + 1) > maxHamming,
      s"pigeonhole: bands*(t+1) must exceed maxHamming (got $bands*${t + 1} <= $maxHamming)")
    require(bands * bandBits <= 64, "bands x bandBits must fit the 64-bit hash")
    import org.apache.spark.sql.expressions.Window
    val mask = (1L << bandBits) - 1
    val h = hashes.select(col(idCol), col(hashCol)).localCheckpoint(true)
    def bandKey(b: Int) = shiftright(col(hashCol), b * bandBits).bitwiseAND(lit(mask))
    val exact = h.select(col(idCol), col(hashCol),
      posexplode(array((0 until bands).map(bandKey): _*)).as(Seq("band", "bkey")))
    // probe expansion: per band the exact key plus (t=1) every
    // single-bit flip — XOR symmetry makes one-sided expansion
    // sufficient (x's probe set contains y's exact key iff y's
    // contains x's)
    val probe =
      if (t == 0) exact
      else h.select(col(idCol), col(hashCol),
        posexplode(array((0 until bands).flatMap(b =>
          bandKey(b) +: (0 until bandBits).map(j =>
            bandKey(b).bitwiseXOR(lit(1L << j)))): _*))
          .as(Seq("slot", "bkey")))
        .select(col(idCol), col(hashCol),
          (col("slot") / (bandBits + 1)).cast("int").as("band"), col("bkey"))
    val cands = probe.select(col(idCol).as("a_id"), col(hashCol).as("a_h"),
        col("band"), col("bkey"))
      .join(exact.select(col(idCol).as("b_id"), col(hashCol).as("b_h"),
        col("band"), col("bkey")), Seq("band", "bkey"))
      .filter(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"), col("a_h"), col("b_h"))
      .distinct()
    val hits = cands
      .withColumn("hamming",
        bit_count(col("a_h").bitwiseXOR(col("b_h"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
    val best = hits
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("b_id")).orderBy(col("a_id").asc)))
      .filter(col("rn") === 1)
      .select(col("b_id").as(idCol), col("a_id").as("dup_of"), col("hamming"))
    h.join(best, Seq(idCol), "left")
      .select(col(idCol), col(hashCol), col("dup_of"), col("hamming"),
        col("dup_of").isNotNull.as("is_dup"))
  }

  /** Band-regime advisor — the qj02/qd19 pricing discipline applied to
    * the hamming funnels: BEFORE committing a (bands, bandBits,
    * tolerance) geometry for [[hashNearDup]] / [[hashNearDupMih]] /
    * [[IncrementalHashDedup]], price each candidate geometry's
    * quadratic stage from the store's MEASURED band-key occupancy.
    * The video plane's regime inversion (NOTES_r13) is the motivating bug class:
    * MIH wins decisively on uniform fingerprints (wide buckets, few
    * incidental collisions — 4.6× at a 16M-row store, NOTES_r13)
    * yet measured 2.6× WORSE on concentrated perceptual hashes, where
    * candidate volume follows the occupancy SECOND MOMENT — a
    * distribution property no static rule sees. This operator reads
    * that moment exactly. Honest limits: `implied_pairs` is the
    * funnel's pre-distinct join OUTPUT (the term that saturates at
    * scale — the decisive one for a growing store), while the probe
    * EXPLODE volume is linear (`probe_rows_per_item` × items) and its
    * realized cost depends on map-side combine behavior the census
    * cannot see; when two geometries price within the same order of
    * magnitude, measure before committing (the video-plane
    * discipline, NOTES_r13).
    *
    * Per geometry (counts only — hashes explode to (band, key) rows
    * once, aggregate to an occupancy table, and all pricing runs on
    * that table; no candidate pair is ever materialized):
    *  - `implied_pairs` = the EXACT candidate-pair mass the funnel's
    *    bucket join would emit after its id-order filter:
    *    Σ_buckets c·(c−1)/2, plus for tolerance 1 the single-bit-flip
    *    cross-bucket mass Σ_{k,j} c_k·c_{k⊕2^j} / 2 (each unordered
    *    cross pair joins once from each side's probe expansion, the
    *    order filter keeps exactly one — the sum is even by symmetry,
    *    so the halving is integer-exact),
    *  - `occupied_buckets` / `max_bucket` — the concentration read
    *    (a fat max bucket at wide bandBits is the perceptual-hash
    *    signature that inverts the uniform-hash prediction),
    *  - `guaranteed_radius` = bands·(tolerance+1)−1, the pigeonhole
    *    recall-1.0 reach; `covers` = it reaches `maxHamming`,
    *  - `probe_rows_per_item` = bands·(1+tolerance·bandBits), the
    *    probe-side explode fan-out (MIH's other cost term).
    *
    * `rank` orders geometries by (covers desc, implied_pairs asc,
    * probe_rows_per_item asc, bands asc, band_bits asc) — rank 1 is
    * the recommendation: the cheapest verified-recall-1.0 funnel on
    * THIS data. Geometry constraints are the funnels' own
    * (tolerance ≤ 1, bands × bandBits ≤ 64). */
  def bandRegimeAdvice(hashes: DataFrame, hashCol: String,
                       geometries: Seq[(Int, Int, Int)],
                       maxHamming: Int): DataFrame = {
    require(geometries.nonEmpty, "at least one candidate geometry")
    geometries.foreach { case (bands, bandBits, tol) =>
      require(tol >= 0 && tol <= 1, s"tolerance must be 0 or 1, got $tol")
      require(bands > 0 && bandBits > 0 && bands * bandBits <= 64,
        s"bands x bandBits must fit the 64-bit hash (got $bands x $bandBits)")
    }
    import org.apache.spark.sql.expressions.Window
    // one pass over the data per geometry, shared scan of the 8-byte
    // hash column; pinned so the N geometry passes don't recompute an
    // expensive hash derivation
    val h = hashes.select(col(hashCol).cast("long").as("hash")).localCheckpoint(true)
    val perGeometry = geometries.map { case (bands, bandBits, tol) =>
      val mask = (1L << bandBits) - 1
      def bandKey(b: Int) = shiftright(col("hash"), b * bandBits).bitwiseAND(lit(mask))
      val occ0 = h.select(
          posexplode(array((0 until bands).map(bandKey): _*)).as(Seq("band", "bkey")))
        .groupBy(col("band"), col("bkey")).agg(count(lit(1)).as("c"))
      // checkpoint only when reused: the t=1 flip join reads occ three
      // times (stats + both join sides); a t=0 geometry consumes it
      // once, and the occupancy table can reach bands × 2^bandBits
      // rows — a wasted materialization barrier at wide bandBits
      val occ = if (tol == 1) occ0.localCheckpoint(true) else occ0
      val within = occ.agg(
        // c·(c−1) is even per bucket, and the sum of longs stays a
        // LONG — shiftright is the exact integer halving (a `/ 2`
        // would promote to double and round past 2^53)
        coalesce(shiftright(sum(col("c") * (col("c") - 1)), 1), lit(0L))
          .as("within_pairs"),
        count(lit(1)).as("occupied_buckets"),
        coalesce(max(col("c")), lit(0L)).as("max_bucket"))
      val cross =
        if (tol == 0) within.select(lit(0L).as("cross_pairs"))
        else {
          // flip join on the OCCUPANCY table only: |occ| x bandBits
          // probe keys against |occ| buckets — metadata-sized, the
          // funnel's N x (1+bandBits) explode never runs here
          val flipped = occ.select(col("band"), col("c").as("ca"),
            explode(array((0 until bandBits).map(j =>
              col("bkey").bitwiseXOR(lit(1L << j))): _*)).as("fkey"))
          flipped.join(occ.select(col("band"), col("bkey").as("fkey"),
              col("c").as("cb")), Seq("band", "fkey"))
            .agg(coalesce(sum(col("ca") * col("cb")), lit(0L)).as("x"))
            // Σ c_k·c_{k⊕bit} counts each unordered bucket pair from
            // both sides — even by symmetry, shiftright halves exactly
            .select(shiftright(col("x"), 1).as("cross_pairs"))
        }
      val radius = bands * (tol + 1) - 1
      within.crossJoin(broadcast(cross)).select(
        lit(s"${bands}x${bandBits}b t$tol").as("geometry"),
        lit(bands).as("bands"), lit(bandBits).as("band_bits"),
        lit(tol).as("tolerance"),
        lit(radius.toLong).as("guaranteed_radius"),
        lit(radius >= maxHamming).as("covers"),
        col("occupied_buckets"), col("max_bucket"),
        (col("within_pairs") + col("cross_pairs")).as("implied_pairs"),
        lit((bands * (1 + tol * bandBits)).toLong).as("probe_rows_per_item"))
    }
    val all = perGeometry.reduce(_ union _)
    // non-foldable constant partition key (the IvfIndex.centroids
    // trick — must derive from a DATA column, not an aliased literal,
    // or Catalyst folds it and WindowExec warns): the frame is
    // |geometries| rows, the single partition is deliberate
    val w = Window.partitionBy(pmod(col("occupied_buckets"), lit(1L))).orderBy(
      col("covers").desc, col("implied_pairs").asc,
      col("probe_rows_per_item").asc, col("bands").asc, col("band_bits").asc)
    all.withColumn("rank", row_number().over(w).cast("long"))
  }

  /** All verified frame-hash PAIRS between `probe` and `target` — the
    * vote-input shape ([[frameVoteNearDup]]), vs [[hashNearDup]]'s
    * best-only per-id contract. Banded candidate generation (narrow
    * pigeonhole at probeTolerance 0; MIH single-bit-flip expansion of
    * the PROBE side at 1 — the [[hashNearDupMih]] scheme, target side
    * always exact-banded) + one codegen'd popcount verify. Returns
    * (probe_id, probe_frame, target_id, target_frame, hamming) for
    * every cross-row pair within `maxHamming` — callers apply their
    * own id-ordering / self-pair filter (videoNearDup: target < probe;
    * an incremental wave: target from the store, or a smaller batch
    * clip). Only ids + 8-byte hashes ride the shuffle. */
  def frameHashPairs(probe: DataFrame, target: DataFrame,
                     idCol: String, frameCol: String, hashCol: String,
                     bands: Int, bandBits: Int, maxHamming: Int,
                     probeTolerance: Int = 0): DataFrame = {
    require(probeTolerance >= 0 && probeTolerance <= 1,
      s"probeTolerance must be 0 (narrow bands) or 1 (MIH), got $probeTolerance")
    require(bands * (probeTolerance + 1) > maxHamming,
      s"pigeonhole recall needs bands x (tolerance+1) > maxHamming " +
      s"(got $bands x ${probeTolerance + 1} <= $maxHamming)")
    require(bands * bandBits <= 64, "bands x bandBits must fit the 64-bit hash")
    val mask = (1L << bandBits) - 1
    def bandKey(b: Int) = shiftright(col(hashCol), b * bandBits).bitwiseAND(lit(mask))
    def banded(t: DataFrame) = t.select(col(idCol), col(frameCol), col(hashCol),
      posexplode(array((0 until bands).map(bandKey): _*)).as(Seq("band", "bkey")))
    val probeSide =
      if (probeTolerance == 0) banded(probe)
      else probe.select(col(idCol), col(frameCol), col(hashCol),
        posexplode(array((0 until bands).flatMap(b =>
          bandKey(b) +: (0 until bandBits).map(j =>
            bandKey(b).bitwiseXOR(lit(1L << j)))): _*))
          .as(Seq("slot", "bkey")))
        .select(col(idCol), col(frameCol), col(hashCol),
          (col("slot") / (bandBits + 1)).cast("int").as("band"), col("bkey"))
    probeSide.select(col(idCol).as("probe_id"), col(frameCol).as("probe_frame"),
        col(hashCol).as("p_h"), col("band"), col("bkey"))
      .join(banded(target).select(col(idCol).as("target_id"),
        col(frameCol).as("target_frame"), col(hashCol).as("t_h"),
        col("band"), col("bkey")), Seq("band", "bkey"))
      .select(col("probe_id"), col("probe_frame"), col("target_id"),
        col("target_frame"), col("p_h"), col("t_h"))
      .distinct()
      .withColumn("hamming",
        bit_count(col("p_h").bitwiseXOR(col("t_h"))).cast("long"))
      .filter(col("hamming") <= maxHamming)
      .select(col("probe_id"), col("probe_frame"), col("target_id"),
        col("target_frame"), col("hamming"))
  }

  /** The shared vote-decision core (its semantics are pinned
    * cross-engine by qm11 AND qm12 — one implementation so they cannot
    * fork): distinct probe-frame ballots per (probe, target) pair,
    * threshold ≥ voteFrac × the probe's hashed-frame count, best =
    * most votes then smallest target id. `pairs` carries
    * (probe_id, target_id, probe_frame); `nf` carries
    * (probe_id, n_frames). Returns (probe_id, dup_of, votes). */
  private[graft] def voteBest(pairs: DataFrame, nf: DataFrame,
                              voteFrac: Double): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val votes = pairs.select(col("probe_id"), col("target_id"), col("probe_frame"))
      .distinct()
      .groupBy(col("probe_id"), col("target_id")).agg(count(lit(1)).as("votes"))
    val judged = votes.join(nf, "probe_id")
      .filter(col("votes") >= lit(voteFrac) * col("n_frames"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("votes").desc, col("target_id").asc)
    judged.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("probe_id"), col("target_id").as("dup_of"), col("votes"))
  }

  /** FRAME-VOTE near-dup over per-frame hashes — the clip-level dedup
    * decision composed from the measured hamming machinery: clip b is
    * a dup of clip a (a < b) when at least `voteFrac` of b's hashed
    * frames match SOME frame of a within `maxHamming`
    * ([[frameHashPairs]] keeps every verified pair; votes count
    * DISTINCT b-frames, so a static scene can't stuff the ballot).
    * Input: (idCol, frameCol, hashCol) rows, one per hashed frame.
    * Output: one row per distinct input id — (idCol, n_frames,
    * dup_of = best match by most votes then smallest id, votes,
    * is_dup). Ids with zero hashed frames are absent — [[videoNearDup]]
    * left-joins them back as the cannot-judge sentinel. */
  def frameVoteNearDup(frameHashes: DataFrame, idCol: String,
                       frameCol: String, hashCol: String,
                       bands: Int, bandBits: Int, maxHamming: Int,
                       voteFrac: Double = 0.5,
                       probeTolerance: Int = 0): DataFrame = {
    require(voteFrac > 0 && voteFrac <= 1, s"voteFrac must be in (0, 1], got $voteFrac")
    // referenced by the pair funnel (twice), the frame census, and the
    // final join — and the hash column may be an expensive derivation
    val fh = frameHashes.select(col(idCol), col(frameCol), col(hashCol))
      .localCheckpoint(true)
    val nf = fh.groupBy(col(idCol)).agg(count(lit(1)).as("n_frames"))
    val pairs = frameHashPairs(fh, fh, idCol, frameCol, hashCol,
        bands, bandBits, maxHamming, probeTolerance)
      .filter(col("target_id") < col("probe_id"))
    val best = voteBest(pairs,
        nf.select(col(idCol).as("probe_id"), col("n_frames")), voteFrac)
      .select(col("probe_id").as(idCol), col("dup_of"), col("votes"))
    nf.join(best, Seq(idCol), "left")
      .select(col(idCol), col("n_frames"), col("dup_of"), col("votes"),
        col("dup_of").isNotNull.as("is_dup"))
  }

  /** VIDEO near-dup end to end — the production clip-dedup path:
    * sample up to `nFrames` frames per clip ([[videoFrames]],
    * partition-local explode), per-frame [[dhash64]] (frame bytes
    * dropped before any shuffle — only ids + 8-byte hashes ride), then
    * the frame-vote decision ([[frameVoteNearDup]]). Clips whose
    * payload yields no decodable frames (corrupt under
    * [[FailSoftVideo]], or every frame undecodable) report
    * n_frames = 0 / is_dup = false — the cannot-judge sentinel, never
    * a dropped row (the qc11 lesson). Scale shape: decode + hash are
    * partition-local over the media bytes; the only shuffles move
    * (id, frame_idx, hash) triples and the per-clip-pair vote counts. */
  def videoNearDup(clips: DataFrame, binCol: String, idCol: String,
                   nFrames: Int = 8,
                   bands: Int = 4, bandBits: Int = 16, maxHamming: Int = 6,
                   voteFrac: Double = 0.5,
                   probeTolerance: Int = 0,
                   decoder: VideoDecoder = FailSoftVideo(Y4mDecoder)): DataFrame = {
    val frames = videoFrames(clips, binCol, idCol, nFrames, decoder)
    val hashed = withPerceptualHash(frames, "frame", "fhash")
      .select(col("media_id"), col("frame_idx"), col("fhash"))
      .filter(col("fhash").isNotNull)
    val decisions = frameVoteNearDup(hashed, "media_id", "frame_idx", "fhash",
      bands, bandBits, maxHamming, voteFrac, probeTolerance)
    clips.select(col(idCol).as("media_id"))
      .join(decisions, Seq("media_id"), "left")
      .select(col("media_id"), coalesce(col("n_frames"), lit(0L)).as("n_frames"),
        col("dup_of"), col("votes"),
        coalesce(col("is_dup"), lit(false)).as("is_dup"))
  }

  /** Per-clip frame-hash ARRAY — the stream-input shape of the video
    * plane ([[graft.streaming.EventStreams.multimodalPipelineStream]]'s
    * `fhashes` column): decode, sample up to `n` frames, [[dhash64]]
    * each, all inside ONE partition-local pass (no explode, no
    * shuffle, media bytes never leave the scan). Undecodable clips —
    * and clips whose every frame fails to hash — yield an EMPTY array,
    * the stream's cannot-judge sentinel; per-frame failures drop just
    * that frame. Output: (media_id, fhashes). */
  def withFrameHashes(df: DataFrame, binCol: String, idCol: String, n: Int,
                      decoder: VideoDecoder = FailSoftVideo(Y4mDecoder)): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", df.schema(idCol).dataType),
      StructField("fhashes", ArrayType(LongType, containsNull = false),
        nullable = false)))
    val binIdx = df.schema.fieldIndex(binCol)
    val idIdx = df.schema.fieldIndex(idCol)
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val hashes = decoder.frames(r.getAs[Array[Byte]](binIdx), n).flatMap { fr =>
          try Some(dhash64(fr))
          catch { case scala.util.control.NonFatal(_) => None }
        }
        Row(r.get(idIdx), hashes)
      }
    }(enc)
  }

  // ---- columnar stub twins (oracle-replayable decode math) ----
  //
  // The gate queries need hashes BOTH engines can compute; these mirror
  // [[StubDecoder]]'s philosophy — a deterministic pure function of the
  // payload — expressed as codegen'd Catalyst expressions (and, on the
  // oracle side, as generated ANSI SQL over the same codepoint math).
  // The production path swaps in [[dhash64]] / real PCM upstream; every
  // operator downstream of the hash column is shared.

  /** Codepoint luma sampled on a fixed stride: cell i of a 64-cell
    * pseudo-grid over the payload. */
  private def cellLuma(text: Column, i: Int, cells: Int): Column = {
    val n = greatest(length(text), lit(1)).cast("long")
    val s = greatest(floor(length(text) / lit(cells)).cast("long"), lit(1L))
    (ascii(text.substr((lit(1L) + (lit(i.toLong) * s) % n).cast("int"), lit(1))) % 256)
  }

  /** 56-bit dHash over an 8x8 codepoint grid: bit r*7+c set iff
    * cell(r,c) > cell(r,c+1) (56 = 8 rows x 7 comparisons — stays
    * positive in a signed 64-bit in both engines). One projection,
    * whole-stage codegen, zero shuffle.
    *
    * Serves the compiled [[graft.functions.expressions.TextDhash56Expr]]
    * (one tree node, codegen = a static call): the unrolled Column form
    * ([[textDhash56Unrolled]], spec-pinned bit-identical) is a ~5000-node
    * tree costing ~2.4 s of PER-EXECUTION driver analysis+codegen. */
  def textDhash56(text: Column): Column = call_function("graft_text_dhash56", text)

  /** The unrolled Column-composition form of [[textDhash56]] — kept as
    * the executable spec of the compiled expression's semantics
    * (StubHashExprSpec pins equality) and as the measured corner of the
    * driver-tax trade space documented on [[windowEnergy]]. */
  def textDhash56Unrolled(text: Column): Column = {
    val cells = (0 until 64).map(i => cellLuma(text, i, 64))
    (for { r <- 0 until 8; c <- 0 until 7 } yield
      when(cells(r * 8 + c) > cells(r * 8 + c + 1), lit(1L << (r * 7 + c)))
        .otherwise(lit(0L))).reduce(_ + _)
  }

  /** The DuckDB replay of [[textDhash56]] over column `text` of a
    * relation exposing `n` (greatest(length,1)) and `s` (stride). */
  def textDhash56Sql: String = {
    def luma(i: Int) =
      s"(ascii(substr(text, CAST(1 + (($i * s) % n) AS INT), 1)) % 256)"
    (for { r <- 0 until 8; c <- 0 until 7 } yield {
      val bit = r * 7 + c
      s"(CASE WHEN ${luma(r * 8 + c)} > ${luma(r * 8 + c + 1)} " +
        s"THEN (1::BIGINT << $bit) ELSE 0::BIGINT END)"
    }).mkString("(", " + ", ")")
  }

  /** Window "energy" for the audio stub: 4 signed amplitude samples
    * per window, energy = sum of squares (exact integer math — no
    * float fuzz between engines).
    *
    * The trade space, measured over rounds 11-12: (a) UNROLLED static
    * expressions — ~2.4 s per-execution driver work (analysis +
    * codegen of a ~5000-node projection), ~0.3 ms/1k rows codegen'd;
    * (b) transform/zip_with/aggregate HOFs — small tree but
    * CodegenFallback, 2.5 ms/ROW interpreted (~25x the codegen'd row
    * cost), growing WITH the data; (c) the compiled custom expression
    * ([[graft.functions.expressions.StubHashes]], round 12) — one tree
    * node, codegen emits a static JVM call: ~0 driver AND ~0/row, now
    * what [[textDhash56]]/[[textAudioFp32]]/[[textAudioEnergy]] serve.
    * The unrolled forms stay as the executable semantic spec. */
  private def windowEnergy(text: Column, w: Int, windows: Int): Column = {
    val k = windows * 4
    (0 until 4).map { j =>
      val a = cellLuma(text, w * 4 + j, k) - 128
      a * a
    }.reduce(_ + _)
  }

  /** 32-bit audio-style fingerprint: 33 window energies, bit w set iff
    * energy(w+1) > energy(w) — the energy-delta sign chain
    * (Haitsma-Kalker shape) over the stub PCM. Compiled expression;
    * [[textAudioFp32Unrolled]] is the semantic spec. */
  def textAudioFp32(text: Column): Column = call_function("graft_text_audio_fp32", text)

  /** Unrolled spec twin of [[textAudioFp32]]. */
  def textAudioFp32Unrolled(text: Column): Column = {
    val e = (0 until 33).map(w => windowEnergy(text, w, 33))
    (0 until 32).map(w =>
      when(e(w + 1) > e(w), lit(1L << w)).otherwise(lit(0L))).reduce(_ + _)
  }

  /** 63-bit WIDE audio fingerprint stub — the qm10 oracle twin of the
    * production [[audioFingerprint]] width (bits = 64): 64 window
    * energies over a 256-cell grid, bit w (0..62) set iff
    * energy(w+1) > energy(w). 63 bits keeps the value positive in a
    * signed 64-bit in both engines (the dhash56 trick) while carrying
    * the width that survives birthday pressure at large clip counts
    * (audio-plane sweep, NOTES_r13: 32-bit precision 0.38 at 20k clips, 64-bit
    * 0.99). Compiled expression; [[textAudioFp63Unrolled]] is the
    * semantic spec. */
  def textAudioFp63(text: Column): Column = call_function("graft_text_audio_fp63", text)

  /** Unrolled spec twin of [[textAudioFp63]]. */
  def textAudioFp63Unrolled(text: Column): Column = {
    val e = (0 until 64).map(w => windowEnergy(text, w, 64))
    (0 until 63).map(w =>
      when(e(w + 1) > e(w), lit(1L << w)).otherwise(lit(0L))).reduce(_ + _)
  }

  /** DuckDB replay of the wide stub's window-w energy (needs `n`,
    * `s256` = greatest(length // 256, 1)). */
  def textAudioEnergy64Sql(w: Int): String = {
    (0 until 4).map { j =>
      val k = w * 4 + j
      val amp = s"((ascii(substr(text, CAST(1 + (($k * s256) % n) AS INT), 1)) % 256) - 128)"
      s"($amp * $amp)"
    }.mkString("(", " + ", ")")
  }

  /** Total stub-PCM energy (exact integer). Compiled expression;
    * [[textAudioEnergyUnrolled]] is the semantic spec. */
  def textAudioEnergy(text: Column): Column = call_function("graft_text_audio_energy", text)

  /** Unrolled spec twin of [[textAudioEnergy]]. */
  def textAudioEnergyUnrolled(text: Column): Column =
    (0 until 33).map(w => windowEnergy(text, w, 33)).reduce(_ + _).cast("long")

  /** DuckDB replay of the 33 window energies (needs `n`, `s132`). */
  def textAudioEnergySql(w: Int): String = {
    (0 until 4).map { j =>
      val k = w * 4 + j
      val amp = s"((ascii(substr(text, CAST(1 + (($k * s132) % n) AS INT), 1)) % 256) - 128)"
      s"($amp * $amp)"
    }.mkString("(", " + ", ")")
  }

  /** Video → image rows: up to `n` PNG frames per clip, exploding
    * partition-locally with no shuffle — the output schema matches
    * [[frameSampled]], so sampled video frames flow straight into the
    * image plane ([[withImageMeta]] / [[resized]]). */
  def videoFrames(df: DataFrame, binCol: String, idCol: String, n: Int,
                  decoder: VideoDecoder = FailSoftVideo(Y4mDecoder)): DataFrame = {
    val outSchema = StructType(Seq(
      StructField("media_id", df.schema(idCol).dataType),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("frame", BinaryType)))
    val binIdx = df.schema.fieldIndex(binCol)
    val idIdx = df.schema.fieldIndex(idCol)
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        decoder.frames(r.getAs[Array[Byte]](binIdx), n).zipWithIndex.map {
          case (fr, i) => Row(r.get(idIdx), i, fr)
        }
      }
    }(enc)
  }
}
