package graft.operators

import java.awt.image.BufferedImage
import java.awt.RenderingHints
import java.io.ByteArrayOutputStream
import javax.imageio.ImageIO

/** Real-codec image payloads with planted near-duplicate structure. */
object SyntheticImages {

  /** Deterministic structurally-diverse base image: a smooth random
    * luma field (sum of 10 seeded low-frequency 2-D cosines) with a
    * seeded color tint. Smoothness is deliberate and matters twice:
    * flat-color synthetic shapes make adjacent dHash grid cells tie
    * EXACTLY, so any rescale/JPEG jitter flips the comparison
    * (measured: rectangles-on-gradient corpora put only ~60% of
    * rescaled copies within hamming 6), while a low-frequency field —
    * like a natural photo — separates adjacent cell means by tens of
    * luma units, far above resampling noise. Random phases/frequencies
    * make distinct bases' delta-sign patterns independent (measured
    * min cross-pair hamming >> threshold). */
  private def drawBase(baseId: Long, w: Int, h: Int): BufferedImage = {
    val rnd = new java.util.Random(baseId * 0x9e3779b97f4a7c15L + 13)
    val k = 10
    val fx = Array.fill(k)(0.5 + 4.0 * rnd.nextDouble())
    val fy = Array.fill(k)(0.5 + 4.0 * rnd.nextDouble())
    val ph = Array.fill(k)(2 * math.Pi * rnd.nextDouble())
    val amp = Array.fill(k)(10.0 + 20.0 * rnd.nextDouble())
    val (tr, tg, tb) = (0.7 + 0.6 * rnd.nextDouble(), 0.7 + 0.6 * rnd.nextDouble(),
      0.7 + 0.6 * rnd.nextDouble())
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var v = 128.0
        var j = 0
        while (j < k) {
          v += amp(j) * math.cos(2 * math.Pi * (fx(j) * x / w + fy(j) * y / h) + ph(j))
          j += 1
        }
        def clamp(d: Double) = math.max(0, math.min(255, math.rint(d).toInt))
        img.setRGB(x, y, (clamp(v * tr) << 16) | (clamp(v * tg) << 8) | clamp(v * tb))
        x += 1
      }
      y += 1
    }
    img
  }

  private def rescale(img: BufferedImage, w: Int, h: Int): BufferedImage = {
    val out = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val g = out.createGraphics()
    try {
      g.setRenderingHint(RenderingHints.KEY_INTERPOLATION,
        RenderingHints.VALUE_INTERPOLATION_BILINEAR)
      g.drawImage(img, 0, 0, w, h, null)
    } finally g.dispose()
    out
  }

  private def encodePng(img: BufferedImage): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  private def encodeJpeg(img: BufferedImage, quality: Float): Array[Byte] = {
    import javax.imageio.{IIOImage, ImageWriteParam}
    val writer = ImageIO.getImageWritersByFormatName("jpg").next()
    val bos = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(bos)
    try {
      writer.setOutput(ios)
      val p = writer.getDefaultWriteParam
      p.setCompressionMode(ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(quality)
      writer.write(null, new IIOImage(img, null, null), p)
    } finally { writer.dispose(); ios.close() }
    bos.toByteArray
  }

  private val BaseW = 96
  private val BaseH = 64

  /** Base image `i` as a 96×64 PNG. */
  def basePng(i: Long): Array[Byte] = encodePng(drawBase(i, BaseW, BaseH))

  /** Base `i` redrawn, rescaled bilinear to one of four resolutions and
    * re-encoded (PNG for even ids, JPEG q0.85 for odd). */
  def variant(i: Long): Array[Byte] = {
    val scale = Seq((64, 43), (128, 85), (192, 128), (48, 32))((i % 4).toInt)
    val v = rescale(drawBase(i, BaseW, BaseH), scale._1, scale._2)
    if (i % 2 == 0) encodePng(v) else encodeJpeg(v, 0.85f)
  }
}

/** Real YUV4MPEG2 clips of seeded temporally-drifting cosine fields. */
object SyntheticVideo {

  private val BaseW = 64
  private val BaseH = 48
  private val BaseFrames = 24

  /** Seeded temporally-smooth luma field: 10 low-frequency 2-D cosines
    * whose phases drift ≤ π/3 over the 24-frame clip (≤ π/72 per
    * frame), in NORMALIZED spatial coordinates so a rescaled render
    * shows the same content. The time axis is the absolute frame index
    * over the BASE length, so a truncated copy's frame t is
    * bit-identical in content to the base's frame t. */
  private final case class Field(fx: Array[Double], fy: Array[Double],
                                 ph: Array[Double], dr: Array[Double],
                                 amp: Array[Double]) {
    def luma(x: Int, y: Int, t: Int, w: Int, h: Int, quantize: Boolean): Int = {
      var v = 128.0
      var j = 0
      while (j < fx.length) {
        v += amp(j) * math.cos(2 * math.Pi * (fx(j) * x / w + fy(j) * y / h) +
          ph(j) + dr(j) * t / BaseFrames.toDouble)
        j += 1
      }
      val c = math.max(0, math.min(255, math.rint(v).toInt))
      if (quantize) c & ~1 else c
    }
  }

  private def fieldFor(baseId: Long): Field = {
    val rnd = new java.util.Random(baseId * 0x9e3779b97f4a7c15L + 29)
    val k = 10
    Field(
      fx = Array.fill(k)(0.5 + 4.0 * rnd.nextDouble()),
      fy = Array.fill(k)(0.5 + 4.0 * rnd.nextDouble()),
      ph = Array.fill(k)(2 * math.Pi * rnd.nextDouble()),
      dr = Array.fill(k)((2 * rnd.nextDouble() - 1) * math.Pi / 3),
      amp = Array.fill(k)(10.0 + 20.0 * rnd.nextDouble()))
  }

  /** Real Y4M payload of the base field: header + FRAME markers +
    * planar C420 (neutral chroma — BT.601 inversion reproduces the
    * luma exactly, as MultimodalAvSpec pins). `quantize` (luma forced
    * even) stands in for a lossy re-encode; `nFrames` below 24
    * truncates; `w`/`h` render the same content rescaled. */
  def y4mClip(baseId: Long, w: Int = BaseW, h: Int = BaseH,
              nFrames: Int = BaseFrames,
              quantize: Boolean = false): Array[Byte] = {
    val f = fieldFor(baseId)
    val bos = new java.io.ByteArrayOutputStream(
      nFrames * (w * h * 3 / 2 + 6) + 64)
    bos.write(s"YUV4MPEG2 W$w H$h F25:1 Ip A1:1 C420jpeg\n".getBytes("US-ASCII"))
    val chroma = new Array[Byte]((w / 2) * (h / 2))
    java.util.Arrays.fill(chroma, 128.toByte)
    var t = 0
    while (t < nFrames) {
      bos.write("FRAME\n".getBytes("US-ASCII"))
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          bos.write(f.luma(x, y, t, w, h, quantize))
          x += 1
        }
        y += 1
      }
      bos.write(chroma); bos.write(chroma)
      t += 1
    }
    bos.toByteArray
  }
}
