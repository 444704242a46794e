package graft.operators

import scala.jdk.CollectionConverters._

/** Per-task codec handles for the real-media paths (r18 optimization).
  *
  * `javax.imageio.ImageIO.write/read` and `javax.sound.sampled.AudioSystem`
  * re-run SPI provider lookup on EVERY call; measured at the fixture's
  * payload sizes that lookup dominates the codec itself
  * (`AudioSystem.write` 1.1 s vs 0.067 s for 5000 clips with a reused
  * provider — 16×; `getAudioInputStream` 0.65 → 0.036 s; PNG read/write
  * ≈2× — OPTIMIZATION_r18.md §1). Each mapPartitions task obtains its
  * handles ONCE and reuses them row by row — the "amortize codec init per
  * task, not per row" discipline the operator scaladocs already name.
  * Artifact bytes are identical: `ImageIO`/`AudioSystem` delegate to
  * exactly these SPI providers with default parameters, so every decoded
  * pixel/sample gate and oracle is untouched.
  */
private[operators] object Codecs {
  import javax.imageio.{ImageIO, ImageReader, ImageWriter}
  import javax.imageio.stream.{MemoryCacheImageInputStream, MemoryCacheImageOutputStream}

  def pngWriter(): ImageWriter =
    ImageIO.getImageWritersByFormatName("png").next()

  def pngReader(): ImageReader =
    ImageIO.getImageReadersByFormatName("png").next()

  /** Encode with default write params — the same provider + defaults
    * `ImageIO.write(img, "png", out)` resolves to, minus the per-call
    * lookup; byte-identical output. */
  def encodePng(w: ImageWriter, img: java.awt.image.BufferedImage): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val ios = new MemoryCacheImageOutputStream(out)
    w.setOutput(ios)
    w.write(img)
    ios.flush()
    out.toByteArray
  }

  /** Decode image 0 — same provider `ImageIO.read` resolves to; the
    * undecodable-payload failure keeps the message the `require(img !=
    * null)` path raised. An IOException from a truncated-but-recognized
    * payload is RETHROWN AS-IS (the pre-r18 `ImageIO.read` path let it
    * propagate, and corrupt-data diagnostics must stay distinguishable
    * from "no decoder claimed the format"). */
  def decodePng(r: ImageReader, data: Array[Byte],
                ctxId: Long): java.awt.image.BufferedImage = {
    val iis = new MemoryCacheImageInputStream(new java.io.ByteArrayInputStream(data))
    val img =
      try { r.setInput(iis, true, true); r.read(0) }
      catch {
        case e: java.io.IOException => throw e
        case e: Exception => throw new IllegalArgumentException(
          s"requirement failed: undecodable PNG payload for doc $ctxId", e)
      } finally iis.close()
    img
  }

  def wavWriter(): javax.sound.sampled.spi.AudioFileWriter =
    java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileWriter])
      .iterator().asScala
      .find(_.isFileTypeSupported(javax.sound.sampled.AudioFileFormat.Type.WAVE))
      .getOrElse(throw new IllegalStateException("no WAVE AudioFileWriter SPI"))

  def wavReaders(): Array[javax.sound.sampled.spi.AudioFileReader] =
    java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileReader])
      .iterator().asScala.toArray

  /** First-provider-that-parses, i.e. exactly
    * `AudioSystem.getAudioInputStream`'s resolution walk without the
    * per-call `ServiceLoader` iteration. */
  def openWav(readers: Array[javax.sound.sampled.spi.AudioFileReader],
              data: Array[Byte]): javax.sound.sampled.AudioInputStream = {
    var i = 0
    while (i < readers.length) {
      try return readers(i).getAudioInputStream(new java.io.ByteArrayInputStream(data))
      catch { case _: javax.sound.sampled.UnsupportedAudioFileException => () }
      i += 1
    }
    throw new javax.sound.sampled.UnsupportedAudioFileException(
      "Stream of unsupported format")
  }
}
