package graft.operators

import org.scalatest.funsuite.AnyFunSuite

/** Pins Multimodal.ImageSpi (the JVM-cached javax.imageio SPI path —
  * the r18 optimization that removes the per-record synchronized
  * registry walk, Disposer registration and cache-stream copies) to
  * ImageIO's own behavior: byte-identical PNG encoding, and the same
  * reader pick / decoded pixels / rejections across payload classes.
  * The AudioSpiParitySpec twin for images.
  */
class ImageSpiParitySpec extends AnyFunSuite {

  /** The pre-r18 encode path, replayed verbatim: ImageIO.write through
    * the registry + cache stream. */
  private def pngViaImageIO(img: java.awt.image.BufferedImage): Array[Byte] = {
    javax.imageio.ImageIO.setUseCache(false)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** The pre-r18 decode path, replayed verbatim: createImageInputStream
    * + getImageReaders + the same dimension cap as boundedImageRead. */
  private def readViaImageIO(bytes: Array[Byte]): java.awt.image.BufferedImage = {
    javax.imageio.ImageIO.setUseCache(false)
    val iis = javax.imageio.ImageIO.createImageInputStream(new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) return null
      val reader = readers.next()
      try {
        reader.setInput(iis, true, true)
        val w = reader.getWidth(0).toLong
        val h = reader.getHeight(0).toLong
        if (w <= 0 || h <= 0 || w * h > (1L << 24)) null
        else reader.read(0)
      } finally reader.dispose()
    } finally iis.close()
  }

  private def rgb(img: java.awt.image.BufferedImage): Seq[Int] = {
    val w = img.getWidth; val h = img.getHeight
    (0 until h).flatMap(y => (0 until w).map(x => img.getRGB(x, y)))
  }

  private def testImg(w: Int, h: Int): java.awt.image.BufferedImage = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, (x * 31 + y * 17) & 0xFFFFFF)
    img
  }

  test("synthPng == the ImageIO.write path, byte for byte") {
    // includes negative seed/len (floorMod geometry) and the zero case
    for ((seed, len) <- Seq((0L, 0L), (42L, 500L), (-7L, 3L), (12L, -9L), (Long.MaxValue, 1L))) {
      val img = {
        val w = (java.lang.Math.floorMod(seed, 13L) + 4).toInt
        val h = (java.lang.Math.floorMod(seed, 7L) + 4).toInt
        val i = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
        val g = java.lang.Math.floorMod(seed, 256L).toInt
        val b = java.lang.Math.floorMod(len, 256L).toInt
        for (y <- 0 until h; x <- 0 until w) i.setRGB(x, y, (x << 16) | (g << 8) | b)
        i
      }
      assert(java.util.Arrays.equals(Multimodal.synthPng(seed, len), pngViaImageIO(img)),
        s"seed=$seed len=$len")
    }
  }

  test("ImageSpi.writePng == ImageIO.write for a generic RGB image") {
    val img = testImg(37, 23)
    assert(java.util.Arrays.equals(Multimodal.ImageSpi.writePng(img), pngViaImageIO(img)))
  }

  test("boundedImageRead == the ImageIO path across payload classes") {
    val jpeg = { // exercises a non-PNG reader SPI pick
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(testImg(9, 7), "jpg", bos); bos.toByteArray
    }
    val gif = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(testImg(5, 4), "gif", bos); bos.toByteArray
    }
    val bmp = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(testImg(6, 3), "bmp", bos); bos.toByteArray
    }
    val png = Multimodal.synthPng(42L, 500L)
    // a decodable PNG whose IHDR declares a raster past MaxDecodePixels:
    // patch width to 2^25 and fix nothing else — BOTH paths must reject
    // on the declared dimensions before allocating (the CRC never gets
    // checked because the reader is asked only for width/height first)
    val bomb = png.clone()
    bomb(16) = 0x02; bomb(17) = 0x00; bomb(18) = 0x00; bomb(19) = 0x00
    val payloads: Seq[(String, Array[Byte])] = Seq(
      "png" -> png,
      "jpeg" -> jpeg,
      "gif" -> gif,
      "bmp" -> bmp,
      "png truncated" -> png.take(30),
      "garbage" -> Array.tabulate[Byte](64)(i => (i * 7).toByte),
      "empty" -> Array.emptyByteArray,
      "decompression bomb header" -> bomb,
      // shorter than the PNG/GIF signatures: those SPIs' probes throw
      // EOFException, which ImageIO reads as "cannot decode"
      "png signature prefix" -> png.take(4),
      "bmp truncated to 6 bytes" -> bmp.take(6))
    // the short payloads must really make a probe throw, or they test nothing
    for (tag <- Seq("png signature prefix", "bmp truncated to 6 bytes")) {
      val bytes = payloads.toMap.apply(tag)
      assert(Multimodal.ImageSpi.readerSpis.exists { spi =>
        try { spi.canDecodeInput(new Multimodal.ImageSpi.ByteArrayImageInputStream(bytes)); false }
        catch { case _: java.io.IOException => true }
      }, s"no SPI probe throws on '$tag'")
    }
    // outcomes compared UNWRAPPED: a path that throws where the other
    // returns null (or throws something else) is a divergence
    def outcome(read: => java.awt.image.BufferedImage): Either[Class[_], java.awt.image.BufferedImage] =
      try Right(read) catch { case scala.util.control.NonFatal(e) => Left(e.getClass) }
    payloads.foreach { case (tag, bytes) =>
      (outcome(Multimodal.boundedImageRead(bytes)), outcome(readViaImageIO(bytes))) match {
        case (Left(got), Left(want)) => assert(got == want, s"payload '$tag' threw")
        case (Right(got), Right(want)) =>
          assert((got == null) == (want == null), s"payload '$tag': got=${got != null} want=${want != null}")
          if (got != null) {
            assert(got.getWidth == want.getWidth && got.getHeight == want.getHeight, s"payload '$tag'")
            assert(rgb(got) == rgb(want), s"payload '$tag' pixels")
          }
        case (got, want) => fail(s"payload '$tag': got $got, want $want")
      }
    }
  }

  test("decode round-trip reproduces the q71 formula (pixels are arithmetic in seed/len)") {
    for ((seed, len) <- Seq((42L, 500L), (-7L, 3L), (0L, 0L))) {
      val img = Multimodal.boundedImageRead(Multimodal.synthPng(seed, len))
      assert(img != null)
      val w = (java.lang.Math.floorMod(seed, 13L) + 4).toInt
      val h = (java.lang.Math.floorMod(seed, 7L) + 4).toInt
      assert(img.getWidth == w && img.getHeight == h)
      val g = java.lang.Math.floorMod(seed, 256L).toInt
      val b = java.lang.Math.floorMod(len, 256L).toInt
      assert(img.getRGB(w - 1, 0) == (0xFF000000 | ((w - 1) << 16) | (g << 8) | b))
    }
  }

  test("ByteArrayImageOutputStream supports the PNG chunk seek-back patching") {
    val out = new Multimodal.ImageSpi.ByteArrayImageOutputStream
    out.write(Array.tabulate[Byte](16)(_.toByte), 0, 16)
    val end = out.getStreamPosition
    out.seek(4L)
    out.writeInt(0xCAFEBABE) // patch bytes 4..7
    out.seek(end)
    out.write(0x7F)
    val bytes = out.toByteArray
    assert(bytes.length == 17)
    assert((bytes(4) & 0xFF) == 0xCA && (bytes(7) & 0xFF) == 0xBE)
    assert(bytes(8) == 8.toByte && (bytes(16) & 0xFF) == 0x7F)
  }
}
