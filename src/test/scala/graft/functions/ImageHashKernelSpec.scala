package graft.functions

import java.awt.image.BufferedImage
import java.io.ByteArrayInputStream
import javax.imageio.ImageIO

import org.scalatest.funsuite.AnyFunSuite

/** The raster kernel of [[ImageHash.hashPixels]] against the per-pixel
  * `getRGB` loop it replaced: every hash (and so every stored `img_id`)
  * must stay bit-identical, on the `TYPE_3BYTE_BGR` fast path and on
  * every decoded layout that falls back to row-wise `getRGB`.
  */
class ImageHashKernelSpec extends AnyFunSuite {
  import BufferedImage._

  /** The former kernel, verbatim: one `getRGB(x, y)` per pixel. */
  private def getRgbHash(img: BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    val sums = new Array[Double](64)
    val counts = new Array[Long](64)
    var y = 0
    while (y < h) {
      val gy = y * 8 / h
      var x = 0
      while (x < w) {
        val gx = x * 8 / w
        val rgb = img.getRGB(x, y)
        val r = (rgb >> 16) & 0xff
        val g = (rgb >> 8) & 0xff
        val b = rgb & 0xff
        val i = gy * 8 + gx
        sums(i) += (r * 299 + g * 587 + b * 114) / 1000.0
        counts(i) += 1
        x += 1
      }
      y += 1
    }
    var mean = 0.0
    var i = 0
    while (i < 64) {
      if (counts(i) == 0) {
        val rgb = img.getRGB((i % 8) * w / 8, (i / 8) * h / 8)
        sums(i) = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
          (rgb & 0xff) * 114) / 1000.0
      } else sums(i) /= counts(i)
      mean += sums(i)
      i += 1
    }
    mean /= 64
    var hashV = 0L
    i = 0
    while (i < 64) {
      if (sums(i) > mean) hashV |= 1L << (63 - i)
      i += 1
    }
    hashV
  }

  /** Seeded 8×8 block pattern, each cell with its own level per channel,
    * plus per-pixel noise (and noisy alpha when the type has it): no
    * cell is flat, and a kernel that mixed up channels would move cells
    * across the mean.
    */
  private def noisy(w: Int, h: Int, tpe: Int, seed: Long): BufferedImage = {
    val img = new BufferedImage(w, h, tpe)
    val rnd = new java.util.Random(seed)
    val blocks = Array.fill(64, 3)(rnd.nextInt(176))
    def ch(base: Int) = base + rnd.nextInt(80)
    for (y <- 0 until h; x <- 0 until w) {
      val Array(r, g, b) = blocks(y * 8 / h * 8 + x * 8 / w)
      if (tpe == TYPE_USHORT_GRAY)
        img.getRaster.setSample(x, y, 0, r * 256 + rnd.nextInt(20000))
      else
        img.setRGB(x, y,
          ((64 + rnd.nextInt(192)) << 24) | (ch(r) << 16) | (ch(g) << 8) | ch(b))
    }
    img
  }

  private def encode(img: BufferedImage, fmt: String): Array[Byte] = {
    val bytes = SyntheticImages.encode(img, fmt)
    assert(bytes.nonEmpty, s"no $fmt writer for type ${img.getType}")
    bytes
  }

  private val sizes = Seq((101, 77), (64, 96), (13, 7), (3, 5), (1, 1))

  // (label, image type written, format, image type the decoder yields)
  private val encoded = Seq(
    ("RGB JPEG", TYPE_INT_RGB, "jpg", TYPE_3BYTE_BGR),
    ("RGB PNG", TYPE_INT_RGB, "png", TYPE_3BYTE_BGR),
    ("RGBA PNG, partial alpha", TYPE_INT_ARGB, "png", TYPE_4BYTE_ABGR),
    ("gray PNG", TYPE_BYTE_GRAY, "png", TYPE_BYTE_GRAY),
    ("gray JPEG", TYPE_BYTE_GRAY, "jpg", TYPE_BYTE_GRAY),
    ("palette PNG", TYPE_BYTE_INDEXED, "png", TYPE_BYTE_INDEXED),
    ("16-bit gray PNG", TYPE_USHORT_GRAY, "png", TYPE_USHORT_GRAY),
    ("BMP", TYPE_INT_RGB, "bmp", TYPE_3BYTE_BGR))

  for ((label, written, fmt, decoded) <- encoded; (w, h) <- sizes)
    test(s"$label ${w}x$h: raster kernel == getRGB loop") {
      val bytes = encode(noisy(w, h, written, seed = w * 31L + h), fmt)
      val img = ImageIO.read(new ByteArrayInputStream(bytes))
      assert(img.getType === decoded)
      assert(ImageHash.averageHash(bytes) === getRgbHash(img))
      assert(ImageHash.hashPixels(img) === getRgbHash(img))
    }

  // an in-memory sub-image: a 3-byte raster whose sample model is
  // translated against the shared buffer
  test("3-byte BGR sub-image: raster kernel == getRGB loop") {
    val img = noisy(90, 70, TYPE_3BYTE_BGR, seed = 5)
    assert(ImageHash.hashPixels(img) === getRgbHash(img))
    val sub = img.getSubimage(7, 5, 61, 43)
    assert(sub.getType === TYPE_3BYTE_BGR)
    assert(sub.getRaster.getSampleModelTranslateX === -7)
    assert(ImageHash.hashPixels(sub) === getRgbHash(sub))
  }
}
