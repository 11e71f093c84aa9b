package graft.functions

import java.awt.image.{BufferedImage, ComponentSampleModel, DataBufferByte}
import java.io.ByteArrayInputStream
import javax.imageio.ImageIO

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** U1 — perceptual average-hash (aHash), rebuilt pure-JVM
  * (reference: `imagehash.average_hash`, `anarcptlib.py:152-153`):
  * grayscale (ITU-R 601 luma, PIL's "L" weights) → 8×8 area-average
  * downscale → mean threshold → 64-bit hash. The hash is the image's
  * content address: filename / `img_id` / dedup key (SURVEY.md §2.6 U1,
  * §2.5 J2).
  *
  * Divergence note: PIL resizes with Lanczos resampling, so the exact
  * bit patterns differ from the reference library's; the *semantics*
  * (deterministic content-addressing, re-encode invariance for lossless
  * formats, Hamming-distance locality) are identical, which is what the
  * pipeline relies on.
  */
object ImageHash {

  /** 64-bit aHash of an encoded image (png/jpg/bmp/...). */
  def averageHash(bytes: Array[Byte]): Long = {
    val img = ImageIO.read(new ByteArrayInputStream(bytes))
    require(img != null, "undecodable image bytes")
    hashPixels(img)
  }

  /** aHash of a decoded image: row-major luma sums into the 8×8 grid,
    * then the mean threshold.
    *
    * Measured on one core of a 4-vCPU Xeon (JDK 17), a 1024×1365 JPEG
    * (`TYPE_3BYTE_BGR`) decodes in 11–16 ms; reading its pixels through
    * `BufferedImage.getRGB(x, y)` (a `ColorModel` dispatch and a `byte[]`
    * per pixel) cost another 45–60 ms, the raster loop below ≈ 4 ms.
    * So decode is the kernel's cost now. Only `TYPE_3BYTE_BGR`, the
    * layout the JPEG/PNG/BMP decoders yield for RGB scans, reads its
    * bytes straight from the raster; every other layout goes through
    * `getRGB` a row at a time. Both paths add the same
    * `(r*299+g*587+b*114)/1000.0` per pixel into the same cell in the
    * same order, so the hash is bit-identical whichever path ran.
    */
  private[graft] def hashPixels(img: BufferedImage): Long = {
    val w = img.getWidth
    val h = img.getHeight
    val xb = cellBounds(w)
    val yb = cellBounds(h)
    val sums = new Array[Double](64)
    val sumRow = rowKernel(img, sums, xb)
    var y = 0
    while (y < h) {
      sumRow(y, y * 8 / h * 8)
      y += 1
    }
    var mean = 0.0
    var i = 0
    while (i < 64) {
      val count = (yb(i / 8 + 1) - yb(i / 8)) * (xb(i % 8 + 1) - xb(i % 8))
      if (count == 0) {
        // w or h < 8: the x*8/w mapping skips grid cells. Sample the
        // nearest pixel so every cell contributes (cells with pixels
        // are untouched, so >=8px hashes are unchanged).
        val rgb = img.getRGB((i % 8) * w / 8, (i / 8) * h / 8)
        sums(i) = luma(rgb >> 16, rgb >> 8, rgb)
      } else sums(i) /= count
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

  /** First pixel of each of the 8 grid columns (rows), plus `n`:
    * pixel x lands in column x*8/n, so column c starts at ceil(c*n/8).
    */
  private def cellBounds(n: Int): Array[Int] = Array.tabulate(9)(c => (c * n + 7) / 8)

  private def luma(r: Int, g: Int, b: Int): Double =
    ((r & 0xff) * 299 + (g & 0xff) * 587 + (b & 0xff) * 114) / 1000.0

  /** Picks the pixel reader for the image's layout; the result adds row
    * y's pixels into the grid row whose first cell is `cell`.
    */
  private def rowKernel(img: BufferedImage, sums: Array[Double],
                        xb: Array[Int]): (Int, Int) => Unit = {
    val raster = img.getRaster
    (img.getType, raster.getSampleModel, raster.getDataBuffer) match {
      case (BufferedImage.TYPE_3BYTE_BGR, sm: ComponentSampleModel, db: DataBufferByte)
          if sm.getBankIndices.forall(_ == 0) && sm.getPixelStride == 3 =>
        val d = db.getData(0)
        val scan = sm.getScanlineStride
        val base = db.getOffsets()(0) - raster.getSampleModelTranslateY * scan -
          raster.getSampleModelTranslateX * 3
        val Array(r, g, b) = sm.getBandOffsets
        (y, cell) => sumBgrBytes(sums, cell, xb, d, base + y * scan, r, g, b)
      case _ =>
        val w = img.getWidth
        val row = new Array[Int](w)
        (y, cell) => {
          img.getRGB(0, y, w, 1, row, 0, w)
          sumRgbInts(sums, cell, xb, row)
        }
    }
  }

  // The two loops below run one grid row's 8 cells, each a run of
  // adjacent pixels accumulated in a local: the same additions in the
  // same order as one `sums(cell) += ...` per pixel.

  /** 3-byte pixels. The stride is the literal 3 so that the JIT compiles
    * the loop as a counted loop (unrolled, range checks hoisted): 2x
    * faster than a variable stride on a 1 MP scan.
    */
  private def sumBgrBytes(sums: Array[Double], cell: Int, xb: Array[Int],
                          d: Array[Byte], row: Int, r: Int, g: Int, b: Int): Unit = {
    var c = 0
    while (c < 8) {
      var acc = sums(cell + c)
      var p = row + xb(c) * 3
      val end = row + xb(c + 1) * 3
      while (p < end) {
        acc += luma(d(p + r), d(p + g), d(p + b))
        p += 3
      }
      sums(cell + c) = acc
      c += 1
    }
  }

  /** Packed sRGB ints, as `getRGB` returns them. */
  private def sumRgbInts(sums: Array[Double], cell: Int, xb: Array[Int],
                         d: Array[Int]): Unit = {
    var c = 0
    while (c < 8) {
      var acc = sums(cell + c)
      var p = xb(c)
      val end = xb(c + 1)
      while (p < end) {
        val v = d(p)
        acc += luma(v >> 16, v >> 8, v)
        p += 1
      }
      sums(cell + c) = acc
      c += 1
    }
  }

  /** 16-char hex content-id, the reference's hashed filename form. */
  def hexId(hashCol: Column): Column = lower(lpad(hex(hashCol), 16, "0"))

  /** SQL registration: `SELECT ahash(content) FROM images`. */
  def register(spark: SparkSession): Unit =
    spark.udf.register("ahash", averageHash _)
}

/** S1/S2/S4 — image ingest (reference `anarcptlib.py:115-133`,
  * `watcher.py:58`): binaryFile scans over a directory / s3a path with
  * the reference's extension filter, plus content-addressing and J2
  * dedup. The same reader + glob serves local dirs and `s3a://` buckets.
  */
object ImageSource {
  val PathGlob = "*.{png,jpg,jpeg}"

  def images(spark: SparkSession, dir: String): DataFrame =
    spark.read.format("binaryFile")
      .option("pathGlobFilter", PathGlob)
      .load(dir)

  /** Content-address every image: 64-bit aHash + hex img_id.
    * Undecodable files are dropped, not fatal — but OBSERVABLY: each
    * drop is warn-logged with its path and counted in the named
    * accumulator `graft.images.undecodable` (reference parity: the
    * watcher logs every failed scan before skipping,
    * `watcher.py:145-147`; at scale silent corrupt-input loss is a data
    * bug you can't see).
    */
  def withHash(images: DataFrame): DataFrame = withHashCounted(images)._1

  /** As [[withHash]], also returning the drop counter so callers
    * (monitoring, specs) can observe corrupt-input loss after an action.
    *
    * At-least-once semantics: the counter increments inside a
    * transformation, so re-evaluating the frame (a second action,
    * a re-scan inside a join, task retry, speculation) re-counts the
    * same corrupt file — read it after exactly one action on a frame
    * evaluated once (persist/checkpoint first if the plan is reused).
    * Treat the value as "≥1 means corrupt input exists", not an exact
    * tally; the warn log carries the per-path detail.
    */
  def withHashCounted(images: DataFrame)
      : (DataFrame, org.apache.spark.util.LongAccumulator) =
    withHashCounted(images, ImageHash.averageHash)

  /** As above with `hash` as the per-file kernel (specs wrap it to count
    * calls).
    */
  private[graft] def withHashCounted(images: DataFrame, hash: Array[Byte] => Long)
      : (DataFrame, org.apache.spark.util.LongAccumulator) = {
    val sc = images.sparkSession.sparkContext
    val dropped = sc.longAccumulator("graft.images.undecodable")
    // Nondeterministic on purpose: a deterministic UDF lets the
    // optimizer push the isNotNull filter below the projection, and the
    // plan then decodes and hashes every file twice (once in the Filter,
    // again in the Project). The accumulator is a side effect too.
    val hashOrNull = udf((path: String, bytes: Array[Byte]) =>
      try Some(hash(bytes)) catch {
        case e: Exception =>
          dropped.add(1L)
          org.apache.log4j.Logger.getLogger("graft.ImageSource")
            .warn(s"undecodable image skipped: $path (${e.getMessage})")
          None
      }).asNondeterministic()
    val out = images
      .withColumn("img_hash", hashOrNull(col("path"), col("content")))
      .filter(col("img_hash").isNotNull)
      .withColumn("img_id", ImageHash.hexId(col("img_hash")))
    (out, dropped)
  }

  /** J2 — content-addressed dedup: re-scans of the same receipt collapse
    * onto one key; the *latest* write wins, matching the reference's
    * move-overwrite (`watcher.py:96-101`). Deterministic keeper via
    * max-by-(mtime, path), not dropDuplicates' arbitrary row.
    */
  def dedupByHash(hashed: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("img_hash"))
      .orderBy(col("modificationTime").desc, col("path").desc)
    hashed.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn")
  }
}
