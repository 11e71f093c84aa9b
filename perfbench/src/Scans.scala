package perfbench

import java.awt.image.{BufferedImage, DataBufferInt}
import java.nio.file.{Files, Path}
import java.util.SplittableRandom
import java.util.concurrent.{Executors, TimeUnit}

/** One file of a generated scan set. `pattern` is the 64-bit aHash the
  * file has by construction (undefined for a broken file); `original`
  * names the scan a byte-identical re-scan copies.
  */
final case class ScanFile(name: String, pattern: Long, format: String,
                          width: Int, height: Int, original: Option[String],
                          broken: Boolean = false)

/** Seeded scan sets whose aHashes are fixed by construction, so the
  * result check never trusts the engine's hash.
  *
  * Every 8x8 grid cell of a scan is flat dark (40-60) or flat bright
  * (190-215) grey plus a small repeating texture (+-12); with 20 to 44
  * bright cells the mean of the 64 cell means stays between the two
  * bands, so a cell's hash bit is exactly its brightness.
  */
object Scans {

  private def patterns(rnd: SplittableRandom, n: Int): Vector[Long] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[Long]
    while (seen.size < n) {
      val p = rnd.nextLong()
      val ones = java.lang.Long.bitCount(p)
      if (ones >= 20 && ones <= 44) seen += p
    }
    seen.toVector
  }

  /** `ingest_scans`: megapixel-class JPEG and PNG scans, 10% byte-identical
    * re-scans and a few undecodable files. Counts, sizes and formats do
    * not depend on the seed; only the content does.
    */
  def ingest(seed: Long, distinct: Int): Vector[ScanFile] = {
    val rnd = new SplittableRandom(seed)
    val ps = patterns(rnd, distinct)
    val scans = ps.zipWithIndex.map { case (p, i) =>
      if (i % 4 == 3) ScanFile(f"scan_$i%05d.png", p, "png", 800, 1066, None)
      else ScanFile(f"scan_$i%05d.jpg", p, "jpg", 1024, 1365, None)
    }
    val rescans = (0 until distinct / 10).map { j =>
      val o = scans((j * 7919) % distinct)
      o.copy(name = f"rescan_$j%05d.${o.format}", original = Some(o.name))
    }
    val broken = (0 until 4).map(k =>
      ScanFile(f"broken_$k%02d.${if (k % 2 == 0) "jpg" else "png"}", 0L, "", 0, 0, None, broken = true))
    scans ++ rescans ++ broken
  }

  /** `watch_receipts`: small low-resolution PNG scans in release order.
    * Every tenth release from `rescanLag` on re-scans an original
    * released at least `rescanLag` releases earlier, so re-scans land
    * in later micro-batches than their originals.
    */
  def watch(seed: Long, releases: Int, rescanLag: Int): Vector[ScanFile] = {
    val rnd = new SplittableRandom(seed)
    val ps = patterns(rnd, releases).iterator
    val out = Vector.newBuilder[ScanFile]
    val originals = scala.collection.mutable.ArrayBuffer.empty[ScanFile]
    for (i <- 0 until releases) {
      if (i >= rescanLag && i % 10 == 9) {
        val o = originals(rnd.nextInt(originals.size - rescanLag + 1))
        out += o.copy(name = f"w$i%06d.png", original = Some(o.name))
      } else {
        val s = ScanFile(f"w$i%06d.png", ps.next(), "png", 64, 96, None)
        originals += s
        out += s
      }
    }
    out.result()
  }

  def render(pattern: Long, w: Int, h: Int, rnd: SplittableRandom): BufferedImage = {
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    val px = img.getRaster.getDataBuffer.asInstanceOf[DataBufferInt].getData
    val level = Array.tabulate(64) { i =>
      if (((pattern >>> (63 - i)) & 1L) == 1L) 190 + rnd.nextInt(26) else 40 + rnd.nextInt(21)
    }
    val texture = Array.fill(32 * 32)(rnd.nextInt(25) - 12)
    val colCell = Array.tabulate(w)(x => x * 8 / w)
    var y = 0
    while (y < h) {
      val rowCell = (y * 8 / h) * 8
      val rowTex = (y & 31) * 32
      var x = 0
      while (x < w) {
        val v = level(rowCell + colCell(x)) + texture(rowTex + (x & 31))
        px(y * w + x) = v * 0x010101
        x += 1
      }
      y += 1
    }
    img
  }

  /** Writes a scan set into `dir` on `threads` threads. Each file's bytes
    * depend only on (seed, file), never on thread order.
    */
  def write(dir: Path, seed: Long, files: Vector[ScanFile], threads: Int): Unit = {
    Files.createDirectories(dir)
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val firsts = files.zipWithIndex.filter(_._1.original.isEmpty).map { case (f, i) =>
        pool.submit(new Runnable {
          def run(): Unit = {
            val rnd = new SplittableRandom(seed * 31 + i)
            val bytes =
              if (f.broken) { // no image magic: ImageIO finds no reader
                val b = new Array[Byte](4096); rnd.nextBytes(b); b(0) = 'B'; b
              }
              else graft.functions.SyntheticImages.encode(
                render(f.pattern, f.width, f.height, rnd), if (f.format == "jpg") "jpeg" else "png")
            Files.write(dir.resolve(f.name), bytes)
          }
        })
      }
      firsts.foreach(_.get())
    } finally {
      pool.shutdown()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
    files.foreach(f => f.original.foreach(o => Files.copy(dir.resolve(o), dir.resolve(f.name))))
  }

  def hex(pattern: Long): String = f"$pattern%016x"
}
