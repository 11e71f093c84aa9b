package graft.io

import java.io.FileNotFoundException
import java.net.URI
import java.nio.file.{Files, Path => NioPath}
import java.util.EnumSet

import scala.jdk.CollectionConverters._
import scala.util.Try

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, CreateFlag, FileAlreadyExistsException,
  FileContext, FileStatus, FileSystem, Options, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.scalatest.funsuite.AnyFunSuite

/** The same operations through Hadoop's stock local filesystem and
  * through the `java.nio` one give the same modes, link statuses,
  * errors, renames and `.crc` sidecars. Instances are built directly or
  * with `newInstance`, never through the JVM-wide `FileSystem` cache, so
  * this suite cannot change which class a later session gets.
  */
class LocalFsSpec extends AnyFunSuite {
  import LocalFsSpec._

  private val conf = new Configuration()
  private val root = URI.create("file:///")

  private def raw(fs: RawLocalFileSystem): RawLocalFileSystem = {
    fs.initialize(root, conf)
    fs
  }

  /** Runs `body` once per implementation, each in its own fresh dir. */
  private def both[A](body: (RawLocalFileSystem, NioPath) => A): (A, A) = {
    def run(fs: RawLocalFileSystem) = {
      val dir = Files.createTempDirectory("graft_localfs")
      try body(raw(fs), dir) finally fs.close()
    }
    (run(new RawLocalFileSystem), run(new NioRawLocalFileSystem))
  }

  private def hpath(p: NioPath): Path = new Path(p.toUri)

  test("create, mkdirs and setPermission leave the same modes, with no process started") {
    val perms = Seq(0x180, 0x1a4, 0x1e8, 0x1ed) // 0600, 0644, 0750, 0755
    val ((stock, _), (nio, spawned)) = both { (fs, dir) =>
      processStarts {
        val plain = dir.resolve("plain")
        fs.create(hpath(plain)).close()
        fs.mkdirs(hpath(dir.resolve("d")))
        val made = for (m <- perms) yield {
          val f = dir.resolve(f"f$m%o")
          fs.create(hpath(f), new FsPermission(m.toShort), false, 4096, 1.toShort, 1L << 25,
            null).close()
          val d = dir.resolve(f"d$m%o")
          fs.mkdirs(hpath(d), new FsPermission(m.toShort))
          Seq(mode(f), mode(d))
        }
        val set = for (m <- perms; p <- Seq(plain, dir.resolve("d"))) yield {
          fs.setPermission(hpath(p), new FsPermission(m.toShort))
          mode(p)
        }
        (mode(plain), made, set)
      }
    }
    assert(nio === stock)
    assert(stock._3 === perms.flatMap(m => Seq(m, m)))
    assert(stock._2.map(_.head) === perms)
    assert(spawned.count(isChmodOrReadlink) === 0, spawned.take(3))
  }

  test("a sticky-bit mode goes to Hadoop's own setPermission") {
    val ((stock, _), (nio, spawned)) = both { (fs, dir) =>
      processStarts {
        fs.setPermission(hpath(dir), new FsPermission(0x3ff.toShort)) // 01777
        mode(dir)
      }
    }
    assert(stock === 0x3ff && nio === stock)
    assert(spawned.exists(_.split(' ').head.endsWith("chmod")), spawned)
  }

  test("getFileLinkStatus matches on a file, a dir, a live and a dangling symlink") {
    val (stock, nio) = both { (fs, dir) =>
      val file = Files.write(dir.resolve("file"), Array[Byte](1, 2, 3))
      val sub = Files.createDirectory(dir.resolve("sub"))
      val live = Files.createSymbolicLink(dir.resolve("live"), file)
      val dangling = Files.createSymbolicLink(dir.resolve("dangling"), dir.resolve("gone"))
      // FileContext passes qualified paths; a plain path reaches readlink itself
      for (p <- Seq(file, sub, live, dangling); h <- Seq(hpath(p), new Path(p.toString)))
        yield fields(Try(fs.getFileLinkStatus(h)), dir)
    }
    assert(nio === stock)
    assert(stock.exists(_.contains("symlink")), "a plain path resolves a live link")
  }

  test("a missing path throws FileNotFoundException from both") {
    val (stock, nio) = both { (fs, dir) =>
      val gone = hpath(dir.resolve("gone"))
      Seq(Try(fs.getFileLinkStatus(gone)), Try(fs.getFileStatus(gone)))
        .map(_.failed.get.getClass)
    }
    assert(stock === Seq(classOf[FileNotFoundException], classOf[FileNotFoundException]))
    assert(nio === stock)
  }

  test("FileContext: rename onto an existing file still throws; .crc sidecars are written") {
    def run(afs: Configuration => AbstractFileSystem): Seq[Any] = {
      val dir = Files.createTempDirectory("graft_localfs")
      val fc = FileContext.getFileContext(afs(conf), conf)
      def write(name: String, body: String): Path = {
        val p = hpath(dir.resolve(name))
        val out = fc.create(p, EnumSet.of(CreateFlag.CREATE))
        try out.write(body.getBytes) finally out.close()
        p
      }
      val (src, dst) = (write("src", "new"), write("dst", "old"))
      val refused = Try(fc.rename(src, dst)).failed.get.getClass
      val afterRefusal = listing(dir)
      fc.rename(src, dst, Options.Rename.OVERWRITE)
      val in = fc.open(dst)
      val body = try new String(in.readAllBytes()) finally in.close()
      Seq(fc.getDefaultFileSystem.getClass.getSimpleName, refused, afterRefusal,
        listing(dir), body, mode(dir.resolve("dst")))
    }
    val stock = run(AbstractFileSystem.get(root, _))
    val nio = run(new NioLocalFs(root, _))
    assert(stock.head === "LocalFs" && nio.head === "NioLocalFs")
    assert(nio.tail === stock.tail)
    assert(stock(1) === classOf[FileAlreadyExistsException])
    assert(stock(2) === Seq(".dst.crc", ".src.crc", "dst", "src"))
    assert(stock(3) === Seq(".dst.crc", "dst"))
    assert(stock(4) === "new")
  }

  test("the fs.file.impl class is a LocalFileSystem whose writes keep their .crc") {
    val c = new Configuration(conf)
    c.set("fs.file.impl", classOf[NioLocalFileSystem].getName)
    val fs = FileSystem.newInstanceLocal(c) // the cast FileSystem.getLocal makes
    try {
      assert(fs.isInstanceOf[NioLocalFileSystem])
      assert(fs.getRaw.isInstanceOf[NioRawLocalFileSystem])
      val dir = Files.createTempDirectory("graft_localfs")
      val out = fs.create(hpath(dir.resolve("part")))
      try out.write(Array[Byte](7, 8, 9)) finally out.close()
      assert(listing(dir) === Seq(".part.crc", "part"))
      assert(mode(dir.resolve("part")) === 0x1a4)
    } finally fs.close()
  }
}

object LocalFsSpec {

  /** `body`'s value and the command line of every process the JVM
    * started while it ran, from an in-process JFR recording.
    */
  def processStarts[A](body: => A): (A, Seq[String]) = {
    val rec = new Recording()
    try {
      rec.enable("jdk.ProcessStart")
      rec.start()
      val out = body
      rec.stop()
      val file = Files.createTempFile("graft_spawns", ".jfr")
      try {
        rec.dump(file)
        (out, RecordingFile.readAllEvents(file).asScala.toSeq.map(_.getString("command")))
      } finally Files.deleteIfExists(file)
    } finally rec.close()
  }

  /** A command line Hadoop's local filesystem starts without
    * `libhadoop.so`: `chmod` per mode set, `readlink` per link lookup.
    */
  def isChmodOrReadlink(command: String): Boolean = {
    val exe = command.split(' ').head
    exe.endsWith("chmod") || exe.endsWith("readlink")
  }

  /** Permission bits, sticky bit included. */
  def mode(p: NioPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Integer] & 0xfff

  def listing(dir: NioPath): Seq[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSeq.sorted

  /** A link status with the run's own dir replaced, so two dirs compare. */
  def fields(st: Try[FileStatus], dir: NioPath): String = {
    val text = st.fold(e => s"${e.getClass.getName}", s =>
      Seq(s.getPath, s.isFile, s.isDirectory, s.isSymlink,
        if (s.isSymlink) s"symlink ${s.getSymlink}" else "", s.getLen,
        s.getPermission).mkString(" "))
    text.replace(dir.toString, "<dir>")
  }
}
