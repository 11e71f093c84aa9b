package graft

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.util.concurrent.TimeUnit

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.functions.SyntheticImages
import graft.receipts.TextractJson
import graft.sources.Sinks

/** Drives every CLI subcommand (the reference's Typer surface,
  * `main.py:20-141`): happy path + the reference's validation errors,
  * exit code 2 on bad parameters. All run in-process against the suite
  * session except `watch --once`, which runs as a child JVM: `watch`
  * takes no `--fixture` and reads its responses only from
  * `GRAFT_FIXTURE`, the bundled resource or the dev path, and an
  * environment variable can be set only for a new process.
  */
class MainSpec extends SparkSuite {

  private lazy val fixture = TextractJson.tempFile("response.json").toString

  private def runCli(args: String*): (Int, List[String]) = {
    val lines = mutable.ListBuffer.empty[String]
    val code = Main.run(args.toList, spark, lines += _)
    (code, lines.toList)
  }

  /** Runs `graft.Main` in a child JVM on this JVM's classpath, with its
    * `--add-opens` and `-D` options (build.sbt's `javaOptions`), a 1 GB
    * heap, two cores and `GRAFT_FIXTURE` set to [[fixture]]; stderr
    * passes through. Returns the exit code and stdout lines; the child
    * never outlives the call.
    */
  private def runCliJvm(args: String*): (Int, List[String]) = {
    val inherited = ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
      .filter(a => a.startsWith("--add-opens=") || a.startsWith("-D"))
    val java = Paths.get(System.getProperty("java.home"), "bin", "java").toString
    val stdout = Files.createTempFile("graft_cli_stdout", ".txt")
    val pb = new ProcessBuilder((Seq(java, "-Xmx1g") ++ inherited ++
      Seq("-cp", System.getProperty("java.class.path"), "graft.Main") ++ args).asJava)
      // anything the child leaves in its working dir stays out of the checkout
      .directory(Files.createTempDirectory("graft_cli_cwd").toFile)
      .redirectOutput(stdout.toFile)
      .redirectError(ProcessBuilder.Redirect.INHERIT)
    // hermetic like the suite session: no overrides from the shell
    pb.environment().remove("SPARK_GRAFT_EXTRA_CONF")
    pb.environment().put("SPARK_GRAFT_CPUS", "2")
    pb.environment().put("GRAFT_FIXTURE", fixture)
    val p = pb.start()
    try {
      assert(p.waitFor(5, TimeUnit.MINUTES), s"graft ${args.mkString(" ")} timed out")
      (p.exitValue(), Files.readAllLines(stdout, StandardCharsets.UTF_8).asScala.toList)
    } finally {
      p.destroyForcibly()
      p.waitFor()
    }
  }

  private def tempImage(seed: Long, name: String): java.nio.file.Path = {
    val dir = Files.createTempDirectory("graft_cli")
    val f = dir.resolve(name)
    Files.write(f, SyntheticImages.encode(SyntheticImages.blockImage(seed), "png"))
    f
  }

  test("hash-image echoes the 16-hex content id") {
    val img = tempImage(1, "Scan_001.png")
    val (code, out) = runCli("hash-image", img.toString)
    assert(code === 0)
    assert(out.size === 1 && out.head.matches("[0-9a-f]{16}"))
    // same pixels, same id — content addressing, not path hashing
    val img2 = tempImage(1, "Other.png")
    assert(runCli("hash-image", img2.toString)._2 === out)
  }

  test("hash-image --rename moves the file to <hash><suffix>") {
    val img = tempImage(2, "Scan_002.png")
    val (code, out) = runCli("hash-image", "--rename", img.toString)
    assert(code === 0)
    assert(!Files.exists(img))
    val renamed = Paths.get(out.head)
    assert(Files.exists(renamed))
    assert(renamed.getFileName.toString.matches("[0-9a-f]{16}\\.png"))
  }

  test("hash-image validations: missing file and bad extension exit 2") {
    val (c1, o1) = runCli("hash-image", "/no/such/file.png")
    assert(c1 === 2 && o1.head.contains("does not exists"))
    val txt = Files.createTempFile("graft_cli", ".txt")
    Files.write(txt, Array[Byte](1))
    val (c2, o2) = runCli("hash-image", txt.toString)
    assert(c2 === 2 && o2.head.contains("png, jpg or jpeg"))
  }

  test("analyze --image-file inserts the summary and echoes it") {
    val img = tempImage(3, "Receipt_003.png")
    val url = s"jdbc:derby:memory:cli_a1;create=true"
    val (code, out) = runCli("analyze", "-f", img.toString, "--db-url", url,
      "--fixture", fixture)
    assert(code === 0 && out.nonEmpty)
    val back = Sinks.readJdbc(spark, url, "receiptsummary")
    assert(back.count() === 1)
    // img_id is the file stem, exactly the reference's contract
    assert(back.select("img_id").head().getString(0) === "Receipt_003")
  }

  test("analyze --s3doc-key resolves through the FileSystem API (cross-scheme)") {
    val img = tempImage(4, "Receipt_004.png")
    val url = s"jdbc:derby:memory:cli_a2;create=true"
    // bucket given as a file: URI — the same Hadoop seam an s3a://
    // bucket rides; key prefix before '.' becomes img_id
    val (code, _) = runCli("analyze",
      "-s3key", img.getFileName.toString,
      "-s3bucket", s"file://${img.getParent}",
      "--db-url", url, "--fixture", fixture)
    assert(code === 0)
    val back = Sinks.readJdbc(spark, url, "receiptsummary")
    assert(back.select("img_id").head().getString(0) === "Receipt_004")
  }

  test("analyze rejects both sources at once, exit 2") {
    val (code, out) = runCli("analyze", "-f", "x.png", "-s3key", "y.png")
    assert(code === 2)
    assert(out.head.contains("not both"))
  }

  test("analyze with a missing --fixture is a bad parameter, exit 2") {
    val img = tempImage(7, "Receipt_007.png")
    val (code, out) = runCli("analyze", "-f", img.toString, "--fixture", "/nonexistent")
    assert(code === 2)
    assert(out.head === "Error: /nonexistent does not exists.")
  }

  test("watch --once drains the directory into per-batch parquet") {
    val raw = Files.createTempDirectory("graft_cli_raw")
    val outDir = Files.createTempDirectory("graft_cli_out")
    Files.write(raw.resolve("Scan_001.png"),
      SyntheticImages.encode(SyntheticImages.blockImage(5), "png"))
    Files.write(raw.resolve("Scan_002.png"),
      SyntheticImages.encode(SyntheticImages.blockImage(6), "png"))
    val (code, out) = runCliJvm("watch", raw.toString, outDir.toString, "--once")
    assert(code === 0)
    assert(out.exists(_.startsWith("Watching")))
    val batches = spark.read.parquet(s"$outDir/batch_id=0")
    assert(batches.count() === 2)
    assert(batches.columns.contains("vendor_name"))
  }

  test("watch validations: missing dir / same dirs exit 2") {
    val d = Files.createTempDirectory("graft_cli_w").toString
    assert(runCli("watch", "/no/such/dir", d)._1 === 2)
    val (code, out) = runCli("watch", d, d)
    assert(code === 2 && out.head.contains("can not be the same"))
  }

  test("db init creates empty model tables (create_all parity)") {
    val url = s"jdbc:derby:memory:cli_db;create=true"
    assert(runCli("db", "init", "--db-url", url)._1 === 0)
    val summary = Sinks.readJdbc(spark, url, "receiptsummary")
    assert(summary.count() === 0)
    assert(summary.columns.map(_.toLowerCase).toSet
      .contains("vendor_name"))
    val items = Sinks.readJdbc(spark, url, "receiptlineitem")
    assert(items.count() === 0)
    assert(items.columns.map(_.toLowerCase).toSet
      === Set("img_id", "item_name", "price", "quantity"))
  }

  test("unknown command prints usage, exit 2") {
    val (code, out) = runCli("frobnicate")
    assert(code === 2 && out.head.contains("usage:"))
  }

  test("option-argument errors: non-integer --pause and missing values exit 2 with the right message") {
    val d1 = Files.createTempDirectory("graft_cli_p1").toString
    val d2 = Files.createTempDirectory("graft_cli_p2").toString
    val (c1, o1) = runCli("watch", d1, d2, "--pause", "abc")
    assert(c1 === 2 && o1.head.contains("requires an integer"))
    val (c2, o2) = runCli("watch", d1, d2, "--pause")
    assert(c2 === 2 && o2.head.contains("requires an argument"))
    val (c3, o3) = runCli("analyze", "--db-url")
    assert(c3 === 2 && o3.head.contains("requires an argument"))
    val (c4, o4) = runCli("db", "init", "--db-url")
    assert(c4 === 2 && o4.head.contains("requires an argument"))
    val (c5, o5) = runCli("watch", d1, d2, "--pause", "-3")
    assert(c5 === 2 && o5.head.contains("must be 0 or more"), o5)
  }

  test("same-directory guard sees through path aliases") {
    val d = Files.createTempDirectory("graft_cli_alias").toString
    val (code, out) = runCli("watch", d, s"$d/.")
    assert(code === 2 && out.head.contains("can not be the same"))
  }

  test("a sink nested inside the watched tree is rejected") {
    val d = Files.createTempDirectory("graft_cli_nest")
    val inner = Files.createDirectory(d.resolve("out"))
    val (code, out) = runCli("watch", d.toString, inner.toString)
    assert(code === 2 && out.head.contains("inside WATCH_DIR"))
  }

  test("an unknown flag is 'unknown option' in ANY position, not a missing-value error") {
    val (c1, o1) = runCli("analyze", "--bogus")
    assert(c1 === 2 && o1.head.contains("unknown option --bogus"))
    val (c2, o2) = runCli("analyze", "--bogus", "-f", "x.png")
    assert(c2 === 2 && o2.head.contains("unknown option --bogus"))
  }
}
