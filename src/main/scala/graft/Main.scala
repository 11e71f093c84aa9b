package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.annotation.tailrec

import org.apache.spark.sql.{Encoders, SparkSession}
import org.apache.spark.sql.streaming.Trigger

import graft.functions.ImageHash
import graft.receipts.{Enrichment, FixtureAnalyzer, ReceiptLineItem, ReceiptPipeline, ReceiptSummary}
import graft.sources.Sinks
import graft.streaming.WatchPipeline

/** The reference's CLI surface (`main.py:20-141`, a Typer app with
  * `hash-image` / `analyze` / `watch` / `db init`) as a thin dispatcher
  * over the library entry points. Commands, positional arguments,
  * option aliases, validation messages, and the bad-parameter exit code
  * (2) mirror the Typer app; the work behind each command is the
  * engine's Spark pipeline, not a port of the imperative handlers.
  *
  * Divergences, both environment-bound: `analyze` runs the enrichment
  * seam with the offline [[FixtureAnalyzer]] (this container has no
  * Textract endpoint; a deployment passes a real
  * [[graft.receipts.ExpenseAnalyzer]] through the library API), and the
  * database is JDBC/Derby rather than sqlite (`db.py:5-6` — the JVM
  * ships no sqlite driver; same create-all/insert semantics).
  */
object Main {

  private val Usage =
    """usage: graft COMMAND [ARGS]...
      |
      |  hash-image IMAGE_FILE [--rename|-r]
      |  analyze [--image-file|-f FILE] [--s3doc-key|-s3key KEY]
      |          [--s3doc-bucket|-s3bucket BUCKET] [--db-url URL] [--fixture PATH]
      |  watch WATCH_DIR OUT_DIR [--pause|-p SECS] [--once]
      |  db init [--db-url URL]
      |""".stripMargin

  /** Typer raises BadParameter (exit code 2); same contract here. */
  private final case class BadParameter(msg: String)
    extends RuntimeException(msg)

  private val DefaultDbUrl = "jdbc:derby:graft_db;create=true"
  private val ImageSuffixes = Set(".png", ".jpg", ".jpeg")

  private def intValue(opt: String, v: String): Int =
    try v.toInt
    catch { case _: NumberFormatException =>
      throw BadParameter(s"Option '$opt' requires an integer, got '$v'")
    }

  private def missingValue(opt: String): Nothing =
    throw BadParameter(s"Option '$opt' requires an argument")

  /** The analyzer replaying `path` (a file or `classpath:` resource),
    * checked here: a missing fixture is a bad parameter, not a failure
    * inside the first Spark task.
    */
  private def fixtureAnalyzer(path: String): FixtureAnalyzer =
    if (FixtureAnalyzer.exists(path)) new FixtureAnalyzer(path)
    else throw BadParameter(s"$path does not exists.")

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("WARN")
    val code = run(args.toList, spark)
    spark.stop()
    sys.exit(code)
  }

  /** Dispatch; returns the exit code (0 ok, 2 bad parameter). Split
    * from `main` so specs drive every subcommand in-process against
    * the suite session and capture `out`.
    */
  def run(args: List[String], spark: SparkSession,
          out: String => Unit = println): Int =
    try args match {
      case "hash-image" :: rest => hashImage(rest, out)
      case "analyze" :: rest => analyze(rest, spark, out)
      case "watch" :: rest => watch(rest, spark, out)
      case "db" :: "init" :: rest => dbInit(rest, spark, out)
      case _ => out(Usage); 2
    } catch {
      case BadParameter(msg) => out(s"Error: $msg"); 2
    }

  private def suffixOf(name: String): String = {
    val dot = name.lastIndexOf('.')
    if (dot < 0) "" else name.substring(dot)
  }

  /** `hash_image` parity (`anarcptlib.py:145-161`): existence and
    * extension checks with the reference's messages, aHash, optional
    * rename to `<hash><suffix>`.
    */
  private def hashImage(args: List[String], out: String => Unit): Int = {
    val (flags, pos) = args.partition(_.startsWith("-"))
    flags.filterNot(f => f == "--rename" || f == "-r") match {
      case bad :: _ => throw BadParameter(s"unknown option $bad")
      case Nil =>
    }
    val file = pos match {
      case f :: Nil => Paths.get(f)
      case _ => throw BadParameter("hash-image takes exactly one IMAGE_FILE")
    }
    if (!Files.isRegularFile(file))
      throw BadParameter(s"$file does not exists.")
    val suffix = suffixOf(file.getFileName.toString)
    if (!ImageSuffixes.contains(suffix))
      throw BadParameter("Image must be either png, jpg or jpeg.")
    val hash =
      try ImageHash.averageHash(Files.readAllBytes(file))
      catch { case e: Exception =>
        throw BadParameter(s"$file is not a decodable image (${e.getMessage})")
      }
    val hex = f"$hash%016x"
    if (flags.nonEmpty) {
      val renamed = file.resolveSibling(hex + suffix)
      Files.move(file, renamed, StandardCopyOption.REPLACE_EXISTING)
      out(renamed.toString)
    } else out(hex)
    0
  }

  private def readBytes(spark: SparkSession, uri: String): Array[Byte] = {
    val path = new org.apache.hadoop.fs.Path(uri)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = fs.open(path)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, buf, 4096, false)
      buf.toByteArray
    } finally in.close()
  }

  /** `analyze` parity (`main.py:41-76`): local-file or S3 source (not
    * both), img_id from the file stem / key prefix, summary inserted
    * into the receipt table, summary echoed. The object-store branch
    * resolves through the Hadoop FileSystem API, so any scheme the
    * cluster carries (s3a://, file:, hdfs://) works — the S2 seam.
    */
  private def analyze(args: List[String], spark: SparkSession,
                      out: String => Unit): Int = {
    var imageFile: Option[String] = None
    var s3Key: Option[String] = None
    var s3Bucket = "receipt-image"
    var dbUrl = DefaultDbUrl
    var fixture = FixtureAnalyzer.resolve()
    @tailrec def parse(rest: List[String]): Unit = rest match {
      case Nil =>
      case ("--image-file" | "-f") :: v :: t => imageFile = Some(v); parse(t)
      case ("--s3doc-key" | "-s3key") :: v :: t => s3Key = Some(v); parse(t)
      case ("--s3doc-bucket" | "-s3bucket") :: v :: t => s3Bucket = v; parse(t)
      case "--db-url" :: v :: t => dbUrl = v; parse(t)
      case "--fixture" :: v :: t => fixture = v; parse(t)
      // only a KNOWN value-taking option gets the missing-argument
      // diagnosis; an unknown flag is unknown in any position
      case opt :: Nil if Set("--image-file", "-f", "--s3doc-key", "-s3key",
        "--s3doc-bucket", "-s3bucket", "--db-url", "--fixture")(opt) =>
        missingValue(opt)
      case bad :: _ => throw BadParameter(s"unknown option $bad")
    }
    parse(args)
    if (imageFile.isDefined && s3Key.isDefined)
      throw BadParameter(
        "analyze either a local image receipt or one stored on s3 not both.")
    val analyzer = fixtureAnalyzer(fixture)
    val (imgId, bytes) = imageFile match {
      case Some(f) =>
        val p = Paths.get(f)
        if (!Files.isRegularFile(p)) throw BadParameter(s"$f does not exists.")
        val name = p.getFileName.toString
        (name.stripSuffix(suffixOf(name)), Files.readAllBytes(p))
      case None =>
        val key = s3Key.getOrElse(
          throw BadParameter("provide --image-file or --s3doc-key"))
        val uri = if (s3Bucket.contains("://")) s"$s3Bucket/$key"
                  else s"s3a://$s3Bucket/$key"
        (key.split('.').head, readBytes(spark, uri))
    }
    import spark.implicits._
    val images = Seq((imgId, bytes)).toDF("img_id", "content")
    val responses = Enrichment.parse(
      Enrichment.analyze(images, analyzer))
    val summary = ReceiptPipeline.summarize(
      ReceiptPipeline.flattenSummary(responses))
    Sinks.writeJdbc(summary, dbUrl, "receiptsummary")
    summary.collect().foreach(r => out(r.mkString(" | ")))
    0
  }

  /** `watch` parity (`main.py:79-132`): directory validations with the
    * reference's messages, then the T1 streaming pipeline. The
    * reference chains two watchers (raw → hash/move → analyze → db);
    * the engine fuses both stages into one checkpointed query writing
    * idempotent per-batch output under OUT_DIR (T2/T3). `--once` is
    * the Trigger.AvailableNow variant (T4) — drain and exit — which is
    * also what a spec can drive; without it the query runs until
    * killed, like the reference's observer loop.
    */
  private def watch(args: List[String], spark: SparkSession,
                    out: String => Unit): Int = {
    var pause = 5
    var once = false
    var pos = List.empty[String]
    @tailrec def parse(rest: List[String]): Unit = rest match {
      case Nil =>
      case (opt @ ("--pause" | "-p")) :: v :: t =>
        pause = intValue(opt, v); parse(t)
      case "--once" :: t => once = true; parse(t)
      case p :: t if !p.startsWith("-") => pos :+= p; parse(t)
      case opt :: Nil if Set("--pause", "-p")(opt) => missingValue(opt)
      case bad :: _ => throw BadParameter(s"unknown option $bad")
    }
    parse(args)
    val (watchDir, outDir) = pos match {
      case a :: b :: Nil => (a, b)
      case _ => throw BadParameter("watch takes WATCH_DIR and OUT_DIR")
    }
    for (d <- Seq(watchDir, outDir))
      if (!Files.isDirectory(Paths.get(d)))
        throw BadParameter(s"$d does not exists.")
    // toRealPath (safe: both verified to exist) so aliases — `d` vs
    // `d/.`, symlinks — can't dodge the checks
    val (watchReal, outReal) =
      (Paths.get(watchDir).toRealPath(), Paths.get(outDir).toRealPath())
    if (watchReal == outReal)
      throw BadParameter("Directories can not be the same.")
    // beyond the reference's equality check: a sink nested inside the
    // watched tree would put parquet output and the checkpoint where
    // the watcher looks for scans
    if (outReal.startsWith(watchReal))
      throw BadParameter("OUT_DIR can not be inside WATCH_DIR.")
    val analyzer = fixtureAnalyzer(FixtureAnalyzer.resolve())
    out(s"Watching $watchDir for newly scanned receipts...")
    val checkpoint = s"$outDir/_checkpoint"
    if (once)
      WatchPipeline.runAvailableNow(spark, watchDir, outDir, checkpoint, analyzer)
    else {
      val q = WatchPipeline.start(spark, watchDir, checkpoint,
        analyzer, WatchPipeline.parquetBatchSink(outDir),
        Trigger.ProcessingTime(s"$pause seconds"))
      q.awaitTermination()
    }
    0
  }

  /** `db init` parity (`main.py:135-141`): create-all of the model
    * tables from their declared schemas, zero rows (K3).
    */
  private def dbInit(args: List[String], spark: SparkSession,
                     out: String => Unit): Int = {
    var dbUrl = DefaultDbUrl
    @tailrec def parse(rest: List[String]): Unit = rest match {
      case Nil =>
      case "--db-url" :: v :: t => dbUrl = v; parse(t)
      case "--db-url" :: Nil => missingValue("--db-url")
      case bad :: _ => throw BadParameter(s"unknown option $bad")
    }
    parse(args)
    def jdbcSchema(schema: org.apache.spark.sql.types.StructType) =
      Sinks.jdbcReady(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)).schema
    Sinks.bootstrap(spark, dbUrl, "receiptsummary",
      jdbcSchema(Encoders.product[ReceiptSummary].schema))
    Sinks.bootstrap(spark, dbUrl, "receiptlineitem",
      jdbcSchema(Encoders.product[ReceiptLineItem].schema))
    out("initialized receiptsummary, receiptlineitem")
    0
  }
}
