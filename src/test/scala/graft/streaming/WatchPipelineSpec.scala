package graft.streaming

import java.net.URI
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileContext, FileSystem}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.streaming.StreamingQueryListener._
import graft.SparkSuite
import graft.functions.SyntheticImages
import graft.io.{LocalFsSpec, NioLocalFileSystem, NioLocalFs}
import graft.receipts.{ExpenseAnalyzer, TextractJson}

/** T1-T4 semantics: end-to-end AvailableNow run, checkpointed
  * exactly-once across restarts (T3), cross-batch content dedup, a
  * drain that is one micro-batch (no watermark-only trailing batch),
  * starts no `chmod` or `readlink` process and, once warm, compiles no
  * generated class.
  */
class WatchPipelineSpec extends SparkSuite {

  private def freshDirs(): (Path, String, String, String) = {
    val base = Files.createTempDirectory("graft_watch_spec")
    val raw = base.resolve("raw")
    Files.createDirectories(raw)
    (raw, base.resolve("out").toString, base.resolve("ckpt").toString,
      base.toString)
  }

  private def scan(raw: Path, name: String, seed: Long): Unit =
    Files.write(raw.resolve(name),
      SyntheticImages.encode(SyntheticImages.blockImage(seed), "png"))

  test("watch pipeline: hash, dedup, enrich, batch-append (T1/T2/T4)") {
    val (raw, out, ckpt, _) = freshDirs()
    scan(raw, "Scan_001.png", 1)
    scan(raw, "Scan_002.png", 2)
    scan(raw, "Scan_003.png", 1) // re-scan of 001: same content address
    Files.write(raw.resolve("notes.txt"), "not an image".getBytes)

    WatchPipeline.runAvailableNow(spark, raw.toString, out, ckpt,
      new WatchPipelineSpec.StubAnalyzer)
    val result = spark.read.parquet(out)
    assert(result.count() === 2) // glob dropped .txt, dedup collapsed re-scan
    assert(result.select("img_id").distinct().count() === 2)
    // enrichment seam filled the pivoted summary from the analyzer's response
    assert(result.select("vendor_name").distinct().head().getString(0).nonEmpty)
  }

  test("fixture-free drain of 42 files: one receipt per distinct scan, listed on the driver") {
    import WatchPipelineSpec._
    val (raw, out, ckpt, _) = freshDirs()
    // more new files than Spark's 32-path parallel-listing threshold
    for (i <- 1 to 40) scan(raw, f"Scan_$i%03d.png", i)
    scan(raw, "Rescan_001.png", 1)
    scan(raw, "Rescan_002.png", 2)

    val jobs = new JobDescriptions
    spark.sparkContext.addSparkListener(jobs)
    val (_, spawned) = try LocalFsSpec.processStarts {
      WatchPipeline.runAvailableNow(spark, raw.toString, out, ckpt, new StubAnalyzer)
      jobs.fence(spark)
    } finally spark.sparkContext.removeSparkListener(jobs)
    // the checkpoint log, state store and parquet sink set no mode and
    // read no link through a child process
    val chmodOrReadlink = spawned.filter(LocalFsSpec.isChmodOrReadlink)
    assert(chmodOrReadlink.size === 0, chmodOrReadlink.take(3))
    // the filesystems the session really gets: the FileSystem cache keys
    // on scheme and user, so an instance built before the session wins
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val file = URI.create("file:///")
    assert(FileSystem.get(file, hadoopConf).getClass === classOf[NioLocalFileSystem])
    assert(FileContext.getFileContext(file, hadoopConf).getDefaultFileSystem.getClass ===
      classOf[NioLocalFs])

    val rows = spark.read.parquet(out).collect()
    val ids = rows.map(_.getAs[String]("img_id"))
    assert(rows.length === 40 && ids.distinct.length === 40)
    for (r <- rows) {
      val id = r.getAs[String]("img_id")
      assert(r.getAs[String]("vendor_name") === vendorOf(id))
      assert(BigDecimal(r.getAs[java.math.BigDecimal]("total")) === BigDecimal(centsOf(id), 2))
      assert(r.getMap[String, String](r.fieldIndex("other_data")).toMap ===
        Map("CASHIER" -> id.take(4), "STORE" -> "12"))
    }
    val listing = jobs.seen.asScala.filter(_.startsWith("Listing leaf files and directories"))
    assert(listing.isEmpty, listing)
  }

  private def batchDirs(out: String): Seq[String] =
    Option(new java.io.File(out).list()).toSeq.flatten.filter(_.startsWith("batch_id=")).sorted

  /** Six scans and one re-scan, written once and only read by the drains
    * of the tests that share them; each drain has its own sink and
    * checkpoint. */
  private lazy val sixScansAndARescan: Path = {
    val (raw, _, _, _) = freshDirs()
    for (i <- 1 to 6) scan(raw, f"Scan_$i%03d.png", i)
    scan(raw, "Rescan_001.png", 1)
    raw
  }

  test("a --once drain is one micro-batch: one progress event, one batch_id partition") {
    import WatchPipelineSpec._
    val (_, out, ckpt, _) = freshDirs()

    val events = new QueryEvents
    spark.streams.addListener(events)
    try {
      WatchPipeline.runAvailableNow(spark, sixScansAndARescan.toString, out, ckpt,
        new StubAnalyzer)
      events.awaitTerminated()
    } finally spark.streams.removeListener(events)

    assert(events.progress.asScala.map(_.batchId).toSeq === Seq(0L))
    assert(batchDirs(out) === Seq("batch_id=0"))
    assert(spark.read.parquet(out).count() === 6)
  }

  test("start leaves the caller's noDataMicroBatches setting as it was") {
    import WatchPipelineSpec._
    val key = "spark.sql.streaming.noDataMicroBatches.enabled"
    for (prior <- Seq(None, Some("true"))) {
      val (raw, out, ckpt, _) = freshDirs()
      scan(raw, "Scan_001.png", 1)
      prior.foreach(spark.conf.set(key, _))
      try {
        WatchPipeline.runAvailableNow(spark, raw.toString, out, ckpt, new StubAnalyzer)
        assert(spark.conf.getAll.get(key) === prior)
        // the query itself still ran without the trailing batch
        assert(batchDirs(out) === Seq("batch_id=0"), prior)
      } finally spark.conf.unset(key)
    }
  }

  test("parquet batch sink is idempotent per batchId (replay-safe T3)") {
    import spark.implicits._
    val out = Files.createTempDirectory("graft_sink").toString
    val sink = WatchPipeline.parquetBatchSink(out)
    val batch = Seq(("img_a", 1), ("img_b", 2)).toDF("img_id", "v")
    sink(batch, 7L)
    sink(batch, 7L) // crash-replay of the same micro-batch
    assert(spark.read.parquet(out).count() === 2) // overwrote, not appended
    sink(batch, 8L) // a genuinely new batch appends
    assert(spark.read.parquet(out).count() === 4)
  }

  test("a warm drain compiles no generated class: the codegen cache outlives the query") {
    val (_, _, _, base) = freshDirs()
    def drain(name: String): String = {
      val out = s"$base/$name/out"
      WatchPipeline.runAvailableNow(spark, sixScansAndARescan.toString, out,
        s"$base/$name/ckpt", new WatchPipelineSpec.StubAnalyzer)
      out
    }

    val first = drain("first")
    // one count per CodeGenerator.compile that missed the cache, JVM-wide
    val compiles = CodegenMetrics.METRIC_COMPILATION_TIME
    val before = compiles.getCount
    val second = drain("second")
    assert(compiles.getCount - before === 0L)
    val rows = spark.read.parquet(first).collect().toSet
    assert(rows.size === 6)
    assert(spark.read.parquet(second).collect().toSet === rows)
  }

  test("checkpoint recovery is exactly-once; dedup state survives (T3)") {
    val (raw, out, ckpt, _) = freshDirs()
    scan(raw, "Scan_001.png", 1)
    scan(raw, "Scan_002.png", 2)
    WatchPipeline.runAvailableNow(spark, raw.toString, out, ckpt,
      new WatchPipelineSpec.StubAnalyzer)
    assert(spark.read.parquet(out).count() === 2)

    // restart: one genuinely new scan + one re-scan of a prior batch's
    // content. The old files must not reprocess (checkpoint) and the
    // re-scan must be dropped by the watermarked dedup state.
    scan(raw, "Scan_003.png", 3)
    scan(raw, "Scan_004.png", 1)
    WatchPipeline.runAvailableNow(spark, raw.toString, out, ckpt,
      new WatchPipelineSpec.StubAnalyzer)
    val result = spark.read.parquet(out)
    assert(result.count() === 3, "expected exactly one new summary")
    assert(result.select("img_id").distinct().count() === 3)
  }
}

object WatchPipelineSpec {

  def vendorOf(imgId: String): String = s"Shop ${imgId.take(6)}"

  def centsOf(imgId: String): Int = Integer.parseInt(imgId.take(5), 16) % 100000

  /** Textract-shaped responses derived from the img_id (the content
    * address), with Geometry, line items and a repeated OTHER label
    * whose last value wins.
    */
  final class StubAnalyzer extends ExpenseAnalyzer {
    def open(): (String, Array[Byte]) => String = (id, _) => {
      val c = centsOf(id)
      TextractJson.response(Seq(
        ("VENDOR_NAME", None, vendorOf(id)),
        ("OTHER", Some("CASHIER"), "Ann"),
        ("TOTAL", Some("TOTAL"), f"$$${c / 100}.${c % 100}%02d"),
        ("OTHER", Some("STORE"), "12"),
        ("OTHER", Some("CASHIER"), id.take(4))),
        Seq(("PATCH", "$6.99", "1")))
    }
  }

  /** The progress events of the queries that run while registered;
    * `awaitTerminated` waits for a query's end, which the listener bus
    * delivers after all of its progress events.
    */
  final class QueryEvents extends StreamingQueryListener {
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    private val terminated = new CountDownLatch(1)

    def onQueryStarted(e: QueryStartedEvent): Unit = ()
    def onQueryProgress(e: QueryProgressEvent): Unit = progress.add(e.progress)
    def onQueryTerminated(e: QueryTerminatedEvent): Unit = terminated.countDown()

    def awaitTerminated(): Unit =
      require(terminated.await(30, TimeUnit.SECONDS),
        "no query-terminated event arrived")
  }

  /** Descriptions of the jobs started while registered. */
  final class JobDescriptions extends SparkListener {
    val seen = new ConcurrentLinkedQueue[String]()

    override def onJobStart(e: SparkListenerJobStart): Unit =
      seen.add(Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
        .getOrElse(""))

    /** Waits until every job started before this call has been seen:
      * one listener queue delivers in order, so a marker job's start
      * comes after all of theirs.
      */
    def fence(spark: SparkSession): Unit = {
      val sc = spark.sparkContext
      val marker = s"fence ${System.nanoTime()}"
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30000000000L
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(5)
      require(seen.contains(marker), "listener events did not arrive")
    }
  }
}
