package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.nio.file.attribute.FileTime
import java.time.Instant

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.functions._

import graft.functions.ImageSource
import graft.receipts.{Enrichment, ReceiptPipeline}
import graft.streaming.WatchPipeline

/** The benchmark's JVM side, one process per mode:
  *
  *  - `gen`: with `--setup 1` set up a session first (one set-up time
  *    sample), then write the workload's seeded inputs into `--dir`;
  *  - `pass`: set up, run one pass of the workload through the engine's
  *    public entry points, check the sink against the generator's truth
  *    and print one `RESULT {json}` line. With `--trace 1` the pass also
  *    records spans, execution counters and the per-stage split.
  *
  * A set-up ends with a `READY <epoch micros>` line; the caller measures
  * set-up time from process launch to that instant.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val o = args.grouped(2)
      .collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val code =
      try { run(o); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    System.out.flush()
    // results are printed and every file is written; the caller deletes
    // the work dir, so skip Spark's shutdown hooks
    Runtime.getRuntime.halt(code)
  }

  private def run(o: Map[String, String]): Unit = {
    val workload = o("workload")
    val seed = o("seed").toLong
    val dir = Paths.get(o("dir"))
    o("mode") match {
      case "gen" =>
        if (o("setup") == "1") setup(o("cores").toInt)
        val threads = o("cores").toInt
        if (workload == "ingest_scans") {
          Scans.write(dir.resolve("scans"), seed, Scans.ingest(seed, o("distinct").toInt), threads)
          Scans.write(dir.resolve("warmup"), ~seed, Scans.ingest(~seed, Ingest.WarmupScans),
            threads)
        }
        else
          Scans.write(dir.resolve("stage"), seed, watchFiles(o), threads)
      case "pass" =>
        val spark = setup(o("cores").toInt)
        val tracer = if (o("trace") == "1") Some(new Tracer(o("cores").toInt, o("spans"))) else None
        val result = workload match {
          case "ingest_scans" => Ingest(spark, o, seed, dir, tracer)
          case "watch_receipts" => Watch(spark, o, seed, dir, tracer)
        }
        val rssMb = peakRssMb()
        val layers = tracer.map(_.finish(spark, result, dir.resolve(s"pass-${o("pass")}")))
          .getOrElse(Nil)
        println("RESULT " + Json.obj((result.fields ++ Seq(
          "rss_mb" -> rssMb, "layers" -> (layers :+ ("peak_rss_mb" -> rssMb)).toMap)): _*))
    }
  }

  def watchFiles(o: Map[String, String]): Vector[ScanFile] = {
    val rate = o("rate").toDouble
    // the last release falls just before a trigger boundary, so the last
    // timed batch is a full one
    Scans.watch(o("seed").toLong, Watch.WarmupDump +
      (rate * (Watch.WarmupS + o("window").toDouble - Watch.PhaseMs / 1000.0)).toInt,
      rescanLag = (rate * Watch.RescanLagS).round.toInt)
  }

  /** The CLI's session (`graft watch` builds the same one), warmed by one
    * tiny query so class loading and code generation set-up are done.
    */
  def setup(cores: Int): SparkSession = {
    val spark = graft.Sessions.local(cores.toString)
    spark.range(0, 4096, 1, cores).selectExpr("sum(id)").collect()
    val now = Instant.now()
    println(s"READY ${now.getEpochSecond * 1000000L + now.getNano / 1000}")
    System.out.flush()
    spark
  }

  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)

  def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else { val s = xs.sorted; s(math.min(s.size - 1, (q * s.size).toInt)) }
}

/** Wall clock with sub-millisecond resolution, in epoch milliseconds (the
  * clock Spark stamps progress with, read through nanoTime).
  */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowMs: Double = baseMs + (System.nanoTime() - baseNs) / 1e6
}

/** What a pass hands back: the check's verdict, the end-to-end figures,
  * and what the traced run needs to split them.
  */
final case class PassResult(
    attempted: Int, failed: Int, committed: Int,
    latenciesS: Seq[Double], receiptsPerS: Double,
    workS: Double, // ingest: median drain wall time; watch: summed micro-batch time
    tracedS: Double, // work time of the traced window (0 when untraced)
    inputDir: Path, shape: Shape, seed: Long,
    stub: StubAnalyzer, outDir: Path, genLateP99S: Double,
    inputLagMaxS: Double, batches: Vector[org.apache.spark.sql.streaming.StreamingQueryProgress]) {
  def fields: Seq[(String, Any)] = Seq(
    "attempted" -> attempted, "failed" -> failed, "committed" -> committed,
    "latencies_s" -> latenciesS, "receipts_per_s" -> receiptsPerS, "work_s" -> workS,
    "traced_s" -> tracedS,
    "gen_late_p99_s" -> genLateP99S)
}

/** Compares the sink with the generator's own truth: one row per
  * distinct decodable scan, right vendor, address, date, total,
  * sub_total, tax and OTHER map (last label wins), re-scans collapsed,
  * and the undecodable count. Every receipt that is missing, wrong or
  * duplicated is one failure; so is every row for an unknown image.
  */
object Check {
  final case class Outcome(attempted: Int, failed: Int, batchOf: Map[String, Long])

  def apply(spark: SparkSession, out: Path, files: Vector[ScanFile], seed: Long, shape: Shape,
            undecodable: Long): Outcome = {
    val expected = files.filter(f => !f.broken && f.original.isEmpty)
      .map(f => Scans.hex(f.pattern) -> Receipts.of(seed, f.pattern, shape)).toMap
    val hasOutput = Files.isDirectory(out) &&
      Files.list(out).iterator.asScala.exists(_.getFileName.toString.startsWith("batch_id="))
    val rows: Array[Row] =
      if (!hasOutput) Array.empty
      else spark.read.parquet(out.toString).select(
        col("img_id"), col("batch_id").cast("long"), col("vendor_name"), col("receiver_address"),
        date_format(col("receipt_date"), "yyyy-MM-dd HH:mm"),
        col("total"), col("sub_total"), col("tax_amount"), col("other_data")).collect()
    val byId = rows.groupBy(_.getString(0))
    def cents(r: Row, i: Int): Int = r.getDecimal(i).movePointRight(2).intValueExact
    def matches(r: Row, rc: Receipt): Boolean =
      r.getString(2) == rc.vendor && r.getString(3) == rc.address &&
        r.getString(4) == rc.dateExpected && cents(r, 5) == rc.totalCents &&
        cents(r, 6) == rc.subTotalCents && cents(r, 7) == rc.taxCents &&
        r.getMap[String, String](8).toMap == rc.expectedOther
    var failed = 0
    val notes = Seq.newBuilder[String]
    expected.foreach { case (id, rc) =>
      byId.get(id) match {
        case None => failed += 1; notes += s"missing $id"
        case Some(rs) if rs.length > 1 => failed += 1; notes += s"duplicated $id x${rs.length}"
        case Some(rs) if !matches(rs(0), rc) => failed += 1; notes += s"wrong $id: ${rs(0)}"
        case _ =>
      }
    }
    val unknown = byId.keySet -- expected.keySet
    unknown.foreach(id => notes += s"unknown image $id")
    val broken = files.count(_.broken)
    if (undecodable != broken) notes += s"undecodable counted $undecodable, generated $broken"
    failed += unknown.size + math.abs(undecodable - broken).toInt
    notes.result().take(5).foreach(n => System.err.println(s"[check] $n"))
    Outcome(expected.size + unknown.size, failed,
      byId.collect { case (id, rs) if rs.length == 1 => id -> rs(0).getLong(1) })
  }
}

/** `ingest_scans`: `graft watch --once` over a folder of megapixel-class
  * scans, which is `WatchPipeline.runAvailableNow`: one drained
  * micro-batch. A first drain of a small folder warms the fresh JVM up
  * (checked, not timed: its time is mostly class loading and JIT
  * compilation, which vary from run to run). The same JVM then drains
  * the main folder, into a fresh sink and checkpoint each time, until
  * `--seconds` of drains, and at least three, were measured. Every
  * receipt of a drain waits for the whole drain, so within a drain p50
  * and p99 latency both equal its wall time; the run reports the median
  * drain's receipts, and throughput is receipts over that drain's time.
  */
object Ingest {
  val WarmupScans = 20
  val MinDrains = 3

  def apply(spark: SparkSession, o: Map[String, String], seed: Long, dir: Path,
            tracer: Option[Tracer]): PassResult = {
    val files = Scans.ingest(seed, o("distinct").toInt)
    val passDir = dir.resolve(s"pass-${o("pass")}")
    val scans = dir.resolve("scans")
    val counters = tracer.map(_.counters).getOrElse(new Counters(perTask = false))
    spark.sparkContext.addSparkListener(counters)
    tracer.foreach(t => spark.streams.addListener(t.progress))
    final case class Drain(seconds: Double, check: Check.Outcome, startMs: Double,
                           stub: StubAnalyzer, out: Path)

    def drain(k: Int, traced: Boolean, scans: Path = scans,
              files: Vector[ScanFile] = files): Drain = {
      val out = passDir.resolve(s"out-$k")
      val stub = StubAnalyzer(spark, seed, Shape.short)
      counters.reset()
      if (traced) tracer.foreach(_.beginStream())
      val startMs = Clock.nowMs
      val t0 = System.nanoTime()
      Tracer.span(tracer.filter(_ => traced), "stream.runAvailableNow") {
        WatchPipeline.runAvailableNow(spark, scans.toString, out.toString,
          out.resolve("_checkpoint").toString, stub)
      }
      val drainS = (System.nanoTime() - t0) / 1e9
      if (traced) tracer.foreach(_.endStream(spark)) else counters.fence(spark)
      Drain(drainS, Check(spark, out, files, seed, Shape.short, counters.undecodable),
        startMs, stub, out)
    }

    val seconds = o("seconds").toDouble
    val warmup = drain(0, traced = false, dir.resolve("warmup"), Scans.ingest(~seed, WarmupScans))
    // Untraced: at least MinDrains drains, and --seconds of them. Traced:
    // an untraced, a traced and another untraced drain; the two untraced
    // ones bracket the traced one, so the JVM still warming up biases
    // neither side.
    val drains = Vector.newBuilder[Drain]
    var measured = 0.0
    var k = 1
    while (if (tracer.isDefined) k <= 3 else k <= MinDrains || measured < seconds) {
      val d = drain(k, traced = tracer.isDefined && k == 2)
      drains += d
      measured += d.seconds
      k += 1
    }
    val all = drains.result()
    val (traced, timed) =
      if (tracer.isDefined) (Some(all(1)), all.patch(1, Nil, 1)) else (None, all)
    val shown = traced.getOrElse(timed.last)
    val medianS = Main.median(timed.map(_.seconds))
    val committed = timed.last.check.batchOf.size
    val batches = tracer.map(_.tracedBatches).getOrElse(Vector.empty)
    PassResult((warmup +: all).map(_.check.attempted).sum,
      (warmup +: all).map(_.check.failed).sum, committed,
      Seq.fill(committed)(medianS),
      committed / medianS, medianS, traced.map(_.seconds).getOrElse(0.0),
      scans, Shape.short, seed, shown.stub, shown.out, 0.0,
      batches.map(b => (ProgressLog.startMs(b) - shown.startMs) / 1000).foldLeft(0.0)(math.max),
      batches)
  }
}

/** `watch_receipts`: `graft watch` (`WatchPipeline.start`, the CLI's 5 s
  * trigger and `parquetBatchSink`) fed by an open-loop generator. One
  * thread renames pre-written scans into the watched folder on a fixed
  * schedule, stamping each file's mtime at release (the dedup watermark
  * keys on it). A receipt's latency runs from when its first scan was
  * due until the micro-batch holding its row committed.
  */
object Watch {
  val TriggerMs = 5000L
  val RescanLagS = 7.0
  /** `WarmupDump` scans are released at once when the query starts; the
    * schedule begins after their micro-batch committed, and its first
    * `WarmupS` are not timed either, so the latencies are those of a
    * running watcher, not of its first, cold batches. Warm-up scans are
    * checked like all others.
    */
  val WarmupDump = 25
  val WarmupS = 5.0
  /** The schedule starts this long after a trigger boundary. */
  val PhaseMs = 250
  /** A receipt whose batch commits later than this after the last due
    * release misses the drain deadline and counts as failed.
    */
  val DrainDeadlineS = 20.0

  def apply(spark: SparkSession, o: Map[String, String], seed: Long, dir: Path,
            tracer: Option[Tracer]): PassResult = {
    val files = Main.watchFiles(o)
    val rate = o("rate").toDouble
    val passDir = dir.resolve(s"pass-${o("pass")}")
    val stage = passDir.resolve("stage")
    val in = passDir.resolve("in")
    val out = passDir.resolve("out")
    Files.createDirectories(stage)
    Files.createDirectories(in)
    files.foreach(f =>
      Files.createLink(stage.resolve(f.name), dir.resolve("stage").resolve(f.name)))

    val counters = tracer.map(_.counters).getOrElse(new Counters(perTask = false))
    spark.sparkContext.addSparkListener(counters)
    val progress = tracer.map(_.progress).getOrElse(new ProgressLog)
    spark.streams.addListener(progress)
    val stub = StubAnalyzer(spark, seed, Shape.long)
    tracer.foreach(_.beginStream())
    val q = WatchPipeline.start(spark, in.toString, out.resolve("_checkpoint").toString, stub,
      WatchPipeline.parquetBatchSink(out.toString))

    val warmN = WarmupDump
    val dueMs = new Array[Double](files.size)
    val lateMs = new Array[Double](files.size)
    def release(i: Int, now: Double): Unit = {
      val src = stage.resolve(files(i).name)
      Files.setLastModifiedTime(src, FileTime.fromMillis(now.toLong))
      Files.move(src, in.resolve(files(i).name), StandardCopyOption.ATOMIC_MOVE)
      lateMs(i) = Clock.nowMs - dueMs(i)
    }
    val warmDue = Clock.nowMs
    (0 until warmN).foreach { i => dueMs(i) = warmDue; release(i, Clock.nowMs) }
    val warmDeadline = warmDue + 120000
    while (progress.inputRows < warmN && Clock.nowMs < warmDeadline) Thread.sleep(20)
    // The schedule starts just after a trigger boundary (ProcessingTime
    // fires on multiples of the interval), so every run sees one phase.
    val firstDue = math.ceil((Clock.nowMs + 500) / TriggerMs) * TriggerMs + PhaseMs
    (warmN until files.size).foreach(i => dueMs(i) = firstDue + (i - warmN) * 1000.0 / rate)
    val releaser = new Thread("perfbench-releaser") {
      override def run(): Unit = (warmN until files.size).foreach { i =>
        var now = Clock.nowMs
        while (now < dueMs(i)) {
          val wait = dueMs(i) - now
          if (wait > 2) Thread.sleep((wait - 1).toLong) else Thread.onSpinWait()
          now = Clock.nowMs
        }
        release(i, now)
      }
    }
    Tracer.span(tracer, "stream.watch") {
      releaser.start()
      releaser.join()
      val deadline = dueMs.last + DrainDeadlineS * 1000
      while (progress.inputRows < files.size && Clock.nowMs < deadline) Thread.sleep(20)
      q.stop()
    }
    tracer match {
      case Some(t) => t.endStream(spark)
      case None => progress.awaitTerminated(); counters.fence(spark)
    }
    val chk = Tracer.span(tracer, "check")(
      Check(spark, out, files, seed, Shape.long, counters.undecodable))

    val batches = progress.dataBatches
    val commitOf = batches.map(b => b.batchId -> ProgressLog.commitMs(b)).toMap
    val startOf = batches.map(b => b.batchId -> ProgressLog.startMs(b)).toMap
    val firstDueOf = files.zip(dueMs).filter(_._1.original.isEmpty)
      .map { case (f, d) => Scans.hex(f.pattern) -> d }.toMap
    val deadline = dueMs.last + DrainDeadlineS * 1000
    val timed = chk.batchOf.toSeq.flatMap { case (id, b) =>
      for (c <- commitOf.get(b); d <- firstDueOf.get(id)) yield (id, b, c, d)
    }
    val late = timed.count(_._3 > deadline) + (chk.batchOf.size - timed.size)
    val onTime = timed.filter(_._3 <= deadline)
    val measured = onTime.filter(_._4 >= firstDue + WarmupS * 1000)
    val spanS =
      if (measured.isEmpty) 1.0 else (measured.map(_._3).max - firstDue) / 1000 - WarmupS
    val batchS = batches.map(ProgressLog.ms(_, "triggerExecution")).sum / 1000.0
    PassResult(chk.attempted, chk.failed + late, onTime.size,
      measured.map { case (_, _, c, d) => (c - d) / 1000 }, measured.size / spanS,
      batchS, if (tracer.isDefined) batchS else 0.0,
      in, Shape.long, seed, stub, out,
      Main.quantile(lateMs.toSeq.drop(warmN), 0.99) / 1000,
      measured.map { case (_, b, _, d) => (startOf(b) - d) / 1000 }.foldLeft(0.0)(math.max),
      batches)
  }
}

/** The traced run's extra measurements around one pass: spans, the
  * benchmark's own listeners, and afterwards the per-stage split, made
  * by timing cumulative prefixes of the same public chain over the same
  * input, each ending in a `noop` write (the last in the shipped
  * sink). A stage's self time is its prefix time minus the previous
  * prefix's. On `ingest_scans`, one more run of the whole chain at
  * `local[1]` gives `speedup_vs_1core`.
  */
final class Tracer(cores: Int, spansPath: String) {
  val spans = new Spans(s"${ProcessHandle.current.pid}")
  val counters = new Counters(perTask = true)
  val progress = new ProgressLog
  private var streamWall0 = 0L
  private var streamWallS = 0.0

  private var exec: Counters#Snapshot = _
  /** Micro-batches of the traced window. */
  var tracedBatches = Vector.empty[org.apache.spark.sql.streaming.StreamingQueryProgress]

  /** Starts the traced streaming window: counters and progress restart. */
  def beginStream(): Unit = {
    counters.reset()
    progress.reset()
    streamWall0 = System.nanoTime()
  }

  /** Ends it once the query stopped: waits for the listeners to catch up
    * and keeps the counters of exactly this window.
    */
  def endStream(spark: SparkSession): Unit = {
    streamWallS = (System.nanoTime() - streamWall0) / 1e9
    progress.awaitTerminated()
    counters.fence(spark)
    exec = counters.snapshot()
    tracedBatches = progress.dataBatches
  }

  private val Stages = Seq("read", "hash", "dedup", "analyze", "parse", "flatten", "pivot", "sink")

  /** Times each prefix once as an AvailableNow streaming query over the
    * pass's input (the dedup stage only exists on streams), each ending in
    * a `noop` write (the last one is `runAvailableNow` itself, into the
    * shipped sink). Returns per-stage self seconds and the number of
    * flattened field rows.
    */
  private def prefixes(session: SparkSession, r: PassResult, out: Path,
                       only: Option[String]): (Seq[(String, Double)], Long) = {
    val stub = StubAnalyzer(session, r.seed, r.shape)
    val dir = r.inputDir.toString
    var flatRows = 0L
    def flat(b: DataFrame) =
      ReceiptPipeline.flattenSummary(Enrichment.parse(Enrichment.analyze(b, stub)))
    def noopStream(df: DataFrame, ckpt: Path): Unit =
      df.writeStream.format("noop").trigger(Trigger.AvailableNow())
        .option("checkpointLocation", ckpt.toString).start().awaitTermination()
    val times = Stages.filter(s => only.forall(_ == s)).map { stage =>
      val ckpt = out.resolve(s"checkpoint-$stage")
      val raw = WatchPipeline.rawScans(session, dir)
      val t0 = System.nanoTime()
      spans(s"prefix.$stage") {
        stage match {
          case "read" => noopStream(raw, ckpt)
          case "hash" => noopStream(ImageSource.withHash(raw), ckpt)
          case "dedup" => noopStream(WatchPipeline.contentAddressed(raw), ckpt)
          case "sink" => WatchPipeline.runAvailableNow(session, dir,
            out.resolve("sink").toString, ckpt.toString, stub)
          case s =>
            WatchPipeline.contentAddressed(raw).writeStream.trigger(Trigger.AvailableNow())
              .option("checkpointLocation", ckpt.toString)
              .foreachBatch { (b: DataFrame, _: Long) =>
                val rows = Observation()
                (s match {
                  case "analyze" => Enrichment.analyze(b, stub)
                  case "parse" => Enrichment.parse(Enrichment.analyze(b, stub))
                  case "flatten" => flat(b).observe(rows, count(lit(1)).as("rows"))
                  case "pivot" => ReceiptPipeline.summarize(flat(b))
                }).write.format("noop").mode("overwrite").save()
                if (s == "flatten") flatRows += rows.get("rows").asInstanceOf[Long]
              }.start().awaitTermination()
        }
      }
      stage -> (System.nanoTime() - t0) / 1e9
    }
    val self = times.zip((0.0 +: times.map(_._2)).init)
      .map { case ((s, t), prev) => s -> (t - prev) }
    (self, flatRows)
  }

  def finish(session: SparkSession, r: PassResult, passDir: Path): Seq[(String, Any)] = {
    val c = exec
    // the pass already ran every stage; one untimed run of the first
    // prefix warms up the noop streaming path the prefixes share
    spans("chain.warmup")(prefixes(session, r, passDir.resolve("chain-warmup"), Some("read")))
    val (self, flatRows) = spans("chain")(prefixes(session, r, passDir.resolve("chain-out"), None))
    val selfOf = self.toMap
    val chainS = self.map(_._2).sum
    session.stop()
    // the open-loop watch is paced by its generator, not by cores
    val oneCoreS = if (r.shape == Shape.long) 0.0 else {
      val one = graft.Sessions.local("1")
      try spans("chain.local1")(
        prefixes(one, r, passDir.resolve("chain-1core"), Some("sink"))._1.head._2)
      finally one.stop()
    }

    val b = r.batches
    def sumMs(keys: String*) = b.map(p => keys.map(ProgressLog.ms(p, _)).sum).sum / 1000.0
    val durations = b.map(ProgressLog.ms(_, "triggerExecution") / 1000.0)
    val state = b.lastOption.flatMap(_.stateOperators.headOption)
    val images = b.map(_.numInputRows).sum
    val dropped = b.flatMap(_.stateOperators.headOption).map { s =>
      Option(s.customMetrics.get("numDroppedDuplicateRows")).map(_.longValue).getOrElse(0L)
    }.sum
    val calls = r.stub.calls.value
    val sinkFiles = Files.walk(r.outDir).iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toVector
    spans.write(Paths.get(spansPath))
    Seq(
      "hash.self_s" -> selfOf("hash"),
      "hash.ms_per_image" -> selfOf("hash") * 1000 / math.max(images, 1),
      "hash.images" -> images,
      "hash.undecodable" -> c.undecodable,
      "hash.share" -> selfOf("hash") / chainS,
      "read.self_s" -> selfOf("read"),
      "dedup.self_s" -> selfOf("dedup"),
      "stream.batches" -> b.size,
      "stream.batch_p50_s" -> Main.median(durations),
      "stream.batch_max_s" -> durations.foldLeft(0.0)(math.max),
      "stream.planning_s" -> sumMs("queryPlanning"),
      "stream.offsets_s" -> sumMs("latestOffset", "getBatch"),
      "stream.commit_s" -> sumMs("walCommit", "commitOffsets"),
      "stream.state_rows" -> state.map(_.numRowsTotal).getOrElse(0L),
      "stream.state_bytes" -> state.map(_.memoryUsedBytes).getOrElse(0L),
      "stream.dups_dropped" -> dropped,
      "stream.input_lag_max_s" -> r.inputLagMaxS,
      "stream.self_s" -> (r.tracedS - chainS),
      "analyze.calls" -> calls,
      "analyze.useful_ratio" -> r.committed.toDouble / math.max(calls, 1L),
      "analyze.stub_s" -> r.stub.seconds.value,
      "analyze.self_s" -> selfOf("analyze"),
      "parse.self_s" -> selfOf("parse"),
      "flatten.self_s" -> selfOf("flatten"),
      "flatten.rows" -> flatRows,
      "pivot.self_s" -> selfOf("pivot"),
      "sink.self_s" -> selfOf("sink"),
      "sink.files" -> sinkFiles.size,
      "sink.bytes" -> sinkFiles.map(Files.size).sum,
      "spark.jobs" -> c.jobs,
      "spark.stages" -> c.stages,
      "spark.tasks" -> c.tasks,
      "spark.task_cpu_s" -> c.cpuNs / 1e9,
      "spark.task_run_s" -> c.runMs / 1000.0,
      "spark.gc_s" -> c.gcMs / 1000.0,
      "spark.shuffle_read_bytes" -> c.shuffleRead,
      "spark.shuffle_write_bytes" -> c.shuffleWrite,
      "spark.spill_bytes" -> c.spill,
      "spark.core_busy_share" -> c.runMs / 1000.0 / (streamWallS * cores),
      "speedup_vs_1core" -> oneCoreS / chainS,
      "gen.late_p99_s" -> r.genLateP99S,
      "latency.samples" -> r.latenciesS.size,
      "trace.traced_s" -> r.tracedS,
      "trace.stage_sum_s" -> chainS,
      "trace.spans" -> spans.size)
  }
}

object Tracer {
  def span[T](t: Option[Tracer], name: String)(body: => T): T = t match {
    case Some(tr) => tr.spans(name)(body)
    case None => body
  }
}
