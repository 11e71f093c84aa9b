package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.Instant
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Spans around the benchmark's calls into the engine's layers: name,
  * start, end and parent, kept in memory and written as JSON lines when
  * the run ends.
  */
final class Spans(runId: String) {
  private final case class Span(id: Int, name: String, parent: Int, start: Long, var end: Long)
  private val spans = ArrayBuffer.empty[Span]
  private var open = List(0)
  private val epochMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()

  def apply[T](name: String)(body: => T): T = {
    val s = Span(spans.size + 1, name, open.head, System.nanoTime(), 0L)
    spans += s
    open = s.id :: open
    try body finally { s.end = System.nanoTime(); open = open.tail }
  }

  def size: Int = spans.size

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = spans.map { s =>
      Json.obj("run" -> runId, "id" -> s.id, "name" -> s.name, "parent" -> s.parent,
        "start_epoch_ms" -> (epochMs + (s.start - baseNs) / 1e6),
        "end_epoch_ms" -> (epochMs + (s.end - baseNs) / 1e6))
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}

/** Execution counters from a SparkListener the benchmark owns. Also
  * reads the engine's named accumulator `graft.images.undecodable`.
  * With `perTask` off it only watches stage completions, which is what
  * the untraced runs need for the result check.
  *
  * Listener events arrive asynchronously; [[fence]] runs a marker job
  * and waits until its end event arrived, so every earlier event has
  * been counted (one queue delivers in order). Marker jobs are not
  * counted.
  */
final class Counters(perTask: Boolean) extends SparkListener {
  private val FenceKey = "perfbench.fence"
  private val fenceStages = ConcurrentHashMap.newKeySet[Int]()
  private val fenceJobs = ConcurrentHashMap.newKeySet[Int]()
  @volatile private var fencesSeen = 0
  private var fencesRun = 0

  @volatile var jobs, stages, tasks, cpuNs, runMs, gcMs = 0L
  @volatile var shuffleRead, shuffleWrite, spill = 0L
  @volatile var undecodable = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Option(e.properties).exists(_.getProperty(FenceKey) != null)) {
      fenceJobs.add(e.jobId)
      e.stageIds.foreach(fenceStages.add)
    } else jobs += 1

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    if (fenceJobs.contains(e.jobId)) fencesSeen += 1

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    if (!fenceStages.contains(info.stageId)) stages += 1
    info.accumulables.values.filter(_.name.contains("graft.images.undecodable"))
      .flatMap(_.value).foreach {
        case v: java.lang.Long => undecodable = math.max(undecodable, v)
        case _ =>
      }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (perTask && !fenceStages.contains(e.stageId) && e.taskMetrics != null) {
      val m = e.taskMetrics
      tasks += 1
      cpuNs += m.executorCpuTime
      runMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.memoryBytesSpilled + m.diskBytesSpilled
    }

  def fence(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    sc.setLocalProperty(FenceKey, "1")
    try sc.parallelize(Seq(1), 1).count() finally sc.setLocalProperty(FenceKey, null)
    fencesRun += 1
    val deadline = System.nanoTime() + 30000000000L
    while (fencesSeen < fencesRun && System.nanoTime() < deadline) Thread.sleep(2)
    require(fencesSeen >= fencesRun, "listener events did not arrive")
  }

  def reset(): Unit = {
    jobs = 0; stages = 0; tasks = 0; cpuNs = 0; runMs = 0; gcMs = 0
    shuffleRead = 0; shuffleWrite = 0; spill = 0; undecodable = 0
  }

  final case class Snapshot(jobs: Long, stages: Long, tasks: Long, cpuNs: Long, runMs: Long,
                            gcMs: Long, shuffleRead: Long, shuffleWrite: Long, spill: Long,
                            undecodable: Long)

  def snapshot(): Snapshot = Snapshot(jobs, stages, tasks, cpuNs, runMs, gcMs,
    shuffleRead, shuffleWrite, spill, undecodable)
}

/** Every StreamingQueryProgress of the run, plus the input-row total so
  * far (the drain condition) and query termination.
  */
final class ProgressLog extends StreamingQueryListener {
  private val all = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  @volatile private var done = new CountDownLatch(1)
  @volatile var inputRows = 0L

  def reset(): Unit = { all.clear(); inputRows = 0; done = new CountDownLatch(1) }

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    all.add(e.progress)
    inputRows += e.progress.numInputRows
  }
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    done.countDown()

  def awaitTerminated(): Unit =
    require(done.await(60, TimeUnit.SECONDS), "no termination event from the query")

  /** Micro-batches that read input, in batch order. */
  def dataBatches: Vector[StreamingQueryProgress] =
    all.asScala.filter(_.numInputRows > 0).toVector.sortBy(_.batchId)
}

object ProgressLog {
  def ms(p: StreamingQueryProgress, key: String): Long =
    Option(p.durationMs.get(key)).map(_.longValue).getOrElse(0L)

  def startMs(p: StreamingQueryProgress): Long = Instant.parse(p.timestamp).toEpochMilli

  /** When the batch committed: trigger start plus the whole trigger's
    * execution, which ends with the offset commit.
    */
  def commitMs(p: StreamingQueryProgress): Long = startMs(p) + ms(p, "triggerExecution")
}

/** Minimal JSON writer for the result lines. */
object Json {
  def value(v: Any): String = v match {
    case null => "null"
    case s: String => "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.map { case (k, x) => value(k.toString) + ":" + value(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ",", "]")
    case other => value(other.toString)
  }
  def obj(kvs: (String, Any)*): String =
    kvs.map { case (k, x) => value(k) + ":" + value(x) }.mkString("{", ",", "}")
}
