package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.functions.ImageSource
import graft.receipts.{Enrichment, ExpenseAnalyzer, ReceiptPipeline}

/** T1-T4 — the reference's `anarcpt watch` mode rebuilt on Structured
  * Streaming (`watcher.py:26-54,121-157`, wired `main.py:79-132`).
  *
  * Reference shape: watchdog dir-observer → regex filter → stability
  * gate → hash/rename → analyze → bounded queue → batch DB insert, at
  * most once, state lost on crash. Rebuild: one streaming query — file
  * source (lists only completed files: S5's stability gate is free) →
  * hash → watermarked cross-batch dedup → enrichment seam →
  * flatten/pivot → `foreachBatch` batch insert (T2: micro-batch = queue
  * flush), checkpointed so recovery is exactly-once per sink (T3 —
  * documented upgrade over the reference's at-most-once). The
  * `Trigger.AvailableNow` variant is the Lambda/batch-over-new-objects
  * mode (T4, `aws_lambda_fn.py:4-17`).
  */
object WatchPipeline {

  /** binaryFile's fixed schema (streaming sources need it declared). */
  val binaryFileSchema: StructType = StructType(Seq(
    StructField("path", StringType),
    StructField("modificationTime", TimestampType),
    StructField("length", LongType),
    StructField("content", BinaryType)))

  /** S3/S4 — the watched directory as an unbounded stream with the
    * reference's filename filter (`watcher.py:58`).
    */
  def rawScans(spark: SparkSession, rawDir: String): DataFrame =
    spark.readStream.format("binaryFile")
      .option("pathGlobFilter", ImageSource.PathGlob)
      .schema(binaryFileSchema)
      .load(rawDir)

  /** Stage 1 (T1): content-address every scan and collapse re-scans —
    * J2's rename-to-hash as a watermarked streaming dedup with bounded
    * state. Re-scans arriving within the watermark window are dropped
    * here; a re-scan later than the watermark reaches the sink again,
    * so a deployment needing strict uniqueness puts the img_id key on
    * the sink table (JDBC upsert) or widens the watermark.
    */
  def contentAddressed(raw: DataFrame): DataFrame =
    ImageSource.withHash(raw)
      .withWatermark("modificationTime", "1 hour")
      .dropDuplicatesWithinWatermark("img_hash")

  /** Stage 2 (T1) + T2/T3: analyze each micro-batch through the
    * enrichment seam and hand (summaries, batchId) to the sink. The
    * checkpoint makes batch REPLAY deterministic; end-to-end
    * exactly-once additionally requires the sink to be idempotent per
    * batchId — foreachBatch's contract. The default parquet sink
    * (below) overwrites a batch_id partition, so a crash between sink
    * commit and checkpoint commit replays into the same partition
    * instead of appending duplicates.
    *
    * The query runs no no-data micro-batches: without them a drain is
    * one micro-batch, not one plus a trailing batch that only moves the
    * watermark. Nothing is lost by that. The only stateful operator,
    * the dedup, emits no row when it evicts a key, so a no-data batch
    * can never add a sink row; the next data batch evicts the expired
    * keys itself. The watermark it filters with is carried by the
    * commit log (`nextBatchWatermarkMs`), so a restarted query starts
    * from the same one. The query clones the session conf when it is
    * created, so the setting is made on `spark` only around `start()`
    * and the caller's own setting is then put back.
    */
  def start(spark: SparkSession, rawDir: String, checkpointDir: String,
            analyzer: ExpenseAnalyzer, sink: (DataFrame, Long) => Unit,
            trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery = {
    val writer = contentAddressed(rawScans(spark, rawDir))
      .writeStream
      .queryName("graft_watch")
      .trigger(trigger)
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val responses = Enrichment.parse(Enrichment.analyze(batch, analyzer))
        sink(ReceiptPipeline.summarize(ReceiptPipeline.flattenSummary(responses)),
          batchId)
      }
    val prior = spark.conf.getAll.get(NoDataBatches)
    spark.conf.set(NoDataBatches, "false")
    try writer.start()
    finally prior match {
      case Some(v) => spark.conf.set(NoDataBatches, v)
      case None => spark.conf.unset(NoDataBatches)
    }
  }

  private val NoDataBatches = "spark.sql.streaming.noDataMicroBatches.enabled"

  /** Idempotent-per-batch parquet sink: replaying batch N overwrites
    * exactly batch N's partition.
    */
  def parquetBatchSink(outDir: String): (DataFrame, Long) => Unit =
    (batch, batchId) =>
      batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")

  /** T4 — event-driven batch-over-new-objects variant: drain everything
    * new (per the checkpoint) and stop.
    */
  def runAvailableNow(spark: SparkSession, rawDir: String, outDir: String,
                      checkpointDir: String, analyzer: ExpenseAnalyzer): Unit = {
    val q = start(spark, rawDir, checkpointDir, analyzer,
      parquetBatchSink(outDir), Trigger.AvailableNow())
    q.awaitTermination()
  }
}
