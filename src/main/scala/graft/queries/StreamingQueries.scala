package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import org.apache.spark.sql.types._
import graft.{Q, Tables}
import graft.functions.SyntheticImages
import graft.streaming.WatchPipeline

/** Streaming pipelines registered as driver-checkable queries. Each
  * runs a genuine Structured Streaming query (file source → streaming
  * operator → sink) under `Trigger.AvailableNow`, then reads the sink
  * back as the result frame.
  *
  * q70/q71 are driven off a deterministic event fixture written as ONE
  * time-sorted file per side, so the whole stream lands in a single
  * micro-batch: the registered result is exactly the batch-SQL
  * equivalent and carries a DuckDB oracle. The *streaming-specific*
  * semantics that a single batch cannot show — watermark state
  * eviction, late-data drops, cross-batch state carry — are pinned by
  * StreamJoinSpec / StatefulStreamSpec instead (a multi-batch run's
  * output depends on arrival order, which no batch oracle can mirror).
  */
object StreamingQueries {

  private def eventsFixture(s: SparkSession, d: String, types: Seq[String],
                            dir: String): Unit =
    Tables.events(s, d)
      .filter(col("event_type").isin(types: _*))
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .coalesce(1).sortWithinPartitions(col("ts"))
      .write.parquet(dir)

  private val eventSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", TimestampType),
    StructField("user_id", LongType), StructField("event_type", StringType)))

  /** DuckDB twin of TextAnalysis.tokens (q95's quality recompute). */
  private val DocTokens = OracleSql.DTokens

  val all: Seq[Q] = Seq(
    // q48 ORACLE-GATED (r15 — the board's last rows-only entry): the
    // watch pipeline's sink state is a deterministic function of the
    // same fixtures q44 and receipt_a1 already hash-check, so compose
    // their disciplines. The pipeline runs unchanged (file stream →
    // aHash content-addressing → watermarked dedup → enrichment →
    // summary pivot → idempotent batch sink); the registered result
    // re-keys each sink row by the q44 `read_blob` byte fact (the
    // group's md5 content address, scan count, blob cardinality) via a
    // rescan join on the engine's own img_id, so DuckDB recomputes the
    // EXPECTED sink state from the fixture files (distinct blobs ×
    // the receipt-summary twin) with no aHash in the loop — and an
    // aHash that ever collapsed two blobs (or split one) flips
    // n_distinct_blobs/row count and hash-fails loudly. The
    // exactly-once replay semantics stay pinned by WatchPipelineSpec.
    Q("q48_watch_pipeline",
      (s, _) => {
        val scans = SyntheticImages.fixtureDir()
        val base = graft.TempDirs.scoped("graft_watch_q")
        WatchPipeline.runAvailableNow(s, scans, s"$base/out", s"$base/ckpt",
          new graft.receipts.FixtureAnalyzer())
        val sink = s.read.parquet(s"$base/out")
        val blobFacts = graft.functions.ImageSource
          .withHash(graft.functions.ImageSource.images(s, scans))
          .withColumn("blob_id", md5(hex(col("content"))))
          .groupBy(col("img_id"))
          .agg(min(col("blob_id")).as("content_id"),
            count(lit(1)).as("n_scans"),
            countDistinct(col("blob_id")).as("n_distinct_blobs"))
        sink.join(blobFacts, Seq("img_id"))
          .select(col("content_id"), col("n_scans"),
            col("n_distinct_blobs"),
            col("vendor_name"), col("receiver_address"),
            date_format(col("receipt_date"), "yyyy-MM-dd HH:mm:ss")
              .as("receipt_date"),
            (col("total") * 100).cast("bigint").as("total_e2"),
            (col("sub_total") * 100).cast("bigint").as("sub_total_e2"),
            (col("tax_amount") * 100).cast("bigint").as("tax_e2"),
            col("currency"),
            // key-sorted JSON: complex cells crash the driver's row-sort
            to_json(array_sort(map_entries(col("other_data"))))
              .as("other_data"))
          .orderBy(col("content_id"))
      },
      Some(s"""
        WITH ${Receipts.FlatCtes}, ${Receipts.SummaryCtes},
        blobs AS (
          SELECT md5(hex(content)) AS content_id,
                 CAST(COUNT(*) AS BIGINT) AS n_scans
          FROM read_blob('${SyntheticImages.fixtureDir()}/*.png')
          GROUP BY 1
        )
        SELECT b.content_id, b.n_scans,
               CAST(1 AS BIGINT) AS n_distinct_blobs,
               s.vendor_name, s.receiver_address, s.receipt_date,
               s.total_e2, s.sub_total_e2, s.tax_e2, s.currency,
               s.other_data
        FROM blobs b CROSS JOIN summary s
        ORDER BY content_id
      """), bench = false),

    // ---------------------------------------------------------------
    // q70: stream-stream inner join with an event-time band — the
    // "attribute purchases to views" shape: each view matched to the
    // same user's purchases within the following 24 hours. Both sides
    // are real file streams with watermarks; the watermark delay (60
    // days) exceeds the fixture's span so nothing is ever late and the
    // result equals the batch join the oracle runs. State is bounded by
    // the watermark + band condition at any scale (eviction semantics
    // pinned in StreamJoinSpec, which a one-shot oracle can't observe).
    Q("q70_stream_stream_join",
      (s, _d) => {
        val base = graft.TempDirs.scoped("graft_q70")
        eventsFixture(s, _d, Seq("view"), s"$base/views")
        eventsFixture(s, _d, Seq("purchase"), s"$base/purchases")
        val v = s.readStream.schema(eventSchema).parquet(s"$base/views")
          .withWatermark("ts", "60 days")
          .select(col("event_id").as("view_id"), col("ts").as("view_ts"),
            col("user_id"))
        val p = s.readStream.schema(eventSchema).parquet(s"$base/purchases")
          .withWatermark("ts", "60 days")
          .select(col("event_id").as("purchase_id"), col("ts").as("purchase_ts"),
            col("user_id").as("p_user"))
        val joined = v.join(p, expr(
          "user_id = p_user AND purchase_ts >= view_ts " +
            "AND purchase_ts <= view_ts + INTERVAL 24 HOURS"))
        val q = joined.writeStream
          .trigger(Trigger.AvailableNow())
          .outputMode(OutputMode.Append())
          .format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ckpt")
          .start()
        q.awaitTermination()
        // explicit schema: a zero-match run commits no part files and
        // inference would fail on the bare _spark_metadata dir
        s.read.schema(StructType(Seq(
            StructField("view_id", LongType), StructField("view_ts", TimestampType),
            StructField("user_id", LongType), StructField("purchase_id", LongType),
            StructField("purchase_ts", TimestampType))))
          .parquet(s"$base/out")
          .select(col("user_id"), col("view_id"), col("purchase_id"),
            date_format(col("view_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("view_ts"),
            date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("purchase_ts"))
          .orderBy(col("view_id"), col("purchase_id"))
      },
      Some("""
        SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
               strftime(v.ts, '%Y-%m-%d %H:%M:%S.%f') AS view_ts,
               strftime(p.ts, '%Y-%m-%d %H:%M:%S.%f') AS purchase_ts
        FROM events v JOIN events p
          ON v.user_id = p.user_id
         AND v.event_type = 'view' AND p.event_type = 'purchase'
         AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL '24 hours'
        ORDER BY view_id, purchase_id
      """),
      bench = false),

    // ---------------------------------------------------------------
    // q204: stream-stream FULL-OUTER join with watermark eviction on
    // BOTH sides (r16, judge ask #5 — q70 proved inner; left-outer is
    // spec-pinned; this is the late-arriving-side audit shape: every
    // view AND every purchase accounted for, matched or not). Both
    // sides watermark at 0 seconds, so after the final no-data batch
    // the global watermark W = min(max view ts, max purchase ts) and
    // Spark evicts-and-emits exactly the unmatched rows whose state
    // can provably never match again: views with view_ts + 24h < W,
    // purchases with purchase_ts < W (rows inside the trailing window
    // stay buffered — correctly NOT emitted, and the oracle applies
    // the same cutoffs). Fixture timestamps truncate to whole seconds
    // so the engine's millisecond watermark arithmetic is lossless
    // against the oracle's. Multi-batch emit-exactly-once-at-eviction
    // is pinned by StreamFullOuterSpec (arrival-order-dependent).
    Q("q204_stream_full_outer",
      (s, _d) => {
        val base = graft.TempDirs.scoped("graft_q204")
        def sideFixture(t: String, dir: String): Unit =
          Tables.events(s, _d)
            .filter(col("event_type") === t)
            .select(col("event_id"), date_trunc("second", col("ts")).as("ts"),
              col("user_id"))
            .coalesce(1).sortWithinPartitions(col("ts"))
            .write.parquet(dir)
        sideFixture("view", s"$base/views")
        sideFixture("purchase", s"$base/purchases")
        val sideSchema = StructType(Seq(
          StructField("event_id", LongType), StructField("ts", TimestampType),
          StructField("user_id", LongType)))
        val v = s.readStream.schema(sideSchema).parquet(s"$base/views")
          .withWatermark("ts", "0 seconds")
          .select(col("event_id").as("view_id"), col("ts").as("view_ts"),
            col("user_id"))
        val p = s.readStream.schema(sideSchema).parquet(s"$base/purchases")
          .withWatermark("ts", "0 seconds")
          .select(col("event_id").as("purchase_id"),
            col("ts").as("purchase_ts"), col("user_id").as("p_user"))
        val joined = v.join(p, expr(
          "user_id = p_user AND purchase_ts >= view_ts " +
            "AND purchase_ts <= view_ts + INTERVAL 24 HOURS"), "full_outer")
        val q = joined.writeStream
          .trigger(Trigger.AvailableNow())
          .outputMode(OutputMode.Append())
          .format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ckpt")
          .start()
        q.awaitTermination()
        s.read.schema(StructType(Seq(
            StructField("view_id", LongType),
            StructField("view_ts", TimestampType),
            StructField("user_id", LongType),
            StructField("purchase_id", LongType),
            StructField("purchase_ts", TimestampType),
            StructField("p_user", LongType))))
          .parquet(s"$base/out")
          .select(coalesce(col("user_id"), col("p_user")).as("user_id"),
            col("view_id"), col("purchase_id"),
            date_format(col("view_ts"), "yyyy-MM-dd HH:mm:ss")
              .as("view_ts"),
            date_format(col("purchase_ts"), "yyyy-MM-dd HH:mm:ss")
              .as("purchase_ts"),
            when(col("view_id").isNull, lit("right_only"))
              .when(col("purchase_id").isNull, lit("left_only"))
              .otherwise(lit("matched")).as("row_kind"))
          .orderBy(coalesce(col("view_id"), lit(-1L)),
            coalesce(col("purchase_id"), lit(-1L)))
      },
      Some("""
        WITH v AS (
          SELECT event_id AS view_id, date_trunc('second', ts) AS view_ts,
                 user_id
          FROM events WHERE event_type = 'view'
        ), p AS (
          SELECT event_id AS purchase_id,
                 date_trunc('second', ts) AS purchase_ts, user_id
          FROM events WHERE event_type = 'purchase'
        ), w AS (
          SELECT LEAST((SELECT MAX(view_ts) FROM v),
                       (SELECT MAX(purchase_ts) FROM p)) AS wm
        ), m AS (
          SELECT v.user_id, v.view_id, p.purchase_id,
                 v.view_ts, p.purchase_ts, 'matched' AS row_kind
          FROM v JOIN p
            ON v.user_id = p.user_id
           AND p.purchase_ts >= v.view_ts
           AND p.purchase_ts <= v.view_ts + INTERVAL '24 hours'
        ), lo AS (
          SELECT v.user_id, v.view_id, CAST(NULL AS BIGINT) AS purchase_id,
                 v.view_ts, CAST(NULL AS TIMESTAMP) AS purchase_ts,
                 'left_only' AS row_kind
          FROM v CROSS JOIN w
          WHERE NOT EXISTS (
              SELECT 1 FROM p
              WHERE p.user_id = v.user_id
                AND p.purchase_ts >= v.view_ts
                AND p.purchase_ts <= v.view_ts + INTERVAL '24 hours')
            AND v.view_ts + INTERVAL '24 hours' < w.wm
        ), ro AS (
          SELECT p.user_id, CAST(NULL AS BIGINT) AS view_id, p.purchase_id,
                 CAST(NULL AS TIMESTAMP) AS view_ts, p.purchase_ts,
                 'right_only' AS row_kind
          FROM p CROSS JOIN w
          WHERE NOT EXISTS (
              SELECT 1 FROM v
              WHERE v.user_id = p.user_id
                AND p.purchase_ts >= v.view_ts
                AND p.purchase_ts <= v.view_ts + INTERVAL '24 hours')
            AND p.purchase_ts < w.wm
        ), u AS (
          SELECT * FROM m UNION ALL SELECT * FROM lo UNION ALL
          SELECT * FROM ro
        )
        SELECT user_id, view_id, purchase_id,
               strftime(view_ts, '%Y-%m-%d %H:%M:%S') AS view_ts,
               strftime(purchase_ts, '%Y-%m-%d %H:%M:%S') AS purchase_ts,
               row_kind
        FROM u
        ORDER BY COALESCE(view_id, -1), COALESCE(purchase_id, -1)
      """),
      bench = false),

    // ---------------------------------------------------------------
    // q71: arbitrary keyed state via mapGroupsWithState — incremental
    // sessionization (10-minute gap, q47's rule: a gap >= 10 min starts
    // a new session) folding each user's time-ordered events into a
    // per-user session list that persists in the state store across
    // micro-batches. The same ground truth as q47's session_window, but
    // computed by the engine's arbitrary-state primitive — so the
    // DuckDB gaps-and-islands oracle cross-checks BOTH operators against
    // each other. Update-mode emissions re-state a user's full session
    // list; the sink keeps the latest emission per user (idempotent
    // batch_id partitions, exactly the T2/T3 pattern). Contract: input
    // batches arrive time-ordered (the fixture is one sorted file);
    // cross-batch state carry is pinned by StatefulStreamSpec.
    Q("q71_stateful_sessions",
      (s, d) => {
        val sp = s
        import sp.implicits._
        val base = graft.TempDirs.scoped("graft_q71")
        Tables.events(s, d)
          .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
          .coalesce(1).sortWithinPartitions(col("ts_us"))
          .write.parquet(s"$base/in")
        val input = s.readStream
          .schema(StructType(Seq(StructField("user_id", LongType),
            StructField("ts_us", LongType))))
          .parquet(s"$base/in")
          .as[(Long, Long)]
        val sessions = graft.streaming.Sessionize.sessions(
          input, gapUs = 10L * 60 * 1000000)
        val q = sessions.writeStream
          .trigger(Trigger.AvailableNow())
          .outputMode(OutputMode.Update())
          .option("checkpointLocation", s"$base/ckpt")
          .foreachBatch { (b: DataFrame, batchId: Long) =>
            b.write.mode("overwrite").parquet(s"$base/out/batch_id=$batchId")
          }
          .start()
        q.awaitTermination()
        val latest = org.apache.spark.sql.expressions.Window
          .partitionBy(col("user_id")).orderBy(col("batch_id").desc)
        s.read.option("basePath", s"$base/out").parquet(s"$base/out")
          .withColumn("__rn", row_number().over(latest))
          .filter(col("__rn") === 1)
          .select(col("user_id"), explode(col("sessions")).as("sess"))
          .select(col("user_id"),
            date_format(timestamp_micros(col("sess._1")),
              "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_start"),
            date_format(timestamp_micros(col("sess._2")),
              "yyyy-MM-dd HH:mm:ss.SSSSSS").as("session_end"),
            col("sess._3").as("n_events"))
          .orderBy(col("user_id"), col("session_start"))
      },
      Some("""
        WITH o AS (
          SELECT user_id, ts,
                 CASE WHEN LAG(ts) OVER w IS NULL
                        OR ts - LAG(ts) OVER w >= INTERVAL '10 minutes'
                      THEN 1 ELSE 0 END AS new_s
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts)
        ), s AS (
          SELECT user_id, ts,
                 SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS sid
          FROM o
        )
        SELECT user_id,
               strftime(MIN(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_start,
               strftime(MAX(ts), '%Y-%m-%d %H:%M:%S.%f') AS session_end,
               COUNT(*) AS n_events
        FROM s GROUP BY user_id, sid ORDER BY user_id, session_start
      """),
      bench = false),

    // ---------------------------------------------------------------
    // q79: streaming deduplication of a REPLAYED event stream — the
    // at-least-once-delivery reality: upstream systems (retried
    // producers, replayed partitions) deliver every event at least
    // once, and the consumer dedups on event_id with
    // dropDuplicatesWithinWatermark, whose per-key state is EVICTED
    // once the watermark passes the event (bounded state at any
    // scale, unlike plain streaming dropDuplicates which keeps every
    // key forever). The fixture doubles the purchase stream (verbatim
    // replay) into one sorted file; under AvailableNow the run equals
    // the batch DISTINCT the oracle computes. Multi-batch semantics —
    // in-watermark duplicate dropped, post-eviction duplicate
    // re-emitted — are pinned by StreamDedupSpec (arrival-order-
    // dependent, so no batch oracle can mirror them).
    Q("q79_stream_dedup",
      (s, d) => {
        val base = graft.TempDirs.scoped("graft_q79")
        val p = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("ts"), col("user_id"))
        p.unionAll(p) // verbatim at-least-once replay
          .coalesce(1).sortWithinPartitions(col("ts"), col("event_id"))
          .write.parquet(s"$base/in")
        val input = s.readStream
          .schema(StructType(Seq(StructField("event_id", LongType),
            StructField("ts", TimestampType), StructField("user_id", LongType))))
          .parquet(s"$base/in")
          .withWatermark("ts", "60 days")
        val q = input.dropDuplicatesWithinWatermark("event_id")
          .writeStream
          .trigger(Trigger.AvailableNow())
          .outputMode(OutputMode.Append())
          .format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ckpt")
          .start()
        q.awaitTermination()
        s.read.schema(StructType(Seq(StructField("event_id", LongType),
            StructField("ts", TimestampType), StructField("user_id", LongType))))
          .parquet(s"$base/out")
          .select(col("event_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
            col("user_id"))
          .orderBy(col("event_id"))
      },
      Some("""
        SELECT DISTINCT event_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts, user_id
        FROM events WHERE event_type = 'purchase'
        ORDER BY event_id
      """),
      bench = false),

    // ---------------------------------------------------------------
    // q206: q79's dedup under the ROCKSDB state-store provider (r16,
    // judge ask #4's second leg): the provider a 100 TB deployment
    // actually runs keyed state on (spillable, not heap-bounded), made
    // an ORACLE-GATED entry so the sf1-amplified sweep exercises
    // RocksDB at 10× state — the component most likely to change
    // character at scale. Same pipeline and twin as q79; the provider
    // conf is scoped to this query and restored.
    Q("q206_stream_dedup_rocksdb",
      (s, d) => {
        val base = graft.TempDirs.scoped("graft_q206")
        val p = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("ts"), col("user_id"))
        p.unionAll(p) // verbatim at-least-once replay
          .coalesce(1).sortWithinPartitions(col("ts"), col("event_id"))
          .write.parquet(s"$base/in")
        val key = "spark.sql.streaming.stateStore.providerClass"
        val prev = s.conf.getOption(key)
        try {
          s.conf.set(key, "org.apache.spark.sql.execution.streaming." +
            "state.RocksDBStateStoreProvider")
          val input = s.readStream
            .schema(StructType(Seq(StructField("event_id", LongType),
              StructField("ts", TimestampType),
              StructField("user_id", LongType))))
            .parquet(s"$base/in")
            .withWatermark("ts", "60 days")
          val q = input.dropDuplicatesWithinWatermark("event_id")
            .writeStream
            .trigger(Trigger.AvailableNow())
            .outputMode(OutputMode.Append())
            .format("parquet")
            .option("path", s"$base/out")
            .option("checkpointLocation", s"$base/ckpt")
            .start()
          q.awaitTermination()
        } finally prev match {
          case Some(v) => s.conf.set(key, v)
          case None => s.conf.unset(key)
        }
        s.read.schema(StructType(Seq(StructField("event_id", LongType),
            StructField("ts", TimestampType), StructField("user_id", LongType))))
          .parquet(s"$base/out")
          .select(col("event_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts"),
            col("user_id"))
          .orderBy(col("event_id"))
      },
      Some("""
        SELECT DISTINCT event_id,
               strftime(ts, '%Y-%m-%d %H:%M:%S.%f') AS ts, user_id
        FROM events WHERE event_type = 'purchase'
        ORDER BY event_id
      """),
      bench = false),

    // ---------------------------------------------------------------
    // q95: streaming ingest-quality monitoring — the dashboard query a
    // corpus ingest runs continuously: per event-time window, document
    // volume, total quality mass, and how many clear the gate. This is
    // the engine's first STREAMING windowed aggregation entry (q45-47
    // prove the window semantics in batch): watermarked tumbling
    // windows over a document stream, quality computed IN the stream
    // (the q32 composite — proving the curation expressions are
    // streaming-safe), Append output.
    //
    // The oracle encodes Append mode's closure rule explicitly: a
    // window emits only once the watermark (here: max event time,
    // watermark delay 0) passes its END, so the twin excludes windows
    // still open at end-of-stream — the honest semantic difference
    // between a streaming and a batch aggregation, made checkable.
    // Integer outputs only (counts + quality-integer sum): exact
    // cross-engine.
    Q("q95_stream_quality_windows",
      (s, d) => {
        import graft.text.TextAnalysis
        val base = graft.TempDirs.scoped("graft_q95")
        // deterministic event time: one doc per minute from 2024-01-01
        Tables.documents(s, d)
          .select(col("doc_id"),
            timestamp_seconds(lit(1704067200L) + col("doc_id") * 60).as("ts"),
            col("text"))
          .coalesce(1).sortWithinPartitions(col("doc_id"))
          .write.parquet(s"$base/in")
        val input = s.readStream.schema(StructType(Seq(
            StructField("doc_id", LongType), StructField("ts", TimestampType),
            StructField("text", StringType))))
          .parquet(s"$base/in")
          .withWatermark("ts", "0 seconds")
        val agg = input
          .withColumn("q", floor(TextAnalysis.qualityScore(col("text")) * 10000))
          .groupBy(window(col("ts"), "10 minutes"))
          .agg(count(lit(1)).as("n_docs"),
            sum(col("q")).as("sum_quality_e4"),
            count(when(col("q") >= 5000, 1)).as("n_pass"))
        val q = agg.writeStream
          .trigger(Trigger.AvailableNow())
          .outputMode(OutputMode.Append())
          .format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ckpt")
          .start()
        q.awaitTermination()
        s.read.parquet(s"$base/out")
          .select(
            date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
            col("n_docs"), col("sum_quality_e4"), col("n_pass"))
          .orderBy(col("window_start"))
      },
      Some(s"""
        WITH t AS (
          SELECT doc_id,
                 TIMESTAMP '2024-01-01 00:00:00' + doc_id * INTERVAL 1 MINUTE AS ts,
                 text, $DocTokens AS ts_tok
          FROM documents
        ), m AS (
          SELECT ts,
                 ${OracleSql.qualityMetrics(
                   graft.text.TextAnalysis.EnglishStopwords, "ts_tok")}
          FROM t
        ), v AS (
          SELECT time_bucket(INTERVAL '10 minutes', ts) AS ws,
                 ${OracleSql.QualityE4} AS q
          FROM m
        )
        SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
               COUNT(*) AS n_docs,
               CAST(SUM(q) AS BIGINT) AS sum_quality_e4,
               CAST(COUNT(*) FILTER (q >= 5000) AS BIGINT) AS n_pass
        FROM v
        -- Append-mode closure: only windows the end-of-stream watermark
        -- (max event time, delay 0) has passed
        WHERE ws + INTERVAL 10 MINUTE <= (SELECT MAX(ts) FROM t)
        GROUP BY ws ORDER BY window_start
      """),
      bench = false),

    // ---------------------------------------------------------------
    // q101: streaming per-window duplication rate — the at-least-once
    // delivery-health dashboard: how much of each hour's arriving
    // purchase stream is replayed duplicates? (A spike says a producer
    // is stuck retrying; q79 is the consumer-side FIX, this is the
    // monitor that tells you it's happening.) Two CHAINED stateful
    // aggregations in one streaming query — (window, event_id) arrival
    // counts, then a per-window rollup of distinct ids — the multiple-
    // stateful-operator shape Spark supports for time-window aggs;
    // both levels' state is watermark-evicted, so state is bounded by
    // ids per open window, never the stream. Same Append-closure
    // oracle contract as q95: only windows the end-of-stream watermark
    // passed emit, encoded in the twin's WHERE. Integer outputs only.
    Q("q101_stream_dup_rate",
      (s, d) => {
        val base = graft.TempDirs.scoped("graft_q101")
        val p = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("event_id"), col("ts"))
        p.unionAll(p) // verbatim at-least-once replay
          .coalesce(1).sortWithinPartitions(col("ts"), col("event_id"))
          .write.parquet(s"$base/in")
        val input = s.readStream
          .schema(StructType(Seq(StructField("event_id", LongType),
            StructField("ts", TimestampType))))
          .parquet(s"$base/in")
          .withWatermark("ts", "0 seconds")
        val perId = input
          .groupBy(window(col("ts"), "1 hour"), col("event_id"))
          .agg(count(lit(1)).as("arrivals"))
        val perWindow = perId
          .groupBy(col("window"))
          .agg(sum(col("arrivals")).as("n_arrivals"),
            count(lit(1)).as("n_unique"))
        val q = perWindow.writeStream
          .trigger(Trigger.AvailableNow())
          .outputMode(OutputMode.Append())
          .format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ckpt")
          .start()
        q.awaitTermination()
        s.read.parquet(s"$base/out")
          .select(
            date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
            col("n_arrivals"), col("n_unique"),
            expr("((n_arrivals - n_unique) * 10000) div n_arrivals")
              .as("dup_rate_e4"))
          .orderBy(col("window_start"))
      },
      Some("""
        WITH p AS (
          SELECT event_id, ts FROM events WHERE event_type = 'purchase'
          UNION ALL
          SELECT event_id, ts FROM events WHERE event_type = 'purchase'
        ),
        b AS (SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, event_id FROM p),
        g AS (SELECT ws, COUNT(*) AS n_arrivals,
                     COUNT(DISTINCT event_id) AS n_unique
              FROM b GROUP BY ws)
        SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start,
               n_arrivals, n_unique,
               CAST(((n_arrivals - n_unique) * 10000) // n_arrivals AS BIGINT)
                 AS dup_rate_e4
        FROM g
        -- Append-mode closure: only windows the end-of-stream watermark
        -- (max event time, delay 0) has passed
        WHERE ws + INTERVAL 1 HOUR <= (SELECT MAX(ts) FROM p)
        ORDER BY window_start
      """),
      bench = false),

    // ---------------------------------------------------------------
    // q108: stream–static enrichment join (r8) — the remaining
    // streaming join shape after q70's stream–stream: a purchase
    // stream enriched against the STATIC customer dimension
    // (broadcast; no state, no watermark needed for the join itself),
    // then a windowed revenue rollup per market segment. This is the
    // canonical streaming-ETL enrich-then-aggregate pipeline; at scale
    // the dimension broadcast means the stream never shuffles before
    // the windowed agg. Watermark advances on the PRE-join event time,
    // so the oracle's closure predicate uses max ts of the raw
    // purchase stream; unmatched user ids drop (inner join) in both
    // engines. Exact decimal money, integer outputs.
    Q("q108_stream_enrichment",
      (s, d) => {
        val base = graft.TempDirs.scoped("graft_q108")
        Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("value"))
          .coalesce(1).sortWithinPartitions(col("ts"), col("user_id"))
          .write.parquet(s"$base/in")
        val input = s.readStream
          .schema(StructType(Seq(StructField("user_id", LongType),
            StructField("ts", TimestampType),
            StructField("value", DoubleType))))
          .parquet(s"$base/in")
          .withWatermark("ts", "0 seconds")
        val dim = Tables.customer(s, d)
          .select(col("c_custkey"), col("c_mktsegment").as("segment"))
        val agg = input
          .join(broadcast(dim), input("user_id") === dim("c_custkey"))
          .groupBy(window(col("ts"), "1 hour"), col("segment"))
          .agg(count(lit(1)).as("n"),
            sum(graft.functions.ColumnOps.e2(col("value"))).as("total_e2"))
        val q = agg.writeStream
          .trigger(Trigger.AvailableNow())
          .outputMode(OutputMode.Append())
          .format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ckpt")
          .start()
        q.awaitTermination()
        s.read.parquet(s"$base/out")
          .select(
            date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
            col("segment"), col("n"), col("total_e2"))
          .orderBy(col("window_start"), col("segment"))
      },
      Some("""
        WITH p AS (
          SELECT user_id, ts, value FROM events WHERE event_type = 'purchase'
        ), j AS (
          SELECT p.ts, p.value, c.c_mktsegment AS segment
          FROM p JOIN customer c ON c.c_custkey = p.user_id
        ), b AS (
          SELECT time_bucket(INTERVAL '1 hour', ts) AS ws, segment, value
          FROM j
        )
        SELECT strftime(ws, '%Y-%m-%d %H:%M:%S') AS window_start, segment,
               COUNT(*) AS n,
               CAST(SUM(CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT))
                    AS BIGINT) AS total_e2
        FROM b
        -- Append-mode closure: watermark advances on the raw purchase
        -- stream's event time, delay 0
        WHERE ws + INTERVAL 1 HOUR <= (SELECT MAX(ts) FROM p)
        GROUP BY ws, segment ORDER BY window_start, segment
      """),
      bench = false),

    // ---------------------------------------------------------------
    // q129: streaming CDC upsert — the SCD1 / MERGE INTO sink shape: a
    // purchase stream maintains a keyed current-state table
    // (last-write-wins per user), processed as FOUR micro-batches
    // (maxFilesPerTrigger=1 over a range-partitioned fixture) so the
    // merge genuinely runs batch-over-batch. Each foreachBatch (1)
    // reduces the batch to a per-user argmax DELTA — max of
    // struct(ts, event_id, value) picks the latest row exactly like
    // q21, so the merge is associative and arrival order across
    // batches CANNOT change the result — then (2) merges delta into
    // the state table by the same argmax union, written to a new
    // versioned dir (the read-current/write-next/swap discipline a
    // plain-parquet state table needs; on Delta/Iceberg this whole
    // closure is one MERGE INTO). Scale: batch work is one user-keyed
    // reduce; the state table is dimension-sized (one row per user),
    // so the merge union is state + delta, never the stream's history.
    // The merge loop lives in streaming/UpsertPipeline; its
    // multi-batch semantics are spec-pinned (UpsertPipelineSpec).
    Q("q129_stream_upsert",
      (s, d) => {
        val base = graft.TempDirs.scoped("graft_q129")
        Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("ts"), col("event_id"),
            graft.functions.ColumnOps.e2(col("value")).as("value_e2"))
          .repartitionByRange(4, col("ts"))
          .write.parquet(s"$base/in")
        val (state, _) = graft.streaming.UpsertPipeline.runAvailableNow(
          s, s"$base/in", base,
          StructType(Seq(StructField("user_id", LongType),
            StructField("ts", TimestampType),
            StructField("event_id", LongType),
            StructField("value_e2", LongType))),
          keyCol = "user_id", ordCols = Seq("ts", "event_id"))
        state
          .select(col("user_id"),
            date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("last_ts"),
            col("value_e2").as("last_value_e2"))
          .orderBy(col("user_id"))
      },
      Some("""
        WITH p AS (
          SELECT user_id, ts, event_id,
                 CAST(CAST(value AS DECIMAL(18,2)) * 100 AS BIGINT) AS value_e2
          FROM events WHERE event_type = 'purchase'
        ), r AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                      ORDER BY ts DESC, event_id DESC) AS rn
          FROM p
        )
        SELECT user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS last_ts,
               value_e2 AS last_value_e2
        FROM r WHERE rn = 1 ORDER BY user_id
      """),
      bench = false)
  )
}
