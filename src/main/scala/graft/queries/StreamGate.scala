package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.DoubleType

import graft.Tables
import graft.streaming.{EventStream, Sessionize}

/** The Structured Streaming engine under the driver's DuckDB oracle gate:
  * each query below actually EXECUTES a streaming job (readStream →
  * watermarked transform → AvailableNow memory sink) and returns its result
  * table, which the oracle recomputes with batch SQL. This is the
  * batch/stream unification claim made testable — same logic, same answer,
  * two execution engines, one hash gate.
  *
  * AvailableNow over a static backlog drops nothing at the watermark
  * (single logical batch), so the result is deterministic and equal to the
  * batch twin.
  */
object StreamGate {

  /** A timed-out streaming query must be stopped and surfaced as an error:
    * reading the memory-sink table while the query still runs would compare
    * a partial result, and the leaked active query would make the next
    * invocation of the same queryName fail.
    */
  private[queries] def awaitOrFail(q: StreamingQuery, ms: Long): Unit =
    if (!q.awaitTermination(ms)) {
      q.stop()
      // unnamed queries (foreachBatch sinks) report their id
      throw new IllegalStateException(
        s"streaming query '${Option(q.name).getOrElse(q.id)}' did not terminate within ${ms}ms")
    }

  /** Isolated child session with shuffle/state partitions sized to the
    * BACKLOG, not the session's scan parallelism — the stream_join
    * discipline (round 15's ~9 s → ~3 s measurement) generalized to every
    * stateful gate (round 16): a stateful operator's partition count is
    * fixed at the query's first run from `spark.sql.shuffle.partitions`,
    * and EVERY micro-batch then commits one state-store delta file per
    * partition per stateful operator (per side, for joins) — at 32
    * partitions that checkpoint I/O dominates these bounded-backlog gates.
    * Partitions are [[Widths.parts]] of the backlog's on-disk bytes at one
    * advisory-size (64 MB, Spark's own default) state partition each,
    * clamped to [8, the caller session's setting] — so the gate backlogs
    * land at 8 while a 100 TB backlog keeps the deployment's configured
    * parallelism. The override lives on an isolated child session
    * ([[Widths.childSession]]): the source, transform, sink, AND the
    * memory-sink temp view all resolve against the child, and the
    * caller's session never observes the override.
    */
  private[queries] def streamSession(s: SparkSession, backlogDirs: String*): SparkSession =
    Widths.childSession(s, streamParts(s, Widths.onDiskBytes(s, backlogDirs: _*)))

  /** [[streamSession]]'s width over a `bytes`-byte backlog. */
  private[queries] def streamParts(s: SparkSession, bytes: Long): Int =
    Widths.parts(bytes, Widths.ADVISORY_BYTES, 8L, Widths.sessionParts(s))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "stream_window_agg" -> ((s, dir) => {
      val in = TempDirs.fresh("stream_in")
      val ckpt = TempDirs.fresh("stream_ck")
      // ONE parquet file: a file source can only chunk an AvailableNow run
      // at file granularity (maxFilesPerTrigger/maxBytesPerTrigger), so a
      // single-file backlog structurally guarantees the single data batch
      // the 10-minute-watermark result depends on — chunked batches would
      // drop rows behind the advanced watermark (round-4 advice).
      Tables.events(s, dir)
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"),
          col("value"), col("props"))
        .coalesce(1).write.mode("overwrite").parquet(in)
      // backlog-derived state partitions on an isolated child session —
      // see [[streamSession]]
      val s2 = streamSession(s, in)
      val q = EventStream.runAvailableNow(s2, in, ckpt, "stream_window_agg_sink")
      awaitOrFail(q, 300000)
      s2.table("stream_window_agg_sink")
        .select(col("window_start"), col("event_type"), col("n"),
          col("sum_value").cast(DoubleType).as("sum_value"))
    }),

    // The STATEFUL streaming engine under the gate: flatMapGroupsWithState
    // sessionization (one open-session state per user, event-time timeout).
    // A per-user flush sentinel 30 days after that user's last event closes
    // every real session in-stream; the sentinel's own 1-event session then
    // surfaces via the EVENT-TIME TIMEOUT path (the trailing no-data batch
    // advances the watermark past most sentinels' timeouts), so both emit
    // paths of the state machine execute. Sentinel sessions are
    // distinguishable (first_event_id = Long.MaxValue) and filtered from
    // the result, leaving EXACTLY the batch sessionization of the real
    // events for the oracle to recompute declaratively.
    "stream_sessionize" -> ((s, dir) => {
      val in = TempDirs.fresh("sess_in")
      val ckpt = TempDirs.fresh("sess_ck")
      val base = Tables.events(s, dir)
        .filter(col("user_id").isNotNull)
        .select(col("user_id"), col("ts"), col("event_id"))
      val flush = base.groupBy(col("user_id"))
        .agg(max(col("ts")).as("mx"))
        .select(col("user_id"),
          (col("mx") + expr("interval 30 days")).as("ts"),
          lit(Long.MaxValue).as("event_id"))
      // single parquet file = structurally one data micro-batch (file
      // sources chunk at file granularity only): rows can never land in a
      // later batch behind the 0-second watermark advanced by an earlier
      // one, and the trailing no-data batch still fires the sentinel
      // event-time timeouts (round-4 advice; a huge watermark delay would
      // pin the batch but break that timeout path)
      base.unionByName(flush).coalesce(1).write.mode("overwrite").parquet(in)
      // backlog-derived state partitions on an isolated child session —
      // see [[streamSession]]
      val s2 = streamSession(s, in)
      import s2.implicits._
      val stream = s2.readStream
        .schema("user_id LONG, ts TIMESTAMP, event_id LONG")
        .parquet(in)
        .withWatermark("ts", "0 seconds")
        .as[Sessionize.Event]
      val q = Sessionize.sessionizeStream(stream, 30)
        .writeStream.outputMode("append").format("memory")
        .queryName("stream_sessionize_sink")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      awaitOrFail(q, 300000)
      s2.table("stream_sessionize_sink")
        .filter(col("first_event_id") =!= Long.MaxValue)
        .select(col("user_id"), col("session_start"), col("session_end"),
          col("n_events"), col("first_event_id"))
    }),

    // Streaming exact dedup: the corpus plus planted full duplicates flows
    // through streaming dropDuplicates on the content hash — the
    // in-stream form of dedup_exact. Output carries only columns constant
    // within a duplicate group (hash + length), so WHICH arrival wins is
    // immaterial and the result is deterministic. A broken dedup emits
    // extra rows and fails the row-count gate. At scale the production
    // form is dropDuplicatesWithinWatermark so state ages out; the
    // bounded-backlog gate keeps plain dropDuplicates.
    "stream_dedup" -> ((s, dir) => {
      val in = TempDirs.fresh("sdedup_in")
      val ckpt = TempDirs.fresh("sdedup_ck")
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      docs.unionByName(docs.select((col("doc_id") + 100000).as("doc_id"), col("text")))
        .write.mode("overwrite").parquet(in)
      // backlog-derived state partitions on an isolated child session —
      // see [[streamSession]]
      val s2 = streamSession(s, in)
      val q = s2.readStream
        .schema("doc_id LONG, text STRING")
        .parquet(in)
        .select(md5(col("text")).as("content_hash"),
          length(col("text")).as("text_len"))
        .dropDuplicates("content_hash")
        .writeStream.outputMode("append").format("memory")
        .queryName("stream_dedup_sink")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      awaitOrFail(q, 300000)
      s2.table("stream_dedup_sink")
    }),

    // The PRODUCTION streaming-dedup API under the gate:
    // dropDuplicatesWithinWatermark bounds the dedup state by event time so
    // an unbounded stream can age keys out (plain dropDuplicates keeps
    // state forever — gate-only). Over the single-file AvailableNow backlog
    // (all rows inside the watermark window) its output equals DISTINCT,
    // so the same declarative oracle applies; what this entry pins is that
    // the state-bounded operator dedups correctly within the window.
    "stream_dedup_watermark" -> ((s, dir) => {
      val in = TempDirs.fresh("sdedupw_in")
      val ckpt = TempDirs.fresh("sdedupw_ck")
      val docs = Tables.documents(s, dir).select(col("doc_id"), col("text"))
      docs.unionByName(docs.select((col("doc_id") + 100000).as("doc_id"), col("text")))
        .coalesce(1).write.mode("overwrite").parquet(in)
      // backlog-derived state partitions on an isolated child session —
      // see [[streamSession]]
      val s2 = streamSession(s, in)
      val q = s2.readStream
        .schema("doc_id LONG, text STRING")
        .parquet(in)
        .withColumn("ts", lit("2026-01-01 00:00:00").cast("timestamp"))
        .withWatermark("ts", "1 hour")
        .select(md5(col("text")).as("content_hash"),
          length(col("text")).as("text_len"), col("ts"))
        .dropDuplicatesWithinWatermark("content_hash")
        .drop("ts")
        .writeStream.outputMode("append").format("memory")
        .queryName("stream_dedup_watermark_sink")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      awaitOrFail(q, 300000)
      s2.table("stream_dedup_watermark_sink")
    }),

    // foreachBatch — THE production sink API for arbitrary destinations:
    // each epoch lands in its own batch-id-named directory with overwrite
    // semantics, so a replayed epoch (failure between sink write and
    // checkpoint commit) REPLACES its output instead of duplicating it —
    // idempotence from (deterministic batch id × overwrite), which is how
    // exactly-once is actually built on at-least-once delivery. The
    // single-file backlog makes this run exactly one epoch (batch 0); the
    // gate reads that epoch's output back against the batch aggregate.
    "stream_foreachbatch_sink" -> ((s, dir) => {
      val in = TempDirs.fresh("sfb_in")
      val ckpt = TempDirs.fresh("sfb_ck")
      val out = TempDirs.fresh("sfb_out")
      Tables.events(s, dir).select(col("event_id"), col("event_type"), col("value"))
        .coalesce(1).write.mode("overwrite").parquet(in)
      val writeEpoch: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
        (batch, batchId) =>
          batch.groupBy("event_type")
            .agg(count(lit(1)).as("n"),
              sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 2))).as("sv"))
            .write.mode("overwrite").parquet(s"$out/batch_$batchId")
      // backlog-derived shuffle partitions for the per-epoch batch work —
      // see [[streamSession]]
      val q = streamSession(s, in).readStream
        .schema("event_id LONG, event_type STRING, value DOUBLE")
        .parquet(in)
        .writeStream
        .foreachBatch(writeEpoch)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      awaitOrFail(q, 300000)
      s.read.parquet(s"$out/batch_0")
        .select(col("event_type"), col("n"), col("sv").cast(DoubleType).as("sum_value"))
    }),

    // Streaming CDC apply — the Debezium-shaped production ingest: change
    // batches flow through foreachBatch and MERGE into a parquet target
    // via Merge.applyCdc (latest VERSION wins per key, so at-least-once
    // delivery, batch splits, and replays all converge to the same
    // table), with each epoch's result swapped in via write-to-tmp +
    // rename-ASIDE (tgt -> tgt_old, tmp -> tgt, drop tgt_old): at every
    // instant either tgt or tgt_old holds the last committed state, and
    // the next batch rolls tgt_old back if a crash landed between the two
    // renames — so a checkpoint replay never merges against an empty
    // target. Each single-directory rename is atomic on the local POSIX
    // fs this harness runs on; a production deployment on an object store
    // would use a transactional table format instead. The input carries a
    // v1 snapshot
    // (even order keys, ver 1) and a v2 change batch (keys % 3 = 0,
    // doubled price, ver 2); maxFilesPerTrigger=1 forces a multi-batch
    // run so the gate actually exercises merge-over-merged state. The
    // read-back faces file-layer bytes; the oracle recomputes the merge
    // declaratively. (×2 on a double is exponent-only — exact.)
    "stream_cdc_apply" -> ((s, dir) => {
      val in = TempDirs.fresh("cdc_in")
      val ckpt = TempDirs.fresh("cdc_ck")
      val tgt = TempDirs.fresh("cdc_tgt") + "/t"
      Tables.orders(s, dir).filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").as("price"), lit("v1").as("batch"), lit(1L).as("ver"))
        .coalesce(1).write.mode("overwrite").parquet(in)
      Tables.orders(s, dir).filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_totalprice") * 2).as("price"), lit("v2").as("batch"), lit(2L).as("ver"))
        .coalesce(1).write.mode("append").parquet(in)
      val applyBatch: (org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], Long) => Unit =
        (batch, _) => {
          val s2 = batch.sparkSession
          val tgtF = new java.io.File(tgt)
          val oldF = new java.io.File(tgt + "_old")
          val tmpF = new java.io.File(tgt + "_tmp")
          val del = (f: java.io.File) => {
            def rec(x: java.io.File): Unit = {
              val cs = x.listFiles(); if (cs != null) cs.foreach(rec); x.delete(); ()
            }
            rec(f)
          }
          // crash recovery: a crash between the rename-aside and the
          // commit rename leaves tgt absent with tgt_old holding the last
          // committed state — roll it back; a crash before dropping
          // tgt_old leaves both, and tgt (post-commit) wins.
          if (!tgtF.exists && oldF.exists)
            require(oldF.renameTo(tgtF), s"cdc rollback failed: $oldF -> $tgtF")
          del(oldF); del(tmpF)
          val cur = if (tgtF.exists) s2.read.parquet(tgt) else batch.limit(0)
          graft.operators.Merge.applyCdc(cur, batch, Seq("o_orderkey"), "ver")
            .write.mode("overwrite").parquet(tmpF.getPath)
          if (tgtF.exists)
            require(tgtF.renameTo(oldF), s"cdc rename-aside failed: $tgt -> $oldF")
          require(tmpF.renameTo(tgtF), s"cdc target swap failed: $tmpF -> $tgt")
          del(oldF)
        }
      // backlog-derived shuffle partitions for the per-epoch merge work —
      // see [[streamSession]]
      val q = streamSession(s, in).readStream
        .schema("o_orderkey LONG, o_custkey LONG, price DOUBLE, batch STRING, ver LONG")
        .option("maxFilesPerTrigger", 1)
        .parquet(in)
        .writeStream
        .foreachBatch(applyBatch)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      awaitOrFail(q, 300000)
      s.read.parquet(tgt)
        .select(col("o_orderkey"), col("o_custkey"), col("price"), col("batch"))
    }),

    // Stream-static enrichment join — the OTHER production streaming join:
    // each micro-batch of the event stream joins the static customer dim
    // (broadcast — no state store at all, unlike the stream-stream case).
    // The dim re-resolves per batch, which is exactly how slowly-changing
    // reference data stays fresh on an unbounded stream. Stateless, so no
    // watermark is needed and the result equals the batch join.
    "stream_static_join" -> ((s, dir) => {
      val in = TempDirs.fresh("ssj_in")
      val ckpt = TempDirs.fresh("ssj_ck")
      Tables.events(s, dir).filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"))
        .coalesce(1).write.mode("overwrite").parquet(in)
      // stateless, but the per-batch planning still pays per-partition task
      // overhead — same backlog-derived child session as the stateful gates
      val s2 = streamSession(s, in)
      val dim = Tables.customer(s2, dir)
        .select(col("c_custkey"), col("c_name"), col("c_mktsegment"))
      val q = s2.readStream
        .schema("event_id LONG, user_id LONG")
        .parquet(in)
        .join(broadcast(dim), col("user_id") === col("c_custkey"), "left")
        .select(col("event_id"), col("user_id"), col("c_name"), col("c_mktsegment"))
        .writeStream.outputMode("append").format("memory")
        .queryName("stream_static_join_sink")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      awaitOrFail(q, 300000)
      s2.table("stream_static_join_sink")
    }),

    // Stream-stream interval join (attribution): each purchase joins the
    // SAME user's view events from the preceding hour. Both sides carry
    // event-time watermarks and the join carries the time-range predicate —
    // the combination that lets the engine expire join state on an
    // unbounded stream (buffered views age out once the purchase-side
    // watermark passes v_ts + 1 hour). Over the single-file AvailableNow
    // backlog (one data micro-batch, watermark still at -inf while it
    // processes) the inner join is exact, so the batch twin recomputes it
    // declaratively on micro-truncated timestamps.
    "stream_join" -> ((s, dir) => {
      val in = TempDirs.fresh("sjoin_in")
      val ckpt = TempDirs.fresh("sjoin_ck")
      Tables.events(s, dir)
        .filter(col("event_type").isin("purchase", "view"))
        .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
        .coalesce(1).write.mode("overwrite").parquet(in)
      // The whole streaming pipeline lives on an isolated child session
      // (s2 below): the stream source, the join, and the memory sink all
      // resolve against s2, so the partition override scopes to this query
      // alone. Round 16: the fixed 8 became the shared backlog-derived
      // [[streamSession]] (same 8 at gate scale, deployment parallelism at
      // volume).
      val s2 = streamSession(s, in)
      def src() = s2.readStream
        .schema("event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING")
        .parquet(in)
      val purchases = src().filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"), col("ts").as("p_ts"))
        .withWatermark("p_ts", "0 seconds")
      val views = src().filter(col("event_type") === "view")
        .select(col("event_id").as("view_id"), col("user_id").as("view_user"), col("ts").as("v_ts"))
        .withWatermark("v_ts", "0 seconds")
      // State partitions are fixed at the join's FIRST run from
      // spark.sql.shuffle.partitions, and every micro-batch commits a
      // state-store delta per partition PER SIDE — at 32 partitions that
      // checkpoint I/O dominates the query (~9 s → ~3 s at 8). Size state
      // partitions to state volume (two sides of the filtered event
      // stream), not to the session's scan parallelism — on the isolated
      // child session above (same SparkContext and cache, own conf), so
      // the caller's session never sees the override and a concurrent
      // query on it can't race the old set/restore dance (round-5 advice).
      // The memory sink's temp view registers in the child's catalog, so
      // the result reads from the child too.
      val q = purchases.join(views,
          col("user_id") === col("view_user") &&
            col("v_ts") >= col("p_ts") - expr("interval 1 hour") &&
            col("v_ts") <= col("p_ts"))
        .select(col("purchase_id"), col("user_id"), col("view_id"),
          col("p_ts"), col("v_ts"))
        .writeStream.outputMode("append").format("memory")
        .queryName("stream_join_sink")
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      awaitOrFail(q, 300000)
      s2.table("stream_join_sink")
    }),

    // Streaming IVF index ingest: arrivals assign to their cells inside
    // foreachBatch against the corpus-trained (offline, published)
    // two-level codebook — the micro-batch index-maintenance path. Body
    // and scale notes live with the vector family (VectorOps).
    "stream_ann_ingest" -> ((s, dir) => VectorOps.streamIngestAssign(s, dir))
  )

  def oracleSql: Map[String, String] = Map(
    // the coarse-descent twin over the plain corpus, filtered to arrivals
    "stream_ann_ingest" -> VectorOps.streamIngestOracle,

    // batch twin of the streaming aggregate: epoch-aligned 1h windows
    "stream_window_agg" ->
      """SELECT make_timestamp(epoch_us(ts) - epoch_us(ts) % CAST(3600000000 AS BIGINT)) AS window_start,
        |  event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events
        |GROUP BY 1, 2""".stripMargin,

    // batch twin of the stateful sessionizer, from the single shared CTE
    // builder (the flush sentinel sessions never surface on the streaming
    // side, so the oracle sessionizes the REAL events only).
    "stream_sessionize" -> Sessionize.batchOracleSql(
      gapMinutes = 30, where = "user_id IS NOT NULL", includeIdx = false),

    // the planted duplicates collapse onto their originals' hashes, so the
    // batch twin is simply DISTINCT over the base corpus
    "stream_dedup" ->
      """SELECT DISTINCT md5(text) AS content_hash,
        |  CAST(length(text) AS INTEGER) AS text_len
        |FROM documents""".stripMargin,

    // within the (single) watermark window, state-bounded dedup ≡ DISTINCT
    "stream_dedup_watermark" ->
      """SELECT DISTINCT md5(text) AS content_hash,
        |  CAST(length(text) AS INTEGER) AS text_len
        |FROM documents""".stripMargin,

    // one epoch over the whole backlog ≡ the batch aggregate
    "stream_foreachbatch_sink" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin,

    // the CDC merge recompute: v2 (higher version) wins every overlapping
    // key regardless of the order batches were applied
    "stream_cdc_apply" ->
      """WITH v1 AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice AS price, 'v1' AS batch
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |v2 AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice * 2 AS price, 'v2' AS batch
        |  FROM orders WHERE o_orderkey % 3 = 0)
        |SELECT * FROM v1
        |WHERE NOT EXISTS (SELECT 1 FROM v2 WHERE v2.o_orderkey = v1.o_orderkey)
        |UNION ALL
        |SELECT * FROM v2""".stripMargin,

    // stateless stream-static join ≡ the batch join
    "stream_static_join" ->
      """SELECT event_id, user_id, c_name, c_mktsegment
        |FROM events LEFT JOIN customer ON user_id = c_custkey
        |WHERE event_type = 'purchase'""".stripMargin,

    // batch twin of the stream-stream interval join; both engines compare
    // micro-truncated timestamps (Tables.events reads the NANOS column as
    // `timestamp_micros(ts div 1000)`, epoch_us truncates identically)
    "stream_join" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |    make_timestamp(epoch_us(ts)) AS ts
        |  FROM events)
        |SELECT p.event_id AS purchase_id, p.user_id, v.event_id AS view_id,
        |  p.ts AS p_ts, v.ts AS v_ts
        |FROM e p JOIN e v ON p.user_id = v.user_id
        |WHERE p.event_type = 'purchase' AND v.event_type = 'view'
        |  AND v.ts >= p.ts - INTERVAL '1 hour' AND v.ts <= p.ts""".stripMargin
  )
}
