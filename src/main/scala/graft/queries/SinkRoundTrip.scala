package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.sources.Sinks

/** Driver-gated sink round-trips (SURVEY §2.1 S4/S6/S8): each query WRITES
  * through the production sink, READS the files back, and returns a result
  * the DuckDB oracle recomputes from the original table — so the gate
  * covers the full write → storage-layout → read path, not just the
  * transform. (Ref: ETL/export_to_gcs.py:191-195 chunked parquet export,
  * ETL/load_to_bigquery.py:37-94 partitioned+clustered load, CSV export.)
  *
  * Sink dirs are unique per INVOCATION (TempDirs.fresh per query call): a
  * JVM-wide shared dir would let two sessions in one JVM — parallel test
  * suites, say — race on the same output path; the same thread's previous
  * dir is reclaimed on re-invocation so repeated passes don't accumulate
  * table copies. Results depend only on table content.
  */
object SinkRoundTrip {

  private def freshDir(tag: String): String = TempDirs.fresh(s"sink_$tag")

  /** Derived writer split for the sink gates (round 12 — the last members
    * of the fixed-split class the round-10/11 sweeps closed in the
    * prefix-sum and s19 families): a fixed `repartition(8)` /
    * `repartitionByRange(4|16, …)` means that many writer tasks each
    * carrying n/parts rows AT ANY CORPUS SIZE — at 100× the demonstrated
    * layout is the one you would NOT run. Parts are [[Widths.parts]] of the
    * corpus row count at a fixed per-writer volume; the floor keeps every
    * gate-scale file count at its previous fixed value so no oracle or
    * layout band moves at sf0.001–0.1; [[Widths.LEVEL2_CAP]] bounds the
    * range-split side tables exactly as in the s19/shard derivations.
    *
    * The count job is parquet-meta-only AND memoized per (session, table,
    * dir) via [[Preconditions.longOnce]] (round-11 verdict #4 / the
    * fusion_rrf `Preconditions.once` discipline): repeated invocations —
    * plan-shape specs, multi-pass bench — pay it once per session.
    */
  private[queries] def derivedParts(s: SparkSession, key: String, perPart: Long,
      floor: Long)(count: => Long): Int =
    Widths.parts(Preconditions.longOnce(s, s"rowcount:$key")(count), perPart, floor,
      Widths.LEVEL2_CAP)

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // S4: chunked parquet writer — chunk count DERIVED from the corpus over
    // the reference's fixed rows-per-chunk (export_to_gcs.py:78 slices 5000
    // rows/chunk, so chunk count scales with the table; round 12 closes the
    // fixed repartition(8)), then a read-back aggregate over all chunks.
    "s4_parquet_roundtrip" -> ((s, dir) => {
      val out = freshDir("s4")
      val parts = derivedParts(s, s"events:$dir", Widths.CHUNK_ROWS, 8)(
        Tables.events(s, dir).count())
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .repartition(parts)
        .write.mode("overwrite").parquet(out)
      s.read.parquet(out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
    }),

    // S6: date-partitioned + cluster-sorted warehouse load, then a
    // partition-FILTERED read-back — the pruning path a 100 TB table lives
    // or dies by (only the one date directory is scanned).
    "s6_partitioned_roundtrip" -> ((s, dir) => {
      val out = freshDir("s6")
      val withDate = Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          to_date(col("ts")).as("event_date"))
      Sinks.writePartitioned(withDate, out, "event_date", Seq("user_id"))
      Sinks.readMerged(s, out)
        .filter(col("event_date") === lit(java.sql.Date.valueOf("2024-01-05")))
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("event_date").cast(DateType).as("event_date"))
    }),

    // Small-files compaction under the gate: write deliberately fragmented
    // (64 files), run the crash-safe rename-swap compaction to 4, then
    // aggregate the read-back — covering write → compact → read. The file
    // count collapse is asserted in-query (compact_ok) so a silent no-op
    // compaction fails the hash compare, not just a unit test.
    "s10_compact_roundtrip" -> ((s, dir) => {
      val out = freshDir("s10")
      Tables.events(s, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"))
        .repartition(64)
        .write.mode("overwrite").parquet(out)
      Sinks.compact(s, out, targetFiles = 4)
      val nFiles = new java.io.File(out).listFiles()
        .count(f => f.getName.endsWith(".parquet"))
      s.read.parquet(out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
        .withColumn("compact_ok", lit(nFiles <= 4))
    }),

    // S11: range-partitioned + sorted data layout — the write-side half of
    // zone-map/min-max pruning at 100 TB: repartitionByRange clusters rows
    // by key ACROSS files, sortWithinPartitions orders them within each, so
    // a key-range query touches only the files whose [min,max] zone
    // intersects. The gate reads the layout back, computes per-file key
    // ranges from input_file_name(), and asserts they are pairwise
    // disjoint (lag over min-ordered ranges) — the property a pruning
    // reader exploits. Range boundaries come from Spark's seeded sampler
    // over a stable input, so the layout is deterministic per sf.
    "s11_sorted_layout" -> ((s, dir) => {
      val out = freshDir("s11")
      // the sorted-writer split DERIVES from the corpus (round 12 — the
      // s19 pattern verbatim: a fixed repartitionByRange(4) meant 4 writer
      // tasks each sorting n/4 rows at any corpus size); per-writer volume
      // stays ≈SHARD_PART_ROWS, floored at the previous 4 so gate-scale
      // file counts are unchanged, and files_ok bounds by the SAME derived
      // value (the oracle twin pins only the boolean).
      val writeParts = derivedParts(s, s"orders:$dir", Widths.SHARD_PART_ROWS, 4)(
        Tables.orders(s, dir).count())
      Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
        .repartitionByRange(writeParts, col("o_orderkey"))
        .sortWithinPartitions(col("o_orderkey"))
        .write.mode("overwrite").parquet(out)
      val perFile = s.read.parquet(out)
        .groupBy(input_file_name().as("f"))
        .agg(min(col("o_orderkey")).as("k_min"),
          max(col("o_orderkey")).as("k_max"), count(lit(1)).as("n"))
      val w = Window.orderBy(col("k_min"))
      // repartitionByRange(p) guarantees AT MOST p non-empty partitions —
      // an empty range (small sf, sampler boundary skew) writes no file, so
      // the gate asserts the 1..p band + disjointness, not an exact count
      perFile
        .withColumn("prev_max", lag(col("k_max"), 1).over(w))
        .agg((count(lit(1)).between(1, writeParts)).as("files_ok"),
          sum(col("n")).as("n_rows"),
          every(col("prev_max").isNull || col("prev_max") < col("k_min"))
            .as("ranges_disjoint"))
    }),

    // S11: the upsert SINK round-trip (ref connection_to_mongodb.py:
    // 124-135,155-211 — UpdateOne(upsert=True) batches against the target
    // collection). An initial snapshot (even order keys) is written through
    // the sink; a second batch (keys divisible by 3 — overlapping keys are
    // UPDATES with doubled price, odd multiples of 3 are INSERTS, the rest
    // of the snapshot is UNCHANGED) merges over the READ-BACK of those
    // files via Merge.upsert, and the merged table is written and read back
    // again — so the gate faces file-layer bytes on both sides of the
    // upsert, not an in-memory merge. ×2 on a double is exponent-only
    // (exact in IEEE), so both engines carry identical price bits.
    "s12_upsert_roundtrip" -> ((s, dir) => {
      val out1 = freshDir("s12a")
      val out2 = freshDir("s12b")
      Tables.orders(s, dir)
        .filter(col("o_orderkey") % 2 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice").as("price"), lit("v1").as("batch"))
        .write.mode("overwrite").parquet(out1)
      val incoming = Tables.orders(s, dir)
        .filter(col("o_orderkey") % 3 === 0)
        .select(col("o_orderkey"), col("o_custkey"),
          (col("o_totalprice") * 2).as("price"), lit("v2").as("batch"))
      graft.operators.Merge.upsert(s.read.parquet(out1), incoming, Seq("o_orderkey"))
        .write.mode("overwrite").parquet(out2)
      s.read.parquet(out2)
    }),

    // S8: CSV sink with header → typed read-back (integer/string columns:
    // CSV is not a lossless float carrier, the reference exports ids too).
    "s8_csv_roundtrip" -> ((s, dir) => {
      val out = freshDir("s8")
      Sinks.writeCsv(
        Tables.events(s, dir)
          .select(col("event_id"), col("user_id"), col("event_type")), out)
      val schema = StructType(Seq(
        StructField("event_id", LongType),
        StructField("user_id", LongType),
        StructField("event_type", StringType)))
      s.read.option("header", "true").schema(schema).csv(out)
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("user_id")).as("user_id_sum"),
          countDistinct(col("user_id")).as("n_users"))
    }),

    // S14: ORC round-trip — the other columnar warehouse format Spark
    // ships natively (engine-migration parity with the parquet path: same
    // pushdown/pruning story, different container). Write sorted-within-
    // partitions for rowgroup min/max zones, read back, aggregate.
    "s14_orc_roundtrip" -> ((s, dir) => {
      val out = freshDir("s14")
      // writer count derived from the corpus (round 12, closing the fixed
      // repartition(8)): ≈SHARD_PART_ROWS rows per ORC writer so rowgroup
      // zone quality doesn't ride a split that stops fitting at 100×
      val parts = derivedParts(s, s"lineitem:$dir", Widths.SHARD_PART_ROWS, 8)(
        Tables.lineitem(s, dir).count())
      Tables.lineitem(s, dir)
        .select(col("l_orderkey"), col("l_returnflag"), col("l_quantity"))
        .repartition(parts)
        .sortWithinPartitions(col("l_orderkey"))
        .write.mode("overwrite").orc(out)
      s.read.orc(out)
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_qty"))
    }),

    // S15: JSONL export + re-ingest — the LLM training-data interchange
    // format (one JSON object per line, sharded). The per-source hashsum
    // over the RE-READ text (60-bit md5 mod prime, summed — exact integer,
    // order-independent) proves the round trip preserved every byte of
    // every document: a single lost escape, mangled codepoint, or dropped
    // line moves the sum. Shard count is a repartition knob exactly like a
    // production export (shards ≈ corpus / target shard size).
    "s15_jsonl_export" -> ((s, dir) => {
      val out = freshDir("s15")
      // shard count derived from the corpus (round 12): shards ≈ corpus /
      // target shard rows, exactly the production export knob the comment
      // above describes — previously a fixed repartition(8)
      val parts = derivedParts(s, s"documents:$dir", Widths.SHARD_PART_ROWS, 8)(
        Tables.documents(s, dir).count())
      Tables.documents(s, dir)
        .select(col("doc_id"), col("source"), col("lang"), col("text"))
        .repartition(parts)
        .write.mode("overwrite").json(out)
      val schema = StructType(Seq(
        StructField("doc_id", LongType), StructField("source", StringType),
        StructField("lang", StringType), StructField("text", StringType)))
      s.read.schema(schema).json(out)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(length(col("text")).cast(LongType)).as("n_chars"),
          sum(graft.functions.TextFns.md5Hash60(col("text")) % 1000000007L)
            .as("text_hashsum"))
    }),

    // S16: bucketed-table co-located join — the write-side layout that
    // retires the SHUFFLE from every future join on the bucket key, the
    // single biggest recurring cost of a 100 TB fact table joined daily.
    // Both sides are written `bucketBy(8, key).sortBy(key)` catalog tables;
    // a bucketed scan then exposes HashPartitioning(key, 8), so the
    // sort-merge join plans with ZERO ShuffleExchange on either side — the
    // gate counts exchanges in the executed join plan and folds the zero
    // into the result (`bucketed_no_shuffle`), so a layout regression flips
    // the hash red, exactly like s10's compact_ok. Conf discipline: the
    // whole query lives on an isolated child session (broadcast joins off
    // to force the SMJ the assertion targets; AQE off so the executed plan
    // is inspectable pre-run) — the caller's session never sees the
    // overrides (the stream_join pattern). Table names are per-thread, the
    // backing dirs per-invocation (TempDirs), so parallel suites never race
    // and re-runs reclaim their predecessor's files.
    "s16_bucketed_join" -> ((s, dir) => {
      val s2 = Widths.childSession(s, 32)
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s2.conf.set("spark.sql.adaptive.enabled", "false")
      val tag = Thread.currentThread().getId
      val ordT = s"graft_s16_orders_$tag"
      val custT = s"graft_s16_customer_$tag"
      Tables.orders(s2, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
        .write.mode("overwrite").option("path", freshDir("s16o"))
        .bucketBy(8, "o_custkey").sortBy("o_custkey").saveAsTable(ordT)
      Tables.customer(s2, dir)
        .select(col("c_custkey"), col("c_mktsegment"))
        .write.mode("overwrite").option("path", freshDir("s16c"))
        .bucketBy(8, "c_custkey").sortBy("c_custkey").saveAsTable(custT)
      val joined = s2.table(ordT)
        .join(s2.table(custT), col("o_custkey") === col("c_custkey"))
      val shuffles = joined.queryExecution.executedPlan.collect {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
      }.size
      joined.groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice").cast(DecimalType(18, 2))).cast(DoubleType)
            .as("sum_price"))
        .withColumn("bucketed_no_shuffle", lit(shuffles == 0))
    }),

    // S18: RUNTIME bloom-filter join pruning (Spark's InjectRuntimeFilter)
    // — the optimizer feature that makes selective fact⋈dim joins cheap at
    // 100 TB without bucketing: a bloom sketch of the SELECTIVE side's
    // join keys is built at runtime and pushed into the big side's scan,
    // so rows that cannot join are dropped before the shuffle. The gate
    // runs a deliberately-selective orders filter against lineitem on an
    // isolated child session (broadcast off so the join is shuffle-shaped
    // — the case runtime filtering exists for; the application-side size
    // threshold lowered since the test corpus is not 10 GB), asserts the
    // optimized plan carries an injected BloomFilterMightContain (typed,
    // via PlanProbe), and folds the flag into the hash-gated result.
    "s18_runtime_bloom_join" -> ((s, dir) => {
      val s2 = Widths.childSession(s, 32)
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val li = Tables.lineitem(s2, dir)
        .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
      val ord = Tables.orders(s2, dir)
        .filter(col("o_totalprice") > 400000.0d)
        .select(col("o_orderkey"))
      val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
      val pruned = PlanProbe.bloomFilterInjected(j.queryExecution.optimizedPlan)
      j.groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"),
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_qty"))
        .withColumn("bloom_pruned", lit(pruned))
    }),

    // S17: Z-ORDER (Morton-interleaved) data layout — the multi-dimension
    // generalization of s11's zone maps: 1-D sort prunes on ONE key; at
    // 100 TB a fact table is probed by several (customer AND date here),
    // and interleaving the dims' bit-ranks clusters rows so every file's
    // bounding BOX is small in BOTH dims. Layout: ranks scaled to 10 bits
    // against broadcast corpus bounds, bits interleaved with shift/mask
    // builtins (whole-stage codegen, no UDF), range-partitioned into a
    // corpus-DERIVED file count (floor 16 ≈ a 4×4 grid of (custkey, day)
    // cells at gate scale; the grid refines with the data). The gate reads the
    // files back, rebuilds each file's 2-D bounding box from
    // input_file_name(), and asserts the MEAN per-file EXTENT of each dim
    // stays under 0.6 of that dim's full range — a clean z cell covers
    // ~1/4, a z-range that crosses a major boundary of the OTHER dim
    // wraps to ~1.0, and their mix lands ≈ 0.44; a single-key sort pins
    // the off-key dim at ~1.0 (the negative-control spec). Extent means
    // are robust to the range-sampler boundary wobble that makes
    // midpoint-touch COUNTS flip right at half (observed at sf0.1).
    // Flags fold into the result, so a broken interleave or a hash
    // repartition flips the hash red.
    "s17_zorder_layout" -> ((s, dir) => {
      val out = freshDir("s17")
      // z-cell writer split derived from the corpus (round 12, the s19
      // pattern): the fixed repartitionByRange(16) was 16 sorted writer
      // tasks at any corpus size; the floor of 16 keeps the gate-scale
      // ≈4×4 (custkey, day) grid and file-count band unchanged, and past
      // ~10⁶ orders the grid refines with the data (per-writer volume
      // ≈SHARD_PART_ROWS). The extent assertion below is a MEAN per file,
      // so it is invariant to the derived count by construction.
      val zParts = derivedParts(s, s"orders:$dir", Widths.SHARD_PART_ROWS, 16)(
        Tables.orders(s, dir).count())
      val o = Tables.orders(s, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
        .withColumn("dday",
          datediff(col("o_orderdate"), lit(java.sql.Date.valueOf("1992-01-01"))).cast(LongType))
      val bounds = o.agg(
        min(col("o_custkey")).as("ck0"), max(col("o_custkey")).as("ck1"),
        min(col("dday")).as("d0"), max(col("dday")).as("d1"))
      val ra = (col("o_custkey") - col("ck0")) * 1024L / (col("ck1") - col("ck0") + 1L)
      val rb = (col("dday") - col("d0")) * 1024L / (col("d1") - col("d0") + 1L)
      val zval = (0 until 10).map { i =>
        shiftleft(shiftrightunsigned(col("ra"), i).bitwiseAND(lit(1L)), 2 * i + 1)
          .bitwiseOR(shiftleft(shiftrightunsigned(col("rb"), i).bitwiseAND(lit(1L)), 2 * i))
      }.reduce(_.bitwiseOR(_))
      o.crossJoin(broadcast(bounds))
        .withColumn("ra", ra.cast(LongType)).withColumn("rb", rb.cast(LongType))
        .withColumn("z", zval)
        .select(col("o_orderkey"), col("o_custkey"), col("dday"), col("o_totalprice"), col("z"))
        .repartitionByRange(zParts, col("z"))
        .sortWithinPartitions(col("z"))
        .write.mode("overwrite").parquet(out)
      val perFile = s.read.parquet(out)
        .groupBy(input_file_name().as("f"))
        .agg(min(col("o_custkey")).as("ck_min"), max(col("o_custkey")).as("ck_max"),
          min(col("dday")).as("dd_min"), max(col("dday")).as("dd_max"),
          count(lit(1)).as("n"))
      perFile.crossJoin(broadcast(bounds))
        .agg(count(lit(1)).as("nf"), sum(col("n")).as("n_rows"),
          sum((col("ck_max") - col("ck_min")).cast(DoubleType)).as("cke"),
          sum((col("dd_max") - col("dd_min")).cast(DoubleType)).as("dde"),
          max((col("ck1") - col("ck0")).cast(DoubleType)).as("ckr"),
          max((col("d1") - col("d0")).cast(DoubleType)).as("ddr"))
        .select(col("n_rows"),
          col("nf").between(zParts / 2, zParts).as("files_ok"),
          (col("cke") < col("ckr") * col("nf") * 0.6d).as("ck_prune_ok"),
          (col("dde") < col("ddr") * col("nf") * 0.6d).as("dd_prune_ok"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "s4_parquet_roundtrip" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events GROUP BY event_type""".stripMargin,

    "s6_partitioned_roundtrip" ->
      """SELECT event_id, user_id, event_type, CAST(ts AS DATE) AS event_date
        |FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-05'""".stripMargin,

    "s10_compact_roundtrip" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  TRUE AS compact_ok
        |FROM events GROUP BY event_type""".stripMargin,

    // the disjoint-ranges boolean is the gate: a broken layout writer
    // (hash repartition, missing sort) makes zones overlap → FALSE ≠ TRUE
    "s11_sorted_layout" ->
      """SELECT TRUE AS files_ok, count(*) AS n_rows,
        |  TRUE AS ranges_disjoint
        |FROM orders""".stripMargin,

    // merge-recompute: survivors of the anti-join (even keys not taken over
    // by the batch) plus every batch row — update, insert, and unchanged
    // paths all distinguishable via the batch/price columns
    "s12_upsert_roundtrip" ->
      """WITH existing AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice AS price, 'v1' AS batch
        |  FROM orders WHERE o_orderkey % 2 = 0),
        |incoming AS (
        |  SELECT o_orderkey, o_custkey, o_totalprice * 2 AS price, 'v2' AS batch
        |  FROM orders WHERE o_orderkey % 3 = 0)
        |SELECT * FROM existing e
        |WHERE NOT EXISTS (SELECT 1 FROM incoming i WHERE i.o_orderkey = e.o_orderkey)
        |UNION ALL
        |SELECT * FROM incoming""".stripMargin,

    "s8_csv_roundtrip" ->
      """SELECT event_type, count(*) AS n,
        |  CAST(sum(user_id) AS BIGINT) AS user_id_sum,
        |  count(DISTINCT user_id) AS n_users
        |FROM events GROUP BY event_type""".stripMargin,

    "s14_orc_roundtrip" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "s15_jsonl_export" ->
      s"""SELECT source, count(*) AS n_docs,
         |  CAST(sum(length(text)) AS BIGINT) AS n_chars,
         |  CAST(sum(${graft.functions.TextFns.md5Hash60Sql("text")} % 1000000007)
         |    AS BIGINT) AS text_hashsum
         |FROM documents GROUP BY source""".stripMargin,

    // the shuffle-count boolean is the gate: an unbucketed write (or a
    // bucket-count mismatch between the sides) re-plans the join with
    // exchanges → FALSE ≠ TRUE
    "s16_bucketed_join" ->
      """SELECT c_mktsegment, count(*) AS n_orders,
        |  CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
        |  TRUE AS bucketed_no_shuffle
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    // the runtime-filter boolean is the gate: if the optimizer stops
    // injecting the bloom for this selective shuffle join → FALSE ≠ TRUE
    "s18_runtime_bloom_join" ->
      """SELECT l_returnflag, count(*) AS n,
        |  CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  TRUE AS bloom_pruned
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_totalprice > 400000.0
        |GROUP BY l_returnflag""".stripMargin,

    // the prune booleans are the gate: a single-key sort makes the
    // off-key midpoint probe touch every file → FALSE ≠ TRUE
    "s17_zorder_layout" ->
      """SELECT count(*) AS n_rows, TRUE AS files_ok,
        |  TRUE AS ck_prune_ok, TRUE AS dd_prune_ok
        |FROM orders""".stripMargin
  )
}
