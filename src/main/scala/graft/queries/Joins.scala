package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables

/** Join operators (SURVEY.md §2.3). All reference joins are equi-joins; J12
  * adds the faithful range-join variant of the IP2Location lookup. Small dims
  * are broadcast explicitly — at 100 TB the fact side never shuffles for
  * these joins.
  */
object Joins {

  private def dec(c: Column): Column = c.cast(DecimalType(18, 2))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // J3: inner equi-join + per-group distinct (ref: stg_customer.sql:49-56).
    "j3_inner_group" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val c = Tables.customer(s, dir)
      ev.join(broadcast(c), ev("user_id") === c("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"),
             countDistinct(col("user_id")).as("n_users"))
    }),

    // J4: fact-feed inner join (ref: customer_email_scd.sql:26-31). Both sides
    // large → shuffle hash/sort-merge on the key; AQE picks at runtime.
    "j4_fact_inner" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val li = Tables.lineitem(s, dir)
      o.join(li, o("o_orderkey") === li("l_orderkey"))
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n_lines"),
             sum(dec(col("l_extendedprice"))).cast(DoubleType).as("total_ext"))
    }),

    // J5: left merge-back of an aggregate (ref: mart_dim_customer.sql:41-50).
    "j5_left_merge_back" -> ((s, dir) => {
      val c = Tables.customer(s, dir)
      val agg = Tables.orders(s, dir)
        .groupBy(col("o_custkey"))
        .agg(count(lit(1)).as("n_orders"), max(col("o_orderdate")).as("last_order_date"))
      c.join(agg, c("c_custkey") === agg("o_custkey"), "left")
        .select(col("c_custkey"), col("c_name"), col("n_orders"), col("last_order_date"))
    }),

    // J6: build side reduced by scalar-max subquery, then broadcast left join
    // (ref: mart_fact_order.sql:135-143,203-205 — the fx_latest pattern).
    "j6_scalar_filtered_dim" -> ((s, dir) => {
      val p = Tables.part(s, dir)
      val mx = p.agg(max(col("p_size")).as("mx_size"))
      val dim = p.join(broadcast(mx), col("p_size") === col("mx_size")).drop("mx_size")
      val li = Tables.lineitem(s, dir)
      li.join(broadcast(dim), li("l_partkey") === dim("p_partkey"), "left")
        .groupBy(col("p_brand"))
        .agg(count(lit(1)).as("n"),
          sum(dec(col("l_extendedprice"))).cast(DoubleType).as("total_ext"))
    }),

    // J7: fact ← dim left broadcast join, row-level output (ref: mart_fact_order.sql:208-216).
    "j7_fact_dim_left" -> ((s, dir) => {
      val o = Tables.orders(s, dir)
      val c = Tables.customer(s, dir)
      o.join(broadcast(c), o("o_custkey") === c("c_custkey"), "left")
        .select(col("o_orderkey"), col("o_totalprice"), col("c_mktsegment"), col("c_name"))
    }),

    // J9: USING-style left join (ref: int_order_qa.sql:12-17).
    "j9_using_left" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val c = Tables.customer(s, dir)
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      ev.join(broadcast(c), Seq("user_id"), "left")
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"))
    }),

    // J10+A5: orphan-FK audit via anti-join semantics (ref: audit_orphan_rates.sql:3-31).
    // left_anti is the scalable spelling — no wide row carried, count-only.
    "j10_orphan_audit" -> ((s, dir) => {
      val li = Tables.lineitem(s, dir)
      val c = Tables.customer(s, dir)
      val o = Tables.orders(s, dir)
      val orphanPart = li.join(Tables.part(s, dir), li("l_partkey") === col("p_partkey"), "left_anti")
        .agg(count(lit(1)).as("orphan_part_lines"))
      val orphanSupp = li.join(Tables.supplier(s, dir), li("l_suppkey") === col("s_suppkey"), "left_anti")
        .agg(count(lit(1)).as("orphan_supp_lines"))
      val custNoOrder = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .agg(count(lit(1)).as("customers_without_orders"))
      val total = c.agg(count(lit(1)).as("n_customers"))
      orphanPart.crossJoin(orphanSupp).crossJoin(custNoOrder).crossJoin(total)
        .withColumn("no_order_rate",
          round(col("customers_without_orders") / col("n_customers"), 6))
    }),

    // J11: composite-key left join (ref: Incremental_load_template.sql:47-54 —
    // user dim joined on (user_id, email)).
    "j11_composite_key_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val dim = ev.groupBy(col("user_id").as("d_user"), col("event_type").as("d_type"))
        .agg(count(lit(1)).as("n_in_dim"))
      ev.join(dim, ev("user_id") === col("d_user") && ev("event_type") === col("d_type"), "left")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n_rows"), max(col("n_in_dim")).as("max_group_size"))
    }),

    // J12: range join — the faithful IP2Location variant (ref:
    // Source/connection_to_mongodb.py:96-121): value BETWEEN lo AND hi against
    // a broadcast interval table (BroadcastNestedLoopJoin; at scale, bucket
    // the probe side by floor(value/width) to turn it into an equi-join).
    "j12_range_join" -> ((s, dir) => {
      val buckets = s.range(0, 50)
        .select(col("id").as("bucket_id"),
          (col("id") * 10.0).as("lo"), ((col("id") + 1) * 10.0).as("hi"))
      val ev = Tables.events(s, dir)
      ev.join(broadcast(buckets), ev("value") >= col("lo") && ev("value") < col("hi"))
        .groupBy(col("bucket_id"))
        .agg(count(lit(1)).as("n"), sum(dec(col("value"))).cast(DoubleType).as("sum_value"))
    }),

    // J13: IRREGULAR-interval lookup at scale — the true IP2Location shape
    // (ref: Source/connection_to_mongodb.py:96-121, `ip_int BETWEEN ip_from
    // AND ip_to` over variable-width ranges). A raw theta-join is a
    // BroadcastNestedLoopJoin: every probe row tests every interval. The
    // scalable plan is grid-cell expansion: each interval is exploded to the
    // fixed-width grid cells it overlaps (tiny table × few cells), the probe
    // computes its cell arithmetically, the join is a broadcast EQUI-join on
    // the cell, and the exact BETWEEN is a cheap post-filter. Non-overlapping
    // intervals ⇒ at most one survivor per probe row.
    "j13_interval_lookup" -> ((s, dir) => {
      val cell = 16000L
      val intervals = s.range(0, 22).select(
        col("id").as("interval_id"),
        (col("id") * col("id") * 1000L).as("ip_from"),
        ((col("id") + 1) * (col("id") + 1) * 1000L - 1L).as("ip_to"))
      val expanded = intervals.withColumn("grid_cell",
        explode(sequence(floor(col("ip_from") / cell), floor(col("ip_to") / cell))))
      val ev = Tables.events(s, dir)
        .withColumn("ip_int", floor(col("value") * 1000).cast(LongType))
        .withColumn("grid_cell", floor(col("ip_int") / cell))
      ev.join(broadcast(expanded), Seq("grid_cell"))
        .filter(col("ip_int").between(col("ip_from"), col("ip_to")))
        .groupBy(col("interval_id"), col("ip_from"), col("ip_to"))
        .agg(count(lit(1)).as("n"),
          min(col("ip_int")).as("min_ip"), max(col("ip_int")).as("max_ip"))
    }),

    // J14: AS-OF join — each event takes the most recent FX rate at or
    // before its date (the time-series join Spark has no native operator
    // for; DuckDB's native ASOF JOIN is the oracle). The scalable spelling
    // is union + last-non-null window: tag rates and events into ONE
    // relation, sort within each currency by (date, rates-first), and let
    // `last(rate, ignoreNulls)` carry the latest rate forward — a single
    // shuffle on the currency key, no per-event range probe, no interval
    // explosion, state bounded by one partition's rows.
    "j14_asof_join" -> ((s, dir) => {
      val ccys = array(lit("USD"), lit("EUR"), lit("GBP"))
      // deterministic rate series: every 3rd day of 2024-01, per currency
      val rates = s.range(0, 7).select(col("id"))
        .crossJoin(s.range(0, 3).select(col("id").as("c")))
        .select(
          element_at(ccys, (col("c") + 1).cast(IntegerType)).as("ccy"),
          date_add(lit(java.sql.Date.valueOf("2024-01-01")), (col("id") * 3).cast(IntegerType)).as("rate_date"),
          ((col("id") + 1) * 10 + col("c")).cast(DoubleType).as("rate"))
      val evs = Tables.events(s, dir).select(
        col("event_id"),
        element_at(ccys, (col("event_id") % 3 + 1).cast(IntegerType)).as("ccy"),
        to_date(col("ts")).as("d"))
      val tagged = rates.select(col("ccy"), col("rate_date").as("d"),
          col("rate_date"), col("rate"), lit(null).cast(LongType).as("event_id"),
          lit(0).as("is_event"))
        .unionByName(evs.select(col("ccy"), col("d"),
          lit(null).cast(DateType).as("rate_date"), lit(null).cast(DoubleType).as("rate"),
          col("event_id"), lit(1).as("is_event")))
      val w = Window.partitionBy(col("ccy"))
        .orderBy(col("d").asc, col("is_event").asc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, 0)
      tagged
        .withColumn("asof_rate_date", last(col("rate_date"), ignoreNulls = true).over(w))
        .withColumn("asof_rate", last(col("rate"), ignoreNulls = true).over(w))
        .filter(col("is_event") === 1)
        .select(col("event_id"), col("ccy"), col("d").as("event_date"),
          col("asof_rate_date"), col("asof_rate"))
    }),

    // J15: null-safe equi-join (<=>): NULL keys match the dim's NULL row
    // instead of vanishing. EqualNullSafe is still an equi-join to Spark —
    // the plan keeps its hash-join shape, never a nested loop.
    "j15_nullsafe_join" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(
        when(col("event_id") % 7 === 0, lit(null).cast(LongType))
          .otherwise(col("user_id") % 50).as("k"))
      val dim = s.range(50).select(col("id").as("k"))
        .unionByName(s.range(1).select(lit(null).cast(LongType).as("k")))
      ev.join(dim, ev("k") <=> dim("k"))
        .groupBy(ev("k").as("k")).agg(count(lit(1)).as("n"))
    }),

    // J16: point-in-time (temporal) dim join — each purchase fact picks up
    // the SCD2 state version valid AT its event time: equi-join on the
    // entity key + half-open interval predicate [valid_from, valid_to).
    // The history comes from the production Scd2.entityHistory operator
    // over the non-purchase events, so zero-width versions (same-timestamp
    // updates) can never double-match and the lookup is deterministic.
    // Plan shape: the equi-key dominates (SortMergeJoin on user_id, range
    // as join residual) — at 100 TB the dim history also buckets by the
    // same key, making this a co-located join.
    "j16_temporal_scd2" -> ((s, dir) => {
      val ev = Tables.events(s, dir).filter(col("user_id").isNotNull)
      val hist = graft.operators.Scd2.entityHistory(
          ev.filter(col("event_type") =!= "purchase"),
          key = Seq("user_id"), stateCol = "event_type",
          ts = "ts", tieBreak = "event_id")
        .select(col("user_id").as("h_user"), col("event_type").as("state"),
          col("valid_from"), col("valid_to"))
      ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts"))
        .join(hist,
          col("user_id") === col("h_user") && col("valid_from") <= col("ts") &&
            (col("valid_to").isNull || col("ts") < col("valid_to")), "left")
        .select(col("event_id"), col("user_id"), col("ts").as("purchase_ts"),
          coalesce(col("state"), lit("unknown")).as("state_at_purchase"))
    }),

    // J17: AQE SKEW-JOIN mitigation — the runtime re-plan the brief names
    // next to salting: when one join key holds most of a side's rows, AQE
    // splits the oversized shuffle partition across tasks instead of
    // letting one straggler run the stage. The gate manufactures the skew
    // (the skew_salted_agg trick: 70% of events collapse onto one key),
    // joins against a uniform side on an isolated child session with the
    // detection thresholds scaled to the test corpus, executes once to
    // materialize the ADAPTIVE final plan, and folds the typed
    // `ShuffledJoin.isSkewJoin` flag (PlanProbe) into the hash-gated
    // aggregate. At 100 TB
    // the same conf defaults detect 256 MB-plus partitions; here only the
    // thresholds differ, the mechanism is identical.
    "j17_skew_join_aqe" -> ((s, dir) => {
      val s2 = Widths.childSession(s, 32)
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      s2.conf.set("spark.sql.adaptive.enabled", "true")
      s2.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
      s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
      // Three conditions this gate had to discover the hard way, each a
      // production lesson: (1) thresholds scale to the fixture (hot
      // partition ≈ 6 KB at sf0.001 vs the 256 MB default); (2) AQE
      // splits a skewed partition on MAPPER boundaries, so a one-mapper
      // input (single parquet row group) can never split — the repartition
      // below manufactures 8 mappers the way a real cluster's thousands of
      // scan tasks do naturally; (3) the downstream aggregate could have
      // reused the join's partitioning, so the split is declined unless
      // forced — the trade a skew-dominated stage wants.
      s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
      s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1KB")
      s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2KB")
      s2.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
      val hot = Tables.events(s2, dir)
        .repartition(8, col("event_id"))
        .select(col("event_id"),
          when(col("event_id") % 10 < 7, lit(1L)).otherwise(col("event_id") % 1000).as("k"),
          col("value"))
      val dim = Tables.customer(s2, dir)
        .filter(col("c_custkey") <= 999)
        .select(col("c_custkey").as("k"), col("c_name").as("k_name"))
      val j = hot.join(dim, Seq("k"))
      val agg = j.groupBy(col("k_name").isNotNull.as("matched"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
      // drive THIS QueryExecution to its adaptive final plan (a sink write
      // would execute a clone and leave this plan isFinalPlan=false), then
      // read the typed isSkewJoin marker off it (PlanProbe — not a plan
      // string match, which a Spark marker rename would silently break)
      agg.queryExecution.toRdd.count()
      val skewHandled = PlanProbe.skewJoinFired(agg.queryExecution.executedPlan)
      agg.withColumn("skew_split_applied", lit(skewHandled))
    }),

    // J18: DYNAMIC PARTITION PRUNING — the other runtime prune: when a
    // date-partitioned fact joins a dim whose own filter is only known at
    // plan time, Spark injects the dim's surviving join keys as a runtime
    // subquery into the fact scan's PartitionFilters, so a 100 TB fact
    // reads only the matching date directories. The fact is written
    // date-partitioned through the production sink path; the dim is the
    // per-date activity profile filtered by an AGGREGATE attribute
    // (busier-than-average days — deliberately not a function of the key,
    // so constraint propagation cannot pre-prune statically and the
    // runtime mechanism is what does the work). The typed DynamicPruning
    // predicate in the fact scan's partitionFilters (PlanProbe) is folded
    // into the hash-gated result.
    "j18_dynamic_partition_pruning" -> ((s, dir) => {
      val s2 = Widths.childSession(s, 32)
      // the cost heuristic compares fact-scan savings against the dim
      // subquery's ESTIMATED size; an aggregate dim has no stats, so its
      // default estimate dwarfs a test-scale fact and pruning is declined
      // on size alone — disable the stats path and raise the fallback
      // ratio so the decision reflects the mechanism, not the fixture
      s2.conf.set("spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
      s2.conf.set("spark.sql.optimizer.dynamicPartitionPruning.fallbackFilterRatio", "1000000.0")
      val out = TempDirs.fresh("j18")
      Tables.events(s2, dir)
        .select(col("event_id"), col("event_type"), col("value"),
          to_date(col("ts")).as("event_date"))
        .write.partitionBy("event_date").mode("overwrite").parquet(out)
      val fact = s2.read.parquet(out)
      val perDay = Tables.events(s2, dir)
        .groupBy(to_date(col("ts")).as("event_date"))
        .agg(count(lit(1)).as("nd"))
      // threshold via a global window over the per-day table (tiny — one
      // row per day) so the comparison stays a FILTER node: a broadcast
      // scalar crossJoin folds the predicate into a join condition, which
      // DPP's selectivity check does not see
      val dim = perDay
        .withColumn("bar", avg(col("nd").cast(DoubleType)).over(Window.partitionBy()))
        .filter(col("nd").cast(DoubleType) > col("bar"))
        .select(col("event_date"))
      // the dim must BROADCAST for the default reuseBroadcastOnly DPP
      // path (the runtime filter reuses the broadcast exchange for free —
      // exactly the production configuration)
      val j = fact.join(broadcast(dim), Seq("event_date"))
      val dpp = PlanProbe.dppFired(j.queryExecution.executedPlan)
      j.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("value").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_value"))
        .withColumn("dpp_applied", lit(dpp))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "j3_inner_group" ->
      """SELECT c_mktsegment, count(*) AS n_events, count(DISTINCT user_id) AS n_users
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,

    "j4_fact_inner" ->
      """SELECT o_orderstatus, count(*) AS n_lines,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_ext
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |GROUP BY o_orderstatus""".stripMargin,

    "j5_left_merge_back" ->
      """SELECT c_custkey, c_name, n_orders, last_order_date
        |FROM customer LEFT JOIN (
        |  SELECT o_custkey, count(*) AS n_orders, max(o_orderdate) AS last_order_date
        |  FROM orders GROUP BY o_custkey) agg
        |ON c_custkey = o_custkey""".stripMargin,

    "j6_scalar_filtered_dim" ->
      """SELECT p_brand, count(*) AS n,
        |  CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS total_ext
        |FROM lineitem LEFT JOIN (
        |  SELECT * FROM part WHERE p_size = (SELECT max(p_size) FROM part)) dim
        |ON l_partkey = p_partkey
        |GROUP BY p_brand""".stripMargin,

    "j7_fact_dim_left" ->
      """SELECT o_orderkey, o_totalprice, c_mktsegment, c_name
        |FROM orders LEFT JOIN customer ON o_custkey = c_custkey""".stripMargin,

    "j9_using_left" ->
      """SELECT c_mktsegment, count(*) AS n_events
        |FROM events LEFT JOIN (SELECT c_custkey AS user_id, c_mktsegment FROM customer) c
        |USING (user_id)
        |GROUP BY c_mktsegment""".stripMargin,

    "j10_orphan_audit" ->
      """SELECT
        |  (SELECT count(*) FROM lineitem WHERE NOT EXISTS
        |     (SELECT 1 FROM part WHERE p_partkey = l_partkey)) AS orphan_part_lines,
        |  (SELECT count(*) FROM lineitem WHERE NOT EXISTS
        |     (SELECT 1 FROM supplier WHERE s_suppkey = l_suppkey)) AS orphan_supp_lines,
        |  (SELECT count(*) FROM customer WHERE NOT EXISTS
        |     (SELECT 1 FROM orders WHERE o_custkey = c_custkey)) AS customers_without_orders,
        |  (SELECT count(*) FROM customer) AS n_customers,
        |  round((SELECT count(*) FROM customer WHERE NOT EXISTS
        |     (SELECT 1 FROM orders WHERE o_custkey = c_custkey))
        |    / (SELECT count(*) FROM customer), 6) AS no_order_rate""".stripMargin,

    "j11_composite_key_join" ->
      """SELECT event_type, count(*) AS n_rows, max(n_in_dim) AS max_group_size
        |FROM events e LEFT JOIN (
        |  SELECT user_id AS d_user, event_type AS d_type, count(*) AS n_in_dim
        |  FROM events GROUP BY 1, 2) dim
        |ON e.user_id = d_user AND e.event_type = d_type
        |GROUP BY event_type""".stripMargin,

    "j12_range_join" ->
      """SELECT bucket_id, count(*) AS n, CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
        |FROM events JOIN (
        |  SELECT i AS bucket_id, i * 10.0 AS lo, (i + 1) * 10.0 AS hi
        |  FROM range(0, 50) t(i)) b
        |ON value >= lo AND value < hi
        |GROUP BY bucket_id""".stripMargin,

    // the oracle uses the PLAIN theta-join — proving the grid-expanded
    // equi-join plan returns exactly the naive BETWEEN semantics
    "j13_interval_lookup" ->
      """SELECT interval_id, ip_from, ip_to, count(*) AS n,
        |  min(ip_int) AS min_ip, max(ip_int) AS max_ip
        |FROM (SELECT CAST(floor(value * 1000) AS BIGINT) AS ip_int FROM events
        |      WHERE value IS NOT NULL) e
        |JOIN (SELECT i AS interval_id, i * i * 1000 AS ip_from,
        |             (i + 1) * (i + 1) * 1000 - 1 AS ip_to
        |      FROM range(0, 22) t(i)) iv
        |ON ip_int BETWEEN ip_from AND ip_to
        |GROUP BY 1, 2, 3""".stripMargin,

    // DuckDB's native ASOF JOIN is the oracle for the union+window spelling
    "j14_asof_join" ->
      """WITH ccys(c, ccy) AS (VALUES (0, 'USD'), (1, 'EUR'), (2, 'GBP')),
        |rates AS (
        |  SELECT ccy,
        |    DATE '2024-01-01' + INTERVAL (i * 3) DAY AS rate_date,
        |    CAST((i + 1) * 10 + c AS DOUBLE) AS rate
        |  FROM range(0, 7) t(i), ccys),
        |evs AS (
        |  SELECT event_id,
        |    CASE event_id % 3 WHEN 0 THEN 'USD' WHEN 1 THEN 'EUR' ELSE 'GBP' END AS ccy,
        |    CAST(ts AS DATE) AS event_date
        |  FROM events)
        |SELECT e.event_id, e.ccy, e.event_date,
        |  CAST(r.rate_date AS DATE) AS asof_rate_date, r.rate AS asof_rate
        |FROM evs e ASOF LEFT JOIN rates r
        |  ON e.ccy = r.ccy AND e.event_date >= r.rate_date""".stripMargin,

    "j15_nullsafe_join" ->
      """WITH ev AS (
        |  SELECT CASE WHEN event_id % 7 = 0 THEN NULL ELSE user_id % 50 END AS k
        |  FROM events),
        |dim AS (
        |  SELECT unnest(range(0, 50)) AS k
        |  UNION ALL SELECT NULL)
        |SELECT ev.k, count(*) AS n
        |FROM ev JOIN dim ON ev.k IS NOT DISTINCT FROM dim.k
        |GROUP BY ev.k""".stripMargin,

    // both engines compare micro-truncated timestamps (Tables.events reads
    // NANOS as micros; epoch_us truncates identically), so the half-open
    // interval boundaries can never straddle an engine difference
    "j16_temporal_scd2" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |    make_timestamp(epoch_us(ts)) AS ts
        |  FROM events WHERE user_id IS NOT NULL),
        |hist AS (
        |  SELECT user_id, event_type, ts AS valid_from,
        |    lead(ts) OVER (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)
        |      AS valid_to
        |  FROM e WHERE event_type <> 'purchase'),
        |f AS (SELECT event_id, user_id, ts FROM e WHERE event_type = 'purchase')
        |SELECT f.event_id, f.user_id, f.ts AS purchase_ts,
        |  coalesce(h.event_type, 'unknown') AS state_at_purchase
        |FROM f LEFT JOIN hist h ON f.user_id = h.user_id
        |  AND h.valid_from <= f.ts AND (h.valid_to IS NULL OR f.ts < h.valid_to)""".stripMargin,

    // the skew-split boolean is the gate: AQE failing to split the hot
    // partition (conf regression, marker rename) → FALSE ≠ TRUE
    "j17_skew_join_aqe" ->
      """WITH hot AS (
        |  SELECT event_id,
        |    CASE WHEN event_id % 10 < 7 THEN 1 ELSE event_id % 1000 END AS k,
        |    value
        |  FROM events),
        |dimn AS (
        |  SELECT c_custkey AS k, c_name AS k_name
        |  FROM customer WHERE c_custkey <= 999)
        |SELECT k_name IS NOT NULL AS matched, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  TRUE AS skew_split_applied
        |FROM hot JOIN dimn USING (k)
        |GROUP BY 1""".stripMargin,

    // the pruning boolean is the gate: the optimizer dropping the runtime
    // subquery from the fact scan → FALSE ≠ TRUE
    "j18_dynamic_partition_pruning" ->
      """WITH perday AS (
        |  SELECT CAST(ts AS DATE) AS event_date, count(*) AS nd
        |  FROM events GROUP BY 1),
        |bar AS (SELECT avg(CAST(nd AS DOUBLE)) AS bar FROM perday),
        |dim AS (
        |  SELECT event_date FROM perday, bar
        |  WHERE CAST(nd AS DOUBLE) > bar)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value,
        |  TRUE AS dpp_applied
        |FROM events JOIN dim ON CAST(ts AS DATE) = dim.event_date
        |GROUP BY event_type""".stripMargin
  )
}
