package graft.queries

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkSpec

/** Plan-shape gates: the scale claims in SCALE.md as assertions, so a
  * regression that silently degrades a broadcast to a shuffle, an
  * equi-join to a nested loop, or pushdown to a full scan fails the build
  * rather than only changing a plan dump (`graft.tools.ExplainOne`).
  */
class PlanShapeSpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    graft.SparkEntry.queries(name)(spark, dir)
      .queryExecution.executedPlan.toString

  private def count(hay: String, needle: String): Int =
    hay.sliding(needle.length).count(_ == needle)

  /** The executed plans of the index builds (CorpusCache's
    * `localCheckpoint` actions) that run in `session`.
    */
  private class Builds(val session: SparkSession) {
    private val plans = new java.util.concurrent.ConcurrentLinkedQueue[SparkPlan]()
    session.listenerManager.register(new QueryExecutionListener {
      def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") plans.add(qe.executedPlan)
      def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })

    /** The plans of the builds `f` runs, in order: a nested build (a
      * codebook) completes before the build that demands it.
      */
    def of(f: => Any): Seq[SparkPlan] = {
      org.apache.spark.GraftListenerBus.drain(session.sparkContext)
      plans.clear()
      f
      org.apache.spark.GraftListenerBus.drain(session.sparkContext)
      plans.toArray(Array.empty[SparkPlan]).toSeq
    }
  }

  private object Walk extends AdaptiveSparkPlanHelper

  test("flagship star: every dim hop broadcasts, no nested loop, no cartesian") {
    val p = plan("q0_flagship_star")
    assert(count(p, "BroadcastHashJoin") >= 4, p.take(800))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("interval lookup compiles to an equi-join on the grid cell, not a nested loop") {
    val p = plan("j13_interval_lookup")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"))
  }

  test("filtered scan pushes predicates and prunes columns at the parquet reader") {
    val p = plan("s1_filtered_scan")
    assert(p.contains("PushedFilters: [") && !p.contains("PushedFilters: []"), p.take(1200))
    // projection reaches the scan: only the 4 selected columns are read
    val readSchema = "ReadSchema: struct<([^>]*)>".r
      .findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(Seq("event_id:", "user_id:", "event_type:", "value:")
      .forall(readSchema.contains), readSchema)
    assert(!readSchema.contains("props:") && !readSchema.contains("ts:"), readSchema)
  }

  test("fact_order: dim merge-backs all broadcast; no shuffle join anywhere") {
    val p = plan("glamira_fact_order")
    assert(count(p, "BroadcastHashJoin") >= 5, p.take(800))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"))
  }

  test("stg_order is written once; the snapshot feed and the fact scan it, no explode") {
    import org.apache.spark.sql.catalyst.plans.logical.Generate
    import org.apache.spark.sql.execution.{LocalTableScanExec, ProjectExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import graft.glamira.{Glamira, GlamiraFixtures, Marts, Staging}
    val workDir = java.nio.file.Files.createTempDirectory("planshape-glamira").toString
    val fx = GlamiraFixtures.fxSeed(spark)
    val g = Glamira.graph(spark, workDir, GlamiraFixtures.summary(spark),
      GlamiraFixtures.productRaw(spark), GlamiraFixtures.ipLocationRaw(spark), fx)
    // the two consumers exactly as Glamira.graph wires them on day 1
    val scd = graft.operators.Scd2.firstRun(
      Staging.customerEmailScdFeed(g.resolve("stg_order"), g.resolve("stg_customer")),
      Seq("user_db_id", "email_address", "time_stamp"), "event_ts")
    val fact = Marts.martFactOrder(g.resolve("stg_order"), fx,
      g.resolve("mart_dim_customer"), g.resolve("mart_dim_product"))
    def generates(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case x: Generate => x }.size
    assert(generates(Staging.stgOrder(GlamiraFixtures.summary(spark),
      Staging.stgLocation(GlamiraFixtures.ipLocationRaw(spark)))) === 2)
    assert(generates(scd) === 0, scd.queryExecution.optimizedPlan)
    assert(generates(fact) === 0, fact.queryExecution.optimizedPlan)

    def under(p: SparkPlan): SparkPlan = p match {
      case ProjectExec(_, c) => under(c)
      case c => c
    }
    val p = fact.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    val broadcasts = p.collect { case b: BroadcastExchangeExec => under(b.child) }
    // the latest-rate, customer and product dims; the currency and TLD rule
    // tables are literal maps, the rate date a window, the location join
    // lives in the stg_order write
    assert(broadcasts.size === 3, p)
    assert(!broadcasts.exists(_.isInstanceOf[LocalTableScanExec]), p)
  }

  test("dim_date: the calendar spine plans no shuffle and no sort") {
    val p = plan("glamira_dim_date")
    assert(!p.contains("Exchange") && !p.contains("Sort"), p.take(1200))
  }

  test("customer_email_scd feed: stg_customer classifies and counts without join-backs") {
    import graft.glamira.{GlamiraFixtures, Staging}
    val summary = GlamiraFixtures.summary(spark)
    val feed = Staging.customerEmailScdFeed(
      Staging.stgOrder(summary, Staging.stgLocation(GlamiraFixtures.ipLocationRaw(spark))),
      Staging.stgCustomer(summary))
    val p = feed.queryExecution.executedPlan.toString
    // distinct (email, user) pairs and the per-user recency window; the
    // valid customers semi-join the orders without a distinct of their own
    assert(count(p, "Exchange hashpartitioning") === 2, p)
  }

  test("exact dedup: single shuffle on the content hash") {
    val p = plan("dedup_exact")
    // partial agg → one Exchange → final agg; AQE wraps but adds no extra shuffle
    assert(count(p, "Exchange hashpartitioning") === 1, p.take(1200))
  }

  test("top-k sort compiles to TakeOrderedAndProject, not a global sort") {
    val p = plan("o1_topk_sort")
    assert(p.contains("TakeOrderedAndProject"), p.take(800))
  }

  test("incremental dedup: band candidate join is an equi-join, never a cartesian pair space") {
    val p = plan("dedup_incremental")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(1200))
  }

  test("components: the gated pair chain is the banded LSH path — no cartesian pair space") {
    // the pair INPUT (lshVerifiedPairs) must stay banded; the broadcast
    // 1-row df-cap aggregate is the only BNLJ-looking node and is Cross
    // BuildRight over one row, so only CartesianProduct is forbidden
    val p = plan("dedup_components")
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("incremental ANN: batch x index is a bucket equi-join, never corpus x corpus") {
    // the only nested-loop node is the constant 12x64 hyperplane table
    // build (range x range); vector-bearing joins are all equi-joins
    val p = plan("sim_ann_incremental")
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("stg_order: the location join broadcasts; no shuffle join in the staging path") {
    val p = plan("glamira_stg_order")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p.take(1200))
  }

  test("domain cap: no full-corpus window on source — phase 1 partitions by (source, salt)") {
    val p = plan("curation_domain_cap")
    // two Window nodes ("Window [" excludes WindowGroupLimit): salted bucket
    // rank first, bounded per-source rank second
    assert(count(p, "Window [") === 2, p.take(1500))
    // the upstream window (last in the printed tree) partitions by the
    // salted key, so the raw corpus never feeds a single per-source sort
    val firstWindow = p.split("\n").reverse.find(_.contains("Window ["))
    assert(firstWindow.exists(_.contains("salt")), firstWindow.getOrElse(""))
    // Spark 4's group-limit pushdown caps each (source, salt) bucket at the
    // map side BEFORE the exchange — assert it stays
    assert(p.contains("WindowGroupLimit"), p.take(1500))
  }

  test("cluster sample: quota pushes into WindowGroupLimit, no cartesian, no nested loop") {
    // the scale claim in the query comment as an assertion: the rn <= Q
    // predicate caps each cell's rank map-side before the exchange, and
    // the docs ⋈ assignment recombination is an equi-join on doc_id
    val p = plan("curation_cluster_sample")
    assert(p.contains("WindowGroupLimit"), p.take(1500))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin Inner"), p.take(1500))
  }

  test("c4 pipeline: no cartesian — bounds broadcast 1-row, rep recombines by equi-join") {
    // the only nested-loop-shaped node is the broadcast 1-row percentile
    // bounds (Cross BuildRight over one row); the repetition stats must
    // come back through a doc_id equi-join, never a pair space
    val p = plan("curation_c4_pipeline")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    // map-side flags + one aggregate recombine: exactly one join carries
    // the corpus against the bigram stats, and it is an equi-join
    assert(p.contains("doc_id"), p.take(400))
  }

  test("decontaminate: the eval set broadcasts; the corpus never sort-merge shuffles") {
    val p = plan("decontaminate")
    // eval shingles + eval sizes + exact-hit semi all broadcast
    assert(count(p, "BroadcastHashJoin") >= 3, p.take(1200))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p.take(1200))
  }

  test("dim_product: the JSON payload is parsed ONCE per row, not once per field") {
    // CollapseProject inlines the struct into its 13 field reads, so the
    // plan TEXT shows 13 from_json nodes — but they are all the IDENTICAL
    // full-schema expression, which whole-stage codegen's subexpression
    // elimination evaluates once per row. The regression this guards:
    // per-field schema PRUNING (OptimizeJsonExprs) or get_json_object
    // would make the parses distinct → 13 real Jackson passes per row.
    val p = plan("glamira_dim_product")
    assert(!p.contains("get_json_object"), p.take(1500))
    val schemas = "from_json\\(StructField\\(product,StructType\\((.*?)\\),true\\)".r
      .findAllMatchIn(p).map(_.group(1)).toList
    assert(schemas.nonEmpty && schemas.distinct.size === 1,
      s"n=${schemas.size} distinct=${schemas.distinct.size}")
    // full schema (all 16 fields), not a pruned one — CSE needs identity
    assert(schemas.head.split("StructField").length > 16, schemas.head.take(300))
  }

  test("fuzzy ER: blocked candidates are an equi-join on the block key, never a cartesian") {
    val p = plan("er_fuzzy_match")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin"), p.take(800))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(1200))
  }

  test("entity clusters: the q-gram candidate build is a purged equi-join on the block key") {
    import org.apache.spark.sql.functions.col
    val univ = graft.Tables.part(spark, dir).select(col("p_name").as("name")).distinct()
    val p = Analytics.erCandidatePairs(univ, 4).queryExecution.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    // the block-size purge happens BEFORE the pair join: the kept-block
    // aggregate must appear in the plan (count per blk filtered to the cap)
    assert(p.contains("bn"), p.take(1200))
  }

  test("outlier QA: the per-group stats broadcast back; the corpus never sort-merge shuffles") {
    val p = plan("qa_outliers")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p.take(1200))
  }

  test("funnel: per-stage joins stay equi-joins; no cartesian anywhere") {
    val p = plan("funnel_conversion")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(1200))
  }

  test("temporal SCD2 join: equi-key drives the join, interval is a residual — no nested loop") {
    val p = plan("j16_temporal_scd2")
    assert(p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin") ||
      p.contains("ShuffledHashJoin"), p.take(800))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(1200))
  }

  test("path trigrams: the global ranking window sees the trigram aggregate, not the corpus") {
    val p = plan("path_trigrams")
    // per-user leads partition by user_id; the single-partition rank window
    // must sit ABOVE the (s1, s2, s3) aggregate in the tree
    val lines = p.split("\n")
    val rankIdx = lines.indexWhere(l => l.contains("Window [") && l.contains("row_number"))
    val aggIdx = lines.indexWhere(l => l.contains("HashAggregate") && l.contains("s1"))
    assert(rankIdx >= 0 && aggIdx >= 0 && rankIdx < aggIdx, p.take(1500))
  }

  test("salted aggregation: hot key spreads across salts before the final per-key exchange") {
    val p = plan("skew_salted_agg")
    // two-phase shape: partial agg on (k, salt) → exchange → final (k, salt)
    // → partial k → exchange → final k; no join anywhere
    assert(count(p, "Exchange hashpartitioning") === 2, p.take(1200))
    assert(p.contains("monotonically_increasing_id") || p.contains("_salt"), p.take(1200))
  }

  test("span removal: window-hash joins only — no pair join at any alignment") {
    val p = plan("dedup_span_removal")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p.take(1200))
    // the dup-hash restriction joins back on the 16-byte window hash
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("heavy hitters: candidates broadcast; the corpus never shuffles for the verify") {
    val p = plan("approx_heavy_hitters")
    // the semi-join against the candidate sliver must be broadcast — a
    // sort-merge here would shuffle the whole event stream to count a
    // handful of keys
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p.take(1200))
    assert(!p.contains("SortMergeJoin"), p.take(800))
  }

  test("bm25: top-k is TakeOrderedAndProject; query terms broadcast into the postings") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    val df = graft.SparkEntry.queries("text_bm25_topk")(spark, dir)
    val p = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    val s = p.toString
    assert(s.contains("TakeOrderedAndProject"), s.take(800))
    assert(count(s, "BroadcastHashJoin") >= 2, s.take(800))
    // the corpus statistics and the anchor are literals: no 1-row cross join
    assert(!s.contains("BroadcastNestedLoopJoin") && !s.contains("CartesianProduct"), s)
    // no aggregate over all postings: only the query terms' df (by tok)
    // and the per-doc score sum, each a partial/final pair
    val keys = p.collect {
      case a: HashAggregateExec => a.groupingExpressions.map(_.name).mkString(",")
    }
    assert(keys.sorted === Seq("doc_id", "doc_id", "tok", "tok"), s)
  }

  test("quantized rescore: code-space candidates and per-candidate fetches are equi-joins") {
    // nested-loop nodes may appear only for the broadcast 1-row derived-k
    // scalar in the IVF chain — the pair space itself must be an equi-join
    val p = plan("sim_ann_quantized_rescore")
    assert(!p.contains("CartesianProduct"), p.take(1200))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(800))
  }

  test("IVF-PQ: the LUT and codebook broadcast; no cartesian pair space") {
    val p = plan("sim_ann_ivf_pq")
    assert(count(p, "BroadcastHashJoin") >= 1, p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(1200))
  }

  test("LM perplexity: no token self-join, no nested loop") {
    // (the bigram spelling itself is pinned by the window-free gate below:
    // array-shift zip, not lead() over a corpus-wide window)
    val p = plan("text_lm_perplexity")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin Inner"), p.take(1200))
  }

  test("containment: anchors broadcast into the shared index probe") {
    val p = plan("dedup_containment")
    assert(count(p, "BroadcastHashJoin") >= 2, p.take(800))
    assert(!p.contains("CartesianProduct"), p.take(800))
  }

  test("NEGATIVE CONTROL — a 1-D sort fails the z-order both-dims probe") {
    // prove s17's assertion can fail: lay the same data out sorted by
    // custkey ONLY and recompute the gate's bounding-box probes — the
    // custkey probe prunes, but the date probe must touch (nearly) every
    // file, flipping the dd_prune_ok flag the real layout passes
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.LongType
    val out = TempDirs.fresh("s17neg")
    val o = graft.Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderdate"))
      .withColumn("dday",
        datediff(col("o_orderdate"), lit(java.sql.Date.valueOf("1992-01-01"))).cast(LongType))
    o.repartitionByRange(16, col("o_custkey"))
      .sortWithinPartitions(col("o_custkey"))
      .write.mode("overwrite").parquet(out)
    val bounds = o.agg(min(col("o_custkey")).as("ck0"), max(col("o_custkey")).as("ck1"),
      min(col("dday")).as("d0"), max(col("dday")).as("d1"))
    val perFile = spark.read.parquet(out)
      .groupBy(input_file_name().as("f"))
      .agg(min(col("o_custkey")).as("ck_min"), max(col("o_custkey")).as("ck_max"),
        min(col("dday")).as("dd_min"), max(col("dday")).as("dd_max"))
    val r = perFile.crossJoin(broadcast(bounds))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("nf"),
        sum((col("ck_max") - col("ck_min")).cast("double")).as("cke"),
        sum((col("dd_max") - col("dd_min")).cast("double")).as("dde"),
        max((col("ck1") - col("ck0")).cast("double")).as("ckr"),
        max((col("d1") - col("d0")).cast("double")).as("ddr"))
      .head
    val (nf, cke, dde, ckr, ddr) =
      (r.getLong(0), r.getDouble(1), r.getDouble(2), r.getDouble(3), r.getDouble(4))
    assert(cke < ckr * nf * 0.6, s"custkey extents should shrink under a custkey sort ($cke vs ${ckr * nf})")
    assert(dde > ddr * nf * 0.9, s"date extents must stay ~full under a custkey-only sort ($dde vs ${ddr * nf})")
  }

  test("NEGATIVE CONTROL — the same join over UNBUCKETED tables plans with exchanges") {
    // prove s16's zero-shuffle flag is earned: identical join, plain
    // parquet instead of bucketed catalog tables, broadcast off — the
    // sort-merge join must now shuffle both sides
    import org.apache.spark.sql.functions._
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "4")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    val j = graft.Tables.orders(s2, dir)
      .select(col("o_orderkey"), col("o_custkey"))
      .join(graft.Tables.customer(s2, dir).select(col("c_custkey")),
        col("o_custkey") === col("c_custkey"))
    val shuffles = j.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }.size
    assert(shuffles >= 2, s"unbucketed SMJ must shuffle both sides, saw $shuffles")
  }

  test("NEGATIVE CONTROL — an unpartitioned fact gets no dynamicpruning subquery") {
    // prove j18's flag is earned: the identical join over a fact written
    // WITHOUT partitionBy carries no runtime pruning subquery
    import org.apache.spark.sql.functions._
    val out = TempDirs.fresh("j18neg")
    graft.Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), to_date(col("ts")).as("event_date"))
      .write.mode("overwrite").parquet(out)
    val fact = spark.read.parquet(out)
    val perDay = graft.Tables.events(spark, dir)
      .groupBy(to_date(col("ts")).as("event_date"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("nd"))
    val dim = perDay
      .withColumn("bar", avg(col("nd").cast("double"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy()))
      .filter(col("nd").cast("double") > col("bar"))
      .select(col("event_date"))
    val j = fact.join(broadcast(dim), Seq("event_date"))
    assert(!graft.queries.PlanProbe.dppFired(j.queryExecution.executedPlan),
      "an unpartitioned scan must not carry a pruning subquery")
  }

  test("NEGATIVE CONTROL — a uniform-key join is never skew-split") {
    // prove j17's typed probe is earned: the identical session confs but
    // UNIFORM keys (no hot-key collapse) must leave isSkewJoin false on
    // every shuffled join in the adaptive final plan
    import org.apache.spark.sql.functions._
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "32")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.adaptive.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2.0")
    s2.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "1KB")
    s2.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "2KB")
    s2.conf.set("spark.sql.adaptive.forceOptimizeSkewedJoin", "true")
    val uniform = graft.Tables.events(s2, dir)
      .repartition(8, col("event_id"))
      .select(col("event_id"), (col("event_id") % 1000).as("k"), col("value"))
    val dim = graft.Tables.customer(s2, dir)
      .filter(col("c_custkey") <= 999)
      .select(col("c_custkey").as("k"), col("c_name").as("k_name"))
    val agg = uniform.join(dim, Seq("k"))
      .groupBy(col("k_name").isNotNull.as("matched"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
    agg.queryExecution.toRdd.count()
    assert(!graft.queries.PlanProbe.skewJoinFired(agg.queryExecution.executedPlan),
      "uniform keys must not trigger a skew split")
  }

  test("NEGATIVE CONTROL — with runtime bloom filters disabled, no BloomFilterMightContain is injected") {
    // prove s18's typed probe is earned: the identical selective join with
    // the InjectRuntimeFilter rule off carries no bloom expression
    import org.apache.spark.sql.functions._
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s2.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
    val li = graft.Tables.lineitem(s2, dir)
      .select(col("l_orderkey"), col("l_quantity"), col("l_returnflag"))
    val ord = graft.Tables.orders(s2, dir)
      .filter(col("o_totalprice") > 400000.0d)
      .select(col("o_orderkey"))
    val j = li.join(ord, col("l_orderkey") === col("o_orderkey"))
    assert(!graft.queries.PlanProbe.bloomFilterInjected(j.queryExecution.optimizedPlan),
      "disabled runtime bloom filters must not inject")
  }

  test("containment probe broadcasts the anchor side; the inverted index is never sorted") {
    // round-8 fix: without the hint Spark planned a sort-merge join that
    // SORTED the corpus-sized shingle index (359 s at 500k docs). The
    // anchor side is bounded by s·shingles-per-doc at any corpus size, so
    // every join in this plan must be broadcast — no SMJ, no shuffle join.
    val p = plan("dedup_containment")
    assert(p.contains("BroadcastHashJoin"), p.take(800))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "containment must not shuffle or sort the inverted index for the probe")
  }

  test("shingle-index lambda reads bound token attributes, never an inlined split") {
    // the 348 s cliff of SCALE.md round 8: a non-attribute subexpression
    // captured inside a higher-order lambda is re-evaluated PER ELEMENT
    // (and HOFs don't codegen), so an inlined split(text) inside the
    // shingle transform runs 3·(n_tokens−2) times per row. The fixed plan
    // computes the split in a Project below the Generate; a regression
    // re-inlines it into the Generate's generator expression. The explode
    // input must therefore reference the bound `toks` attribute — the
    // Generate node's own string must carry no split call.
    // raw builder, not the CorpusCache wrapper — and over a limited scan,
    // so the plan is structurally distinct from any index another suite
    // already persisted (the cache manager substitutes an InMemoryRelation
    // for a structurally-identical plan, hiding the Generate this asserts
    // on; bit exactly that way when the full suite ran after a dedup spec)
    val plan = TextOps.shingleIndex(graft.Tables.documents(spark, dir).limit(7))
      .queryExecution.optimizedPlan
    val gens = plan.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }
    assert(gens.nonEmpty, "shingle index must explode through a Generate node")
    gens.foreach { g =>
      val s = g.generator.toString
      assert(!s.contains("split("),
        s"generator re-inlines the token split (per-element re-evaluation): $s")
    }
    // negative control: the pre-fix shape (split inlined into the lambda)
    // must trip the same probe — proves the guard can fail
    import org.apache.spark.sql.functions._
    val bad = graft.Tables.documents(spark, dir).select(col("doc_id"),
      explode(graft.functions.TextFns.shingles3(col("text"))).as("shingle"))
      .queryExecution.optimizedPlan
    val badGen = bad.collect {
      case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
    }
    assert(badGen.exists(_.generator.toString.contains("split(")),
      "control: the inlined-split shape should show split( in the generator")
  }

  test("coarse two-level IVF assignment materializes measurably fewer candidate rows than flat") {
    // the SCALE.md n=10⁶ claim as an executed-metrics assertion. The cost
    // that quadratizes (k ∝ n) is the CANDIDATE volume out of the
    // vector×centroid broadcast joins: flat materializes n·k rows, the
    // two-level chain n·√k (coarse pick) + n·E[k/√k] (in-group fine pick).
    // The codebook picks (k·√k rows, tiny) run once, in the codebook's own
    // cached build, and are pinned separately below. Shuffle volume stays
    // O(n) for BOTH chains — Catalyst pushes the corpus shuffle below the
    // broadcast join, so the window's n·k input never crosses the wire;
    // that is exactly why the mechanism must be gated on join output rows,
    // not shuffle records.
    // AQE off so the static plan's metrics are directly collectible.
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    val builds = new Builds(s2)
    // (bnlj, bhj) output rows, asserted SEPARATELY (round-9 advice): the
    // cross joins (BNLJ — vector×coarse picks) are bounded O(n·√k)
    // UNCONDITIONALLY, while the in-group fine pick (BHJ, equi on
    // gid) is bounded n·max_g k_g — a bound that DEPENDS on the fine→
    // coarse distribution. A single summed assert would let worst-case
    // fine-centroid skew (all k fine centroids in one coarse group → the
    // in-group join alone is n·k) hide behind a healthy cross-join side.
    def rows(p: SparkPlan): (Long, Long) = {
      val bnlj = Walk.collect(p) {
        case j: BroadcastNestedLoopJoinExec =>
          j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }.sum
      val bhj = Walk.collect(p) {
        case j: BroadcastHashJoinExec =>
          j.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
      }.sum
      (bnlj, bhj)
    }
    // an assignment's construction runs its codebook builds, then its own
    // build last: (codebook builds, their cross-join rows, the
    // assignment's (bnlj, bhj) rows)
    def build(family: Ivf.Family): (Int, Long, (Long, Long)) = {
      val plans = builds.of(Ivf.assignment(s2, dir, Ivf.Augmented, family))
      (plans.size - 1, plans.init.map(rows(_)._1).sum, rows(plans.last))
    }
    val (flatBuilds, _, (flatBnlj, flatBhj)) = build(Ivf.Flat)
    val (coarseBuilds, coarseBuildBnlj, (coarseBnlj, coarseBhj)) = build(Ivf.TwoLevel)
    val (imiBuilds, imiBuildBnlj, (imiBnlj, imiBhj)) = build(Ivf.Imi)
    // the flat chain picks twice, from the seeds and from the Lloyd means;
    // one pick is the n·k candidate set the other chains are measured by
    val flat = flatBnlj / 2
    val coarse = coarseBnlj + coarseBhj
    info(s"join output rows: flat=$flat (bnlj=$flatBnlj bhj=$flatBhj) " +
      s"coarse=$coarse (bnlj=$coarseBnlj bhj=$coarseBhj) " +
      s"imi=${imiBnlj + imiBhj} (bnlj=$imiBnlj bhj=$imiBhj); codebook builds: " +
      s"coarse $coarseBuilds (bnlj=$coarseBuildBnlj) imi $imiBuilds (bnlj=$imiBuildBnlj)")
    // fixture: n=1000 (augmented), nbase=500, k=16, √k=4, k1=3, k2=9.
    // flat: BNLJ = 2·n·k = 32000 exactly, two picks of the quadratizing
    // n·k candidate set (every seed keeps its own vector, so no Lloyd cell
    // empties); the seed builds cross no 1-row k/count frames over the
    // base corpus (k and the count are plan literals), so nothing else is
    // a BNLJ. Its seeds stay inline: no codebook is built.
    assert(flatBuilds === 0, "the flat chain's seeds are not a cached codebook")
    assert(flatBnlj === 32000L, s"flat chain must materialize n·k candidates per pick, saw $flatBnlj")
    // each codebook's picks run exactly once, in its own build: the
    // two-level fine×coarse pick k·√k = 64; the IMI level-2×level-1 pick
    // k2·k1 = 27 (the level-2 table, a build of its own) and the
    // fine×level-1 pick k·k1 = 48. Built inline, the probes re-ran them
    // per unshared consumer (4128 = 4000 + 2·64, 3204 = 3000 + 4·27 + 2·48)
    assert(coarseBuilds === 1 && coarseBuildBnlj === 64L,
      s"two-level codebook: one build running its k·√k pick once, saw " +
        s"$coarseBuilds builds, bnlj=$coarseBuildBnlj")
    assert(imiBuilds === 2 && imiBuildBnlj === 75L,
      s"IMI codebook: level-2 and fine builds running their picks once (27 + 48), " +
        s"saw $imiBuilds builds, bnlj=$imiBuildBnlj")
    // coarse cross-join side — UNCONDITIONAL bound, holds under any
    // fine-centroid distribution: vector×coarse n·√k = 4000 exactly; the
    // codebook is a cached leaf, so no pick of it re-runs here
    assert(coarseBnlj === 4000L,
      s"coarse cross-join stage must be exactly n·√k: bnlj=$coarseBnlj")
    // coarse in-group side — bound is n·max_g k_g, which DEPENDS on the
    // fine→coarse distribution. On this fixture the seed codebook spreads
    // the 16 fine centroids across the 4 coarse groups (E[k_g]=√k), so
    // Σ n_g·k_g ≈ n·√k ≈ 4000; the 8000 ceiling fails
    // if the in-group restriction is ever lost (which would put this
    // stage at the full n·k = 16000). NOT a worst-case guarantee: total
    // fine-centroid skew would re-quadratize this stage (SCALE.md records
    // the largest cells measured at each probed scale).
    assert(coarseBhj < 8000L,
      s"in-group fine pick must stay ~n·√k on this fixture: bhj=$coarseBhj")
    // and the headline: two-level total well under flat's candidate volume
    assert(coarse < (flat * 3) / 4,
      s"two-level assignment must materialize <75% of flat's candidates: coarse=$coarse flat=$flat")
    // three-level descent, cross-join side — UNCONDITIONAL O(n·k^(1/3))
    // bound: vector×l1 n·k1 = 3000 exactly. Codebook sizes and beam widths
    // are plan literals: with the seed builds crossing 1-row k and count
    // frames over nbase this side measured 5784, and with the beams'
    // three (p, b1) frame fan-outs too, 8784. Round 10: the
    // descent is two-REGION at this fixture's derived p = 2 (top-2 kept
    // at levels 1 and 2 so `cell2` is the
    // second-best level-2 cell's winner — the nprobe=2 probe target),
    // which doubles the level-2 and fine BHJ stages: ceiling at this
    // fixture is 2n·(l2 per g1 ≤ 3) + 2n·(fine per g2 ≤ 2) + three
    // vec_id rejoins ≤ 2n each = 16000 (measured ≈ 13.4k). At k = 16
    // the k^(1/3)-vs-k asymptotic gap is invisible under that constant
    // 2× (k^(1/3) = 3 vs √k = 4), so the honest fixture asserts are the
    // per-side shape bounds plus total < 2·flat — the widened descent
    // may pay its constant factor but must never re-quadratize; the
    // shape's payoff is measured at the 10⁶/10⁷ probes where k^(1/3)/√k
    // is 27/140.
    assert(imiBnlj === 3000L,
      s"IMI cross-join stage must be exactly n·k1 with no re-picks or fan-outs: bnlj=$imiBnlj")
    assert(imiBhj < 16000L,
      s"IMI two-region menu/rejoin stages must stay O(n·k^(1/3)): bhj=$imiBhj")
    assert(imiBnlj + imiBhj < 2 * flat,
      s"three-level two-region descent must stay under 2x flat's candidate volume: imi=${imiBnlj + imiBhj}")
  }

  test("LM perplexity scoring is window-free: no corpus-wide sort anywhere in the plan") {
    // round 9: bigrams now come from zipping the token array with its own
    // shift (map-only) instead of lead() over a per-doc window — the
    // window spelling SORTS the corpus-wide token table (one row per
    // token), the identical sort-spill class that killed dedup_span_removal
    // on disk at the 5M-doc probe. The occurrence-level scoring joins are
    // likewise gone (per-doc distinct-bigram counts join the LM table), so
    // no node in this plan may sort anything corpus-sized: no Window at
    // all, and no sort-merge join.
    val p = plan("text_lm_perplexity")
    assert(!p.contains("Window"),
      s"LM scoring must not window over the token table:\n${p.take(1200)}")
    val smj = p.linesIterator.filter(_.contains("SortMergeJoin")).toList
    assert(smj.isEmpty, s"LM scoring joins must not sort-merge: $smj")
  }

  test("span removal joins the duplicated-hash set hash-partitioned, never sort-merge") {
    // round 9: with no stats on the aggregated dup side the planner's
    // default sort-merge join SORTS the corpus-sized window table (one
    // row per token) — at the 5M-doc probe that sort's spill exhausted
    // the box's 75 GB scratch disk and killed the query. The SHUFFLE_HASH
    // hint streams the window table unsorted; this gate pins it, keyed on
    // the window-hash column so the doc-keyed merge-backs stay free to
    // plan however the optimizer likes.
    val p = plan("dedup_span_removal")
    assert(p.contains("ShuffledHashJoin"),
      s"dup-hash join must be a shuffled hash join:\n${p.take(1200)}")
    val smjOnHash = p.linesIterator
      .filter(l => l.contains("SortMergeJoin") && l.contains("[h#")).toList
    assert(smjOnHash.isEmpty,
      s"the window-hash join must not sort-merge the window table: $smjOnHash")
  }

  test("IVF assignment argmax is sort-free: candidates hash-aggregate, never window-sort") {
    // round 9: the centroid picks run through the ArgTop2 declarative
    // aggregate (4 primitive buffer slots → HashAggregateExec fast path),
    // so the candidate relation collapses map-side inside the stage that
    // produced it. A Window (row_number) spelling — or a buffer type that
    // demotes to SortAggregate — would re-sort the n·√k candidates: the
    // 0.4 TB spill cliff the 10⁷ probe exposed. The ONE legitimate window
    // left in these chains is the hash-seed codebook rank (orders the
    // ~4k-row oversample by the md5 hash — codebook-training scale, never
    // the corpus), so the assert is on WHAT the windows sort: no window
    // may order by a cosine score, which is what a candidate argmax
    // window would do. Assert on every chain, read off each assignment's
    // own build (its last: the codebooks it demands build first).
    val builds = new Builds(spark.newSession())
    for ((name, family) <- Seq("coarse" -> Ivf.TwoLevel, "flat" -> Ivf.Flat, "imi" -> Ivf.Imi)) {
      // line-level check (TreeNode.collect does not descend through the
      // AdaptiveSparkPlanExec wrapper): a WindowExec node prints its
      // orderSpec on its own line, so a candidate-argmax window would
      // show "Window [...cos...]"
      val p = builds.of(Ivf.assignment(builds.session, dir, Ivf.Augmented, family)).last.toString
      val candidateWindows =
        p.linesIterator.filter(l => l.contains("Window") && l.contains("cos")).toList
      assert(candidateWindows.isEmpty,
        s"$name assignment must not window-sort the candidate relation: $candidateWindows")
      assert(!p.contains("SortAggregate"),
        s"$name assignment argmax fell off the HashAggregate fast path")
      // round 14: the IMI chain's beams are the derived-width ArgTopN
      // (same fixed-primitive-buffer HashAggregate discipline); the
      // two-level and flat chains keep the ArgTop2 argmax
      if (name == "imi")
        assert(p.contains("vec_arg_topn"), s"$name beams must rank via ArgTopN")
      else
        assert(p.contains("vec_arg_top2"), s"$name assignment must argmax via ArgTop2")
    }
  }

  test("every production IVF consumer builds ONLY the coarse assignment; flat = tagged baseline") {
    // round 9: the in-band witness that the five consumer chains run on
    // the two-level assignment — constructing each query in a FRESH session must
    // register the `ivfcoarse:` cache key and never the flat `ivfassign:`
    // one. Construction is where getOrBuild fires, so this needs no
    // execution; the tagged baseline sim_ann_ivf is the positive control
    // proving the flat key would have been observed.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    val consumers = Seq("sim_ann_ivf_coarse", "sim_ann_ivf_probe",
      "sim_ann_quantized_rescore", "sim_ann_ivf_pq", "dedup_semantic",
      "ann_recall")
    consumers.foreach(n => graft.SparkEntry.queries(n)(s2, dir))
    // entries are strongly held and evicted only past MaxLive, so a key
    // count under the cap proves no entry (a flat one included) was evicted
    val keys = CorpusCache.liveKeys(s2)
    assert(keys.size < CorpusCache.MaxLive,
      s"witness needs every demanded key still live, keys=$keys")
    assert(keys.exists(_.startsWith("ivfcoarse:")),
      s"consumers must build the coarse assignment, keys=$keys")
    assert(!keys.exists(_.startsWith("ivfassign:")),
      s"no production consumer may build the flat assignment, keys=$keys")
    // positive control: the tagged baseline still builds (and is the only
    // builder of) the flat chain
    graft.SparkEntry.queries("sim_ann_ivf")(s2, dir)
    assert(CorpusCache.liveKeys(s2).exists(_.startsWith("ivfassign:")),
      "control: the tagged baseline must register the flat key")
  }

  test("each IVF codebook is built once per (corpus, k) and shared by every chain that descends it") {
    // at gate scale every chain's cell count is k = 16 (n = 500 plain,
    // 1000 augmented, 2000 near-twin), so the four two-level descents
    // share one codebook key and the two IMI descents one IMI codebook
    // key (plus its one level-2 table); a key per chain would mean a
    // codebook re-picked per consumer
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "8")
    def codebookKeys(): (Seq[String], Seq[String], Seq[String]) = {
      val keys = CorpusCache.liveKeys(s2).toSeq.sorted
      (keys.filter(_.startsWith(s"ivfcb:$dir:ivfseed:")),
        keys.filter(_.startsWith(s"ivfimicb:$dir:")),
        keys.filter(_.startsWith(s"ivfcb:$dir:ivfl2:")))
    }
    for (c <- Seq(Ivf.Augmented, Ivf.NearTwin, Ivf.Plain)) Ivf.assignment(s2, dir, c, Ivf.TwoLevel)
    graft.SparkEntry.queries("stream_ann_ingest")(s2, dir).collect()
    val (twoLevel, imi0, _) = codebookKeys()
    assert(twoLevel === Seq(s"ivfcb:$dir:ivfseed:16") && imi0.isEmpty,
      s"the two-level chains must share one k = 16 codebook: ${CorpusCache.liveKeys(s2)}")
    for (c <- Seq(Ivf.Augmented, Ivf.NearTwin)) Ivf.assignment(s2, dir, c, Ivf.Imi)
    val (twoLevel1, imi, level2) = codebookKeys()
    assert(twoLevel1 === twoLevel, "the IMI chains must not build a two-level codebook")
    assert(imi === Seq(s"ivfimicb:$dir:16") && level2 === Seq(s"ivfcb:$dir:ivfl2:9"),
      s"the IMI chains must share one k = 16 codebook: ${CorpusCache.liveKeys(s2)}")
    assert(CorpusCache.liveKeys(s2).size < CorpusCache.MaxLive,
      "witness needs every demanded key still live")
  }

  test("a codebook build reads the corpus once per seed table, at one scan partition and at several") {
    // every use of a seed table in a build (the pick, the join-back, the
    // level-2 descent) shares the one exchange under its rank window, so
    // the md5-filtered corpus scan runs once per table. A one-partition
    // scan plans no exchange of its own, so without that one each use of
    // a seed table reads the corpus again
    import org.apache.spark.sql.execution.FileSourceScanExec
    for (maxBytes <- Seq(None, Some("4096")); aqe <- Seq("true", "false")) {
      val builds = new Builds(spark.newSession())
      val s2 = builds.session
      val name = s"${if (maxBytes.isEmpty) "one scan partition" else "several"}, AQE $aqe"
      s2.conf.set("spark.sql.adaptive.enabled", aqe)
      maxBytes.foreach { b =>
        s2.conf.set("spark.sql.files.maxPartitionBytes", b)
        s2.conf.set("spark.sql.files.openCostInBytes", "0")
      }
      val parts = graft.Tables.embeddings(s2, dir).rdd.getNumPartitions
      assert(if (maxBytes.isEmpty) parts == 1 else parts >= 2, s"$name: the scan reads $parts partitions")
      val plans = builds.of {
        Ivf.coarseCodebook(s2, dir, 16L)
        Ivf.imiCodebook(s2, dir, 16L)
      }
      val seedScans = plans.map(p => Walk.collect(p) {
        case f: FileSourceScanExec if f.dataFilters.exists(_.toString.contains("md5(")) => f
      }.size)
      // two-level (fine, coarse), IMI level 2 (level 2, level 1), IMI fine
      assert(seedScans === Seq(2, 2, 1), s"$name: md5-filtered scans per build:\n${plans.mkString("\n")}")
    }
  }

  test("LSH signatures are a per-row projection: the lshsigs build plans no exchange") {
    // each bucket bit is one d-order fold against a plane literal, so the
    // signature table is the corpus scan plus a projection — no exploded
    // (vector, plane) relation, no shuffle, no broadcast
    import org.apache.spark.sql.execution.exchange.Exchange
    val builds = new Builds(spark.newSession())
    val built = builds.of(VectorOps.sharedLshSigs(builds.session, dir))
    assert(built.size === 1, s"expected one lshsigs build, saw ${built.size}")
    val p = built.head
    val exchanges = Walk.collect(p) { case e: Exchange => e.nodeName }
    assert(exchanges.isEmpty, s"the lshsigs build must plan no exchange: $exchanges\n$p")
  }

  test("shard export: no corpus-sized unpartitioned window; offsets broadcast") {
    // the two-level prefix sum's contract: per-part windows sort bounded
    // hash slices, the ONLY unpartitioned window runs over the 16-row
    // per-part aggregate (a regression to a global corpus cumsum —
    // the domain_cap failure mode — puts doc_id under an empty
    // partition spec), and the offset table reaches the corpus by
    // broadcast, never a shuffle join
    val df = graft.SparkEntry.queries("curation_shard_export")(spark, dir)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty, "shard export must window (cumsum + ordinal)")
    windows.filter(_.partitionSpec.isEmpty).foreach { w =>
      val names = w.child.output.map(_.name)
      assert(!names.contains("doc_id"),
        s"an unpartitioned window may only run over the per-part aggregate, saw $names")
    }
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"),
      s"per-part offsets must broadcast into the corpus:\n${p.take(800)}")
  }

  test("two-tier cell scan: the cell candidate join carries the sketch, never full vectors") {
    // round 10: the within-cell candidate join (the family's dominant
    // cost at 10⁷ — ~1.1×10¹⁰ pairs over a ~5.6 GB/side spilling shuffle)
    // must shuffle ONLY the pair sketch (16-d head + tail norm + norm);
    // full 64-float vectors may appear only in the per-survivor rescore
    // fetch. A regression that rejoins embeddings below the cell join
    // re-inflates the shuffle 3.5× and the pair dot 4×.
    import org.apache.spark.sql.functions._
    val df = VectorOps.cellVerifiedPairs(spark, dir,
      Ivf.assignment(spark, dir, Ivf.Augmented, Ivf.TwoLevel))
    // the candidate PAIR join: keyed on cell AND two-sided (both pair ids
    // in its output) — a one-sided join that also keys on cell is not the
    // pair space this pin guards
    def cellJoins(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
      p.collect {
        case j: org.apache.spark.sql.catalyst.plans.logical.Join
            if j.condition.exists(_.references.exists(_.name == "cell")) &&
              Set("i", "j").subsetOf(j.output.map(_.name).toSet) => j
      }
    val joins = cellJoins(df.queryExecution.optimizedPlan)
    assert(joins.nonEmpty, "pair scan must join on the cell id")
    joins.foreach { j =>
      val names = j.output.map(_.name)
      assert(!names.exists(Set("ea", "eb", "embedding")),
        s"candidate join must carry the sketch, not full vectors: $names")
      assert(names.contains("ha") && names.contains("hb"),
        s"candidate join must carry the sketch heads: $names")
    }
    // the rescore fetches are equi-joins on vec_id — never a nested-loop
    // or cartesian re-expansion of the pair space
    val pstr = df.queryExecution.executedPlan.toString
    assert(!pstr.contains("CartesianProduct"), pstr.take(1200))
    // negative control: the single-tier exact shape (the pre-round-10
    // plan) must trip the same probe — proves the guard can fail
    def vdot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      graft.expr.Native.vecDot(a, b)
    val base = graft.Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val aug = base.unionByName(
      base.select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
    val n = aug.withColumn("nrm", sqrt(vdot(col("embedding"), col("embedding"))))
      .join(Ivf.assignment(spark, dir, Ivf.Augmented, Ivf.TwoLevel), Seq("vec_id"))
    val l = n.select(col("cell"), col("vec_id").as("i"), col("embedding").as("ea"), col("nrm").as("na"))
    val r = n.select(col("cell"), col("vec_id").as("j"), col("embedding").as("eb"), col("nrm").as("nb"))
    val exact = l.join(r, Seq("cell")).filter(col("i") < col("j"))
      .withColumn("cos", vdot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cos") >= 0.999)
      .select(col("i"), col("j"))
    val badJoins = cellJoins(exact.queryExecution.optimizedPlan)
    assert(badJoins.exists(_.output.exists(a => Set("ea", "eb")(a.name))),
      "control: the single-tier shape should carry full vectors through the cell join")
  }

  test("shared IVF builds cache the assignment as built: nothing keyed on cell above the descent") {
    // every IVF consumer joins on the Long cell id, so a shared build ends
    // at its final argmax: no per-cell aggregate and no cell-keyed join
    // may run above it. Read off the executed plan of each build's
    // checkpoint action (the descent's own aggregates — the flat chain's
    // Lloyd means group by cell — sit below the final argmax)
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val s2 = spark.newSession()
    val builds = new Builds(s2)
    object Walk extends AdaptiveSparkPlanHelper {
      def argmax(p: SparkPlan): Boolean = p match {
        case a: BaseAggregateExec => a.aggregateExpressions.exists(e =>
          e.aggregateFunction.isInstanceOf[graft.expr.ArgTop2] ||
            e.aggregateFunction.isInstanceOf[graft.expr.ArgTopN])
        case _ => false
      }
      // every node outside the subtrees of the chain's argmax aggregates
      def above(p: SparkPlan): Seq[SparkPlan] =
        if (argmax(p)) Nil else p +: allChildren(p).flatMap(above)
    }
    def onCell(es: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) =
      es.exists(_.references.exists(_.name == "cell"))
    // each chain's codebook is its own cached build (pinned above); warm
    // it first so the one checkpoint read here is the assignment's
    val k = Ivf.cellCount(Ivf.Augmented.rows(s2, dir))
    val kNt = Ivf.cellCount(Ivf.NearTwin.rows(s2, dir))
    for ((name, warm, corpus, family) <- Seq[(String, () => Unit, Ivf.Corpus, Ivf.Family)](
        ("flat", () => (), Ivf.Augmented, Ivf.Flat),
        ("coarse", () => Ivf.coarseCodebook(s2, dir, k), Ivf.Augmented, Ivf.TwoLevel),
        ("imi", () => Ivf.imiCodebook(s2, dir, k), Ivf.Augmented, Ivf.Imi),
        ("coarse_nt", () => Ivf.coarseCodebook(s2, dir, kNt), Ivf.NearTwin, Ivf.TwoLevel),
        ("imi_nt", () => Ivf.imiCodebook(s2, dir, kNt), Ivf.NearTwin, Ivf.Imi))) {
      warm()
      val built = builds.of(Ivf.assignment(s2, dir, corpus, family))
      assert(built.size === 1, s"$name: expected one checkpoint build, saw ${built.size}")
      val p = built.head
      assert(Walk.collect(p) { case n if Walk.argmax(n) => n }.nonEmpty,
        s"$name: the build plan must hold its argmax descent:\n$p")
      val top = Walk.above(p)
      val cellAggs = top.collect {
        case a: BaseAggregateExec if onCell(a.groupingExpressions) => a.nodeName
      }
      val cellJoins = top.collect {
        case j: BaseJoinExec if onCell(j.leftKeys ++ j.rightKeys ++ j.condition) => j.nodeName
      }
      assert(cellAggs.isEmpty && cellJoins.isEmpty,
        s"$name: cell-keyed work above the descent: $cellAggs $cellJoins\n$p")
    }
  }
}
