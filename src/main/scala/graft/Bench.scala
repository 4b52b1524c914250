package graft

import org.apache.spark.sql.SparkSession

/** Driver-run benchmark: every SparkEntry query against
  * SPARK_GRAFT_SF_DIR, one JSON line on stdout.
  *
  * Each query materializes fully through the `noop` sink — `count()` would
  * let Catalyst prune the projection work out of scan-shaped queries and
  * under-report. Queries run in sorted name order for stable comparisons.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession()
    spark.sparkContext.setLogLevel("WARN")

    // Warm the JVM/codegen/FS paths once so the first measured query does
    // not absorb session startup.
    try SparkEntry.queries("q1_agg")(spark, sfDir).write.format("noop").mode("overwrite").save()
    catch { case _: Throwable => () }

    // Box-calibration scalar (round-12 verdict #6): byte-identical code
    // measured up to ~1.9× apart across this project's round-to-round box
    // rotation, so raw BENCH totals are not comparable across rounds. A
    // FIXED synthetic kernel — range → xxhash64 → sum over 8G rows (sized so per-row codegen work, not task dispatch, dominates: 64M/256M rows measured identical 0.21 s = pure overhead; 8G rows ≈ 1.9 s on the round-13 box),
    // data/sf/disk-independent, wholly codegen CPU — is timed three times
    // (median, after one untimed warm run) and lands in bench_full.json
    // and the stdout line as `calib_sec`. Cross-round comparisons divide
    // query walls by the two runs' calib_sec ratio to normalize the box.
    val calibSec = {
      import org.apache.spark.sql.functions.{col, sum, xxhash64}
      def once(): Double = {
        val t0 = System.nanoTime()
        // modulo keeps the 8G-term sum inside a long under ANSI mode
        spark.range(8L * 1000 * 1000 * 1000).select(sum(xxhash64(col("id")) % 1000000L))
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      once()
      Vector.fill(3)(once()).sorted.apply(1)
    }

    // Second, I/O-flavored calibration scalar (round-15 verdict #5): the
    // xxhash kernel is pure codegen CPU, and the r14 driver box proved it
    // OVER-corrects shuffle/IO-bound suites (calib 3.607 = "2× slower"
    // while the raw bench total FELL — a −54% normalized trend where the
    // quiet same-code decomposition measured −18%). This kernel is a
    // fixed parquet scan + full-row shuffle + aggregate over a synthetic
    // table written untimed to local scratch (data/sf-independent):
    // 32M × (id, hash) rows ≈ a few hundred MB scanned and ~0.5 GB
    // shuffled per pass. Cross-round comparisons read the PAIR — the two
    // scalars bound the correction band for mixed workloads instead of
    // point-estimating it from CPU alone.
    val calibIoSec = {
      import org.apache.spark.sql.functions.{col, count, spark_partition_id, sum, xxhash64}
      val dir = java.nio.file.Files.createTempDirectory("graft-calib-io")
      val path = dir.resolve("t").toString
      try {
        spark.range(32L * 1000 * 1000)
          .select(col("id"), xxhash64(col("id")).as("h"))
          .write.mode("overwrite").parquet(path)
        def once(): Double = {
          val t0 = System.nanoTime()
          spark.read.parquet(path)
            .repartition(64, col("h"))
            .groupBy(spark_partition_id().as("p"))
            .agg(count(col("id")).as("n"), sum(col("h") % 1000000L).as("s"))
            .write.format("noop").mode("overwrite").save()
          (System.nanoTime() - t0) / 1e9
        }
        once()
        Vector.fill(3)(once()).sorted.apply(1)
      } finally {
        try org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
        catch { case _: Throwable => () }
      }
    }

    // Two passes, min per query — EXCEPT the headline set (3 samples,
    // median — see below) and queries whose first pass lands under 0.2 s,
    // which keep their single cold sample. A single-shot
    // timing on local[32] swings ±3× from JIT/GC/page-cache luck (rounds
    // 1 vs 2 "regressed" and "improved" dozens of queries on byte-identical
    // code), so the min matters for anything long enough to measure; the
    // sub-0.2 s queries are planning-overhead-bound, their cold/warm delta
    // is bounded by that same 0.2 s, and skipping their second pass halves
    // the bench wall-time. Trade-off: their reported values carry first-run
    // noise — compare trends on the headline (all >0.2 s) queries.
    val passes = sys.env.getOrElse("SPARK_GRAFT_BENCH_PASSES", "2").toInt.max(1)
    val headline = Set(
      "q0_flagship_star", "q1_agg", "j2_join_inner", "j4_fact_inner",
      "w1_latest_per_key", "x11_json_extract", "x3_locale_numeric",
      "glamira_stg_order", "glamira_fact_currency", "dedup_exact",
      "dedup_minhash_lsh", "sim_ann_lsh", "sim_ann_ivf",
      "text_tfidf_terms", "sess_sessionize", "rollup_revenue",
      "dedup_semantic", "stream_join")
    // No per-query clearCache: the dedup family shares ONE persisted
    // shingle index per process (TextOps.sharedShingleIndex — the
    // production execution model), and clearing the cache between queries
    // would silently evict it and re-shingle the corpus five times.
    // Per-query SCRATCH persists (funnel stages, token-budget table, ANN
    // signatures) instead register in ScratchCache and are released after
    // each query's terminal action, so repeated sweeps on one session
    // don't accumulate storage-memory entries (round-5 advice) while the
    // shared index survives.
    def onePass(qs: Seq[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)]): Seq[(String, Double, Boolean)] =
      qs.map { case (name, fn) =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable => System.err.println(s"[bench] $name failed: ${e.getMessage}"); false }
        // timing stops BEFORE the scratch drain: the unpersist bookkeeping
        // belongs to the harness, not to the query's sample
        val dt = (System.nanoTime() - t0) / 1e9
        graft.queries.ScratchCache.drain()
        (name, dt, ok)
      }
    // Optional name filter for one-off probes (e.g. the sf1 scale run in
    // SCALE.md): comma-separated names. The driver never sets it, and the
    // headline-missing guard below is relaxed under a filter so a subset
    // probe doesn't trip the full-set contract. Unknown names fail loudly:
    // a typo'd filter must not record a silently empty/partial probe.
    val only: Option[Set[String]] =
      sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { names =>
      val unknown = names -- SparkEntry.queries.keySet
      require(names.nonEmpty && unknown.isEmpty,
        s"SPARK_GRAFT_BENCH_ONLY names not in query set (or empty filter): ${unknown.toSeq.sorted}")
    }
    // Deliberately-unoptimized BASELINE twins, tagged so the bench JSON
    // self-documents which entries exist to verify an optimized path and
    // must not be read as the production shape (their deployment twin is
    // named). sim_ann_pq_adc is the labeled O(s·n·M) flat-ADC scan behind
    // sim_ann_ivf_pq; the three truth fixtures are the anchored exact
    // computations the LSH/cosine/ANN paths are recall-checked against.
    // Validated HERE, before the sweep: a renamed query must abort with
    // zero queries run, not after 150+ s of bench work is already spent.
    val baselines = Map(
      "sim_ann_ivf" -> "flat O(n*k) centroid assignment; deployment twin at scale sim_ann_ivf_coarse",
      "sim_ann_pq_adc" -> "flat ADC baseline; deployment twin sim_ann_ivf_pq",
      "sim_topk_bruteforce" -> "anchored exact top-k truth; deployment twin sim_ann_ivf_coarse",
      "dedup_embedding_cosine" -> "anchored exact cosine truth; deployment twin dedup_semantic",
      "dedup_ngram_jaccard" -> "anchored exact Jaccard truth; deployment twin dedup_minhash_lsh")
    val unknownTags = baselines.keySet -- SparkEntry.queries.keySet
    require(unknownTags.isEmpty, s"baseline tag names not in query set: $unknownTags")
    val allQs = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter(q => only.forall(_.contains(q._1)))
    val first = onePass(allQs)
    val samples = scala.collection.mutable.Map[String, Vector[Double]](
      first.map(r => r._1 -> Vector(r._2)): _*)
    // Re-run queries whose first pass cost >= 0.2 s (sub-0.2 s timings are
    // dominated by fixed planning overhead a second sample cannot de-noise),
    // plus ALWAYS every headline query (trend comparisons need the warm min
    // even if one drifts under the threshold) and every pass-1 failure (a
    // fast failure must get its retry, not keep a meaningless sample).
    val rerun = first.filter(r => r._2 >= 0.2 || headline(r._1) || !r._3).map(_._1).toSet
    // Headline queries take THREE samples and report the MEDIAN (round-10
    // verdict #6: the ±2× box band forced per-round adjudication of
    // phantom regressions on unchanged code — a min-of-2 still lets one
    // lucky sample swing the trend, the median of 3 doesn't). Everything
    // else keeps min-of-`passes`. passes=1 stays a genuine single-pass
    // probe (no hidden extra work under an explicit quick-run request).
    val lastPass = if (passes <= 1) 1 else math.max(passes, 3)
    for (p <- 2 to lastPass if rerun.nonEmpty) {
      val names = if (p <= passes) rerun else rerun.intersect(headline)
      if (names.nonEmpty)
        onePass(allQs.filter(q => names(q._1)))
          .foreach(r => samples(r._1) = samples(r._1) :+ r._2)
    }
    def summarize(name: String, ss: Vector[Double]): Double =
      if (headline(name) && ss.size >= 3) ss.sorted.apply(ss.size / 2)
      else ss.min
    val results = first.map(r => r._1 -> summarize(r._1, samples(r._1)))
    // Double.toString, not %f: the f-interpolator is locale-sensitive (a
    // comma decimal separator would corrupt the JSON under some locales)
    def ms3(v: Double): String = (math.round(v * 1000) / 1000.0).toString
    def fmt(pairs: Seq[(String, Double)]): String =
      pairs.map { case (k, v) => "\"" + k + "\":" + ms3(v) }.mkString("{", ",", "}")
    // Full per-query detail → stderr (and a sidecar file for PLANS/SCALE
    // analysis); stdout gets ONE compact JSON line. The driver parses the
    // last ~2000 chars of stdout, so the line is capped to the headline
    // subset — the full dict for 80+ queries would overflow the window and
    // come back unparseable (the round-1/2 "parsed: null" failure).
    System.err.println(s"[bench-full] ${fmt(results)}")
    val tagJson = baselines.toSeq.sorted
      .map { case (k, v) => "\"" + k + "\":\"" + v + "\"" }.mkString("{", ",", "}")
    // per-headline raw samples → the sidecar, so a regression call can
    // cite the spread, not just the median
    val sampJson = results.filter(r => headline(r._1)).map { case (k, _) =>
      "\"" + k + "\":[" + samples(k).map(ms3).mkString(",") + "]"
    }.mkString("{", ",", "}")
    // label derives from the ACTUAL sample count (round-11 advice): with
    // passes=1 the headline values are single cold samples, and with
    // passes>3 the median is over `passes` samples — the sidecar must not
    // misstate the statistic consumers compare rounds on
    val headlineStat = if (passes <= 1) "single_pass" else s"median_of_$lastPass"
    try java.nio.file.Files.writeString(
      java.nio.file.Paths.get("bench_full.json"),
      s"""{"sf":"$sfDir","headline_stat":"$headlineStat","calib_sec":${ms3(calibSec)},"calib_io_sec":${ms3(calibIoSec)},"baseline_tags":$tagJson,"headline_samples":$sampJson,"queries":${fmt(results)}}""")
    catch { case _: Throwable => () }
    // a renamed/removed headline query must fail loudly, not silently drop
    // out of the stdout JSON the driver parses
    val missing = headline -- results.map(_._1).toSet
    require(only.nonEmpty || missing.isEmpty,
      s"bench headline names not in query set: $missing")
    val qs = fmt(results.filter(r => headline(r._1)))
    val total = results.map(_._2).sum
    val line = s"""{"metric":"total","value":${ms3(total)},"unit":"sec","n_queries":${results.size},"passes":$passes,"calib_sec":${ms3(calibSec)},"calib_io_sec":${ms3(calibIoSec)},"queries":$qs,"sf":"$sfDir"}"""
    // the driver parses the last ~2000 stdout chars; an overgrown headline
    // set must fail the build here, not silently come back parsed:null
    require(line.length <= 2000, s"bench stdout line ${line.length} chars > 2000")
    println(line)
    spark.stop()
  }
}
