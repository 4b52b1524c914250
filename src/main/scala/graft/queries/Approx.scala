package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.Tables
import graft.expr.{CmsEstimate, Native}

/** Approximate aggregates — the 100 TB replacements for exact operators
  * whose state doesn't fit: HyperLogLog++ for COUNT(DISTINCT) (constant
  * memory vs the expand-based exact path) and quantile sketches for
  * percentiles (single pass, mergeable).
  *
  * Sketch results are implementation-defined, so they cannot be hashed
  * against DuckDB directly. Instead each query emits a TOLERANCE-CHECKED
  * contract the oracle can verify exactly:
  *   - the exact answer (computed alongside, fine at oracle scale), and
  *   - a boolean asserting the sketch landed within its error bound.
  * The oracle recomputes the exact columns and pins the boolean to TRUE —
  * a sketch drifting out of tolerance flips the hash red. At 100 TB only
  * the sketch path runs; the exact twin is the verification harness.
  */
object Approx {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // HLL++ with rsd=0.02; contract: within ±5% of the exact distinct count.
    "approx_distinct_hll" -> ((s, dir) => {
      Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          approx_count_distinct(col("user_id"), 0.02).as("approx_users"),
          countDistinct(col("user_id")).as("exact_users"),
          count(lit(1)).as("n_events"))
        .select(col("event_type"), col("exact_users"), col("n_events"),
          (abs(col("approx_users").cast(DoubleType) - col("exact_users")) <=
            col("exact_users") * 0.05).as("hll_within_5pct"))
    }),

    // Greenwald-Khanna sketch (accuracy 10000); exact percentiles via the
    // interpolating `percentile`, matching DuckDB's quantile_cont. Scalar
    // p50/p95/p99 columns — an array column breaks the driver's hasher.
    "approx_percentiles" -> ((s, dir) => {
      val pctArr = percentile(col("l_extendedprice"),
        array(lit(0.5), lit(0.95), lit(0.99)))
      val approxArr = percentile_approx(col("l_extendedprice"),
        array(lit(0.5), lit(0.95), lit(0.99)), lit(10000))
      Tables.lineitem(s, dir)
        .groupBy(col("l_returnflag"))
        .agg(pctArr.as("exact"), approxArr.as("approx"), count(lit(1)).as("n"))
        .select(col("l_returnflag"), col("n"),
          round(element_at(col("exact"), 1), 4).as("p50"),
          round(element_at(col("exact"), 2), 4).as("p95"),
          round(element_at(col("exact"), 3), 4).as("p99"),
          // sketch contract: each approx quantile within 1% relative error
          (abs(element_at(col("approx"), 1) - element_at(col("exact"), 1)) <= element_at(col("exact"), 1) * 0.01 &&
           abs(element_at(col("approx"), 2) - element_at(col("exact"), 2)) <= element_at(col("exact"), 2) * 0.01 &&
           abs(element_at(col("approx"), 3) - element_at(col("exact"), 3)) <= element_at(col("exact"), 3) * 0.01)
            .as("approx_within_1pct"))
    }),

    // Heavy hitters via a Count-Min Sketch prefilter + exact verify — the
    // frequent-items pattern when per-key exact state doesn't fit: the CMS
    // is one pass, a few MB at ANY key cardinality, and mergeable across
    // executors (stat.countMinSketch merges partition sketches on the
    // driver — the same artifact shape as the bloom sketch). Its error is
    // ONE-SIDED (estimate ≥ true count), so keys the sketch puts under the
    // threshold are DEFINITIVELY light and never aggregate; candidates
    // (true heavy hitters + an ε·N estimation sliver) take an exact
    // broadcast-semi-join count, so exact per-key state is O(candidates),
    // not O(keys). The output depends only on exact counts — sketch noise
    // can widen the candidate set, never flip a result row. Heavy keys are
    // PLANTED (skew_salted_agg's trick: half the traffic collapses onto
    // user_id % 2) because the generator's user traffic is uniform; the
    // threshold derives from the corpus (2× the mean per-key count, a
    // broadcast 1-row scalar, never a driver constant — sized so the
    // planted keys clear it and the uniform tail cannot even at the
    // 15-user sf0.001 fixture, where hot/mean bottoms out at ~3.75).
    // NULL keys are excluded up front (the events convention everywhere
    // else in this repo): cms_estimate(NULL) is null so a NULL group could
    // never clear the candidate filter on the Spark side, while a SQL
    // GROUP BY would retain it — filtering both twins keeps the gate
    // null-robust instead of fixture-dependent.
    "approx_heavy_hitters" -> ((s, dir) => {
      val keyed = Tables.events(s, dir)
        .filter(col("user_id").isNotNull)
        .select(
        when(col("event_id") % 2 === 0, col("user_id") % 2)
          .otherwise(col("user_id")).as("k"))
      val cms = keyed.stat.countMinSketch("k", eps = 0.001, confidence = 0.99, seed = 42)
      val sketch = lit(CmsEstimate.serialize(cms))
      val thr = keyed.agg(
        (count(lit(1)).cast(DoubleType) / countDistinct(col("k")) * 2.0d).as("hh_t"))
      val cand = keyed.distinct()
        .crossJoin(broadcast(thr))
        .filter(Native.cmsEstimate(sketch, col("k")).cast(DoubleType) >= col("hh_t"))
        .select(col("k"))
      keyed.join(broadcast(cand), Seq("k"), "left_semi")
        .groupBy(col("k"))
        .agg(count(lit(1)).as("n_events"))
        .crossJoin(broadcast(thr))
        .filter(col("n_events").cast(DoubleType) >= col("hh_t"))
        .select(col("k"), col("n_events"))
    })
  )

  def oracleSql: Map[String, String] = Map(
    "approx_distinct_hll" ->
      """SELECT event_type, count(DISTINCT user_id) AS exact_users,
        |  count(*) AS n_events, TRUE AS hll_within_5pct
        |FROM events GROUP BY event_type""".stripMargin,

    "approx_percentiles" ->
      """SELECT l_returnflag, count(*) AS n,
        |  round(quantile_cont(l_extendedprice, 0.5), 4) AS p50,
        |  round(quantile_cont(l_extendedprice, 0.95), 4) AS p95,
        |  round(quantile_cont(l_extendedprice, 0.99), 4) AS p99,
        |  TRUE AS approx_within_1pct
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    // the exact twin: same planted key collapse, same corpus-derived
    // threshold; the CMS prefilter is invisible to the result by
    // construction (one-sided error + exact verify)
    "approx_heavy_hitters" ->
      """WITH keyed AS (
        |  SELECT CASE WHEN event_id % 2 = 0 THEN user_id % 2
        |    ELSE user_id END AS k
        |  FROM events WHERE user_id IS NOT NULL),
        |t AS (
        |  SELECT CAST(count(*) AS DOUBLE) / count(DISTINCT k) * 2.0 AS hh_t
        |  FROM keyed)
        |SELECT k, count(*) AS n_events
        |FROM keyed, t
        |GROUP BY k, hh_t
        |HAVING CAST(count(*) AS DOUBLE) >= hh_t""".stripMargin
  )
}
