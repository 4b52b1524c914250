package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.functions.TextFns

/** Product-analytics and entity-resolution operators: funnel conversion,
  * cohort retention, statistical outlier QA, and fuzzy (edit-distance)
  * matching with blocking.
  *
  * Numeric discipline matches the rest of the engine: counting and sums are
  * exact (BIGINT / DECIMAL); doubles appear only at the output boundary, and
  * every double expression is spelled identically in the oracle so IEEE
  * round-to-nearest yields bit-equal results. Event timestamps compare at
  * micro precision on both engines (`Tables.events` truncates the NANOS
  * column; oracles truncate with `epoch_us`).
  */
object Analytics {

  private val Z_T = 3.0

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Funnel conversion — the ordered-stage analysis every product pipeline
    // runs: a user reaches stage k only via an event strictly AFTER their
    // stage-(k-1) entry time. Each stage is one filtered aggregate joined
    // back on user_id (small per-user tables, broadcastable at any scale);
    // the stage table at the end is 3 rows, so the global lag() window is a
    // constant, not a scale concern.
    "funnel_conversion" -> ((s, dir) => {
      val e = Tables.events(s, dir).filter(col("user_id").isNotNull)
        .select(col("user_id"), col("ts"), col("event_type"))
      // v and c each feed both the next stage's join and their own stage
      // count — persist the tiny per-user tables so the corpus scans once
      // per stage, not once per re-evaluation
      val v = ScratchCache.register(e.filter(col("event_type") === "view")
        .groupBy("user_id").agg(min("ts").as("t1")).persist())
      val c = ScratchCache.register(e.filter(col("event_type") === "click").join(v, "user_id")
        .filter(col("ts") > col("t1"))
        .groupBy("user_id").agg(min("ts").as("t2")).persist())
      val p = e.filter(col("event_type") === "purchase").join(c, "user_id")
        .filter(col("ts") > col("t2"))
        .groupBy("user_id").agg(min("ts").as("t3"))
      val stages = v.agg(count(lit(1)).as("n_users")).withColumn("stage", lit("1_view"))
        .unionByName(c.agg(count(lit(1)).as("n_users")).withColumn("stage", lit("2_click")))
        .unionByName(p.agg(count(lit(1)).as("n_users")).withColumn("stage", lit("3_purchase")))
      val w = Window.orderBy(col("stage"))
      stages.select(col("stage"), col("n_users"))
        .withColumn("conv_from_prev",
          round(col("n_users").cast(DoubleType) / lag(col("n_users"), 1).over(w), 6))
    }),

    // Weekly cohort retention: cohort = ISO week of a user's first event;
    // retention(k) = share of the cohort active k weeks later. Activity
    // first collapses to distinct (user, week) — the only corpus-sized
    // shuffle — and everything after runs on per-user / per-week tables.
    // Week arithmetic is integer seconds on Monday-truncated timestamps, so
    // both engines compute identical offsets.
    "cohort_retention" -> ((s, dir) => {
      val e = Tables.events(s, dir).filter(col("user_id").isNotNull)
        .select(col("user_id"), date_trunc("week", col("ts")).as("wk"))
      val firsts = e.groupBy("user_id").agg(min("wk").as("cohort_wk"))
      val sizes = firsts.groupBy("cohort_wk").agg(countDistinct("user_id").as("n_cohort"))
      e.distinct().join(firsts, "user_id")
        .withColumn("week_offset",
          ((unix_timestamp(col("wk")) - unix_timestamp(col("cohort_wk"))) / 604800)
            .cast(IntegerType))
        .groupBy("cohort_wk", "week_offset").agg(countDistinct("user_id").as("n_active"))
        .join(broadcast(sizes), "cohort_wk")
        .select(col("cohort_wk").cast(DateType).as("cohort_week"), col("week_offset"),
          col("n_cohort"), col("n_active"),
          round(col("n_active").cast(DoubleType) / col("n_cohort"), 6).as("retention"))
    }),

    // Statistical outlier QA: per-group z-scores from EXACT decimal moments.
    // sum(v) and sum(v²) accumulate as decimals (exact, order-independent),
    // so mean/variance/z derive from identical inputs on both engines —
    // never from float stddev_samp, whose result depends on row order. The
    // corpus value distribution is uniform (no natural |z|>3), so outliers
    // are planted deterministically (×20 value, +1e9 id), the same
    // planted-positives convention as the dedup/PII gates.
    "qa_outliers" -> ((s, dir) => {
      val base = Tables.events(s, dir)
        .select(col("event_id"), col("event_type"), col("value"))
      val aug = base.unionByName(
        base.filter(col("event_id") % 997 === 0)
          .select((col("event_id") + 1000000000L).as("event_id"), col("event_type"),
            (col("value") * 20).as("value")))
      val e = aug.select(col("event_id"), col("event_type"),
        col("value").cast(DecimalType(18, 2)).as("v"))
      val stats = e.groupBy("event_type").agg(
        count(lit(1)).as("n"),
        sum(col("v")).as("sv"),
        sum(col("v") * col("v")).as("sv2"))
      e.join(broadcast(stats), "event_type")
        .withColumn("mean", col("sv").cast(DoubleType) / col("n"))
        .withColumn("variance",
          (col("sv2").cast(DoubleType)
            - col("sv").cast(DoubleType) * col("sv").cast(DoubleType) / col("n"))
            / (col("n") - 1))
        .withColumn("z", (col("v").cast(DoubleType) - col("mean")) / sqrt(col("variance")))
        .filter(abs(col("z")) > Z_T)
        .select(col("event_id"), col("event_type"),
          col("v").cast(DoubleType).as("value"), round(col("z"), 6).as("zscore"))
    }),

    // Time-series gap-fill + LOCF (last observation carried forward): daily
    // per-user activity re-gridded onto a dense per-user date spine, holes
    // filled from the most recent prior observation. Gaps are punched
    // deterministically ((user_id + day-of-month) % 5) so the fill always
    // has real work — the corpus is dense at every sf. Daily sums
    // accumulate as exact decimals (order-independent); the spine is
    // per-user `sequence(min_day, max_day)` — rows expand only to each
    // user's own span, and the LOCF window partitions by user, so at scale
    // no single partition ever holds more than one key's spine.
    "ts_gapfill_locf" -> ((s, dir) => {
      val e = Tables.events(s, dir).filter(col("user_id").isNotNull)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          col("value").cast(DecimalType(18, 2)).as("v"))
      val daily = e.groupBy("user_id", "day").agg(sum("v").as("v_day"))
        .filter((col("user_id") + dayofmonth(col("day"))) % 5 =!= 0)
      val spans = daily.groupBy("user_id").agg(min("day").as("d0"), max("day").as("d1"))
      val spine = spans.select(col("user_id"),
        explode(sequence(col("d0"), col("d1"))).as("day"))
      val w = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
      spine.join(daily, Seq("user_id", "day"), "left")
        .withColumn("v_filled", last(col("v_day"), ignoreNulls = true).over(w))
        .select(col("user_id"), col("day"),
          col("v_day").cast(DoubleType).as("daily_value"),
          col("v_filled").cast(DoubleType).as("filled_value"),
          col("v_day").isNull.as("is_gap"))
    }),

    // Rolling 7-day average per user — the time-based sliding aggregate
    // (RANGE frame over integer day numbers, not ROWS: gaps in activity
    // must shrink the window's contents, not slide past them). Sums
    // accumulate as exact decimals inside the frame; the average divides
    // two exact values at the output boundary. Same scale shape as the
    // other per-user windows: the corpus collapses to (user, day) first,
    // and the window partitions by user.
    "ts_rolling_7d" -> ((s, dir) => {
      val e = Tables.events(s, dir).filter(col("user_id").isNotNull)
        .select(col("user_id"), to_date(col("ts")).as("day"),
          col("value").cast(DecimalType(18, 2)).as("v"))
      val daily = e.groupBy("user_id", "day").agg(sum("v").as("v_day"))
        .withColumn("day_num", datediff(col("day"), lit("2024-01-01").cast(DateType)))
      val w = Window.partitionBy("user_id").orderBy(col("day_num"))
        .rangeBetween(-6, 0)
      daily
        .withColumn("sum_7d", sum(col("v_day")).over(w))
        .withColumn("days_7d", count(lit(1)).over(w))
        .select(col("user_id"), col("day"),
          col("v_day").cast(DoubleType).as("daily_value"),
          round(col("sum_7d").cast(DoubleType) / col("days_7d"), 6).as("avg_7d"),
          col("days_7d"))
    }),

    // Event-path mining: the corpus's most frequent 3-step event sequences
    // (per-user lead/lead² over the total (ts, event_id) order, counted
    // globally, top-10). The global ranking window runs over the ≤|types|³
    // aggregate (125 rows), never the corpus — the same collapse-then-rank
    // shape as the rest of the analytics family.
    "path_trigrams" -> ((s, dir) => {
      val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
      val tri = Tables.events(s, dir).filter(col("user_id").isNotNull)
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("s2", lead(col("event_type"), 1).over(w))
        .withColumn("s3", lead(col("event_type"), 2).over(w))
        .filter(col("s3").isNotNull)
        .groupBy(col("event_type").as("s1"), col("s2"), col("s3"))
        .agg(count(lit(1)).as("n"))
      val rankW = Window.orderBy(col("n").desc, col("s1").asc, col("s2").asc, col("s3").asc)
      tri.withColumn("rank", row_number().over(rankW))
        .filter(col("rank") <= 10)
        .select(col("rank"), col("s1"), col("s2"), col("s3"), col("n"))
    }),

    // The full entity-resolution ending: cluster the dirty ∪ clean name
    // universe into ENTITIES — multi-key q-gram-blocked levenshtein pairs
    // closed into components (checked fixpoint), canonical record =
    // lexicographic min per cluster. This is er_fuzzy_match's downstream
    // half, the exact analogue of dedup_components for documents.
    //
    // Round 10 (5M-name probe): the closure runs on 60-bit hashed node
    // ids, not the name strings. Var-length ~20-char keys in every
    // components aggregation buffer and edge shuffle cost ~4× the bytes
    // of a long and drop HashAggregate off the UnsafeRow fixed-width
    // fast path — at 10M nodes the label-init aggregation exhausted the
    // execution pool (BytesToBytesMap could not acquire a page). Hashed
    // ids are the dedup_span_removal binary-key discipline; the min-hash
    // label is only a cluster HANDLE — the canonical entity_id is
    // recomputed as min(name) per cluster afterwards, so the output is
    // byte-identical to string-node propagation (min-label over an
    // injective relabeling induces the same partition of nodes). A 60-bit
    // collision (~n²/2⁶¹, ~4·10⁻⁵ at 10M names) would merge two clusters —
    // so injectivity is ENFORCED, not assumed (round-10 advice: an oracle
    // gate catches it on fixtures, but a production run has no oracle):
    // a memoized fail-fast countDistinct(name) == countDistinct(nid)
    // aggregate at construction throws before any wrong output is
    // producible. A deployment tripping it at 10⁹+ names widens the
    // handle to the 128-bit binary md5, trading the fixed-width fast
    // path for headroom.
    "er_entity_clusters" -> ((s0, dir) => {
      // blocking width AND exchange width both derive from the universe
      // size; the count is memoized per (parent session, dir) so the three
      // ER queries share one count job — see [[erQ]] / [[erSession]]
      val nBound = 2L * Preconditions.longOnce(s0, s"rowcount:part_names:$dir")(
        Tables.part(s0, dir).select(col("p_name").as("name")).distinct().count())
      val s = erSession(s0, nBound)
      val clean = Tables.part(s, dir).select(col("p_name").as("name")).distinct()
      val dirty = clean.select(
        concat(substring(col("name"), 1, 1), expr("substring(name, 3)")).as("name"))
      val all = clean.unionByName(dirty).distinct()
      Preconditions.once(s0, s"er_entity_clusters:hash-injective:$dir") {
        val r = all.agg(
          countDistinct(col("name")).as("names"),
          countDistinct(TextFns.md5Hash60(col("name"))).as("handles")).first()
        require(r.getLong(0) == r.getLong(1),
          s"er_entity_clusters: 60-bit node handles collide on this corpus " +
            s"(${r.getLong(0)} names -> ${r.getLong(1)} handles); widen to the 128-bit md5")
      }
      // blocking width derives from the same universe bound (round 12 —
      // see [[erQ]]; 2·|clean| bounds |clean ∪ dirty|); the SAME
      // derivation runs in the DuckDB twin
      val q = erQ(nBound)
      // pairs arrive lev-verified from the shared candidate build (round
      // 10: the verify moved inside, ahead of the cross-key dedup — see
      // [[erCandidatePairs]])
      val nid = TextFns.md5Hash60(col("name"))
      val pairs = erCandidatePairs(all, q)
        .select(TextFns.md5Hash60(col("i")).as("i"),
          TextFns.md5Hash60(col("j")).as("j"))
      val labels = graft.operators.Components.connectedComponents(pairs)
      val named = all.select(col("name"), nid.as("nid"))
        .join(labels.select(col("node").as("nid"), col("label")), Seq("nid"), "left")
      val canon = named.filter(col("label").isNotNull)
        .groupBy(col("label")).agg(min(col("name")).as("canon"))
      named.join(canon, Seq("label"), "left")
        .select(col("name"), coalesce(col("canon"), col("name")).as("entity_id"))
        .withColumn("is_canonical", col("name") === col("entity_id"))
    }),

    // Fuzzy entity resolution with production blocking: a dirty name table
    // (the part vocabulary with a deterministic typo — 2nd character
    // deleted) resolves against the clean vocabulary via a MULTI-KEY
    // positional-q-gram candidate join (prefix / mid / suffix grams whose
    // width derives from the universe size — [[erQ]]; q=4 at every gate
    // sf), levenshtein-verified, argmin per dirty record. The cross
    // space is never materialized; overly-frequent blocks are purged at
    // ErBlockCap so per-block pair volume is O(cap²) regardless of key
    // skew; the levenshtein verify runs INSIDE the block-join codegen
    // stage and only the lev ≤ 2 SURVIVORS are deduped across keys
    // (verify-then-dedup, round 10: the Σbn² candidate volume never
    // reaches a shuffle — O(true matches) rows through the distinct, vs
    // the dedup-first shape that OOMed at 5M names). A pair sharing
    // several keys is scored once per key inside codegen (cheap) and
    // emitted once. Recall: an edit distance ≤ 2 perturbs at most two of
    // the three disjoint key regions, so at least one key survives any
    // single edit — strictly better than single-prefix blocking: the
    // multi-pass ER shape, ordered block → purge → verify → dedupe.
    "er_fuzzy_match" -> ((s0, dir) => {
      val nBound = 2L * Preconditions.longOnce(s0, s"rowcount:part_names:$dir")(
        Tables.part(s0, dir).select(col("p_name").as("name")).distinct().count())
      val s = erSession(s0, nBound)
      val clean = Tables.part(s, dir).select(col("p_name").as("name")).distinct()
      val dirty = clean.select(
        concat(substring(col("name"), 1, 1), expr("substring(name, 3)")).as("dirty_name"))
      // width derives from the universe size (round 12, [[erQ]]): the
      // 20M-name probe measured the fixed q=4 key space saturating —
      // suffix-block count pinned at 26⁴ while kept pair volume grew 16×
      // on 4× data; the derived width keeps mean block size O(1)
      val q = erQ(nBound)
      val dk = erKeyed(dirty, "dirty_name", q)
      val ck = erKeyed(clean, "name", q)
      val kept = dk.select("blk").unionAll(ck.select("blk"))
        .groupBy("blk").agg(count(lit(1)).as("bn"))
        .filter(col("bn") <= ErBlockCap).select("blk")
      // verify-then-dedup (round 10, the [[erCandidatePairs]] inversion):
      // the length prune and levenshtein run INSIDE the block-join codegen
      // stage, so the Σbn² candidate volume never reaches a shuffle; the
      // distinct dedupes only the lev ≤ 2 survivors across keys
      val cands = dk.join(kept, Seq("blk")).join(ck.join(kept, Seq("blk")), Seq("blk"))
        .select(col("dirty_name"), col("name"))
        .filter(abs(length(col("dirty_name")) - length(col("name"))) <= 2)
        // threshold-banded levenshtein (round 11): the 3-arg form computes
        // only the |i−j| ≤ 2 diagonal band and early-exits to -1 past the
        // threshold — O(k·n) per pair instead of the full O(n²) matrix,
        // ~12× fewer cells on ~25-char names, same distance for survivors
        .withColumn("lev", levenshtein(col("dirty_name"), col("name"), 2))
        .filter(col("lev") >= 0)
        .distinct()
      val w = Window.partitionBy(col("dirty_name")).orderBy(col("lev").asc, col("name").asc)
      cands.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("dirty_name"), col("name").as("matched_name"), col("lev"))
    }),

    // MULTI-PASS sorted-neighborhood ER — the backstop the q-gram
    // blocking's purge caveat names (see ErBlockCap): sort the name
    // universe under COMPLEMENTARY keys, compare each record only to its
    // SnmWindow successors per order, union the passes. SNM recall is
    // governed by sort-key design, not compute — each pass's key must put
    // its expected error class near itself: the REVERSED key (suffix-first)
    // sorts a leading-edit pair (fixture class 1: 2nd-char deletion)
    // adjacent but scatters a trailing edit behind every name sharing its
    // last letter; the FORWARD key does exactly the opposite (catches
    // fixture class 2: last-char deletion, misses the leading edit); the
    // PHONETIC key (consonant skeleton, [[phoneticKey]]) clusters
    // vowel-level noise that hits BOTH ends at once (fixture class 3:
    // vowel substitutions at position 2 AND the last character — the
    // forward order scatters on the early edit, the reversed order on the
    // late one, but the skeleton is vowel-invariant so the pair sorts
    // adjacent). The union covers all three error classes at 3·O(n·W)
    // candidates with NO per-key skew exposure (window size is constant by
    // construction, not a function of key frequency). Pairs are normalized
    // to i < j before the cross-pass dedup so a pair found by several
    // orders counts once.
    "er_sorted_neighborhood" -> ((s0, dir) => {
      // exchange width derives from the universe size — [[erSession]]; the
      // bucket join's two corpus-scale exchanges and the rank window
      // otherwise run at the session's shuffle-partition count
      val s = erSession(s0, 2L * Preconditions.longOnce(s0, s"rowcount:part_names:$dir")(
        Tables.part(s0, dir).select(col("p_name").as("name")).distinct().count()))
      val clean = Tables.part(s, dir).select(col("p_name").as("name")).distinct()
      val dirty2nd = clean.select(
        concat(substring(col("name"), 1, 1), expr("substring(name, 3)")).as("name"))
      val dirtyLast = clean.select(
        expr("substring(name, 1, length(name) - 1)").as("name"))
      val dirtyVowel = clean
        .filter(length(col("name")) >= 4 &&
          substring(col("name"), 2, 1).isin("a", "e", "i", "o", "u") &&
          expr("substring(name, length(name), 1)").isin("a", "e", "i", "o", "u"))
        .select(concat(
          substring(col("name"), 1, 1),
          translate(substring(col("name"), 2, 1), "aeiou", "uoaie"),
          expr("substring(name, 3, length(name) - 3)"),
          translate(expr("substring(name, length(name), 1)"), "aeiou", "uoaie"))
          .as("name"))
      // the universe is consumed by THREE rank passes plus the partition-
      // count derivation: persist once (ScratchCache: drained after the
      // terminal action) and count it — the count materializes the cache,
      // so the passes read a built table instead of re-running the
      // union+distinct chain per pass
      val univ = ScratchCache.register(
        clean.unionByName(dirty2nd).unionByName(dirtyLast)
          .unionByName(dirtyVowel).distinct().persist())
      val nUniv = univ.count()
      // verify-then-dedup (round 11 — the same inversion that fixed
      // er_fuzzy_match at 5M names): every pass emits Θ(n·W) rank-window
      // candidates, and routing them through least/greatest + distinct
      // BEFORE the levenshtein verify shuffled the full candidate volume
      // (~3·W·n rows — 285M at 5M names) to keep pairs the verify was
      // about to discard anyway. The length prune and levenshtein now run
      // INSIDE each pass's bucket-join codegen stage, so only lev ≤ 2
      // SURVIVORS — O(true matches) — reach the cross-pass dedup. The
      // output set is identical: the lev filter commutes with the dedup
      // (lev is symmetric and per-pair deterministic), so the oracle twin
      // — which spells dedup-then-filter — is unchanged.
      def verified(pass: DataFrame): DataFrame = pass
        .filter(abs(length(col("i")) - length(col("j"))) <= 2)
        // banded 3-arg levenshtein: O(k·n) band + early exit, -1 past the
        // threshold (same survivor distances as the full matrix)
        .withColumn("lev", levenshtein(col("i"), col("j"), 2))
        .filter(col("lev") >= 0)
      verified(snmPairs(univ, reverse(col("name")), nUniv))
        .unionByName(verified(snmPairs(univ, col("name"), nUniv)))
        .unionByName(verified(snmPairs(univ,
          concat(phoneticKey(col("name")), lit("|"), col("name")), nUniv)))
        .select(least(col("i"), col("j")).as("i"),
          greatest(col("i"), col("j")).as("j"), col("lev"))
        .distinct()
    })
  )

  /** Consonant-skeleton phonetic sort key: first character (uppercased)
    * plus the remaining consonants with vowels/Y/H/W and non-letters
    * stripped — the soundex drop-set without the digit coding, so the key
    * stays a plain string both engines compute with one regexp_replace
    * (no backreferences: DuckDB's RE2 has none). NOT injective by design
    * (that is the clustering); callers append `"|" + name` to restore the
    * total order [[snmPairs]] requires while keeping equal-skeleton names
    * adjacent.
    */
  private[queries] def phoneticKey(c: Column): Column =
    concat(upper(c.substr(lit(1), lit(1))),
      regexp_replace(upper(c.substr(lit(2), length(c))),
        "[AEIOUYHW]|[^A-Z]", ""))

  /** One sorted-neighborhood pass: all pairs at rank distance ≤
    * [[SnmWindow]] in the total order induced by `sk` (which must be
    * injective over `univ` — reverse() and identity both are on distinct
    * names — so the order is total and the rank deterministic), as (i, j)
    * in rank order.
    *
    * Scale shape, piece by piece: the global rank is the two-phase
    * distributed form — range-partition by the sort key, row_number WITHIN
    * each partition, then add broadcast per-partition offsets (the
    * per-rank value is the position in the total order, so it is
    * independent of where the sampled range boundaries fall). The range
    * width DERIVES from the universe size (round-10 verdict: a fixed 8-way
    * split meant 8 tasks each sorting n/8 names — a parallelism ceiling at
    * 100×): per-partition row volume stays ≈[[Widths.SHARD_PART_ROWS]]
    * while the offsets table — one row per partition, a single-task window
    * and a broadcast — stays ≤[[Widths.LEVEL2_CAP]] rows; 8 floors tiny
    * universes at the previous behavior. Honest
    * adjudication (round-11 A/B at 5M names, SCALE.md): 8-way and 80-way
    * measure EQUAL on this box — the ceiling does not bind at 5M/local[32]
    * because the sort is ~10 s of a ~115 s query whose long pole is the
    * Θ(n·W) levenshtein verify — so the derived count is 100× insurance
    * (bounded per-task volume when tasks ≫ cores), not a measured 5M win.
    * The rank values, and hence the output, are invariant to the
    * partition count (pinned in DerivedRangeSpec). The
    * neighbor join is an EQUI-join on rank buckets of width SnmWindow:
    * each record joins its own bucket and (as the right side) the one
    * below, which covers every pair at rank distance ≤ W exactly once —
    * never a theta-join, never a window wider than W.
    *
    * `nUniv` is the universe row count; pass it when the caller already
    * knows it (er_sorted_neighborhood counts its persisted universe once
    * for three passes), or let the default count here — one cheap
    * aggregate job, the Bloom-capacity `.first()` discipline.
    */
  private[queries] def snmPairs(univ: DataFrame, sk: Column,
      nUniv: Long = -1L): DataFrame = {
    val n = if (nUniv >= 0L) nUniv else univ.count()
    val parted = univ.withColumn("sk", sk)
      .repartitionByRange(Widths.parts(n, Widths.SHARD_PART_ROWS, 8L, Widths.LEVEL2_CAP),
        col("sk"))
      .withColumn("pid", spark_partition_id())
      .withColumn("pr",
        row_number().over(Window.partitionBy(col("pid")).orderBy(col("sk"))))
    val offsets = parted.groupBy(col("pid")).agg(count(lit(1)).as("cnt"))
      .withColumn("off",
        coalesce(sum(col("cnt")).over(Window.orderBy(col("pid"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("pid"), col("off"))
    val ranked = parted.join(broadcast(offsets), Seq("pid"))
      .select(col("name"), (col("pr") + col("off")).as("r"))

    val wW = lit(SnmWindow.toLong)
    val left = ranked.select(col("name").as("i"), col("r").as("ri"),
      ((col("ri") - 1) / wW).cast("long").as("b"))
    val right = ranked.select(col("name").as("j"), col("r").as("rj"),
      ((col("r") - 1) / wW).cast("long").as("bj"))
      // bucket width = window width, so a pair at distance ≤ W spans at
      // most adjacent buckets: membership in {bj, bj−1} covers it once
      .select(col("j"), col("rj"),
        explode(array(col("bj"), col("bj") - 1)).as("b"))
    left.join(right, Seq("b"))
      .filter(col("rj") > col("ri") && col("rj") - col("ri") <= wW)
      .select(col("i"), col("j"))
  }

  /** Per-block size cap for ER blocking (block purging): any q-gram key
    * shared by more than this many records is uninformative — joining
    * through it costs O(block²) pairs for near-zero precision — so the
    * whole block is dropped before the candidate join. At 100 TB this is
    * the lever that bounds worst-case pair volume under key skew.
    *
    * Recall under the cap is REDUNDANCY-probabilistic, not guaranteed: a
    * pair is found iff at least one of its co-occurring keys survives the
    * purge. An edit can already perturb up to two of the three keys, so a
    * pair whose one surviving key lands in a purged hot block (e.g. a
    * vocabulary where >cap names share a suffix gram) is silently missed —
    * the standard blocking trade-off (purging ultra-frequent keys is
    * textbook ER practice). The production levers when measured recall
    * drops: raise the cap, add keys (more grams / phonetic codes — each
    * extra key is one more union branch in this same equi-join shape), or
    * sorted-neighborhood as a backstop pass. The fixture's planted-typo
    * recall spec holds because its vocabulary keeps every block far below
    * the cap; it pins the no-purge contract, not purge-time recall.
    */
  val ErBlockCap = 1000L

  /** Sorted-neighborhood window: each record is compared to this many
    * successors in name sort order. Constant per record regardless of key
    * frequency — the property that makes SNM the skew-immune backstop to
    * q-gram blocking (a hot block costs the blocked path O(block²) or a
    * purge; it costs SNM exactly W comparisons per member).
    */
  val SnmWindow = 5

  /** Blocking q-gram WIDTH derived from the name-universe size (round 12 —
    * the last member of the fixed-constant class, found by the 20M-name
    * probe): a positional q-gram key ranges over at most 26^q values, so a
    * fixed q=4 saturates its 456,976-key space once the universe outgrows
    * it — block count stops growing, mean block size grows ∝ n, and the
    * kept candidate volume grows ∝ n²/26^q (measured on the 20M fixture:
    * suffix-block count pinned at 456,977 at BOTH 5M and 20M names, mean
    * size 21.8 → 87.4, kept pair volume 2.2×10⁸ → 3.5×10⁹ = 16× on 4×
    * data, er_fuzzy_match wall 10.4× on 4×). Deriving the width keeps the
    * key space ahead of the corpus: the smallest q ≥ 4 with 26^q ≥ n, so
    * mean block size stays O(1) and candidate volume stays O(true matches
    * + n·skew). Integer thresholds (26^4..26^8), not a log formula — the
    * DuckDB twins replay the same cascade and a float boundary could
    * disagree between engines. The floor q=4 keeps every gate-sf output
    * byte-identical (the derivation only engages past 456,976 names).
    * Past 26^8 ≈ 2.1×10¹¹ names the cascade pins q=8 — at that scale the
    * next lever is composite keys (gram × length bucket), not more width.
    *
    * The recall contract scales with q: the three regions are disjoint on
    * names ≥ 3q chars, so an edit perturbs at most two of the three keys.
    * A corpus whose names are SHORTER than 3q at a q>4 tier loses the
    * disjointness guarantee — exactly the regime the SNM backstop pass
    * (skew- and width-immune, rank-window-based) exists to cover.
    *
    * Call sites pass 2·|clean| as a cheap UPPER BOUND on |clean ∪ dirty|
    * (the dirty side is a 1:1 derivation of clean, so the true universe is
    * in (|clean|, 2·|clean|]). Within a factor of 2 of a cascade boundary
    * the bound can therefore select a width one tier WIDER than the true
    * universe requires — a deliberate trade: both engines derive from the
    * same bound so outputs always agree, the wider tier only SHRINKS
    * candidate volume, and the cost is the 3q-char disjointness guarantee
    * engaging one tier early for short names (the regime the SNM backstop
    * covers anyway). Memoizing the exact distinct-universe count would buy
    * back that sliver at one extra count job per (session, dir).
    */
  private[queries] def erQ(nUniv: Long): Int =
    if (nUniv <= 456976L) 4 // 26^4
    else if (nUniv <= 11881376L) 5 // 26^5
    else if (nUniv <= 308915776L) 6 // 26^6
    else if (nUniv <= 8031810176L) 7 // 26^7
    else 8 // 26^8

  /** Isolated child session whose shuffle-partition count derives from the
    * name-universe size — the [[StreamGate.streamSession]] /
    * [[Ivf.buildWidth]] discipline applied to the ER chain's
    * corpus-scale exchanges. The keyed explode ships 3 rows per name
    * ([[erKeyed]]), so the width is [[Widths.widen]] over nUniv · 3 ·
    * [[Widths.ER_KEYED_ROW_BYTES]] bytes at one 64 MB advisory partition
    * each. The 10⁸-name tier (round-15 item #4's OOM: the groupBy("blk")
    * hash aggregate holds ~600 MB of state per task at 32 partitions
    * against a ~450 MB execution share) gets ~550 right-sized tasks
    * instead. Outputs are partition-count invariant — the same argument as
    * DerivedRangeSpec's rank pinning: only exchange widths change, never
    * what flows through them.
    */
  private[queries] def erSession(s: SparkSession, nUniv: Long): SparkSession =
    Widths.widen(s, nUniv * 3L * Widths.ER_KEYED_ROW_BYTES, Widths.ADVISORY_BYTES)
      .map(Widths.childSession(s, _)).getOrElse(s)

  /** Multi-key positional q-gram blocking: each name emits three q-gram
    * keys — prefix (P), middle (M), suffix (S) — tagged so identical grams
    * at different positions stay distinct blocks. The width q derives from
    * the universe size at the call site ([[erQ]]); at the q=4 floor the
    * three formulas are byte-identical to the historical fixed-width form
    * (mid start floor(len/2) − (q/2 − 1) = floor(len/2) − 1). For edit
    * distance ≤ 2 the three regions are disjoint on any name ≥ 3q chars
    * (and near-disjoint below), so an edit can perturb at most two of them
    * and the pair still co-occurs in the surviving key's block — PROVIDED
    * that surviving key's block is not itself purged at [[ErBlockCap]]
    * (see the recall caveat there). Every formula is spelled identically
    * in the DuckDB oracles (floor-division midpoint, greatest(1,
    * length−(q−1))-guarded suffix so sub-q-char names cannot hit
    * engine-specific negative-start substring semantics, and the same
    * integer threshold cascade for q itself) so the candidate sets match
    * bit-for-bit.
    */
  private[queries] def erKeyed(df: DataFrame, nameCol: String, q: Int): DataFrame =
    df.select(col(nameCol).as("n"))
      .withColumn("blk", explode(array(
        concat(lit("P:"), expr(s"substring(n, 1, $q)")),
        concat(lit("M:"), expr(
          s"substring(n, greatest(1, cast(floor(length(n)/2) as int) - ${q / 2 - 1}), $q)")),
        concat(lit("S:"), expr(s"substring(n, greatest(1, length(n) - ${q - 1}), $q)")))))
      .select(col("n").as(nameCol), col("blk")).distinct()

  /** Blocked, purged, levenshtein-VERIFIED unordered pairs (i < j, lev ≤ 2)
    * over one name universe — the self-join half of the ER family.
    *
    * Round-10 inversion, from the 5M-name probe: the original shape
    * deduped candidates across keys BEFORE the verify ("so a pair sharing
    * all three keys is scored once") — but that routes the full per-block
    * candidate volume (Σ_kept bn², ~10¹⁰ rows of string pairs with every
    * block at the cap) through a hash-aggregate shuffle, which exhausted
    * execution memory at 5M names (BytesToBytesMap could not acquire its
    * initial page under 32-way concurrency) — while the work it saves is
    * ≤ 3× of a codegen levenshtein on ~15-char strings. Verify-then-dedup
    * keeps the candidate volume inside one codegen stage (join → length
    * prune → levenshtein → filter; the same inline-scoring discipline as
    * the ANN probe join) and the only shuffled dedup runs over the lev ≤ 2
    * SURVIVORS — O(true matches), corpus-independent. A pair sharing
    * several keys is scored up to 3×, in-stream, for free compared to one
    * shuffle row. Output is identical (distinct commutes with the
    * symmetric per-pair filters); the length prune is implied by lev ≤ 2
    * (||i|−|j|| ≤ lev), so it only spares edit-distance evaluations.
    */
  private[queries] def erCandidatePairs(univ: DataFrame, q: Int): DataFrame = {
    val keyed = erKeyed(univ, "name", q)
    val kept = keyed.groupBy("blk").agg(count(lit(1)).as("bn"))
      .filter(col("bn") <= ErBlockCap).select("blk")
    keyed.join(kept, Seq("blk"))
      .select(col("blk"), col("name").as("i"))
      .join(keyed.join(kept, Seq("blk")).select(col("blk"), col("name").as("j")), Seq("blk"))
      .filter(col("i") < col("j"))
      .filter(abs(length(col("i")) - length(col("j"))) <= 2)
      // banded 3-arg levenshtein: -1 past the threshold (round 11)
      .filter(levenshtein(col("i"), col("j"), 2) >= 0)
      .select(col("i"), col("j")).distinct()
  }

  def oracleSql: Map[String, String] = Map(
    "funnel_conversion" ->
      """WITH e AS (
        |  SELECT user_id, make_timestamp(epoch_us(ts)) AS ts, event_type
        |  FROM events WHERE user_id IS NOT NULL),
        |v AS (SELECT user_id, min(ts) AS t1 FROM e WHERE event_type = 'view' GROUP BY user_id),
        |c AS (
        |  SELECT e.user_id, min(e.ts) AS t2
        |  FROM e JOIN v ON e.user_id = v.user_id
        |  WHERE e.event_type = 'click' AND e.ts > v.t1
        |  GROUP BY e.user_id),
        |p AS (
        |  SELECT e.user_id, min(e.ts) AS t3
        |  FROM e JOIN c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > c.t2
        |  GROUP BY e.user_id),
        |stages AS (
        |  SELECT '1_view' AS stage, (SELECT count(*) FROM v) AS n_users
        |  UNION ALL
        |  SELECT '2_click', (SELECT count(*) FROM c)
        |  UNION ALL
        |  SELECT '3_purchase', (SELECT count(*) FROM p))
        |SELECT stage, n_users,
        |  round(CAST(n_users AS DOUBLE) / lag(n_users, 1) OVER (ORDER BY stage), 6)
        |    AS conv_from_prev
        |FROM stages""".stripMargin,

    "cohort_retention" ->
      """WITH e AS (
        |  SELECT user_id, date_trunc('week', ts) AS wk
        |  FROM events WHERE user_id IS NOT NULL),
        |f AS (SELECT user_id, min(wk) AS cohort_wk FROM e GROUP BY user_id),
        |sizes AS (SELECT cohort_wk, count(DISTINCT user_id) AS n_cohort FROM f GROUP BY cohort_wk),
        |act AS (SELECT DISTINCT user_id, wk FROM e),
        |r AS (
        |  SELECT f.cohort_wk,
        |    CAST(date_diff('week', f.cohort_wk, a.wk) AS INTEGER) AS week_offset,
        |    count(DISTINCT a.user_id) AS n_active
        |  FROM act a JOIN f ON a.user_id = f.user_id
        |  GROUP BY 1, 2)
        |SELECT CAST(r.cohort_wk AS DATE) AS cohort_week, r.week_offset,
        |  sizes.n_cohort, r.n_active,
        |  round(CAST(r.n_active AS DOUBLE) / sizes.n_cohort, 6) AS retention
        |FROM r JOIN sizes ON r.cohort_wk = sizes.cohort_wk""".stripMargin,

    "qa_outliers" ->
      s"""WITH aug AS (
         |  SELECT event_id, event_type, value FROM events
         |  UNION ALL
         |  SELECT event_id + 1000000000, event_type, value * 20
         |  FROM events WHERE event_id % 997 = 0),
         |e AS (
         |  SELECT event_id, event_type, CAST(value AS DECIMAL(18,2)) AS v FROM aug),
         |stats AS (
         |  SELECT event_type, count(*) AS n, sum(v) AS sv, sum(v * v) AS sv2
         |  FROM e GROUP BY event_type),
         |z AS (
         |  SELECT e.event_id, e.event_type, e.v,
         |    (CAST(e.v AS DOUBLE) - CAST(sv AS DOUBLE) / n)
         |      / sqrt((CAST(sv2 AS DOUBLE) - CAST(sv AS DOUBLE) * CAST(sv AS DOUBLE) / n)
         |             / (n - 1)) AS z
         |  FROM e JOIN stats ON e.event_type = stats.event_type)
         |SELECT event_id, event_type, CAST(v AS DOUBLE) AS value,
         |  round(z, 6) AS zscore
         |FROM z WHERE abs(z) > $Z_T""".stripMargin,

    "ts_gapfill_locf" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events WHERE user_id IS NOT NULL),
        |daily AS (
        |  SELECT user_id, day, sum(v) AS v_day FROM e GROUP BY 1, 2),
        |punched AS (
        |  SELECT * FROM daily WHERE (user_id + day(day)) % 5 <> 0),
        |spans AS (
        |  SELECT user_id, min(day) AS d0, max(day) AS d1 FROM punched GROUP BY 1),
        |spine AS (
        |  SELECT user_id, CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
        |    CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
        |  FROM spans),
        |j AS (
        |  SELECT s.user_id, s.day, p.v_day
        |  FROM spine s LEFT JOIN punched p
        |    ON s.user_id = p.user_id AND s.day = p.day)
        |SELECT user_id, day, CAST(v_day AS DOUBLE) AS daily_value,
        |  CAST(last_value(v_day IGNORE NULLS) OVER (
        |    PARTITION BY user_id ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
        |    AS filled_value,
        |  v_day IS NULL AS is_gap
        |FROM j""".stripMargin,

    "ts_rolling_7d" ->
      """WITH e AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day,
        |    CAST(value AS DECIMAL(18,2)) AS v
        |  FROM events WHERE user_id IS NOT NULL),
        |daily AS (
        |  SELECT user_id, day, sum(v) AS v_day,
        |    date_diff('day', DATE '2024-01-01', day) AS day_num
        |  FROM e GROUP BY 1, 2)
        |SELECT user_id, day, CAST(v_day AS DOUBLE) AS daily_value,
        |  round(CAST(sum(v_day) OVER w AS DOUBLE) / count(*) OVER w, 6) AS avg_7d,
        |  count(*) OVER w AS days_7d
        |FROM daily
        |WINDOW w AS (PARTITION BY user_id ORDER BY day_num
        |  RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""".stripMargin,

    "path_trigrams" ->
      """WITH e AS (
        |  SELECT user_id, make_timestamp(epoch_us(ts)) AS ts, event_id, event_type
        |  FROM events WHERE user_id IS NOT NULL),
        |tri AS (
        |  SELECT event_type AS s1,
        |    lead(event_type, 1) OVER w AS s2,
        |    lead(event_type, 2) OVER w AS s3
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
        |counted AS (
        |  SELECT s1, s2, s3, count(*) AS n FROM tri
        |  WHERE s3 IS NOT NULL GROUP BY 1, 2, 3)
        |SELECT rank, s1, s2, s3, n FROM (
        |  SELECT *, CAST(row_number() OVER (
        |    ORDER BY n DESC, s1 ASC, s2 ASC, s3 ASC) AS INTEGER) AS rank
        |  FROM counted)
        |WHERE rank <= 10""".stripMargin,

    // recursive closure over the same q-gram-blocked fuzzy pair set (P/M/S
    // keys, block purge, cross-key dedupe — formulas mirror erKeyed
    // exactly); string node ids compare lexicographically on both engines
    "er_entity_clusters" ->
      s"""WITH RECURSIVE clean AS (SELECT DISTINCT p_name AS name FROM part),
        |dirty AS (
        |  SELECT substr(name, 1, 1) || substr(name, 3) AS name FROM clean),
        |univ AS (SELECT DISTINCT name FROM (
        |  SELECT name FROM clean UNION ALL SELECT name FROM dirty)),
        |cnt AS (SELECT count(*) AS n FROM clean),
        |qv AS (SELECT min(q) AS q FROM (VALUES (4, 456976), (5, 11881376),
        |  (6, 308915776), (7, 8031810176), (8, 208827064576),
        |  (8, 9223372036854775807)) AS t(q, cap), cnt
        |  WHERE t.cap >= 2 * cnt.n),
        |keyed AS (SELECT DISTINCT name, blk FROM (
        |  SELECT name, 'P:' || substr(name, 1, qv.q) AS blk FROM univ, qv
        |  UNION ALL
        |  SELECT name, 'M:' || substr(name,
        |    greatest(1, CAST(floor(length(name) / 2) AS INT) - (qv.q // 2 - 1)), qv.q)
        |  FROM univ, qv
        |  UNION ALL
        |  SELECT name, 'S:' || substr(name, greatest(1, length(name) - (qv.q - 1)), qv.q)
        |  FROM univ, qv)),
        |kept AS (SELECT blk FROM keyed GROUP BY blk HAVING count(*) <= $ErBlockCap),
        |cand AS (
        |  SELECT DISTINCT a.name AS i, b.name AS j
        |  FROM keyed a JOIN kept ka ON a.blk = ka.blk
        |  JOIN keyed b ON b.blk = a.blk
        |  WHERE a.name < b.name),
        |pairs AS (
        |  SELECT i, j FROM cand WHERE levenshtein(i, j) <= 2),
        |edges AS (
        |  SELECT i, j FROM pairs
        |  UNION ALL
        |  SELECT j AS i, i AS j FROM pairs),
        |reach(x, y) AS (
        |  SELECT i AS x, j AS y FROM edges
        |  UNION
        |  SELECT r.x, e2.j AS y FROM reach r JOIN edges e2 ON r.y = e2.i),
        |comp AS (
        |  SELECT x AS name, least(x, min(y)) AS entity_id
        |  FROM reach GROUP BY x)
        |SELECT u.name, coalesce(c.entity_id, u.name) AS entity_id,
        |  u.name = coalesce(c.entity_id, u.name) AS is_canonical
        |FROM univ u LEFT JOIN comp c ON u.name = c.name""".stripMargin,

    "er_fuzzy_match" ->
      s"""WITH clean AS (SELECT DISTINCT p_name AS name FROM part),
        |dirty AS (
        |  SELECT substr(name, 1, 1) || substr(name, 3) AS dirty_name FROM clean),
        |cnt AS (SELECT count(*) AS n FROM clean),
        |qv AS (SELECT min(q) AS q FROM (VALUES (4, 456976), (5, 11881376),
        |  (6, 308915776), (7, 8031810176), (8, 208827064576),
        |  (8, 9223372036854775807)) AS t(q, cap), cnt
        |  WHERE t.cap >= 2 * cnt.n),
        |dk AS (SELECT DISTINCT dirty_name, blk FROM (
        |  SELECT dirty_name, 'P:' || substr(dirty_name, 1, qv.q) AS blk FROM dirty, qv
        |  UNION ALL
        |  SELECT dirty_name, 'M:' || substr(dirty_name,
        |    greatest(1, CAST(floor(length(dirty_name) / 2) AS INT) - (qv.q // 2 - 1)), qv.q)
        |  FROM dirty, qv
        |  UNION ALL
        |  SELECT dirty_name,
        |    'S:' || substr(dirty_name, greatest(1, length(dirty_name) - (qv.q - 1)), qv.q)
        |  FROM dirty, qv)),
        |ck AS (SELECT DISTINCT name, blk FROM (
        |  SELECT name, 'P:' || substr(name, 1, qv.q) AS blk FROM clean, qv
        |  UNION ALL
        |  SELECT name, 'M:' || substr(name,
        |    greatest(1, CAST(floor(length(name) / 2) AS INT) - (qv.q // 2 - 1)), qv.q)
        |  FROM clean, qv
        |  UNION ALL
        |  SELECT name, 'S:' || substr(name, greatest(1, length(name) - (qv.q - 1)), qv.q)
        |  FROM clean, qv)),
        |kept AS (SELECT blk FROM (
        |  SELECT blk FROM dk UNION ALL SELECT blk FROM ck)
        |  GROUP BY blk HAVING count(*) <= $ErBlockCap),
        |cand AS (
        |  SELECT DISTINCT d.dirty_name, c.name
        |  FROM dk d JOIN kept k ON d.blk = k.blk JOIN ck c ON c.blk = d.blk),
        |cands AS (
        |  SELECT dirty_name, name, levenshtein(dirty_name, name) AS lev
        |  FROM cand WHERE levenshtein(dirty_name, name) <= 2)
        |SELECT dirty_name, name AS matched_name, lev FROM (
        |  SELECT dirty_name, name, lev, row_number() OVER (
        |    PARTITION BY dirty_name ORDER BY lev ASC, name ASC) AS rn
        |  FROM cands)
        |WHERE rn = 1""".stripMargin,

    // the oracle spells the DEFINITION (all pairs at rank distance ≤ W in
    // each pass's total name order, unioned across passes); the Spark side
    // must reproduce it through the two-phase rank + bucket equi-join
    "er_sorted_neighborhood" ->
      s"""WITH clean AS (SELECT DISTINCT p_name AS name FROM part),
         |dirty2 AS (
         |  SELECT substr(name, 1, 1) || substr(name, 3) AS name FROM clean),
         |dirtyl AS (
         |  SELECT substr(name, 1, length(name) - 1) AS name FROM clean),
         |dirtyv AS (
         |  SELECT substr(name, 1, 1)
         |      || translate(substr(name, 2, 1), 'aeiou', 'uoaie')
         |      || substr(name, 3, length(name) - 3)
         |      || translate(substr(name, length(name), 1), 'aeiou', 'uoaie')
         |      AS name
         |  FROM clean
         |  WHERE length(name) >= 4
         |    AND substr(name, 2, 1) IN ('a','e','i','o','u')
         |    AND substr(name, length(name), 1) IN ('a','e','i','o','u')),
         |univ AS (SELECT DISTINCT name FROM (
         |  SELECT name FROM clean UNION ALL SELECT name FROM dirty2
         |  UNION ALL SELECT name FROM dirtyl
         |  UNION ALL SELECT name FROM dirtyv)),
         |rrev AS (SELECT name, row_number() OVER (ORDER BY reverse(name)) AS r FROM univ),
         |rfwd AS (SELECT name, row_number() OVER (ORDER BY name) AS r FROM univ),
         |rpho AS (SELECT name, row_number() OVER (ORDER BY
         |  upper(substr(name, 1, 1))
         |    || regexp_replace(upper(substr(name, 2)), '[AEIOUYHW]|[^A-Z]', '', 'g')
         |    || '|' || name) AS r FROM univ),
         |pairs AS (
         |  SELECT least(a.name, b.name) AS i, greatest(a.name, b.name) AS j
         |  FROM rrev a JOIN rrev b ON b.r > a.r AND b.r - a.r <= $SnmWindow
         |  UNION
         |  SELECT least(a.name, b.name), greatest(a.name, b.name)
         |  FROM rfwd a JOIN rfwd b ON b.r > a.r AND b.r - a.r <= $SnmWindow
         |  UNION
         |  SELECT least(a.name, b.name), greatest(a.name, b.name)
         |  FROM rpho a JOIN rpho b ON b.r > a.r AND b.r - a.r <= $SnmWindow)
         |SELECT i, j, levenshtein(i, j) AS lev
         |FROM pairs WHERE levenshtein(i, j) <= 2""".stripMargin
  )
}
