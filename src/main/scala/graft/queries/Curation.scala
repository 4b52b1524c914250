package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.expr.Native
import graft.functions.TextFns

/** Training-data curation operators: deterministic stratified sampling,
  * train/test decontamination, TF-IDF keyword extraction.
  *
  * Sampling uses content hashing, not RNG: a row is in the sample iff
  * md5(key) mod 1000 < rate·1000. That makes samples reproducible across
  * runs/engines/cluster layouts and stable under re-partitioning — the only
  * sampling discipline that survives a 100 TB pipeline re-run.
  */
object Curation {

  private val strataRates: Map[String, Int] = Map(   // per-mille keep rates
    "en" -> 500, "de" -> 300, "es" -> 300, "fr" -> 300, "zh" -> 200)

  private val DOMAIN_CAP = 10

  /** Sizing rule for the decontamination bloom sketch: the next power of
    * two at or above 2× the measured eval-catalog count, floored at 2¹².
    * The 2× headroom keeps realized fpp at or below the 1% design point
    * even if the catalog grows between sizing and build; the floor keeps
    * tiny fixtures from degenerating to a handful of bits. Derived from
    * the eval set itself (round-6 advice: the same derived-from-data
    * discipline as IVF k), never a constant. Exceeding capacity anyway
    * degrades fpp (more verify-join input), never correctness (a bloom
    * has no false negatives at any load factor) — spec-pinned by the
    * overloaded-sketch invariant in CurationInvariantSpec.
    */
  private[queries] def bloomCapacityFor(nEval: Long): Long = {
    val target = math.max(1L << 12, nEval * 2)
    java.lang.Long.highestOneBit(target - 1) << 1
  }

  /** Token budget per training shard (`curation_shard_export`). A
    * corpus-independent CONSTANT by design — training shards are sized to
    * the consumer (sequence length × batch), not to the corpus; the shard
    * COUNT is what scales with data.
    */
  private[queries] val SHARD_TOKENS = 4096L

  /** DuckDB CTE chain shared by the two shard-export twins: tokenize +
    * permutation hash → global running token total → start-offset shard
    * id → per-shard ordinal (terminal CTE `shard`).
    */
  private lazy val shardCtes: String =
    s"""t AS (
       |  SELECT doc_id,
       |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
       |    ${TextFns.md5Hash60Sql("concat('shard:', doc_id)")} % 1000000 AS hs
       |  FROM documents),
       |c AS (
       |  SELECT doc_id, n_tokens, hs,
       |    CAST(sum(n_tokens) OVER (ORDER BY hs, doc_id ROWS UNBOUNDED PRECEDING)
       |      AS BIGINT) AS cum_tokens
       |  FROM t),
       |shard AS (
       |  SELECT doc_id, n_tokens, cum_tokens, shard_id,
       |    CAST(row_number() OVER (PARTITION BY shard_id ORDER BY hs, doc_id)
       |      AS INTEGER) AS ordinal
       |  FROM (
       |    SELECT doc_id, n_tokens, cum_tokens, hs,
       |      (cum_tokens - n_tokens) // $SHARD_TOKENS AS shard_id
       |    FROM c))""".stripMargin

  /** The deterministic shard-export chain shared by the oracle-gated
    * query and the `s19_shard_layout` sink gate: content-hash permutation
    * → two-level prefix-sum running token total → start-offset shard id →
    * per-shard ordinal. See the `curation_shard_export` comment for the
    * composition story.
    */
  private def shardExport(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("doc_id"),
        size(TextFns.rawTokens(col("text"))).cast(LongType).as("n_tokens"))
      .withColumn("hs",
        TextFns.md5Hash60(concat(lit("shard:"), col("doc_id"))) % 1000000L)
    // The hash-range part count DERIVES from the corpus (round-10 verdict:
    // a fixed 16-way split meant n/16 rows through each per-part window
    // task — a hard parallelism ceiling that makes this stage the long
    // pole at 100×), planned as a literal from the memoized documents
    // count; the OUTPUT is invariant to the part count (cum_tokens is the
    // global prefix sum under the same (hs, doc_id) total order for any
    // split).
    // persisted: the tiny (id, n_tokens, hs, part) table feeds the local
    // cumsums AND the per-part offsets — one tokenize pass, not two (the
    // curation_token_budget discipline)
    val docs = ScratchCache.register(base
      // part boundaries are monotone in hs (hs·np/10⁶ is nondecreasing in
      // hs; equal hs → equal part), so the per-part sorts compose into
      // the global (hs, doc_id) order at ANY part count
      .withColumn("part",
        floor(col("hs") * lit(shardPartCount(docCount(s, dir))) / lit(1000000.0d)))
      .persist())
    val wIn = Window.partitionBy(col("part")).orderBy(col("hs"), col("doc_id"))
    val local = docs.withColumn("cum_local", sum(col("n_tokens")).over(wIn))
    // per-part offsets: a ≤SHARD_PART_CAP-row aggregate windowed over
    // itself, broadcast
    val wParts = Window.orderBy(col("part"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = docs.groupBy(col("part")).agg(sum(col("n_tokens")).as("pt"))
      .withColumn("part_offset", coalesce(sum(col("pt")).over(wParts), lit(0L)))
      .select(col("part"), col("part_offset"))
    val wShard = Window.partitionBy(col("shard_id")).orderBy(col("hs"), col("doc_id"))
    local.join(broadcast(offsets), Seq("part"))
      .withColumn("cum_tokens", col("cum_local") + col("part_offset"))
      // start-offset assignment: the shard the doc's FIRST token falls in;
      // exact under double (token totals ≪ 2^53 at any realistic corpus)
      .withColumn("shard_id",
        floor((col("cum_tokens") - col("n_tokens")) / lit(SHARD_TOKENS)))
      .withColumn("ordinal", row_number().over(wShard).cast(IntegerType))
      .select(col("doc_id"), col("n_tokens"), col("cum_tokens"),
        col("shard_id"), col("ordinal"))
  }

  /** The bloom-prefilter + exact-verify sandwich behind
    * `decontaminate_bloom`, parameterized by sketch capacity so the
    * invariant spec can overload the sketch (capacity far below the load)
    * and prove the kept set is UNCHANGED: a bloom has no false negatives,
    * so every definite-keep row is truly clean at any load factor, and the
    * md5 verify join retires every false positive the degraded fpp admits.
    * Sketch build: distributed aggregation over the eval side's 64-bit
    * fingerprints, driver merge, broadcast back as a ~constant literal.
    */
  private[queries] def bloomSandwich(corpus: DataFrame,
      evalSet: DataFrame, capacity: Long): DataFrame = {
    val bf = evalSet.select(xxhash64(col("text")).as("fp"))
      .stat.bloomFilter("fp", capacity, 0.01)
    val bloomLit = lit(graft.expr.BloomMightContain.serialize(bf))
    val flagged = corpus.select(col("doc_id"), md5(col("text")).as("fp"),
      Native.bloomMightContain(bloomLit, xxhash64(col("text"))).as("maybe"))
    val definiteKeep = flagged.filter(!col("maybe")).select(col("doc_id"))
    val verifiedKeep = flagged.filter(col("maybe"))
      .join(evalSet.select(md5(col("text")).as("fp")), Seq("fp"), "left_anti")
      .select(col("doc_id"))
    definiteKeep.unionByName(verifiedKeep)
  }

  // ---- curation_c4_pipeline thresholds -----------------------------------
  // Chosen against the corpus distributions (sf0.001–0.1): quality p10≈0.57 /
  // median≈0.75; dup_token_frac median≈0.54 / p90≈0.68; top_bigram_frac
  // median≈0.033 / p90≈0.067 — each gate drops a real, non-degenerate slice.
  // All three compare against 6-dp-rounded metrics whose cross-engine
  // equality is already hash-proven by their individual gates, so the
  // comparisons can never straddle an engine difference.
  /** pack_sequences range size for an n-doc corpus: √n balances both
    * prefix-sum levels; the n/LEVEL2_CAP term keeps the level-2 offset
    * table under [[Widths.LEVEL2_CAP]] rows once √n would exceed it; 100
    * floors tiny corpora.
    */
  private[queries] def packRangeSize(nDocs: Long): Long =
    Seq(100L, math.ceil(math.sqrt(nDocs.toDouble)).toLong,
      (nDocs + Widths.LEVEL2_CAP - 1) / Widths.LEVEL2_CAP).max

  /** Hash-range part count for shardExport's two-level prefix sum over an
    * n-doc corpus (round-10 verdict: the fixed 16 capped parallelism).
    * hs is md5-uniform over the 10⁶ hash space, so part sizes concentrate
    * around n/parts. 16 floors tiny corpora at the previous behavior. Past
    * n ≈ LEVEL2_CAP·SHARD_PART_ROWS (2×10¹⁰ docs) per-part volume grows
    * under the cap, where a third prefix-sum level would take over.
    */
  private[queries] def shardPartCount(nDocs: Long): Long =
    Widths.parts(nDocs, Widths.SHARD_PART_ROWS, 16L, Widths.LEVEL2_CAP).toLong

  /** Memoized documents row count — one count job per (session, corpus)
    * for the shard-export, s19 and pack_sequences splits; s15's writer
    * split reads the same memo key.
    */
  private def docCount(s: SparkSession, dir: String): Long =
    Preconditions.longOnce(s, s"rowcount:documents:$dir")(Tables.documents(s, dir).count())

  private val QUALITY_T = 0.65
  private val DUP_T = 0.62
  private val BG_T = 0.055

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Stratified deterministic sampling: per-language keep rates.
    "sample_stratified" -> ((s, dir) => {
      val bucket = TextFns.md5Hash60(concat(lit("sample:"), col("doc_id"))) % 1000
      val rate = strataRates.foldLeft(lit(0)) { case (acc, (lang, r)) =>
        when(col("lang") === lang, r).otherwise(acc)
      }
      Tables.documents(s, dir)
        .withColumn("bucket", bucket)
        .filter(col("bucket") < rate)
        .select(col("doc_id"), col("lang"), col("bucket"))
    }),

    // Per-domain cap (corpus balancing): keep at most DOMAIN_CAP docs per
    // source, priority = content-hash order — deterministic across
    // runs/engines/topology like all sampling here, no RNG.
    //
    // Two-phase EXACT top-k, never a full-corpus window on `source`: at
    // 100 TB the hot source is the classic skew partition, and even a
    // "window only over-cap sources" split would still full-sort that one
    // source on one task. Phase 1 ranks within (source, salt16) — the hot
    // source fans out 16 ways — and keeps ≤ cap per bucket; any row in the
    // true per-source top-cap is in its bucket's top-cap, so phase 2's
    // per-source window ranks ≤ 16·cap bounded survivors. Output is
    // row-identical to the naive single window (same oracle).
    "curation_domain_cap" -> ((s, dir) => {
      val order = Seq(md5(col("text")).asc, col("doc_id").asc)
      val w1 = Window.partitionBy(col("source"), col("salt")).orderBy(order: _*)
      val w2 = Window.partitionBy(col("source")).orderBy(order: _*)
      Tables.documents(s, dir)
        .withColumn("salt", TextFns.md5Hash60(col("text")) % 16)
        .withColumn("r1", row_number().over(w1))
        .filter(col("r1") <= DOMAIN_CAP)
        .withColumn("pick_rank", row_number().over(w2))
        .filter(col("pick_rank") <= DOMAIN_CAP)
        .select(col("doc_id"), col("source"), col("pick_rank"))
    }),

    // Quantile length filter (C4-style): keep documents whose length sits
    // inside the corpus's [p05, p95] band. The bounds are a 1-row exact-
    // percentile aggregate broadcast against the corpus — two passes over
    // n_chars, no driver-side action, and the filter predicate stays a
    // codegen'd comparison at any scale.
    "curation_length_filter" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // bounds rounded to 6 dp BEFORE the band comparison: Spark percentile()
      // and DuckDB quantile_cont() interpolate independently, and an
      // unrounded ULP difference at a boundary landing on an integer length
      // could flip a document's inclusion nondeterministically (round-4
      // advice). 6 dp is far below the 1-char resolution of n_chars.
      val bounds = docs.agg(
        round(expr("percentile(n_chars, 0.05)"), 6).as("p05"),
        round(expr("percentile(n_chars, 0.95)"), 6).as("p95"))
      docs.crossJoin(broadcast(bounds))
        .filter(col("n_chars") >= col("p05") && col("n_chars") <= col("p95"))
        .select(col("doc_id"), col("n_chars"), col("p05"), col("p95"))
    }),

    // Decontamination: remove from the corpus every document that is an
    // exact or near (Jaccard ≥ 0.7) duplicate of a held-out eval set —
    // here the eval set is doc_id % 50 == 0. Output: the kept corpus ids
    // with the reason the others were dropped available from the flags.
    "decontaminate" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val evalSet = docs.filter(col("doc_id") % 50 === 0)
      val corpus = docs.filter(col("doc_id") % 50 =!= 0)

      // Exact contamination = identical CONTENT (md5 of the raw text). The
      // order-insensitive canonical fingerprint is far too aggressive here:
      // on a small vocabulary most documents share the same distinct token
      // set and would be falsely removed (observed: 28/490 false positives).
      val fp = (d: DataFrame) => d.select(col("doc_id"), md5(col("text")).as("fp"))
      val exactHit = fp(corpus)
        .join(fp(evalSet).select(col("fp")), Seq("fp"), "left_semi")
        .select(col("doc_id"))

      // corpus shingles = the SHARED persisted shingle index filtered to the
      // corpus side (shingling a filtered corpus ≡ filtering the full
      // index): the dedup family maintains exactly one index per corpus
      val corpusSh = TextOps.sharedShingleIndex(s, dir)
        .filter(col("doc_id") % 50 =!= 0)
        .select(col("doc_id").as("i"), col("shingle"))
      val evalSh = evalSet
        .select(col("doc_id").as("j"), TextFns.rawTokens(col("text")).as("toks"))
        .select(col("j"), explode(TextFns.shingles3FromTokens(col("toks"))).as("shingle"))
      val sizes = (shd: DataFrame, idCol: String) =>
        shd.groupBy(col(idCol)).agg(count(lit(1)).as(s"n_$idCol"))
      // eval side is tiny (the held-out set) → broadcast both its shingle
      // index and its sizes; the corpus never shuffles for this join.
      val nearHit = corpusSh.join(broadcast(evalSh), Seq("shingle"))
        .groupBy(col("i"), col("j")).agg(count(lit(1)).as("c"))
        .join(sizes(corpusSh, "i"), Seq("i"))
        .join(broadcast(sizes(evalSh, "j")), Seq("j"))
        .filter(col("c").cast(DoubleType) / (col("n_i") + col("n_j") - col("c")) >= 0.7)
        .select(col("i").as("doc_id")).distinct()

      // the contaminated id list is bounded by (eval hits), tiny next to the
      // corpus — broadcast the anti-join so the corpus never shuffles here
      // either (without the hint this compiles to a corpus-wide SortMerge)
      val contaminated = exactHit.unionByName(nearHit).distinct()
      corpus.join(broadcast(contaminated), Seq("doc_id"), "left_anti")
        .select(col("doc_id"), col("lang"), col("source"))
    }),

    // Bloom-prefiltered exact decontamination — the membership pattern for
    // an eval list too large to hash-join: 10⁸ fingerprints is a multi-GB
    // broadcast relation but a ~100 MB bloom sketch at 1% fpp. Routing:
    // rows the sketch rejects are DEFINITIVELY clean (no false negatives)
    // and flow map-only — never joined, never shuffled; only the members +
    // the fpp sliver take the exact md5 verify join, so the join input is
    // O(contamination), not O(corpus). The gate proves the sandwich: a
    // false negative in the sketch (planted copy kept) or an unverified
    // false positive (clean doc dropped) both flip rows → hash mismatch.
    // Contamination positives are PLANTED the qa_outliers way (UNION ALL
    // of eval copies under shifted ids) because the corpus texts are
    // naturally distinct from the eval texts at every sf.
    "decontaminate_bloom" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val evalSet = docs.filter(col("doc_id") % 50 === 0)
      val corpus = docs.filter(col("doc_id") % 50 =!= 0)
        .select(col("doc_id"), col("text"))
        .unionByName(evalSet.filter(col("doc_id") % 100 === 0)
          .select((col("doc_id") + 1000000000L).as("doc_id"), col("text")))
      // Capacity derives from the eval catalog itself via bloomCapacityFor.
      // The sizing count is a 1-row aggregate ACTION over the eval side
      // only — never the corpus — and is inherent here: the sketch itself
      // is a driver-merged broadcast artifact (stat.bloomFilter is an
      // action whose bit-array size must be fixed before the build), so a
      // data-derived capacity cannot stay a Column the way IVF k does.
      val nEval = evalSet.agg(count(lit(1)).as("n")).first().getLong(0)
      bloomSandwich(corpus, evalSet, bloomCapacityFor(nEval))
    }),

    // Greedy boundary-aligned sequence packing into fixed context windows —
    // the training-shard assignment op. The global running token count is a
    // DISTRIBUTED prefix sum, not a single-partition window: per-range
    // partial cumsums in parallel, the ~n/B per-range totals get their own
    // (tiny) running offset, and a broadcast join recombines — exact
    // integer math, so it equals the oracle's naive global cumulative sum
    // while every big window stays partitioned.
    "curation_pack_sequences" -> ((s, dir) => {
      val ctx = 4096L
      val base = Tables.documents(s, dir)
        .select(col("doc_id"), size(TextFns.rawTokens(col("text"))).cast(LongType).as("n_tokens"))
      // Range size derives from the corpus (round-5 advice: a FIXED range
      // of 100 made the level-2 offset window n/100 rows through ONE task
      // — 10¹⁰ at a 10¹² corpus). √n balances the two levels (both O(√n))
      // up to ~10¹¹ docs; past that the n/LEVEL2_CAP term pins level-2 at
      // ≤ ~320k rows (≈ shuffle.partitions × 10k) and level-1 tasks grow
      // linearly instead — the point at which a third prefix-sum level
      // would take over. A literal from the memoized documents count; the
      // OUTPUT is invariant to the range choice (the prefix sum is exact
      // integer math under the same doc_id total order).
      val toks = base
        .withColumn("part", floor(col("doc_id") / lit(packRangeSize(docCount(s, dir)))))
      val wIn = Window.partitionBy(col("part")).orderBy(col("doc_id"))
      val withLocal = toks.withColumn("cum_local", sum(col("n_tokens")).over(wIn))
      val wParts = Window.orderBy(col("part"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = toks.groupBy(col("part")).agg(sum(col("n_tokens")).as("part_total"))
        .withColumn("part_offset", coalesce(sum(col("part_total")).over(wParts), lit(0L)))
        .select(col("part"), col("part_offset"))
      withLocal.join(broadcast(offsets), Seq("part"))
        .withColumn("cum_before", col("cum_local") + col("part_offset") - col("n_tokens"))
        .select(col("doc_id"), col("n_tokens"),
          floor(col("cum_before") / ctx).as("shard_id"),
          (col("cum_before") % ctx).as("offset_in_shard"))
    }),

    // Document chunking: fixed-size token windows (64 tokens, 16 overlap) —
    // the pre-training context-window split. Map-side only: per-doc window
    // starts come from sequence() + posexplode, the chunk text from a
    // slice/array_join over the token array; no shuffle at any scale, and
    // chunk identity (doc_id, chunk_id) is deterministic under re-runs.
    "curation_chunk_documents" -> ((s, dir) => {
      val C = 64; val step = C - 16
      val toks = Tables.documents(s, dir)
        .select(col("doc_id"), TextFns.rawTokens(col("text")).as("toks"))
        .withColumn("n", size(col("toks")))
      toks
        .select(col("doc_id"), col("toks"), col("n"),
          posexplode(sequence(lit(0), greatest(col("n") - 1, lit(0)), lit(step)))
            .as(Seq("chunk_id", "start")))
        .filter(col("start") < col("n"))
        .withColumn("n_tok", least(lit(C), col("n") - col("start")))
        .select(col("doc_id"), col("chunk_id"), col("start").as("start_tok"),
          col("n_tok"),
          array_join(slice(col("toks"), col("start") + 1, col("n_tok")), " ").as("chunk_text"))
    }),

    // End-to-end C4/Gopher curation gate: the composed production filter
    // chain — length band ∧ quality floor ∧ language agreement ∧ repetition
    // caps — emitting per-document flags plus the final keep decision, so
    // the filter pipeline a real 100-TB run would ship is itself under the
    // oracle. Every predicate is the SAME implementation as its individually
    // gated query (curation_length_filter bounds, TextOps.qualityScoreCol,
    // TextOps.langidPredCol, TextOps.repetitionStats) — composition, not
    // twins — and the oracle SQL CTE-wraps the same gated SQL strings.
    //
    // Plan shape: quality/langid flags are map-side expressions in one
    // projection; the length band joins a broadcast 1-row percentile
    // aggregate; only the repetition metrics need a shuffle (the shared
    // bigram aggregate), recombined by a single doc_id equi-join. No corpus
    // self-join, no full-corpus window, at any scale.
    "curation_c4_pipeline" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      val bounds = docs.agg(
        round(expr("percentile(n_chars, 0.05)"), 6).as("p05"),
        round(expr("percentile(n_chars, 0.95)"), 6).as("p95"))
      val rep = TextOps.repetitionStats(docs)
        .select(col("doc_id"), col("dup_token_frac"), col("top_bigram_frac"))
      docs
        .select(col("doc_id"), col("lang"), col("n_chars"),
          TextOps.qualityScoreCol.as("quality_score"),
          TextOps.langidPredCol.as("pred_lang"))
        .crossJoin(broadcast(bounds))
        .join(rep, Seq("doc_id"))
        .withColumn("len_ok", col("n_chars") >= col("p05") && col("n_chars") <= col("p95"))
        .withColumn("quality_ok", col("quality_score") >= QUALITY_T)
        .withColumn("lang_ok", col("pred_lang") === col("lang"))
        // null-safe: a <2-token doc has no bigram stats; it fails the gate
        .withColumn("rep_ok",
          coalesce(col("dup_token_frac") <= DUP_T && col("top_bigram_frac") <= BG_T, lit(false)))
        .select(col("doc_id"), col("len_ok"), col("quality_ok"), col("lang_ok"), col("rep_ok"),
          (col("len_ok") && col("quality_ok") && col("lang_ok") && col("rep_ok")).as("kept"))
    }),

    // Temperature-based source mixing (the LLM data-mixing step): over-
    // represented sources are downsampled toward uniform with temperature
    // T=2 (exponent 1/T = 0.5), under-represented sources keep everything —
    // per-source keep rate (per-mille) = min(1000, floor(1000 ·
    // sqrt(n_total / (n_sources · n_s)))). The fixture corpus is uniform
    // across sources, so a hot source is planted deterministically
    // (doc_id % 2 → 'src_hot' holds 50% of the corpus) the same way
    // text_pii_redact plants its positives. Selection is the shared
    // content-hash bucket — reproducible across runs/engines/topology, no
    // RNG. sqrt is IEEE-correctly-rounded in both engines, so the floor'd
    // rate can never straddle an engine difference.
    //
    // Scale shape: one tiny shuffle for the per-source counts, a broadcast
    // 1-row totals aggregate, the rate table broadcast back against the
    // corpus — the corpus itself never shuffles.
    "curation_source_mix" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("source",
          when(col("doc_id") % 2 === 0, lit("src_hot")).otherwise(col("source")))
      val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
      // totals from the per-source aggregate, not a second corpus scan;
      // count(source) — not count(*) — so a NULL-source group is excluded
      // exactly as the oracle's count(DISTINCT source) excludes it
      val totals = counts.agg(sum(col("n_s")).as("n_total"),
        count(col("source")).as("n_sources"))
      val rates = counts.crossJoin(broadcast(totals))
        .select(col("source"),
          least(lit(1000L), floor(lit(1000.0) *
            sqrt(col("n_total").cast(DoubleType) / (col("n_sources") * col("n_s")))))
            .as("rate"))
      docs
        .withColumn("bucket", TextFns.md5Hash60(concat(lit("mix:"), col("doc_id"))) % 1000)
        .join(broadcast(rates), Seq("source"))
        .filter(col("bucket") < col("rate"))
        .select(col("doc_id"), col("source"), col("rate"), col("bucket"))
    }),

    // Deterministic train/validation/test split — the assignment every
    // training run needs to be reproducible and leakage-free. Same
    // content-hash discipline as the samplers: bucket = md5("split:"+id)
    // mod 1000, train <980 / validation <990 / test otherwise, so a
    // document's split never changes across runs, engines, or cluster
    // topology, and re-ingesting the corpus cannot migrate documents
    // between train and test (the silent eval-contamination failure mode).
    // Map-only — no shuffle, no RNG, trivially 100-TB-safe.
    "curation_split" -> ((s, dir) => {
      Tables.documents(s, dir)
        .withColumn("bucket",
          TextFns.md5Hash60(concat(lit("split:"), col("doc_id"))) % 1000)
        .withColumn("split",
          when(col("bucket") < 980, "train")
            .when(col("bucket") < 990, "validation")
            .otherwise("test"))
        .select(col("doc_id"), col("bucket"), col("split"))
    }),

    // Temperature-mixing, UPSAMPLING side: a rare source's rate exceeds
    // 1000‰, so documents REPEAT — floor(rate/1000) full copies plus a
    // content-hash-selected remainder pass. This is the epoch/repeat-factor
    // half of source mixing (curation_source_mix is the downsampling half);
    // the explode multiplies only the rare source's rows, the rate table
    // broadcasts, and the corpus never shuffles.
    "curation_source_upsample" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
        .withColumn("source",
          when(col("doc_id") % 53 === 0, lit("src_rare")).otherwise(col("source")))
      val counts = docs.groupBy(col("source")).agg(count(lit(1)).as("n_s"))
      // corpus total and source count derive from the tiny per-source
      // aggregate — never a second full-corpus scan
      // count(source) over the per-source rows = count(DISTINCT source) in
      // the oracle — both exclude a NULL-source group, which count(*) would
      // not (same latent-NULL fix as curation_source_mix, round-5 advice)
      val totals = counts.agg(sum(col("n_s")).as("n_total"),
        count(col("source")).as("n_sources"))
      val rates = counts.crossJoin(broadcast(totals))
        .select(col("source"),
          floor(lit(1000.0) *
            sqrt(col("n_total").cast(DoubleType) / (col("n_sources") * col("n_s"))))
            .as("rate"))
      docs
        .withColumn("bucket", TextFns.md5Hash60(concat(lit("ups:"), col("doc_id"))) % 1000)
        .join(broadcast(rates), Seq("source"))
        .withColumn("n_copies",
          floor(col("rate") / 1000) +
            when(col("bucket") < col("rate") % 1000, 1L).otherwise(0L))
        .filter(col("n_copies") > 0)
        .select(col("doc_id"), col("source"), col("rate"),
          explode(sequence(lit(1L), col("n_copies"))).as("copy_idx"))
    }),

    // Token-budget selection: keep documents per source, in content-hash
    // priority order, until the source's token budget is exhausted — the
    // "give me N tokens from each source" primitive. The running total uses
    // the SAME two-level prefix sum as curation_pack_sequences, partitioned
    // by (source, hash-part): every sort is bounded to a 1/16 slice of one
    // source (no full-source window — the domain_cap lesson), and the
    // per-part offset table is tiny and broadcast.
    "curation_token_budget" -> ((s, dir) => {
      val budget = 800L
      // persisted: the tiny (id, source, n_tokens, bucket, part) table feeds
      // both the local cumsums and the per-part offsets — one read+tokenize
      // pass over the corpus, not two
      val docs = ScratchCache.register(Tables.documents(s, dir)
        .select(col("doc_id"), col("source"),
          size(TextFns.rawTokens(col("text"))).cast(LongType).as("n_tokens"))
        .withColumn("bucket", TextFns.md5Hash60(concat(lit("tb:"), col("doc_id"))) % 1000)
        .withColumn("part", floor(col("bucket") / 64))
        .persist())
      val wIn = Window.partitionBy(col("source"), col("part"))
        .orderBy(col("bucket"), col("doc_id"))
      val local = docs.withColumn("cum_local", sum(col("n_tokens")).over(wIn))
      val wParts = Window.partitionBy(col("source")).orderBy(col("part"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = docs.groupBy(col("source"), col("part"))
        .agg(sum(col("n_tokens")).as("pt"))
        .withColumn("part_offset", coalesce(sum(col("pt")).over(wParts), lit(0L)))
        .select(col("source"), col("part"), col("part_offset"))
      local.join(broadcast(offsets), Seq("source", "part"))
        .withColumn("cum_tokens", col("cum_local") + col("part_offset"))
        .filter(col("cum_tokens") <= budget)
        .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_tokens"))
    }),

    // Cluster-balanced diversity sampling: stratify the corpus by its
    // LEARNED embedding clusters (the plain-corpus two-level IVF
    // assignment, doc_id ≡ vec_id) and keep a deterministic per-cell
    // quota by content-hash order — the embedding-diversity subset
    // selection modern curation pipelines run after semantic dedup
    // (cluster-coverage sampling; `sample_stratified` is the same
    // discipline over LABEL strata). Guarantees every non-empty cluster
    // is represented (min(|cell|, Q) ≥ 1), where a uniform sample of the
    // same size would overdraw the big clusters. Scale shape: the
    // assignment is the shared cached O(n·√k·d) chain; the per-cell rank
    // windows over ~TARGET_CELL-row partitions (never a global sort) and
    // the rn ≤ Q predicate pushes into WindowGroupLimit map-side.
    "curation_cluster_sample" -> ((s, dir) => {
      val Q = 8
      val assign = Ivf.assignment(s, dir, Ivf.Plain, Ivf.TwoLevel)
        .select(col("vec_id").as("doc_id"), col("cell"))
      val w = Window.partitionBy(col("cell")).orderBy(col("hs"), col("doc_id"))
      Tables.documents(s, dir).select(col("doc_id"), col("source"))
        .join(assign, Seq("doc_id"))
        .withColumn("hs", TextFns.md5Hash60(concat(lit("cs:"), col("doc_id"))))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= Q)
        .select(col("doc_id"), col("source"), col("cell"),
          col("rn").cast(IntegerType).as("rank_in_cell"))
    }),

    // Deterministic training-batch export (round 10 — the last mile a
    // training run actually consumes): assign every document a (shard_id,
    // within-shard ordinal) that is a PURE FUNCTION of corpus content.
    // Composes three shipped disciplines: (1) the content-hash GLOBAL
    // permutation (`curation_split` — re-ingest-stable, engine-independent,
    // no RNG, so re-running the export on any cluster topology yields
    // byte-identical shards); (2) fixed-token-budget shard boundaries from
    // the running token total in hash order, computed with the
    // `curation_token_budget` two-level prefix sum — bounded per-part
    // sorts plus a tiny broadcast per-part offset table, never a
    // full-corpus window; (3) the within-shard ordinal from a per-shard
    // rank window (each shard holds ~SHARD_TOKENS tokens, so the window
    // partitions are bounded at ANY corpus size). A document belongs to
    // the shard its FIRST token falls in (start-offset assignment), so
    // shard token sums stay within one document of the budget —
    // CurationInvariantSpec pins the band and the ordinal density.
    "curation_shard_export" -> ((s, dir) => shardExport(s, dir)),

    // The export SINK half (the s11_sorted_layout discipline applied to
    // the training artifact): shard rows write range-partitioned and
    // sorted by (shard_id, ordinal), the read-back proves per-file key
    // zones are pairwise DISJOINT (what lets a trainer — or a resumed
    // export — map files to shard ranges without a manifest), and the
    // per-shard stats aggregate the RE-READ bytes with the s15 text
    // hashsum, so a lost or reordered document moves the hash gate.
    "s19_shard_layout" -> ((s, dir) => {
      val out = TempDirs.fresh("s19")
      // the writer split DERIVES from the corpus (round 11 — the same
      // class as the prefix-sum stages: a fixed repartitionByRange(4)
      // meant 4 writer tasks each sorting n/4 rows at any corpus size);
      // per-writer volume stays ≈SHARD_PART_ROWS, floored at the previous
      // 4 so gate-scale file counts are unchanged. The count job is
      // parquet-meta-only AND memoized per (session, dir) via
      // Preconditions.longOnce (round-11 verdict #4 — the fusion_rrf
      // memoization discipline; the corpus dir is immutable testdata, so
      // one count per session is the whole truth). The documents count IS
      // the written row count: shardExport assigns EVERY document exactly
      // one (shard_id, ordinal) — start-offset assignment is total over
      // the corpus — and the join back to documents is on that same key,
      // so the per-writer-volume target tracks the rows actually written
      // (totality pinned in QueryInvariantSpec's shard-export conservation
      // test: count == documents count, doc_ids distinct — round-11
      // advice #3).
      // files_ok below bounds the file count by the SAME derived value
      // (the oracle twin pins only the boolean, so the derivation is free
      // to scale).
      val writeParts = Widths.parts(docCount(s, dir), Widths.SHARD_PART_ROWS, 4L,
        Widths.LEVEL2_CAP)
      shardExport(s, dir)
        .join(Tables.documents(s, dir).select(col("doc_id"), col("text")), Seq("doc_id"))
        .repartitionByRange(writeParts, col("shard_id"), col("ordinal"))
        .sortWithinPartitions(col("shard_id"), col("ordinal"))
        .write.mode("overwrite").parquet(out)
      val back = s.read.parquet(out)
      // one long zone key per row: ordinal is a within-shard rank, far
      // under 2^20 at the ~SHARD_TOKENS cell population
      val key = col("shard_id") * lit(1048576L) + col("ordinal")
      val perFile = back.groupBy(input_file_name().as("f"))
        .agg(min(key).as("k_min"), max(key).as("k_max"))
      val w = Window.orderBy(col("k_min"))
      val layout = perFile.withColumn("prev_max", lag(col("k_max"), 1).over(w))
        .agg(count(lit(1)).between(1, writeParts).as("files_ok"),
          every(col("prev_max").isNull || col("prev_max") < col("k_min"))
            .as("ranges_disjoint"))
      back.groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("shard_tokens"),
          max(col("ordinal")).as("max_ordinal"),
          sum(TextFns.md5Hash60(col("text")) % 1000000007L).as("text_hashsum"))
        .crossJoin(broadcast(layout))
    }),

    // DSIR-style importance selection (Xie et al. 2023, "Data Selection
    // for Language Models via Importance Resampling"): score every
    // document by the log importance weight of its hashed n-gram features
    // under a TARGET-domain model vs the RAW-corpus model, keep the top
    // quota. The published trick IS the 100-TB story: unigram+bigram
    // features hash into D=4096 buckets, so both "models" are ≤D-row
    // aggregates — broadcastable at ANY corpus size — and "training" is
    // one count aggregation rooted on the per-doc term-frequency table
    // (exchange reuse: the tf shuffle feeds model AND scoring, the
    // lm-perplexity discipline). Target here = lang='en' docs; per-feature
    // log-ratio terms are DECIMAL-cast before the per-doc sum ((28,12) ×
    // (9,0) lands on (38,12) losslessly) so aggregation shape can't drift
    // the hash; keep = weight ≥ corpus p80 — a deterministic quota
    // stand-in for the paper's Gumbel-noise resampling.
    "curation_dsir_select" -> ((s, dir) => {
      val D = 4096
      val docs = Tables.documents(s, dir)
        .select(col("doc_id"), col("lang"), TextFns.rawTokens(col("text")).as("toks"))
      // features = unigrams ∪ adjacent bigrams, from the token array's
      // shifted zip — map-only, no window over the corpus token table
      val feats = docs
        .select(col("doc_id"), col("lang"), explode(concat(col("toks"), zip_with(
          slice(col("toks"), lit(1), greatest(size(col("toks")) - 1, lit(0))),
          slice(col("toks"), lit(2), greatest(size(col("toks")) - 1, lit(0))),
          (a, b) => concat_ws(" ", a, b)))).as("g"))
        .select(col("doc_id"), col("lang"),
          (TextFns.md5Hash60(col("g")) % D).as("fid"))
      val tf = feats.groupBy(col("doc_id"), col("lang"), col("fid"))
        .agg(count(lit(1)).as("tf"))
      val model = tf.groupBy(col("fid")).agg(
        sum(col("tf")).as("cr"),
        sum(when(col("lang") === "en", col("tf")).otherwise(lit(0L))).as("ct"))
      val totals = model.agg(sum(col("cr")).cast(DoubleType).as("nr"),
        sum(col("ct")).cast(DoubleType).as("nt"))
      val lmTbl = model.crossJoin(broadcast(totals))
        .withColumn("dl",
          (log((col("ct") + lit(1.0d)) / (col("nt") + lit(D.toDouble))) -
            log((col("cr") + lit(1.0d)) / (col("nr") + lit(D.toDouble))))
            .cast(DecimalType(28, 12)))
        .select(col("fid"), col("dl"))
      val scored = tf
        .join(broadcast(lmTbl), Seq("fid"))
        .groupBy(col("doc_id"))
        .agg(sum(col("dl") * col("tf").cast(DecimalType(9, 0))).as("wsum"))
        .withColumn("dsir_logweight", round(col("wsum").cast(DoubleType), 6))
      val thr = scored.agg(
        round(expr("percentile(dsir_logweight, 0.8)"), 6).as("p80"))
      scored.crossJoin(broadcast(thr))
        .select(col("doc_id"), col("dsir_logweight"),
          (col("dsir_logweight") >= col("p80")).as("keep"))
    }),

    // TF-IDF top-3 terms per document (keyword extraction). Scores rounded
    // to 6 dp; ordering ties broken by token text for determinism.
    "text_tfidf_terms" -> ((s, dir) => {
      val docs = Tables.documents(s, dir)
      // corpus size as a broadcast 1-row aggregate, not a driver-side
      // .count(): keeps the whole query lazy/declarative — no eager action
      // (and no second scan scheduling barrier) in the query path at 100 TB
      val nDocs = docs.agg(count(lit(1)).cast(DoubleType).as("n_docs"))
      // tf from the shared postings index (round 16) — one (doc, tok) row
      // per distinct pair, identical to the inline explode+groupBy
      val tf = sharedPostings(s, dir)
      val df = tf.groupBy(col("tok")).agg(countDistinct(col("doc_id")).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tfidf").desc, col("tok").asc)
      tf.join(df, Seq("tok"))
        .crossJoin(broadcast(nDocs))
        .withColumn("tfidf", round(col("tf") * log(col("n_docs") / col("df")), 6))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("doc_id"), col("rn").as("rank"), col("tok"), col("tfidf"))
    }),

    // BM25 top-k retrieval (Robertson/Sparck-Jones idf, k1=1.2, b=0.75) —
    // the lexical-retrieval half of quality-targeted curation: rank the
    // corpus against a query and keep/inspect the best matches. The query
    // is BY EXAMPLE (the distinct tokens of the anchor document, min
    // doc_id) so both engines derive it from the data. Scale shape: tf and
    // dl live in the postings index a production deployment precomputes
    // once (the CorpusCache model), the document count and avgdl are
    // memoized driver literals, and df is counted over query terms only;
    // the query-term set broadcasts, so scoring touches only postings of
    // query terms; the top-k is TakeOrderedAndProject (never a global
    // sort), and the rank window runs over k rows. Per-term scores cast to
    // DECIMAL(28,12) BEFORE the per-doc sum — the repo's exact-sum
    // discipline — so aggregation order can't drift the hash; every
    // arithmetic step is spelled with identical literals/associativity in
    // both engines.
    "text_bm25_topk" -> ((s, dir) =>
      bm25Ranked(s, dir, 10)
        .select(col("doc_id"), col("lex_rank").as("rank"),
          round(col("score").cast(DoubleType), 6).as("bm25")))
  )

  /** (doc_id, tok, tf, dl) postings — THE maintained lexical inverted index,
    * built once per (session, corpus) like the shingle/signature/IVF
    * tables (round 16; the rationale was already written on the
    * text_bm25_topk gate: "the standard one-shuffle inverted-index
    * aggregates a production deployment precomputes once — the
    * CorpusCache model"). `dl` is the document's token count, computed in
    * the same build pass from the same split, so it equals Σ tf over the
    * document's postings and scoring reads it off the query-term rows
    * instead of re-aggregating the corpus. doc_id is the documents key, so
    * rows stay unique per (doc_id, tok). Serves bm25Ranked (text_bm25_topk
    * AND fusion_rrf's lexical arm) and text_tfidf_terms; the per-QUERY
    * derivations (query-term postings, df over them) stay per-query
    * scratch.
    */
  private[queries] def sharedPostings(s: SparkSession, dir: String): DataFrame =
    CorpusCache.getOrBuild(s, s"postings:$dir")(
      Tables.documents(s, dir)
        .select(col("doc_id"), TextFns.rawTokens(col("text")).as("toks"))
        .select(col("doc_id"), col("toks"), size(col("toks")).cast(LongType).as("dl"))
        .select(col("doc_id"), explode(col("toks")).as("tok"), col("dl"))
        .groupBy(col("doc_id"), col("tok"), col("dl")).agg(count(lit(1)).as("tf"))
        .select(col("doc_id"), col("tok"), col("tf"), col("dl")))

  /** The corpus figures a BM25 query ranks with, as driver Longs memoized
    * once per (session, corpus): the query-by-example anchor (min doc_id,
    * absent when no document has an id), the documents with postings
    * (dl > 0) and their total tokens. One documents scan fills all four
    * memo entries on the first call; later calls run no job.
    */
  private[queries] final case class CorpusStats(anchor: Option[Long], nDocs: Long, tokens: Long) {
    /** Bit-equal to Spark's `avg(cast(dl as double))` over those documents:
      * a sum of integer-valued doubles below 2^53 is exact. NaN on a
      * corpus without postings, where no score row exists to read it.
      */
    def avgdl: Double = tokens.toDouble / nDocs.toDouble
  }

  private[queries] def corpusStats(s: SparkSession, dir: String): CorpusStats = {
    lazy val row = Tables.documents(s, dir)
      .select(col("doc_id"), size(TextFns.rawTokens(col("text"))).cast(LongType).as("dl"))
      .agg(count(col("doc_id")), min(col("doc_id")), count(when(col("dl") > 0, lit(1))),
        coalesce(sum(when(col("dl") > 0, col("dl"))), lit(0L)))
      .head()
    def memo(name: String, i: Int): Long =
      Preconditions.longOnce(s, s"bm25:$name:$dir")(row.getLong(i))
    CorpusStats(if (memo("ids", 0) == 0L) None else Some(memo("anchor", 1)),
      memo("docs", 2), memo("tokens", 3))
  }

  /** BM25 top-`n` ranking for the query-by-example anchor — the full
    * chain behind `text_bm25_topk`, extracted (round 9) so the hybrid
    * retrieval fusion gate (`fusion_rrf`, [[VectorOps]]) can consume the
    * same maintained lexical index at a different depth. Returns
    * (doc_id, lex_rank, score) with lex_rank 1-based (score desc, doc_id
    * asc tie-break). The collection statistics and the anchor are
    * literals from [[corpusStats]] and dl rides on the postings, so the
    * plan holds no aggregate over all postings: only the query terms' df
    * and the per-doc score sum.
    */
  private[queries] def bm25Ranked(s: SparkSession, dir: String, n: Int): DataFrame = {
    val st = corpusStats(s, dir)
    val tf = sharedPostings(s, dir)
    // the anchor doc's tokens, read from the postings (a token is in the
    // doc iff it has a postings row — same set as the raw explode)
    val qterms = tf.filter(st.anchor.fold(lit(false))(a => col("doc_id") === lit(a)))
      .select(col("tok"))
    // qpost = the query terms' postings — restricting BEFORE the df
    // aggregate matters: df(t) = count of t's postings, so df restricted
    // to query terms is exact, while a full-vocabulary df table shuffles
    // every posting for terms the query never touches (Catalyst cannot
    // push a join below an aggregate; at the 5M-doc probe the tag-widened
    // vocabulary made that waste the dominant superlinear term)
    val qpost = ScratchCache.register(
      tf.join(broadcast(qterms), Seq("tok")).persist())
    val dfreq = qpost.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val idf = log((lit(st.nDocs.toDouble) - col("df") + lit(0.5d)) /
      (col("df") + lit(0.5d)) + lit(1.0d))
    val tfp = (col("tf") * lit(2.2d)) /
      (col("tf") + lit(1.2d) * (lit(0.25d) + lit(0.75d) * col("dl") / lit(st.avgdl)))
    val scores = qpost
      .join(broadcast(dfreq), Seq("tok"))
      .withColumn("sc", (idf * tfp).cast(DecimalType(28, 12)))
      .groupBy(col("doc_id")).agg(sum(col("sc")).as("score"))
    val w = Window.orderBy(col("score").desc, col("doc_id").asc)
    scores.orderBy(col("score").desc, col("doc_id").asc).limit(n)
      .withColumn("lex_rank", row_number().over(w).cast(IntegerType))
      .select(col("doc_id"), col("lex_rank"), col("score"))
  }

  /** DuckDB twin of [[bm25Ranked]] as a reusable CTE chain; terminal CTE
    * `lexr` = (doc_id, lex_rank, score), rank ≤ `n`.
    */
  private[queries] def bm25RankSql(n: Int): String =
    s"""toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
       |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
       |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n_docs,
       |  avg(CAST(dl AS DOUBLE)) AS avgdl FROM dl),
       |dfreq AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok),
       |q AS (SELECT DISTINCT tok FROM toks
       |  WHERE doc_id = (SELECT min(doc_id) FROM documents)),
       |sc AS (
       |  SELECT tf.doc_id,
       |    CAST(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
       |      * ((tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * dl / avgdl)))
       |      AS DECIMAL(28,12)) AS s
       |  FROM tf JOIN q USING (tok) JOIN dfreq USING (tok)
       |    JOIN dl USING (doc_id) CROSS JOIN stats),
       |bagg AS (SELECT doc_id, sum(s) AS score FROM sc GROUP BY doc_id),
       |lexr AS (
       |  SELECT doc_id, CAST(rn AS INTEGER) AS lex_rank, score
       |  FROM (SELECT doc_id, score, row_number() OVER (
       |      ORDER BY score DESC, doc_id ASC) AS rn FROM bagg)
       |  WHERE rn <= $n)""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "sample_stratified" -> {
      val rateCase = strataRates.map { case (l, r) => s"WHEN lang = '$l' THEN $r" }
        .mkString("CASE ", " ", " ELSE 0 END")
      s"""SELECT doc_id, lang, bucket FROM (
         |  SELECT doc_id, lang,
         |    ${TextFns.md5Hash60Sql("concat('sample:', doc_id)")} % 1000 AS bucket
         |  FROM documents)
         |WHERE bucket < $rateCase""".stripMargin
    },

    "curation_length_filter" ->
      """WITH b AS (
        |  SELECT round(quantile_cont(n_chars, 0.05), 6) AS p05,
        |    round(quantile_cont(n_chars, 0.95), 6) AS p95
        |  FROM documents)
        |SELECT doc_id, n_chars, p05, p95
        |FROM documents, b
        |WHERE n_chars >= p05 AND n_chars <= p95""".stripMargin,

    "curation_domain_cap" ->
      s"""SELECT doc_id, source, CAST(rn AS INTEGER) AS pick_rank
         |FROM (
         |  SELECT doc_id, source, row_number() OVER (
         |    PARTITION BY source ORDER BY md5(text) ASC, doc_id ASC) AS rn
         |  FROM documents)
         |WHERE rn <= $DOMAIN_CAP""".stripMargin,

    "decontaminate" ->
      """WITH eval_set AS (SELECT * FROM documents WHERE doc_id % 50 = 0),
        |corpus AS (SELECT * FROM documents WHERE doc_id % 50 <> 0),
        |fp AS (SELECT doc_id, md5(text) AS fp FROM documents),
        |exact_hit AS (
        |  SELECT c.doc_id FROM fp c
        |  WHERE c.doc_id % 50 <> 0
        |    AND EXISTS (SELECT 1 FROM fp e WHERE e.doc_id % 50 = 0 AND e.fp = c.fp)),
        |csh AS (
        |  SELECT doc_id AS i, unnest(list_distinct([s[k] || ' ' || s[k+1] || ' ' || s[k+2]
        |      for k in range(1, greatest(len(s) - 1, 1))])) AS shingle
        |  FROM (SELECT doc_id, string_split(text, ' ') AS s FROM corpus)),
        |esh AS (
        |  SELECT doc_id AS j, unnest(list_distinct([s[k] || ' ' || s[k+1] || ' ' || s[k+2]
        |      for k in range(1, greatest(len(s) - 1, 1))])) AS shingle
        |  FROM (SELECT doc_id, string_split(text, ' ') AS s FROM eval_set)),
        |ci AS (SELECT i, count(*) AS n_i FROM csh GROUP BY i),
        |ei AS (SELECT j, count(*) AS n_j FROM esh GROUP BY j),
        |near_hit AS (
        |  SELECT DISTINCT i AS doc_id FROM (
        |    SELECT a.i, b.j, count(*) AS c FROM csh a JOIN esh b USING (shingle)
        |    GROUP BY a.i, b.j) x
        |  JOIN ci USING (i) JOIN ei USING (j)
        |  WHERE CAST(c AS DOUBLE) / (n_i + n_j - c) >= 0.7)
        |SELECT doc_id, lang, source FROM corpus
        |WHERE doc_id NOT IN (SELECT doc_id FROM exact_hit)
        |  AND doc_id NOT IN (SELECT doc_id FROM near_hit)""".stripMargin,

    // the oracle spells the DEFINITION (kept = not md5-equal to any eval
    // text); the bloom prefilter + verify sandwich must reproduce it
    "decontaminate_bloom" ->
      """WITH eval_set AS (SELECT doc_id, text FROM documents WHERE doc_id % 50 = 0),
        |corpus AS (
        |  SELECT doc_id, text FROM documents WHERE doc_id % 50 <> 0
        |  UNION ALL
        |  SELECT doc_id + 1000000000, text FROM eval_set WHERE doc_id % 100 = 0)
        |SELECT doc_id FROM corpus
        |WHERE md5(text) NOT IN (SELECT md5(text) FROM eval_set)""".stripMargin,

    "curation_chunk_documents" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |    len(string_split(text, ' ')) AS n
        |  FROM documents),
        |c AS (
        |  SELECT doc_id, toks, n, unnest(range(0, greatest(n, 1), 48)) AS start
        |  FROM t)
        |SELECT doc_id, CAST(start / 48 AS INTEGER) AS chunk_id,
        |  CAST(start AS INTEGER) AS start_tok,
        |  CAST(least(64, n - start) AS INTEGER) AS n_tok,
        |  array_to_string(toks[start + 1 : start + least(64, n - start)], ' ') AS chunk_text
        |FROM c WHERE start < n""".stripMargin,

    "curation_source_mix" -> {
      val bucket = TextFns.md5Hash60Sql("concat('mix:', doc_id)")
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 2 = 0 THEN 'src_hot' ELSE source END AS source,
         |    $bucket % 1000 AS bucket
         |  FROM documents),
         |c AS (SELECT source, count(*) AS n_s FROM d GROUP BY source),
         |t AS (SELECT count(*) AS n_total, count(DISTINCT source) AS n_sources FROM d),
         |r AS (
         |  SELECT source, least(1000, CAST(floor(1000 *
         |    sqrt(CAST(n_total AS DOUBLE) / (n_sources * n_s))) AS BIGINT)) AS rate
         |  FROM c CROSS JOIN t)
         |SELECT d.doc_id, d.source, r.rate, d.bucket
         |FROM d JOIN r USING (source)
         |WHERE d.bucket < r.rate""".stripMargin
    },

    // The composed pipeline's oracle literally CTE-wraps the SAME SQL
    // strings the individual gates run (text_quality / text_repetition /
    // text_langid / the length-filter bounds), so the two sides can never
    // drift from the queries they compose.
    "curation_c4_pipeline" ->
      s"""WITH qual AS (${TextOps.oracleSql("text_quality")}),
         |rep AS (${TextOps.oracleSql("text_repetition")}),
         |lid AS (${TextOps.oracleSql("text_langid")}),
         |b AS (
         |  SELECT round(quantile_cont(n_chars, 0.05), 6) AS p05,
         |    round(quantile_cont(n_chars, 0.95), 6) AS p95
         |  FROM documents)
         |SELECT d.doc_id,
         |  (d.n_chars >= b.p05 AND d.n_chars <= b.p95) AS len_ok,
         |  (qual.quality_score >= $QUALITY_T) AS quality_ok,
         |  (lid.pred_lang = d.lang) AS lang_ok,
         |  COALESCE(rep.dup_token_frac <= $DUP_T AND rep.top_bigram_frac <= $BG_T,
         |    FALSE) AS rep_ok,
         |  ((d.n_chars >= b.p05 AND d.n_chars <= b.p95)
         |    AND (qual.quality_score >= $QUALITY_T)
         |    AND (lid.pred_lang = d.lang)
         |    AND COALESCE(rep.dup_token_frac <= $DUP_T AND rep.top_bigram_frac <= $BG_T,
         |      FALSE)) AS kept
         |FROM documents d CROSS JOIN b
         |JOIN qual ON qual.doc_id = d.doc_id
         |JOIN rep ON rep.doc_id = d.doc_id
         |JOIN lid ON lid.doc_id = d.doc_id""".stripMargin,

    "curation_split" ->
      s"""SELECT doc_id, bucket,
         |  CASE WHEN bucket < 980 THEN 'train'
         |       WHEN bucket < 990 THEN 'validation'
         |       ELSE 'test' END AS split
         |FROM (
         |  SELECT doc_id,
         |    ${TextFns.md5Hash60Sql("concat('split:', doc_id)")} % 1000 AS bucket
         |  FROM documents)""".stripMargin,

    "curation_source_upsample" -> {
      s"""WITH docs AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 53 = 0 THEN 'src_rare' ELSE source END AS source
         |  FROM documents),
         |counts AS (SELECT source, count(*) AS n_s FROM docs GROUP BY source),
         |tot AS (
         |  SELECT count(*) AS n_total, count(DISTINCT source) AS n_sources
         |  FROM docs),
         |rates AS (
         |  SELECT source,
         |    CAST(floor(1000.0 * sqrt(CAST(n_total AS DOUBLE) / (n_sources * n_s)))
         |      AS BIGINT) AS rate
         |  FROM counts, tot),
         |b AS (
         |  SELECT d.doc_id, d.source, r.rate,
         |    ${TextFns.md5Hash60Sql("concat('ups:', d.doc_id)")} % 1000 AS bucket
         |  FROM docs d JOIN rates r ON d.source = r.source),
         |c AS (
         |  SELECT doc_id, source, rate,
         |    rate // 1000 + (CASE WHEN bucket < rate % 1000 THEN 1 ELSE 0 END)
         |      AS n_copies
         |  FROM b)
         |SELECT doc_id, source, rate,
         |  CAST(unnest(generate_series(1, n_copies)) AS BIGINT) AS copy_idx
         |FROM c WHERE n_copies > 0""".stripMargin
    },

    // declarative twin: a single per-source running total (the two-level
    // prefix sum is an execution strategy, not a semantics change)
    "curation_token_budget" -> {
      s"""WITH t AS (
         |  SELECT doc_id, source,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |    ${TextFns.md5Hash60Sql("concat('tb:', doc_id)")} % 1000 AS bucket
         |  FROM documents),
         |c AS (
         |  SELECT doc_id, source, n_tokens,
         |    CAST(sum(n_tokens) OVER (PARTITION BY source
         |      ORDER BY bucket, doc_id ROWS UNBOUNDED PRECEDING) AS BIGINT)
         |      AS cum_tokens
         |  FROM t)
         |SELECT doc_id, source, n_tokens, cum_tokens
         |FROM c WHERE cum_tokens <= 800""".stripMargin
    },

    // the cluster-sample twin: the shared plain-corpus assignment CTEs,
    // the same hash-order rank per cell, the same quota
    "curation_cluster_sample" ->
      s"""WITH ${VectorOps.plainAssignCtes},
         |r AS (
         |  SELECT d.doc_id, d.source, s.cell, row_number() OVER (
         |    PARTITION BY s.cell
         |    ORDER BY ${graft.functions.TextFns.md5Hash60Sql("concat('cs:', d.doc_id)")},
         |      d.doc_id) AS rn
         |  FROM documents d JOIN assign s ON s.vec_id = d.doc_id)
         |SELECT doc_id, source, cell, CAST(rn AS INTEGER) AS rank_in_cell
         |FROM r WHERE rn <= 8""".stripMargin,

    // the shard-export twin: declarative global cumsum in (hs, doc_id)
    // order (the two-level prefix sum is an execution strategy, not a
    // semantics change — the token_budget precedent), same start-offset
    // shard id, same per-shard rank
    "curation_shard_export" ->
      s"""WITH $shardCtes
         |SELECT doc_id, n_tokens, cum_tokens, shard_id, ordinal
         |FROM shard""".stripMargin,

    // the layout twin recomputes the per-shard stats from the same chain
    // (+ the s15 text hashsum over the source documents); the two layout
    // booleans are the gate — a broken writer (hash repartition, missing
    // sort, dropped doc) flips disjointness or moves the hashsum
    "s19_shard_layout" ->
      s"""WITH $shardCtes
         |SELECT s.shard_id, count(*) AS n_docs,
         |  CAST(sum(s.n_tokens) AS BIGINT) AS shard_tokens,
         |  max(s.ordinal) AS max_ordinal,
         |  CAST(sum(${TextFns.md5Hash60Sql("d.text")} % 1000000007)
         |    AS BIGINT) AS text_hashsum,
         |  TRUE AS files_ok, TRUE AS ranges_disjoint
         |FROM shard s JOIN documents d ON d.doc_id = s.doc_id
         |GROUP BY s.shard_id""".stripMargin,

    // the DSIR twin: identical hashed feature space (unigrams ∪ adjacent
    // bigrams — the window spelling here, values identical to the Spark
    // side's array zip), identical smoothing literals and log-difference
    // associativity, DECIMAL per-feature terms, quantile_cont p80
    "curation_dsir_select" -> {
      val D = 4096
      s"""WITH toks AS (
         |  SELECT doc_id, lang,
         |    generate_subscripts(string_split(text, ' '), 1) AS p,
         |    unnest(string_split(text, ' ')) AS w
         |  FROM documents),
         |big AS (
         |  SELECT doc_id, lang,
         |    w || ' ' || lead(w) OVER (PARTITION BY doc_id ORDER BY p) AS g
         |  FROM toks),
         |grams AS (
         |  SELECT doc_id, lang, w AS g FROM toks
         |  UNION ALL
         |  SELECT doc_id, lang, g FROM big WHERE g IS NOT NULL),
         |feat AS (
         |  SELECT doc_id, lang, ${TextFns.md5Hash60Sql("g")} % $D AS fid
         |  FROM grams),
         |tf AS (
         |  SELECT doc_id, lang, fid, count(*) AS tf FROM feat GROUP BY 1, 2, 3),
         |model AS (
         |  SELECT fid, sum(tf) AS cr,
         |    sum(CASE WHEN lang = 'en' THEN tf ELSE 0 END) AS ct
         |  FROM tf GROUP BY fid),
         |tot AS (
         |  SELECT CAST(sum(cr) AS DOUBLE) AS nr, CAST(sum(ct) AS DOUBLE) AS nt
         |  FROM model),
         |lm AS (
         |  SELECT fid,
         |    CAST(ln((ct + 1.0) / (nt + $D.0)) - ln((cr + 1.0) / (nr + $D.0))
         |      AS DECIMAL(28,12)) AS dl
         |  FROM model, tot),
         |sc AS (
         |  SELECT tf.doc_id,
         |    round(CAST(sum(dl * CAST(tf AS DECIMAL(9,0))) AS DOUBLE), 6)
         |      AS dsir_logweight
         |  FROM tf JOIN lm USING (fid) GROUP BY 1),
         |t AS (SELECT round(quantile_cont(dsir_logweight, 0.8), 6) AS p80 FROM sc)
         |SELECT doc_id, dsir_logweight, dsir_logweight >= p80 AS keep
         |FROM sc, t""".stripMargin
    },

    "text_tfidf_terms" ->
      """WITH tok AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
        |df AS (SELECT tok, count(DISTINCT doc_id) AS df FROM tf GROUP BY tok),
        |n AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.tok,
        |    round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
        |  FROM tf JOIN df USING (tok) CROSS JOIN n)
        |SELECT doc_id, CAST(rn AS INTEGER) AS rank, tok, tfidf FROM (
        |  SELECT *, row_number() OVER (
        |    PARTITION BY doc_id ORDER BY tfidf DESC, tok ASC) AS rn
        |  FROM scored)
        |WHERE rn <= 3""".stripMargin,

    // the oracle packs with the NAIVE global cumulative sum — proving the
    // distributed two-level prefix sum recombines to the same assignment
    "curation_pack_sequences" ->
      """SELECT doc_id, n_tokens,
        |  CAST(floor(CAST(cum_before AS DOUBLE) / 4096) AS BIGINT) AS shard_id,
        |  cum_before % 4096 AS offset_in_shard
        |FROM (
        |  SELECT doc_id, n_tokens,
        |    CAST(sum(n_tokens) OVER (ORDER BY doc_id
        |      ROWS UNBOUNDED PRECEDING) AS BIGINT) - n_tokens AS cum_before
        |  FROM (SELECT doc_id,
        |          CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |        FROM documents))""".stripMargin,

    // the BM25 twin: identical literals and associativity at every step,
    // per-term scores cast to DECIMAL(28,12) before the per-doc sum so
    // both engines aggregate exact values (the shared [[bm25RankSql]]
    // chain — also the lexical arm of fusion_rrf's twin)
    "text_bm25_topk" ->
      s"""WITH ${bm25RankSql(10)}
         |SELECT doc_id, lex_rank AS rank,
         |  round(CAST(score AS DOUBLE), 6) AS bm25
         |FROM lexr""".stripMargin
  )
}
