package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.expr.Native
import graft.queries.Ivf.{Augmented, Imi, NearTwin, TwoLevel, assignment, norm, withNorm}

/** Embedding similarity operators over `embeddings` (Array[Float], 64-d).
  *
  * Numeric discipline: every dot/norm accumulates exact double products of
  * float32 values via a sequential left-to-right fold (`aggregate` over
  * `zip_with`), matching the oracle's list_sum over list_zip. Display values
  * round to 6 dp; ordering uses full precision (gaps between random-vector
  * cosines are ~1e-3, far above accumulated fold error ~1e-13).
  *
  * Scale notes (100 TB design): the exact-cosine ground-truth fixtures
  * (brute-force top-k, threshold pairs, the ann_recall truth side) are
  * ANCHORED — a derived-constant sample of ~128 anchor vectors, each
  * compared against the full corpus (O(s·n), see [[AnchorSample]]) — so
  * recall governance itself survives a 100× corpus. The LSH paths are the
  * scale story:
  * random-hyperplane signatures bucket the vectors so the pair join only
  * materializes within-bucket candidates; `sim_ann_lsh_multiprobe` extends
  * recall to hamming-≤1 buckets via one-bit signature flips. The IVF path
  * (`sim_ann_ivf`) k-means the corpus (deterministic seeds + one Lloyd
  * refinement) and joins within nearest-centroid cells — same bucket-join
  * shape, nprobe as the recall lever.
  */
object VectorOps {

  private val TOPK = 5
  private val COS_T = 0.45
  private val NPLANES = 12
  private val ANN_T = 0.999

  /** Margin threshold for the gated nprobe=2 search (round 11 — the
    * FAISS refinement discipline): a vector probes its second-best
    * region's cell only when its assignment margin (cos to the winning
    * centroid minus cos to the runner-up) is at most this — i.e. only
    * BOUNDARY vectors pay the second probe; a decisive winner's
    * ≥COS_T-similar neighbors co-assign with it anyway. Calibrated with
    * `graft.tools.Probe <sfDir> margin` against the anchored-truth
    * governance at ALL THREE sfs (SCALE.md round 11): τ = 0.1 holds the
    * ivf_imi recall at exactly its ungated level everywhere (0.9512 /
    * 0.9015 / 0.8629 at sf0.001/0.01/0.1) while probing only 42–49% of
    * second regions;
    * τ = 0.05 was measured to LOSE truth pairs at sf0.01 and sf0.1
    * (0.8864 / 0.8514) — the recall-relevant probes concentrate at
    * small margins, but not under 0.05. Shared verbatim by the
    * oracle twins (the margin is a difference of the same
    * bit-reproducible cosine doubles both engines rank by, so the gate
    * decision is engine-independent).
    */
  private[queries] val PROBE_MARGIN_T = 0.1d

  /** Random-projection output dimension (`emb_random_projection`) and the
    * corpus dimension it contracts from. The ±1 sign matrix is DERIVED,
    * not random state: sign(d,k) = parity of md5("d:k") (the engine's
    * md5Key64 keyspace), so any executor — or the DuckDB oracle — can
    * regenerate the identical matrix from nothing. It is computed ONCE on
    * the driver and ships as 16 literal arrays inside the plan (~8 KB):
    * the per-row path is pure fold arithmetic, no hashing.
    */
  private val RP_K = 16
  private val RP_D = 64

  /** ±1 signs: +1 where md5Key64(key(r, c)) (md5 hex → first 15 nibbles
    * as a 60-bit long) has parity `plus`. Pinned against the Column md5 in
    * [[QueryInvariantSpec]] so the three spellings (Scala, Spark md5,
    * DuckDB md5) can never drift apart silently.
    */
  private def md5Signs(rows: Int, cols: Int, plus: Long)(
      key: (Int, Int) => String): IndexedSeq[IndexedSeq[Double]] =
    (0 until rows).map { r =>
      (0 until cols).map { c =>
        val hex = java.security.MessageDigest.getInstance("MD5")
          .digest(key(r, c).getBytes("UTF-8"))
          .map(b => f"$b%02x").mkString.take(15)
        if (java.lang.Long.parseLong(hex, 16) % 2 == plus) 1.0d else -1.0d
      }
    }

  /** sign[k][d] ∈ {±1}: key "d:k", even parity → +1. */
  private[queries] lazy val rpSigns: IndexedSeq[IndexedSeq[Double]] =
    md5Signs(RP_K, RP_D, 0L)((k, d) => s"$d:$k")

  /** LSH plane[p][d] ∈ {±1}: key "p:d", odd parity → +1. */
  private[queries] lazy val lshPlanes: IndexedSeq[IndexedSeq[Double]] =
    md5Signs(NPLANES, RP_D, 1L)((p, d) => s"$p:$d")

  /** Exact L2² between two float subvectors — sequential fold, the
    * oracle-portable spelling (matches list_sum over list_zip).
    */
  private def pqDist2(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => {
      val d = x.cast(DoubleType) - y.cast(DoubleType)
      d * d
    }), lit(0.0d), (acc, v) => acc + v)

  /** PQ codebook: entry c of subspace m = vector c's m-th subvector
    * (c < 16) — the IVF-seeds discipline; 128 rows, always broadcast.
    */
  private def pqCodebook(emb: DataFrame): DataFrame =
    emb.filter(col("vec_id") < 16)
      .select(col("vec_id").cast(IntegerType).as("code"),
        explode(sequence(lit(0), lit(7))).as("m"), col("embedding"))
      .select(col("code"), col("m"),
        slice(col("embedding"), col("m") * 8 + 1, lit(8)).as("cb"))

  /** (vec_id, m, sv): every vector exploded into its 8 subvectors. */
  private def pqSubvectors(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"), explode(sequence(lit(0), lit(7))).as("m"), col("embedding"))
      .select(col("vec_id"), col("m"),
        slice(col("embedding"), col("m") * 8 + 1, lit(8)).as("sv"))

  /** PQ code table over the augmented corpus, built ONCE per (session,
    * corpus) and served to both search paths (`sim_ann_pq_adc`,
    * `sim_ann_ivf_pq`) — the same maintained-index discipline as the LSH
    * signature and IVF assignment tables.
    */
  private def sharedPqCodes(s: SparkSession, dir: String): DataFrame =
    CorpusCache.getOrBuild(s, s"pqcodes:$dir") {
      val aug = Augmented.frame(s, dir)
      pqAssign(pqSubvectors(aug), pqCodebook(aug))
        .select(col("vec_id"), col("m"), col("code"))
    }

  /** Nearest-codebook-entry assignment per (vector, subspace): exact-L2
    * argmin with (d2, code) tie-break. Returns (vec_id, m, code, d2).
    */
  private def pqAssign(sv: DataFrame, cb: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("vec_id"), col("m"))
      .orderBy(col("d2").asc, col("code").asc)
    sv.join(broadcast(cb), Seq("m"))
      .withColumn("d2", pqDist2(col("sv"), col("cb")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), col("m"), col("code"), col("d2"))
  }

  /** Quantized-prefilter relaxation (`sim_ann_quantized_rescore`): must
    * exceed the worst-case int8 cosine error so the code-space filter can
    * never drop a pair the exact rescore would keep. Bound at 64-d:
    * |cos_q − cos| ≤ (0.5·√d/127)·(max_a/‖a‖ + max_b/‖b‖) ≈ 0.024 for
    * random vectors (max/‖·‖ ≈ 0.38); 0.05 leaves 2× headroom.
    */
  private val QP_MARGIN = 0.05

  /** Head width of the pair-scoring sketch ([[sharedPairSketch]]) and the
    * numeric slack of its Cauchy–Schwarz candidate bound. The bound is
    * superset-safe by ALGEBRA, not by margin tuning: for any pair,
    * dot(a,b) = dot(a_h,b_h) + dot(a_t,b_t) ≤ dot(a_h,b_h) + ‖a_t‖·‖b_t‖
    * (Cauchy–Schwarz on the 48-d tails), so every pair whose exact cosine
    * clears ANN_T also clears the bound filter — the rescore can only
    * discard, never resurrect. BOUND_EPS absorbs double-fold rounding
    * (~1e-13 at these magnitudes; 1e-9 is ~10⁴× headroom and admits only
    * a vanishing sliver of extra candidates). Selectivity at ANN_T=0.999:
    * for random 64-d pairs E[‖a_t‖‖b_t‖/(‖a‖‖b‖)] ≈ 48/64 and the head
    * term concentrates at ±(1/16), so non-near-dup candidates clear the
    * bound with probability ≈ Φ(−4σ) — the within-cell pair scan does a
    * 16-d dot per candidate and a 64-d dot only per (near-)duplicate.
    */
  private val HEAD_D = 16
  private val BOUND_EPS = 1e-9

  /** Numeric slack of the NORMALIZED, HALF-PACKED tier-1 bound (round 17
    * — the round-16 verdict's #1: the 16-float head was ~60% of every
    * pair-scan exchange row on the measured 10⁷ EXCHANGE+SORT wall; it
    * now ships as 16 packed binary16 values, 88 → 40 UnsafeRow bytes).
    * The sketch stores x_i/‖x‖ rounded f64 → f32 → f16, so each stored
    * component is qa_i = a_i(1+ε_i) with |ε_i| ≤ (1+2⁻¹¹)(1+2⁻²⁴)−1 ≤
    * 2⁻¹⁰·⁹ in the normal binary16 range, plus an absolute ≤ 2⁻²⁵ on the
    * subnormal grid below 2⁻¹⁴. The packed-dot error against the true
    * normalized head dot is then
    *   |Σ qa_i·qb_i − Σ a_i·b_i| ≤ Σ(|b_i||δa_i| + |a_i||δb_i| + |δa_i||δb_i|)
    *     ≤ 2·(2⁻¹⁰·⁹·‖a_h‖‖b_h‖ + √16·2⁻²⁵) + 16·(5·10⁻⁴)²
    *     ≤ 2·(4.9·10⁻⁴ + 4.8·10⁻⁷) + 4·10⁻⁶ < 9.9·10⁻⁴
    * by Cauchy–Schwarz on the unit-normalized sides (‖a_h‖, ‖b_h‖ ≤ 1);
    * the tail-norm product and the double-fold sum add ≤ ~10⁻¹³. 2·10⁻³
    * is 2× headroom over that worst case — and, like [[BOUND_EPS]], it
    * only ever ADMITS a sliver of extra candidates for the exact rescore
    * to discard (at the head-dot's ~1/16 spread the widening moves the
    * tier-1 cut by ~0.02σ): the bound stays a true upper bound of the
    * exact cosine, so the verified output is bit-identical
    * (QueryInvariantSpec pins the equality).
    */
  private[queries] val SKETCH_EPS = 2e-3

  /** Exact double dot product, sequential fold (oracle-portable). Uses the
    * native FloatVecDot expression (graft.expr) — bit-identical to the
    * zip_with/aggregate spelling but allocation-free inside codegen, which
    * is what makes the quadratic similarity joins tractable.
    */
  private def dot(a: Column, b: Column): Column = Native.vecDot(a, b)

  /** Dot over the PACKED (binary16) sketch heads — the tier-1 bound's
    * scoring kernel (graft.expr.HalfVecDot).
    */
  private def dotHalf(a: Column, b: Column): Column = Native.vecDotHalf(a, b)

  /** Anchored exact-cosine threshold pairs — the scale-safe ground-truth
    * kernel (see [[AnchorSample]]): every ANCHOR vector is compared against
    * the FULL corpus (O(s·n), s ≈ 128 at any scale, never O(n²)), and the
    * directed hits are normalized to unordered (i < j) pairs. The cosine is
    * bitwise symmetric (the fold multiplies the same components in the same
    * order), so a pair of two anchors collapses under distinct. The anchor
    * side is ~s rows → Spark broadcasts it and the corpus never shuffles.
    */
  private def anchoredCosinePairs(emb: DataFrame, thr: Double): DataFrame = {
    val n = AnchorSample.withAnchors(withNorm(emb), col("vec_id"))
    val a = n.filter(col("is_anchor"))
      .select(col("vec_id").as("u"), col("embedding").as("ea"), col("nrm").as("na"))
    val b = n.select(col("vec_id").as("v"), col("embedding").as("eb"), col("nrm").as("nb"))
    // explicit hint: the anchor side is ~s rows at any corpus size, but
    // Spark's stats can't see through the is_anchor filter — unhinted it
    // may shuffle/replicate the corpus side instead of broadcasting a
    broadcast(a).crossJoin(b).filter(col("u") =!= col("v"))
      .withColumn("cos", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cos") >= thr)
      .select(least(col("u"), col("v")).as("i"),
        greatest(col("u"), col("v")).as("j"), col("cos"))
      .distinct()
  }

  /** Anchored exact-cosine governance truth over the AUGMENTED corpus,
    * cached per (session, corpus) like the indexes it audits (round 14 —
    * the round-13 verdict's bench-cost item: the truth cross-join and the
    * per-component md5 corpus derivations were rebuilt on every
    * governance evaluation; one maintained table serves `ann_recall`,
    * the margin sweep, and the band decomposition, with every consumer
    * deriving its own flags/bands from the exact cosine by projection).
    * Anchored (O(s·n)) and near-dup-sized — the same boundedness class
    * as the cached pair/signature tables.
    */
  private[queries] def sharedAnnTruth(s: SparkSession, dir: String): DataFrame =
    CorpusCache.getOrBuild(s, s"anntruth:$dir")(
      anchoredCosinePairs(Augmented.frame(s, dir), COS_T))

  /** Anchored governance truth over the NEAR-TWIN corpus, cached like
    * [[sharedAnnTruth]].
    */
  private[queries] def sharedNtTruth(s: SparkSession, dir: String): DataFrame =
    CorpusCache.getOrBuild(s, s"nttruth:$dir")(
      anchoredCosinePairs(NearTwin.frame(s, dir), COS_T))

  /** The governance anchor sets (vec_id rows, ~[[AnchorSample.TargetAnchors]]
    * at any scale), cached with their truth tables.
    */
  private[queries] def sharedAnnAnchors(s: SparkSession, dir: String): DataFrame =
    CorpusCache.getOrBuild(s, s"annanchors:$dir")(
      AnchorSample.withAnchors(Augmented.frame(s, dir).select(col("vec_id")), col("vec_id"))
        .filter(col("is_anchor")).select(col("vec_id")))

  private[queries] def sharedNtAnchors(s: SparkSession, dir: String): DataFrame =
    CorpusCache.getOrBuild(s, s"ntanchors:$dir")(
      AnchorSample.withAnchors(NearTwin.frame(s, dir).select(col("vec_id")), col("vec_id"))
        .filter(col("is_anchor")).select(col("vec_id")))

  /** Anchored banded exact-cosine truth over the near-twin corpus —
    * shared by the `ann_recall_neartwin` gate and the capture-contract
    * spec so both audit the identical truth relation.
    */
  private[queries] def anchoredNtTruthBands(s: SparkSession, dir: String): DataFrame =
    sharedNtTruth(s, dir)
      .select(col("i"), col("j"),
        when(col("cos") >= ANN_T, "a_dup")
          .when(col("cos") >= NT_BAND_LO, "b_neartwin")
          .otherwise("c_tail").as("band"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Norm/stat sanity pass over the embedding column.
    "emb_norms" -> ((s, dir) => {
      withNorm(Tables.embeddings(s, dir))
        .select(col("vec_id"), col("label"),
          round(col("nrm"), 6).as("l2_norm"),
          size(col("embedding")).as("dim"))
    }),

    // Brute-force cosine top-k per ANCHOR vector — exact truth for a
    // derived-constant anchor sample (see AnchorSample), each anchor ranked
    // against the FULL corpus: O(s·n) work, the production recall-estimation
    // shape, never O(n²). Anchors broadcast; the corpus never shuffles.
    "sim_topk_bruteforce" -> ((s, dir) => {
      val n = AnchorSample.withAnchors(withNorm(Tables.embeddings(s, dir)), col("vec_id"))
      val a = n.filter(col("is_anchor"))
        .select(col("vec_id"), col("embedding").as("ea"), col("nrm").as("na"))
      val b = n.select(col("vec_id").as("neighbor_id"), col("embedding").as("eb"), col("nrm").as("nb"))
      val w = Window.partitionBy(col("vec_id"))
        .orderBy(col("cos").desc, col("neighbor_id").asc)
      // same anchor-side broadcast hint as anchoredCosinePairs
      broadcast(a).crossJoin(b).filter(col("vec_id") =!= col("neighbor_id"))
        .withColumn("cos", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= TOPK)
        .select(col("vec_id"), col("rn").as("rank"), col("neighbor_id"),
          round(col("cos"), 6).as("cosine"))
    }),

    // Embedding near-duplicate pairs above a cosine threshold — anchored
    // exact truth (every anchor vs the full corpus), the labeled metric
    // twin of the bucketed ANN paths.
    "dedup_embedding_cosine" -> ((s, dir) => {
      anchoredCosinePairs(Tables.embeddings(s, dir), COS_T)
        .select(col("i"), col("j"), round(col("cos"), 6).as("cosine"))
    }),

    // ANN via random-hyperplane LSH: signature = sign bits of projections on
    // NPLANES pseudo-random ±1 hyperplanes (deterministic from md5 parity).
    // Near-dup search joins only within signature buckets — identical
    // vectors always collide (identical projections), so recall for true
    // duplicates is exactly 1.0 with a single table. The corpus is augmented
    // with planted duplicate vectors (vec_id + 100000) to give the operator
    // real positives; looser thresholds need L multi-probe tables (same
    // bucket-join shape, L× signatures).
    "sim_ann_lsh" -> ((s, dir) => {
      val emb = Augmented.frame(s, dir)
      val sigs = sharedLshSigs(s, dir)
      val e = withNorm(emb).join(sigs, Seq("vec_id"))
      val a = e.select(col("bucket"), col("vec_id").as("i"), col("embedding").as("ea"), col("nrm").as("na"))
      val b = e.select(col("bucket"), col("vec_id").as("j"), col("embedding").as("eb"), col("nrm").as("nb"))
      a.join(b, Seq("bucket")).filter(col("i") < col("j"))
        .withColumn("cos", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
        .filter(col("cos") >= ANN_T)
        .select(col("i"), col("j"), round(col("cos"), 6).as("cosine"))
    }),

    // INCREMENTAL ANN — the daily-embedding-ingest pattern (the ANN twin of
    // dedup_incremental): a NEW batch of query vectors (4-multiples, ids
    // +200000, identical payloads so the gate has guaranteed positives) is
    // signed and searched against the CORPUS signature index via a bucket
    // equi-join; the corpus is never re-indexed and never self-joins.
    //
    // The corpus index lives in CorpusCache — maintained per (session,
    // corpus) like the production state it models, NOT rebuilt per search.
    // Round-7 bench finding: the previous shape signed corpus ∪ batch into
    // per-query scratch, so once ScratchCache started draining honestly
    // (round-5 advice), every run re-paid the full corpus signing — the
    // r5 "0.38 s" was an artifact of pass 2 reading pass 1's leaked
    // persist. Per-search work is now sign-the-batch + one bucket
    // equi-join, the real incremental cost. Signatures are per-vector
    // (hyperplanes derive from md5 of (plane, dim)), so signing the batch
    // alone is bit-identical to signing it inside any union.
    "sim_ann_incremental" -> ((s, dir) => {
      val corpus = Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
      val idx = CorpusCache.getOrBuild(s, s"incsigs:$dir")(
        lshSigs(withNorm(corpus))
          .select(col("bucket"), col("vec_id").as("match_id"),
            col("embedding").as("eb"), col("nrm").as("nb")))
      val batch = corpus.filter(col("vec_id") % 4 === 0)
        .select((col("vec_id") + 200000).as("vec_id"), col("embedding"))
      val q = lshSigs(withNorm(batch))
        .select(col("bucket"), col("vec_id").as("query_id"),
          col("embedding").as("ea"), col("nrm").as("na"))
      q.join(idx, Seq("bucket"))
        .withColumn("cos", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
        .filter(col("cos") >= ANN_T)
        .select(col("query_id"), col("match_id"), round(col("cos"), 6).as("cosine"))
    }),

    // Multi-probe LSH: each vector additionally probes every bucket at
    // hamming distance 1 from its own signature (12 one-bit flips + the
    // exact bucket). Candidate volume grows ×(NPLANES+1) but recall extends
    // from hamming-0 to hamming-≤1 collisions — the standard trade when
    // adding L independent tables is too expensive. Probe side joins
    // against EXACT signatures, so the join stays an equi-join on the
    // bucket string; exact-cosine verification unchanged.
    "sim_ann_lsh_multiprobe" -> ((s, dir) => {
      val emb = Augmented.frame(s, dir)
      val cand = multiprobeCandidates(sharedLshSigs(s, dir))
      val n = withNorm(emb)
      cand
        .join(n.select(col("vec_id").as("i"), col("embedding").as("ea"), col("nrm").as("na")), Seq("i"))
        .join(n.select(col("vec_id").as("j"), col("embedding").as("eb"), col("nrm").as("nb")), Seq("j"))
        .withColumn("cos", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
        .filter(col("cos") >= ANN_T)
        .select(col("i"), col("j"), round(col("cos"), 6).as("cosine"))
    })
  )

  /** The one-bit-flip probe expansion shared by full and anchor-restricted
    * multiprobe: each row of `sigs` probes its exact bucket (f = 0) plus
    * every bucket at hamming distance 1.
    */
  private def probeExpansion(sigs: DataFrame): DataFrame =
    sigs.select(col("vec_id"), col("bucket"),
      explode(sequence(lit(0), lit(NPLANES))).as("f"))
      .withColumn("probe",
        when(col("f") === 0, col("bucket"))
          .otherwise(concat(
            col("bucket").substr(lit(1), col("f") - 1),
            when(col("bucket").substr(col("f"), lit(1)) === "0", "1").otherwise("0"),
            col("bucket").substr(col("f") + 1, lit(NPLANES)))))

  /** Multi-probe candidates: each vector probes its exact bucket plus every
    * bucket at hamming distance 1 (NPLANES one-bit flips); probes join
    * against EXACT signatures so the join stays an equi-join on the bucket
    * string.
    */
  private def multiprobeCandidates(sigs: DataFrame): DataFrame =
    probeExpansion(sigs)
      .select(col("probe").as("bucket"), col("vec_id").as("i"))
      .join(sigs.select(col("bucket"), col("vec_id").as("j")), Seq("bucket"))
      .filter(col("i") < col("j"))
      .select(col("i"), col("j")).distinct()

  /** Candidate pairs TOUCHING AN ANCHOR, built anchor-side-first: the
    * anchor rows of `keyed` (a semi-join against the ~s-row anchor set)
    * equi-join the full table on `key`, normalized to i < j. Because
    * "shares a bucket" / "same cell" is symmetric, this is EXACTLY the
    * touching-an-anchor subset of the full i<j candidate set
    * ([[QueryInvariantSpec]] pins the equality) — so a semi-join of
    * anchored truth against it counts the same n_found as against the full
    * set, at O(s·bucket) instead of O(Σ bucket²). Recall estimation that
    * audits a corpus-scale index must itself stay sub-quadratic, truth AND
    * candidates both.
    */
  private def anchorCandidates(keyed: DataFrame, key: String,
      anchors: DataFrame): DataFrame =
    keyed.join(anchors, Seq("vec_id"), "left_semi")
      .select(col(key), col("vec_id").as("u"))
      .join(keyed.select(col(key), col("vec_id").as("v")), Seq(key))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("i"),
        greatest(col("u"), col("v")).as("j"))
      .distinct()

  /** Anchor-touching nprobe=2 IVF candidates (round 10 — the recall
    * governance twin of [[probeVerifiedPairs]]'s candidate shape): the
    * cell-probe relation is NOT symmetric (u probing v's home does not
    * imply v probes u's), so the anchor restriction must cover BOTH
    * directions — anchors as probers (anchor's cell ∪ cell2 × every
    * home) and anchors as homes (every prober × the anchor's cell).
    * Their union is exactly the anchor-touching subset of the full
    * probe candidate set, at O(s·cell) cost.
    */
  private def probeAnchorCandidates(assign: DataFrame,
      anchors: DataFrame): DataFrame =
    // the SAME margin gate as [[probeVerifiedPairs]]: the governance row
    // must audit exactly the candidate shape the gate searches
    probeAnchorCandidatesAt(assign, anchors, PROBE_MARGIN_T)

  /** [[probeAnchorCandidates]] at an explicit margin threshold — the
    * calibration/spec seam (τ = 2.0 ≥ any possible cosine margin =
    * ungated).
    */
  private[queries] def probeAnchorCandidatesAt(assign: DataFrame,
      anchors: DataFrame, tau: Double): DataFrame = {
    // round 14: extra regions come from the chain's ranked probe list
    // (derived width for the IMI chain, the runner-up for two-level) —
    // each gated by its OWN cross-region margin at τ
    val probes = assign.select(col("cell").as("pc"), col("vec_id"))
      .unionByName(assign
        .select(col("vec_id"), explode(col("probes")).as("pr"))
        .filter(col("pr").getField("mgn") <= lit(tau))
        .select(col("pr").getField("pc").as("pc"), col("vec_id")))
    val homes = assign.select(col("cell").as("pc"), col("vec_id"))
    val aProbes = probes.join(anchors, Seq("vec_id"), "left_semi")
    val aHomes = homes.join(anchors, Seq("vec_id"), "left_semi")
    aProbes.select(col("pc"), col("vec_id").as("u"))
      .join(homes.select(col("pc"), col("vec_id").as("v")), Seq("pc"))
      .unionByName(probes.select(col("pc"), col("vec_id").as("u"))
        .join(aHomes.select(col("pc"), col("vec_id").as("v")), Seq("pc")))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("i"),
        greatest(col("u"), col("v")).as("j"))
      .distinct()
  }

  /** Margin-gate calibration sweep (round 11): for each candidate τ,
    * the ann_recall-shaped anchored-truth recall of the IMI nprobe=2
    * candidate set gated at τ, plus the fraction of vectors whose second
    * region is actually probed. The τ grid is evaluated against ONE
    * persisted truth/anchor/assignment build, so a sweep costs little
    * more than a single governance row. Driven by `graft.tools.Probe margin`.
    */
  private[graft] def marginSweep(s: SparkSession, dir: String,
      taus: Seq[Double], nt: Boolean = false): Seq[(Double, String, Long, Long, Double, Double)] = {
    // round 13: the sweep reports PER-BAND recall — the τ decision is
    // owned by the band the apparatus serves (near-twins that straddle
    // regions), and a blended number buries it under the geometric tail.
    // Round 14: truth/anchors come from the shared cached governance
    // tables ([[sharedAnnTruth]] and friends) like the assignments.
    val truth = (if (nt) sharedNtTruth(s, dir) else sharedAnnTruth(s, dir))
      .select(col("i"), col("j"),
        when(col("cos") >= ANN_T, "a_dup")
          .when(col("cos") >= NT_BAND_LO, "b_neartwin")
          .otherwise("c_tail").as("band"))
    val anchors = if (nt) sharedNtAnchors(s, dir) else sharedAnnAnchors(s, dir)
    val assign = assignment(s, dir, if (nt) NearTwin else Augmented, Imi)
    val nVec = assign.count()
    taus.flatMap { tau =>
      val cand = probeAnchorCandidatesAt(assign, anchors, tau)
      val probed = assign.filter(col("cell2").isNotNull &&
        col("mgn") <= lit(tau)).count()
      val frac = probed.toDouble / math.max(nVec, 1L)
      truth.join(cand.withColumn("hit", lit(1L)), Seq("i", "j"), "left")
        .groupBy(col("band"))
        .agg(count(lit(1)).as("n_true"),
          sum(coalesce(col("hit"), lit(0L))).as("n_found"))
        .collect()
        .map(r => (tau, r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(2).toDouble / math.max(r.getLong(1), 1L), frac))
        .sortBy(_._2)
    }
  }

  /** Anchor-touching multiprobe pairs: only ANCHORS probe (the hamming-1
    * relation is symmetric, so anchor-as-prober already covers every pair
    * with an anchor on either side), joined against the full exact
    * signature table on the bucket string.
    */
  private def multiprobeAnchorCandidates(sigs: DataFrame,
      anchors: DataFrame): DataFrame =
    probeExpansion(sigs.join(anchors, Seq("vec_id"), "left_semi"))
      .select(col("probe").as("bucket"), col("vec_id").as("u"))
      .join(sigs.select(col("bucket"), col("vec_id").as("v")), Seq("bucket"))
      .filter(col("u") =!= col("v"))
      .select(least(col("u"), col("v")).as("i"),
        greatest(col("u"), col("v")).as("j"))
      .distinct()

  /** Random-hyperplane signatures: `emb` plus its bit-string `bucket`, one
    * sign bit per [[lshPlanes]] plane, each a d-order [[dot]] fold against
    * the plane literal — a per-row projection, no shuffle.
    */
  private def lshSigs(emb: DataFrame): DataFrame =
    emb.withColumn("bucket", concat(lshPlanes.map(w =>
      when(dot(col("embedding"), typedlit(w.map(_.toFloat))) > 0, lit("1"))
        .otherwise(lit("0"))): _*))

  /** LSH signature table over the augmented corpus, built ONCE per
    * (session, corpus) and served to every ANN query — the production
    * model: an index is maintained, not rebuilt per search
    * (`sim_ann_lsh`, `sim_ann_lsh_multiprobe`, `ann_recall`).
    */
  private[queries] def sharedLshSigs(s: SparkSession, dir: String): DataFrame =
    CorpusCache.getOrBuild(s, s"lshsigs:$dir")(
      lshSigs(Augmented.frame(s, dir)).select(col("vec_id"), col("bucket")))

  /** Per-vector pair-scoring sketch over the augmented corpus, built ONCE
    * per (session, corpus) like the assignment tables it joins: the first
    * [[HEAD_D]] components PRE-DIVIDED by the vector's own norm and
    * PACKED to binary16 (`hq` — round 17, the round-16 verdict's #1:
    * the float-array head was ~88 of ~136 UnsafeRow bytes on every row
    * of both sides of the measured 10⁷ EXCHANGE+SORT wall; packed it is
    * 40), and the 48-d tail compressed to its norm (`tn`, also
    * pre-divided — round 16's norm-slot removal). With the sketch
    * normalized at build time the tier-1 bound needs NO norm column:
    * vec_dot_half(hqa,hqb) + ta·tb ≥ T − ε directly bounds the cosine.
    * [[SKETCH_EPS]] carries the f64→f32→f16 rounding into the bound,
    * keeping it provably superset-safe; the full-precision vectors are
    * touched again only by the per-survivor rescore fetch. See
    * [[cellVerifiedPairs]].
    */
  private[queries] def sharedPairSketch(s: SparkSession, dir: String): DataFrame =
    CorpusCache.getOrBuild(s, s"pairsketch:$dir") {
      val e = withNorm(Augmented.frame(s, dir))
      e.select(col("vec_id"),
        Native.vecPackHalf(transform(slice(col("embedding"), 1, HEAD_D),
          x => (x.cast(DoubleType) / col("nrm")).cast(FloatType))).as("hq"),
        (norm(slice(col("embedding"), HEAD_D + 1, RP_D - HEAD_D)) / col("nrm")).as("tn"))
    }

  /** Two-tier within-cell pair verification shared by every IVF pair
    * consumer (`sim_ann_ivf_coarse`, `sim_ann_ivf_imi`, `dedup_semantic`;
    * `sim_ann_ivf_probe` rides the same sketch through its nprobe=2
    * candidate join) — the round-10 cut of the family's dominant constant,
    * the ~1.1×10¹⁰ exact-cosine candidate pairs (~320 s of every 10⁷
    * gate). Tier 1: candidates join on the cell id `cell` carrying
    * ONLY the sketch, and survive iff the Cauchy–Schwarz upper bound
    * clears the threshold — dot(hd_a,hd_b) + tn_a·tn_b ≥ T·nrm_a·nrm_b −
    * [[BOUND_EPS]] — a 16-d dot per candidate instead of 64-d, on a
    * ~3.5×-slimmer shuffle payload. Tier 2: the O(near-dup) survivor set
    * fetches full vectors by two vec_id equi-joins ([[rescoreExact]] —
    * unhinted sort-merge; see its scaladoc for why a hash hint OOMs under
    * the pair scan's concurrent memory pressure) and is
    * scored EXACTLY at full precision. Because the bound is a true upper
    * bound of the exact cosine (see [[HEAD_D]]'s scaladoc), the output is
    * identical to the single-tier exact join — every oracle twin stays an
    * exact-semantics replay, and [[QueryInvariantSpec]] pins the equality
    * (plus non-vacuous pruning) executably.
    */
  private[queries] def cellVerifiedPairs(s: SparkSession, dir: String,
      assign: DataFrame): DataFrame = {
    // round 15: each side also carries its ASSIGNMENT SCORE s1 = cos(v,
    // c(v)) and its sine — the angular-prune anchor (computed once per
    // ROW, before the pair-scan exchange, never per candidate). Within
    // one cell both directions of the anchor argument hold (c(u) and
    // c(v) both live in the joined cell), so the symmetric spelling
    // applies.
    // round 16 (the exchange-row narrowing): each side carries ONLY
    // (cell, id, hq, tn, s1) — the sine column and the norm column are gone
    // from the corpus-sized self-join exchange (two 8-byte slots per row
    // per side). The sine is folded into the SQUARED spelling of the
    // angular test below; the norm is pre-divided into the sketch.
    // round 17: the head itself ships packed (binary16), scored by the
    // codegen vec_dot_half — see [[sharedPairSketch]] / [[SKETCH_EPS]].
    // round 17: the sketch⋈assignment join widens like the probe path's
    // (see [[probeVerifiedPairs]])
    val nSk = Widths.widen(s, Augmented.rows(s, dir), Widths.EMB_PART_ROWS)
    def wsk(df: DataFrame): DataFrame =
      nSk.map(p => df.repartition(p, col("vec_id"))).getOrElse(df)
    val sk = wsk(sharedPairSketch(s, dir))
      .join(wsk(assign.select(col("vec_id"), col("cell"), col("s1"))), Seq("vec_id"))
    val l0 = sk.select(col("cell"), col("vec_id").as("i"), col("hq").as("ha"),
      col("tn").as("ta"), col("s1").as("su"))
    val r0 = sk.select(col("cell"), col("vec_id").as("j"), col("hq").as("hb"),
      col("tn").as("tb"), col("s1").as("sv"))
    // round 17 (derived exchange width): each side of the corpus-sized
    // self-join carries n sketch rows; under the session's partition
    // count the per-task sort state outruns its execution share at probe
    // tiers (the StageProbe-measured spill pathology)
    val (l, r) = Widths.widen(s, Augmented.rows(s, dir), Widths.PAIR_PART_ROWS) match {
      case Some(np) => (l0.repartition(np, col("cell")),
        r0.repartition(np, col("cell")))
      case None => (l0, r0)
    }
    val cand = l.join(r, Seq("cell")).filter(col("i") < col("j"))
      // tier 0 (scalar, short-circuits tier 1's 16-d dot): cos(u,v) ≤
      // cos(θ_u − θ_v) by the angular triangle inequality around the
      // shared cell anchor — prune when even that ceiling misses ANN_T.
      // SQUARED spelling (round 16): with d = T − ε − su·sv, the keep
      // test su·sv + sin_u·sin_v ≥ T − ε is equivalently d ≤ 0 ∨
      // (1−su²)(1−sv²) ≥ d² (both sides non-negative when d > 0) — the
      // sines never need computing, so they never need CARRYING across
      // the exchange either
      .filter(angularKeep(col("su"), col("sv")) &&
        (dotHalf(col("ha"), col("hb")) + col("ta") * col("tb") >=
          lit(ANN_T) - lit(SKETCH_EPS)))
      .select(col("i"), col("j"))
    rescoreExact(s, dir, cand)
  }

  /** The tier-0 angular keep test in sine-free squared form: with
    * d = ANN_T − BOUND_EPS − su·sv, keep iff d ≤ 0 or (1−su²)(1−sv²) ≥
    * d² − BOUND_EPS. Equivalent-superset of the sqrt spelling (squaring
    * is monotone on the non-negative branch; the trailing BOUND_EPS
    * absorbs the squared form's own double rounding — it can only ADMIT,
    * never prune, relative to the real-arithmetic predicate), and free of
    * per-candidate sqrt AND of per-row carried sine columns.
    */
  private def angularKeep(su: Column, sv: Column): Column = {
    val d = lit(ANN_T) - lit(BOUND_EPS) - su * sv
    (d <= lit(0.0d)) ||
      ((lit(1.0d) - su * su) * (lit(1.0d) - sv * sv) >= d * d - lit(BOUND_EPS))
  }

  /** nprobe=2 verified pairs over an IVF assignment — the probe-search
    * shape shared by `sim_ann_ivf_probe` (coarse chain) and, round 10,
    * `sim_ann_ivf_imi` (the three-level chain's production search: a
    * deeper/cheaper descent is a coarser approximation, so it buys its
    * recall back at SEARCH time by probing the home AND second-nearest
    * cell — the FAISS-IMI discipline of pairing a multi-index descent
    * with a wider nprobe. Round 10 first tried widening the DESCENT
    * instead — top-2 at levels 1 and 2 — and measured recall at sf0.1
    * move 0.823 → 0.800/0.811: a wider menu improves each vector's own
    * assignment but not pair CO-assignment; probe candidates are instead
    * a strict SUPERSET of the nprobe=1 search, so recall can only rise).
    * Tier-1 scores the Cauchy–Schwarz sketch bound inside the probe
    * join; the distinct runs over bound survivors (O(near-dups)); tier-2
    * rescores exactly ([[rescoreExact]]).
    */
  private[queries] def probeVerifiedPairs(s: SparkSession, dir: String,
      assign: DataFrame): DataFrame = {
    // round 17: the sketch⋈assignment vec_id join also widens to the
    // derived width — its sort at the session count spilled ~19 GB in
    // the 10⁷ StageProbe run (assignment rows carry the probes array,
    // ~270 B raw)
    val nAug = Augmented.rows(s, dir)
    val nSk = Widths.widen(s, nAug, Widths.EMB_PART_ROWS)
    def wsk(df: DataFrame): DataFrame =
      nSk.map(p => df.repartition(p, col("vec_id"))).getOrElse(df)
    val sk = wsk(sharedPairSketch(s, dir))
      .join(wsk(assign.select(col("vec_id"), col("cell"), col("s1"), col("probes"))),
        Seq("vec_id"))
    // Each probe row carries sr = the prober's cosine TO THE PROBED
    // CELL'S OWN FINE CENTROID — s1 for the home region, s1 − mgn_r for
    // a ranked extra region. Both are EXACT, not upper bounds: regions
    // are single fine cells in every chain (the coarse chain's probe is
    // the runner-up fine centroid with s2 = cos(u, c_pc); the IMI
    // chain's ranked regions are per-explored-cell fine WINNERS, each
    // carrying cs = cos(u, c_pc) — see [[Ivf.Imi]]'s region
    // emission), and a member v of cell pc scores sv = cos(v, c_pc)
    // against the SAME centroid. The prune anchor is therefore shared
    // and exact on both sides, so the symmetric angular test applies to
    // every ordering — the round-15 first cut's `sv ≤ sr` vacuous-keep
    // escape (needed only if sr merely bounded cos(u, c_pc) from above)
    // is unnecessary.
    // round 16 (the exchange-row narrowing): probe rows carry ONLY
    // (pc, u, ha, ta, sr) — the sine and norm slots are gone from the
    // ~6×-larger probe side of the measured EXCHANGE+SORT wall (the sine
    // via [[angularKeep]]'s squared spelling, the norm via the
    // pre-normalized sketch); the member side drops the same two slots.
    // round 17: `ha`/`hb` are the PACKED binary16 heads (40 vs 88
    // UnsafeRow bytes — see [[sharedPairSketch]]), scored by
    // vec_dot_half under the widened [[SKETCH_EPS]].
    val probes = sk.select(col("cell").as("pc"), col("vec_id").as("u"),
        col("hq").as("ha"), col("tn").as("ta"),
        col("s1").as("sr"))
      // margin-gated extra regions (round 11; round 14 — derived width):
      // the chain's ranked probe list carries each region's cross-region
      // margin, and only BOUNDARY pairings — margin ≤ PROBE_MARGIN_T —
      // pay the probe. A vector that beat a region's winner decisively
      // sits deep inside its home cell, and a ≥COS_T-similar neighbor of
      // a deep vector lands in the same cell; the recall-relevant probes
      // concentrate at small margins (the FAISS refinement discipline).
      // Candidates remain a superset of the nprobe=1 search (the home
      // branch is untouched), so probe recall ≥ nprobe=1 recall holds.
      .unionByName(sk
        .select(col("vec_id").as("u"), col("hq").as("ha"), col("tn").as("ta"),
          col("s1"), explode(col("probes")).as("pr"))
        .filter(col("pr").getField("mgn") <= lit(PROBE_MARGIN_T))
        .select(col("pr").getField("pc").as("pc"), col("u"),
          col("ha"), col("ta"),
          (col("s1") - col("pr").getField("mgn")).as("sr")))
    val home = sk.select(col("cell").as("pc"), col("vec_id").as("v"),
      col("hq").as("hb"), col("tn").as("tb"),
      col("s1").as("sv"))
    // Tier-0 angular prune (round 15 — the derived width's cost lever,
    // output-invariant by algebra): sr·sv + sin·sin = cos(θ(u,c_pc) −
    // θ(v,c_pc)) exactly, and cos(u,v) ≤ cos(Δθ) by the spherical
    // triangle inequality around the shared anchor — prune when even
    // that ceiling misses ANN_T. A pair whose exact cosine clears ANN_T
    // always survives (its ceiling is at least its exact cosine), so the
    // verified OUTPUT is bit-identical to the unpruned search (the same
    // superset-safety as tier 1's Cauchy–Schwarz bound), every oracle
    // twin replays unchanged, and the conjunct order makes the 16-d dot
    // short-circuit behind the scalar test.
    // Deliberately UNHINTED (sort-merge), like [[rescoreExact]]: a
    // SHUFFLE_HASH hint on the member side — attractive because it would
    // skip sorting the ~6×-larger probe side — was MEASURED to fail the
    // 10⁷ run outright ("There is not enough memory to build hash map",
    // stage 137): 32 concurrent ~100 MB member-side builds demand
    // execution memory the probe side's exchange is simultaneously
    // draining, while sort-merge spills gracefully under the same
    // pressure. The round-9 rescore lesson generalizes to every join
    // that lives inside the pair-scan's memory envelope.
    // round 17 (derived exchange width): the probe side is the dominant
    // relation — worst case widthP rows per vector (home + τ-admitted
    // regions; StageProbe measured 6.1n at the 10⁷ tier's widthP = 12).
    // Under the session's 32 partitions its sort ran at ~1 GB/task and
    // spilled 37 GB; sized to ~PAIR_PART_ROWS rows the sort fits its
    // execution share. Both sides repartition to the same (pc, N), so the
    // join reuses these two exchanges — same Exchange count, wider.
    val (widthP, _) = Ivf.staticProbeWidth(nAug)
    val (probesW, homeW) = Widths.widen(s, nAug * widthP, Widths.PAIR_PART_ROWS) match {
      case Some(np) => (probes.repartition(np, col("pc")),
        home.repartition(np, col("pc")))
      case None => (probes, home)
    }
    val cand = probesW.join(homeW, Seq("pc"))
      .filter(col("u") =!= col("v"))
      .filter(angularKeep(col("sr"), col("sv")) &&
        (dotHalf(col("ha"), col("hb")) + col("ta") * col("tb") >=
          lit(ANN_T) - lit(SKETCH_EPS)))
      .select(least(col("u"), col("v")).as("i"),
        greatest(col("u"), col("v")).as("j"))
      .distinct()
    rescoreExact(s, dir, cand)
  }

  /** Exact-cosine rescore of a candidate (i, j) set: two vec_id equi-join
    * fetches of full-precision vectors, the 64-d fold, and the ≥ANN_T
    * verification — the `sim_ann_quantized_rescore` fetch shape, measured
    * working at n=10⁷ in round 9. Deliberately UNHINTED: a SHUFFLE_HASH
    * hint here failed the whole gate at 10⁷ ("Can't acquire 67108864
    * bytes memory to build hash relation") — 32 concurrent hash builds
    * each demand a 64 MB initial page from the execution pool the
    * upstream pair scan is simultaneously draining, while sort-merge
    * spills gracefully under the same pressure. Shared by the two-tier
    * cell scan and the nprobe=2 probe path.
    */
  private def rescoreExact(s: SparkSession, dir: String, cand: DataFrame): DataFrame = {
    val n = withNorm(Augmented.frame(s, dir))
    // round 17 (derived exchange width — the same StageProbe-measured
    // spill pathology as the pair scans): the fetch joins move full
    // 64-float embedding rows (~300 B raw); at the session's partition
    // count the 10⁷ rescore stages re-spilled ~15 GB. Width derives from
    // the corpus count ([[Widths.EMB_PART_ROWS]] rows ≈ the 64 MB advisory)
    val np = Widths.widen(s, Augmented.rows(s, dir), Widths.EMB_PART_ROWS)
    def w(df: DataFrame, k: String): DataFrame =
      np.map(p => df.repartition(p, col(k))).getOrElse(df)
    val withA = w(cand, "i")
      .join(w(n.select(col("vec_id").as("i"), col("embedding").as("ea"),
        col("nrm").as("na")), "i"), Seq("i"))
    w(withA, "j")
      .join(w(n.select(col("vec_id").as("j"), col("embedding").as("eb"),
        col("nrm").as("nb")), "j"), Seq("j"))
      .withColumn("cos", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cos") >= ANN_T)
      .select(col("i"), col("j"), col("cos"))
  }

  /** Streaming index ingest (`stream_ann_ingest` — registered in
    * [[StreamGate]] with the other stream gates): "today's arrivals"
    * (vec_id % 4 == 0, the [[`sim_ann_incremental`]] convention) flow
    * through a file stream and are assigned to their IVF cells inside
    * `foreachBatch` against the CORPUS-trained two-level codebook — the
    * micro-batch index-maintenance path a 100-TB deployment runs: the
    * codebook is a published artifact (trained offline, written once,
    * read per batch), arrivals never see the corpus, and per-batch cost
    * is O(batch·√k·d) regardless of history. Assignment is per-vector
    * independent given the codebook, so the result is invariant to
    * micro-batch boundaries — no single-file backlog constraint needed,
    * and the DuckDB twin can replay the same descent declaratively over
    * the arrival subset.
    */
  private[queries] def streamIngestAssign(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val in = TempDirs.fresh("annin_in")
    val out = TempDirs.fresh("annin_out")
    val ckpt = TempDirs.fresh("annin_ck")
    val cb = TempDirs.fresh("annin_cb")
    val arrivals = Tables.embeddings(s, dir).filter(col("vec_id") % 4 === 0)
    arrivals.write.mode("overwrite").parquet(in)
    // the corpus-trained codebook (k from the CORPUS size — the index's k,
    // not the batch's), published as the one artifact the per-batch
    // assigner reads
    Ivf.coarseCodebook(s, dir, Ivf.cellCount(Ivf.Plain.rows(s, dir)))
      .write.mode("overwrite").parquet(cb)
    // backlog-derived shuffle partitions for the per-batch assignment work
    // (broadcast joins + argmax aggregates) — see [[StreamGate.streamSession]].
    // The child session needs no setup: the vec_* expressions are bound
    // into the batch's Columns directly, not looked up in its (fresh)
    // function registry.
    val s2 = StreamGate.streamSession(s, in)
    val q = s2.readStream
      .schema(arrivals.schema).parquet(in)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val ss = batch.sparkSession
        Ivf.assignWithCodebook(batch, ss.read.parquet(cb))
          .write.mode("append").parquet(out)
      }
      .option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow()).start()
    StreamGate.awaitOrFail(q, 300000)
    s.read.parquet(out).select(col("vec_id"), col("cell"), col("cell2"))
  }

  /** DuckDB twin of [[streamIngestAssign]]: the [[coarseAssignCtes]]
    * descent over the PLAIN corpus (k from the corpus count, matching the
    * stream's offline-trained codebook), restricted to the arrival subset
    * at the end — exact because assignment is per-vector independent.
    */
  private[queries] lazy val streamIngestOracle: String =
    s"""WITH $plainAssignCtes
       |SELECT vec_id, cell, cell2 FROM assign
       |WHERE vec_id % 4 = 0""".stripMargin

  def ivfQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ANN via IVF with k-means centroids: deterministic (hash-ranked)
    // seeds refined by one Lloyd step — assign all vectors to their
    // nearest seed, recompute each cell's component-wise mean declaratively
    // (explode → groupBy(cell, dim) → re-assemble ordered array), then the
    // FINAL assignment and the within-cell pair join use the refined
    // centroids. nprobe=1; at scale, probing the p nearest centroids trades
    // recall for p× candidate volume — the same bucket-join shape. The
    // gate's robustness does not depend on float drift in the means:
    // identical vectors assign identically under ANY centroid set, and only
    // identical (planted) pairs clear the 0.999 threshold.
    "sim_ann_ivf" -> ((s, dir) => {
      val emb = Augmented.frame(s, dir)
      val assign = assignment(s, dir, Augmented, Ivf.Flat)
      val e = withNorm(emb).join(assign, Seq("vec_id"))
      val l = e.select(col("cell"), col("vec_id").as("i"), col("embedding").as("ea"), col("nrm").as("na"))
      val r = e.select(col("cell"), col("vec_id").as("j"), col("embedding").as("eb"), col("nrm").as("nb"))
      l.join(r, Seq("cell")).filter(col("i") < col("j"))
        .withColumn("cos", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
        .filter(col("cos") >= ANN_T)
        .select(col("i"), col("j"), round(col("cos"), 6).as("cosine"))
    }),

    // IVF search with nprobe=2 — THE recall lever the `sim_ann_ivf`
    // scaladoc names: every vector probes its nearest AND second-nearest
    // centroid's cell (`cell2` rides along from the same assignment window
    // at zero extra cost), so pairs split across a cell boundary — the
    // boundary-loss failure mode of nprobe=1 IVF — become candidates.
    // Probes join the home-cell index on the cell id as a plain
    // equi-join, the same key every nprobe=1 scan joins on (candidate
    // volume is nprobe× the nprobe=1 path).
    // Round 9: runs on the COARSE two-level assignment (the production
    // index — flat assignment quadratizes with k ∝ n, see
    // [[Ivf.TwoLevel]]). By construction the candidate set is a
    // superset of `sim_ann_ivf_coarse`'s same-cell pairs, so probe
    // recall ≥ nprobe=1 recall — pinned in [[QueryInvariantSpec]].
    // SCALE SHAPE (round 9, from the n=10⁶ probe): candidates are FILTERED
    // IN the probe join and deduplicated only after. The earlier
    // candidate-first plan (`.distinct()` on the raw (i, j) candidate set
    // before any scoring) shuffled the ~2·nprobe·n·E[cell] candidate rows
    // THREE times — the distinct plus both fetch joins — and measured
    // 547 s at n=10⁶ vs 40 s for the nprobe=1 gate. Filtering inline
    // keeps the candidate volume inside one codegen stage (join → bound →
    // filter), so the distinct runs over the bound survivors
    // (O(near-dups), corpus-independent). A pair found via both probe
    // routes evaluates the bound bit-identically (elementwise float dot
    // is commutative, same sum order), so the survivor distinct collapses
    // it exactly before the rescore fetch pays for it.
    // Round 10: the probe join rides the pair SKETCH ([[sharedPairSketch]])
    // — tier-1 scores the Cauchy–Schwarz bound on 16-d heads inside the
    // probe join (the same inline-scoring shape as before, so the 2·n·√k
    // candidate volume still never re-shuffles), the distinct now runs
    // over the tiny bound-survivor (i, j) set (O(near-dups), exactly the
    // post-filter-distinct discipline of round 9), and tier-2 rescores
    // survivors exactly — output identical to inline exact scoring.
    "sim_ann_ivf_probe" -> ((s, dir) => {
      probeVerifiedPairs(s, dir, assignment(s, dir, Augmented, TwoLevel))
        .select(col("i"), col("j"), round(col("cos"), 6).as("cosine"))
    }),

    // IVF candidates scored on INT8-QUANTIZED vectors first, exact-cosine
    // rescore second — the two-tier scoring every production ANN system
    // runs at 100 TB: the index stores 4×-compressed int8 codes
    // (emb_quantize_sq's scheme: per-vector max-abs scale, q=⌊x·s+0.5⌋),
    // the within-cell candidate pass scores on codes (integer dot products,
    // exact in double), and only candidates clearing a margin-relaxed
    // threshold fetch full-precision vectors for the exact rescore. The
    // margin (QP_MARGIN) dominates the worst-case int8 cosine error
    // (~(4/127)·(max_a/‖a‖ + max_b/‖b‖) ≈ 0.024 at 64-d), so the prefilter
    // can only drop pairs whose EXACT cosine is also below ANN_T — output ≡
    // `sim_ann_ivf_coarse` (round 9: the candidate cells come from the
    // production two-level assignment, [[Ivf.TwoLevel]]), pinned in
    // [[QueryInvariantSpec]]. At scale the rescore
    // fetch is O(candidates), and the candidate scan reads 1/4 the bytes.
    "sim_ann_quantized_rescore" -> ((s, dir) => {
      val emb = Augmented.frame(s, dir)
      val assign = assignment(s, dir, Augmented, TwoLevel)
      val mx = aggregate(col("embedding"), lit(0.0d),
        (acc, x) => greatest(acc, abs(x.cast(DoubleType))))
      // The candidate join carries ONLY the int8 codes (float-exact ≤ 127,
      // so vec_dot scores them codegen'd and allocation-free), the scale,
      // and the norm — the full-precision vectors stay out of the shuffle
      // entirely, which is the actual byte saving of a quantized index.
      val q8 = withNorm(emb).join(assign, Seq("vec_id"))
        .withColumn("sc", lit(127.0d) / mx)
        .withColumn("qv", transform(col("embedding"),
          x => floor(x.cast(DoubleType) * col("sc") + 0.5d).cast(FloatType)))
        .select(col("cell"), col("vec_id"), col("qv"), col("sc"), col("nrm"))
      val l = q8.select(col("cell"), col("vec_id").as("i"), col("qv").as("qa"),
        col("sc").as("sa"), col("nrm").as("na"))
      val r = q8.select(col("cell"), col("vec_id").as("j"), col("qv").as("qb"),
        col("sc").as("sb"), col("nrm").as("nb"))
      val cand = l.join(r, Seq("cell")).filter(col("i") < col("j"))
        .withColumn("qcos",
          dot(col("qa"), col("qb")) / (col("sa") * col("sb") * col("na") * col("nb")))
        .filter(col("qcos") >= ANN_T - QP_MARGIN)
        .select(col("i"), col("j"))
      // rescore fetch: candidates are O(near-dups), so these two vec_id
      // equi-joins touch full-precision vectors for a sliver of the corpus
      val n = withNorm(emb)
      cand
        .join(n.select(col("vec_id").as("i"), col("embedding").as("ea"), col("nrm").as("na")), Seq("i"))
        .join(n.select(col("vec_id").as("j"), col("embedding").as("eb"), col("nrm").as("nb")), Seq("j"))
        .withColumn("cos", dot(col("ea"), col("eb")) / (col("na") * col("nb")))
        .filter(col("cos") >= ANN_T)
        .select(col("i"), col("j"), round(col("cos"), 6).as("cosine"))
    }),

    // IVF-PQ search — THE production trillion-vector ANN shape (FAISS's
    // IVF*,PQ*): the COARSE two-level IVF assignment (round 9 — the flat
    // assignment quadratizes with k ∝ n; [[Ivf.TwoLevel]] is the
    // billion-vector discipline) restricts candidates to the anchor's
    // cell, and those candidates are scored from their 8 one-byte PQ
    // codes via the anchor's broadcast lookup table — so the pair scan
    // touches neither full vectors nor even int8 vectors, only codes. Composes the two shared indexes a
    // deployment maintains (cell assignment + code table); per-candidate
    // cost is 8 table adds. Planted-twin recall pinned in
    // [[QueryInvariantSpec]] (a twin shares cell AND codes).
    "sim_ann_ivf_pq" -> ((s, dir) => {
      val emb = Augmented.frame(s, dir)
      val assign = assignment(s, dir, Augmented, TwoLevel)
      val cb = pqCodebook(emb)
      val codes = sharedPqCodes(s, dir)
        .select(col("vec_id").as("nb"), col("m"), col("code"))
      val anch = AnchorSample.withAnchors(emb, col("vec_id"))
        .filter(col("is_anchor"))
      val anchSv = anch
        .select(col("vec_id").as("q"), explode(sequence(lit(0), lit(7))).as("m"), col("embedding"))
        .select(col("q"), col("m"), slice(col("embedding"), col("m") * 8 + 1, lit(8)).as("sv"))
      val lut = anchSv.join(broadcast(cb), Seq("m"))
        .withColumn("ld2", pqDist2(col("sv"), col("cb")))
        .select(col("q"), col("m"), col("code"), col("ld2"))
      val cand = anch.select(col("vec_id").as("q"))
        .join(assign.select(col("vec_id").as("q"), col("cell")), Seq("q"))
        .join(assign.select(col("cell"), col("vec_id").as("nb")), Seq("cell"))
        .filter(col("q") =!= col("nb"))
        .select(col("q"), col("nb"))
      val w = Window.partitionBy(col("q"))
        .orderBy(col("adist").asc, col("nb").asc)
      cand.join(codes, Seq("nb"))
        .join(broadcast(lut), Seq("q", "m", "code"))
        .groupBy(col("q"), col("nb"))
        .agg(sum(col("ld2").cast(DecimalType(28, 12))).as("adist"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= TOPK)
        .select(col("q").as("vec_id"), col("rn").cast(IntegerType).as("rank"),
          col("nb").as("neighbor_id"), round(col("adist").cast(DoubleType), 6).as("adist"))
    }),

    // Int8 scalar quantization (the SQ compression step ANN infrastructure
    // runs before indexing 100 TB of embeddings — 4× smaller vectors, dot
    // products on int8): per-vector max-abs scaling, q = ⌊x·scale + 0.5⌋
    // (spelled as floor, not round(), so both engines execute the identical
    // IEEE expression — round()'s tie rule differs across engines),
    // reported with the per-vector reconstruction MSE. Map-only: one pass,
    // no shuffle at any scale.
    "emb_quantize_sq" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val mx = aggregate(col("embedding"), lit(0.0d),
        (acc, x) => greatest(acc, abs(x.cast(DoubleType))))
      val q = emb.withColumn("scale", lit(127.0d) / mx)
      val err = aggregate(
        zip_with(col("embedding"),
          transform(col("embedding"),
            x => floor(x.cast(DoubleType) * col("scale") + 0.5d)),
          (x, qv) => {
            val d = x.cast(DoubleType) - qv / col("scale")
            d * d
          }),
        lit(0.0d), (acc, d) => acc + d)
      q.select(col("vec_id"), round(col("scale"), 6).as("scale"),
        round(err / size(col("embedding")), 6).as("mse"))
    }),

    // (PQ helpers live below pqDist2; queries: emb_pq_encode, sim_ann_pq_adc)
    // Product quantization encode (M=8 subspaces × 8 dims, K=16 codes):
    // the 100-TB embedding-index compression beyond scalar quantization —
    // 8 one-byte codes per 64-d float vector (32×), with asymmetric
    // distances computable from per-query lookup tables downstream. The
    // codebook derives deterministically from the corpus (the IVF-seeds
    // discipline: entry c of subspace m = the c-th vector's m-th
    // subvector, c < 16); per (vector, subspace) the nearest entry by
    // exact L2 wins, ties to the lower code. Scale shape: the codebook is
    // 128 tiny rows → broadcast; encode is one window over (vec_id, m) —
    // candidate volume n×M×K, linear in the corpus; per-subspace
    // distortions DECIMAL-cast before the per-vector sum (exact, order
    // independent). Codebook-member vectors must self-encode at zero
    // distortion — pinned in [[QueryInvariantSpec]].
    "emb_pq_encode" -> ((s, dir) => {
      val emb = Tables.embeddings(s, dir)
      val enc = pqAssign(pqSubvectors(emb), pqCodebook(emb))
        .withColumn("d2x", col("d2").cast(DecimalType(28, 12)))
      val codeCols = (0 until 8).map(m =>
        max(when(col("m") === m, col("code"))).as(s"c$m"))
      enc.groupBy(col("vec_id"))
        .agg(codeCols.head, codeCols.tail :+
          round(sum(col("d2x")).cast(DoubleType) / 64.0d, 6).as("mse"): _*)
    }),

    // PQ asymmetric-distance search (the IVF-PQ scoring half): each ANCHOR
    // query builds a lookup table of exact L2² against every codebook
    // entry (s×8×16 rows — broadcast), and the coded corpus is scored by
    // summing 8 table entries per vector — the corpus side never touches
    // floats, only one-byte codes, which is why a 100 TB index scans at
    // code width. Distances are code-space approximations; top-k per
    // anchor with (adist, id) tie-break. Per-(anchor, m) entries are
    // DECIMAL-cast before the 8-way sum (exact, order independent). Runs
    // over the AUGMENTED corpus (planted exact duplicates, like every ANN
    // gate): an anchor's twin shares all 8 codes, so its adist is the
    // anchor's own reconstruction distortion — planted-duplicate recall is
    // pinned in [[QueryInvariantSpec]]. (Top-k recall on UNSTRUCTURED
    // random vectors is inherently low for any 16-entry codebook —
    // near-equidistant points — which is why the gate plants structure.)
    "sim_ann_pq_adc" -> ((s, dir) => {
      val emb = Augmented.frame(s, dir)
      val cb = pqCodebook(emb)
      val codes = sharedPqCodes(s, dir)
      val anchSv = AnchorSample.withAnchors(emb, col("vec_id"))
        .filter(col("is_anchor")).select(col("vec_id"), col("embedding"))
        .select(col("vec_id").as("q"), explode(sequence(lit(0), lit(7))).as("m"), col("embedding"))
        .select(col("q"), col("m"), slice(col("embedding"), col("m") * 8 + 1, lit(8)).as("sv"))
      val lut = anchSv.join(broadcast(cb), Seq("m"))
        .withColumn("ld2", pqDist2(col("sv"), col("cb")))
        .select(col("q"), col("m"), col("code"), col("ld2"))
      val w = Window.partitionBy(col("q"))
        .orderBy(col("adist").asc, col("neighbor_id").asc)
      // spread the code table across cores before the ~|anchors|× LUT
      // expansion + decimal aggregation: the cached entry's own layout is
      // 1-4 AQE-coalesced partitions (right for its size), but THIS
      // consumer amplifies every code row, so it re-spreads its input
      // where the amplification factor is known (measured: 5.7 s -> 2.0 s
      // at sf0.1 on the 1-partition entry)
      codes.repartition(s.sparkContext.defaultParallelism)
        .join(broadcast(lut), Seq("m", "code"))
        .filter(col("q") =!= col("vec_id"))
        .groupBy(col("q"), col("vec_id"))
        .agg(sum(col("ld2").cast(DecimalType(28, 12))).as("adist"))
        .withColumnRenamed("vec_id", "neighbor_id")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= TOPK)
        .select(col("q").as("vec_id"), col("rn").cast(IntegerType).as("rank"),
          col("neighbor_id"), round(col("adist").cast(DoubleType), 6).as("adist"))
    }),

    // Johnson-Lindenstrauss random projection 64 → 16 (Achlioptas ±1
    // signs / √k): THE dimensionality contraction a 100 TB embedding
    // pipeline runs before clustering or coarse ANN — 4× fewer bytes per
    // vector with pairwise distances preserved in expectation (the JL
    // concentration is pinned with a tolerance spec, not the oracle). The
    // sign matrix is derived md5 parity (see [[rpSigns]]) shipped as plan
    // literals, so the per-row path is RP_K sequential folds — map-only,
    // whole-stage codegen, zero shuffles, zero hashing. Output is the 16
    // projected components as scalar columns (the driver's hasher takes
    // no arrays), each a left-to-right fold matching DuckDB's list_sum.
    "emb_random_projection" -> ((s, dir) => {
      val scale = math.sqrt(RP_K.toDouble)
      val comps = (0 until RP_K).map { k =>
        val p = aggregate(
          zip_with(col("embedding"), typedlit(rpSigns(k)),
            (x, sg) => x.cast(DoubleType) * sg),
          lit(0.0d), (acc, v) => acc + v) / lit(scale)
        round(p, 6).as(s"p$k")
      }
      Tables.embeddings(s, dir).select(col("vec_id") +: comps: _*)
    }),

    // SemDeDup-shaped semantic dedup: cluster the corpus (round 9: the
    // COARSE two-level IVF cells — [[Ivf.TwoLevel]], the assignment
    // that stays O(n·√k·d) as the corpus and the derived k grow — flat
    // assignment was the round-8 probe's scale cliff), detect within-cell
    // cosine-≥T pairs, close the pair
    // graph into groups (operators.Components, checked fixpoint), and keep
    // ONE representative per group (the min vec_id). The all-pairs space is
    // never materialized — candidates exist only within a cell — and the
    // closure iterates over the pair set, which is orders of magnitude
    // smaller than the corpus. Output is the per-vector keep/drop decision a
    // curation pipeline consumes downstream; at 100 TB the cells shard the
    // corpus so each within-cell join is an equi-join on `cell`.
    "dedup_semantic" -> ((s, dir) => {
      val emb = Augmented.frame(s, dir)
      // two-tier within-cell pair detection (round 10): sketch-bound
      // candidates, exact rescore — identical pair set, ~4× less pair-scan
      // compute and a ~3.5×-slimmer candidate shuffle (see
      // [[cellVerifiedPairs]])
      val pairs = cellVerifiedPairs(s, dir, assignment(s, dir, Augmented, TwoLevel))
        .select(col("i"), col("j"))
      val labels = graft.operators.Components.connectedComponents(pairs)
      val w = Window.partitionBy(col("group_id"))
      emb.select(col("vec_id"))
        .join(labels.select(col("node").as("vec_id"), col("label")), Seq("vec_id"), "left")
        .select(col("vec_id"), coalesce(col("label"), col("vec_id")).as("group_id"))
        .withColumn("group_size", count(lit(1)).over(w))
        .withColumn("is_kept", col("vec_id") === col("group_id"))
    }),

    // Candidate recall of every ANN path against ANCHORED exact-cosine
    // ground truth (COS_T truth pairs touching a derived-constant anchor
    // sample of the augmented corpus — O(s·n), the production
    // recall-estimation shape), UNDER the oracle gate: a bucket-parameter
    // regression (broken banding, wrong probe expansion, degenerate
    // centroids) changes n_found and fails the hash compare, and the
    // recall_ok boolean pins the design floor the way the approx_*
    // tolerance gates do. Anchoring subsamples truth uniformly, so the
    // recall estimate is unbiased — and the planted duplicates guarantee
    // anchored positives at every sf. Round 9: the `ivf` row governs the
    // PRODUCTION index — the coarse two-level assignment every IVF
    // consumer now runs on ([[Ivf.TwoLevel]]); the flat chain is
    // governed by `sim_ann_ivf`'s own exact oracle gate (a strictly
    // stronger check than a recall floor), so recall governance no longer
    // pays — or legitimizes — the quadratic flat assignment.
    "ann_recall" -> ((s, dir) => {
      // round 12: truth carries the cosine BAND — the blended recall over
      // all ≥COS_T pairs is composition-dominated at scale (a 64-dim
      // corpus's random geometric tail at barely-COS_T grows with n·s
      // while its per-pair co-assignment probability decays like
      // nprobe²/k, so the blended number falls with k even when the index
      // is healthy — measured and decomposed in SCALE.md round 12). The
      // ≥ANN_T duplicate band is what the production consumers actually
      // OUTPUT (every IVF/LSH gate verifies pairs at ANN_T before
      // emitting), so governance pins BOTH: the blended row (unchanged
      // floors, the historical record) and the duplicate-band recall with
      // its own floor (the quality-at-scale contract — flat at 1.0
      // through 10⁷, see SCALE.md).
      // round 14: truth and anchors are the shared per-(session, corpus)
      // cached governance tables — one maintained fixture serves this
      // gate, the near-twin gate's superset corpus twin, the margin
      // sweep, and the band decomposition (the round-13 verdict's
      // bench-cost item); is_dup derives from the exact cosine by
      // projection, so the gate's rows are bit-identical to the
      // per-query-built round-13 chain
      val truth = sharedAnnTruth(s, dir)
        .select(col("i"), col("j"), (col("cos") >= ANN_T).as("is_dup"))
      // the same anchor set the truth side samples (same universe → same
      // broadcast-derived modulus → identical membership)
      val anchors = sharedAnnAnchors(s, dir)
      val sigs = sharedLshSigs(s, dir)
      // round 14: the four anchor-candidate relations are cached per
      // (session, corpus) WITH the indexes they derive from — an anchored
      // recall estimate is maintained state in a production governance
      // pipeline (fixed anchor set, relation changes only when the index
      // does), and the decomposed warm cost of these gates was almost
      // entirely the ~10-stage self-join plans re-run per evaluation
      // (GovProbe round 14: 8.7 s for one probe-candidate action over an
      // 8000-row cached assignment — stage overhead, not data). Tiny
      // tables (O(s·cell) rows); the sweep/spec seams keep calling the
      // uncached builders, so the cache can never mask a drift between
      // the two.
      val ivfCand = CorpusCache.getOrBuild(s, s"candivf:$dir")(
        anchorCandidates(assignment(s, dir, Augmented, TwoLevel), "cell", anchors))
      // round 13 (round-12 verdict #3): the BLENDED recall is a
      // composition-sensitive DIAGNOSTIC, not a gated floor — at 10⁶⁺ the
      // random geometric tail dominates n_true and the blended number
      // collapses by geometry (1/k co-assignment of independent
      // directions) even while the production band stays found, so a
      // static blended floor is a latent gate failure at any larger sf.
      // The gated boolean is dup_ok alone (scale-stable by measurement:
      // 1.0 through 10⁷); the blended design floors (RECALL_*_T) survive
      // as [[QueryInvariantSpec]] assertions pinned at the sf0.001
      // fixture, where they are meaningful.
      def recallRow(method: String, cand: DataFrame): DataFrame =
        truth.join(cand.withColumn("hit", lit(1L)), Seq("i", "j"), "left")
          .agg(count(lit(1)).as("n_true"),
            sum(coalesce(col("hit"), lit(0L))).as("n_found"),
            sum(when(col("is_dup"), lit(1L)).otherwise(lit(0L))).as("n_true_dup"),
            sum(when(col("is_dup"), coalesce(col("hit"), lit(0L)))
              .otherwise(lit(0L))).as("n_found_dup"))
          .select(lit(method).as("method"), col("n_true"), col("n_found"),
            round(col("n_found").cast(DoubleType) / col("n_true"), 6).as("recall"),
            col("n_true_dup"), col("n_found_dup"),
            round(col("n_found_dup").cast(DoubleType) / col("n_true_dup"), 6)
              .as("recall_dup"),
            (col("n_found_dup").cast(DoubleType) / col("n_true_dup") >= RECALL_DUP_T)
              .as("dup_ok"))
      // the coarse-quantized assignment is an APPROXIMATION of the flat
      // argmax (boundary vectors may land in a different cell), which is
      // exactly why the production index needs this recall governance — a
      // two-level-restriction regression fails the oracle hash here, not
      // just the wall-clock probe
      recallRow("ivf", ivfCand)
        // round 10: the imi row audits the nprobe=2 candidate shape the
        // sim_ann_ivf_imi gate actually searches (probeVerifiedPairs)
        .unionByName(recallRow("ivf_imi", CorpusCache.getOrBuild(s, s"candimi:$dir")(
          probeAnchorCandidates(assignment(s, dir, Augmented, Imi), anchors))))
        .unionByName(recallRow("lsh", CorpusCache.getOrBuild(s, s"candlsh:$dir")(
          anchorCandidates(sigs, "bucket", anchors))))
        .unionByName(recallRow("lsh_multiprobe", CorpusCache.getOrBuild(s, s"candmp:$dir")(
          multiprobeAnchorCandidates(sigs, anchors))))
    }),

    // Near-twin recall governance (round 13 — the round-12 verdict's top
    // item): [[Ivf.NearTwin]] plants two PERTURBED cohorts — near-dup twins
    // at cos ≈ 0.98 (the [0.95, 0.999) band a production corpus's
    // re-uploads/paraphrases occupy) and emission-band twins at ≈ 0.9996
    // (≥ANN_T but NOT byte-identical) — and this gate measures per-band
    // candidate recall of the two production indexes over that corpus.
    // Identical copies co-assign by construction; these twins genuinely
    // can straddle cell boundaries, so the a_dup floor here is the first
    // non-tautological evidence the margin-gated nprobe=2 apparatus
    // (τ = PROBE_MARGIN_T) earns its complexity: at 10⁶ the imi row holds
    // the emission band at 0.982 where home-only search leaves it at
    // 0.928 (SCALE.md round 13). Bands come from the exactly-computed
    // cosine, never from cohort membership; the sub-emission bands ride
    // as ungated diagnostics (band_ok = true: their absolute recall is
    // scale-dependent geometry — see the no-floor note at [[NT_BAND_LO]];
    // the τ apparatus's own contract is the spec-pinned capture ratio
    // against the ungated nprobe=2 ceiling). Truth is
    // anchored (O(s·n)); candidates are anchor-restricted (O(s·cell)); the
    // assignments are cached per (session, corpus) like every index.
    "ann_recall_neartwin" -> ((s, dir) => {
      val truth = anchoredNtTruthBands(s, dir)
      val anchors = sharedNtAnchors(s, dir)
      def bandRows(method: String, cand: DataFrame): DataFrame =
        truth.join(cand.withColumn("hit", lit(1L)), Seq("i", "j"), "left")
          .groupBy(col("band"))
          .agg(count(lit(1)).as("n_true"),
            sum(coalesce(col("hit"), lit(0L))).as("n_found"))
          .withColumn("recall",
            round(col("n_found").cast(DoubleType) / col("n_true"), 6))
          .select(lit(method).as("method"), col("band"), col("n_true"),
            col("n_found"), col("recall"),
            // only the EMISSION band carries a floor; the sub-emission
            // bands are scale-dependent geometry (see the no-floor note at
            // [[NT_BAND_LO]]) and ride as ungated diagnostics
            when(col("band") === "a_dup",
              col("n_found").cast(DoubleType) / col("n_true") >= RECALL_DUP_T)
              .otherwise(lit(true)).as("band_ok"))
      // the same maintained-candidate discipline as `ann_recall` (the
      // sweep/spec seams audit the uncached builders)
      bandRows("ivf", CorpusCache.getOrBuild(s, s"candivfnt:$dir")(
        anchorCandidates(assignment(s, dir, NearTwin, TwoLevel), "cell", anchors)))
        .unionByName(bandRows("ivf_imi", CorpusCache.getOrBuild(s, s"candimint:$dir")(
          probeAnchorCandidates(assignment(s, dir, NearTwin, Imi), anchors))))
    }),

    // IVF under a COARSE QUANTIZER — the billion-vector assignment shape.
    // `sim_ann_ivf`'s flat assignment compares every vector against every
    // centroid: O(n·k·d), and since the derived k is n/1024, O(n²·d/1024)
    // — the round-8 n=10⁶ probe measured this as the family's scale cliff.
    // Here assignment is two-level (nearest coarse group of ⌈√k⌉, then
    // nearest fine centroid within the group — see [[Ivf.assignWithCodebook]]):
    // O(n·√k·d), sub-quadratic at any corpus size. The within-cell pair
    // join and 0.999 verification are identical to the
    // flat path; identical (planted) vectors co-assign under either
    // scheme, so both recover exactly the planted duplicate set — pinned
    // against `sim_ann_ivf` in [[QueryInvariantSpec]].
    // Round 10: the within-cell verification is two-tier ([[cellVerifiedPairs]]
    // — sketch-bound candidates, exact rescore of survivors; output
    // provably identical to the single-tier exact join, so the oracle twin
    // below stays an exact-semantics replay).
    "sim_ann_ivf_coarse" -> ((s, dir) => {
      cellVerifiedPairs(s, dir, assignment(s, dir, Augmented, TwoLevel))
        .select(col("i"), col("j"), round(col("cos"), 6).as("cosine"))
    }),

    // IVF under a THREE-LEVEL quantizer descent (IMI-shaped) — the
    // assignment for when even the two-level chain's ⌈√k⌉ coarse table
    // outgrows broadcast residency: level-1 (⌈k^(1/3)⌉) → level-2 (k^(2/3),
    // within the chosen level-1 group) → fine top-2 (within the chosen
    // level-2 group), O(3·n·k^(1/3)·d) candidate rows vs the two-level
    // O(2·n·√k·d) — see [[Ivf.Imi]]. Round 10: the SEARCH is
    // nprobe=2 ([[probeVerifiedPairs]] — home ∪ second-nearest cell,
    // sketch-bound tier-1, exact rescore): the deeper descent is a
    // coarser approximation, and the FAISS-IMI discipline buys the
    // recall back with a wider probe, not a wider descent (the round-9
    // verdict's thin 0.823 margin; probe candidates strictly contain the
    // nprobe=1 set, measured 0.891 at sf0.1). Candidate recall is
    // governed by `ann_recall`'s `ivf_imi` row — which audits the SAME
    // nprobe=2 candidate shape this gate searches — and identical
    // (planted) vectors still co-assign at every level — pinned in
    // [[QueryInvariantSpec]].
    "sim_ann_ivf_imi" -> ((s, dir) => {
      probeVerifiedPairs(s, dir, assignment(s, dir, Augmented, Imi))
        .select(col("i"), col("j"), round(col("cos"), 6).as("cosine"))
    }),

    // Hybrid retrieval fusion via Reciprocal Rank Fusion (Cormack et al.
    // 2009 — the standard RAG-corpus curation step): the lexical arm is
    // the maintained BM25 postings index (Curation.bm25Ranked, the
    // text_bm25_topk chain at depth FUSE_N) and the semantic arm is the
    // maintained coarse IVF index (the anchor's cell, exact-cosine
    // ranked) — both for the SAME query-by-example anchor (min doc_id;
    // documents and embeddings share the id space). Each arm contributes
    // 1/(RRF_K + rank); absent docs contribute 0; fused top-10 by (score
    // desc, doc_id asc). Scale shape: both arms are per-candidate probes
    // of indexes a deployment already maintains — the corpus is touched
    // only through the query-term postings and the anchor's cell — and the
    // fusion itself joins two ≤FUSE_N-row lists. The semantic arm's
    // augmented-assignment rows restrict to real documents through the
    // inner score join against the BASE embeddings table (planted twins
    // drop there, id-range-free, so the restriction survives shifted-id
    // probe fixtures).
    "fusion_rrf" -> ((s, dir) => {
      val lex = Curation.bm25Ranked(s, dir, FUSE_N)
        .select(col("doc_id"), col("lex_rank"))
      val emb = Tables.embeddings(s, dir)
      // id-span precondition (round-9 advice): the semantic arm drops
      // planted twins through its inner join against BASE embeddings —
      // which is only sound while no two base vec_ids differ by exactly
      // the +100000 augment offset (an aliased twin would duplicate a
      // real doc in the candidate list, mirrored in the oracle, so the
      // hash gate could not catch it). Enforce eagerly at construction
      // (the Bloom-capacity `.first()` discipline): one O(n) left-semi
      // probe, failing fast on any corpus violating the assumption —
      // MEMOIZED per (session, dir) (round-10 advice: plan-only consumers
      // and repeated constructions must not pay the scan again).
      Preconditions.once(s, s"fusion_rrf:id-span:$dir") {
        require(emb.select((col("vec_id") + lit(100000L)).as("vec_id"))
            .join(emb.select(col("vec_id")), Seq("vec_id"), "left_semi").isEmpty,
          "fusion_rrf: the +100000 augment offset aliases real vec_ids in this corpus")
      }
      val assign = assignment(s, dir, Augmented, TwoLevel)
      // the anchor is the memoized driver Long bm25Ranked ranks for
      val isAnchor = Curation.corpusStats(s, dir).anchor
        .fold(lit(false))(a => col("vec_id") === lit(a))
      val qvec = withNorm(emb).filter(isAnchor)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("nrm").as("qn"))
      val qcell = assign.filter(isAnchor).select(col("cell"))
      val wsem = Window.orderBy(col("cos").desc, col("vec_id").asc)
      val sem = assign.join(broadcast(qcell), Seq("cell"))
        .select(col("vec_id"))
        .join(withNorm(emb), Seq("vec_id"))
        .crossJoin(broadcast(qvec))
        .filter(col("vec_id") =!= col("qid"))
        .withColumn("cos", dot(col("embedding"), col("qe")) / (col("nrm") * col("qn")))
        .orderBy(col("cos").desc, col("vec_id").asc).limit(FUSE_N)
        .withColumn("sem_rank", row_number().over(wsem).cast(IntegerType))
        .select(col("vec_id").as("doc_id"), col("sem_rank"))
      val wf = Window.orderBy(col("rrf").desc, col("doc_id").asc)
      lex.join(sem, Seq("doc_id"), "full_outer")
        .withColumn("rrf",
          coalesce(lit(1.0d) / (lit(RRF_K) + col("lex_rank")), lit(0.0d)) +
            coalesce(lit(1.0d) / (lit(RRF_K) + col("sem_rank")), lit(0.0d)))
        .orderBy(col("rrf").desc, col("doc_id").asc).limit(10)
        .withColumn("rank", row_number().over(wf).cast(IntegerType))
        .select(col("doc_id"), col("rank"), round(col("rrf"), 6).as("rrf"),
          coalesce(col("lex_rank"), lit(0)).as("lex_rank"),
          coalesce(col("sem_rank"), lit(0)).as("sem_rank"))
    })
  )

  /** Fusion depth per arm and the standard RRF dampening constant. */
  private[queries] val FUSE_N = 20
  private[queries] val RRF_K = 60

  /** Blended-recall design floors — ALL FOUR asserted executably at the
    * sf0.001 fixture by [[QueryInvariantSpec]]'s governance test: ivf and
    * ivf_imi at ≥ floor + 0.05 headroom, lsh and lsh_multiprobe at their
    * exact floors (the round-14 ADVICE fix — the lsh floors had silently
    * dropped out of governance when the gated boolean narrowed to
    * dup_ok). The blended number is composition-sensitive at scale (see
    * the recallRow note), which is why these live in the spec at the
    * fixture where they are meaningful rather than in the driver-sf gate.
    */
  private[queries] val RECALL_LSH_T = 0.8
  private[queries] val RECALL_MP_T = 0.8
  private[queries] val RECALL_IVF_T = 0.8
  private[queries] val RECALL_IMI_T = 0.8

  /** Floor on DUPLICATE-BAND recall (truth pairs at cos ≥ ANN_T — the band
    * the production consumers emit after verification). Identical planted
    * vectors co-assign deterministically under every method, so the
    * measured value is 1.0 at every tier (sf0.001 → 10⁷, SCALE.md round
    * 12); 0.95 leaves headroom for a fixture that plants near-exact
    * rather than bit-identical duplicates while still failing loudly on
    * any systematic assignment regression.
    */
  private val RECALL_DUP_T = 0.95

  /** Lower edge of the near-twin governance band. */
  private[queries] val NT_BAND_LO = 0.95d

  /** Why the near-twin band carries NO recall floor (round 13): its
    * absolute recall is scale-dependent GEOMETRY, not index health —
    * measured 0.89/0.71/0.77 (coarse) and 0.80/0.88/0.86 (imi nprobe=2)
    * across the three gate sfs, then 0.66 at 10⁶ and 0.60 at 10⁷
    * (SCALE.md round 13): a [0.95, 0.999) pair straddles cell boundaries
    * with probability that grows with the derived cell count, and NO
    * bounded-probe structure pins it — the same adjudication the
    * round-12 tail decomposition made one band down. A static floor here
    * would be the exact latent-gate-failure class the round-12 verdict
    * (#3) removed from the blended number. What IS scale-stable — and
    * spec-pinned ([[QueryInvariantSpec]] "margin gate captures the
    * nprobe=2 ceiling") plus measured per-tier in SCALE.md — is the τ
    * CAPTURE contract: the margin-gated candidate set recovers 97–100%
    * of what the ungated nprobe=2 search can see (≥99.3% in the emission
    * band), at every measured tier through 10⁷, while pruning the second
    * probe for the clear-winner minority that remains at scale. The 10⁷
    * sweep also measured the emission band's own nprobe=2 ceiling at
    * 0.9217 — the named round-14 lever is a cell-count-derived nprobe,
    * not τ.
    */

  private val dotSql =
    "list_sum(list_transform(list_zip(%A, %B), q -> CAST(q[1] AS DOUBLE) * CAST(q[2] AS DOUBLE)))"

  private def dSql(a: String, b: String): String =
    dotSql.replace("%A", a).replace("%B", b)

  /** The cosine of vectors `a` and `b` with norms `na` and `nb`. */
  private def cosSql(a: String, na: String, b: String, nb: String): String =
    s"${dSql(a, b)} / ($na * $nb)"

  /** CTE `name` = (vec_id, embedding) of `src` with its norm `nrm`. */
  private def normedSql(name: String, src: String): String =
    s"$name AS (SELECT vec_id, embedding, sqrt(${dSql("embedding", "embedding")}) AS nrm FROM $src)"

  /** The augmented corpus: the base vectors and their planted duplicates. */
  private val augSql =
    """aug AS (
      |  SELECT vec_id, embedding FROM embeddings
      |  UNION ALL
      |  SELECT vec_id + 100000 AS vec_id, embedding FROM embeddings)""".stripMargin

  /** DuckDB twin of [[pqDist2]] — the exact-L2² fold between two lists. */
  private def pqD2Sql(a: String, b: String): String =
    s"""list_sum(list_transform(list_zip($a, $b),
       |      q -> (CAST(q[1] AS DOUBLE) - CAST(q[2] AS DOUBLE))
       |         * (CAST(q[1] AS DOUBLE) - CAST(q[2] AS DOUBLE))))""".stripMargin

  /** Shared PQ CTEs (codebook → subvectors → distances → argmin ranks)
    * over `src`, the oracle twin of [[pqCodebook]]/[[pqSubvectors]]/
    * [[pqAssign]] — reused by `emb_pq_encode` (base corpus) and
    * `sim_ann_pq_adc` (augmented corpus).
    */
  private def pqCtes(src: String): String =
    s"""cb AS (
       |  SELECT CAST(vec_id AS INTEGER) AS code, m,
       |    embedding[m*8+1 : m*8+8] AS cb
       |  FROM $src, generate_series(0, 7) t(m) WHERE vec_id < 16),
       |sv AS (
       |  SELECT vec_id, m, embedding[m*8+1 : m*8+8] AS sv
       |  FROM $src, generate_series(0, 7) t(m)),
       |d AS (
       |  SELECT sv.vec_id, sv.m, cb.code,
       |    ${pqD2Sql("sv.sv", "cb.cb")} AS d2
       |  FROM sv JOIN cb ON sv.m = cb.m),
       |best AS (
       |  SELECT vec_id, m, code, d2, row_number() OVER (
       |    PARTITION BY vec_id, m ORDER BY d2 ASC, code ASC) AS rn
       |  FROM d)""".stripMargin

  /** The cell-count law over the rows of `univ`: 1-row CTE `out` = (k). */
  private def nkSql(out: String, univ: String): String =
    s"""$out AS (SELECT greatest(${Ivf.MIN_CENTROIDS},
       |  CAST(ceil(count(*) / ${Ivf.TARGET_CELL.toDouble}) AS BIGINT)) AS k FROM $univ)""".stripMargin

  /** The seed table: emits `${out}nb` and `$out` = (cid, ce, nc), exactly
    * k codebook rows ranked by (hash, vec_id) from the 4×-oversampled
    * hash-threshold slice of the base corpus. `kCte` must be an earlier
    * 1-row CTE exposing `k`.
    */
  private def hashSeedsSql(out: String, kCte: String, tag: String): String =
    s"""${out}nb AS (SELECT CAST(count(*) AS DOUBLE) AS nb FROM embeddings),
       |$out AS (
       |  SELECT cid, ce, sqrt(${dSql("ce", "ce")}) AS nc FROM (
       |    SELECT vec_id AS cid, embedding AS ce, k, row_number() OVER (
       |      ORDER BY hs, vec_id) AS rn
       |    FROM (
       |      SELECT e.vec_id, e.embedding, kc.k, b.nb,
       |        ${graft.functions.TextFns.md5Hash60Sql(s"concat('$tag:', vec_id)")} % 1000000 AS hs
       |      FROM embeddings e, $kCte kc, ${out}nb b) t
       |    WHERE hs < ceil(4000000.0 * k / nb)) s
       |  WHERE rn <= k)""".stripMargin

  /** One descent step: CTE `out` keeps `cols` of the rows of `from`
    * (columns `sel`) ranked within `keep` per `part` under (`ord` DESC,
    * `id` ASC), the row_number spelling of the ArgTop2/ArgTopN picks.
    */
  private def pickSql(out: String, cols: String, sel: String, from: String,
      part: String, ord: String, id: String, keep: String): String =
    s"""$out AS (
       |  SELECT $cols FROM (
       |    SELECT $sel, row_number() OVER (
       |      PARTITION BY $part
       |      ORDER BY $ord DESC, $id ASC) AS rn
       |    FROM $from)
       |  WHERE rn <= $keep)""".stripMargin

  /** CTE `out` = (vec_id, cell, cell2, mgn) from a ranked pick (vec_id,
    * cid, cs, rn): ArgTop2's winner, runner-up and margin s1 − s2.
    */
  private def assignSql(out: String, ranked: String): String =
    s"""$out AS (
       |  SELECT vec_id,
       |    max(CASE WHEN rn = 1 THEN cid END) AS cell,
       |    max(CASE WHEN rn = 2 THEN cid END) AS cell2,
       |    max(CASE WHEN rn = 1 THEN cs END)
       |      - max(CASE WHEN rn = 2 THEN cs END) AS mgn
       |  FROM $ranked
       |  WHERE rn <= 2 GROUP BY vec_id)""".stripMargin

  /** CTE `out` = the nprobe=2 candidate pairs (i < j) over an assignment
    * (vec_id, cell): each vector probes its home cell and every region
    * (vec_id, pc, mgn) of `regions` within the margin gate, against the
    * home cells of all others.
    */
  private def probeCandSql(out: String, assign: String, regions: String): String =
    s"""${out}p AS (
       |  SELECT vec_id, cell AS pc FROM $assign
       |  UNION ALL
       |  SELECT vec_id, pc FROM $regions WHERE mgn <= $PROBE_MARGIN_T),
       |$out AS (
       |  SELECT DISTINCT least(p.vec_id, t.vec_id) AS i,
       |    greatest(p.vec_id, t.vec_id) AS j
       |  FROM ${out}p p JOIN $assign t ON p.pc = t.cell
       |  WHERE p.vec_id <> t.vec_id)""".stripMargin

  /** The exact-cosine verification of candidate pairs `cand` (i, j) against
    * the normed vectors `a`.
    */
  private val candVerifySql =
    s"""SELECT c.i, c.j,
       |  round(${cosSql("x.embedding", "x.nrm", "y.embedding", "y.nrm")}, 6) AS cosine
       |FROM cand c
       |JOIN a x ON x.vec_id = c.i
       |JOIN a y ON y.vec_id = c.j
       |WHERE ${cosSql("x.embedding", "x.nrm", "y.embedding", "y.nrm")} >= $ANN_T""".stripMargin

  /** The verified within-cell pairs of `e` (vec_id, embedding, nrm, cell). */
  private val cellPairsSql =
    s"""SELECT x.vec_id AS i, y.vec_id AS j,
       |  round(${cosSql("x.embedding", "x.nrm", "y.embedding", "y.nrm")}, 6) AS cosine
       |FROM e x JOIN e y ON x.cell = y.cell AND x.vec_id < y.vec_id
       |WHERE ${cosSql("x.embedding", "x.nrm", "y.embedding", "y.nrm")} >= $ANN_T""".stripMargin

  /** `e` = the normed universe `a` with its `assign` cell. */
  private val cellSql =
    """e AS (
      |  SELECT a.vec_id, a.embedding, a.nrm, assign.cell
      |  FROM a JOIN assign ON a.vec_id = assign.vec_id)""".stripMargin

  /** The same-cell candidate pairs of the `cassign` chain. */
  private val ivfCandSql =
    """ivf_cand AS (
      |  SELECT DISTINCT x.vec_id AS i, y.vec_id AS j
      |  FROM cassign x JOIN cassign y ON x.cell = y.cell AND x.vec_id < y.vec_id)""".stripMargin

  /** The hamming-≤1 multiprobe candidates of the LSH chain's `sigs`. */
  private val mpCandSql =
    s"""probes AS (
       |  SELECT vec_id,
       |    CASE WHEN f = 0 THEN bucket
       |         ELSE substr(bucket, 1, f - 1) ||
       |           (CASE WHEN substr(bucket, f, 1) = '0' THEN '1' ELSE '0' END) ||
       |           substr(bucket, f + 1, $NPLANES)
       |    END AS probe
       |  FROM sigs, (SELECT unnest(range(0, ${NPLANES + 1})) AS f)),
       |mp_cand AS (
       |  SELECT DISTINCT p.vec_id AS i, s.vec_id AS j
       |  FROM probes p JOIN sigs s ON p.probe = s.bucket AND p.vec_id < s.vec_id)""".stripMargin

  /** The flat chain over the augmented corpus (aug → seeds → seed pick →
    * Lloyd means → refined centroids → final pick → `e`), the oracle twin
    * of the [[Ivf.Flat]] assignment.
    */
  private lazy val ivfCellCtes: String = {
    val c = cosSql("a.embedding", "a.nrm", "cent.ce", "cent.nc")
    s"""$augSql,
       |${nkSql("k0", "aug")},
       |${hashSeedsSql("cent0", "k0", "ivfseed")},
       |${normedSql("a", "aug")},
       |${pickSql("assign0", "vec_id, cid AS cell", "a.vec_id, cent0.cid", "a CROSS JOIN cent0",
             "a.vec_id", cosSql("a.embedding", "a.nrm", "cent0.ce", "cent0.nc"), "cent0.cid", "1")},
       |comps AS (
       |  SELECT assign0.cell, generate_subscripts(a.embedding, 1) AS d,
       |    unnest(a.embedding) AS x
       |  FROM a JOIN assign0 ON a.vec_id = assign0.vec_id),
       |means AS (
       |  SELECT cell, d, avg(CAST(x AS DOUBLE)) AS m
       |  FROM comps GROUP BY cell, d),
       |cent1 AS (
       |  SELECT cell AS cid,
       |    list_transform(list(m ORDER BY d), v -> CAST(v AS REAL)) AS ce
       |  FROM means GROUP BY cell),
       |cent AS (
       |  SELECT cid, ce, sqrt(${dSql("ce", "ce")}) AS nc FROM cent1),
       |${pickSql("ranked", "vec_id, cid, cs, rn", s"a.vec_id, cent.cid, $c AS cs",
             "a CROSS JOIN cent", "a.vec_id", c, "cent.cid", "2")},
       |${assignSql("assign", "ranked")},
       |$cellSql""".stripMargin
  }

  def ivfOracleSql: Map[String, String] = Map(
    "sim_ann_ivf" -> s"WITH $ivfCellCtes\n$cellPairsSql",

    // the nprobe=2 twin: the same COARSE assignment chain the Spark side
    // shares, probes = home cell ∪ second-nearest cell, candidates
    // normalized to i < j, exact-cosine verification at the same threshold
    "sim_ann_ivf_probe" ->
      s"""WITH $coarseCellCtes,
         |${probeCandSql("cand", "assign", "(SELECT vec_id, cell2 AS pc, mgn FROM assign)")}
         |$candVerifySql""".stripMargin,
    // the PQ twin: same seeded codebook (vector c's subvector for code c),
    // same exact-L2 fold, same (d2, code) tie-break, DECIMAL distortions
    "emb_pq_encode" -> {
      val codeSel = (0 until 8).map(m =>
        s"max(CASE WHEN m = $m THEN code END) AS c$m").mkString(",\n         |  ")
      s"""WITH ${pqCtes("embeddings")},
         |enc AS (
         |  SELECT vec_id, m, code, CAST(d2 AS DECIMAL(28,12)) AS d2x
         |  FROM best WHERE rn = 1)
         |SELECT vec_id,
         |  $codeSel,
         |  round(CAST(sum(d2x) AS DOUBLE) / 64.0, 6) AS mse
         |FROM enc GROUP BY vec_id""".stripMargin
    },

    // the ADC twin: anchors via the shared modulus, per-anchor lookup
    // tables from the same fold, 8-entry DECIMAL sums, (adist, id) ranks
    "sim_ann_pq_adc" ->
      s"""WITH $augSql,
         |${pqCtes("aug")},
         |codes AS (SELECT vec_id, m, code FROM best WHERE rn = 1),
         |m0 AS (${AnchorSample.modSql("aug")}),
         |anch AS (
         |  SELECT vec_id AS q FROM aug, m0
         |  WHERE ${AnchorSample.predSql("vec_id")}),
         |lut AS (
         |  SELECT sv.vec_id AS q, sv.m, cb.code,
         |    ${pqD2Sql("sv.sv", "cb.cb")} AS ld2
         |  FROM sv JOIN anch ON sv.vec_id = anch.q
         |  JOIN cb ON sv.m = cb.m),
         |adc AS (
         |  SELECT lut.q, codes.vec_id AS neighbor_id,
         |    sum(CAST(ld2 AS DECIMAL(28,12))) AS adist
         |  FROM codes JOIN lut ON codes.m = lut.m AND codes.code = lut.code
         |  WHERE lut.q <> codes.vec_id
         |  GROUP BY lut.q, codes.vec_id)
         |SELECT q AS vec_id, CAST(rn AS INTEGER) AS rank, neighbor_id,
         |  round(CAST(adist AS DOUBLE), 6) AS adist
         |FROM (
         |  SELECT q, neighbor_id, adist, row_number() OVER (
         |    PARTITION BY q ORDER BY adist ASC, neighbor_id ASC) AS rn
         |  FROM adc)
         |WHERE rn <= $TOPK""".stripMargin,

    // the IVF-PQ twin composes the two shared CTE chains (the COARSE cell
    // assignment and the code table, both over aug), restricts candidates
    // to the anchor's cell, and replays the 8-entry DECIMAL sums
    "sim_ann_ivf_pq" ->
      s"""WITH $coarseCellCtes,
         |${pqCtes("aug")},
         |codes AS (SELECT vec_id AS nb, m, code FROM best WHERE rn = 1),
         |m0 AS (${AnchorSample.modSql("aug")}),
         |anch AS (
         |  SELECT vec_id AS q FROM aug, m0
         |  WHERE ${AnchorSample.predSql("vec_id")}),
         |lut AS (
         |  SELECT sv.vec_id AS q, sv.m, cb.code,
         |    ${pqD2Sql("sv.sv", "cb.cb")} AS ld2
         |  FROM sv JOIN anch ON sv.vec_id = anch.q
         |  JOIN cb ON sv.m = cb.m),
         |cand AS (
         |  SELECT a.q, t.vec_id AS nb
         |  FROM anch a JOIN e x ON x.vec_id = a.q
         |  JOIN e t ON t.cell = x.cell
         |  WHERE t.vec_id <> a.q),
         |adc AS (
         |  SELECT c.q, c.nb, sum(CAST(l.ld2 AS DECIMAL(28,12))) AS adist
         |  FROM cand c JOIN codes k ON k.nb = c.nb
         |  JOIN lut l ON l.q = c.q AND l.m = k.m AND l.code = k.code
         |  GROUP BY c.q, c.nb)
         |SELECT q AS vec_id, CAST(rn AS INTEGER) AS rank, nb AS neighbor_id,
         |  round(CAST(adist AS DOUBLE), 6) AS adist
         |FROM (
         |  SELECT q, nb, adist, row_number() OVER (
         |    PARTITION BY q ORDER BY adist ASC, nb ASC) AS rn
         |  FROM adc)
         |WHERE rn <= $TOPK""".stripMargin,

    // the JL twin regenerates the sign matrix from the same md5-parity
    // derivation (md5Key64 spelling), zips it against each embedding, and
    // folds — list_sum matches the Spark aggregate fold bit-for-bit
    "emb_random_projection" -> {
      val pCols = (0 until RP_K).map(k =>
        s"round(max(CASE WHEN k = $k THEN pv END), 6) AS p$k").mkString(",\n         |  ")
      s"""WITH sgn AS (
         |  SELECT k, list(CASE WHEN
         |      CAST(concat('0x', substr(md5(CAST(d AS VARCHAR) || ':' || CAST(k AS VARCHAR)), 1, 15)) AS BIGINT)
         |        % 2 = 0 THEN 1.0 ELSE -1.0 END ORDER BY d) AS sv
         |  FROM generate_series(0, ${RP_K - 1}) t(k),
         |    generate_series(0, ${RP_D - 1}) u(d)
         |  GROUP BY k),
         |p AS (
         |  SELECT e.vec_id, s.k,
         |    list_sum(list_transform(list_zip(e.embedding, s.sv),
         |      q -> CAST(q[1] AS DOUBLE) * q[2])) / ${math.sqrt(RP_K.toDouble)} AS pv
         |  FROM embeddings e CROSS JOIN sgn s)
         |SELECT vec_id,
         |  $pCols
         |FROM p GROUP BY vec_id""".stripMargin
    },

    // the two-tier twin: the same COARSE IVF chain, per-vector scale and
    // int8 codes as lateral aliases, integer code dots (exact in double)
    // for the prefilter, exact-cosine rescore at the same threshold
    "sim_ann_quantized_rescore" ->
      s"""WITH $coarseCellCtes,
         |qe AS (
         |  SELECT vec_id, embedding, nrm, cell,
         |    127.0 / list_aggregate(
         |      list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max') AS sc,
         |    list_transform(embedding,
         |      x -> CAST(floor(CAST(x AS DOUBLE) * sc + 0.5) AS REAL)) AS qv
         |  FROM e)
         |SELECT i, j, round(cos, 6) AS cosine FROM (
         |  SELECT x.vec_id AS i, y.vec_id AS j,
         |    ${dSql("x.qv", "y.qv")}
         |      / (x.sc * y.sc * x.nrm * y.nrm) AS qcos,
         |    ${dSql("x.embedding", "y.embedding")} / (x.nrm * y.nrm) AS cos
         |  FROM qe x JOIN qe y ON x.cell = y.cell AND x.vec_id < y.vec_id)
         |WHERE qcos >= ${ANN_T - QP_MARGIN} AND cos >= $ANN_T""".stripMargin,

    // the dedup_semantic twin replays the COARSE IVF chain, finds
    // within-cell ≥ANN_T pairs, closes them by recursive transitive
    // closure, and emits the per-vector keep/drop decision (min vec_id
    // per group kept)
    "dedup_semantic" ->
      s"""WITH RECURSIVE $coarseCellCtes,
         |pairs AS (
         |  SELECT x.vec_id AS i, y.vec_id AS j
         |  FROM e x JOIN e y ON x.cell = y.cell AND x.vec_id < y.vec_id
         |  WHERE ${dSql("x.embedding", "y.embedding")} / (x.nrm * y.nrm) >= $ANN_T),
         |edges AS (
         |  SELECT i, j FROM pairs
         |  UNION ALL
         |  SELECT j AS i, i AS j FROM pairs),
         |reach(x, y) AS (
         |  SELECT i AS x, j AS y FROM edges
         |  UNION
         |  SELECT r.x, e2.j AS y FROM reach r JOIN edges e2 ON r.y = e2.i),
         |comp AS (
         |  SELECT x AS vec_id, least(x, min(y)) AS group_id
         |  FROM reach GROUP BY x)
         |SELECT aug.vec_id,
         |  coalesce(comp.group_id, aug.vec_id) AS group_id,
         |  CAST(count(*) OVER (
         |    PARTITION BY coalesce(comp.group_id, aug.vec_id)) AS BIGINT) AS group_size,
         |  aug.vec_id = coalesce(comp.group_id, aug.vec_id) AS is_kept
         |FROM aug LEFT JOIN comp ON aug.vec_id = comp.vec_id""".stripMargin,

    // the ann_recall twin replays the full LSH signature chain AND the
    // COARSE two-level centroid chain (the production index — the flat
    // chain is governed by sim_ann_ivf's own exact oracle), then counts
    // truth ∩ candidates per method
    "ann_recall" -> {
      val found = Seq("ivf" -> "ivf_cand", "ivf_imi" -> "imi_cand", "lsh" -> "lsh_cand",
          "lsh_multiprobe" -> "mp_cand").map { case (m, c) =>
        s"""SELECT '$m',
           |    (SELECT count(*) FROM truth t JOIN $c c ON t.i = c.i AND t.j = c.j),
           |    (SELECT count(*) FROM truth t JOIN $c c ON t.i = c.i AND t.j = c.j
           |     WHERE t.is_dup)""".stripMargin
      }.mkString("\n  UNION ALL ")
      s"""WITH $lshSigCtes,
         |m AS (${AnchorSample.modSql("n")}),
         |anch AS (SELECT n.* FROM n, m WHERE ${AnchorSample.predSql("vec_id")}),
         |truth AS (
         |  SELECT DISTINCT least(x.vec_id, y.vec_id) AS i,
         |    greatest(x.vec_id, y.vec_id) AS j,
         |    ${dSql("x.embedding", "y.embedding")} / (x.nrm * y.nrm) >= $ANN_T AS is_dup
         |  FROM anch x JOIN n y ON x.vec_id <> y.vec_id
         |  WHERE ${dSql("x.embedding", "y.embedding")} / (x.nrm * y.nrm) >= $COS_T),
         |tc AS (SELECT count(*) AS n_true,
         |  CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_true_dup
         |  FROM truth),
         |lsh_cand AS (
         |  SELECT DISTINCT x.vec_id AS i, y.vec_id AS j
         |  FROM sigs x JOIN sigs y ON x.bucket = y.bucket AND x.vec_id < y.vec_id),
         |$mpCandSql,
         |${coarseAssignCtes("n", "c")},
         |$ivfCandSql,
         |${imiAssignCtes("n", "m")},
         |${probeCandSql("imi_cand", "massign", "mprobes")},
         |found(method, n_found, n_found_dup) AS (
         |  $found)
         |SELECT method, (SELECT n_true FROM tc) AS n_true, n_found,
         |  round(CAST(n_found AS DOUBLE) / (SELECT n_true FROM tc), 6) AS recall,
         |  (SELECT n_true_dup FROM tc) AS n_true_dup, n_found_dup,
         |  round(CAST(n_found_dup AS DOUBLE) / (SELECT n_true_dup FROM tc), 6)
         |    AS recall_dup,
         |  CAST(n_found_dup AS DOUBLE) / (SELECT n_true_dup FROM tc) >= $RECALL_DUP_T
         |    AS dup_ok
         |FROM found""".stripMargin
    },

    // the near-twin governance twin regenerates the SAME perturbed corpus
    // from the shared md5-parity derivation (double add at the identically
    // parsed delta literal, one REAL rounding), replays the coarse AND IMI
    // assignment chains over it, and counts truth ∩ candidates per cosine
    // band. Candidates here are the FULL i<j sets — anchored truth only
    // ever touches anchors, so the semi-join counts match the Spark side's
    // anchor-restricted candidates exactly (the [[anchorCandidates]]
    // equality [[QueryInvariantSpec]] pins).
    "ann_recall_neartwin" -> {
      val rows = Seq("ivf" -> "ivf_cand", "ivf_imi" -> "imi_cand").map { case (m, c) =>
        s"""SELECT '$m' AS method, t.band, count(*) AS n_true,
           |    CAST(sum(CASE WHEN c.i IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           |      AS n_found
           |  FROM truth t LEFT JOIN $c c ON t.i = c.i AND t.j = c.j
           |  GROUP BY t.band""".stripMargin
      }.mkString("\n  UNION ALL\n  ")
      s"""WITH ntp AS (
         |  SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS d,
         |    unnest(embedding) AS x
         |  FROM embeddings),
         |${twinSql("nta", 200000L, Ivf.NT_DELTA_NEAR)},
         |${twinSql("ntb", 300000L, Ivf.NT_DELTA_DUP)},
         |$augSql,
         |ntaug AS (
         |  SELECT vec_id, embedding FROM aug
         |  UNION ALL SELECT vec_id, embedding FROM nta
         |  UNION ALL SELECT vec_id, embedding FROM ntb),
         |${normedSql("nu", "ntaug")},
         |m0 AS (${AnchorSample.modSql("nu")}),
         |truth AS (
         |  SELECT DISTINCT least(x.vec_id, y.vec_id) AS i,
         |    greatest(x.vec_id, y.vec_id) AS j,
         |    CASE WHEN ${dSql("x.embedding", "y.embedding")} / (x.nrm * y.nrm)
         |           >= $ANN_T THEN 'a_dup'
         |         WHEN ${dSql("x.embedding", "y.embedding")} / (x.nrm * y.nrm)
         |           >= $NT_BAND_LO THEN 'b_neartwin'
         |         ELSE 'c_tail' END AS band
         |  FROM nu x, nu y, m0
         |  WHERE ${AnchorSample.predSql("x.vec_id")} AND x.vec_id <> y.vec_id
         |    AND ${dSql("x.embedding", "y.embedding")} / (x.nrm * y.nrm) >= $COS_T),
         |${coarseAssignCtes("nu", "c")},
         |$ivfCandSql,
         |${imiAssignCtes("nu", "m")},
         |${probeCandSql("imi_cand", "massign", "mprobes")},
         |rows0 AS (
         |  $rows)
         |SELECT method, band, n_true, n_found,
         |  round(CAST(n_found AS DOUBLE) / n_true, 6) AS recall,
         |  CASE WHEN band = 'a_dup'
         |         THEN CAST(n_found AS DOUBLE) / n_true >= $RECALL_DUP_T
         |       ELSE TRUE END AS band_ok
         |FROM rows0""".stripMargin
    },

    // the coarse-quantizer twin: hash-ranked fine and ⌈√k⌉ coarse
    // centroids, fine→coarse grouping by the same (cos DESC, id ASC)
    // argmax, vectors restricted to NON-EMPTY coarse groups, then the
    // within-group fine argmax — the replica of [[Ivf.assignWithCodebook]]
    // — and the flat path's within-cell 0.999-pair verification
    "sim_ann_ivf_coarse" -> s"WITH $coarseCellCtes\n$cellPairsSql",

    // the three-level (IMI) twin: replica of the [[Ivf.Imi]] descent —
    // integer-snapped ⌈k^(1/3)⌉, three hash-ranked codebooks, the
    // level-2→level-1 grouping, the fine descent, the bottom-up non-empty
    // guards, the beam descent — then the margin-gated probe search over
    // its ranked regions, exact-cosine verification
    "sim_ann_ivf_imi" ->
      s"""WITH $imiCellCtes,
         |${probeCandSql("cand", "massign", "mprobes")}
         |$candVerifySql""".stripMargin,

    // the fusion twin composes the two arm chains — the shared BM25 CTE
    // ladder at depth FUSE_N and the shared coarse-assignment chain — then
    // replays the 1/(k+rank) sums and the (rrf DESC, doc_id ASC) top-10
    "fusion_rrf" ->
      s"""WITH ${graft.queries.Curation.bm25RankSql(FUSE_N)},
         |$coarseCellCtes,
         |${normedSql("nb", "embeddings")},
         |qd AS (SELECT min(doc_id) AS qid FROM documents),
         |qv AS (
         |  SELECT nb.vec_id AS qid, nb.embedding AS qe, nb.nrm AS qn
         |  FROM nb, qd WHERE nb.vec_id = qd.qid),
         |qk AS (SELECT assign.cell FROM assign, qd WHERE assign.vec_id = qd.qid),
         |sems AS (
         |  SELECT nb.vec_id,
         |    ${dSql("nb.embedding", "qv.qe")} / (nb.nrm * qv.qn) AS cos
         |  FROM assign JOIN qk ON assign.cell = qk.cell
         |  JOIN nb ON nb.vec_id = assign.vec_id, qv
         |  WHERE nb.vec_id <> qv.qid),
         |semr AS (
         |  SELECT vec_id AS doc_id, CAST(rn AS INTEGER) AS sem_rank
         |  FROM (SELECT vec_id, row_number() OVER (
         |      ORDER BY cos DESC, vec_id ASC) AS rn FROM sems)
         |  WHERE rn <= $FUSE_N),
         |fused AS (
         |  SELECT coalesce(l.doc_id, r.doc_id) AS doc_id,
         |    l.lex_rank, r.sem_rank,
         |    coalesce(CAST(1.0 AS DOUBLE) / ($RRF_K + l.lex_rank), 0.0)
         |      + coalesce(CAST(1.0 AS DOUBLE) / ($RRF_K + r.sem_rank), 0.0) AS rrf
         |  FROM lexr l FULL OUTER JOIN semr r ON l.doc_id = r.doc_id)
         |SELECT doc_id, CAST(rn AS INTEGER) AS rank, round(rrf, 6) AS rrf,
         |  coalesce(lex_rank, 0) AS lex_rank,
         |  coalesce(sem_rank, 0) AS sem_rank
         |FROM (SELECT *, row_number() OVER (
         |    ORDER BY rrf DESC, doc_id ASC) AS rn FROM fused)
         |WHERE rn <= 10""".stripMargin
  )

  def oracleSql: Map[String, String] = Map(
    "emb_norms" ->
      s"""SELECT vec_id, label,
         |  round(sqrt(${dSql("embedding", "embedding")}), 6) AS l2_norm,
         |  CAST(len(embedding) AS INTEGER) AS dim
         |FROM embeddings""".stripMargin,

    "emb_quantize_sq" ->
      """WITH m AS (
        |  SELECT vec_id, embedding,
        |    127.0 / list_aggregate(
        |      list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max') AS scale
        |  FROM embeddings)
        |SELECT vec_id, round(scale, 6) AS scale,
        |  round(list_sum(list_transform(embedding,
        |    x -> (CAST(x AS DOUBLE) - floor(CAST(x AS DOUBLE) * scale + 0.5) / scale)
        |       * (CAST(x AS DOUBLE) - floor(CAST(x AS DOUBLE) * scale + 0.5) / scale)))
        |    / len(embedding), 6) AS mse
        |FROM m""".stripMargin,

    "sim_topk_bruteforce" ->
      s"""WITH ${normedSql("n", "embeddings")},
         |m AS (${AnchorSample.modSql("n")}),
         |anch AS (SELECT n.* FROM n, m WHERE ${AnchorSample.predSql("vec_id")}),
         |pairs AS (
         |  SELECT a.vec_id, b.vec_id AS neighbor_id,
         |    ${dSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) AS cos
         |  FROM anch a JOIN n b ON a.vec_id <> b.vec_id),
         |ranked AS (
         |  SELECT vec_id, neighbor_id, cos, row_number() OVER (
         |    PARTITION BY vec_id ORDER BY cos DESC, neighbor_id ASC) AS rn
         |  FROM pairs)
         |SELECT vec_id, CAST(rn AS INTEGER) AS rank, neighbor_id,
         |  round(cos, 6) AS cosine
         |FROM ranked WHERE rn <= $TOPK""".stripMargin,

    "dedup_embedding_cosine" ->
      s"""WITH ${normedSql("n", "embeddings")},
         |m AS (${AnchorSample.modSql("n")}),
         |anch AS (SELECT n.* FROM n, m WHERE ${AnchorSample.predSql("vec_id")})
         |SELECT DISTINCT least(a.vec_id, b.vec_id) AS i,
         |  greatest(a.vec_id, b.vec_id) AS j,
         |  round(${dSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6) AS cosine
         |FROM anch a JOIN n b ON a.vec_id <> b.vec_id
         |WHERE ${dSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= $COS_T""".stripMargin,

    "sim_ann_lsh" ->
      s"""WITH $lshSigCtes
         |SELECT a.vec_id AS i, b.vec_id AS j,
         |  round(${dSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6) AS cosine
         |FROM n a JOIN n b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE ${dSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= $ANN_T""".stripMargin,

    // the batch (side 1) and the corpus (side 0) are signed as two sets, as
    // the Spark query keeps them in two frames: their ids may overlap
    "sim_ann_incremental" -> {
      val sides =
        """SELECT vec_id, embedding, 0 AS side FROM embeddings
          |  UNION ALL
          |  SELECT vec_id + 200000 AS vec_id, embedding, 1 AS side FROM embeddings
          |  WHERE vec_id % 4 = 0""".stripMargin
      s"""WITH ${sigChain(sides)}
         |SELECT a.vec_id AS query_id, b.vec_id AS match_id,
         |  round(${dSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6) AS cosine
         |FROM n a JOIN n b ON a.bucket = b.bucket AND a.side = 1 AND b.side = 0
         |WHERE ${dSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= $ANN_T""".stripMargin
    },

    "sim_ann_lsh_multiprobe" ->
      s"""WITH $lshSigCtes,
         |$mpCandSql
         |SELECT a.vec_id AS i, b.vec_id AS j,
         |  round(${dSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm), 6) AS cosine
         |FROM mp_cand cand
         |JOIN n a ON cand.i = a.vec_id
         |JOIN n b ON cand.j = b.vec_id
         |WHERE ${dSql("a.embedding", "b.embedding")} / (a.nrm * b.nrm) >= $ANN_T""".stripMargin
  )

  /** The two-level descent as a reusable CTE chain, the twin of
    * [[Ivf.assignWithCodebook]] over [[Ivf.coarseCodebook]]: hash-ranked
    * fine and ⌈√k⌉ coarse centroids, fine→coarse grouping, vectors
    * restricted to NON-EMPTY coarse groups, then the within-group fine
    * pick. `univ` must expose (vec_id, embedding, nrm); every CTE name
    * carries `p`, so several chains can share one oracle.
    * Terminal CTE: `${p}assign` = (vec_id, cell, cell2, mgn).
    */
  private def coarseAssignCtes(univ: String, p: String): String = {
    val c = cosSql("ax.embedding", "ax.nrm", "f.ce", "f.nc")
    s"""${nkSql(s"${p}nk", univ)},
       |${p}ks AS (
       |  SELECT CAST(ceil(sqrt(CAST(k AS DOUBLE))) AS BIGINT) AS k FROM ${p}nk),
       |${hashSeedsSql(s"${p}fine", s"${p}nk", "ivfseed")},
       |${hashSeedsSql(s"${p}coarse0", s"${p}ks", "ivfgrp")},
       |${p}coarse AS (
       |  SELECT cid AS gid, ce AS ge, nc AS ng FROM ${p}coarse0),
       |${pickSql(s"${p}fgrp", "gid, cid, ce, nc", "c.gid, f.cid, f.ce, f.nc",
             s"${p}fine f CROSS JOIN ${p}coarse c", "f.cid",
             cosSql("f.ce", "f.nc", "c.ge", "c.ng"), "c.gid", "1")},
       |${pickSql(s"${p}vg", "vec_id, gid", "a.vec_id, c.gid",
             s"$univ a CROSS JOIN ${p}coarse c WHERE c.gid IN (SELECT DISTINCT gid FROM ${p}fgrp)",
             "a.vec_id", cosSql("a.embedding", "a.nrm", "c.ge", "c.ng"), "c.gid", "1")},
       |${pickSql(s"${p}ranked", "vec_id, cid, cs, rn", s"v.vec_id, f.cid, $c AS cs",
             s"${p}vg v JOIN $univ ax ON ax.vec_id = v.vec_id JOIN ${p}fgrp f ON f.gid = v.gid",
             "v.vec_id", c, "f.cid", "2")},
       |${assignSql(s"${p}assign", s"${p}ranked")}""".stripMargin
  }

  /** The plain-corpus two-level chain (terminal `assign`), shared by the
    * stream ingest and cluster-sample twins.
    */
  private[queries] lazy val plainAssignCtes: String =
    s"${normedSql("a", "embeddings")},\n${coarseAssignCtes("a", "")}"

  /** The two-level chain over the AUGMENTED corpus (aug → `a` → `assign`
    * → `e`), the twin every production IVF oracle shares, as the Spark
    * side shares one cached assignment.
    */
  private lazy val coarseCellCtes: String =
    s"$augSql,\n${normedSql("a", "aug")},\n${coarseAssignCtes("a", "")},\n$cellSql"

  /** The three-level descent as a reusable CTE chain, the twin of the
    * [[Ivf.Imi]] assignment: integer-exact ⌈k^(1/3)⌉ and probe widths (the
    * same power-snapped correction as [[Ivf.ceilRoot]], since C pow and
    * Math.pow may disagree by an ulp), three hash-ranked codebooks,
    * level-2→level-1 grouping, fine→level-2 via the descent, bottom-up
    * non-empty guards, and the beam descent. Terminal CTEs: `${p}assign` =
    * (vec_id, cell, cell2, mgn) and `${p}probes` = (vec_id, pc, mgn).
    */
  private def imiAssignCtes(univ: String, p: String): String = {
    val cf = cosSql("ax.embedding", "ax.nrm", "f.ce", "f.nc")
    s"""${nkSql(s"${p}nk", univ)},
       |${p}pq AS (
       |  SELECT least(${Ivf.PROBE_CAP}, greatest(2,
       |    CASE WHEN (c-1)*(c-1)*(c-1)*(c-1) >= k THEN c-1
       |         WHEN c*c*c*c >= k THEN c ELSE c+1 END)) AS p
       |  FROM (SELECT k, CAST(round(pow(CAST(k AS DOUBLE), 0.25)) AS BIGINT) AS c
       |        FROM ${p}nk)),
       |${p}bw AS (
       |  SELECT least(${Ivf.L1_BEAM_CAP},
       |    CAST(ceil(sqrt(CAST(p AS DOUBLE))) AS BIGINT)) AS b1 FROM ${p}pq),
       |${p}k1 AS (
       |  SELECT CASE WHEN (c-1)*(c-1)*(c-1) >= k THEN c-1
       |              WHEN c*c*c >= k THEN c ELSE c+1 END AS k
       |  FROM (SELECT k, CAST(round(pow(CAST(k AS DOUBLE), 1.0/3.0)) AS BIGINT) AS c
       |        FROM ${p}nk)),
       |${p}k2 AS (SELECT k * k AS k FROM ${p}k1),
       |${hashSeedsSql(s"${p}fine", s"${p}nk", "ivfseed")},
       |${hashSeedsSql(s"${p}l1s", s"${p}k1", "ivfl1")},
       |${hashSeedsSql(s"${p}l2s", s"${p}k2", "ivfl2")},
       |${p}l1 AS (SELECT cid AS g1, ce AS e1, nc AS n1 FROM ${p}l1s),
       |${p}l2 AS (SELECT cid AS g2, ce AS e2, nc AS n2 FROM ${p}l2s),
       |${pickSql(s"${p}l2g", "g1, g2, e2, n2", "a.g1, b.g2, b.e2, b.n2",
             s"${p}l2 b CROSS JOIN ${p}l1 a", "b.g2",
             cosSql("b.e2", "b.n2", "a.e1", "a.n1"), "a.g1", "1")},
       |${pickSql(s"${p}fp1", "cid, g1", "f.cid, a.g1",
             s"${p}fine f CROSS JOIN ${p}l1 a WHERE a.g1 IN (SELECT DISTINCT g1 FROM ${p}l2g)",
             "f.cid", cosSql("f.ce", "f.nc", "a.e1", "a.n1"), "a.g1", "1")},
       |${pickSql(s"${p}fgrp", "g2, cid, ce, nc", "b.g2, f.cid, f.ce, f.nc",
             s"${p}fine f JOIN ${p}fp1 p1 ON p1.cid = f.cid JOIN ${p}l2g b ON b.g1 = p1.g1",
             "f.cid", cosSql("f.ce", "f.nc", "b.e2", "b.n2"), "b.g2", "1")},
       |${p}l2ne AS (
       |  SELECT g1, g2, e2, n2 FROM ${p}l2g
       |  WHERE g2 IN (SELECT DISTINCT g2 FROM ${p}fgrp)),
       |${p}l1ne AS (
       |  SELECT g1, e1, n1 FROM ${p}l1
       |  WHERE g1 IN (SELECT DISTINCT g1 FROM ${p}l2ne)),
       |${pickSql(s"${p}v1", "vec_id, g1", "a.vec_id, c.g1", s"$univ a CROSS JOIN ${p}l1ne c",
             "a.vec_id", cosSql("a.embedding", "a.nrm", "c.e1", "c.n1"), "c.g1",
             s"(SELECT b1 FROM ${p}bw)")},
       |${pickSql(s"${p}v2", "vec_id, g2", "v.vec_id, b.g2",
             s"${p}v1 v JOIN $univ ax ON ax.vec_id = v.vec_id JOIN ${p}l2ne b ON b.g1 = v.g1",
             "v.vec_id", cosSql("ax.embedding", "ax.nrm", "b.e2", "b.n2"), "b.g2",
             s"(SELECT p FROM ${p}pq)")},
       |${pickSql(s"${p}fw", "vec_id, g2, cid, cs", s"v.vec_id, v.g2, f.cid, $cf AS cs",
             s"${p}v2 v JOIN $univ ax ON ax.vec_id = v.vec_id JOIN ${p}fgrp f ON f.g2 = v.g2",
             "v.vec_id, v.g2", cf, "f.cid", "1")},
       |${pickSql(s"${p}rw", "vec_id, cid, cs, rn, s1",
             "vec_id, cid, cs, max(cs) OVER (PARTITION BY vec_id) AS s1", s"${p}fw",
             "vec_id", "cs", "cid", s"(SELECT p FROM ${p}pq)")},
       |${p}probes AS (
       |  SELECT vec_id, cid AS pc, s1 - cs AS mgn FROM ${p}rw WHERE rn >= 2),
       |${assignSql(s"${p}assign", s"${p}rw")}""".stripMargin
  }

  /** The IMI chain over the AUGMENTED corpus (prefix `m`: terminals
    * `massign`, `mprobes`).
    */
  private lazy val imiCellCtes: String =
    s"$augSql,\n${normedSql("a", "aug")},\n${imiAssignCtes("a", "m")}"

  /** One perturbed near-twin cohort over `ntp` (vec_id, d, x), the twin of
    * [[Ivf.NearTwin]]'s: shifted by `offset`, each component moved by
    * ±delta by the md5 parity of "tag:id:d".
    */
  private def twinSql(tag: String, offset: Long, delta: Double): String =
    s"""$tag AS (
       |  SELECT sid AS vec_id,
       |    list(CAST(CAST(x AS DOUBLE) + $delta * s AS REAL) ORDER BY d)
       |      AS embedding
       |  FROM (SELECT vec_id + $offset AS sid, d, x,
       |      (${graft.functions.Keys.md5Key64Sql(
                s"concat('$tag:', CAST(vec_id + $offset AS VARCHAR), ':', CAST(d AS VARCHAR))")}
       |        % 2) * 2 - 1 AS s
       |    FROM ntp) t
       |  GROUP BY sid)""".stripMargin

  /** Shared CTE chain for the LSH oracles over the vector set `src`
    * (vec_id, embedding, side): planes → component projections →
    * bit-string signatures `sigs` → normed vectors `n`, all keyed by
    * (side, vec_id), so two sets may share ids.
    */
  private def sigChain(src: String): String =
    s"""lshin AS ($src),
       |planes AS (
       |  SELECT p, d,
       |    CAST((CAST(concat('0x', substr(md5(concat(p, ':', d)), 1, 15)) AS BIGINT) % 2) * 2 - 1 AS DOUBLE) AS w
       |  FROM (SELECT unnest(range(0, $NPLANES)) AS p), (SELECT unnest(range(0, 64)) AS d)),
       |comps AS (
       |  SELECT side, vec_id, generate_subscripts(embedding, 1) - 1 AS d,
       |    unnest(embedding) AS x
       |  FROM lshin),
       |projs AS (
       |  SELECT side, vec_id, p, sum(CAST(x AS DOUBLE) * w) AS proj
       |  FROM comps JOIN planes USING (d) GROUP BY side, vec_id, p),
       |sigs AS (
       |  SELECT side, vec_id,
       |    string_agg(CASE WHEN proj > 0 THEN '1' ELSE '0' END, '' ORDER BY p) AS bucket
       |  FROM projs GROUP BY side, vec_id),
       |n AS (
       |  SELECT e.side, e.vec_id, e.embedding, s.bucket,
       |    sqrt(${dSql("e.embedding", "e.embedding")}) AS nrm
       |  FROM lshin e JOIN sigs s ON e.side = s.side AND e.vec_id = s.vec_id)""".stripMargin

  private lazy val lshSigCtes: String =
    s"$augSql,\n${sigChain("SELECT vec_id, embedding, 0 AS side FROM aug")}"
}
