package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.expr.Native

/** The IVF index over the embeddings: one codebook per (corpus dir, k),
  * then one [[assignment]] per (corpus, family), which the probe searches
  * of [[VectorOps]] read. The only module that builds codebooks or
  * assignments, so the sizes below reach every chain from here.
  *
  * Sizes are plan literals worked out on the driver from the one memoized
  * base count [[embCount]]: the cell count k = [[cellCount]](n) keeps
  * expected cell membership near TARGET_CELL at any scale (a fixed k lets
  * cells grow O(n/k) and the within-cell pair join re-quadratize), and the
  * probe width [[staticProbeWidth]] grows with k. At every gate sf k = 16.
  *
  * Every descent level (the codebook picks, the flat pick, the two-level
  * coarse and fine picks, the IMI beams) is one [[nearest]] step: a
  * broadcast join against a centroid table, then a sort-free
  * (cos DESC, id ASC) top-k aggregate, so the vector×centroid candidates
  * collapse in the map-side HashAggregate and are never sorted (a window
  * spelling sorted 0.4 TB at the 10⁷ probe, SCALE.md round 9). Identical
  * vectors take identical decisions at every level, so planted twins
  * always co-assign.
  */
object Ivf {

  /** A corpus an index is built over: `copies` whole copies of the base
    * embeddings table, so its row count is `copies` × [[embCount]] and its
    * [[buildWidth]] derives from `copies` × the table's bytes. `tag`
    * suffixes its assignment cache keys.
    */
  sealed abstract class Corpus(val copies: Long, val tag: String) {
    def frame(s: SparkSession, dir: String): DataFrame
    def rows(s: SparkSession, dir: String): Long = copies * embCount(s, dir)
    def width(s: SparkSession, dir: String): Option[Int] =
      // memoized per (session, dir): a hit must not pay a filesystem stat
      buildWidth(s, Preconditions.longOnce(s, s"fsbytes:emb:$dir")(
        Widths.onDiskBytes(s, s"$dir/embeddings.parquet")), copies)
  }

  /** The embeddings table: the cluster structure consumers outside the ANN
    * family ride (cluster-balanced sampling, the streaming ingest's k).
    */
  case object Plain extends Corpus(1L, "plain") {
    def frame(s: SparkSession, dir: String): DataFrame =
      Tables.embeddings(s, dir).select(col("vec_id"), col("embedding"))
  }

  /** The base corpus plus one planted duplicate per vector (vec_id + 100000):
    * the ANN gates' corpus, whose twins every index must co-assign.
    */
  case object Augmented extends Corpus(2L, "") {
    def frame(s: SparkSession, dir: String): DataFrame = {
      val base = Plain.frame(s, dir)
      base.unionByName(base.select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
    }
  }

  /** The augmented corpus plus two PERTURBED cohorts whose twins can
    * straddle cell boundaries (byte-identical copies co-assign by
    * construction, so they cannot show boundary loss): +200000 at
    * ±[[NT_DELTA_NEAR]] per dimension (cos ≈ 0.978–0.986, the
    * near-duplicate band under ANN_T) and +300000 at ±[[NT_DELTA_DUP]]
    * (cos ≈ 0.9996, inside the emission band but not byte-identical).
    * The +k·100000 shifts stay collision-free on the gate corpora and the
    * synth_scale fixtures (copy stride 10⁷).
    */
  case object NearTwin extends Corpus(4L, "nt") {
    def frame(s: SparkSession, dir: String): DataFrame = {
      val base = Plain.frame(s, dir)
      Augmented.frame(s, dir)
        .unionByName(perturbedTwins(base, 200000L, "nta", NT_DELTA_NEAR))
        .unionByName(perturbedTwins(base, 300000L, "ntb", NT_DELTA_DUP))
    }
  }

  /** Near-twin perturbation magnitudes on the unit-norm corpus, spelled as
    * exact decimal literals both engines parse to the same double.
    */
  private[queries] val NT_DELTA_NEAR = 0.025d
  private[queries] val NT_DELTA_DUP = 0.00375d

  /** Deterministically perturbed copy of `base`: component d of vector v
    * moves by ±delta, sign = md5 parity of "tag:v:d", so the DuckDB twin
    * regenerates the identical float corpus (double add, one REAL
    * rounding). On a unit-norm corpus cos(v, twin) ≈ 1/√(1+64·delta²).
    */
  private def perturbedTwins(base: DataFrame, offset: Long, tag: String,
      delta: Double): DataFrame =
    // shift FIRST, in its own projection, so the sign key reads the twin's
    // own (shifted) id: one select would hit lateral-column-alias
    // resolution and key half the corpus on the wrong id
    base.select((col("vec_id") + offset).as("vec_id"), col("embedding"))
      .select(col("vec_id"),
        transform(col("embedding"), (x, d) =>
          (x.cast(DoubleType) + lit(delta) *
            (graft.functions.TextFns.md5Hash60(
              concat_ws(":", lit(tag), col("vec_id"), d)) % 2 * 2 - 1)
          ).cast(FloatType)).as("embedding"))

  /** How an assignment descends its codebook; `key` prefixes its cache key. */
  sealed abstract class Family(val key: String)

  /** Hash-ranked seeds, one Lloyd refinement, a final flat pick: O(n·k·d),
    * which is O(n²·d/1024) under the derived k (57.3 s at n = 2·10⁵,
    * unrunnable at 10⁶ in the round-8 probe). Kept, and oracle-gated, only
    * as the Lloyd-refined quality baseline `sim_ann_ivf`.
    */
  case object Flat extends Family("ivfassign")

  /** The nearest of ⌈√k⌉ coarse groups, then the nearest fine centroid
    * within it: O(n·√k·d), the production index every other IVF consumer
    * runs on (FAISS's coarse quantizer).
    */
  case object TwoLevel extends Family("ivfcoarse")

  /** Level 1 (⌈k^(1/3)⌉ centroids) → level 2 (k^(2/3), within the chosen
    * level-1 groups) → fine winners per level-2 cell, with beams of the
    * derived widths: O(n·k^(1/3+1/4)·d), and the broadcast tables shrink
    * from √k to k^(2/3) rows (FAISS's IMI). The deeper descent is coarser,
    * so it buys recall back at SEARCH time with p ranked probe regions.
    */
  case object Imi extends Family("ivfimi")

  /** The cell assignment of `corpus` under `family`, built once per
    * (session, corpus dir) at the corpus's build width: (vec_id, cell,
    * cell2, mgn, s1, probes). `cell` is the home cell and `s1` the cosine
    * to its one centroid (the probe search's angular-prune anchor);
    * `probes` ranks the extra regions (pc, mgn) a probe search may visit,
    * `mgn` being how much better the home fits than region pc; `cell2` and
    * `mgn` are the rank-2 entry, null when k = 1 leaves none.
    */
  def assignment(s: SparkSession, dir: String, corpus: Corpus, family: Family): DataFrame = {
    val key = if (corpus == Plain && family == TwoLevel) "ivfplain" else family.key + corpus.tag
    Widths.withInitialParts(s, corpus.width(s, dir)) {
      CorpusCache.getOrBuild(s, s"$key:$dir") {
        val emb = corpus.frame(s, dir)
        val n = corpus.rows(s, dir)
        family match {
          case Flat => lloyd(s, dir, emb, cellCount(n))
          case TwoLevel => assignWithCodebook(emb, coarseCodebook(s, dir, cellCount(n)))
          case Imi => imiDescent(emb, imiCodebook(s, dir, cellCount(n)), staticProbeWidth(n))
        }
      }
    }
  }

  /** Index-build width over `copies` whole copies of an `embBytes`-byte
    * embeddings table: the build runs under a raised AQE initial partition
    * count, since at the session's count the two 10⁷ build stages re-spilled
    * 142 GB (SCALE.md "the 10⁷ wall ATTRIBUTED", round 17). ×8 is the
    * measured parquet → exchange expansion (1.7 GB → ~12 GB at 10⁷).
    */
  private[queries] def buildWidth(s: SparkSession, embBytes: Long, copies: Long): Option[Int] =
    Widths.widen(s, embBytes * copies * 8L, Widths.ADVISORY_BYTES)

  private[queries] val MIN_CENTROIDS = 16
  private[queries] val TARGET_CELL = 1024L

  /** The cell-count law k = max(MIN_CENTROIDS, ⌈n/TARGET_CELL⌉). */
  private[queries] def cellCount(n: Long): Long =
    math.max(MIN_CENTROIDS.toLong, (n + TARGET_CELL - 1L) / TARGET_CELL)

  /** Memoized base-corpus row count: ONE count job per (session, corpus),
    * column-pruned to a row-count scan. Every IVF size derives from it.
    */
  private[queries] def embCount(s: SparkSession, dir: String): Long =
    Preconditions.longOnce(s, s"rowcount:emb:$dir")(Tables.embeddings(s, dir).count())

  /** Integer-exact ⌈k^(1/r)⌉: libm `pow` is not correctly rounded, so the
    * rounded estimate is snapped with exact integer r-th-power comparisons.
    * The DuckDB twins spell the same snap.
    */
  private[queries] def ceilRoot(k: Long, r: Int): Long = {
    def pow(c: Long): Long = Iterator.fill(r)(c).product
    val c = math.round(math.pow(k.toDouble, 1.0 / r))
    if (pow(c - 1) >= k) c - 1 else if (pow(c) >= k) c else c + 1
  }

  /** Ceiling of the probe width: the k^(1/4) law reaches it at
    * k = 32⁴ = 1,048,576 cells, the ~10⁹-vector regime. The ArgTopN beams
    * size their buffers to the corpus's own width, so the ceiling costs
    * nothing below it; ArgTopN itself requires cap ≤ 64.
    */
  private[queries] val PROBE_CAP = 32

  /** Level-1 beam ceiling: ⌈√PROBE_CAP⌉ = 6, with headroom to 64. */
  private[queries] val L1_BEAM_CAP = 8

  /** The derived probe width (p, b1) from an exact corpus count n:
    *   k  = [[cellCount]](n),
    *   p  = min(PROBE_CAP, max(2, ⌈k^(1/4)⌉)) — the searched regions,
    *   b1 = min(L1_BEAM_CAP, ⌈√p⌉)             — the level-1 beam.
    * FAISS grows nprobe with the cell count; a fixed two-region probe left
    * the 10⁷ emission-band recall ceiling at 0.9217, under the 0.95 floor
    * (SCALE.md round 13). The IMI descent explores b1·k^(1/3) level-2 and
    * p·k^(1/3) fine candidates per vector, still under the two-level
    * chain's √k. At k = 16 (every gate sf) p = b1 = 2. The widths are the
    * ArgTopN beam widths, plan-static, and [[VectorOps.probeVerifiedPairs]]
    * sizes its probe-side exchange from the same p.
    */
  private[queries] def staticProbeWidth(n: Long): (Int, Int) = {
    val p = math.min(PROBE_CAP.toLong, math.max(2L, ceilRoot(cellCount(n), 4))).toInt
    (p, math.min(L1_BEAM_CAP.toLong, math.ceil(math.sqrt(p.toDouble)).toLong).toInt)
  }

  private[queries] def norm(v: Column): Column = sqrt(Native.vecDot(v, v))

  private[queries] def withNorm(df: DataFrame): DataFrame =
    df.withColumn("nrm", norm(col("embedding")))

  /** Hash-ranked seed table (cid, ce, nc): EXACTLY `k` centroids, the `k`
    * smallest (md5 hash, vec_id) pairs of a 4×-oversampled hash-threshold
    * slice of the base corpus. Id-distribution-free: `vec_id < k` starved
    * the codebook on the shifted-id 10⁷ fixture (2000 of 19532 seeds live,
    * 7.1·10¹⁰ pair candidates). The threshold is a map-side filter and the
    * rank window sorts only the ~4k-row oversample; the undersample
    * probability is below e^{-k/3} (Chernoff). k and the base count are
    * driver Longs, so the threshold is a plan literal (it keeps the
    * oracle's double-operation order, so both engines compute one bound).
    */
  private def hashSeeds(s: SparkSession, dir: String, k: Long, tag: String): DataFrame =
    Tables.embeddings(s, dir)
      .withColumn("hs",
        graft.functions.TextFns.md5Hash60(
          concat(lit(tag + ":"), col("vec_id").cast(StringType))) % lit(1000000L))
      .filter(col("hs") < lit(math.ceil(4000000.0d * k / embCount(s, dir).toDouble).toLong))
      // the rank window's one input partition as an explicit exchange, so
      // every use of this seed table in a build shares one read of the
      // corpus: a one-partition scan plans no exchange for reuse to share
      .repartition(1)
      .withColumn("rn", row_number().over(Window.orderBy(col("hs").asc, col("vec_id").asc)))
      .filter(col("rn") <= lit(k))
      .select(col("vec_id").as("cid"), col("embedding").as("ce"))
      .withColumn("nc", norm(col("ce")))

  /** The nearest-k step of every descent level: each row of `q`
    * (embedding, nrm) scores its cosine `cos` to the centroids (cid, ce, nc)
    * of the broadcast table `cb` (all of them, or those sharing the
    * `within` column), and each `by` group keeps its best, see [[top]].
    */
  private def nearest(q: DataFrame, cb: DataFrame, by: Seq[String],
      within: Option[String] = None, beam: Option[Int] = None): DataFrame =
    top(within.fold(q.crossJoin(broadcast(cb)))(g => q.join(broadcast(cb), Seq(g)))
      .withColumn("cos", Native.vecDot(col("embedding"), col("ce")) / (col("nrm") * col("nc"))),
      by, beam)

  /** Per `by` group, the best (cos, cid) rows under (cos DESC, cid ASC) in
    * column `t`: ArgTop2's struct(cell, cell2, s1, s2), or with a `beam`
    * ArgTopN's ranked array of struct(cs, cid), null-padded to the beam.
    * Both keep HashAggregate's fixed-width buffer; the picks without a beam
    * stay on ArgTop2, which whole-stage-codegens (see its scaladoc).
    */
  private def top(cand: DataFrame, by: Seq[String], beam: Option[Int]): DataFrame =
    cand.groupBy(by.map(col): _*).agg(beam.fold(Native.vecArgTop2(col("cos"), col("cid")))(
      p => Native.vecArgTopN(col("cos"), col("cid"), lit(p))).as("t"))

  /** An ArgTop2 pick as assignment rows: the runner-up is the one probe
    * region (these chains' regions are one level deep).
    */
  private def top2(picked: DataFrame): DataFrame = {
    val t = col("t")
    picked.select(col("vec_id"), t.getField("cell").as("cell"),
        t.getField("cell2").as("cell2"), (t.getField("s1") - t.getField("s2")).as("mgn"),
        t.getField("s1").as("s1"))
      .withColumn("probes", filter(array(struct(col("cell2").as("pc"), col("mgn").as("mgn"))),
        r => r.getField("pc").isNotNull))
  }

  /** The two-level codebook for cell count k, shared by every chain that
    * descends it: k fine centroids from the "ivfseed" universe, each in the
    * nearest of ⌈√k⌉ coarse groups (IEEE-exact sqrt) from "ivfgrp".
    */
  private[queries] def coarseCodebook(s: SparkSession, dir: String, k: Long): DataFrame =
    groupedCodebook(s, dir, "ivfseed", k, "ivfgrp", math.ceil(math.sqrt(k.toDouble)).toLong)

  /** `k` hash-ranked centroids (cid, ce, nc), each carrying the nearest of
    * `kg` group centroids (gid, ge, ng), built ONCE per (session, corpus,
    * universe, k); a group that wins no centroid has no row. The pick is
    * k×kg rows, never corpus-sized.
    */
  private def groupedCodebook(s: SparkSession, dir: String, tag: String, k: Long,
      groupTag: String, kg: Long): DataFrame =
    CorpusCache.getOrBuild(s, s"ivfcb:$dir:$tag:$k") {
      val cent = hashSeeds(s, dir, k, tag)
      val groups = hashSeeds(s, dir, kg, groupTag)
      nearest(cent.select(col("cid").as("vec_id"), col("ce").as("embedding"), col("nc").as("nrm")),
          groups, Seq("vec_id"))
        .select(col("vec_id").as("cid"), col("t").getField("cell").as("gid"))
        .join(cent, Seq("cid"))
        .join(broadcast(groups.select(col("cid").as("gid"), col("ce").as("ge"), col("nc").as("ng"))),
          Seq("gid"))
        .select(col("gid"), col("ge"), col("ng"), col("cid"), col("ce"), col("nc"))
    }

  /** The three-level codebook for cell count k, built ONCE per (session,
    * corpus, k): one row per "ivfseed" fine centroid (cid, ce, nc) with its
    * level-2 centroid (g2, e2, n2) and that one's level-1 group (g1, e1, n1).
    * The level-2 table is a [[groupedCodebook]] of its own (k1² centroids
    * in k1 = ⌈k^(1/3)⌉ groups), which fine centroids descend as vectors
    * descend the two-level codebook: k·k1 + k·E[k1] rows, never k^(5/3).
    */
  private[queries] def imiCodebook(s: SparkSession, dir: String, k: Long): DataFrame =
    CorpusCache.getOrBuild(s, s"ivfimicb:$dir:$k") {
      val k1 = ceilRoot(k, 3)
      val l2 = groupedCodebook(s, dir, "ivfl2", k1 * k1, "ivfl1", k1)
      val fine = hashSeeds(s, dir, k, "ivfseed")
      assignWithCodebook(fine.select(col("cid").as("vec_id"), col("ce").as("embedding")), l2)
        .select(col("vec_id").as("cid"), col("cell").as("g2"))
        .join(fine, Seq("cid"))
        .join(broadcast(l2.select(col("gid").as("g1"), col("ge").as("e1"), col("ng").as("n1"),
          col("cid").as("g2"), col("ce").as("e2"), col("nc").as("n2"))), Seq("g2"))
        .select(col("g1"), col("e1"), col("n1"), col("g2"), col("e2"), col("n2"),
          col("cid"), col("ce"), col("nc"))
    }

  /** The flat chain: seed pick, one Lloyd refinement (per-cell component
    * means, re-quantized to float32 as the oracle's DOUBLE → REAL does; an
    * empty cell vanishes and its members re-assign), final pick.
    */
  private def lloyd(s: SparkSession, dir: String, emb: DataFrame, k: Long): DataFrame = {
    val assign0 = nearest(withNorm(emb), hashSeeds(s, dir, k, "ivfseed"), Seq("vec_id"))
      .select(col("vec_id"), col("t").getField("cell").as("cell"))
    val refined = emb.join(assign0, Seq("vec_id"))
      .select(col("cell"), posexplode(col("embedding")).as(Seq("d", "x")))
      .groupBy(col("cell"), col("d"))
      .agg(avg(col("x").cast(DoubleType)).as("m"))
      .groupBy(col("cell"))
      .agg(transform(array_sort(collect_list(struct(col("d"), col("m")))),
        t => t.getField("m")).as("ce"))
      .select(col("cell").as("cid"), col("ce").cast(ArrayType(FloatType)).as("ce"))
      .withColumn("nc", norm(col("ce")))
    top2(nearest(withNorm(emb), refined, Seq("vec_id")))
  }

  /** The two-level descent of `emb` against a [[coarseCodebook]]: the
    * nearest NON-EMPTY coarse group (n·√k candidates; an empty group would
    * strand its vectors), then the nearest fine centroid within it
    * (n·E[k/√k]); the group id rejoins the corpus by vec_id, an O(n)
    * equi-join. Per-vector independent given the codebook, so invariant to
    * how `emb` is batched (the property the streaming ingest rides).
    */
  private[queries] def assignWithCodebook(emb: DataFrame, cb: DataFrame): DataFrame = {
    val q = withNorm(emb)
    // distinct, not dropDuplicates("gid"), whose first() of an array falls
    // back to SortAggregate; its -0.0 → 0.0 key normalization leaves every
    // dot (a fold from +0.0) unchanged
    val groups = cb.select(col("gid").as("cid"), col("ge").as("ce"), col("ng").as("nc")).distinct()
    val gid = nearest(q, groups, Seq("vec_id"))
      .select(col("vec_id"), col("t").getField("cell").as("gid"))
    top2(nearest(q.join(gid, Seq("vec_id")), cb.select(col("gid"), col("cid"), col("ce"), col("nc")),
      Seq("vec_id"), Some("gid")))
  }

  /** The IMI descent against an [[imiCodebook]] at beam widths (p, b1):
    * level 1 keeps the top-b1 groups, level 2 ranks their centroids and
    * keeps the top-p cells, and each explored cell's fine winner carries
    * its score. `cell` is the overall winner and the other ranked winners
    * are the probe regions, never a same-menu runner-up (round 10 measured
    * that adds zero recall: separated truth pairs separate at levels 1–2).
    * The guards (a level-2 centroid with no fine member, a level-1 one
    * with no level-2) are projections of the codebook, so no vector strands.
    */
  private def imiDescent(emb: DataFrame, cb: DataFrame, width: (Int, Int)): DataFrame = {
    val (capP, capB1) = width
    val q = withNorm(emb)
    def beam(picked: DataFrame, as: String): DataFrame =
      picked.select(col("vec_id"), explode(col("t")).as("b")).filter(col("b").isNotNull)
        .select(col("vec_id"), col("b").getField("cid").as(as))
    val l1 = cb.select(col("g1").as("cid"), col("e1").as("ce"), col("n1").as("nc")).distinct()
    val l2 = cb.select(col("g1"), col("g2").as("cid"), col("e2").as("ce"), col("n2").as("nc")).distinct()
    val v1 = beam(nearest(q, l1, Seq("vec_id"), beam = Some(capB1)), "g1")
    val v2 = beam(nearest(q.join(v1, Seq("vec_id")), l2, Seq("vec_id"), Some("g1"), Some(capP)), "g2")
    val winners = nearest(q.join(v2, Seq("vec_id")), cb.select(col("g2"), col("cid"), col("ce"),
        col("nc")), Seq("vec_id", "g2"), Some("g2"))
      .select(col("vec_id"), col("t").getField("s1").as("cos"), col("t").getField("cell").as("cid"))
    val tops = col("t")
    val s1 = tops.getItem(0).getField("cs")
    top(winners, Seq("vec_id"), Some(capP))
      .select(col("vec_id"),
        tops.getItem(0).getField("cid").as("cell"),
        get(tops, lit(1)).getField("cid").as("cell2"),
        (s1 - get(tops, lit(1)).getField("cs")).as("mgn"),
        s1.as("s1"),
        transform(filter(slice(tops, lit(2), lit(capP - 1)), r => r.isNotNull),
          r => struct(r.getField("cid").as("pc"), (s1 - r.getField("cs")).as("mgn"))).as("probes"))
  }
}
