package graft.queries

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Output-substance invariants the DuckDB hash-compare CANNOT see: two
  * engines computing the same useless thing still hash-match (the original
  * sim_ann_lsh had zero recall while matching its oracle perfectly). These
  * pin the approximate operators to their exact ground truths.
  */
class QueryInvariantSpec extends SparkSpec {
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private def q(name: String) = graft.SparkEntry.queries(name)(spark, dir)

  /** FULL exact-Jaccard near-dup truth (all O(n²) pairs ≥ 0.7), computed
    * in-test: the gated `dedup_ngram_jaccard` is ANCHOR-SAMPLED now (the
    * scale-safe fixture), so tests that need the complete pair set build it
    * here over the 500-doc fixture where quadratic is harmless.
    */
  private lazy val fullJaccardTruth: Set[(Long, Long)] = {
    val sh = graft.Tables.documents(spark, dir)
      .select($"doc_id", explode(graft.functions.TextFns.shingles3($"text")).as("shingle"))
    val sizes = sh.groupBy($"doc_id").agg(count(lit(1)).as("n_sh"))
    val inter = sh.select($"doc_id".as("i"), $"shingle")
      .join(sh.select($"doc_id".as("j"), $"shingle"), Seq("shingle"))
      .filter($"i" < $"j").groupBy($"i", $"j").agg(count(lit(1)).as("c"))
    inter
      .join(sizes.select($"doc_id".as("i"), $"n_sh".as("na")), Seq("i"))
      .join(sizes.select($"doc_id".as("j"), $"n_sh".as("nb")), Seq("j"))
      .filter($"c".cast("double") / ($"na" + $"nb" - $"c") >= 0.7)
      .select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
  }

  test("threshold-banded levenshtein: true distance at or under the threshold, -1 above") {
    // round 11: every ER verify runs the 3-arg levenshtein(i, j, 2) —
    // a ±2 diagonal band with early exit instead of the full O(len²)
    // matrix. The family's correctness rests on the band being EXACT at
    // the threshold, so pin the contract against the full form over the
    // real name universe crossed with its derived 1–2-edit dirty
    // variants (prefix-sharing, near-threshold pairs — the shapes the
    // verifies actually see): identical distances for survivors,
    // -1 exactly when the true distance exceeds 2.
    val names = graft.Tables.part(spark, dir)
      .select($"p_name".as("name")).distinct()
    val dirty = names.select(
      concat(substring($"name", 1, 1), expr("substring(name, 3)")).as("name"))
    val pairs = names.select($"name".as("i"))
      .crossJoin(names.unionByName(dirty).select($"name".as("j")))
      .withColumn("full", levenshtein($"i", $"j"))
      .withColumn("banded", levenshtein($"i", $"j", 2))
      .cache()
    val disagree = pairs.filter(
      ($"full" <= 2 && $"banded" =!= $"full") ||
      ($"full" > 2 && $"banded" =!= -1)).count()
    assert(disagree === 0L, s"banded/full levenshtein disagree on $disagree pairs")
    // the fixture must exercise BOTH regimes, or the pin is vacuous
    assert(pairs.filter($"full" <= 2 && $"full" > 0).count() > 0,
      "no near-threshold survivor pairs in the fixture")
    assert(pairs.filter($"full" > 2).count() > 0,
      "no above-threshold pairs in the fixture")
    pairs.unpersist()
  }

  test("minhash-LSH recalls exactly the full exact-Jaccard pair set") {
    val lsh = q("dedup_minhash_lsh").select("i", "j").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(lsh === fullJaccardTruth)
    assert(lsh.nonEmpty, "fixture should contain planted near-dup pairs")
  }

  test("anchored Jaccard truth is exactly the full truth restricted to anchor pairs") {
    // the fixture (500 docs) derives modulus 3 → anchoring is ACTIVE here,
    // so this pins the sampling semantics, not a degenerate all-anchors case
    val ids = TextOps.sharedShingleIndex(spark, dir).select($"doc_id").distinct()
    val anchors = AnchorSample.withAnchors(ids, $"doc_id")
      .filter($"is_anchor").select("doc_id").collect().map(_.getLong(0)).toSet
    assert(anchors.nonEmpty && anchors.size < 500, s"anchors=${anchors.size}")
    val sampled = q("dedup_ngram_jaccard").select("i", "j").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expected = fullJaccardTruth.filter(p => anchors(p._1) || anchors(p._2))
    assert(sampled === expected)
    assert(sampled.nonEmpty, "anchored truth must keep planted positives")
  }

  test("ANN (LSH and IVF) finds every planted duplicate pair at cosine 1.0") {
    val nVecs = graft.Tables.embeddings(spark, dir).count()
    for (name <- Seq("sim_ann_lsh", "sim_ann_lsh_multiprobe", "sim_ann_ivf")) {
      val ann = q(name).collect()
      assert(ann.length === nVecs, name)   // one (i, i+100000) pair per vector
      assert(ann.forall(r => r.getAs[Long]("j") === r.getAs[Long]("i") + 100000L), name)
      assert(ann.forall(_.getAs[Double]("cosine") === 1.0), name)
    }
    // multi-probe candidates are a superset of the single-table buckets,
    // so its result set can only grow
    val single = q("sim_ann_lsh").collect().map(_.toString).toSet
    val multi = q("sim_ann_lsh_multiprobe").collect().map(_.toString).toSet
    assert(single.subsetOf(multi))
  }

  test("coarse-quantized IVF recovers exactly the planted pair set (≡ flat IVF)") {
    // the two assignment schemes produce DIFFERENT cells (seeds-only
    // codebook vs Lloyd-refined), but identical vectors co-assign under
    // either, and on the random fixture only planted (v, v+100000) twins
    // clear the 0.999 threshold — so the verified outputs must be equal
    val coarse = q("sim_ann_ivf_coarse").collect()
    val nVecs = graft.Tables.embeddings(spark, dir).count()
    assert(coarse.length === nVecs)
    assert(coarse.forall(r => r.getAs[Long]("j") === r.getAs[Long]("i") + 100000L))
    assert(coarse.forall(_.getAs[Double]("cosine") === 1.0))
    val flat = q("sim_ann_ivf").collect().map(_.toString).toSet
    assert(coarse.map(_.toString).toSet === flat)
    // assignment totality: restricting vectors to NON-EMPTY coarse groups
    // must never strand a vector (the empty-group edge the inner join on
    // gid would otherwise silently drop) — every augmented vector gets a
    // cell, so the planted-pair recovery above is structural, not luck
    val assign = Ivf.assignment(spark, dir, Ivf.Augmented, Ivf.TwoLevel)
    assert(assign.count() === 2 * nVecs)
    assert(assign.filter(col("cell").isNull).count() === 0L)
  }

  test("three-level IMI descent recovers exactly the planted pair set (≡ flat IVF)") {
    // same co-assignment argument as the two-level chain: the deeper
    // descent picks DIFFERENT cells than flat/coarse, but identical
    // vectors take identical argmax decisions at every level, so planted
    // twins can never separate — and only twins clear 0.999
    val imi = q("sim_ann_ivf_imi").collect()
    val nVecs = graft.Tables.embeddings(spark, dir).count()
    assert(imi.length === nVecs)
    assert(imi.forall(r => r.getAs[Long]("j") === r.getAs[Long]("i") + 100000L))
    assert(imi.forall(_.getAs[Double]("cosine") === 1.0))
    val flat = q("sim_ann_ivf").collect().map(_.toString).toSet
    assert(imi.map(_.toString).toSet === flat)
    // totality through BOTH bottom-up non-empty guards (level-2 with no
    // fine members, level-1 with no surviving level-2): no vector strands
    val assign = Ivf.assignment(spark, dir, Ivf.Augmented, Ivf.Imi)
    assert(assign.count() === 2 * nVecs)
    assert(assign.filter(col("cell").isNull).count() === 0L)
  }

  test("IMI two-region probe holds the recall margin over the design floor") {
    // round 10 (round-9 verdict: the 0.823 margin was one wobble from
    // red): the IMI gate searches nprobe=2 over two distinct REGIONS
    // (cell = overall fine argmax, cell2 = the second-best level-2
    // cell's winner) — measured 0.951 / 0.902 / 0.863 at
    // sf0.001/0.01/0.1, every margin ≥ 0.05 above the 0.8 floor. The
    // chain is fully hash-derived (no RNG), so these are deterministic
    // per fixture; this spec pins the sf0.001 band so a descent or
    // probe regression that erodes the margin fails HERE, not one
    // fixture-regeneration later at the driver's gate.
    val rows = q("ann_recall").collect()
    val rec = rows.map(r => r.getString(0) -> r.getAs[Double]("recall")).toMap
    assert(rec("ivf_imi") >= VectorOps.RECALL_IMI_T + 0.05,
      s"imi recall must hold ≥0.05 over the ${VectorOps.RECALL_IMI_T} floor, got ${rec("ivf_imi")}")
    assert(rec("ivf") >= VectorOps.RECALL_IVF_T + 0.05,
      s"coarse recall must hold ≥0.05 over the ${VectorOps.RECALL_IVF_T} floor, got ${rec("ivf")}")
    // the LSH arms' blended floors (round-13 advice: these were dropped
    // with no pin anywhere when the gated boolean narrowed to dup_ok) —
    // pinned at their design floors, the same constants the bucket/probe
    // design was calibrated against
    assert(rec("lsh") >= VectorOps.RECALL_LSH_T,
      s"lsh blended recall under its ${VectorOps.RECALL_LSH_T} design floor: ${rec("lsh")}")
    assert(rec("lsh_multiprobe") >= VectorOps.RECALL_MP_T,
      s"multiprobe blended recall under its ${VectorOps.RECALL_MP_T} design floor: ${rec("lsh_multiprobe")}")
    // round 12: the DUPLICATE-BAND recall (truth at ≥ANN_T — the band the
    // production consumers emit) is exactly 1.0 for every method on the
    // planted fixtures, at every measured tier through 10⁷ (SCALE.md);
    // the blended recall above is composition-sensitive, this one is the
    // quality-at-scale contract
    rows.foreach { r =>
      assert(r.getAs[Double]("recall_dup") === 1.0d,
        s"${r.getString(0)}: duplicate-band recall must be 1.0 on planted fixtures")
      assert(r.getAs[Boolean]("dup_ok"), s"${r.getString(0)}: dup floor")
    }
  }

  test("near-twin corpus: the margin gate captures the nprobe=2 ceiling " +
    "in both planted bands and beats home-only search") {
    // Round 13 — the τ apparatus exercised by pairs it was BUILT for
    // (perturbed twins that genuinely straddle regions; byte-identical
    // copies cannot). The scale-stable contract is the CAPTURE ratio:
    // candidates at the production τ recover ≥99% of what the ungated
    // nprobe=2 search sees, per band (measured 99.2–100% at sf0.1 and
    // 10⁶; per-tier numbers in SCALE.md round 13); and the apparatus is
    // non-vacuous — it strictly beats home-only search in the planted
    // bands.
    val emb = Ivf.NearTwin.frame(spark, dir)
    val truth = VectorOps.anchoredNtTruthBands(spark, dir)
    val anchors = graft.queries.AnchorSample
      .withAnchors(emb.select($"vec_id"), $"vec_id")
      .filter($"is_anchor").select($"vec_id")
    val assign = Ivf.assignment(spark, dir, Ivf.NearTwin, Ivf.Imi)
    def foundPerBand(tau: Double): Map[String, Long] =
      truth.join(VectorOps.probeAnchorCandidatesAt(assign, anchors, tau),
          Seq("i", "j"), "left_semi")
        .groupBy($"band").count()
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        .withDefaultValue(0L)
    val home = foundPerBand(-1.0)
    val gated = foundPerBand(VectorOps.PROBE_MARGIN_T)
    val ceil = foundPerBand(2.0)
    for (band <- Seq("a_dup", "b_neartwin")) {
      assert(ceil(band) > 0L, s"$band must be populated")
      assert(gated(band).toDouble >= 0.99 * ceil(band),
        s"$band: gated ${gated(band)} < 99% of nprobe=2 ceiling ${ceil(band)}")
    }
    assert(gated("a_dup") + gated("b_neartwin") >
      home("a_dup") + home("b_neartwin"),
      "the second probe must add planted-band recall over home-only search")
  }

  test("derived probe width: the k^(1/4) law is integer-exact, clamps at " +
    "its capacity, and lands on the round-13 shape at every gate k") {
    // Round 14 (the round-13 verdict's top item): nprobe derives from the
    // cell count — p = min(PROBE_CAP, max(2, ⌈k^(1/4)⌉)), b1 = min(8, ⌈√p⌉)
    // — so the probe width a 10⁹-vector index needs can never silently
    // regress to the fixed two-region probe whose 10⁷ emission-band
    // ceiling (0.9217) sat under the 0.95 floor. The ER q=7 discipline:
    // the law is pinned EXECUTABLY against injected k frames, spanning
    // the gate fixtures (k = 16 → the round-13 p = 2 shape, which is why
    // every gate hash survived this round unchanged), the measured probe
    // tiers, exact fourth powers (the libm-snap boundary), and the
    // capacity clamps. Each k frame is the corpus count n = k·1024 (one
    // TARGET_CELL per cell), so k = ⌈n/1024⌉ exactly.
    import spark.implicits._
    def pb(k: Long): (Int, Int) = Ivf.staticProbeWidth(k * 1024L)
    assert(pb(16L) === ((2, 2)), "gate fixtures: the round-13 probe shape")
    assert(pb(80L) === ((3, 2)))
    assert(pb(2401L) === ((7, 3)), "exact fourth power: 7^4 must give 7, not 8")
    assert(pb(2402L) === ((8, 3)))
    assert(pb(19532L) === ((12, 4)), "the 10^7 augmented tier")
    assert(pb(39063L) === ((15, 4)), "the 10^7 near-twin tier")
    // round 15: PROBE_CAP lifted 16 → 32 (the old cap saturated the law at
    // k = 65536 ≈ 7·10^7 vectors, an order of magnitude under the 10^9
    // regime it cites) — these frames span the old clamp, the new exact
    // fourth-power boundary, and the new clamp
    assert(pb(65536L) === ((16, 4)), "the old cap's k: the law now passes through")
    assert(pb(65537L) === ((17, 5)), "first k past the old clamp")
    assert(pb(1048576L) === ((32, 6)), "exact fourth power 32^4: the 10^9-vector regime")
    assert(pb(1048577L) === ((32, 6)), "capacity clamp engages")
    assert(pb(4000000000L) === ((32, 6)), "clamped at PROBE_CAP past 10^12 vectors")
    // the p = 2 floor that the ArgTopN beam buffers and the probe join's
    // exchange width key on: it holds from an empty-ish corpus (k at
    // the MIN_CENTROIDS floor) through exactly k = 16 (n ≤ 16·1024), and
    // the first count past it derives p = 3
    assert(Ivf.staticProbeWidth(1L)._1 === 2,
      "a corpus under one cell's worth sits on the MIN_CENTROIDS floor")
    assert(Ivf.staticProbeWidth(4000L)._1 === 2,
      "gate-sf corpus counts sit on the p = 2 floor")
    assert(Ivf.staticProbeWidth(16384L)._1 === 2,
      "the p = 2 floor holds through exactly k = 16")
    assert(Ivf.staticProbeWidth(16385L)._1 === 3,
      "the first count past the floor derives p = 3")
    // the emitted probe list obeys the law on the fixture: ranked extra
    // regions only (home excluded), margins non-negative and monotone,
    // and rank-2 consistent with the compat columns (cell2, mgn)
    val assign = Ivf.assignment(spark, dir, Ivf.Augmented, Ivf.Imi)
    val bad = assign.filter(size($"probes") > 0).filter(
      $"probes".getItem(0).getField("pc") =!= $"cell2" ||
        abs($"probes".getItem(0).getField("mgn") - $"mgn") > 1e-15 ||
        exists($"probes", p => p.getField("mgn") < 0) ||
        exists($"probes", p => p.getField("pc") === $"cell")).count()
    assert(bad === 0L, "probe list must rank extra regions consistently with cell2/mgn")
    val wide = assign.filter(size($"probes") > 1).count()
    assert(wide === 0L, "at the fixture's k = 16 the derived p = 2 caps the list at one region")
  }

  test("integer roots: ceilRoot is the exact ceiling of the cube and fourth roots") {
    // the IMI level size k1 = ⌈k^(1/3)⌉ and the probe width's ⌈k^(1/4)⌉
    // both come from ceilRoot; libm pow is not correctly rounded, so the
    // snap must land on the true ceiling at and around every perfect power
    def pow(c: Long, r: Int): Long = Iterator.fill(r)(c).product
    for (r <- Seq(3, 4); k <- 1L to 200000L) {
      val c = Ivf.ceilRoot(k, r)
      assert(pow(c - 1, r) < k && k <= pow(c, r), s"ceilRoot($k, $r) = $c")
    }
    val cube = Seq(27L -> 3L, 28L -> 4L, 19532L -> 27L, 19683L -> 27L,
      19684L -> 28L, 1000000L -> 100L, 1000001L -> 101L)
    for ((k, c) <- cube)
      assert(Ivf.ceilRoot(k, 3) === c, s"cube root of $k (19532 is the 10^7 tier's k)")
  }

  test("IVF corpus counts: the augmented corpora are exact multiples of the base count") {
    // every codebook size derives from the one memoized base count, which
    // holds only while each corpus frame is its `copies` whole copies
    for (c <- Seq(Ivf.Plain, Ivf.Augmented, Ivf.NearTwin))
      assert(c.frame(spark, dir).count() === c.rows(spark, dir), c)
  }

  test("margin-gated nprobe=2: the gate only ever removes clear-winner " +
    "probes, and holds the anchored recall at this fixture") {
    // round 11 (the FAISS refinement discipline): only boundary vectors
    // (assignment margin ≤ PROBE_MARGIN_T) probe their second region.
    // Pins: (a) the gated candidate set is a subset of the ungated one
    // (τ = 2.0 ≥ any possible cosine margin) and a superset of the
    // home-only (τ < 0) set — the gate moves between the two extremes
    // monotonically; (b) at the production τ the gate loses ZERO anchored
    // truth vs ungated on this fixture — the calibration invariant the
    // SCALE.md sweep established; (c) the gate actually prunes (some
    // vector with cell2 has mgn > τ, else the predicate is vacuous).
    val emb = graft.Tables.embeddings(spark, dir).select($"vec_id", $"embedding")
    val aug = emb.unionByName(
      emb.select(($"vec_id" + 100000L).as("vec_id"), $"embedding"))
    val anchors = AnchorSample.withAnchors(aug.select($"vec_id"), $"vec_id")
      .filter($"is_anchor").select($"vec_id")
    val assign = Ivf.assignment(spark, dir, Ivf.Augmented, Ivf.Imi)
    def cands(tau: Double): Set[(Long, Long)] =
      VectorOps.probeAnchorCandidatesAt(assign, anchors, tau)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val homeOnly = cands(-1.0)
    val gated = cands(VectorOps.PROBE_MARGIN_T)
    val ungated = cands(2.0)
    assert(homeOnly.subsetOf(gated) && gated.subsetOf(ungated))
    val truth = q("ann_recall")
    val rec = truth.collect()
      .map(r => r.getString(0) -> r.getAs[Long]("n_found_dup")).toMap
    // the production ivf_imi row audits the gated set; re-derive the
    // ungated DUP-BAND found-count here and require no loss at this
    // fixture. Band-matched on purpose (round-13 advice): the sweep's
    // blended n_found includes the geometric tail, so comparing it to the
    // gate's dup-band count silently untested the no-loss invariant —
    // the a_dup row's found-count against n_found_dup is the like-for-like
    // pair.
    val ungatedDup = VectorOps.marginSweep(spark, dir, Seq(2.0))
      .find(_._2 == "a_dup").get._4
    assert(rec("ivf_imi") === ungatedDup,
      s"gated governance found ${rec("ivf_imi")} dup-band pairs, ungated $ungatedDup")
    val prunable = assign.filter($"cell2".isNotNull &&
      $"mgn" > VectorOps.PROBE_MARGIN_T).count()
    assert(prunable > 0, "the margin gate is vacuous on this fixture")
  }

  test("shard export: conservation, dense ordinals, token-banded shards") {
    val out = q("curation_shard_export").cache()
    val n = graft.Tables.documents(spark, dir).count()
    // every document exported exactly once, and the running total is a
    // true prefix sum (max cum == total tokens)
    assert(out.count() === n)
    assert(out.select("doc_id").distinct().count() === n)
    val tot = out.agg(sum($"n_tokens")).head().getLong(0)
    assert(out.agg(max($"cum_tokens")).head().getLong(0) === tot)
    // within every shard the ordinal is dense 1..n_docs
    val byShard = out.groupBy($"shard_id")
      .agg(count(lit(1)).as("nd"), max($"ordinal").as("mx"),
        sum($"n_tokens").as("st")).cache()
    assert(byShard.filter($"mx" =!= $"nd").count() === 0)
    assert(byShard.count() >= 2, "fixture must produce multiple shards")
    // start-offset algebra: a non-last shard's token sum can exceed the
    // budget by at most one document (its last doc may straddle the
    // boundary), never more — sum ≤ B + max_doc − 1
    val maxDoc = out.agg(max($"n_tokens")).head().getLong(0)
    val last = out.agg(max($"shard_id")).head().getLong(0)
    val over = byShard.filter($"shard_id" =!= last)
      .filter($"st" > Curation.SHARD_TOKENS + maxDoc - 1).count()
    assert(over === 0, "non-last shards must stay within one document of the budget")
    out.unpersist(); byShard.unpersist()
  }

  test("two-tier cell verification is exact: the sketch bound prunes hard but never drops") {
    // round 10 superset-safety, EXECUTED: the Cauchy–Schwarz prefilter
    // (16-d head dot + tail-norm product ≥ T·norms − ε) may only discard
    // pairs the exact rescore would also discard — so the two-tier output
    // must equal the single-tier exact join bit-for-bit. And the bound
    // must actually PRUNE (tier 2 exists to be rare): survivors ≤ 10% of
    // the within-cell candidate space on the random fixture.
    def vdot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      graft.expr.Native.vecDot(a, b)
    val assign = Ivf.assignment(spark, dir, Ivf.Augmented, Ivf.TwoLevel)
    val base = graft.Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val aug = base.unionByName(
      base.select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
    val n = aug.withColumn("nrm", sqrt(vdot(col("embedding"), col("embedding"))))
      .join(assign, Seq("vec_id"))
    val l = n.select(col("cell"), col("vec_id").as("i"), col("embedding").as("ea"), col("nrm").as("na"))
    val r = n.select(col("cell"), col("vec_id").as("j"), col("embedding").as("eb"), col("nrm").as("nb"))
    val exact = l.join(r, Seq("cell")).filter(col("i") < col("j"))
      .withColumn("cos", vdot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cos") >= 0.999)   // = ANN_T
      .select(col("i"), col("j"))
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    val tiered = VectorOps.cellVerifiedPairs(spark, dir, assign)
      .select(col("i"), col("j"))
      .collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(tiered === exact, "two-tier verification must equal the exact join")
    // pruning is real: re-run tier 1 alone and compare volumes
    val sk = VectorOps.sharedPairSketch(spark, dir)
      .join(assign.select(col("vec_id"), col("cell")), Seq("vec_id"))
    val ll = sk.select(col("cell"), col("vec_id").as("i"), col("hq").as("ha"),
      col("tn").as("ta"))
    val rr = sk.select(col("cell"), col("vec_id").as("j"), col("hq").as("hb"),
      col("tn").as("tb"))
    val candAll = ll.join(rr, Seq("cell")).filter(col("i") < col("j"))
    val total = candAll.count()
    // round 16: the sketch is pre-normalized, so the bound replay is the
    // norm-free spelling; round 17: the head is binary16-PACKED, scored
    // by vec_dot_half under the f16-quantization slack (SKETCH_EPS)
    val survivors = candAll
      .filter(graft.expr.Native.vecDotHalf(col("ha"), col("hb")) +
          col("ta") * col("tb") >=
        lit(0.999) - lit(VectorOps.SKETCH_EPS))
      .count()
    assert(survivors >= exact.size, "the bound must be a superset of the exact pairs")
    // Non-vacuous pruning, with the bound DERIVED from the fixture rather
    // than a hard-coded selectivity (round-10 advice: "≤ total/10" was a
    // property of the random 64-d fixture, not of the algorithm — a
    // regenerated fixture with more correlated embeddings could fail it
    // with no code regression). The algorithmic claims are (a) the
    // prefilter discards SOMETHING (tier 2 exists), and (b) survivors
    // track the true pair structure — within a small multiple of the
    // exact pair count — rather than the candidate space.
    assert(survivors * 2 <= total,
      s"the prefilter must prune at least half the candidate space: $survivors of $total survived")
    assert(survivors <= 64L * (exact.size + 1),
      s"survivors must scale with the true pair count, not the candidate space: " +
        s"$survivors survived for ${exact.size} exact pairs")
  }

  test("semantic dedup groups every planted duplicate and keeps exactly one per group") {
    val out = q("dedup_semantic").cache()
    val n = graft.Tables.embeddings(spark, dir).count()
    assert(out.count() === 2 * n)   // one decision row per augmented vector
    val group = out.collect().map(r => r.getAs[Long]("vec_id") -> r.getAs[Long]("group_id")).toMap
    val baseIds = group.keys.filter(_ < 100000L)
    assert(baseIds.nonEmpty && baseIds.forall(v => group(v) === group(v + 100000L)))
    // exactly one representative per group, and it is the group minimum
    val kept = out.filter($"is_kept").cache()
    assert(kept.count() === out.select("group_id").distinct().count())
    assert(kept.collect().forall(r => r.getAs[Long]("vec_id") === r.getAs[Long]("group_id")))
    // keep/drop is a real decision: planted dups force dropped rows
    assert(kept.count() < out.count())
  }

  test("gap-fill: punched days exist and are filled from the last prior observation") {
    val out = q("ts_gapfill_locf").cache()
    val gaps = out.filter($"is_gap")
    assert(gaps.count() > 0, "hole-punching must create real gaps")
    // every spine starts at a surviving observation, so LOCF always has a value
    assert(gaps.filter($"filled_value".isNull).count() === 0)
    // on observed days the fill is the observation itself
    assert(out.filter(!$"is_gap" && $"daily_value" =!= $"filled_value").count() === 0)
  }

  test("scalar quantization keeps reconstruction error small but nonzero") {
    val sq = q("emb_quantize_sq").collect()
    assert(sq.nonEmpty)
    assert(sq.forall(_.getAs[Double]("scale") > 0))
    val mses = sq.map(_.getAs[Double]("mse"))
    assert(mses.forall(m => m >= 0 && m < 1e-4), "int8 max-abs SQ error bound")
    assert(mses.exists(_ > 0), "quantization must actually lose precision")
  }

  test("temporal SCD2 join resolves exactly one version per fact") {
    val out = q("j16_temporal_scd2").cache()
    val n = out.count()
    // half-open intervals partition time: a purchase can never match two
    // versions (zero-width versions excluded) or vanish (left join)
    assert(n > 0 && out.select("event_id").distinct().count() === n)
    assert(out.filter($"state_at_purchase".isNull).count() === 0)
  }

  test("funnel stages are monotone non-increasing; cohort week-0 retention is exactly 1") {
    val f = q("funnel_conversion").orderBy("stage").collect()
    assert(f.length === 3)
    val counts = f.map(_.getAs[Long]("n_users"))
    assert(counts(0) >= counts(1) && counts(1) >= counts(2) && counts(2) > 0)
    val c = q("cohort_retention").cache()
    assert(c.filter($"week_offset" === 0 && $"retention" =!= 1.0).count() === 0)
    assert(c.filter($"retention" > 1.0 || $"retention" <= 0.0).count() === 0)
  }

  test("brute-force top-k: k rows per vector, ranked by descending cosine") {
    val tk = q("sim_topk_bruteforce").cache()
    val perVec = tk.groupBy($"vec_id").count().select("count").distinct().collect()
    assert(perVec.length === 1 && perVec.head.getLong(0) === 5L)
    val bad = tk.alias("a").join(tk.alias("b"),
        $"a.vec_id" === $"b.vec_id" && $"a.rank" === $"b.rank" - 1)
      .filter($"a.cosine" < $"b.cosine").count()
    assert(bad === 0)   // cosine non-increasing in rank
  }

  test("simhash is locality-sensitive: near-dup hamming << random hamming") {
    val sig = q("dedup_simhash").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = fullJaccardTruth.toSeq
    assert(pairs.nonEmpty)
    def hamming(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    val nearAvg = pairs.map { case (i, j) => hamming(sig(i), sig(j)) }.sum.toDouble / pairs.length
    val ids = sig.keys.toSeq.sorted
    val randomAvg = ids.zip(ids.drop(ids.length / 2))
      .filterNot(p => pairs.contains(p))
      .map { case (i, j) => hamming(sig(i), sig(j)) }
    assert(nearAvg < randomAvg.sum.toDouble / randomAvg.length / 2,
      s"near=$nearAvg vs random=${randomAvg.sum.toDouble / randomAvg.length}")
  }

  test("decontamination removes exactly the eval-set near/exact duplicates") {
    import spark.implicits._
    val kept = q("decontaminate").select("doc_id").as[Long].collect().toSet
    val corpus = graft.Tables.documents(spark, dir)
      .filter($"doc_id" % 50 =!= 0).select("doc_id").as[Long].collect().toSet
    val removed = corpus -- kept
    // ground truth: corpus docs near-dup (jaccard >= 0.7) with an eval doc
    val pairs = fullJaccardTruth.toSeq
    val expected = pairs.collect {
      case (i, j) if i % 50 == 0 && j % 50 != 0 => j
      case (i, j) if j % 50 == 0 && i % 50 != 0 => i
    }.toSet
    assert(removed === expected,
      s"false positives: ${(removed -- expected).take(5)}; missed: ${(expected -- removed).take(5)}")
  }

  test("chunking tiles every document: starts step evenly, last chunk ends at n_tokens") {
    val chunks = q("curation_chunk_documents")
      .groupBy($"doc_id")
      .agg(max($"start_tok" + $"n_tok").as("covered"),
        count(lit(1)).as("n_chunks"),
        max($"chunk_id").as("last_id"))
    val toks = graft.Tables.documents(spark, dir)
      .select($"doc_id", size(graft.functions.TextFns.rawTokens($"text")).as("n"))
    val joined = chunks.join(toks, Seq("doc_id"))
    // coverage reaches exactly the token count, ids are dense 0..k
    assert(joined.filter($"covered" =!= $"n").count() === 0)
    assert(joined.filter($"last_id" =!= $"n_chunks" - 1).count() === 0)
    // overlap: every non-final chunk is full-width (64)
    val nonFinal = q("curation_chunk_documents")
      .join(toks, Seq("doc_id"))
      .filter($"start_tok" + $"n_tok" < $"n")
    assert(nonFinal.filter($"n_tok" =!= 64).count() === 0)
  }

  test("incremental ANN finds every planted batch duplicate against the index") {
    val out = q("sim_ann_incremental").collect()
    val expected = graft.Tables.embeddings(spark, dir)
      .filter($"vec_id" % 4 === 0).count()
    // each planted query vector must at least match its own source vector
    val selfPairs = out.count(r => r.getLong(0) - 200000L == r.getLong(1))
    assert(selfPairs.toLong === expected, s"self-matches $selfPairs of $expected")
    // and matches never point into the batch side (index side only)
    assert(out.forall(_.getLong(1) < 200000L))
  }

  test("c4 pipeline: kept is the flag conjunction, every gate bites, and " +
    "quality_ok restates the gated text_quality score") {
    val pipe = q("curation_c4_pipeline").collect()
    assert(pipe.forall(r => r.getAs[Boolean]("kept") ===
      (r.getAs[Boolean]("len_ok") && r.getAs[Boolean]("quality_ok") &&
        r.getAs[Boolean]("lang_ok") && r.getAs[Boolean]("rep_ok"))))
    // non-degenerate: each gate keeps some documents and drops some —
    // a threshold drifting outside the corpus distribution fails here
    for (flag <- Seq("len_ok", "quality_ok", "lang_ok", "rep_ok", "kept")) {
      val n = pipe.count(_.getAs[Boolean](flag))
      assert(n > 0 && n < pipe.length, s"$flag degenerate: $n of ${pipe.length}")
    }
    // the composed flag must equal the independently-computed gated metric
    val qs = q("text_quality").select("doc_id", "quality_score").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(pipe.forall(r =>
      r.getAs[Boolean]("quality_ok") === (qs(r.getAs[Long]("doc_id")) >= 0.65)))
  }

  test("cluster sample covers every non-empty cluster and never exceeds the quota") {
    // the diversity guarantee that distinguishes cluster-balanced
    // sampling from a uniform draw of the same size: min(|cell|, Q) >= 1
    // means every learned cluster is represented; a uniform sample of
    // sum(min(|cell|, Q)) rows would miss small clusters w.h.p.
    val sample = q("curation_cluster_sample")
    val perCell = sample.groupBy($"cell").agg(count(lit(1)).as("n"))
    assert(perCell.filter($"n" > 8).isEmpty, "quota exceeded")
    val assignedCells = Ivf.assignment(spark, dir, Ivf.Plain, Ivf.TwoLevel)
      .select($"cell").distinct().collect().map(_.getLong(0)).toSet
    val sampledCells = perCell.select($"cell").collect().map(_.getLong(0)).toSet
    assert(sampledCells === assignedCells,
      s"every non-empty cluster must be represented: missing ${assignedCells -- sampledCells}")
  }

  test("streaming ingest assignment is invariant to micro-batch boundaries") {
    // the property stream_ann_ingest rides: given a fixed codebook, the
    // two-level descent is per-vector independent, so assigning the
    // arrivals in two batches and unioning must equal one-shot assignment
    val arrivals = graft.Tables.embeddings(spark, dir).filter($"vec_id" % 4 === 0)
    val cb = Ivf.coarseCodebook(spark, dir, Ivf.cellCount(Ivf.Plain.rows(spark, dir)))
    val whole = Ivf.assignWithCodebook(arrivals, cb)
    val halves = Ivf.assignWithCodebook(arrivals.filter($"vec_id" % 8 === 0), cb)
      .unionByName(Ivf.assignWithCodebook(arrivals.filter($"vec_id" % 8 =!= 0), cb))
    assert(whole.exceptAll(halves).isEmpty && halves.exceptAll(whole).isEmpty)
    assert(whole.count() === arrivals.count())
  }

  test("DSIR: target-language docs outscore every other language and dominate the kept quota") {
    // the importance weight is only an operator (not a mechanical shape)
    // if it actually pulls the corpus toward the target domain: with
    // lang='en' as the target, en docs must have the highest mean
    // log-weight of any language and a strictly higher keep rate than the
    // corpus-wide 20% quota would give a random subset
    val docs = graft.Tables.documents(spark, dir).select($"doc_id", $"lang")
    val m = q("curation_dsir_select").join(docs, Seq("doc_id"))
      .groupBy($"lang")
      .agg(avg($"dsir_logweight").as("w"),
        avg($"keep".cast("double")).as("keep_rate"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val (enW, enKeep) = m("en")
    for ((lang, (w, _)) <- m if lang != "en")
      assert(enW > w, s"target lang must outscore $lang: en=$enW vs $w")
    assert(enKeep > 0.2, s"target keep rate must beat the uniform quota: $enKeep")
  }

  test("source mix: the hot source is downsampled below per-mille parity, tails keep all") {
    val out = q("curation_source_mix").collect()
    val hot = out.filter(_.getAs[String]("source") == "src_hot")
    val tails = out.filter(_.getAs[String]("source") != "src_hot")
    // hot rate strictly under the cap, tail rates at the cap (kept whole)
    assert(hot.nonEmpty && hot.forall(_.getAs[Long]("rate") < 1000L))
    assert(tails.nonEmpty && tails.forall(_.getAs[Long]("rate") === 1000L))
    // every surviving row obeys its own gate
    assert(out.forall(r => r.getAs[Long]("bucket") < r.getAs[Long]("rate")))
    // tails kept whole = every odd-doc_id document survives
    val nOdd = graft.Tables.documents(spark, dir).filter($"doc_id" % 2 =!= 0).count()
    assert(tails.length.toLong === nOdd)
  }

  test("ER q-gram blocking: every planted typo resolves, and observed block " +
    "fan-out stays under ErBlockCap on the fixture") {
    val clean = graft.Tables.part(spark, dir).select($"p_name".as("name")).distinct()
    val nDirty = clean
      .select(concat(substring($"name", 1, 1), expr("substring(name, 3)")).as("d"))
      .distinct().count()
    // the suffix-4 key survives the 2nd-char deletion, so recall on the
    // planted typos is exactly 100% — one match row per distinct dirty name
    assert(q("er_fuzzy_match").count() === nDirty)
    // the 100%-recall assertion above is only GUARANTEED while no block is
    // purged (recall under purge is redundancy-probabilistic — see the
    // ErBlockCap scaladoc), so pin the premise: the fixture vocabulary
    // keeps every block — unfiltered max over ALL blocks — below the cap
    val univ = clean.unionByName(
      clean.select(concat(substring($"name", 1, 1), expr("substring(name, 3)")).as("name")))
      .distinct()
    val maxBlk = Analytics.erKeyed(univ, "name", 4)
      .groupBy("blk").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(maxBlk <= Analytics.ErBlockCap,
      s"fixture grew a hot block ($maxBlk > cap): the recall assertion above no longer follows")
  }

  test("ER block purge fires on a hot key and bounds candidate pair volume") {
    // 1200 names share the prefix-4 key "AAAA" — over the cap, so that
    // block is purged; the surviving mid/suffix blocks are small. Without
    // purging the hot block alone would emit 1200·1199/2 ≈ 719k pairs.
    val univ = (0 until 1200).map(i => f"AAAA$i%04d").toDF("name")
    val keyed = Analytics.erKeyed(univ, "name", 4)
    val hotSize = keyed.filter($"blk" === "P:AAAA").count()
    assert(hotSize === 1200L && hotSize > Analytics.ErBlockCap)
    val pairs = graft.queries.Analytics.erCandidatePairs(univ, 4)
    val n = pairs.count()
    assert(n < 100000L, s"purge must bound pair volume, got $n")
    // candidate volume is bounded by the pair capacity of the KEPT blocks
    // alone — if the purge filter were dropped, the hot block's ~719k
    // pairs would blow straight through this bound
    val keptPairBound = keyed.groupBy("blk").count()
      .filter($"count" <= Analytics.ErBlockCap)
      .select((sum($"count" * ($"count" - 1)) / 2).cast("long").as("cap2"))
      .collect()(0).getLong(0)
    assert(n <= keptPairBound,
      s"$n candidates exceed the kept blocks' pair capacity $keptPairBound — purged-block pairs leaked")
    // direct probes: a pair co-blocked ONLY in the purged hot block must be
    // absent; a pair sharing a kept mid-gram block must be present
    assert(pairs.filter($"i" === "AAAA0000" && $"j" === "AAAA1100").isEmpty,
      "pair sharing only the purged P:AAAA block must not be a candidate")
    assert(!pairs.filter($"i" === "AAAA0000" && $"j" === "AAAA0001").isEmpty,
      "pair sharing the kept M:AA00 block must remain a candidate")
  }

  test("ER blocking width derives from the universe size: the integer " +
    "cascade, the q=4 floor shape, and recall under a widened key") {
    // the cascade: smallest q >= 4 with 26^q >= n, pinned at each boundary
    // (the 20M-name probe measured the fixed q=4 key space saturating —
    // kept pair volume 16x on 4x data; the derivation is the fix)
    assert(Analytics.erQ(1L) === 4)
    assert(Analytics.erQ(456976L) === 4) // 26^4 exactly
    assert(Analytics.erQ(456977L) === 5)
    assert(Analytics.erQ(11881376L) === 5) // 26^5 exactly
    assert(Analytics.erQ(11881377L) === 6)
    assert(Analytics.erQ(308915777L) === 7)
    assert(Analytics.erQ(8031810177L) === 8)
    // q=4 floor keeps the historical fixed-width key shape byte-identical
    // (mid start floor(len/2) - (q/2 - 1) = floor(len/2) - 1): 13-char
    // name, mid starts at char 5, suffix at char 10
    val keys4 = Analytics.erKeyed(Seq("abcdefghijklm").toDF("name"), "name", 4)
      .select($"blk").as[String].collect().toSet
    assert(keys4 === Set("P:abcd", "M:efgh", "S:jklm"))
    // widened key: the three regions stay disjoint on names >= 3q chars,
    // so the planted 2nd-char deletion (one edit, prefix region only)
    // still co-blocks through the untouched mid and suffix regions at
    // q = 5 AND q = 6 — the recall contract the derivation must preserve
    val base = "goldenrod lavenderxyzuvw" // 24 chars >= 3*6 on the q=6 pass... 24 >= 18
    val dirtied = base.substring(0, 1) + base.substring(2)
    val univ = Seq(base, dirtied).toDF("name")
    for (qw <- Seq(5, 6)) {
      val found = Analytics.erCandidatePairs(univ, qw)
        .filter($"i" === dirtied && $"j" === base).count()
      assert(found === 1L, s"2nd-char-deletion pair lost at q=$qw")
    }
  }

  test("ER q=7 tier engages end-to-end under an injected universe count " +
    "and the planted twins still resolve") {
    // Round 13 (round-12 verdict #4): the q=6→7 boundary sits at 26^6 =
    // 308,915,776 names — unreachable by fixture on one box, but the
    // derivation is pure given the count, and the count flows through the
    // Preconditions.longOnce seam. A SYMLINKED fixture dir gives the
    // injection its own (session, dir) memo key, so the real dir's
    // memoized count is untouched for every other test, while the parquet
    // bytes under it are the real corpus. The production er_fuzzy_match
    // then runs the FULL pipeline — key build, purge, banded verify,
    // argmin — at the q=7 width.
    val tmp = java.nio.file.Files.createTempDirectory("erq7")
    val linked = tmp.resolve("sf")
    java.nio.file.Files.createSymbolicLink(linked, java.nio.file.Paths.get(dir))
    val d7 = linked.toString
    // 2·200,000,000 = 4×10⁸ > 26^6, ≤ 26^7 → the cascade must pick 7
    Preconditions.longOnce(spark, s"rowcount:part_names:$d7")(200000000L)
    assert(Analytics.erQ(2L * 200000000L) === 7)
    val out = graft.SparkEntry.queries("er_fuzzy_match")(spark, d7).collect()
    // key-shape witness: the pipeline really ran at q=7 — the blocking
    // keys over this universe are 7-wide (tag prefix "P:"/"M:"/"S:" + 7)
    val clean = graft.Tables.part(spark, dir)
      .select($"p_name".as("name")).distinct()
    val blks = Analytics.erKeyed(clean, "name", 7)
      .select($"blk").as[String].collect()
    assert(blks.nonEmpty && blks.forall(_.length == 9),
      "q=7 keys must be 2-char tag + 7-gram")
    // recall contract at the widened key: this fixture's names (7–12
    // chars) sit BELOW the 3q disjointness regime at q=7, but a 2nd-char
    // deletion lies outside the suffix 7-gram window whenever the clean
    // name is ≥ q+2 = 9 chars (the deletion shifts positions 3.., and the
    // last-7 window starts at position len−6 > 2), so the S key co-blocks
    // the twin pair BY CONSTRUCTION — the invariant this spec pins: the
    // widened key must still resolve every such twin at lev ≤ 1 (the twin
    // pair itself is lev 1, so the argmin can only beat it, never miss it)
    val eligible = clean.as[String].collect().filter(_.length >= 9)
    assert(eligible.nonEmpty, "fixture must exercise the suffix-window regime")
    val matchedLev = out.map(r => r.getString(0) -> r.getInt(2)).toMap
    eligible.foreach { n =>
      val dirty = n.substring(0, 1) + n.substring(2)
      assert(matchedLev.get(dirty).exists(_ <= 1),
        s"q=7: planted twin unresolved for '$n'")
    }
  }

  test("multi-pass SNM: the forward pass catches the trailing-edit class " +
    "the reversed key alone misses (and vice versa)") {
    val clean = graft.Tables.part(spark, dir).select($"p_name".as("name")).distinct()
    val dirty2nd = clean.select(
      concat(substring($"name", 1, 1), expr("substring(name, 3)")).as("name"))
    val dirtyLast = clean.select(
      expr("substring(name, 1, length(name) - 1)").as("name"))
    val dirtyVowel = clean
      .filter(length($"name") >= 4 &&
        substring($"name", 2, 1).isin("a", "e", "i", "o", "u") &&
        expr("substring(name, length(name), 1)").isin("a", "e", "i", "o", "u"))
      .select(concat(
        substring($"name", 1, 1),
        translate(substring($"name", 2, 1), "aeiou", "uoaie"),
        expr("substring(name, 3, length(name) - 3)"),
        translate(expr("substring(name, length(name), 1)"), "aeiou", "uoaie"))
        .as("name"))
    val univ = clean.unionByName(dirty2nd).unionByName(dirtyLast)
      .unionByName(dirtyVowel).distinct()
    def passPairs(sk: org.apache.spark.sql.Column): Set[(String, String)] =
      Analytics.snmPairs(univ, sk)
        .select(least($"i", $"j").as("i"), greatest($"i", $"j").as("j"))
        .withColumn("lev", levenshtein($"i", $"j")).filter($"lev" <= 2)
        .select("i", "j").collect().map(r => (r.getString(0), r.getString(1))).toSet
    val rev = passPairs(reverse($"name"))
    val fwd = passPairs($"name")
    // planted truth per error class, normalized to (min, max)
    val lastPairs = clean
      .select($"name", expr("substring(name, 1, length(name) - 1)").as("d"))
      .filter($"name" =!= $"d")
      .select(least($"name", $"d").as("i"), greatest($"name", $"d").as("j"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val secondPairs = clean
      .select($"name", concat(substring($"name", 1, 1), expr("substring(name, 3)")).as("d"))
      .filter($"name" =!= $"d")
      .select(least($"name", $"d").as("i"), greatest($"name", $"d").as("j"))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    // complementarity: each pass recovers (nearly all of) its own error
    // class and provably misses some of the other's — the reason the
    // production shape is a UNION of passes, not one clever key
    val fwdOnly = lastPairs.filter(p => fwd(p) && !rev(p))
    val revOnly = secondPairs.filter(p => rev(p) && !fwd(p))
    assert(fwdOnly.nonEmpty,
      "no trailing-edit pair was recovered exclusively by the forward pass")
    assert(revOnly.nonEmpty,
      "no leading-edit pair was recovered exclusively by the reversed pass")
    // the gated query is exactly the union of the three passes
    val pho = passPairs(
      concat(Analytics.phoneticKey($"name"), lit("|"), $"name"))
    val gated = q("er_sorted_neighborhood").select("i", "j").collect()
      .map(r => (r.getString(0), r.getString(1))).toSet
    assert(gated === (rev ++ fwd ++ pho))
  }

  test("phonetic SNM pass catches the both-ends vowel error class that " +
    "forward AND reversed keys each scatter") {
    // planted pair: vowel substitutions at position 2 and the last char —
    // the query's dirtyVowel transform (a→u, e→o), lev = 2. The forward
    // order separates the pair on the early edit (ga… vs gu…), the
    // reversed order on the late one (eor… vs oor…); > SnmWindow filler
    // names are planted in EACH gap so both passes provably scatter the
    // pair, while the consonant skeleton (GMMDLTR) is vowel-invariant so
    // the phonetic order sorts the pair adjacent.
    val base = "gamma delta roe"
    val dirty = "gumma delta roo"
    val fwdFill = Seq("gb", "gc", "gd", "gf", "gg", "gh", "gk", "gl")
      .map(p => s"$p fwdfill")                     // sort between ga… and gu…
    val revFill = ('f' to 'n').map(ch => s"revfill aa$ch") // reversed: e… < ch… < o…
    val univ = (fwdFill ++ revFill :+ base :+ dirty).toDF("name")
    assert(spark.range(1).select(levenshtein(lit(base), lit(dirty)))
      .head.getInt(0) === 2)
    def passPairs(sk: org.apache.spark.sql.Column): Set[(String, String)] =
      Analytics.snmPairs(univ, sk)
        .select(least($"i", $"j").as("i"), greatest($"i", $"j").as("j"))
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val target = if (base < dirty) (base, dirty) else (dirty, base)
    assert(!passPairs($"name")(target),
      "premise: the forward pass must scatter the both-ends vowel pair")
    assert(!passPairs(reverse($"name"))(target),
      "premise: the reversed pass must scatter the both-ends vowel pair")
    assert(passPairs(
      concat(Analytics.phoneticKey($"name"), lit("|"), $"name"))(target),
      "phonetic pass failed to sort the vowel-noise pair adjacent")
  }

  test("SNM backstop recovers a typo pair whose every shared block was " +
    "purged — the union composition the ErBlockCap scaladoc promises") {
    // 1001 names share BOTH the prefix-4 AND mid-4 grams of the planted
    // pair, pushing those blocks over ErBlockCap; the pair's suffix grams
    // differ (last-char edit), so after the purge the pair co-occurs in NO
    // surviving block and q-gram blocking cannot propose it. The forward
    // sort key places the pair adjacent, so the SNM pass recovers it —
    // candidate recall of the UNION is what production measures.
    val flood = (0 until 1001).map(i => f"AAAABBBB$i%04d")
    val pi = "AAAABBBBCCCC"
    val pj = "AAAABBBBCCC" // last-char deletion of pi, lev = 1
    val univ = (flood :+ pi :+ pj).toDF("name")
    val hot = Analytics.erKeyed(univ, "name", 4).groupBy("blk").count()
      .filter($"blk".isin("P:AAAA", "M:BBBB")).collect()
    assert(hot.length === 2 && hot.forall(_.getLong(1) > Analytics.ErBlockCap),
      "premise: both shared blocks of the planted pair must be over the cap")
    val blocked = Analytics.erCandidatePairs(univ, 4)
      .filter($"i" === pj && $"j" === pi)
    assert(blocked.isEmpty,
      "premise: the purge must have removed every block the pair shares")
    val snm = Analytics.snmPairs(univ, $"name")
      .select(least($"i", $"j").as("i"), greatest($"i", $"j").as("j"))
      .filter($"i" === pj && $"j" === pi)
    assert(!snm.isEmpty,
      "SNM backstop failed to recover the purged-block typo pair")
  }

  test("bloom capacity derives from the eval count; an overloaded sketch " +
    "never flips a kept row") {
    // the sizing rule: power of two, ≥ 2× the count, floored at 2¹²
    assert(Curation.bloomCapacityFor(0L) === 4096L)
    assert(Curation.bloomCapacityFor(10L) === 4096L)
    assert(Curation.bloomCapacityFor(2048L) === 4096L)
    assert(Curation.bloomCapacityFor(2049L) === 8192L)
    assert(Curation.bloomCapacityFor(100000L) === 262144L)
    for (n <- Seq(1L, 5000L, 77777L, 1000000L)) {
      val cap = Curation.bloomCapacityFor(n)
      assert((cap & (cap - 1)) === 0L, s"n=$n cap=$cap not a power of two")
      assert(cap >= 2 * n || cap === 4096L, s"n=$n cap=$cap lacks headroom")
    }
    // fpp-degradation invariance: rebuild the gate's sandwich with a
    // sketch overloaded ~500× past capacity (fpp → ~1, nearly every row
    // routed through the verify join) and assert the kept set is
    // IDENTICAL to the exact anti-join truth — the no-false-negatives +
    // exact-verify guarantee the bloomCapacityFor scaladoc promises.
    val docs = graft.Tables.documents(spark, dir)
    val evalSet = docs.filter($"doc_id" % 50 === 0)
    val corpus = docs.filter($"doc_id" % 50 =!= 0)
      .select($"doc_id", $"text")
      .unionByName(evalSet.filter($"doc_id" % 100 === 0)
        .select(($"doc_id" + 1000000000L).as("doc_id"), $"text"))
    def kept(cap: Long): Set[Long] =
      Curation.bloomSandwich(corpus, evalSet, cap)
        .collect().map(_.getLong(0)).toSet
    val exact = corpus
      .join(evalSet.select(md5($"text").as("fp")),
        md5(corpus("text")) === $"fp", "left_anti")
      .select($"doc_id").collect().map(_.getLong(0)).toSet
    val overloaded = kept(8L)
    assert(overloaded === exact,
      "overloaded sketch changed the kept set — the verify join leaked fpp")
    assert(kept(Curation.bloomCapacityFor(8L)) === exact)
    // premise check: the gate really plants positives at this sf
    assert(corpus.count() > exact.size,
      "fixture must contain planted contamination to make the test bite")
  }

  test("pack_sequences: the derived range size bounds both prefix-sum levels") {
    for (n <- Seq(1000L, 100000L, 10000000L, 1000000000L, 1000000000000L)) {
      val rs = Curation.packRangeSize(n)
      // level-1 window partitions hold ≤ rs rows (doc_id ranges of width
      // rs); the level-2 offset table is ceil(n/rs) rows — both must stay
      // under the single-task comfort zone at every corpus size
      val level2 = math.ceil(n.toDouble / rs).toLong
      assert(rs >= 100L, s"n=$n rs=$rs")
      assert(level2 <= 320000L, s"n=$n level2=$level2")
      assert(rs <= math.max(100L, math.max(
        math.ceil(math.sqrt(n.toDouble)).toLong,
        math.ceil(n / 320000.0).toLong)), s"n=$n rs=$rs overshoots")
    }
    // the packing itself is range-size-invariant: every shard except the
    // last is filled to the context boundary (offsets partition [0, ctx))
    val out = q("curation_pack_sequences").collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getAs[Long]("offset_in_shard") >= 0 &&
      r.getAs[Long]("offset_in_shard") < 4096L))
  }

  test("IVF nprobe=2 output is a superset of the nprobe=1 output") {
    // same-cell pairs share a home cell, so every nprobe=1 candidate is also
    // an nprobe=2 candidate; both verify at the same cosine threshold —
    // the recall lever must only ever ADD pairs. Round 9: both run on the
    // shared COARSE assignment, so the nprobe=1 anchor is
    // sim_ann_ivf_coarse (same cells ⇒ the superset property is
    // structural, not fixture luck)
    def pairs(name: String): Set[(Long, Long)] =
      q(name).select("i", "j").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val one = pairs("sim_ann_ivf_coarse")
    val two = pairs("sim_ann_ivf_probe")
    assert(one.nonEmpty, "fixture should contain planted duplicate pairs")
    assert(one.subsetOf(two),
      s"nprobe=2 lost ${(one -- two).size} nprobe=1 pairs")
  }

  test("probe search equals the exact probe-space replay on both assignment chains") {
    // the probe join keys on the probed cell alone and prunes candidates
    // by the tier-0 angular bound and the tier-1 sketch bound. Both are
    // true upper bounds of the exact cosine, so over each production
    // assignment — the IMI chain under sim_ann_ivf_imi, the coarse chain
    // under sim_ann_ivf_probe — the verified output must equal a
    // full-precision replay of the entire probe candidate space (home ∪
    // margin-gated regions) with NO sketch and NO tier-0.
    def vdot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      graft.expr.Native.vecDot(a, b)
    val base = graft.Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"))
    val aug = base.unionByName(
      base.select((col("vec_id") + 100000).as("vec_id"), col("embedding")))
    val n = aug.withColumn("nrm", sqrt(vdot(col("embedding"), col("embedding"))))
    def replay(assign: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
      val probeSpace = assign.select($"vec_id".as("u"), $"cell".as("pc"))
        .unionByName(assign
          .select($"vec_id".as("u"), explode($"probes").as("pr"))
          .filter($"pr.mgn" <= VectorOps.PROBE_MARGIN_T)
          .select($"u", $"pr.pc".as("pc")))
      probeSpace
        .join(n.select($"vec_id".as("u"), $"embedding".as("ea"), $"nrm".as("na")), Seq("u"))
        .join(assign.select($"cell".as("pc"), $"vec_id".as("v"))
          .join(n.select($"vec_id".as("v"), $"embedding".as("eb"), $"nrm".as("nb")), Seq("v")),
          Seq("pc"))
        .filter($"u" =!= $"v")
        .withColumn("cos", vdot($"ea", $"eb") / ($"na" * $"nb"))
        .filter($"cos" >= 0.999)   // = ANN_T
        .select(least($"u", $"v").as("i"), greatest($"u", $"v").as("j"))
        .distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    for ((chain, assign) <- Seq(
        "imi" -> Ivf.assignment(spark, dir, Ivf.Augmented, Ivf.Imi),
        "coarse" -> Ivf.assignment(spark, dir, Ivf.Augmented, Ivf.TwoLevel))) {
      val exact = replay(assign)
      val got = VectorOps.probeVerifiedPairs(spark, dir, assign)
        .select("i", "j")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(exact.nonEmpty, s"$chain: fixture should contain planted duplicate pairs")
      assert(got === exact,
        s"$chain: lost ${(exact -- got).size}, gained ${(got -- exact).size}")
    }
  }

  test("quantized rescore output equals the exact IVF output") {
    // the int8 prefilter margin must dominate quantization error, so the
    // two-tier path may never lose (or add) a pair vs full-precision
    // scoring over the same cells — which, round 9, are the shared COARSE
    // cells (sim_ann_ivf_coarse is the same-assignment exact scorer)
    def pairs(name: String): Set[(Long, Long)] =
      q(name).select("i", "j").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs("sim_ann_ivf_coarse")
    val tiered = pairs("sim_ann_quantized_rescore")
    assert(exact.nonEmpty, "fixture should contain planted duplicate pairs")
    assert(tiered === exact,
      s"lost ${(exact -- tiered).size}, gained ${(tiered -- exact).size}")
  }

  test("PQ: codebook-member vectors self-encode at zero distortion") {
    // entry c of every subspace IS vector c's subvector, so vectors 0..15
    // must pick their own code in all 8 subspaces with d2 = 0 exactly —
    // any drift (wrong slice bounds, tie-break inversion, lossy fold)
    // breaks self-encoding first
    val rows = q("emb_pq_encode").filter($"vec_id" < 16).collect()
    assert(rows.length === 16)
    rows.foreach { r =>
      val vid = r.getLong(0).toInt
      (0 until 8).foreach { m =>
        assert(r.getInt(1 + m) === vid, s"vec $vid subspace $m picked ${r.getInt(1 + m)}")
      }
      assert(r.getDouble(9) === 0.0, s"vec $vid mse ${r.getDouble(9)}")
    }
  }

  test("PQ search (flat ADC and IVF-PQ): every anchor retrieves its planted twin at rank 1") {
    // an exact copy shares all 8 codes (and, for IVF-PQ, the cell), so its
    // adist is the anchor's own reconstruction distortion — strictly below
    // any random neighbor's on this corpus; a slicing/LUT/cell/rank bug
    // surfaces here immediately
    Seq("sim_ann_pq_adc", "sim_ann_ivf_pq").foreach { name =>
      val top1 = q(name).collect().filter(_.getInt(1) == 1)
        .map(r => r.getLong(0) -> r.getLong(2)).toMap
      assert(top1.nonEmpty, name)
      top1.foreach { case (qv, nb) =>
        val twin = if (qv >= 100000L) qv - 100000L else qv + 100000L
        assert(nb === twin, s"$name: anchor $qv rank-1 $nb, expected twin $twin")
      }
    }
  }

  test("bm25: the query-by-example anchor retrieves near the top, scores descend") {
    val rows = q("text_bm25_topk").collect()
    assert(rows.length === 10)
    // BM25 does NOT guarantee self-retrieval at rank 1 (a near-dup that
    // REPEATS high-idf query terms can out-score the anchor's tf=1 — on
    // this fixture doc 82 does exactly that); the honest invariant is the
    // anchor lands in the top ranks with the duplicate cluster
    val anchor = graft.Tables.documents(spark, dir)
      .agg(min($"doc_id")).head.getLong(0)
    val anchorRank = rows.find(_.getLong(0) == anchor)
      .map(_.getInt(1)).getOrElse(Int.MaxValue)
    assert(anchorRank <= 3, s"query doc ranked $anchorRank, expected top-3")
    val byRank = rows.sortBy(_.getInt(1)).map(_.getDouble(2))
    assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b },
      "bm25 scores must be non-increasing in rank order")
  }

  test("bm25 index: dl is the sum of tf per doc; the memoized corpus figures equal the aggregates") {
    val post = Curation.sharedPostings(spark, dir)
    val perDoc = post.groupBy($"doc_id")
      .agg(sum($"tf").as("sum_tf"), min($"dl").as("dl_lo"), max($"dl").as("dl_hi"))
      .cache()
    assert(perDoc.count() > 0)
    assert(perDoc.filter($"sum_tf" =!= $"dl_lo" || $"sum_tf" =!= $"dl_hi").count() === 0L)
    // the statistics bm25Ranked aggregated per query before they were memoized
    val old = perDoc.agg(count(lit(1)).cast("double"), avg($"sum_tf".cast("double"))).head
    val st = Curation.corpusStats(spark, dir)
    def bits(d: Double) = java.lang.Double.doubleToRawLongBits(d)
    assert(bits(st.nDocs.toDouble) === bits(old.getDouble(0)))
    assert(bits(st.avgdl) === bits(old.getDouble(1)), s"${st.avgdl} vs ${old.getDouble(1)}")
    assert(st.anchor ===
      Some(graft.Tables.documents(spark, dir).agg(min($"doc_id")).head.getLong(0)))
  }

  test("bm25 on an empty documents table or one without postings: an empty top-k") {
    val docs = graft.Tables.documents(spark, dir)
    val empty = java.nio.file.Files.createTempDirectory("bm25empty").toString
    docs.limit(0).write.parquet(s"$empty/documents.parquet")
    val noText = java.nio.file.Files.createTempDirectory("bm25notext").toString
    docs.withColumn("text", lit(null).cast("string")).write.parquet(s"$noText/documents.parquet")
    for (d <- Seq(empty, noText)) {
      val out = graft.SparkEntry.queries("text_bm25_topk")(spark, d)
      assert(out.schema === q("text_bm25_topk").schema, d)
      assert(out.collect().isEmpty, d)
    }
    assert(Curation.corpusStats(spark, empty).anchor === None)
    assert(Curation.corpusStats(spark, noText).nDocs === 0L)
  }

  test("rrf fusion: scores recompute from the arm ranks, both arms contribute, order holds") {
    val rows = q("fusion_rrf").collect()
    assert(rows.length === 10)
    assert(rows.map(_.getInt(1)).sorted.toSeq === (1 to 10), "ranks must be 1..10")
    // the fused score is EXACTLY the sum its own rank columns imply — a
    // drifted join or a lost arm shows up as a score mismatch here before
    // the oracle hash even runs
    rows.foreach { r =>
      val (lex, sem) = (r.getInt(3), r.getInt(4))
      val expect = (if (lex > 0) 1.0d / (VectorOps.RRF_K + lex) else 0.0d) +
        (if (sem > 0) 1.0d / (VectorOps.RRF_K + sem) else 0.0d)
      assert(math.abs(r.getDouble(2) - expect) < 1e-6,
        s"doc ${r.getLong(0)}: rrf ${r.getDouble(2)} != recomputed $expect")
      assert(lex > 0 || sem > 0, "every fused doc must come from at least one arm")
    }
    // fusion actually FUSES: the top-10 contains documents from both the
    // lexical and the semantic arm (on this fixture the arms are disjoint
    // — embeddings are not derived from the text — so RRF interleaves)
    assert(rows.exists(_.getInt(3) > 0), "no lexical-arm doc in the fused top-10")
    assert(rows.exists(_.getInt(4) > 0), "no semantic-arm doc in the fused top-10")
    // RRF order property: among docs EXCLUSIVE to one arm (other arm = 0,
    // so their fused score is 1/(k+r) alone), fused order must preserve
    // the arm's own rank order — a structural property of the formula,
    // not a fixture accident
    def armOrder(idx: Int, other: Int): Seq[Int] =
      rows.sortBy(_.getInt(1)).filter(_.getInt(other) === 0)
        .map(_.getInt(idx)).filter(_ > 0).toSeq
    assert(armOrder(3, 4) === armOrder(3, 4).sorted, "lexical ranks out of order in fusion")
    assert(armOrder(4, 3) === armOrder(4, 3).sorted, "semantic ranks out of order in fusion")
    // score monotonicity in fused rank order
    val byRank = rows.sortBy(_.getInt(1)).map(_.getDouble(2))
    assert(byRank.zip(byRank.tail).forall { case (a, b) => a >= b })
    // recall vs either single arm: the fused top-10 can only ADD coverage —
    // it contains each arm's rank-1 candidate (1/(k+1) is the maximum a
    // single-arm doc can score, so neither head can be displaced by
    // single-arm docs on this fixture)
    assert(rows.exists(_.getInt(3) === 1), "lexical head lost by fusion")
    assert(rows.exists(_.getInt(4) === 1), "semantic head lost by fusion")
  }

  test("random projection: sign spellings agree and norms concentrate") {
    // pin the Scala-side md5 parity against the engine's md5Key64 Column —
    // the third spelling (DuckDB) is pinned by the gate's hash compare
    val probe = Seq((0, 0), (7, 3), (12, 9), (63, 15))
    val colSigns = probe.toDF("d", "k")
      .withColumn("sgn", when(
        graft.functions.TextFns.md5Hash60(concat_ws(":", $"d", $"k")) % 2 === 0,
        1.0d).otherwise(-1.0d))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    probe.foreach { case (d, k) =>
      assert(colSigns((d, k)) === VectorOps.rpSigns(k)(d),
        s"sign($d,$k) diverges between Scala and Column md5")
    }
    // the LSH planes: key "p:d", odd parity → +1, against the Column
    // spelling the signature fold replaced (md5 hex → 15 nibbles → long)
    val planeProbe = for (p <- 0 until 12; d <- Seq(0, 1, 31, 62, 63)) yield (p, d)
    val colPlanes = planeProbe.toDF("p", "d")
      .withColumn("w", (conv(substring(md5(concat_ws(":", $"p", $"d")), 1, 15), 16, 10)
        .cast("long") % 2 * 2 - 1).cast("double"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getDouble(2))).toMap
    planeProbe.foreach { case (p, d) =>
      assert(colPlanes((p, d)) === VectorOps.lshPlanes(p)(d),
        s"plane($p,$d) diverges between Scala and Column md5")
    }
    // JL: E[‖Px‖²] = ‖x‖² under ±1/√k signs; the corpus mean concentrates
    val proj = q("emb_random_projection")
    val pn2 = proj.select($"vec_id",
      (0 until 16).map(k => col(s"p$k") * col(s"p$k")).reduce(_ + _).as("pn2"))
    val on2 = q("emb_norms").select($"vec_id", ($"l2_norm" * $"l2_norm").as("on2"))
    val ratio = pn2.join(on2, Seq("vec_id"))
      .agg(avg($"pn2" / $"on2")).head.getDouble(0)
    assert(ratio > 0.9 && ratio < 1.1,
      s"projected/original mean squared-norm ratio $ratio outside [0.9, 1.1]")
  }

  test("heavy hitters: exactly the planted hot keys, none of the tail") {
    // half the events collapse onto user_id % 2 → those two keys tower
    // over the uniform tail; the CMS prefilter + exact verify must return
    // exactly them (a candidate-set false positive that LEAKED to the
    // output would show up here as a tail key)
    val hh = q("approx_heavy_hitters").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(hh.keySet === Set(0L, 1L),
      s"expected the two planted hot keys, got ${hh.keySet}")
    val total = graft.Tables.events(spark, dir).count()
    assert(hh.values.sum >= (total * 0.49).toLong,
      "planted keys should hold at least half the total traffic")
  }

  test("pipeline e2e: every dim-join outcome path is populated") {
    val f = q("glamira_pipeline_e2e").cache()
    // customer and location merge-backs must have hits AND misses — an
    // all-true (or all-false) column would hash-match a broken join that
    // fails the same way in both engines
    for (c <- Seq("has_customer", "has_location"))
      assert(f.select(c).distinct().count() === 2, c)
    // product hop: line rows whose catalog id was sentinel-filtered miss
    // (null product_id with a real option), matched rows carry the dim id
    assert(f.filter($"product_id".isNull && $"option_id".isNotNull).count() > 0)
    assert(f.filter($"product_id".isNotNull).count() > 0)
    // USD guard: CLEAN rows compute, INFERRED rows stay null (the
    // pre-coalesce guard), and both statuses occur
    assert(f.filter($"currency_status" === "CLEAN" && $"product_price_usd".isNotNull).count() > 0)
    assert(f.filter($"currency_status" === "INFERRED").count() > 0)
    assert(f.filter($"currency_status" === "INFERRED" && $"product_price_usd".isNotNull).count() === 0)
  }

  test("glamira staging: outer-unnest rows survive and item_key is unique") {
    val so = q("glamira_stg_order").cache()
    assert(so.filter($"cp_offset".isNull).count() > 0)
    assert(so.select("item_key").distinct().count() === so.count())
    // every currency-status path reachable in the fact
    val statuses = q("glamira_fact_currency").select("currency_status")
      .distinct().collect().map(_.getString(0)).toSet
    assert(statuses === Set("CLEAN", "AMBIGUOUS", "INFERRED", "UNKNOWN"))
  }
}
