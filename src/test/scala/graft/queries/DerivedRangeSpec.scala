package graft.queries

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The width law ([[Widths]]) and every call site that derives a partition
  * count from it. The property the law exists for: PER-PART VOLUME STAYS
  * BOUNDED AS n GROWS (parts scale; each part's work doesn't), side tables
  * stay small (≤ LEVEL2_CAP rows — they pass through a single-task window
  * and a broadcast), and outputs are invariant to the partition count, so
  * the derivation is free to change with corpus size without touching any
  * oracle. Each call site's value is also pinned against the formula it was
  * spelled with before the law had one home ([[Before]]).
  */
class DerivedRangeSpec extends SparkSpec {
  import spark.implicits._

  private val grid: Seq[Long] = Seq(1L, 100L, 6000L, 60000L, 600000L,
    5000000L, 20000000L, 100000000L, 2000000000L, 20000000000L, 1000000000000L)

  private val MB64 = 64L << 20
  private val byteGrid: Seq[Long] = Seq(0L, 1L, MB64 - 1, MB64, MB64 + 1,
    8 * MB64, 10 * MB64, 10 * MB64 + 1, 1700000000L, 100000000000L, 10000000000000L)

  /** The earlier per-site spellings, kept as the reference each site must
    * still equal.
    */
  private object Before {
    def split(n: Long, perPart: Double, floor: Int): Int =
      math.max(floor.toLong, math.min(math.ceil(n / perPart).toLong, 320000L)).toInt
    def pairScan(session: Int, rows: Long, perPart: Long): Option[Int] = {
      val derived = (rows + perPart - 1) / perPart
      if (derived > session) Some(math.min(derived, 4096L).toInt) else None
    }
    def build(session: Int, bytes: Long): Option[Int] = {
      val derived = math.ceil(bytes * 2.0 * 8.0 / MB64).toLong
      if (derived <= session) None else Some(math.min(derived, 4096L).toInt)
    }
    def er(session: Int, nUniv: Long): Option[Int] = {
      val derived = math.min(4096L, math.ceil(nUniv * 64L * 3.0 / MB64).toLong)
      if (derived <= session) None else Some(derived.toInt)
    }
    def stream(session: Int, bytes: Long): Int =
      math.max(8L, math.min(bytes / MB64 + 1, session.toLong)).toInt
  }

  private def session(parts: Int): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.shuffle.partitions", parts.toString)
    s
  }

  private def shuffleParts(s: SparkSession): String = s.conf.get("spark.sql.shuffle.partitions")

  test("the width law at every fixed split: floor, cap, monotone, per-part volume") {
    val memo = spark.newSession()
    def sink(perPart: Long, floor: Long)(n: Long): Int =
      SinkRoundTrip.derivedParts(memo, s"drs:$n:$perPart:$floor", perPart, floor)(n)
    // (site, per-part volume, floor, derived parts)
    val sites: Seq[(String, Long, Int, Long => Int)] = Seq(
      ("s4 chunks", Widths.CHUNK_ROWS, 8, sink(Widths.CHUNK_ROWS, 8)),
      ("s11 writers", Widths.SHARD_PART_ROWS, 4, sink(Widths.SHARD_PART_ROWS, 4)),
      ("s14/s15 writers", Widths.SHARD_PART_ROWS, 8, sink(Widths.SHARD_PART_ROWS, 8)),
      ("s17 writers", Widths.SHARD_PART_ROWS, 16, sink(Widths.SHARD_PART_ROWS, 16)),
      ("s19 writers", Widths.SHARD_PART_ROWS, 4,
        Widths.parts(_, Widths.SHARD_PART_ROWS, 4L, Widths.LEVEL2_CAP)),
      ("snm rank split", Widths.SHARD_PART_ROWS, 8,
        Widths.parts(_, Widths.SHARD_PART_ROWS, 8L, Widths.LEVEL2_CAP)),
      ("shard export split", Widths.SHARD_PART_ROWS, 16, n => Curation.shardPartCount(n).toInt))
    for ((site, perPart, floor, derive) <- sites) {
      val ps = grid.map(derive)
      for ((n, p) <- grid.zip(ps)) {
        assert(p === Before.split(n, perPart.toDouble, floor), s"$site n=$n")
        assert(p >= floor && p <= Widths.LEVEL2_CAP, s"$site n=$n: p=$p outside [$floor, cap]")
        // rows per part can only exceed the target once the cap binds
        // (the documented third-level trade)
        if (p < Widths.LEVEL2_CAP)
          assert(n.toDouble / p <= perPart, s"$site n=$n: ${n.toDouble / p} rows per part")
      }
      assert(ps === ps.sorted, s"$site: more data must never mean fewer parts")
    }
    // gate scale keeps the floors; the probe tiers fan out
    assert(Widths.parts(60000L, Widths.SHARD_PART_ROWS, 8L, Widths.LEVEL2_CAP) === 8)
    assert(Widths.parts(5000000L, Widths.SHARD_PART_ROWS, 8L, Widths.LEVEL2_CAP) === 80)
    assert(Curation.shardPartCount(5000000L) === 80L)
    assert(Widths.parts(300000L, Widths.SHARD_PART_ROWS, 4L, Widths.LEVEL2_CAP) === 5)
    assert(Curation.shardPartCount(1000000000000L) === Widths.LEVEL2_CAP)
  }

  test("sink writer splits: floors hold gate-scale counts, volume bounded, count memoized") {
    // round 12 (round-11 verdict #2): the sink-layout writers were the
    // last fixed-split members — s4/s14/s15's repartition(8) and
    // s11/s17's repartitionByRange(4|16). Their bounds over the grid are
    // pinned above; here the gate-scale counts and the memoized count.
    val s2 = spark.newSession()
    var computes = 0
    def parts(key: String, n: Long, perPart: Long, floor: Long): Int =
      SinkRoundTrip.derivedParts(s2, key, perPart, floor) { computes += 1; n }
    // gate-scale behavior unchanged: the floors bind at every driver sf
    // (events ≤ 100k/5000-row chunks = 20 is the one scale-out at sf0.1)
    assert(parts("drs:ev001", 1000L, Widths.CHUNK_ROWS, 8) === 8)
    assert(parts("drs:ev01", 10000L, Widths.CHUNK_ROWS, 8) === 8)
    assert(parts("drs:ev1", 100000L, Widths.CHUNK_ROWS, 8) === 20)
    assert(parts("drs:ord1", 150000L, Widths.SHARD_PART_ROWS, 4) === 4)
    assert(parts("drs:ord1b", 150000L, Widths.SHARD_PART_ROWS, 16) === 16)
    assert(parts("drs:li1", 600000L, Widths.SHARD_PART_ROWS, 8) === 10)
    // memoization: a repeated key never recomputes, and two consumers with
    // different floors share one memoized count (the s11/s17 orders key)
    computes = 0
    val k = "drs:memo"
    val a = parts(k, 5000000L, Widths.SHARD_PART_ROWS, 4)
    val b = parts(k, 5000000L, Widths.SHARD_PART_ROWS, 4)
    val c = parts(k, 5000000L, Widths.SHARD_PART_ROWS, 16)
    assert(computes === 1, s"count must be memoized per (session, key), got $computes")
    assert(a === b && a === 80 && c === 80)
    assert(5000000.0 / a <= Widths.SHARD_PART_ROWS)
    // a NEW session re-counts from scratch (the Preconditions discipline)
    val s3 = spark.newSession()
    SinkRoundTrip.derivedParts(s3, k, Widths.SHARD_PART_ROWS, 4) { computes += 1; 1L }
    assert(computes === 2, "a new session must not inherit another session's memo")
  }

  test("shard export part ids: monotone in hs and spanning [0, p)") {
    // exact under double (hs·p ≤ 10⁶·LEVEL2_CAP < 2^53), monotone
    // nondecreasing in hs, and in [0, p) — the properties that make the
    // per-part sorts compose into the global (hs, doc_id) order at any
    // derived count
    val p = Curation.shardPartCount(5000000L)
    val parts = spark.range(0, 1000000L, 997L).toDF("hs")
      .select(floor(col("hs") * lit(p) / lit(1000000.0d)).as("part"))
      .orderBy("part").collect().map(_.getLong(0))
    assert(parts.toSeq === parts.sorted.toSeq, "part must be monotone in hs")
    assert(parts.head === 0L && parts.last === p - 1,
      s"parts must span [0, $p): got ${parts.head}..${parts.last}")
  }

  test("widening widths at each call site equal their earlier values; near-twin builds ×4") {
    for (sp <- Seq(1, SparkSpec.Cores, 32); s = session(sp); n <- grid) {
      // the sketch⋈assignment joins and the rescore fetch, the cell scan,
      // and the probe side of the nprobe=2 scan (VectorOps)
      assert(Widths.widen(s, n, Widths.EMB_PART_ROWS) === Before.pairScan(sp, n, 262144L))
      assert(Widths.widen(s, n, Widths.PAIR_PART_ROWS) === Before.pairScan(sp, n, 524288L))
      val probeRows = n * Ivf.staticProbeWidth(n)._1
      assert(Widths.widen(s, probeRows, Widths.PAIR_PART_ROWS) ===
        Before.pairScan(sp, probeRows, 524288L), s"probe side, session $sp, n_aug=$n")
      val er = Analytics.erSession(s, n)
      assert(Option(er).filter(_ ne s).map(shuffleParts(_).toInt) === Before.er(sp, n),
        s"erSession, session $sp, n=$n")
    }
    for (sp <- Seq(1, SparkSpec.Cores, 32); s = session(sp); b <- byteGrid) {
      // the augmented chains build over 2 copies of the embeddings bytes
      assert(Ivf.buildWidth(s, b, 2L) === Before.build(sp, b), s"build, session $sp, $b B")
      // the near-twin chains build over 4: twice the earlier (×2) width
      // wherever neither value is capped or under the session count
      if (Before.build(sp, 2 * b).exists(_ < 4096))
        assert(Ivf.buildWidth(s, b, 4L) === Before.build(sp, 2 * b))
      // the stream gates' [8, session] clamp. One difference from the
      // earlier ⌊bytes/64 MB⌋ + 1: at an exact multiple k·64 MB the law
      // gives k, not k + 1
      val exactMultiple = b > 0 && b % MB64 == 0
      if (!exactMultiple || Before.stream(sp, b) <= 8)
        assert(StreamGate.streamParts(s, b) === Before.stream(sp, b), s"stream, session $sp, $b B")
    }
    val bench = session(32)
    // SCALE.md round 17: the probe side at n_aug = 2×10⁷ ran 458 partitions
    assert(Widths.widen(bench, 20000000L * Ivf.staticProbeWidth(20000000L)._1,
      Widths.PAIR_PART_ROWS) === Some(458))
    assert(Widths.widen(bench, 20000000L, Widths.PAIR_PART_ROWS) === Some(39))
    assert(Widths.widen(bench, 20000000L, Widths.EMB_PART_ROWS) === Some(77))
    // the 1.7 GB 10⁷ fixture: 406 build partitions over the augmented
    // corpus, 811 over the near-twin corpus
    assert(Ivf.buildWidth(bench, 1700000000L, 2L) === Some(406))
    assert(Ivf.buildWidth(bench, 1700000000L, 4L) === Some(811))
    // gate corpora (< 1 MB of embeddings) never widen the build
    assert(Ivf.buildWidth(session(1), 800000L, 4L) === None)
    assert(StreamGate.streamParts(bench, 10 * MB64) === 10)
    assert(StreamGate.streamParts(bench, 10 * MB64 + 1) === 11)
    assert(StreamGate.streamParts(bench, 0L) === 8)
    assert(StreamGate.streamParts(bench, 10000000000000L) === 32)
    assert(StreamGate.streamParts(session(1), 10000000000000L) === 8)
  }

  test("a session above 4096 partitions: no derived width narrows it") {
    val wide = session(5000)
    val huge = 1000000000000L
    assert(Widths.widen(wide, huge, Widths.PAIR_PART_ROWS) === None)
    assert(Widths.widen(wide, huge, Widths.EMB_PART_ROWS) === None)
    assert(Ivf.buildWidth(wide, huge, 4L) === None)
    assert(Analytics.erSession(wide, huge) eq wide)
    assert(StreamGate.streamParts(wide, 10000000000000L) === 5000)
    // the earlier pair-scan and build spellings narrowed it to 4096
    assert(Before.pairScan(5000, huge, 524288L) === Some(4096))
    assert(Before.build(5000, huge) === Some(4096))
  }

  test("erSession: no-op at gate scale, derived width past it, capped, conf-isolated") {
    // gate-SF universes (≤ ~1.1×10⁷ names at the bench's 32-part session)
    // derive at-or-under the session setting and must return the SAME
    // session — byte-identical plans, no child-session surface at all
    val bench = session(32)
    for (n <- Seq(1L, 40000L, 456976L, 5000000L, 11000000L))
      assert(Analytics.erSession(bench, n) eq bench,
        s"n=$n must be a no-op at the bench's 32 partitions")
    // the 10⁸-name tier (nBound = 2×10⁸): ⌈2e8·3·64B / 64MB⌉ = 573
    // right-sized tasks instead of the 32 that OOMed the default heap
    val s1e8 = Analytics.erSession(bench, 200000000L)
    assert(s1e8 ne bench)
    assert(shuffleParts(s1e8) === "573")
    // parent conf never observes the override; context is shared
    assert(shuffleParts(bench) === "32")
    assert(s1e8.sparkContext eq spark.sparkContext)
    // cap: a 10¹²-name bound derives 4096, not millions
    assert(shuffleParts(Analytics.erSession(bench, 1000000000000L)) === "4096")
    // a cluster session with a higher own setting wins over the derivation
    val wide = session(1024)
    assert(Analytics.erSession(wide, 200000000L) eq wide)
  }

  test("onDiskBytes: sums data files without checksums; an unreadable path is a named error") {
    val dir = Files.createTempDirectory("widths").resolve("t").toString
    spark.range(0, 1000).write.parquet(dir)
    val files = Files.walk(Paths.get(dir)).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
    assert(files.exists(_.toString.endsWith(".crc")), "the premise: the writer leaves checksums")
    val dataBytes = files.filterNot(_.toString.endsWith(".crc")).map(Files.size).sum
    assert(Widths.onDiskBytes(spark, dir) === dataBytes)
    assert(Widths.onDiskBytes(spark, dir, dir) === 2 * dataBytes)
    val missing = s"$dir-missing"
    val e = intercept[IllegalStateException](Widths.onDiskBytes(spark, missing))
    assert(e.getMessage.contains(missing))
  }

  test("only Widths reads or sets the session's partition count under graft/queries") {
    val named = "numShufflePartitions|\"spark\\.sql\\.shuffle\\.partitions\"|initialPartitionNum".r
    val sources = Files.walk(Paths.get("src/main/scala/graft/queries")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.size > 10, "the scan must see the query sources")
    val readers = sources.filter(p => named.findFirstIn(Files.readString(p)).nonEmpty)
      .map(_.getFileName.toString)
    assert(readers === Seq("Widths.scala"), readers)
  }

  test("only Ivf names an IVF cache key or builds a seed table under src/main") {
    // so the codebook sizes and the probe width reach every chain from
    // one file
    val sources = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    for (r <- Seq("\"(ivfcb|ivfimicb|ivfassign|ivfcoarse|ivfimi|ivfplain)".r, "\\bhashSeeds\\(".r)) {
      val named = sources.filter(p => r.findFirstIn(Files.readString(p)).nonEmpty)
        .map(_.getFileName.toString)
      assert(named === Seq("Ivf.scala"), s"$r: $named")
    }
  }

  test("snmPairs output is invariant to the derived partition count") {
    // the two-phase rank's value is the position in the TOTAL order, so
    // it cannot depend on where the range boundaries fall: force wildly
    // different partition counts through nUniv and require identical
    // pair sets
    val univ = (0 until 500).map(i => f"name${(i * 7919) % 500}%04d").distinct.toDF("name")
    def pairs(forcedN: Long): Set[(String, String)] =
      Analytics.snmPairs(univ, $"name", forcedN)
        .collect().map(r => (r.getString(0), r.getString(1))).toSet
    val p8 = pairs(100L)           // → 8 partitions (floor)
    val p80 = pairs(5000000L)      // → 80 partitions
    val p1600 = pairs(100000000L)  // → 1600 partitions, far more than rows
    assert(p8 === p80, "8-way vs 80-way rank produced different pairs")
    assert(p8 === p1600, "8-way vs 1600-way rank produced different pairs")
    assert(p8.nonEmpty)
  }
}
