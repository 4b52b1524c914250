package graft

import org.apache.spark.sql.functions._

import graft.operators.Components

class ComponentsSpec extends SparkSpec {
  import spark.implicits._

  test("diameter-15 chain converges to the chain minimum") {
    // 0-1-2-...-15: eccentricity from the min node is 15, which a fixed
    // 10-iteration propagation (the pre-round-4 implementation) mislabels —
    // nodes 11..15 would still carry labels > 0.
    val chain = (0L until 15L).map(k => (k, k + 1)).toDF("i", "j")
    val got = Components.connectedComponents(chain)
      .orderBy("node").as[(Long, Long)].collect()
    assert(got.length === 16)
    assert(got.forall(_._2 === 0L), s"non-min labels: ${got.filterNot(_._2 == 0L).toSeq}")
  }

  test("diameter-40 chain plus disjoint clique and isolated pair") {
    val chain = (100L until 140L).map(k => (k, k + 1))
    val clique = for { a <- 0L until 5L; b <- (a + 1) until 5L } yield (a, b)
    val pair = Seq((900L, 901L))
    val edges = (chain ++ clique ++ pair).toDF("i", "j")
    val labels = Components.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert((100L to 140L).forall(labels(_) == 100L))
    assert((0L until 5L).forall(labels(_) == 0L))
    assert(labels(900L) === 900L && labels(901L) === 900L)
    assert(labels.size === 41 + 5 + 2)
  }

  test("iteration state does not accumulate: pinned label checkpoints are " +
    "released as the closure advances") {
    // Round 13: every pass localCheckpoints its label table, and
    // localCheckpoint blocks are pinned (unevictable) — without the eager
    // release a D-diameter closure holds O(log D) label tables alive
    // simultaneously, which is exactly what OOMed the 20M-name closure at
    // 8 GB (SCALE.md round 12→13). A diameter-40 chain needs ~6 passes;
    // pin that live checkpointed-RDD count stays O(1), not O(passes).
    val before = spark.sparkContext.getPersistentRDDs.size
    val chain = (0L until 40L).map(k => (k, k + 1)).toDF("i", "j")
    val labels = Components.connectedComponents(chain)
    labels.count()
    // the closure's releases are unpersist(blocking = false), so a slow
    // block-manager listener can still have more than one reclaim in
    // flight here (round-13 advice: a hardcoded slack races it) — poll
    // until the count settles at the steady state instead
    def live() = spark.sparkContext.getPersistentRDDs.size - before
    val deadline = System.nanoTime() + 10L * 1000 * 1000 * 1000
    while (live() > 2 && System.nanoTime() < deadline) Thread.sleep(100)
    // steady state = edges + final labels; anything more means the loop
    // is hoarding iteration state again
    assert(live() <= 2, s"${live()} checkpointed RDDs alive after a ~6-pass closure")
  }

  test("edge direction does not matter (symmetrized internally)") {
    val reversed = Seq((3L, 2L), (2L, 1L), (1L, 0L)).toDF("i", "j")
    val labels = Components.connectedComponents(reversed)
      .as[(Long, Long)].collect().toMap
    assert(labels.values.toSet === Set(0L))
  }

  test("empty edge set yields empty labels without iterating forever") {
    val empty = Seq.empty[(Long, Long)].toDF("i", "j")
    assert(Components.connectedComponents(empty).count() === 0L)
  }

  test("random graphs match a union-find reference") {
    // deterministic LCG so the fixture is reproducible
    var seed = 12345L
    def next(bound: Int): Int = {
      seed = seed * 6364136223846793005L + 1442695040888963407L
      (((seed >>> 33) % bound) + bound).toInt % bound
    }
    for (trial <- 1 to 3) {
      val n = 40
      val edges = Seq.fill(30)((next(n).toLong, next(n).toLong))
        .filter { case (a, b) => a != b }
      // union-find reference
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val want = edges.flatMap(e => Seq(e._1, e._2)).distinct
        .map(v => v -> {
          // min node id reachable = min over the component's members
          val root = find(v.toInt)
          edges.flatMap(e => Seq(e._1, e._2)).distinct
            .filter(u => find(u.toInt) == root).min
        }).toMap
      val got = Components.connectedComponents(edges.toDF("i", "j"))
        .as[(Long, Long)].collect().toMap
      assert(got === want, s"trial $trial mismatch")
    }
  }
}
