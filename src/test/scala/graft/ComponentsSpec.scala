package graft

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import graft.graph.Components

/** Exact oracle for the shared large-star/small-star connected-components
  * module: every case is checked against an in-test union-find, including
  * the long-chain shape (diameter = n) that motivated replacing the
  * O(diameter) min-label loops.
  */
class ComponentsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def run(nodes: Seq[Long], pairs: Seq[(Long, Long)],
                  partitions: Option[Int] = None): Map[Long, Long] = {
    import spark.implicits._
    Components.labels(nodes.toDF("id"), pairs.toDF("a", "b"), partitions)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  private def unionFind(nodes: Seq[Long], pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: Long): Long =
      if (parent(x) == x) x else { val r = find(parent(x)); parent(x) = r; r }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b)); if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // roots are min ids because unions always attach the larger root
    nodes.map(n => n -> find(n)).toMap
  }

  test("long chain labels to the minimum (the O(diameter) killer case)") {
    val nodes = (1L to 64L)
    val chain = (1L until 64L).map(i => (i, i + 1))
    val got = run(nodes, chain)
    assert(got == nodes.map(_ -> 1L).toMap)
  }

  test("isolated nodes, self-pairs, duplicate and reversed edges") {
    val nodes = Seq(1L, 2L, 3L, 4L, 5L, 9L)
    val pairs = Seq((2L, 1L), (1L, 2L), (2L, 2L), (4L, 5L), (5L, 4L), (4L, 5L))
    assert(run(nodes, pairs) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 3L, 4L -> 4L, 5L -> 4L, 9L -> 9L))
  }

  test("matches union-find on a seeded random graph") {
    val rnd = new scala.util.Random(42)
    val nodes = (0L until 80L)
    val pairs = Seq.fill(70)((rnd.nextInt(80).toLong, rnd.nextInt(80).toLong))
      .filter { case (a, b) => a != b }
    assert(run(nodes, pairs) == unionFind(nodes, pairs))
    // the width-pinned variant is result-identical
    assert(run(nodes, pairs, partitions = Some(3)) == unionFind(nodes, pairs))
  }

  test("matches union-find on sparse and dense seeded graphs") {
    for ((seed, n, m) <- Seq((7, 40, 15), (11, 30, 200), (13, 120, 90),
                             (3, 60, 40), (5, 40, 300), (17, 200, 150))) {
      val rnd = new scala.util.Random(seed)
      val nodes = (0L until n.toLong)
      val pairs = Seq.fill(m)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter { case (a, b) => a != b }
      assert(run(nodes, pairs, partitions = Some(4)) == unionFind(nodes, pairs),
        s"seed=$seed n=$n m=$m")
    }
  }

  test("two parallel chains bridged at the far end (deep diameter, two roots merge)") {
    // chain A: 1..30 (min 1), chain B: 100..129 (min 100), bridge 30-129:
    // one component labeled 1; a second isolated chain 200..209 labels 200
    val a = (1L until 30L).map(i => (i, i + 1))
    val b = (100L until 129L).map(i => (i, i + 1))
    val c = (200L until 209L).map(i => (i, i + 1))
    val nodes = (1L to 30L) ++ (100L to 129L) ++ (200L to 209L)
    val got = run(nodes, a ++ b ++ c :+ (30L, 129L), partitions = Some(2))
    assert(got == unionFind(nodes, a ++ b ++ c :+ (30L, 129L)))
    assert(got(129L) == 1L && got(209L) == 200L)
  }

  test("star and merged-star shapes converge to one root") {
    // two stars joined by a bridge between their leaves
    val pairs = Seq((10L, 11L), (10L, 12L), (10L, 13L),
      (20L, 21L), (20L, 22L), (13L, 22L))
    val nodes = Seq(10L, 11L, 12L, 13L, 20L, 21L, 22L)
    assert(run(nodes, pairs) == nodes.map(_ -> 10L).toMap)
  }

  test("non-prepared star loop drops its round-0 edge cache once round 1 supersedes it") {
    // the initOwned contract (IterativeLoop.scala): a NON-prepared input
    // derives a loop-owned round-0 edge cache, and that frame must be
    // unpersisted as soon as round 1 replaces it — a leak here keeps a
    // full edge-set copy resident for the whole run at every tier
    import spark.implicits._
    Caches.releaseAll()
    val pairs = Seq((2L, 1L), (3L, 1L), (4L, 2L), (6L, 5L)).toDF("x", "y")
    val nodes = (1L to 6L).toDF("id")
    // labels() runs the loop eagerly (per-round convergence probes)
    val out = Components.labels(nodes, pairs, prepared = false).collect()
    assert(out.nonEmpty)
    val frames = Caches.snapshot._1
    assert(frames.nonEmpty, "loop must register its caches")
    // the first frame registered after the release is the loop-derived
    // round-0 edge cache (labels registers it before converge starts)
    assert(frames.head.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
      "round-0 edge cache must be unpersisted after round 1")
    // while the FINAL round's frame is still live (released by the host)
    assert(frames.last.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "final round frame should stay cached until releaseAll")
    Caches.releaseAll()
  }

  test("the star-forest stop test holds exactly when a round leaves the edge set unchanged") {
    // the loop's one per-round probe must be true on an oriented
    // (src > dst), distinct edge set iff that set is the star loop's
    // fixpoint; checked against one real round over the same set
    import spark.implicits._
    def oriented(pairs: Seq[(Long, Long)]): Seq[(Long, Long)] =
      pairs.filter { case (a, b) => a != b }
        .map { case (a, b) => (math.max(a, b), math.min(a, b)) }.distinct
    val complete = (n: Int) => for (a <- 1L to n.toLong; b <- 1L until a) yield (a, b)
    val shapes = Seq(
      Seq.empty[(Long, Long)],
      Seq((2L, 1L), (3L, 1L), (4L, 1L)),            // one star
      Seq((5L, 1L), (6L, 1L), (9L, 7L)),            // two stars
      Seq((3L, 1L), (3L, 2L)),                      // "V": two roots share a leaf
      Seq((4L, 2L), (4L, 3L), (5L, 1L)),            // V beside a star
      Seq((2L, 1L), (3L, 2L), (4L, 3L)),            // path
      Seq((3L, 2L), (2L, 1L)),                      // path through the root's leaf
      complete(3), complete(5))
    // random oriented sets over few nodes (dense enough to hit both
    // answers), plus random star forests rooted at their minima
    val randomSet = for {
      n <- Gen.chooseNum(2, 7)
      m <- Gen.chooseNum(0, 12)
      ps <- Gen.listOfN(m, Gen.zip(Gen.chooseNum(1L, n.toLong), Gen.chooseNum(1L, n.toLong)))
    } yield oriented(ps)
    val randomForest = for {
      roots <- Gen.chooseNum(1, 3)
      leaves <- Gen.listOf(Gen.chooseNum(0, roots - 1)).map(_.take(8))
    } yield leaves.zipWithIndex.map { case (r, i) => (100L + i, r.toLong + 1) }
    val sampled = (1 to 24).map(i =>
      (if (i % 3 == 0) randomForest else randomSet).pureApply(Gen.Parameters.default, Seed(i.toLong)))
    var stars, nonStars = 0
    for (edges <- shapes ++ sampled) {
      val e = edges.toDF("src", "dst")
      val fixpoint = Components.auditRound(e).as[(Long, Long)].collect().toSet == edges.toSet
      assert(Components.isStarForest(e) == fixpoint, s"edges=$edges")
      if (fixpoint) stars += 1 else nonStars += 1
    }
    assert(stars >= 5 && nonStars >= 5, s"both answers exercised: $stars / $nonStars")
  }

  test("a prepared complete graph stops after the one round that reaches its star") {
    // K6 becomes the star rooted at 1 in round 1; the star-forest test on
    // that round's output stops the loop there, with no confirming round
    import spark.implicits._
    Caches.releaseAll()
    val k6 = (for (a <- 1L to 6L; b <- 1L until a) yield (a, b)).toDF("src", "dst").persist()
    try {
      val got = Components.labels((1L to 6L).toDF("id"), k6, prepared = true).collect()
      assert(got.map(r => r.getLong(0) -> r.getLong(1)).toMap == (1L to 6L).map(_ -> 1L).toMap)
      assert(Caches.snapshot._1.size == 1, "one round frame: the loop ran exactly one round")
    } finally {
      k6.unpersist()
      Caches.releaseAll()
    }
  }
}
