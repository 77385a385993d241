package graft

import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** Memo-lifecycle contract: [[Caches]] frames persist for the whole
  * Verify/Bench run, and [[Caches.releaseAll]] must actually unpersist
  * every one of them and clear the memo map — a leak here grows silently
  * with the registry (90+ queries share the shingle scan, pair graph,
  * dup-group labels and IR index through this object).
  */
class CachesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  /** A memoized frame is served ROOTED at its cache entry's
    * InMemoryRelation (r15, GraftExpr.servedFromCache) — so
    * `Dataset.storageLevel`, whose CacheManager lookup keys on the
    * original (truncated) plan, reads NONE for it. The serving contract
    * is asserted directly: the optimized plan IS the in-memory relation.
    */
  private def servedFromCache(df: org.apache.spark.sql.DataFrame): Boolean =
    df.queryExecution.optimizedPlan.collectFirst {
      case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r
    }.nonEmpty

  test("releaseAll unpersists every registered frame and clears the memo") {
    import spark.implicits._
    var builds = 0
    def build() = { builds += 1; Seq(1, 2, 3).toDF("x") }

    val a = Caches.memoized(spark, "caches-spec", "a")(build())
    val b = Caches.register(Seq(4, 5).toDF("y").persist())
    a.count(); b.count()
    assert(servedFromCache(a), "memoized frame not served from its cache entry")
    val framesAfterBuild = Caches.snapshot._1
    assert(framesAfterBuild.exists(_.storageLevel != StorageLevel.NONE),
      "memoized frame not persisted")
    assert(b.storageLevel != StorageLevel.NONE, "registered frame not persisted")

    // memo hit: same (session, dir, key) returns the cached frame, no rebuild
    val a2 = Caches.memoized(spark, "caches-spec", "a")(build())
    assert(builds == 1)
    assert(a2 eq a)

    Caches.releaseAll()
    assert(framesAfterBuild.forall(_.storageLevel == StorageLevel.NONE),
      "memoized frame leaked past releaseAll")
    assert(b.storageLevel == StorageLevel.NONE, "registered frame leaked past releaseAll")

    // memo cleared: the next request rebuilds (and re-registers) cleanly
    val a3 = Caches.memoized(spark, "caches-spec", "a")(build())
    assert(builds == 2)
    a3.count()
    assert(servedFromCache(a3))
    val framesAfterRebuild = Caches.snapshot._1
    assert(framesAfterRebuild.exists(_.storageLevel != StorageLevel.NONE))
    Caches.releaseAll()
    assert(framesAfterRebuild.forall(_.storageLevel == StorageLevel.NONE))
  }

  test("nested memoized builds (builder memoizes sub-frames) register cleanly") {
    import spark.implicits._
    val outer = Caches.memoized(spark, "caches-spec", "outer") {
      val inner = Caches.memoized(spark, "caches-spec", "inner")(Seq(1, 2).toDF("x"))
      inner.select(org.apache.spark.sql.functions.col("x") * 2)
    }
    outer.count()
    val (frames, memoSize) = Caches.snapshot
    assert(memoSize >= 2, "both nesting levels should be memoized")
    Caches.releaseAll()
    assert(frames.forall(_.storageLevel == StorageLevel.NONE))
    assert(Caches.snapshot._2 == 0)
  }

  test("concurrent memoized builds do not serialize behind the monitor") {
    import spark.implicits._
    import java.util.concurrent.{CountDownLatch, TimeUnit}
    // Thread A enters its build and then WAITS for thread B to complete a
    // memoized build of a different key. Under the old design (whole
    // build under the object monitor) this deadlocks: B blocks on the
    // monitor A holds, A waits on B. Under the epoch-guard design builds
    // run unlocked, so B finishes and A completes.
    val aStarted = new CountDownLatch(1)
    val bDone = new CountDownLatch(1)
    @volatile var aOk = false
    val tA = new Thread(() => {
      Caches.memoized(spark, "caches-spec", "slowA") {
        aStarted.countDown()
        aOk = bDone.await(30, TimeUnit.SECONDS)
        Seq(1).toDF("x")
      }
    })
    tA.start()
    assert(aStarted.await(30, TimeUnit.SECONDS), "builder A never started")
    Caches.memoized(spark, "caches-spec", "fastB")(Seq(2).toDF("y"))
    bDone.countDown()
    tA.join(30000)
    assert(!tA.isAlive, "builder A deadlocked behind builder B")
    assert(aOk, "builder A timed out waiting for B — monitor still held across builds")
    assert(Caches.snapshot._2 >= 2, "both keys should be memoized")
    Caches.releaseAll()
  }

  test("a release racing a build keeps the fresh frame cached and reclaimable") {
    import spark.implicits._
    // the build itself triggers releaseAll — the single-threaded stand-in
    // for a concurrent release landing mid-build (builds run OUTSIDE the
    // monitor, so this no longer deadlocks or serializes releases). The
    // fresh frame never entered the released map, so re-registering it
    // resurrects nothing — while returning it uncached would re-run the
    // whole build once per reference for multi-reference consumers
    // (triangles' edge memo on 3 join sides, a shingle index on 2)
    var builds = 0
    val df = Caches.memoized(spark, "caches-spec", "raced") {
      Caches.releaseAll()
      builds += 1
      Seq(1).toDF("x")
    }
    df.count()
    assert(servedFromCache(df),
      "a raced build's frame should stay cached — uncached means silent recompute amplification")
    val racedFrames = Caches.snapshot._1
    assert(racedFrames.exists(_.storageLevel != StorageLevel.NONE),
      "a raced build's backing frame should stay persisted")
    // and it IS the memo entry: the next consumer reuses it, no rebuild
    val again = Caches.memoized(spark, "caches-spec", "raced") {
      builds += 1; Seq(2).toDF("x")
    }
    assert((again eq df) && builds == 1, "raced frame not reused by the next consumer")
    // and the next release reclaims it like any other entry
    Caches.releaseAll()
    assert(racedFrames.forall(_.storageLevel == StorageLevel.NONE),
      "raced frame leaked past the NEXT releaseAll")
    assert(Caches.snapshot._2 == 0)
  }

  test("hammer: interleaved builds and releases leave no resurrected or leaked frames") {
    import spark.implicits._
    // N threads x M keys x repeated memoized+count with releaseAll
    // interleaved at random — the property pass over the code that now
    // underpins every cross-query memo. Invariants: (1) every frame a
    // consumer gets is usable (count succeeds even if a release lands
    // mid-use); (2) after quiescing + one final release, the memo is
    // empty and NOT ONE cached RDD survives beyond those cached before
    // the hammer — catching both double-persist leaks (loser frames not
    // unpersisted) and resurrection (entries surviving releaseAll).
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val threads = 8
    val keys = 6
    val rounds = 25
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val pool = (0 until threads).map { t =>
      new Thread(() => {
        try {
          val rnd = new scala.util.Random(t)
          (0 until rounds).foreach { i =>
            val df = Caches.memoized(spark, "caches-hammer",
              s"k${rnd.nextInt(keys)}")(Seq(t, i).toDF("x"))
            assert(df.count() == 2L)
            if (rnd.nextInt(8) == 0) Caches.releaseAll()
          }
        } catch { case e: Throwable => errs.add(e) }
      })
    }
    pool.foreach(_.start())
    pool.foreach(_.join(120000))
    assert(pool.forall(!_.isAlive), "hammer thread hung")
    assert(errs.isEmpty, s"hammer error: ${Option(errs.peek()).map(_.toString)}")
    Caches.releaseAll()
    assert(Caches.snapshot._2 == 0, "memo not empty after quiesced release")
    // An action racing an unpersist can re-materialize the cache buffer
    // RDD after the unpersist removed it (the in-flight count still holds
    // the InMemoryRelation); such a buffer is ORPHANED, not retained — no
    // live structure references it once the action completes, so the
    // ContextCleaner reclaims it on GC. The no-leak invariant is
    // therefore "nothing SURVIVES gc + cleaner", not "empty immediately":
    // a frame still strongly referenced by Caches would never drain here
    // and fails the assert.
    def leaked() = spark.sparkContext.getPersistentRDDs.keySet -- before
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (leaked().nonEmpty && System.nanoTime() < deadline) {
      System.gc()
      Thread.sleep(250)
    }
    assert(leaked().isEmpty, s"cached RDDs leaked past releaseAll + cleaner: ${leaked()}")
  }

  /** The registry-wide leak guard: materialize EVERY registered query at
    * the smoke tier (a full Verify-shaped pass — this is also the one
    * place all 100+ queries execute under `sbt test`), then prove
    * releaseAll unpersists every frame the pass registered and empties
    * the memo. A leak here grows with the registry, which is exactly
    * when it would start to hurt.
    */
  test("parquetArtifact: stable across releaseAll, rebuild overwrites cleanly") {
    val spark = TestSpark.spark
    import spark.implicits._
    def build(n: Int) = Caches.parquetArtifact(spark, TestSpark.sf, "spec/tiny")(
      spark.range(n).toDF("id"))
    val a1 = build(5).collect().map(_.getLong(0)).toSet
    assert(a1 == (0L until 5L).toSet)
    // within a session the memo serves the same reloaded relation
    assert(build(99).collect().map(_.getLong(0)).toSet == a1)
    Caches.releaseAll()
    // post-release the build RE-WRITES (mode overwrite) and re-reads:
    // a changed source must land, stale files must not survive
    val a2 = build(3).collect().map(_.getLong(0)).toSet
    assert(a2 == (0L until 3L).toSet, s"stale artifact rows survived: $a2")
    Caches.releaseAll()
  }

  test("a full registry pass releases every memoized frame") {
    val sf = TestSpark.sf
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try fn(spark, sf).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable => fail(s"$name failed at smoke tier: ${e.getMessage}") }
    }
    val (frames, memoSize) = Caches.snapshot
    assert(frames.nonEmpty && memoSize > 0, "pass should have populated the memo")
    Caches.releaseAll()
    val leaked = frames.filter(_.storageLevel != StorageLevel.NONE)
    assert(leaked.isEmpty, s"${leaked.size} frames leaked past releaseAll")
    assert(Caches.snapshot._2 == 0, "memo not emptied")
  }

  test("every x10 scaling side charges exactly the memo keys its cold run builds") {
    // Record's scaling slopes add a side's charged build rows to its
    // median: a key charged but never built reads as a missing row, and
    // a key built but not charged drops its build from the cold total
    val sf = TestSpark.sf
    val saved = Caches.buildObserver
    try {
      val wrong = Record.ScalingPairs.flatMap { case (fam, (base, bk), (big, gk)) =>
        Seq(base -> bk, big -> gk).flatMap { case (q, charged) =>
          val built = scala.collection.mutable.Set.empty[String]
          Caches.releaseAll()
          Caches.buildObserver = Some((k, _) => built.synchronized(built += k))
          SparkEntry.queries(q)(spark, sf).write.format("noop").mode("overwrite").save()
          Caches.buildObserver = saved
          if (built.toSet == charged.toSet) None
          else Some(s"$fam/$q charges ${charged.sorted} but builds ${built.toSeq.sorted}")
        }
      }
      assert(wrong.isEmpty, wrong.mkString("\n"))
    } finally {
      Caches.buildObserver = saved
      Caches.releaseAll()
    }
  }

  test("deleteTree removes a root and all below it, and skips a missing root") {
    val root = java.nio.file.Files.createTempDirectory("graft-artifacts-spec-")
    java.nio.file.Files.createDirectories(root.resolve("a/b"))
    java.nio.file.Files.write(root.resolve("a/b/part-0.parquet"), Array[Byte](1, 2))
    java.nio.file.Files.write(root.resolve("top.txt"), Array[Byte](3))
    Caches.deleteTree(root)
    assert(!java.nio.file.Files.exists(root))
    Caches.deleteTree(root)
  }
}
