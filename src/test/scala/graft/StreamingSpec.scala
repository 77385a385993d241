package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.streaming.Trigger
import graft.streaming.Streaming

class StreamingSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val sf = TestSpark.sf

  private def rollupSet(df: org.apache.spark.sql.DataFrame): Set[(String, String, Long, Double)] =
    df.collect().map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSet

  test("streaming windowed rollup (file source, AvailableNow) equals the batch plan") {
    val stream = Streaming.windowedRollup(Streaming.readEventStream(spark, sf))
    val qname = "rollup_test"
    val q = stream.writeStream
      .format("memory").queryName(qname)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("st-chk").toString)
      .start()
    assert(q.awaitTermination(120000), "stream did not terminate")
    val got = rollupSet(spark.table(qname))
    val want = rollupSet(Streaming.windowedRollup(Tables.events(spark, sf)))
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("streaming windowed rollup reads a fixture dir given as a relative path") {
    // the stream's symlink must target the absolute path: a relative
    // target resolves against the link's temp dir and dangles
    val rel = java.nio.file.Paths.get("").toAbsolutePath
      .relativize(java.nio.file.Paths.get(sf).toAbsolutePath).toString
    assert(!java.nio.file.Paths.get(rel).isAbsolute)
    val qname = "rollup_relative_test"
    val q = Streaming.windowedRollup(Streaming.readEventStream(spark, rel)).writeStream
      .format("memory").queryName(qname)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("st-chk").toString)
      .start()
    assert(q.awaitTermination(120000), "stream did not terminate")
    val want = rollupSet(Streaming.windowedRollup(Tables.events(spark, sf)))
    assert(rollupSet(spark.table(qname)) == want)
    assert(want.nonEmpty)
  }

  test("readEventStream takes the events schema from the session cache: no Spark job") {
    Tables.events(spark, sf)
    val jobs = org.apache.spark.SpecBus.jobsOf(spark)(Streaming.readEventStream(spark, sf))
    assert(jobs == 0, "the stream read inferred the events schema again")
  }

  test("exactly-once sink: a full replay overwrites its partitions, no dups") {
    val out = java.nio.file.Files.createTempDirectory("st-once-out").toString
    def runOnce(): Unit = {
      // FRESH checkpoint each run = a full replay after checkpoint loss,
      // the worst re-delivery case: every batch re-fires with the same
      // composition and must land on (overwrite) its own partition
      val chk = java.nio.file.Files.createTempDirectory("st-once-chk").toString
      val q = Streaming.exactlyOnceSink(
        Streaming.readEventStream(spark, sf), out, chk)
      assert(q.awaitTermination(120000), "stream did not terminate")
    }
    val want = Tables.events(spark, sf).count()
    runOnce()
    assert(spark.read.parquet(out).count() == want, "first run landed short")
    runOnce() // replay: same data again from offset zero
    val after = spark.read.parquet(out)
    assert(after.count() == want,
      s"replay duplicated rows: ${after.count()} != $want")
    // and the payload survived intact (same distinct event ids)
    assert(after.select("event_id").distinct().count() == want)
  }

  test("streaming windowed HLL (file source, AvailableNow) equals batch; in bound") {
    val stream = Streaming.windowedApproxUsers(Streaming.readEventStream(spark, sf))
    val qname = "approx_users_test"
    val q = stream.writeStream
      .format("memory").queryName(qname)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("st-chk").toString)
      .start()
    assert(q.awaitTermination(120000), "stream did not terminate")
    def m(df: org.apache.spark.sql.DataFrame): Map[String, Long] =
      df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val got = m(spark.table(qname))
    // HLL merge is register-max (order-independent), so the incremental
    // stream and the one-shot batch produce the SAME sketch values
    val want = m(Streaming.windowedApproxUsers(Tables.events(spark, sf)))
    assert(got == want)
    assert(want.nonEmpty)
    // and the registered gate form holds: every window's sketch in bound
    val ok = Streaming.approxUsersChecked(spark, sf)
    assert(ok.where(!org.apache.spark.sql.functions.col("hll_ok")).count() == 0L)
    assert(ok.count() == want.size.toLong)
  }

  test("streaming dedup (file source, AvailableNow) equals the batch DISTINCT") {
    val stream = Streaming.streamingDedup(Streaming.readEventStream(spark, sf))
    val qname = "dedup_test"
    val q = stream.writeStream
      .format("memory").queryName(qname)
      .outputMode("append") // dedup emits each key at first arrival
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("st-chk").toString)
      .start()
    assert(q.awaitTermination(120000), "stream did not terminate")
    def keys(df: org.apache.spark.sql.DataFrame): Set[(String, Long, String)] =
      df.collect().map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet
    val got = keys(spark.table(qname))
    val want = keys(Streaming.streamingDedup(Tables.events(spark, sf)))
    assert(got == want)
    assert(want.nonEmpty)
    // the fixture actually contains collapsible duplicates at hour grain
    assert(want.size < Tables.events(spark, sf).count())
  }

  test("streaming sliding rollup (file source, AvailableNow) equals the batch plan") {
    val stream = Streaming.slidingRollup(Streaming.readEventStream(spark, sf))
    val qname = "sliding_test"
    val q = stream.writeStream
      .format("memory").queryName(qname)
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("st-chk").toString)
      .start()
    assert(q.awaitTermination(120000), "stream did not terminate")
    val got = rollupSet(spark.table(qname))
    val want = rollupSet(Streaming.slidingRollup(Tables.events(spark, sf)))
    assert(got == want)
    // sliding 1h/30min: every event lands in exactly 2 windows
    val n = Tables.events(spark, sf).count()
    assert(want.toSeq.map(_._3).sum == 2 * n)
  }

  test("stream-stream interval join (file source, AvailableNow) equals the batch join") {
    val ev = Streaming.readEventStream(spark, sf)
    val stream = Streaming.intervalJoin(ev)
    val qname = "ivjoin_test"
    val q = stream.writeStream
      .format("memory").queryName(qname)
      .outputMode("append") // stream-stream inner joins are append-only
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("st-chk").toString)
      .start()
    assert(q.awaitTermination(120000), "stream did not terminate")
    def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val got = pairs(spark.table(qname))
    val want = pairs(Streaming.intervalJoin(Tables.events(spark, sf)))
    assert(got == want)
    assert(want.nonEmpty)
    // sanity of the interval semantics on the batch result
    want.foreach { case (_, _, _, msBefore) =>
      assert(msBefore >= 0 && msBefore < 6L * 3600 * 1000)
    }
  }

  test("LEFT OUTER interval join: matches equal the inner join, nulls emit at watermark expiry") {
    val stream = Streaming.intervalJoinLeft(Streaming.readEventStream(spark, sf))
    val qname = "ivleft_test"
    val q = stream.writeStream
      .format("memory").queryName(qname)
      .outputMode("append") // outer results append at watermark expiry
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("st-chk").toString)
      .start()
    assert(q.awaitTermination(120000), "stream did not terminate")
    val got = spark.table(qname).collect()
    val batch = Streaming.intervalJoinLeft(Tables.events(spark, sf)).collect()
    def matched(rows: Array[org.apache.spark.sql.Row]): Set[(Long, Long, Long, Long)] =
      rows.filterNot(_.isNullAt(1))
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    // matched pairs are exactly the inner join's, streaming or batch
    assert(matched(got) == matched(batch))
    assert(matched(got).nonEmpty)
    // null-padded purchases: never a false null (a streamed null row must
    // be unmatched in the batch join too) ...
    val gotNull = got.filter(_.isNullAt(1)).map(_.getLong(0)).toSet
    val batchNull = batch.filter(_.isNullAt(1)).map(_.getLong(0)).toSet
    assert(gotNull.subsetOf(batchNull))
    // ... and the expiry path actually ran: every unmatched purchase
    // whose join window closed strictly below the final watermark
    // (min(max p_ts, max c_ts) − 2 h delay, with an extra hour of slack
    // for the engine's eviction boundary) was null-emitted
    import org.apache.spark.sql.functions.{col, max => smax}
    val ev = Tables.events(spark, sf)
    def maxMs(t: String): Long = ev.filter(col("event_type") === t)
      .agg(smax(col("ts"))).head().getTimestamp(0).getTime
    val wmMs = math.min(maxMs("purchase"), maxMs("click")) - 2L * 3600 * 1000
    val pTs = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("ts")).collect()
      .map(r => r.getLong(0) -> r.getTimestamp(1).getTime).toMap
    val mustExpire = batchNull.filter(id => pTs(id) < wmMs - 3600 * 1000L)
    assert(mustExpire.nonEmpty, "fixture leaves no expirable unmatched purchase")
    assert(mustExpire.subsetOf(gotNull),
      s"${(mustExpire -- gotNull).size} expired unmatched purchases missing their null row")
  }

  test("stream-static enrichment (file source, AvailableNow) equals the batch join") {
    val stream = Streaming.staticEnrich(Streaming.readEventStream(spark, sf))
    val qname = "enrich_test"
    val q = stream.writeStream
      .format("memory").queryName(qname)
      .outputMode("append") // stateless: every joined row emits once
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("st-chk").toString)
      .start()
    assert(q.awaitTermination(120000), "stream did not terminate")
    def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, String, Double)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3))).toSet
    val got = rows(spark.table(qname))
    val want = rows(Streaming.staticEnrich(Tables.events(spark, sf)))
    assert(got == want)
    // the join keeps every event (all five types exist in the static dim)
    assert(want.size == Tables.events(spark, sf).count())
  }

  test("native session_window aggregate (file source, AvailableNow) equals batch") {
    import org.apache.spark.sql.functions._
    val stream = graft.events.Events.sessionWindowOn(
      Streaming.readEventStream(spark, sf).withWatermark("ts", "2 hours"))
    val q = stream.writeStream
      .format("memory").queryName("sesswin_test")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("st-chk").toString)
      .start()
    assert(q.awaitTermination(120000), "stream did not terminate")
    def sess(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3), r.getDouble(4))).toSet
    val got = sess(spark.table("sesswin_test"))
    val want = sess(graft.events.Events.sessionWindow(spark, sf))
    assert(got == want)
    assert(want.nonEmpty)
  }

  test("windowed histogram cells (file source, AvailableNow) equal the batch sketch") {
    val stream = graft.events.Temporal.windowedHistogram(
      Streaming.readEventStream(spark, sf))
    val q = stream.writeStream
      .format("memory").queryName("qh_cells_test")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("st-chk").toString)
      .start()
    assert(q.awaitTermination(120000), "stream did not terminate")
    def cells(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)) -> r.getLong(3)).toMap
    val got = cells(spark.table("qh_cells_test"))
    // counts are associative: the incremental stream builds the exact
    // same per-window histogram as the one-shot batch
    val want = cells(graft.events.Temporal.windowedHistogram(Tables.events(spark, sf)))
    assert(got == want)
    assert(want.nonEmpty)
    // state is O(buckets) per (window, type), never per event
    got.keySet.groupBy(k => (k._1, k._2)).foreach { case (w, ks) =>
      assert(ks.size <= 512, s"window $w bucket blowup") }
  }

  test("windowed count-min cells (file source, AvailableNow) equal the batch sketch") {
    val stream = graft.functions.CountMin.windowedCells(
      Streaming.readEventStream(spark, sf))
    val q = stream.writeStream
      .format("memory").queryName("cm_cells_test")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("st-chk").toString)
      .start()
    assert(q.awaitTermination(120000), "stream did not terminate")
    def cells(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getString(0), r.getInt(1), r.getLong(2)) -> r.getLong(3)).toMap
    val got = cells(spark.table("cm_cells_test"))
    // counts are associative: the incremental stream builds the exact
    // same per-window sketch as the one-shot batch
    val want = cells(graft.functions.CountMin.windowedCells(Tables.events(spark, sf)))
    assert(got == want)
    assert(want.nonEmpty)
    // state is d×w per window, not per key: every window holds ≤ 256 cells
    got.keySet.groupBy(_._1).foreach { case (w, ks) =>
      assert(ks.size <= graft.functions.CountMin.Depth * graft.functions.CountMin.Width,
        s"window $w cell blowup") }
  }

  test("stateful sessionization on batch reproduces the window-based sessionize") {
    val stateful = Streaming.sessionizeStateful(Tables.events(spark, sf)).toDF()
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getString(3), r.getString(4), r.getDouble(5))).toMap
    val windowed = graft.events.Events.sessionize(spark, sf)
      .selectExpr("CAST(user_id AS LONG) AS user_id", "CAST(session_id AS LONG) AS session_id",
        "n_events", "session_start", "session_end", "sum_value")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getString(3), r.getString(4), r.getDouble(5))).toMap
    assert(stateful == windowed)
    assert(stateful.nonEmpty)
  }

  test("skewed hot user (10^5 events in one group) sessionizes correctly") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // one pathological user with 100k events (every 2 min, so a session
    // break every time the 30-min gap is exceeded — here never) plus a
    // sprinkle of normal users; pins the per-user memory contract: the
    // hot group materializes in ONE task and still folds correctly
    val hot = spark.range(100000).select(
      lit(1L).as("user_id"), col("id").as("event_id"),
      timestamp_micros(lit(1700000000000000L) + col("id") * 120L * 1000000L).as("ts"),
      lit(1.0).as("value"))
    val cold = spark.range(50).select(
      (col("id") + 10L).as("user_id"), (col("id") + 200000L).as("event_id"),
      timestamp_micros(lit(1700000000000000L) + col("id") * 3600L * 1000000L).as("ts"),
      lit(2.0).as("value"))
    val sessions = Streaming.sessionizeStateful(hot.union(cold), gapMinutes = 30)
      .collect()
    val hotSessions = sessions.filter(_.user_id == 1L)
    // 2-min cadence never exceeds the 30-min gap: exactly one session
    // holding all 100k events, value sum exact
    assert(hotSessions.length == 1)
    assert(hotSessions.head.n_events == 100000L)
    assert(hotSessions.head.sum_value == 100000.0)
    // cold users: 1-hour cadence always exceeds the gap: one session per event
    val coldSessions = sessions.filter(_.user_id >= 10L)
    assert(coldSessions.length == 50)
    assert(coldSessions.forall(s => s.n_events == 1L && s.sum_value == 2.0))
  }

  test("x10 stateful-session scale tier: AvailableNow stream equals batch at x10 groups") {
    import org.apache.spark.sql.functions._
    // the registered st_sessions_big corpus as a REAL stream. One source
    // file → one microbatch: the fold flushes trailing sessions at group
    // end, so a single-batch stream is exactly the batch execution (the
    // documented contract; the multi-batch EventTimeTimeout stitch is
    // sessionizeStitching, pinned by its own spec below).
    val ev = Streaming.inflatedEvents(spark, sf, 10).cache()
    val srcDir = java.nio.file.Files.createTempDirectory("st-sess-src")
    try {
      ev.coalesce(1).write.mode("overwrite").parquet(srcDir.toString)
      val q = Streaming.sessionizeStateful(
          spark.readStream.schema(ev.schema).parquet(srcDir.toString))
        .toDF()
        .writeStream.format("memory").queryName("big_sessions")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("st-sess-chk").toString)
        .start()
      assert(q.awaitTermination(180000), "stream did not terminate")
      def sess(df: org.apache.spark.sql.DataFrame) =
        df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getString(3), r.getString(4), r.getDouble(5))).toSet
      val want = sess(Streaming.sessionizeStateful(ev).toDF())
      val got = sess(spark.table("big_sessions"))
      assert(got == want, s"stream sessions drifted: ${got.size} vs ${want.size}")
      // the tier does what it claims: x10 the base corpus's group count
      val baseGroups = Streaming.sessionizeStateful(Tables.events(spark, sf))
        .toDF().select(col("user_id")).distinct().count()
      assert(ev.select(col("user_id")).distinct().count() == baseGroups * 10)
    } finally ev.unpersist()
  }

  test("keyed upsert sink: multi-batch state equals batch, fence rejects redelivery") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = 1700000000000000L // µs
    def evs(rows: Seq[(Long, Long, Long, String, Double)]) =
      rows.toDF("user_id", "event_id", "m", "event_type", "value")
        .select(col("user_id"), col("event_id"),
          timestamp_micros(lit(base) + col("m") * 60L * 1000000L).as("ts"),
          col("event_type"), col("value"))
    // u1 and u2 both straddle the file boundary; the LAST event per user
    // arrives in different files, so the struct-max really merges
    val f1 = evs(Seq((1L, 1L, 0L, "click", 1.25), (1L, 2L, 10L, "view", 2.0),
      (2L, 3L, 5L, "click", 0.5)))
    val f2 = evs(Seq((1L, 4L, 35L, "buy", 4.0), (2L, 5L, 2L, "view", 1.5),
      (3L, 6L, 7L, "click", 3.0)))
    val srcDir = java.nio.file.Files.createTempDirectory("st-upsert-src")
    Seq(f1, f2).foreach { f =>
      f.coalesce(1).write.mode("append").parquet(srcDir.toString)
      Thread.sleep(20)
    }
    val statePath = java.nio.file.Files.createTempDirectory("st-upsert-state")
      .resolve("state").toString
    val q = Streaming.upsertStateSink(
      spark.readStream.schema(f1.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir.toString),
      statePath,
      java.nio.file.Files.createTempDirectory("st-upsert-chk").toString)
    assert(q.awaitTermination(180000), "stream did not terminate")
    assert(q.recentProgress.count(_.numInputRows > 0) == 2,
      "expected one microbatch per source file")
    def st(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getString(4), r.getDouble(5))).toSet
    val got = st(Streaming.readUserState(spark, statePath))
    val want = st(Streaming.userState(f1.union(f2)))
    assert(got == want, s"upsert state drifted: $got vs $want")
    // u2's last event (m=5, file 1) beats file 2's m=2 — max crossed files
    assert(got.exists { case (u, n, s, _, t, _) => u == 2L && n == 2L && t == "click" })
    // redelivery fence: re-applying an already-folded batch id is a no-op
    assert(!Streaming.applyStateBatch(f2, batchId = 1L, statePath))
    assert(!Streaming.applyStateBatch(f1, batchId = 0L, statePath))
    assert(st(Streaming.readUserState(spark, statePath)) == want)
    // a NEW batch id still applies
    val f3 = evs(Seq((3L, 7L, 99L, "buy", 1.0)))
    assert(Streaming.applyStateBatch(f3, batchId = 2L, statePath))
    assert(st(Streaming.readUserState(spark, statePath)) ==
      st(Streaming.userState(f1.union(f2).union(f3))))
  }

  test("keyed upsert sink: empty FIRST micro-batch persists its fence and does not crash") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = 1700000000000000L // µs
    def evs(rows: Seq[(Long, Long, Long, String, Double)]) =
      rows.toDF("user_id", "event_id", "m", "event_type", "value")
        .select(col("user_id"), col("event_id"),
          timestamp_micros(lit(base) + col("m") * 60L * 1000000L).as("ts"),
          col("event_type"), col("value"))
    val empty = evs(Seq.empty)
    val f2 = evs(Seq((1L, 1L, 0L, "click", 1.25), (2L, 2L, 5L, "view", 2.0)))
    // stream path: file 1 is a ZERO-ROW parquet, so micro-batch 0 is
    // empty — the case that used to NPE the fence read (max(batch_id)
    // over zero rows → NULL → getLong) and lose batch 0's fence id
    val srcDir = java.nio.file.Files.createTempDirectory("st-upsert-empty-src")
    empty.coalesce(1).write.mode("append").parquet(srcDir.toString)
    Thread.sleep(20)
    f2.coalesce(1).write.mode("append").parquet(srcDir.toString)
    val statePath = java.nio.file.Files.createTempDirectory("st-upsert-empty-state")
      .resolve("state").toString
    val q = Streaming.upsertStateSink(
      spark.readStream.schema(f2.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir.toString),
      statePath,
      java.nio.file.Files.createTempDirectory("st-upsert-empty-chk").toString)
    assert(q.awaitTermination(180000), "stream did not terminate")
    def st(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getString(4), r.getDouble(5))).toSet
    assert(st(Streaming.readUserState(spark, statePath)) ==
      st(Streaming.userState(f2)), "state after empty-then-data batches drifted")
    // the fence id survived the zero-row merge: the sidecar carries the
    // LAST batch id, and redelivering either batch is a no-op
    val fence = new java.io.File(statePath, "_fence")
    assert(fence.exists, "fence sidecar not persisted")
    assert(java.nio.file.Files.readString(fence.toPath).trim.toLong >= 1L)
    assert(!Streaming.applyStateBatch(empty, batchId = 0L, statePath))
    assert(!Streaming.applyStateBatch(f2, batchId = 1L, statePath))
    // an empty first batch applied DIRECTLY (no rows anywhere yet) also
    // persists its fence: batch 0 re-applied is fenced, not re-run
    val statePath2 = java.nio.file.Files.createTempDirectory("st-upsert-empty2")
      .resolve("state").toString
    assert(Streaming.applyStateBatch(empty, batchId = 0L, statePath2))
    assert(!Streaming.applyStateBatch(empty, batchId = 0L, statePath2),
      "empty batch 0 must be fenced on redelivery")
    assert(Streaming.applyStateBatch(f2, batchId = 1L, statePath2))
    assert(st(Streaming.readUserState(spark, statePath2)) ==
      st(Streaming.userState(f2)))
  }

  test("keyed upsert sink: staged commit survives both crash windows; corrupt fence degrades") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val base = 1700000000000000L
    def evs(rows: Seq[(Long, Long, Long, String, Double)]) =
      rows.toDF("user_id", "event_id", "m", "event_type", "value")
        .select(col("user_id"), col("event_id"),
          timestamp_micros(lit(base) + col("m") * 60L * 1000000L).as("ts"),
          col("event_type"), col("value"))
    val f1 = evs(Seq((1L, 1L, 0L, "click", 1.25)))
    val f2 = evs(Seq((1L, 2L, 5L, "view", 2.0), (2L, 3L, 6L, "click", 3.5)))
    def st(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getLong(3), r.getString(4), r.getDouble(5))).toSet
    val expect = st(Streaming.userState(f1.unionByName(f2)))

    // window 1 — crash AFTER the stage completed but BEFORE the swap:
    // simulate by writing batch 1's state normally, then reconstructing
    // the exact on-disk layout (complete stage beside stale live)
    val p1 = java.nio.file.Files.createTempDirectory("st-crash1").resolve("state").toString
    assert(Streaming.applyStateBatch(f1, 0L, p1))
    assert(Streaming.applyStateBatch(f2, 1L, p1))
    val live = new java.io.File(p1)
    val stage = new java.io.File(p1 + ".stage")
    assert(live.renameTo(stage), "test setup: live -> stage")
    assert(Streaming.applyStateBatch(f1, 0L, p1) == false,
      "recovery must promote the complete stage, then fence the redelivery")
    assert(st(Streaming.readUserState(spark, p1)) == expect, "promoted state drifted")
    assert(!stage.exists, "stage dir must be consumed by the promotion")

    // window 2 — crash MID-STAGE-WRITE (no completion markers): the dead
    // partial stage is discarded, live state is untouched, and the
    // redelivered batch applies cleanly
    val p2 = java.nio.file.Files.createTempDirectory("st-crash2").resolve("state").toString
    assert(Streaming.applyStateBatch(f1, 0L, p2))
    val deadStage = new java.io.File(p2 + ".stage")
    deadStage.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(deadStage, "part-00000.parquet").toPath, "garbage")
    assert(Streaming.applyStateBatch(f2, 1L, p2), "batch must apply after discard")
    assert(!new java.io.File(deadStage, "part-00000.parquet").exists,
      "incomplete stage must be discarded")
    assert(st(Streaming.readUserState(spark, p2)) == expect)

    // corrupt fence sidecar: parse failure degrades to carrier-absent
    // (the row fence still rejects the redelivery), never a throw
    java.nio.file.Files.writeString(new java.io.File(p2, "_fence").toPath, "")
    assert(Streaming.applyStateBatch(f2, 1L, p2) == false,
      "row fence must still reject redelivery under a corrupt sidecar")

    // window 3 — STALE complete stage beside an operator-restored live
    // dir (cannot arise within the protocol; can after a rollback from
    // backup): recovery must compare fences and DISCARD the older stage
    // instead of silently clobbering the restored state
    val p3 = java.nio.file.Files.createTempDirectory("st-crash3").resolve("state").toString
    val p3old = java.nio.file.Files.createTempDirectory("st-crash3-old")
      .resolve("state").toString
    assert(Streaming.applyStateBatch(f1, 0L, p3old)) // fence 0, f1 only
    assert(Streaming.applyStateBatch(f1, 0L, p3))
    assert(Streaming.applyStateBatch(f2, 1L, p3)) // live fence 1, f1+f2
    val staleStage = new java.io.File(p3 + ".stage")
    assert(new java.io.File(p3old).renameTo(staleStage), "test setup: old live -> stage")
    val f3 = evs(Seq((2L, 4L, 9L, "view", 0.5)))
    assert(Streaming.applyStateBatch(f3, 2L, p3))
    assert(!staleStage.exists, "stale stage must be discarded, not promoted")
    assert(st(Streaming.readUserState(spark, p3)) ==
      st(Streaming.userState(f1.unionByName(f2).unionByName(f3))),
      "restored live state was clobbered by the stale stage")

    // window 4 — complete-LOOKING stage (_SUCCESS present) whose _fence
    // doesn't parse (r12 ADVICE): an unparseable fence can't participate
    // in batch dedup or the staleness comparison, so recovery must treat
    // the stage as incomplete and DISCARD it — never promote it over a
    // live dir carrying a valid fence
    val p4 = java.nio.file.Files.createTempDirectory("st-crash4").resolve("state").toString
    assert(Streaming.applyStateBatch(f1, 0L, p4))
    assert(Streaming.applyStateBatch(f2, 1L, p4)) // live fence 1
    val junkStage = new java.io.File(p4 + ".stage")
    junkStage.mkdirs()
    java.nio.file.Files.writeString(
      new java.io.File(junkStage, "_SUCCESS").toPath, "")
    java.nio.file.Files.writeString(
      new java.io.File(junkStage, "_fence").toPath, "not-a-batch-id")
    val f4b = evs(Seq((3L, 5L, 12L, "view", 4.0)))
    assert(Streaming.applyStateBatch(f4b, 2L, p4))
    assert(!junkStage.exists, "unparseable-fence stage must be discarded")
    assert(st(Streaming.readUserState(spark, p4)) ==
      st(Streaming.userState(f1.unionByName(f2).unionByName(f4b))),
      "live state was clobbered by the unparseable-fence stage")
  }

  test("multi-microbatch stitching: sessions spanning file boundaries equal the batch plan") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 3 users whose sessions cross EVERY file boundary (gap 30 min):
    //   u1: t0,t10 | t35        | t80   → s1=[t0..t35] n=3 (spans f1-f2), s2=[t80]
    //   u2: t5     | t50        | t70   → s1=[t5],  s2=[t50..t70] n=2 (spans f2-f3)
    //   u3: t0     | t40        | t65   → s1=[t0],  s2=[t40..t65] n=2 (spans f2-f3)
    // plus file 4: a far-future flusher event (user 999) that advances
    // the watermark past every real session's end+gap, so EventTimeTimeout
    // emits them all; the flusher's own session stays open (never emitted)
    val base = 1700000000000000L // µs
    def evs(rows: Seq[(Long, Long, Long, Double)]) = // (user, id, minute, value)
      rows.toDF("user_id", "event_id", "m", "value")
        .select(col("user_id"), col("event_id"),
          timestamp_micros(lit(base) + col("m") * 60L * 1000000L).as("ts"), col("value"))
    val f1 = evs(Seq((1L, 1L, 0L, 1.25), (1L, 2L, 10L, 2.0), (2L, 3L, 5L, 0.5),
      (3L, 4L, 0L, 3.0)))
    val f2 = evs(Seq((1L, 5L, 35L, 1.0), (2L, 6L, 50L, 2.5), (3L, 7L, 40L, 0.75)))
    val f3 = evs(Seq((1L, 8L, 80L, 4.0), (2L, 9L, 70L, 1.5), (3L, 10L, 65L, 2.25)))
    val f4 = evs(Seq((999L, 11L, 60L * 24 * 10, 0.0))) // +10 days
    val srcDir = java.nio.file.Files.createTempDirectory("st-stitch-src")
    Seq(f1, f2, f3, f4).foreach { f =>
      f.coalesce(1).write.mode("append").parquet(srcDir.toString)
      Thread.sleep(20) // distinct mtimes: source lists files in arrival order
    }
    val q = Streaming.sessionizeStitching(
        spark.readStream.schema(f1.schema)
          .option("maxFilesPerTrigger", 1).parquet(srcDir.toString))
      .toDF()
      .writeStream.format("memory").queryName("stitch_sessions")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("st-stitch-chk").toString)
      .start()
    assert(q.awaitTermination(180000), "stream did not terminate")
    // one microbatch per file: the boundary-spanning sessions really did
    // arrive split across batches
    assert(q.recentProgress.count(_.numInputRows > 0) == 4,
      "expected exactly one microbatch per source file")
    def sess(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4), r.getDouble(5))).toSet
    val got = sess(spark.table("stitch_sessions"))
    // batch truth over the real users (flusher excluded: its trailing
    // session is OPEN at stream end — correct live semantics)
    val want = sess(Streaming.sessionizeStateful(
      f1.union(f2).union(f3)).toDF())
    assert(got == want, s"stitched sessions drifted: $got vs $want")
    assert(want.size == 6)
    // and the stitch genuinely crossed batches: u1 session 1 holds events
    // from files 1 AND 2
    assert(got.exists { case (u, s, n, _, _, v) => u == 1L && s == 1L && n == 3L &&
      v == 4.25 })
  }

  test("stitching state survives a checkpoint RESTART: sessions span stopped runs") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // the operational claim behind "still-open sessions stay in the
    // checkpoint": stop the stream entirely, add more files, restart
    // from the same checkpoint — the open-session GroupState reloads and
    // sessions stitch across the RESTART boundary, not just microbatches
    def evs(rows: Seq[(Long, Long, Long, Double)]) =
      rows.toDF("user_id", "event_id", "m", "value")
        .select(col("user_id"), col("event_id"),
          timestamp_micros(lit(1700000000000000L) + col("m") * 60L * 1000000L).as("ts"),
          col("value"))
    // u3 exercises the numbering TOMBSTONE: its lone session times out
    // during run A (watermark passes t0+gap inside run A), then a much
    // later event in run B must continue the counter at 2, not restart
    val f1 = evs(Seq((1L, 1L, 0L, 1.0), (2L, 2L, 5L, 2.0), (3L, 8L, 0L, 1.0)))
    val f2 = evs(Seq((1L, 3L, 20L, 0.5), (2L, 4L, 50L, 1.5)))
    // u1's continuation sits at t45: ABOVE the recovered watermark (f2's
    // max event t50 − 10 min delay = t40 — an event at/below it is
    // late-filtered before the fold, the documented finality contract)
    // yet within gap of t20, so it extends s1 ACROSS the restart
    val f3 = evs(Seq((1L, 5L, 45L, 2.5), (2L, 6L, 60L, 3.0),
      (3L, 9L, 300L, 2.0)))
    val f4 = evs(Seq((999L, 7L, 60L * 24 * 10, 0.0)))          // watermark flusher
    val srcDir = java.nio.file.Files.createTempDirectory("st-restart-src")
    val outDir = java.nio.file.Files.createTempDirectory("st-restart-out").toString
    val chk = java.nio.file.Files.createTempDirectory("st-restart-chk").toString
    // the memory sink refuses checkpoint recovery; the FILE sink is the
    // recovery-capable one (its own commit log makes the restart
    // exactly-once), so the two runs append to one parquet output
    def run(): Unit = {
      val q = Streaming.sessionizeStitching(
          spark.readStream.schema(f1.schema)
            .option("maxFilesPerTrigger", 1).parquet(srcDir.toString))
        .toDF()
        .writeStream.format("parquet")
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .option("path", outDir)
        .option("checkpointLocation", chk)
        .start()
      assert(q.awaitTermination(180000), "stream did not terminate")
    }
    Seq(f1, f2).foreach { f =>
      f.coalesce(1).write.mode("append").parquet(srcDir.toString); Thread.sleep(20)
    }
    run() // consumes f1, f2; open sessions checkpointed
    Seq(f3, f4).foreach { f =>
      f.coalesce(1).write.mode("append").parquet(srcDir.toString); Thread.sleep(20)
    }
    run() // restart: state reloads, f3 extends, f4 flushes
    val got = spark.read.parquet(outDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4), r.getDouble(5))).toSet
    val batchWant = Streaming.sessionizeStateful(f1.union(f2).union(f3)).toDF()
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4), r.getDouble(5))).toSet
    assert(got == batchWant, s"restart-stitched sessions drifted: $got vs $batchWant")
    // u1's single session [t0..t40] holds events from BOTH runs
    assert(got.exists { case (u, s, n, _, _, v) => u == 1L && s == 1L && n == 3L && v == 4.0 })
    // and u3's post-timeout return carried the counter through the
    // tombstone: second session numbered 2
    assert(got.exists { case (u, s, n, _, _, _) => u == 3L && s == 2L && n == 1L })
  }

  test("x10 sliding-rollup scale tier: multi-batch stream equals batch, watermark evicts") {
    import org.apache.spark.sql.functions._
    // the registered st_sliding_rollup_big corpus, materialized into 6
    // time-ordered files so maxFilesPerTrigger=1 gives 6 microbatches
    // with genuinely advancing event time — the shape where watermark
    // state eviction does real work, unlike the single-batch fixture runs
    val ev = Streaming.inflatedEvents(spark, sf, 10).cache()
    val srcDir = java.nio.file.Files.createTempDirectory("st-big-src")
    try {
      val slices = 6
      val b = ev.agg(min(unix_millis(col("ts"))), max(unix_millis(col("ts")))).head()
      val (lo, width) = (b.getLong(0), (b.getLong(1) - b.getLong(0)) / slices + 1)
      (0 until slices).foreach { i =>
        ev.filter(((unix_millis(col("ts")) - lo) / width).cast("int") === i)
          .coalesce(1).write.mode("append").parquet(srcDir.toString)
        Thread.sleep(20) // distinct mtimes: source lists oldest slice first
      }
      def run(mode: String, qname: String) = {
        val q = Streaming.slidingRollup(
            spark.readStream.schema(ev.schema)
              .option("maxFilesPerTrigger", 1).parquet(srcDir.toString))
          .writeStream.format("memory").queryName(qname).outputMode(mode)
          .trigger(Trigger.AvailableNow())
          .option("checkpointLocation",
            java.nio.file.Files.createTempDirectory("st-big-chk").toString)
          .start()
        assert(q.awaitTermination(180000), "stream did not terminate")
        q
      }
      val want = rollupSet(Streaming.slidingRollup(ev))
      // complete mode: the full rollup, bit-identical to the batch plan
      // (and to the hash-gated registered query)
      val qc = run("complete", "big_sliding_complete")
      assert(rollupSet(spark.table("big_sliding_complete")) == want)
      assert(qc.recentProgress.count(_.numInputRows > 0) >= slices,
        "expected one microbatch per time slice")
      // append mode: only watermark-finalized windows emit, and their
      // state is DROPPED — exact on the emitted subset, most windows
      // finalized before stream end, and the final retained state far
      // below the total window-key count (the eviction proof; without
      // eviction it would equal every key seen)
      val qa = run("append", "big_sliding_append")
      val fin = rollupSet(spark.table("big_sliding_append"))
      assert(fin.nonEmpty && fin.subsetOf(want), "finalized windows drifted from batch")
      assert(fin.size * 2 >= want.size, s"too few finalized: ${fin.size}/${want.size}")
      val lastState = qa.recentProgress.reverse
        .flatMap(_.stateOperators.headOption.map(_.numRowsTotal)).headOption
      assert(lastState.exists(_ < want.size / 2),
        s"state not evicted: $lastState rows retained of ${want.size} keys")
    } finally ev.unpersist()
  }

  test("streaming curation: multi-microbatch AvailableNow stream equals the batch composition") {
    import org.apache.spark.sql.functions._
    // the ingestion split streamed as 3 files so maxFilesPerTrigger=1
    // yields 3 micro-batches; mod-3 on doc_id is a deterministic cut
    val batchDocs = graft.dedup.Dedup.ingestBatchFrame(spark, sf)
      .select(col("doc_id"), col("text"))
    val srcDir = java.nio.file.Files.createTempDirectory("st-curate-src")
    (0 until 3).foreach { r =>
      batchDocs.where(pmod(col("doc_id"), lit(3)) === r)
        .coalesce(1).write.mode("append").parquet(srcDir.toString)
      Thread.sleep(20)
    }
    val corpusFps = graft.dedup.Dedup.corpusFpsFrame(spark, sf)
    val corpusBands = graft.dedup.Dedup.corpusBandsFrame(spark, sf)
    val corpusSh = graft.dedup.Dedup.corpusShFrame(spark, sf)
    val out = java.nio.file.Files.createTempDirectory("st-curate-out").toString
    val q = Streaming.curateStreamSink(
      spark.readStream.schema(batchDocs.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir.toString),
      corpusFps, corpusBands, corpusSh, out,
      java.nio.file.Files.createTempDirectory("st-curate-chk").toString)
    assert(q.awaitTermination(300000), "stream did not terminate")
    assert(q.recentProgress.count(_.numInputRows > 0) == 3,
      "expected one microbatch per source file")
    def vs(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "quality_pass", "exact_dup", "near_dup", "keep")
        .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2),
          r.getBoolean(3), r.getBoolean(4))).toSet
    // micro-batch union == whole-split batch form (the hash-gated
    // st_curate): the composition is order-independent by construction —
    // each verdict is a pure function of (its batch rows, the index)
    val got = vs(spark.read.parquet(out))
    val want = vs(Streaming.curateIngest(spark, sf))
    assert(got == want, s"stream verdicts drifted: $got vs $want")
    assert(want.nonEmpty)
    // planted positive through the same micro-batch path: a batch doc
    // carrying a corpus doc's exact text must flag exact_dup (bloom
    // admits it, the exact semi-join confirms) and therefore not keep
    val corpusText = Tables.documents(spark, sf)
      .join(corpusFps, md5(col("text")) === col("fp"), "left_semi")
      .select("text").head.getString(0)
    import spark.implicits._
    // the second plant is novel but too short for the quality gate
    // (n_tokens < 10): present in the verdicts, not kept
    val planted = Seq((900001L, corpusText), (900002L, "too short to pass"))
      .toDF("doc_id", "text")
    val pv = Streaming.curateMicroBatch(planted, corpusFps, corpusBands, corpusSh)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(pv(900001L).getBoolean(2), "planted exact dup not flagged")
    assert(!pv(900001L).getBoolean(4), "planted exact dup kept")
    assert(!pv(900002L).getBoolean(1) && !pv(900002L).getBoolean(4),
      "short doc passed the quality gate")
  }

  test("self-updating curation stream: index appends make batch 1 see batch 0's kept docs") {
    import org.apache.spark.sql.functions._
    val (b0, b1, _, _) = Streaming.seqParts(spark, sf)
    // two time-ordered files so maxFilesPerTrigger=1 streams batch 0
    // strictly before batch 1 (the upsert tests' ordering protocol)
    val srcDir = java.nio.file.Files.createTempDirectory("st-seq-src")
    b0.coalesce(1).write.mode("append").parquet(srcDir.toString)
    Thread.sleep(20)
    b1.coalesce(1).write.mode("append").parquet(srcDir.toString)
    // live index seeded from the corpus relations (the persisted
    // prior-run artifacts a production stream would mount)
    val idx = java.nio.file.Files.createTempDirectory("st-seq-idx").toString
    graft.dedup.Dedup.corpusFpsFrame(spark, sf).write.parquet(s"$idx/fps")
    graft.dedup.Dedup.corpusBandsFrame(spark, sf).write.parquet(s"$idx/bands")
    graft.dedup.Dedup.corpusShFrame(spark, sf).write.parquet(s"$idx/sh")
    val out = java.nio.file.Files.createTempDirectory("st-seq-out").toString
    val q = Streaming.curateStatefulSink(
      spark.readStream.schema(b0.schema)
        .option("maxFilesPerTrigger", 1).parquet(srcDir.toString),
      idx, out,
      java.nio.file.Files.createTempDirectory("st-seq-chk").toString)
    assert(q.awaitTermination(300000), "stream did not terminate")
    assert(q.recentProgress.count(_.numInputRows > 0) == 2,
      "expected one microbatch per source file")
    def vs(df: org.apache.spark.sql.DataFrame) =
      df.select("doc_id", "quality_pass", "exact_dup", "near_dup", "keep")
        .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2),
          r.getBoolean(3), r.getBoolean(4))).toSet
    val got = vs(spark.read.parquet(out))
    // ≡ the hash-gated sequential batch form (st_curate_seq)
    val want = vs(Streaming.curateSequentialIngest(spark, sf))
    assert(got == want, s"stateful stream verdicts drifted from the sequential form")
    // the plants' only duplicates are batch-0 KEPT docs — these flags
    // exist iff batch 1's trigger read index rows batch 0's trigger
    // appended (exact clone at +900000, near clone at +910000)
    assert(got.exists(t => t._1 >= 900000L && t._1 < 910000L && t._3 && !t._5),
      "exact plant not flagged through the appended fp rows")
    assert(got.exists(t => t._1 >= 910000L && t._4 && !t._5),
      "near plant not flagged through the appended band/shingle rows")
  }
}
