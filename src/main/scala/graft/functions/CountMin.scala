package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Count-Min sketch (Cormode & Muthukrishnan 2005) — the frequency
  * ESTIMATOR that completes the repo's mergeable-sketch family next to
  * HLL (distinct counts, ev_approx_bounds), Misra-Gries (heavy-hitter
  * SET, ev_heavy_hitters), and the bloom runtime filter (membership,
  * op_bloom_join): d×w integer cells, est(k) = min over rows r of
  * cell(r, h_r(k)), guaranteed est ≥ exact with overestimate ≤ εN at
  * probability 1−δ (ε = e/w, δ = e^−d).
  *
  * Expressed RELATIONALLY, which is exactly how a 100 TB deployment
  * builds it: the cell table is one grouped COUNT over (row,
  * hash-of-key) — plain associative aggregation, so partial aggregation
  * IS the sketch merge and the d×w result (256 rows here) broadcasts to
  * any consumer; point queries are d equi-join lookups + one min. No
  * custom expression needed — the sketch never materializes per-task
  * state beyond normal partial aggs, and persisting the cell table as a
  * prior-run artifact follows the parquetArtifact lifecycle unchanged.
  *
  * Hash family: h_r(k) = first-8-hex-of-md5("r:k") mod w — the repo's
  * portable convention, so DuckDB replays cells AND estimates exactly
  * (the sketch is deterministic; the gate pins every cell and every
  * estimate, not just the ≥-exact boolean).
  *
  * Keyed by the same harmonic power-law stream as ev_heavy_hitters
  * (uniform fixture columns have no interesting frequency profile): the
  * head keys' estimates are near-exact (their counts dominate their
  * cells) while the 1/m² tail shows the collision overestimate the
  * bound promises.
  */
object CountMin {

  val Depth = 4
  val Width = 64

  private def hashCell(r: Int, key: Column): Column =
    pmod(conv(substring(md5(concat(lit(r.toString), lit(":"),
      key.cast("string"))), 1, 8), 16, 10).cast("long"), lit(Width.toLong))

  /** The harmonic-skew key stream shared with ev_heavy_hitters. */
  private def skewedKeys(spark: SparkSession, dir: String): DataFrame =
    graft.Tables.events(spark, dir).select(
      floor(lit(1000.0) / (lit(1L) + pmod(col("event_id"), lit(1000L))))
        .cast("long").as("key"))

  /** The d×w cell table: one exploded pass, one grouped count — the
    * whole sketch build. At 100 TB this is the cheapest aggregate the
    * engine runs (256 output rows), and partial aggregation merges
    * per-partition sketches exactly like the formal sketch-merge.
    */
  def cells(keyed: DataFrame): DataFrame =
    keyed
      .select(explode(array((0 until Depth).map(r =>
        struct(lit(r).as("r"), hashCell(r, col("key")).as("c"))): _*)).as("rc"))
      .groupBy(col("rc.r").as("r"), col("rc.c").as("c"))
      .agg(count(lit(1)).as("n"))

  /** Per-key estimate vs exact: est(k) = min_r cell(r, h_r(k)), joined
    * against the exact count — overestimate = est − exact ≥ 0 by
    * construction (every occurrence of k lands in each of its d cells).
    * The cell lookup is a broadcast equi-join on (r, c); the exact side
    * exists for the gate and the quality readout — production queries
    * the sketch alone.
    */
  def estimates(spark: SparkSession, dir: String): DataFrame =
    estimatesOn(skewedKeys(spark, dir), cells(skewedKeys(spark, dir)))

  /** The estimate/exact readout against an EXPLICIT cell table — shared
    * by the fixture-tier [[estimates]] (cells built in-plan) and the
    * merged-artifact tier [[mergedEstimates]] (cells summed from two
    * persisted day sketches).
    */
  private def estimatesOn(keyed: DataFrame, cellTab: DataFrame): DataFrame = {
    val exact = keyed.groupBy(col("key")).agg(count(lit(1)).as("n_exact"))
    val probes = exact.select(col("key"),
      explode(array((0 until Depth).map(r =>
        struct(lit(r).as("r"), hashCell(r, col("key")).as("c"))): _*)).as("rc"))
      .select(col("key"), col("rc.r").as("r"), col("rc.c").as("c"))
    probes
      .join(broadcast(cellTab), Seq("r", "c"))
      .groupBy(col("key"))
      .agg(min(col("n")).as("cm_est"))
      .join(exact, Seq("key"))
      .select(col("key"), col("n_exact"), col("cm_est"),
        (col("cm_est") - col("n_exact")).as("overestimate"))
  }

  /** The harmonic key stream of ONE "day" — events split by epoch-day
    * parity of the timestamp, the deterministic stand-in for a daily
    * ingest cadence over the fixture's time range. Both engines compute
    * the same parity (UTC session, date_diff from the epoch), so the
    * split itself is oracle-replayable.
    */
  private def daySkewedKeys(spark: SparkSession, dir: String, parity: Int): DataFrame =
    graft.Tables.events(spark, dir)
      .where(pmod(datediff(to_date(col("ts")),
        lit(java.sql.Date.valueOf("1970-01-01"))), lit(2)) === parity)
      .select(floor(lit(1000.0) / (lit(1L) + pmod(col("event_id"), lit(1000L))))
        .cast("long").as("key"))

  /** One day's SKETCH AS A STORED ARTIFACT: the d×w cell table over that
    * day's stream, written once to Parquet and reopened
    * ([[graft.Caches.parquetArtifact]]) — "yesterday's run" in the
    * cross-run merge below.
    */
  private def daySketch(spark: SparkSession, dir: String, parity: Int): DataFrame =
    graft.Caches.parquetArtifact(spark, dir, s"cm_day_$parity")(
      cells(daySkewedKeys(spark, dir, parity)))

  /** SKETCH MERGE ACROSS RUNS (r8 verdict ask 7): two day-partitioned
    * Count-Min sketches, each persisted by its own "ingest run" as a
    * Parquet artifact, reopened and merged by cell-wise SUM — the formal
    * CM merge, exercised through storage rather than inside one
    * aggregation's partial-merge. Estimates then serve the FULL corpus
    * from the merged sketch.
    *
    * The oracle is [[estimates]]' full-corpus replay VERBATIM: Count-Min
    * is linear (cell(r,c) is a plain count over a disjoint partition of
    * the stream), so merged-day cells ≡ whole-corpus cells exactly, and
    * any break in the split / artifact round-trip / merge arithmetic
    * hash-fails against the one-pass replay. The linearity certificate
    * (merged cell table == full-corpus cell table) is additionally
    * asserted in spec, as is the on-disk existence of both artifacts.
    */
  def mergedEstimates(spark: SparkSession, dir: String): DataFrame = {
    val merged = daySketch(spark, dir, 0).unionByName(daySketch(spark, dir, 1))
      .groupBy(col("r"), col("c")).agg(sum(col("n")).as("n"))
    estimatesOn(skewedKeys(spark, dir), merged)
  }

  /** WINDOWED cell table — the per-hour frequency sketch a streaming
    * pipeline keeps instead of per-key counts: state is d×w cells PER
    * WINDOW (256 rows/hour here, watermark-evicted) regardless of key
    * cardinality — the sketch-in-a-window pattern that makes per-hour
    * frequency queries stream-legal at any key space. The SAME plan runs
    * batch (the gate/oracle) and as an AvailableNow stream
    * (StreamingSpec: counts are associative, so stream ≡ batch exactly).
    */
  def windowedCells(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .select(window(col("ts"), "1 hour").as("w"),
        floor(lit(1000.0) / (lit(1L) + pmod(col("event_id"), lit(1000L))))
          .cast("long").as("key"))
      .select(col("w"), explode(array((0 until Depth).map(r =>
        struct(lit(r).as("r"), hashCell(r, col("key")).as("c"))): _*)).as("rc"))
      .groupBy(col("w"), col("rc.r").as("r"), col("rc.c").as("c"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("r"), col("c"), col("n"))

  /** Join-size estimation from sketches — the query-OPTIMIZER use of CM
    * (Alon-Matias-Szegedy F₂ / Cormode-Muthukrishnan inner product): the
    * self-join size Σ_k f(k)² of events on user_id, estimated as
    * min_r Σ_c cell[r][c]² without touching per-key frequencies. This is
    * how a planner sizes a join it hasn't run: each side keeps a d×w
    * sketch (mergeable, broadcastable), and the inner product of
    * matching rows bounds the output cardinality from above —
    * est ≥ exact always (collision cross-terms only add), and
    * est ≤ exact + (e/w)·N² with probability 1−e^{−d}. Both the exact
    * value (one grouped aggregate) and the estimate are deterministic
    * (md5 hash family), so the gate pins the NUMBERS and both bound
    * booleans.
    */
  def selfJoinEstimate(spark: SparkSession, dir: String): DataFrame = {
    val keyed = graft.Tables.events(spark, dir).select(col("user_id").as("key"))
    val est = cells(keyed)
      .groupBy(col("r")).agg(sum(col("n") * col("n")).as("sq"))
      .agg(min(col("sq")).as("cm_est"))
    val exact = keyed.groupBy(col("key")).agg(count(lit(1)).as("f"))
      .agg(sum(col("f") * col("f")).as("exact_f2"), sum(col("f")).as("n"))
    exact.crossJoin(broadcast(est))
      .select(col("n"), col("exact_f2"), col("cm_est"),
        (col("cm_est") >= col("exact_f2")).as("ge_exact"),
        (col("cm_est").cast("double") <=
          col("exact_f2").cast("double") +
            lit(2.718281828459045 / Width) *
              col("n").cast("double") * col("n").cast("double")).as("within_bound"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ev_countmin" -> ((s, d) => estimates(s, d)),
    "op_join_estimate" -> ((s, d) => selfJoinEstimate(s, d)),
    // cross-run merge: per-day sketches persisted as Parquet artifacts,
    // reopened, cell-wise summed, serving full-corpus estimates
    "ev_countmin_merged" -> ((s, d) => mergedEstimates(s, d)),
    "st_countmin" -> ((s, d) => windowedCells(graft.Tables.events(s, d)))
  )

  /** Full replay of [[estimates]]: harmonic keys → d×w cells →
    * min-of-cells estimates; every cell count and every estimate
    * hash-gated (the sketch is deterministic given the md5 hash family).
    */
  private val estimatesOracle =
    s"""WITH s AS (
            SELECT CAST(floor(1000.0 / (1 + event_id % 1000)) AS BIGINT) AS key
            FROM events),
          rc AS (
            SELECT key, r,
                   ('0x' || substr(md5(r || ':' || CAST(key AS VARCHAR)), 1, 8))::BIGINT
                     % $Width AS c
            FROM s, generate_series(0, ${Depth - 1}) AS g(r)),
          cells AS (
            SELECT r, c, CAST(count(*) AS BIGINT) AS n FROM rc GROUP BY r, c),
          exact AS (
            SELECT key, CAST(count(*) AS BIGINT) AS n_exact FROM s GROUP BY key),
          probes AS (
            SELECT e.key, g.r,
                   ('0x' || substr(md5(g.r || ':' || CAST(e.key AS VARCHAR)), 1, 8))::BIGINT
                     % $Width AS c
            FROM exact e, generate_series(0, ${Depth - 1}) AS g(r)),
          est AS (
            SELECT p.key, min(cl.n) AS cm_est
            FROM probes p JOIN cells cl ON p.r = cl.r AND p.c = cl.c
            GROUP BY p.key)
          SELECT e.key, e.n_exact, est.cm_est,
                 est.cm_est - e.n_exact AS overestimate
          FROM exact e JOIN est ON e.key = est.key"""

  val oracles: Map[String, String] = Map(
    "ev_countmin" -> estimatesOracle,
    // the merged-artifact tier shares the full-corpus replay VERBATIM:
    // CM linearity makes day₀-cells + day₁-cells ≡ one-pass cells, so
    // the same SQL gates the split + storage round-trip + merge
    "ev_countmin_merged" -> estimatesOracle,
    "op_join_estimate" ->
      s"""WITH s AS (SELECT user_id AS key FROM events),
          rc AS (
            SELECT key, r,
                   ('0x' || substr(md5(r || ':' || CAST(key AS VARCHAR)), 1, 8))::BIGINT
                     % $Width AS c
            FROM s, generate_series(0, ${Depth - 1}) AS g(r)),
          cells AS (
            SELECT r, c, CAST(count(*) AS BIGINT) AS n FROM rc GROUP BY r, c),
          est AS (
            SELECT CAST(min(sq) AS BIGINT) AS cm_est FROM (
              SELECT r, sum(n * n) AS sq FROM cells GROUP BY r)),
          exact AS (
            SELECT CAST(sum(f * f) AS BIGINT) AS exact_f2,
                   CAST(sum(f) AS BIGINT) AS n
            FROM (SELECT count(*) AS f FROM s GROUP BY key))
          SELECT n, exact_f2, cm_est,
                 cm_est >= exact_f2 AS ge_exact,
                 CAST(cm_est AS DOUBLE) <=
                   CAST(exact_f2 AS DOUBLE) + ${2.718281828459045 / Width}
                     * CAST(n AS DOUBLE) * CAST(n AS DOUBLE) AS within_bound
          FROM exact, est""",
    "st_countmin" ->
      s"""SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)), '%Y-%m-%d %H:%M:%S')
                   AS window_start,
                r,
                ('0x' || substr(md5(r || ':' ||
                   CAST(CAST(floor(1000.0 / (1 + event_id % 1000)) AS BIGINT) AS VARCHAR)),
                 1, 8))::BIGINT % $Width AS c,
                CAST(count(*) AS BIGINT) AS n
         FROM events, generate_series(0, ${Depth - 1}) AS g(r)
         GROUP BY 1, 2, 3"""
  )
}
