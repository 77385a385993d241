package graft.events

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables

/** Temporal join and window-analytics operators over the `events` table
  * (driver-extension mandate). The reference has none of these — its only
  * join shapes are inner/semi equi-joins (SURVEY.md §2.3 "Not present") —
  * but a production event pipeline leans on exactly this family: as-of
  * joins (enrich with the latest preceding fact), range joins (events
  * inside a time window), lag/lead deltas, rollup summaries, distinct
  * counts, and quantiles.
  *
  * Scale posture: Spark has no native as-of or range join — the naive
  * spellings (a non-equi theta join) plan as BroadcastNestedLoop or a
  * cartesian product, O(n·m) at 100 TB. Both operators here avoid that by
  * construction:
  *   - as-of = union both sides tagged, one hash shuffle by user_id, a
  *     partition-local running `last(..., ignoreNulls)` window. Shuffle
  *     volume is |left|+|right| rows, never a pair blow-up.
  *   - range = bin timestamps to interval-length buckets, explode each
  *     interval to the (≤2) buckets it overlaps, equi-join on the bucket,
  *     then apply the exact range predicate. The equi-join shuffles
  *     candidates only (pairs within ±1 bucket), not the cross product.
  * All value sums are exact DECIMAL, so results are shuffle-order
  * independent and hash-match the DuckDB oracle bit-for-bit.
  *
  * Millisecond integer timestamps (`unix_millis`) are the cross-engine
  * comparison currency throughout: the fixture stores TIMESTAMP(NANOS),
  * Spark reads microseconds, and integer ms floors identically in both
  * engines (all fixture timestamps are post-epoch).
  */
object Temporal {
  private def ms(cname: String) = unix_millis(col(cname))

  /** Per-event lag deltas: time since the user's previous event and the
    * change in `value` (exact DECIMAL difference). One shuffle by user_id;
    * the lag window is partition-local (W-surface: lag/lead, the idiom the
    * reference's secondary-sort machinery approximates — SURVEY.md §2.5).
    */
  def userDeltas(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("t_ms"), col("event_id"))
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        ms("ts").as("t_ms"), col("value").cast("decimal(12,2)").as("v"))
      .withColumn("gap_ms", col("t_ms") - lag(col("t_ms"), 1).over(byUser))
      .withColumn("value_delta",
        (col("v") - lag(col("v"), 1).over(byUser)).cast("double"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("gap_ms"), col("value_delta"))
  }

  /** As-of join: each purchase event picks the user's most recent click at
    * or before its timestamp (ties on ms: the click counts; among several,
    * the highest event_id).
    *
    * Implementation is the distributed as-of idiom: tag both sides, union,
    * shuffle once by user_id, and carry the latest click forward with a
    * running `last(..., ignoreNulls = true)` ordered by (ms, side,
    * event_id) — side 0 (click) before side 1 (purchase) makes the
    * equal-timestamp click visible to the purchase. No pair expansion at
    * any point; a 1000-executor run shuffles each event exactly once.
    */
  def asofJoin(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), ms("ts").as("t_ms"))
    val clicks = ev.filter(col("event_type") === "click")
      .select(col("user_id"), col("t_ms"), col("event_id"), lit(0).as("side"))
    val purchases = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("t_ms"), col("event_id"), lit(1).as("side"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("t_ms"), col("side"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val isClick = col("side") === 0
    clicks.unionByName(purchases)
      .withColumn("click_id", last(when(isClick, col("event_id")), ignoreNulls = true).over(w))
      .withColumn("click_ms", last(when(isClick, col("t_ms")), ignoreNulls = true).over(w))
      .filter(col("side") === 1)
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("click_id"), (col("t_ms") - col("click_ms")).as("ms_since_click"))
  }

  private val RangeMs = 3600000L // 1-hour incident window

  /** Range join: for every error event ("incident"), count and sum the
    * value of ALL events (any user, any type) strictly inside the hour
    * after it. A pure interval join with no equi key — the shape Spark
    * would otherwise plan as BroadcastNestedLoop.
    *
    * The bucketed rewrite: bin = floor(ms / windowLen). An incident's
    * window overlaps at most 2 bins (window length == bin length), so each
    * incident explodes to ≤2 (bin, incident) rows, equi-joins events on
    * bin, and the exact predicate filters the candidates. Each matching
    * pair appears exactly once (an event lives in exactly one bin).
    * Incidents with no matches are restored by a left join against the
    * aggregated pairs — output row count == incident count always.
    */
  private val RangeSubBins = 16L // sub-bin refinement of the hour window
  // the sub-bin derivation (and the documented "15 aggregate rows /
  // R = 16W" plan-shape claim) assumes exact divisibility; a future edit
  // that breaks it would keep results correct (the boundary filter is
  // exact) but silently invalidate the evidence — pin it (r14 ADVICE)
  require(RangeMs % RangeSubBins == 0,
    s"RangeMs ($RangeMs) must be divisible by RangeSubBins ($RangeSubBins)")

  /** r14: hierarchical interval aggregation (guide §2.3 "aggregate before
    * you shuffle", applied to the join fan-out). The plain bin rewrite
    * put every (incident, same-bin event) candidate through the join —
    * ~55× row amplification at sf0.1 (5.5M candidate rows for 100k
    * events), all but the window-edge ones trivially accepted. Refine
    * each hour bin into `RangeSubBins` sub-bins of width W = RangeMs/16
    * and pre-aggregate events once per sub-bin:
    *  - a sub-bin [sb·W, (sb+1)·W) lies FULLY inside the open window
    *    (start, start+R) iff sb ≥ floor(start/W)+1 and
    *    sb ≤ floor((start+R)/W)−1 (integer t_ms: t > start for every
    *    t ≥ sb·W ⟺ sb·W ≥ start+1; t < start+R for every
    *    t ≤ (sb+1)·W−1 ⟺ (sb+1)·W ≤ start+R) — those contribute their
    *    pre-aggregated (count, DECIMAL sum) wholesale;
    *  - only the TWO boundary sub-bins (floor(start/W) and
    *    floor((start+R)/W), never in the full range) keep row-level
    *    candidates under the exact predicate.
    * Every event lives in exactly one sub-bin, so each matching event is
    * counted exactly once, on the same exact-integer counts and exact
    * DECIMAL sums — bit-identical output, the unchanged oracle replays
    * the logical range join. Candidate rows drop ~8× (15 aggregate rows
    * + ~2×⌀9 boundary events per incident vs ~2×⌀139 bin events).
    */
  def rangeJoin(spark: SparkSession, dir: String): DataFrame = {
    val W = RangeMs / RangeSubBins
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), ms("ts").as("t_ms"),
        col("value").cast("decimal(12,2)").as("v"))
    val incidents = ev.filter(col("event_type") === "error")
      .select(col("event_id").as("incident_id"), col("t_ms").as("start_ms"))
    val sub = ev.withColumn("sb", floor(col("t_ms") / W))
    // one pass over events: per-sub-bin totals for the full-inclusion arm
    val subAgg = sub.groupBy(col("sb"))
      .agg(count(lit(1)).as("b_n"), sum(col("v")).as("b_sum"))
    val fullPart = incidents
      .withColumn("sb", explode(sequence(
        floor(col("start_ms") / W) + 1,
        floor((col("start_ms") + RangeMs) / W) - 1)))
      .join(broadcast(subAgg), Seq("sb"))
      .select(col("incident_id"), col("b_n").as("p_n"), col("b_sum").as("p_sum"))
    val boundaryPart = incidents
      .withColumn("sb", explode(array(
        floor(col("start_ms") / W),
        floor((col("start_ms") + RangeMs) / W))))
      .join(sub, Seq("sb"))
      .filter(col("t_ms") > col("start_ms") && col("t_ms") < col("start_ms") + RangeMs)
      .select(col("incident_id"), lit(1L).as("p_n"), col("v").cast("decimal(22,2)").as("p_sum"))
    val matched = fullPart.unionByName(boundaryPart)
      .groupBy(col("incident_id"))
      .agg(sum(col("p_n")).as("m_n"), sum(col("p_sum")).as("m_sum"))
    // the restore side is ≤ |incidents| aggregated rows; no FORCED
    // broadcast hint (r14 ADVICE): `matched` scales with the number of
    // error events, so pinning it into memory regardless of
    // autoBroadcastJoinThreshold would be wrong at larger fixtures — AQE
    // sees the aggregate's true (small) size at runtime and picks the
    // broadcast join itself; broadcast(subAgg) above stays hinted, its
    // cardinality is bounded by the time span / W
    incidents.join(matched, Seq("incident_id"), "left")
      .select(col("incident_id"),
        coalesce(col("m_n"), lit(0L)).as("n_events"),
        coalesce(col("m_sum"), lit(0).cast("decimal(22,2)")).cast("double").as("sum_value"))
  }

  /** ROLLUP(event_type, day): per-type-per-day, per-type, and grand-total
    * rows in one pass (the reference has no grouping-sets surface at all —
    * SURVEY.md §2.4 "Not present"). Catalyst expands the rollup before the
    * aggregate, so it is still a single partial+final shuffle. `lvl`
    * disambiguates the NULL super-aggregate rows explicitly
    * (grouping-bit formula spelled out in both engines).
    */
  def rollupDaily(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"),
        col("value").cast("decimal(12,2)").as("v"))
      .rollup(col("event_type"), col("day"))
      .agg(
        (grouping(col("event_type")) * 2 + grouping(col("day")))
          .cast("long").as("lvl"),
        count(lit(1)).as("n"),
        sum(col("v")).cast("double").as("sum_value"))
      .select(col("event_type"), col("day"), col("lvl"), col("n"), col("sum_value"))

  /** Funnel analysis: per signed-up user, the earliest signup, the
    * earliest click AT OR AFTER it, and the earliest purchase at or after
    * that click — `stage` counts how deep the user got. Three grouped
    * mins chained by user-keyed joins (every shuffle keys on user_id; no
    * ordering state beyond a min per user), the standard distributed
    * funnel shape.
    */
  def funnel(spark: SparkSession, dir: String): DataFrame = funnelWithin(spark, dir, None)

  /** The one chained-grouped-mins funnel behind [[funnel]] and
    * [[funnelWindowed]]: a stage counts at or after the previous stage's
    * earliest event and, given a `bound`, at most `bound` ms after it.
    * [[funnelSql]] is its DuckDB twin.
    */
  private def funnelWithin(spark: SparkSession, dir: String, bound: Option[Long]): DataFrame = {
    def after(prev: String): Column = {
      val from = col("t_ms") >= col(prev)
      bound.fold(from)(w => from && col("t_ms") <= col(prev) + w)
    }
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), ms("ts").as("t_ms"))
    val s = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("t_ms")).as("s_ms"))
    val c = ev.filter(col("event_type") === "click")
      .join(s, "user_id").where(after("s_ms"))
      .groupBy(col("user_id")).agg(min(col("t_ms")).as("c_ms"))
    val p = ev.filter(col("event_type") === "purchase")
      .join(c, "user_id").where(after("c_ms"))
      .groupBy(col("user_id")).agg(min(col("t_ms")).as("p_ms"))
    s.join(c, Seq("user_id"), "left").join(p, Seq("user_id"), "left")
      .select(col("user_id"), col("s_ms"), col("c_ms"), col("p_ms"),
        (lit(1L) + when(col("c_ms").isNotNull, 1L).otherwise(0L)
          + when(col("p_ms").isNotNull, 1L).otherwise(0L)).as("stage"))
  }

  private val DayMs = 86400000L

  /** Cohort retention matrix: users bucketed by the epoch-day of their
    * FIRST event, counted per day they were active. Epoch-day integer
    * division keeps the bucketing engine-portable (no calendar/locale
    * semantics). Two user-keyed aggregates and one join — each shuffle
    * carries one row per (user) or (user, day).
    */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"),
        expr(s"CAST(unix_millis(ts) DIV $DayMs AS BIGINT)").as("day"))
    val first = ev.groupBy(col("user_id")).agg(min(col("day")).as("cohort_day"))
    ev.distinct()
      .join(first, "user_id")
      .groupBy(col("cohort_day"), col("day").as("active_day"))
      .agg(count(lit(1)).as("n_users"))
  }

  /** CUBE(event_type, dow): all four grouping sets — per-(type, weekday),
    * per-type, per-weekday, and grand total — in one partial+final
    * aggregate (completes the grouping-sets family next to
    * [[rollupDaily]]; the weekday dimension keeps the cube small at any
    * corpus scale).
    */
  def cubeWeekday(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      // integer 1=Sunday..7=Saturday — day NAMES (date_format "EEEE")
      // depend on the JVM default locale, which the driver host may not
      // share; the number is locale-proof in both engines
      .select(col("event_type"), dayofweek(col("ts")).cast("long").as("dow"),
        col("value").cast("decimal(12,2)").as("v"))
      .cube(col("event_type"), col("dow"))
      .agg(
        (grouping(col("event_type")) * 2 + grouping(col("dow")))
          .cast("long").as("lvl"),
        count(lit(1)).as("n"),
        sum(col("v")).cast("double").as("sum_value"))
      .select(col("event_type"), col("dow"), col("lvl"), col("n"), col("sum_value"))

  /** Per-event z-score against its type's value distribution — the
    * moment-based anomaly scorer (and the variance/stddev aggregate
    * family, absent from the reference). Exactness protocol: n, Σv, Σv²
    * accumulate as exact DECIMAL (v is a 2-dp value, so v² is exact at
    * 4 dp), then mean/var/z are computed in double from those exact
    * inputs with literally mirrored expression shapes — IEEE ops on
    * identical inputs give identical doubles in both engines. One
    * aggregate + one broadcast join back to the events.
    */
  def zscores(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        col("value").cast("decimal(12,2)").as("v"))
    val stats = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("v")).as("s"),
        sum((col("v") * col("v")).cast("decimal(38,4)")).as("ss"),
        min(col("v")).as("mn"), max(col("v")).as("mx"))
    val mean = col("s").cast("double") / col("n").cast("double")
    val variance = col("ss").cast("double") / col("n").cast("double") - mean * mean
    // ZERO-VARIANCE GUARD (the madZscores discipline): a constant-valued
    // type makes the z denominator 0, where the engines diverge (Spark's
    // non-ANSI 0/0 → NULL, DuckDB's IEEE → NaN); and fp cancellation can
    // leave `variance` a tiny NEGATIVE for a nearly-constant type, where
    // sqrt diverges (Spark NaN, DuckDB error). min≠max is the exact,
    // overflow-free positivity test; the double `variance > 0` conjunct
    // (identical fp both sides) covers the cancellation corner. Both
    // engines emit NULL z for such types, mirrored in the oracle.
    ev.join(broadcast(stats), "event_type")
      .select(col("event_id"), col("event_type"),
        when(col("mn") =!= col("mx") && variance > 0,
          round((col("v").cast("double") - mean) / sqrt(variance), 6)).as("z"))
  }

  /** Distinct-count aggregate: users per event type (the reference's only
    * dedup is `array_distinct` per line — no distinct aggregation exists).
    * Catalyst plans count(DISTINCT) as a two-phase expand/agg — shuffle
    * keys are (event_type, user_id) partials, never raw rows collected.
    */
  def distinctUsers(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n"))

  /** Rolling 7-day distinct active users per day — the DAU/WAU retention
    * surface. Exact, in the scalable shape: each (day, user) pair is
    * fanned out to the `window` report-days it contributes to (a fixed
    * 7× multiplier on the ALREADY-deduplicated day-user pairs, not raw
    * events), then one count-DISTINCT aggregate per report day — never a
    * per-day self-join over the history. Report days are restricted to
    * days that actually have events (inner join against the observed day
    * set), so the output has no trailing ghost days. At 100 TB the
    * drop-in is approx_count_distinct (HLL) over the same fan-out — same
    * plan shape, bounded sketch instead of the exact expand.
    */
  def activeUsers(spark: SparkSession, dir: String, window: Int = 7): DataFrame = {
    val du = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val days = du.select(col("day").as("rday")).distinct()
    du.select(col("day"), col("user_id"),
        explode(sequence(lit(0), lit(window - 1))).as("i"))
      .select(date_add(col("day"), col("i")).as("rday"), col("user_id"), col("i"))
      .join(broadcast(days), "rday")
      .groupBy(col("rday"))
      .agg(
        countDistinct(col("user_id")).as("n_active_7d"),
        countDistinct(when(col("i") === 0, col("user_id"))).as("n_active_1d"))
      .select(date_format(col("rday"), "yyyy-MM-dd").as("day"),
        col("n_active_7d"), col("n_active_1d"))
  }

  /** Per-user event-type crosstab through the DataFrame `pivot` surface.
    * The value list is EXPLICIT (the five fixture types) — at scale an
    * implicit pivot first runs a distinct scan to discover values and
    * caps at `spark.sql.pivotMaxValues`; declaring them keeps the plan a
    * single partial+final aggregate with one output column per type.
    */
  def typePivot(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(count(lit(1)))
      // fill ONLY the pivoted columns: a blanket fill(0) would also
      // rewrite a NULL user_id group to user 0, colliding with a real key
      .na.fill(0L, Seq("click", "error", "purchase", "signup", "view"))

  /** Robust (median/MAD) anomaly score per event — the outlier-resistant
    * twin of [[zscores]]: rz = 0.6745 · (v − median) / MAD, with MAD =
    * median(|v − median|). Median and MAD are 6-dp-rounded onto the
    * shared grid before any downstream arithmetic (exact interpolated
    * percentile agrees across engines only after rounding — the
    * ev_quantiles contract), so every per-row score is computed on
    * bit-identical doubles. Two per-type aggregates broadcast back;
    * per-row work is one projection. At 100 TB percentile_approx is the
    * documented drop-in, as for ev_quantiles.
    */
  def madZscores(spark: SparkSession, dir: String): DataFrame =
    madZscoresOn(Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value").cast("double").as("v")))

  /** Core over an explicit (event_id, event_type, v) frame — split out so
    * the MAD=0 NULL contract is unit-testable on a constant-valued type.
    */
  def madZscoresOn(ev: DataFrame): DataFrame = {
    val med = ev.groupBy(col("event_type"))
      .agg(round(percentile(col("v"), lit(0.5)), 6).as("med"))
    val mad = ev.join(broadcast(med), "event_type")
      .groupBy(col("event_type"))
      .agg(round(percentile(abs(col("v") - col("med")), lit(0.5)), 6).as("mad"),
        first(col("med")).as("med"))
    ev.join(broadcast(mad), "event_type")
      .select(col("event_id"), col("event_type"),
        // MAD=0 contract (a type whose majority value is one constant):
        // emit NULL, guarded in BOTH engines — unguarded, Spark's
        // non-ANSI x/0 is NULL while DuckDB's IEEE division is ±inf, so
        // the gate would diverge on any constant-heavy fixture type
        when(col("mad") =!= 0,
          round(lit(0.6745) * (col("v") - col("med")) / col("mad"), 6)).as("rz"))
  }

  /** Fixed-width value histogram per event type (bucket = floor(v/50)):
    * the distribution profile an ingest pipeline tracks. Both engines
    * evaluate the same IEEE division on the same doubles, so bucketing
    * is identical; one partial+final aggregate on (type, bucket).
    */
  def valueHistogram(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_type"),
        floor(col("value") / 50).cast("long").as("bucket"))
      .groupBy(col("event_type"), col("bucket"))
      .agg(count(lit(1)).as("n"))

  /** Exact interpolated quantiles of `value` per event type, 6-dp rounded
    * (the repo-wide fp-portability contract). `percentile` sorts each
    * group — fine at per-type cardinalities; at 100 TB the drop-in is
    * `percentile_approx` (bounded-memory sketch), spec-checked against
    * this exact form within tolerance in TemporalSpec.
    */
  def valueQuantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("event_type"))
      .agg(
        round(percentile(col("value"), lit(0.5)), 6).as("p50"),
        round(percentile(col("value"), lit(0.9)), 6).as("p90"),
        round(percentile(col("value"), lit(0.99)), 6).as("p99"))

  /** Quantile buckets per histogram: 512 unit-width buckets over the
    * fixture's [0, ~500] value range, top bucket clamping the tail (the
    * fixed-range tradeoff every histogram sketch makes; re-range for a
    * different corpus).
    */
  private val QBuckets = 512L

  // renamed from a valueHistogram OVERLOAD (review finding): the public
  // valueHistogram(spark, dir) buckets width-50 unclamped while this one
  // is unit-width clamped at 511 — same name, different semantics was a
  // silent mix-up trap
  private def unitHistogram(ev: DataFrame): DataFrame =
    ev.select(col("event_type"),
        least(floor(col("value")), lit(QBuckets - 1)).cast("long").as("b"))
      .groupBy(col("event_type"), col("b")).agg(count(lit(1)).as("n"))

  /** MERGEABLE quantiles across ingest runs — the composition that
    * completes the stored-sketch family (HLL union ev_hll_merged,
    * Count-Min sum ev_countmin_merged, bloom OR op_bloom_merged): each
    * "day" (epoch-day parity, the ev_countmin_merged split convention)
    * persists a fixed-range equi-width VALUE HISTOGRAM as its own
    * Parquet artifact; serve time merges them bucket-wise (histograms
    * are linear — merged-day cells ≡ whole-corpus cells exactly, the CM
    * linearity certificate) and answers p50/p90/p99 per event type by
    * rank walk: smallest bucket whose cumulative count reaches
    * ceil(q·n), reported at the bucket midpoint. Everything is integer
    * arithmetic over ≤ 512·|types| rows, so the oracle replays the
    * whole pipeline — split, merge, rank walk — and the row hash-gates
    * the sketch DECISIONS, not just a bound. State is O(buckets) per
    * run at any corpus size; the exact twin is ev_quantiles.
    */
  def quantilesMerged(spark: SparkSession, dir: String): DataFrame = {
    def dayHist(parity: Int) =
      graft.Caches.parquetArtifact(spark, dir, s"qhist_day_$parity")(
        unitHistogram(Tables.events(spark, dir)
          .where(pmod(datediff(to_date(col("ts")),
            lit(java.sql.Date.valueOf("1970-01-01"))), lit(2)) === parity)))
    val merged = dayHist(0).unionByName(dayHist(1))
      .groupBy(col("event_type"), col("b")).agg(sum(col("n")).as("n"))
    rankWalk(merged, Seq("event_type"),
      Seq(0.5 -> "p50_est", 0.9 -> "p90_est", 0.99 -> "p99_est"))
      .select(col("event_type"), col("n_total"),
        col("p50_est"), col("p90_est"), col("p99_est"))
  }

  /** The ONE histogram rank walk, shared by [[quantilesMerged]] and
    * [[windowedQuantiles]] (review finding: the tot/cum/est block was
    * duplicated with only the grouping keys differing — a boundary or
    * midpoint fix applied to one would silently skip the other). And it
    * is SINGLE-PASS now: cum and total both come from windows over the
    * same partitioning (one shuffle of the cells) and every quantile is
    * a conditional min in ONE aggregate — the previous shape re-joined
    // cells per quantile, re-evaluating the full cells aggregate ~5x.
    */
  private def rankWalk(cells: DataFrame, keys: Seq[String],
                       qs: Seq[(Double, String)]): DataFrame = {
    val wCum = Window.partitionBy(keys.map(col): _*).orderBy(col("b"))
    val wAll = Window.partitionBy(keys.map(col): _*)
    val c = cells
      .withColumn("cum", sum(col("n")).over(wCum))
      .withColumn("n_total", sum(col("n")).over(wAll))
    val ests = qs.map { case (q, name) =>
      (min(when(col("cum") >= ceil(lit(q) * col("n_total")), col("b")))
        .cast("double") + lit(0.5)).as(name)
    }
    c.groupBy(keys.map(col): _*)
      .agg(max(col("n_total")).as("n_total"), ests: _*)
  }

  /** WINDOWED histogram cells — the streaming half of the quantile
    * sketch (the st_countmin windowedCells pattern): per 1-hour window
    * and event type, the same fixed-range bucket counts
    * [[unitHistogram]] builds, watermark-evicted. State per window is
    * O(buckets·types) regardless of event volume — what makes per-hour
    * latency percentiles stream-legal at any scale; a streaming query
    * cannot chain a second aggregation in append mode, so the rank walk
    * runs downstream over the EMITTED cells (exactly how the CM point
    * queries serve from emitted sketch cells). Counts are associative,
    * so the identical plan runs batch (the gate/oracle) and as an
    * AvailableNow stream (StreamingSpec: stream ≡ batch exactly).
    */
  def windowedHistogram(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .select(window(col("ts"), "1 hour").as("w"), col("event_type"),
        least(floor(col("value")), lit(QBuckets - 1)).cast("long").as("b"))
      .groupBy(col("w"), col("event_type"), col("b"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("w.start"), "yyyy-MM-dd HH:mm:ss").as("window_start"),
        col("event_type"), col("b"), col("n"))

  /** Per-hour p50/p90 from the windowed histogram cells — the
    * observability query ("latency percentiles per hour per type") as
    * the downstream rank walk over [[windowedHistogram]]'s output, per
    * (window, type). Bounded arithmetic end to end: ≤ 512 cells per
    * group, integer cum-sums, midpoints — the oracle replays cells and
    * walk both.
    */
  def windowedQuantiles(spark: SparkSession, dir: String): DataFrame =
    rankWalk(windowedHistogram(Tables.events(spark, dir)),
      Seq("window_start", "event_type"),
      Seq(0.5 -> "p50_est", 0.9 -> "p90_est"))
      .select(col("window_start"), col("event_type"), col("n_total"),
        col("p50_est"), col("p90_est"))

  /** The documented 100 TB approx drop-ins EXERCISED THROUGH THE ORACLE
    * GATE, not only in specs: per event type, the exact distinct-user
    * count and exact median ride alongside booleans asserting the sketch
    * versions landed inside their error bounds —
    *  - `hll_ok`: approx_count_distinct (HLL++, rsd 0.02) within
    *    max(5, 10%) of the exact count (5× the configured rsd — the HLL
    *    guarantee is ~3σ at 6%, so the margin is conservative, while a
    *    broken sketch, wrong column, or bad merge still trips it);
    *  - `p50_ok`: percentile_approx (positional sketch, accuracy 10⁴ ⇒
    *    rank error ≤ 10⁻⁴) between the exact 0.495 and 0.505 quantiles —
    *    a 50× rank-error margin that any rank-correct sketch satisfies
    *    and any off-by-a-percentile bug does not.
    * The DuckDB replay computes the exact columns and pins both booleans
    * TRUE, so the hash gate fails iff a sketch leaves its bound. Exact
    * twins: ev_distinct_users / ev_quantiles. Tight-tolerance relative
    * error is additionally measured in TemporalSpec.
    */
  def approxBounds(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"), col("value"))
    // TWO aggregates joined on the 5-row key, NOT one: countDistinct next
    // to the percentile family forces the distinct-Expand plan, which
    // pushes every expanded row through the percentiles' sort-based
    // buffers — measured 7.1 s vs ~1 s split (each branch keeps its
    // natural plan: hash-agg for the distincts, object-hash for the
    // percentile buffers)
    val quant = ev.groupBy(col("event_type")).agg(
      round(percentile(col("value"), lit(0.5)), 6).as("p50"),
      percentile_approx(col("value"), lit(0.5), lit(10000)).as("pa50"),
      percentile(col("value"), lit(0.495)).as("lo50"),
      percentile(col("value"), lit(0.505)).as("hi50"),
      // the tail is where positional sketches actually get stressed:
      // same contract at rank 0.99 ± 0.005 (still 50× the sketch's
      // guaranteed rank error)
      round(percentile(col("value"), lit(0.99)), 6).as("p99"),
      percentile_approx(col("value"), lit(0.99), lit(10000)).as("pa99"),
      percentile(col("value"), lit(0.985)).as("lo99"),
      percentile(col("value"), lit(0.995)).as("hi99"))
    val dist = ev.groupBy(col("event_type")).agg(
      countDistinct(col("user_id")).as("n_users"),
      approx_count_distinct(col("user_id"), 0.02).as("hll"))
    dist.join(quant, "event_type")
      .select(col("event_type"), col("n_users"),
        (abs(col("hll") - col("n_users")).cast("double") <=
          greatest(lit(5.0), col("n_users").cast("double") * 0.10)).as("hll_ok"),
        col("p50"),
        (col("pa50") >= col("lo50") && col("pa50") <= col("hi50")).as("p50_ok"),
        col("p99"),
        (col("pa99") >= col("lo99") && col("pa99") <= col("hi99")).as("p99_ok"))
  }

  /** HLL SKETCH MERGE ACROSS STORED RUNS — the one mergeable-sketch
    * property not otherwise exercised through storage: a Datasketches
    * HLL binary per epoch-day parity of the event stream (one per
    * "ingest run", the CountMin.mergedEstimates split), each persisted
    * as a Parquet artifact, reopened, `hll_union_agg`-merged, and the
    * union's estimate checked against the exact full-corpus distinct
    * count. Register max-merge over a disjoint split covers the whole
    * stream, so the merged estimate must land inside the single-sketch
    * error bound. Gated the ev_approx_bounds way: exact value + the
    * bound boolean pinned TRUE (a Datasketches binary's estimate is not
    * oracle-replayable); artifact existence and the merge identity
    * (merged estimate == whole-stream sketch estimate) asserted in
    * spec.
    */
  def hllMerged(spark: SparkSession, dir: String): DataFrame = {
    def daySketch(par: Int): DataFrame =
      graft.Caches.parquetArtifact(spark, dir, s"hll_day_$par")(
        Tables.events(spark, dir)
          .where(pmod(datediff(to_date(col("ts")),
            lit(java.sql.Date.valueOf("1970-01-01"))), lit(2)) === par)
          .agg(hll_sketch_agg(col("user_id"), 12).as("sk")))
    val est = daySketch(0).unionByName(daySketch(1))
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("est"))
    val exact = Tables.events(spark, dir)
      .agg(countDistinct(col("user_id")).as("n_users"))
    exact.crossJoin(broadcast(est))
      .select(col("n_users"),
        (abs(col("est") - col("n_users")).cast("double") <=
          greatest(lit(5.0), col("n_users").cast("double") * 0.10)).as("hll_ok"))
  }

  /** Higher-moment profile per event type — mean, stddev, skewness,
    * excess kurtosis — from exact DECIMAL power sums (Σv, Σv², Σv³, Σv⁴
    * over the 2-dp value grid), the mergeable-moments form a distributed
    * profiler ships instead of Welford chains: power sums are plain
    * associative aggregates (partial-agg/shuffle-order free, unlike
    * fp-Welford merges, which are order-sensitive), and every derived
    * statistic divides the same exact integers in both engines. Each
    * power is cast to its own exact width. WIDTH-SAFE DOMAIN: |v| < 10⁵
    * — then v⁴ < 10²⁰ (20 integer digits) and the per-group SUM keeps
    * 10 digits of row-count headroom inside DECIMAL(38,8)'s 30. The
    * domain is ENFORCED with a raise_error guard, because the two
    * engines fail differently outside it: DuckDB raises on decimal
    * overflow while non-ANSI Spark silently NULLs — a corpus with
    * larger values must fail loudly in both, never silently diverge
    * from the oracle. (A chained 4-factor product would additionally
    * trip Spark's precision-loss scale reduction, hence the per-power
    * casts.)
    */
  def moments(spark: SparkSession, dir: String): DataFrame = {
    val powered = Tables.events(spark, dir)
      .select(col("event_type"), col("value").cast("decimal(12,2)").as("v"))
      .select(col("event_type"),
        when(abs(col("v")) < lit(100000), col("v"))
          .otherwise(raise_error(concat(
            lit("ev_moments: |value| >= 1e5 exceeds the DECIMAL(38,8) v^4 envelope: "),
            col("v").cast("string")))).as("v"))
      // v2 at DECIMAL(18,4), NOT (20,4): v² < 10¹⁰ needs only 14
      // digits, and 18 is the widest operand for which v2·v2 stays
      // inside BOTH engines' 38-digit multiply — at (20,4) Spark's
      // precision-loss rule HALF_UP-rounded v⁴ to 6 dp while DuckDB's
      // width-40 multiply fell back to DOUBLE, two different inexact
      // values (they happened to agree after the final 6-dp round on
      // the fixture; the exactness claim was false)
      .select(col("event_type"), col("v"),
        (col("v") * col("v")).cast("decimal(18,4)").as("v2"))
      .select(col("event_type"), col("v"), col("v2"),
        (col("v2") * col("v")).cast("decimal(28,6)").as("v3"),
        // one operand widened to (19,4): DuckDB's INT64-backed
        // DECIMAL(18) multiply raises on overflow instead of promoting;
        // a width-19 operand forces the INT128 path in DuckDB while
        // Spark types the product (38,8) exactly — no precision loss
        (col("v2").cast("decimal(19,4)") * col("v2")).cast("decimal(38,8)").as("v4"))
    val agg = powered.groupBy(col("event_type")).agg(
      count(lit(1)).as("n"),
      sum(col("v")).as("s1"), sum(col("v2")).as("s2"),
      sum(col("v3")).as("s3"), sum(col("v4")).as("s4"),
      min(col("v")).as("mn"), max(col("v")).as("mx"))
    val nD = col("n").cast("double")
    val mean = col("s1").cast("double") / nD
    val m2 = col("s2").cast("double") / nD - mean * mean
    val m3 = col("s3").cast("double") / nD - lit(3.0) * mean * (col("s2").cast("double") / nD) +
      lit(2.0) * mean * mean * mean
    val m4 = col("s4").cast("double") / nD - lit(4.0) * mean * (col("s3").cast("double") / nD) +
      lit(6.0) * mean * mean * (col("s2").cast("double") / nD) -
      lit(3.0) * mean * mean * mean * mean
    // constant-type guard (the zscores discipline): m2 = 0 makes
    // skew/kurt 0/0 — NULL in non-ANSI Spark, NaN in DuckDB — so both
    // engines emit NULL explicitly; stddev of a constant type is a true
    // 0. min≠max is the exact test, the double m2 > 0 conjunct covers
    // fp cancellation on a near-constant type.
    val varPos = col("mn") =!= col("mx") && m2 > 0
    agg.select(col("event_type"), col("n"),
      round(mean, 6).as("mean"),
      when(varPos, round(sqrt(m2), 6)).otherwise(lit(0.0)).as("stddev"),
      when(varPos, round(m3 / pow(m2, 1.5), 6)).as("skewness"),
      when(varPos, round(m4 / (m2 * m2) - lit(3.0), 6)).as("kurtosis_excess"))
  }

  /** Exponentially time-decayed per-user activity score — the standard
    * recency-weighted feature (recommendation/engagement pipelines keep
    * one per user): score(u) = Σ_events value·2^(−⌊age/7d⌋), i.e. an
    * event loses half its weight per week of age, measured against the
    * corpus horizon (max event day, a 1-row broadcast).
    *
    * fp-portability: the decay weight is division by an INTEGER power of
    * two (`1 << weeks`, clamped at 2^62) — exact IEEE scaling with zero
    * libm involvement, so unlike a pow()/exp() decay the weights are
    * bit-identical in any engine; each term is then 6-dp rounded into
    * the exact order-free decimal sum (the repo contract). Week
    * granularity is the price of exactness — a pipeline wanting smooth
    * daily decay accepts libm pow and a looser gate.
    *
    * Shape: one narrow pass + one user-keyed aggregate; partial
    * aggregation combines map-side. Nothing global but the 1-row max.
    */
  def decayScore(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"), col("value"))
    val h = ev.agg(max(col("day")).as("h_day"))
    ev.crossJoin(broadcast(h))
      .withColumn("wk", least(expr("datediff(h_day, day) DIV 7"), lit(62L)))
      .withColumn("term",
        round(col("value") / expr("CAST(shiftleft(CAST(1 AS BIGINT), CAST(wk AS INT)) AS DOUBLE)"), 6)
          .cast("decimal(18,6)"))
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("term")).cast("double").as("decay_score"))
  }

  /** Per-user event-type transition matrix (first-order Markov
    * estimate) — the sequence-mining primitive next to the funnel: how
    * often does type A immediately precede type B within a user's
    * stream, and with what conditional probability. One lead() over the
    * per-user window (partition-local, same shuffle as [[userDeltas]]),
    * then a #types² aggregate; the per-from totals come from a second
    * tiny aggregate joined back (broadcast at any scale — the matrix is
    * bounded by the type vocabulary, never the event count). cnt/total
    * divides exact integers, so the probability doubles match the
    * oracle bit-for-bit.
    */
  def transitions(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("t_ms"), col("event_id"))
    val cnts = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"), ms("ts").as("t_ms"))
      .withColumn("to_type", lead(col("event_type"), 1).over(byUser))
      .where(col("to_type").isNotNull)
      .groupBy(col("event_type").as("from_type"), col("to_type"))
      .agg(count(lit(1)).as("cnt"))
    val totals = cnts.groupBy(col("from_type")).agg(sum(col("cnt")).as("total"))
    cnts.join(broadcast(totals), "from_type")
      .select(col("from_type"), col("to_type"), col("cnt"),
        round(col("cnt").cast("double") / col("total").cast("double"), 6).as("prob"))
  }

  /** Per-event running totals: cumulative value sum and event ordinal
    * within each user's stream — the unbounded-preceding running-
    * aggregate window form (completes the W-surface next to lag/lead
    * deltas and the partitioned top-k). The cumulative sum runs in
    * DECIMAL so every prefix is exact — a double running sum would
    * disagree with the oracle on late digits wherever the prefix order
    * crossed a partial. Partitioned by user_id: per-group state, never a
    * global sort.
    */
  def runningTotals(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy(col("user_id")).orderBy(col("t_ms"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), ms("ts").as("t_ms"),
        col("value").cast("decimal(12,2)").as("v"))
      .select(col("event_id"), col("user_id"),
        count(lit(1)).over(byUser).as("event_ordinal"),
        sum(col("v")).over(byUser).cast("double").as("running_value"))
  }

  /** Seasonal anomaly detection on event volume: per (event_type,
    * hour-of-day) cell, the baseline mean/std of the DAILY count across
    * observed days, and each day's z-score against its cell baseline —
    * the time-of-day-profile monitor a pipeline runs over ingest volume
    * (the global [[zscores]] can't see a 3 A.M. spike that is normal at
    * 3 P.M.). Counts are exact integers, so the variance positivity test
    * runs on INTEGERS (n·Σc² > (Σc)² — exact in both engines, no
    * float-sign flake on constant cells); the z formula itself is one
    * fixed double expression. Baseline is over observed (nonzero) days,
    * documented: absent cells are absent in both engines.
    */
  def seasonalAnomaly(spark: SparkSession, dir: String, flagZ: Double = 2.0): DataFrame = {
    val cells = Tables.events(spark, dir)
      .groupBy(col("event_type"),
        date_format(col("ts"), "yyyy-MM-dd").as("day"),
        hour(col("ts")).cast("long").as("hr"))
      .agg(count(lit(1)).as("cnt"))
    // variance positivity via min≠max on the daily counts, NOT the
    // integer product n·Σc² > (Σc)² — the product overflows BIGINT once
    // a cell family's total count reaches ~3e9, where non-ANSI Spark
    // silently wraps (guard flips) while DuckDB raises: the engines
    // would fail DIFFERENTLY, the exact failure mode the moments
    // envelope exists to prevent. min≠max is the same exact test at any
    // scale; the double `var > 0` conjunct covers fp cancellation (and
    // keeps sqrt's argument positive in both engines). Σc² itself sums
    // per-cell squares into DECIMAL so a huge single cell can't wrap.
    val base = cells.groupBy(col("event_type"), col("hr"))
      .agg(count(lit(1)).as("n_days"), sum(col("cnt")).as("s"),
        sum((col("cnt").cast("decimal(19,0)") * col("cnt"))
          .cast("decimal(38,0)")).as("ss"),
        min(col("cnt")).as("mn"), max(col("cnt")).as("mx"))
    cells.join(broadcast(base), Seq("event_type", "hr"))
      .select(col("event_type"), col("day"), col("hr"), col("cnt"),
        expr("""CASE WHEN mn <> mx AND
                     CAST(ss AS DOUBLE) / CAST(n_days AS DOUBLE)
                       - (CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE))
                         * (CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE)) > 0 THEN
                  round((CAST(cnt AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE))
                        / sqrt(CAST(ss AS DOUBLE) / CAST(n_days AS DOUBLE)
                               - (CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE))
                                 * (CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE))), 6)
                END""").as("z"))
      .withColumn("anomaly", coalesce(abs(col("z")) > flagZ, lit(false)))
  }

  /** Time-BOUNDED funnel: each stage counts only if it happens within
    * [[FunnelWindowMs]] of the previous stage's earliest qualifying
    * event — the conversion-attribution semantics real funnels use (an
    * unbounded funnel credits a purchase years after the click). Same
    * chained-grouped-mins shape as [[funnel]] with the window predicate
    * added to each stage join; rows are per-user with the stage reached
    * UNDER the window, so the two funnels' stage distributions are
    * directly comparable.
    */
  val FunnelWindowMs: Long = 7L * 24 * 3600 * 1000

  def funnelWindowed(spark: SparkSession, dir: String): DataFrame =
    funnelWithin(spark, dir, Some(FunnelWindowMs))

  /** Set-intersection cardinality from HLL sketches by inclusion-
    * exclusion: |A∩B| ≈ est(A) + est(B) − est(A∪B) — the audience-overlap
    * question ("how many users both click AND purchase") answered from
    * three mergeable sketches without a join, the way two TB-sized user
    * sets are intersected in practice. Exact overlap (one semi-join-
    * shaped aggregate) runs next to it; the estimate's error compounds
    * across three sketches, so the pinned bound is the sum of the three
    * per-sketch bounds (3 × max(5, 10%) — generous, and the point: the
    * oracle pins the BOOLEAN, the exact numbers gate the rest, the
    * ev_approx_bounds protocol).
    */
  def hllIntersection(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    def users(t: String) = ev.where(col("event_type") === t).select(col("user_id"))
    val a = users("click"); val b = users("purchase")
    val est = a.agg(hll_sketch_agg(col("user_id"), 12).as("ska"))
      .crossJoin(b.agg(hll_sketch_agg(col("user_id"), 12).as("skb")))
      .crossJoin(a.unionByName(b)
        .agg(hll_sketch_agg(col("user_id"), 12).as("sku")))
      .select((hll_sketch_estimate(col("ska")) + hll_sketch_estimate(col("skb"))
        - hll_sketch_estimate(col("sku"))).as("est_both"))
    val exact = a.distinct().join(b.distinct(), Seq("user_id"), "left_semi")
      .agg(count(lit(1)).as("n_both"))
      .crossJoin(a.agg(countDistinct(col("user_id")).as("n_a")))
      .crossJoin(b.agg(countDistinct(col("user_id")).as("n_b")))
    // the documented bound IS the sum of the three per-sketch bounds —
    // max(5, 10%·|X|) each for A, B, and A∪B (union cardinality from
    // inclusion-exclusion on the exact counts); the earlier
    // 3·max(5, 10%·max(|A|,|B|)) shorthand under-allowed the union term
    // for near-disjoint sets, so a within-spec estimate could trip the
    // pinned TRUE spuriously
    val unionN = (col("n_a") + col("n_b") - col("n_both")).cast("double")
    exact.crossJoin(broadcast(est))
      .select(col("n_a"), col("n_b"), col("n_both"),
        (abs(col("est_both") - col("n_both").cast("double")) <=
          greatest(lit(5.0), col("n_a").cast("double") * 0.10) +
          greatest(lit(5.0), col("n_b").cast("double") * 0.10) +
          greatest(lit(5.0), unionN * 0.10)).as("hll_ok"))
  }

  /** Exponential smoothing of daily volume per event type (EWMA,
    * α = 1/2) — the time-series baseline next to [[seasonalAnomaly]]'s
    * profile z-scores. α = 1/2 is chosen for exactness, not laziness:
    * the recurrence s_t = (x_t + s_{t−1})/2 with s_1 = x_1 has the
    * CLOSED FORM s_t = Σ_{j≥2} x_j/2^{t−j+1} + x_1/2^{t−1}, every weight
    * an exact power of two — so each term is an exact IEEE double
    * (integer count ≤ 2^14 scaled by 2^−k) and the ≤ 53-bit sum is exact
    * in ANY order: the sequential fold becomes one windowed weighted
    * sum, embarrassingly parallel and bit-identical cross-engine without
    * the decimal-grid machinery. The self-join is (days per type)² —
    * calendar-bounded, never event-bounded — and TRUNCATED at 40 lags:
    * the exactness argument needs weight·count to stay within the 53-bit
    * mantissa, which holds unconditionally for t−j ≤ 40 (2^−41 × 2^14
    * count bits < 2^−27, and the dropped tail Σ_{lag>40} x_j/2^lag <
    * 2^14·2^−40 < 10⁻⁷ sits strictly below the 6-dp rounding grid), so
    * the claim no longer silently expires after ~39 distinct days per
    * type. Both engines truncate identically, so the gate compares the
    * same truncated sum.
    */
  def ewma(spark: SparkSession, dir: String): DataFrame =
    ewmaEvents(Tables.events(spark, dir))

  /** [[ewma]] over any events-shaped frame (event_type, ts, …) — split
    * out so the spec can drive a >41-day-per-type series through the
    * truncated closed form (the fixture calendar is 30 days, so the
    * t−40 cutoff never fires at the gate) and pin it against the
    * sequential recurrence.
    */
  private[graft] def ewmaEvents(ev: DataFrame): DataFrame = {
    val daily = ev
      .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("t", row_number().over(
        Window.partitionBy(col("event_type")).orderBy(col("day"))).cast("long"))
    daily.select(col("event_type"), col("day"), col("cnt"), col("t"))
      .join(daily.select(col("event_type"), col("cnt").as("xj"), col("t").as("j")),
        Seq("event_type"))
      .where(col("j") <= col("t") && col("j") >= col("t") - 40L)
      .groupBy(col("event_type"), col("day"), col("t"), col("cnt"))
      .agg(round(sum(col("xj").cast("double") *
        pow(lit(0.5), col("t") - col("j") +
          when(col("j") === 1, 0L).otherwise(1L))), 6).as("ewma"))
      .select(col("event_type"), col("day"), col("cnt"), col("ewma"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ev_moments"        -> ((s, d) => moments(s, d)),
    "ev_transitions"    -> ((s, d) => transitions(s, d)),
    "ev_running_total"  -> ((s, d) => runningTotals(s, d)),
    "ev_seasonal_anomaly" -> ((s, d) => seasonalAnomaly(s, d)),
    "ev_funnel_windowed"  -> ((s, d) => funnelWindowed(s, d)),
    "ev_hll_intersection" -> ((s, d) => hllIntersection(s, d)),
    "ev_ewma"             -> ((s, d) => ewma(s, d)),
    "ev_decay_score"    -> ((s, d) => decayScore(s, d)),
    "ev_user_deltas"    -> ((s, d) => userDeltas(s, d)),
    "ev_asof_join"      -> ((s, d) => asofJoin(s, d)),
    "ev_range_join"     -> ((s, d) => rangeJoin(s, d)),
    "ev_rollup_daily"   -> ((s, d) => rollupDaily(s, d)),
    "ev_cube_weekday"   -> ((s, d) => cubeWeekday(s, d)),
    "ev_funnel"         -> ((s, d) => funnel(s, d)),
    "ev_cohort"         -> ((s, d) => cohortRetention(s, d)),
    "ev_distinct_users" -> ((s, d) => distinctUsers(s, d)),
    "ev_active_users"   -> ((s, d) => activeUsers(s, d)),
    "ev_mad_zscore"     -> ((s, d) => madZscores(s, d)),
    "ev_zscore"         -> ((s, d) => zscores(s, d)),
    "ev_histogram"      -> ((s, d) => valueHistogram(s, d)),
    "ev_type_pivot"     -> ((s, d) => typePivot(s, d)),
    "ev_quantiles"      -> ((s, d) => valueQuantiles(s, d)),
    "ev_quantiles_merged" -> ((s, d) => quantilesMerged(s, d)),
    "st_windowed_quantiles" -> ((s, d) => windowedQuantiles(s, d)),
    "ev_approx_bounds"  -> ((s, d) => approxBounds(s, d)),
    // per-day persisted HLL binaries, reopened + union-merged; exact
    // distinct + pinned bound boolean (see hllMerged)
    "ev_hll_merged"     -> ((s, d) => hllMerged(s, d)),
  )

  // DuckDB oracles. epoch_ms(CAST(ts AS TIMESTAMP)) floors ns → ms exactly
  // like Spark's unix_millis on the micros-rebuilt column (verified: the
  // fixture has no sub-microsecond components and no duplicate
  // (user_id, ms) pairs, so ordering is identical too).
  /** DuckDB twin of [[funnelWithin]]. */
  private def funnelSql(bound: Option[Long]): String = {
    def within(prev: String) = bound.fold("")(w => s" AND t_ms <= $prev + $w")
    s"""WITH e AS (SELECT user_id, event_type,
             epoch_ms(CAST(ts AS TIMESTAMP)) AS t_ms FROM events),
       s AS (SELECT user_id, min(t_ms) AS s_ms FROM e
             WHERE event_type = 'signup' GROUP BY user_id),
       c AS (SELECT e.user_id, min(t_ms) AS c_ms
             FROM e JOIN s USING (user_id)
             WHERE event_type = 'click' AND t_ms >= s_ms${within("s_ms")}
             GROUP BY e.user_id),
       p AS (SELECT e.user_id, min(t_ms) AS p_ms
             FROM e JOIN c USING (user_id)
             WHERE event_type = 'purchase' AND t_ms >= c_ms${within("c_ms")}
             GROUP BY e.user_id)
       SELECT s.user_id, s_ms, c_ms, p_ms,
         CAST(1 + (CASE WHEN c_ms IS NOT NULL THEN 1 ELSE 0 END)
                + (CASE WHEN p_ms IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS stage
       FROM s LEFT JOIN c USING (user_id) LEFT JOIN p USING (user_id)"""
  }

  val oracles: Map[String, String] = Map(
    // identical power-sum widths and double expression order — both
    // engines derive every statistic from the same exact integers
    "ev_moments" ->
      """WITH p AS (
           SELECT event_type, v,
                  CAST(v * v AS DECIMAL(18,4)) AS v2
           FROM (SELECT event_type, CAST(value AS DECIMAL(12,2)) AS v FROM events)),
         p2 AS (
           SELECT event_type, v, v2,
                  CAST(v2 * v AS DECIMAL(28,6)) AS v3,
                  CAST(CAST(v2 AS DECIMAL(19,4)) * v2 AS DECIMAL(38,8)) AS v4
           FROM p),
         ag AS (
           SELECT event_type, CAST(count(*) AS BIGINT) AS n,
                  sum(v) AS s1, sum(v2) AS s2, sum(v3) AS s3, sum(v4) AS s4,
                  min(v) AS mn, max(v) AS mx
           FROM p2 GROUP BY event_type)
         SELECT event_type, n,
                round(mean, 6) AS mean,
                CASE WHEN mn <> mx AND m2 > 0
                     THEN round(sqrt(m2), 6) ELSE 0.0 END AS stddev,
                CASE WHEN mn <> mx AND m2 > 0
                     THEN round(m3 / pow(m2, 1.5), 6) END AS skewness,
                CASE WHEN mn <> mx AND m2 > 0
                     THEN round(m4 / (m2 * m2) - 3.0, 6) END AS kurtosis_excess
         FROM (
           SELECT event_type, n, mean, mn, mx,
                  CAST(s2 AS DOUBLE) / nd - mean * mean AS m2,
                  CAST(s3 AS DOUBLE) / nd - 3.0 * mean * (CAST(s2 AS DOUBLE) / nd)
                    + 2.0 * mean * mean * mean AS m3,
                  CAST(s4 AS DOUBLE) / nd - 4.0 * mean * (CAST(s3 AS DOUBLE) / nd)
                    + 6.0 * mean * mean * (CAST(s2 AS DOUBLE) / nd)
                    - 3.0 * mean * mean * mean * mean AS m4
           FROM (SELECT event_type, n, CAST(n AS DOUBLE) AS nd,
                        CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE) AS mean,
                        s2, s3, s4, mn, mx
                 FROM ag))""",
    "ev_seasonal_anomaly" ->
      """WITH cells AS (
           SELECT event_type, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
             CAST(hour(CAST(ts AS TIMESTAMP)) AS BIGINT) AS hr, count(*) AS cnt
           FROM events GROUP BY 1, 2, 3),
         base AS (
           SELECT event_type, hr, count(*) AS n_days,
             CAST(sum(cnt) AS BIGINT) AS s,
             sum(CAST(cnt AS DECIMAL(19,0)) * CAST(cnt AS DECIMAL(19,0))) AS ss,
             min(cnt) AS mn, max(cnt) AS mx
           FROM cells GROUP BY event_type, hr),
         zt AS (
           SELECT event_type, day, hr, cnt, mn, mx,
             CAST(ss AS DOUBLE) / CAST(n_days AS DOUBLE)
               - (CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE))
                 * (CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE)) AS var,
             CAST(cnt AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n_days AS DOUBLE) AS dev
           FROM cells JOIN base USING (event_type, hr))
         SELECT event_type, day, hr, cnt,
           CASE WHEN mn <> mx AND var > 0
                THEN round(dev / sqrt(var), 6) END AS z,
           coalesce(abs(CASE WHEN mn <> mx AND var > 0
                             THEN round(dev / sqrt(var), 6) END) > 2.0,
                    false) AS anomaly
         FROM zt""",
    "ev_running_total" ->
      """WITH e AS (SELECT event_id, user_id,
               epoch_ms(CAST(ts AS TIMESTAMP)) AS t_ms,
               CAST(value AS DECIMAL(12,2)) AS v
             FROM events)
         SELECT event_id, user_id,
           count(*) OVER w AS event_ordinal,
           CAST(sum(v) OVER w AS DOUBLE) AS running_value
         FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t_ms, event_id
                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)""",
    "ev_transitions" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
               epoch_ms(CAST(ts AS TIMESTAMP)) AS t_ms
             FROM events),
         p AS (SELECT event_type AS from_type,
                 lead(event_type) OVER (PARTITION BY user_id
                                        ORDER BY t_ms, event_id) AS to_type
               FROM e),
         c AS (SELECT from_type, to_type, count(*) AS cnt
               FROM p WHERE to_type IS NOT NULL GROUP BY from_type, to_type),
         t AS (SELECT from_type, CAST(sum(cnt) AS BIGINT) AS total
               FROM c GROUP BY from_type)
         SELECT from_type, to_type, cnt,
           round(CAST(cnt AS DOUBLE) / CAST(total AS DOUBLE), 6) AS prob
         FROM c JOIN t USING (from_type)""",
    "ev_user_deltas" ->
      """WITH e AS (SELECT event_id, user_id, event_type,
               epoch_ms(CAST(ts AS TIMESTAMP)) AS t_ms,
               CAST(value AS DECIMAL(12,2)) AS v
             FROM events)
         SELECT event_id, user_id, event_type,
           t_ms - lag(t_ms) OVER w AS gap_ms,
           CAST(v - lag(v) OVER w AS DOUBLE) AS value_delta
         FROM e WINDOW w AS (PARTITION BY user_id ORDER BY t_ms, event_id)""",
    "ev_asof_join" ->
      """WITH u AS (
           SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS t_ms, event_id, 0 AS side
           FROM events WHERE event_type = 'click'
           UNION ALL
           SELECT user_id, epoch_ms(CAST(ts AS TIMESTAMP)) AS t_ms, event_id, 1 AS side
           FROM events WHERE event_type = 'purchase'),
         m AS (
           SELECT user_id, t_ms, event_id, side,
             last_value(CASE WHEN side = 0 THEN event_id END IGNORE NULLS) OVER w AS click_id,
             last_value(CASE WHEN side = 0 THEN t_ms END IGNORE NULLS) OVER w AS click_ms
           FROM u WINDOW w AS (PARTITION BY user_id ORDER BY t_ms, side, event_id
                               ROWS UNBOUNDED PRECEDING))
         SELECT event_id AS purchase_id, user_id, click_id,
           t_ms - click_ms AS ms_since_click
         FROM m WHERE side = 1""",
    "ev_range_join" ->
      """WITH e AS (SELECT event_id, event_type,
               epoch_ms(CAST(ts AS TIMESTAMP)) AS t_ms,
               CAST(value AS DECIMAL(12,2)) AS v
             FROM events),
         i AS (SELECT event_id AS incident_id, t_ms AS start_ms
               FROM e WHERE event_type = 'error')
         SELECT i.incident_id,
           count(e.event_id) AS n_events,
           CAST(coalesce(sum(e.v), 0) AS DOUBLE) AS sum_value
         FROM i LEFT JOIN e
           ON e.t_ms > i.start_ms AND e.t_ms < i.start_ms + 3600000
         GROUP BY i.incident_id""",
    "ev_decay_score" ->
      """WITH e AS (SELECT user_id,
                      CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, value
                    FROM events),
          h AS (SELECT max(day) AS h_day FROM e)
          SELECT user_id, count(*) AS n_events,
                 CAST(sum(CAST(round(value /
                     CAST((CAST(1 AS BIGINT) << CAST(least(
                       date_diff('day', day, h_day) // 7, 62) AS INTEGER)) AS DOUBLE),
                   6) AS DECIMAL(18,6))) AS DOUBLE) AS decay_score
          FROM e CROSS JOIN h
          GROUP BY user_id""",
    "ev_rollup_daily" ->
      """SELECT event_type, day,
           CAST(GROUPING(event_type) * 2 + GROUPING(day) AS BIGINT) AS lvl,
           count(*) AS n,
           CAST(sum(v) AS DOUBLE) AS sum_value
         FROM (SELECT event_type,
                 strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
                 CAST(value AS DECIMAL(12,2)) AS v
               FROM events)
         GROUP BY ROLLUP(event_type, day)""",
    "ev_funnel" -> funnelSql(None),
    "ev_ewma" ->
      """WITH daily AS (
           SELECT event_type, strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
                  count(*) AS cnt
           FROM events GROUP BY 1, 2),
         idx AS (SELECT event_type, day, cnt,
                   CAST(row_number() OVER (PARTITION BY event_type ORDER BY day)
                        AS BIGINT) AS t
                 FROM daily)
         SELECT a.event_type, a.day, a.cnt,
           round(sum(CAST(b.cnt AS DOUBLE) *
             power(0.5, a.t - b.t + CASE WHEN b.t = 1 THEN 0 ELSE 1 END)), 6) AS ewma
         FROM idx a JOIN idx b
           ON a.event_type = b.event_type AND b.t <= a.t AND b.t >= a.t - 40
         GROUP BY a.event_type, a.day, a.cnt""",
    "ev_hll_intersection" ->
      """WITH a AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'click'),
            b AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase')
         SELECT (SELECT count(*) FROM a) AS n_a,
                (SELECT count(*) FROM b) AS n_b,
                (SELECT count(*) FROM a WHERE user_id IN (SELECT user_id FROM b)) AS n_both,
                true AS hll_ok""",
    "ev_funnel_windowed" -> funnelSql(Some(FunnelWindowMs)),
    "ev_cohort" ->
      """WITH w AS (SELECT user_id,
               epoch_ms(CAST(ts AS TIMESTAMP)) // 86400000 AS day FROM events),
         f AS (SELECT user_id, min(day) AS cohort_day FROM w GROUP BY user_id)
         SELECT cohort_day, day AS active_day, count(*) AS n_users
         FROM (SELECT DISTINCT user_id, day FROM w) a JOIN f USING (user_id)
         GROUP BY cohort_day, active_day""",
    "ev_cube_weekday" ->
      """SELECT event_type, dow,
           CAST(GROUPING(event_type) * 2 + GROUPING(dow) AS BIGINT) AS lvl,
           count(*) AS n,
           CAST(sum(v) AS DOUBLE) AS sum_value
         FROM (SELECT event_type,
                 CAST(dayofweek(CAST(ts AS TIMESTAMP)) + 1 AS BIGINT) AS dow,
                 CAST(value AS DECIMAL(12,2)) AS v
               FROM events)
         GROUP BY CUBE(event_type, dow)""",
    "ev_distinct_users" ->
      """SELECT event_type, count(DISTINCT user_id) AS n_users, count(*) AS n
         FROM events GROUP BY event_type""",
    "ev_active_users" ->
      """WITH du AS (SELECT DISTINCT CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day, user_id
                     FROM events),
         days AS (SELECT DISTINCT day FROM du),
         contrib AS (SELECT du.day + CAST(t.i AS INTEGER) AS rday, du.user_id, t.i
                     FROM du, (SELECT unnest(generate_series(0, 6)) AS i) t)
         SELECT strftime(rday, '%Y-%m-%d') AS day,
                count(DISTINCT user_id) AS n_active_7d,
                count(DISTINCT CASE WHEN i = 0 THEN user_id END) AS n_active_1d
         FROM contrib JOIN days ON contrib.rday = days.day
         GROUP BY rday""",
    "ev_mad_zscore" ->
      """WITH ev AS (SELECT event_id, event_type, CAST(value AS DOUBLE) AS v FROM events),
         med AS (SELECT event_type, round(quantile_cont(v, 0.5), 6) AS med
                 FROM ev GROUP BY event_type),
         mad AS (SELECT ev.event_type,
                        round(quantile_cont(abs(ev.v - med.med), 0.5), 6) AS mad,
                        any_value(med.med) AS med
                 FROM ev JOIN med USING (event_type) GROUP BY ev.event_type)
         SELECT event_id, ev.event_type,
                round(0.6745 * (ev.v - mad.med) / nullif(mad.mad, 0), 6) AS rz
         FROM ev JOIN mad USING (event_type)""",
    "ev_zscore" ->
      """WITH e AS (SELECT event_id, event_type,
               CAST(value AS DECIMAL(12,2)) AS v FROM events),
         st AS (SELECT event_type, count(*) AS n, sum(v) AS s,
                  sum(CAST(v * v AS DECIMAL(38,4))) AS ss,
                  min(v) AS mn, max(v) AS mx
                FROM e GROUP BY event_type),
         stv AS (SELECT event_type, n, s, mn, mx,
                   CAST(ss AS DOUBLE) / CAST(n AS DOUBLE)
                     - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))
                       * (CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) AS var
                 FROM st)
         SELECT event_id, e.event_type,
           CASE WHEN mn <> mx AND var > 0 THEN
             round((CAST(v AS DOUBLE) - CAST(s AS DOUBLE) / CAST(n AS DOUBLE)) /
                   sqrt(var), 6)
           END AS z
         FROM e JOIN stv USING (event_type)""",
    "ev_histogram" ->
      """SELECT event_type, CAST(floor(value / 50) AS BIGINT) AS bucket, count(*) AS n
         FROM events GROUP BY event_type, bucket""",
    "ev_type_pivot" ->
      """SELECT user_id,
           count(CASE WHEN event_type = 'click' THEN 1 END) AS click,
           count(CASE WHEN event_type = 'error' THEN 1 END) AS error,
           count(CASE WHEN event_type = 'purchase' THEN 1 END) AS purchase,
           count(CASE WHEN event_type = 'signup' THEN 1 END) AS signup,
           count(CASE WHEN event_type = 'view' THEN 1 END) AS view
         FROM events GROUP BY user_id""",
    "ev_quantiles" ->
      """SELECT event_type,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.9), 6) AS p90,
           round(quantile_cont(value, 0.99), 6) AS p99
         FROM events GROUP BY event_type""",
    // merged-histogram quantiles: the day split is invisible to the
    // values (histograms are linear), so the oracle builds one flat
    // histogram and replays the identical rank walk
    "ev_quantiles_merged" ->
      """WITH h AS (SELECT event_type,
               CAST(least(floor(value), 511) AS BIGINT) AS b, count(*) AS n
             FROM events GROUP BY 1, 2),
         tot AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS n_total
                 FROM h GROUP BY 1),
         c AS (SELECT event_type, b,
                 sum(n) OVER (PARTITION BY event_type ORDER BY b) AS cum
               FROM h),
         est AS (SELECT c.event_type,
                   min(CASE WHEN cum >= ceil(0.5 * n_total) THEN b END) + 0.5 AS p50_est,
                   min(CASE WHEN cum >= ceil(0.9 * n_total) THEN b END) + 0.5 AS p90_est,
                   min(CASE WHEN cum >= ceil(0.99 * n_total) THEN b END) + 0.5 AS p99_est
                 FROM c JOIN tot USING (event_type)
                 GROUP BY c.event_type)
         SELECT event_type, n_total, p50_est, p90_est, p99_est
         FROM tot JOIN est USING (event_type)""",
    // windowed cells + rank walk, both replayed; window = epoch-aligned
    // 1-hour truncation of ts
    "st_windowed_quantiles" ->
      """WITH h AS (SELECT strftime(date_trunc('hour', CAST(ts AS TIMESTAMP)),
                      '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type, CAST(least(floor(value), 511) AS BIGINT) AS b,
               count(*) AS n
             FROM events GROUP BY 1, 2, 3),
         tot AS (SELECT window_start, event_type, CAST(sum(n) AS BIGINT) AS n_total
                 FROM h GROUP BY 1, 2),
         c AS (SELECT window_start, event_type, b,
                 sum(n) OVER (PARTITION BY window_start, event_type ORDER BY b) AS cum
               FROM h),
         est AS (SELECT c.window_start, c.event_type,
                   min(CASE WHEN cum >= ceil(0.5 * n_total) THEN b END) + 0.5 AS p50_est,
                   min(CASE WHEN cum >= ceil(0.9 * n_total) THEN b END) + 0.5 AS p90_est
                 FROM c JOIN tot USING (window_start, event_type)
                 GROUP BY c.window_start, c.event_type)
         SELECT window_start, event_type, n_total, p50_est, p90_est
         FROM tot JOIN est USING (window_start, event_type)""",
    // the exact columns replayed; the sketch bounds pinned TRUE — the
    // hash gate fails iff Spark's HLL/positional sketch leaves its bound
    "ev_approx_bounds" ->
      """SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           TRUE AS hll_ok,
           round(quantile_cont(value, 0.5), 6) AS p50,
           TRUE AS p50_ok,
           round(quantile_cont(value, 0.99), 6) AS p99,
           TRUE AS p99_ok
         FROM events GROUP BY event_type""",
    // merged-HLL tier: exact global distinct + the union-estimate bound
    // pinned TRUE (the binary sketch itself is not replayable) — the
    // gate fails iff the split/persist/union merge leaves the bound
    "ev_hll_merged" ->
      """SELECT count(DISTINCT user_id) AS n_users, TRUE AS hll_ok
         FROM events""",
  )
}
