package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.Column
import org.apache.spark.sql.types.StructType

/** Loaders for the driver-generated Parquet fixture tables (TESTDATA.md).
  *
  * The reference parses pipe-delimited `.tbl` text positionally at every use
  * site (e.g. `assignment5/Q1.scala:32` `r.split("\\|",12)(10)`); here the
  * schema lives in the Parquet footer and Catalyst prunes columns + pushes
  * filters into the scan automatically. At 100 TB these tables would be
  * bucketed/partitioned Parquet or an open table format; the access path
  * (spark.read.parquet + declarative plans) is identical.
  *
  * ==Schema resolved once per session==
  *
  * A plain `spark.read.parquet` infers the schema from the footer with a
  * Spark job, on EVERY read — a per-call fixed cost that dominates the
  * build step of a short query (62–118 ms per call in a traced
  * `hot_serve` pass, local[4], 4-core VM).
  * [[table]] keeps the `StructType` of the first read per (session,
  * path, `spark.sql.legacy.parquet.nanosAsLong`) — the conf changes how
  * a NANOS column surfaces — and reads every later call with
  * `spark.read.schema(s)`, which starts no job. The sessions are held
  * weakly, so no session is pinned, and a `newSession()` infers afresh.
  * Each call still returns a FRESH DataFrame (fresh exprIds): sharing
  * one frame would make a self-join's two sides share attribute ids.
  * `Caches.releaseAll` leaves the schemas alone: they hold no storage.
  * A fixture path is assumed not to change schema within a session.
  */
object Tables {
  private val schemas =
    new java.util.WeakHashMap[SparkSession, Map[(String, Boolean), StructType]]()

  def table(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val key = (path, spark.sessionState.conf.legacyParquetNanosAsLong)
    def known = Option(schemas.get(spark)).getOrElse(Map.empty[(String, Boolean), StructType])
    schemas.synchronized(known.get(key)) match {
      case Some(schema) => spark.read.schema(schema).parquet(path)
      case None =>
        val df = spark.read.parquet(path)
        schemas.synchronized(schemas.put(spark, known + (key -> df.schema)))
        df
    }
  }

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame     = table(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame   = table(spark, dir, "region")
  /** The events fixture's `ts` physical type has varied across driver
    * generations: TIMESTAMP(NANOS) (which Spark's vectorized reader
    * rejects outright — PARQUET_TYPE_ILLEGAL — so it must be read as raw
    * longs under `nanosAsLong`) and TIMESTAMP_NTZ micros. [[normalizeTs]]
    * dispatches on the type the scan actually surfaced, so the loader
    * works against either fixture generation and always hands downstream
    * code session-zone `TimestampType` with identical wall-clock values
    * (the session zone is pinned UTC by every host).
    */
  def events(spark: SparkSession, dir: String): DataFrame = {
    requireNanosAsLong(spark)
    normalizeTs(table(spark, dir, "events"))
  }

  /** Normalize an events frame's `ts` to session-zone TimestampType:
    * raw nanos longs (NANOS fixture read under `nanosAsLong`) are
    * integer-divided to micros — the values exceed 2^53, so double math
    * would corrupt them; TIMESTAMP_NTZ (micros fixture) is cast, a pure
    * wall-clock reinterpretation under the pinned-UTC session.
    */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        df.withColumn("ts", timestamp_micros(expr("CAST(ts div 1000 AS BIGINT)")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(org.apache.spark.sql.types.TimestampType))
      case _ => df
    }

  /** Reading NANOS parquet needs `spark.sql.legacy.parquet.nanosAsLong`,
    * which Spark exposes only as a SESSION conf (no per-read option as of
    * 4.1 — verified against ParquetOptions). Hosts should opt in at
    * session build (Bench/Verify/TestSpark do); for a session that
    * didn't, this fallback sets it once, skipping the write when already
    * set. Documented global effect: NANOS columns surface as raw longs —
    * a no-op for every other read this library performs.
    */
  def requireNanosAsLong(spark: SparkSession): Unit =
    if (!spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong").contains("true"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
  def documents(spark: SparkSession, dir: String): DataFrame  = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** ×`replicas` inflated documents corpus — THE shared scale-tier corpus
    * (replica r > 0 appends one length-(2+r) distinct token, so every
    * inflated doc is a distinct near-copy and each source group of
    * `replicas` forms a genuine near-dup cluster). One definition serves
    * the IR big postings/positions index builds and the dedup big shingle
    * scan, which previously each re-ran this scan+inflation privately —
    * three builds of the same 10× text (r10 verdict ask 6). Memoized (in
    * memory), not a Parquet artifact: the inflation is replayable
    * arithmetic over the fixture, not a trained index, and an artifact
    * would trade the one cheap explode for re-reading 10× the text bytes
    * from disk in every consumer. Oracles are unaffected — every big-tier
    * oracle replays this exact arithmetic through its one SQL twin,
    * `OracleSql.inflatedDocs`.
    */
  def documentsInflated(spark: SparkSession, dir: String, replicas: Int): DataFrame =
    Caches.memoized(spark, dir, s"corpus:docs_big_$replicas") {
      replicate(documents(spark, dir).select(col("doc_id"), col("text")), replicas)
        .select((col("doc_id") * replicas + col("r")).as("doc_id"),
          when(col("r") === 0, col("text"))
            .otherwise(concat(col("text"), lit(" zz"), expr("repeat('x', r)")))
            .as("text"))
    }

  /** `df` (which carries a `doc_id`) hash-placed by `doc_id` on the
    * session's shuffle partitions.
    *
    * A fixture table is one small Parquet file, so one scan split: left
    * there, every per-row kernel downstream of the scan (tokenize,
    * shingle, explode, hash) runs in ONE task whatever the core count.
    * Placing the rows before such a kernel spreads it over every core at
    * the price of one exchange of the fixture-sized rows, so it pays only
    * where the kernel outweighs the exchange. The count is explicit so
    * AQE cannot coalesce the placement back to one partition (the same
    * rule as the dedup shingle index).
    */
  def placeByDocId(df: DataFrame): DataFrame =
    df.repartition(df.sparkSession.sessionState.conf.numShufflePartitions, col("doc_id"))

  /** The rows of `base` (which carries a `doc_id`) with a replica index
    * `r` in `0 until replicas` added: the shared first step of every ×N
    * scale-tier corpus ([[documentsInflated]], `Text.tokensInflated`,
    * `Dedup.skewCorpus`), each of which keeps its own
    * `doc_id * replicas + r` remap and perturbation. The base rows are
    * placed ([[placeByDocId]]) BEFORE the replica explode, so the
    * exchange moves the fixture-sized corpus, not the ×N one.
    */
  def replicate(base: DataFrame, replicas: Int): DataFrame =
    placeByDocId(base).withColumn("r", explode(sequence(lit(0), lit(replicas - 1))))

  /** `yyyy-MM-dd` rendering of a timestamp column — the reference compares
    * date *strings* (substring containment `Q1.scala:32`, lexicographic
    * range `Q7.scala:39,55`); rendering once preserves those semantics
    * exactly while the storage stays a real timestamp.
    */
  def dayStr(c: Column): Column = date_format(c, "yyyy-MM-dd")

  private val Year  = "^(\\d{4})$".r
  private val Month = "^(\\d{4})-(\\d{2})$".r
  private val Day   = "^(\\d{4})-(\\d{2})-(\\d{2})$".r

  /** [start, end) of the calendar period a reference date argument names,
    * as java.time.LocalDate — None if it isn't a plain year/month/day.
    */
  private def period(dt: String): Option[(java.time.LocalDate, java.time.LocalDate)] = dt match {
    case Year(y)        => val s = java.time.LocalDate.of(y.toInt, 1, 1); Some((s, s.plusYears(1)))
    case Month(y, m)    => val s = java.time.LocalDate.of(y.toInt, m.toInt, 1); Some((s, s.plusMonths(1)))
    case Day(y, m, d)   => val s = java.time.LocalDate.of(y.toInt, m.toInt, d.toInt); Some((s, s.plusDays(1)))
    case _              => None
  }

  private def ts(d: java.time.LocalDate): Column = to_timestamp(lit(d.toString))

  /** Reference date predicate: `shipdate.contains(dt)` where dt is a
    * `YYYY`, `YYYY-MM` or `YYYY-MM-DD` prefix (`Q1.scala:32`). On a
    * yyyy-MM-dd rendering, containment == prefix match — which for a
    * calendar period is EXACTLY the half-open timestamp range
    * [periodStart, periodEnd). The range form is what reaches the Parquet
    * scan as PushedFilters (min/max row-group pruning at 100 TB); a
    * `date_format(...).startsWith` wrapper would disable pushdown.
    * Non-calendar prefixes fall back to the rendering compare.
    */
  def dateMatches(c: Column, dt: String): Column = period(dt) match {
    case Some((s, e)) => c >= ts(s) && c < ts(e)
    case None         => dayStr(c).startsWith(dt)
  }

  /** Lexicographic `dayStr(c) < dt` (`Q7.scala:39`) as a pushdown-able
    * range: day-rendering < dt ⇔ timestamp < periodStart(dt).
    */
  def dayBefore(c: Column, dt: String): Column = period(dt) match {
    case Some((s, _)) => c < ts(s)
    case None         => dayStr(c) < dt
  }

  /** Lexicographic `dayStr(c) > dt` (`Q7.scala:55`): for a full date the
    * rendering compares > only from the NEXT day (equal 10-char strings
    * aren't >); for a year/month prefix every day inside the period is
    * already > (longer string, equal prefix) ⇒ timestamp ≥ periodStart.
    */
  def dayAfter(c: Column, dt: String): Column = period(dt) match {
    case Some((s, e)) => if (dt.length == 10) c >= ts(e) else c >= ts(s)
    case None         => dayStr(c) > dt
  }
}
