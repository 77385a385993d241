package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.text.Text

/** Skew-mitigation operators (100 TB-posture mandate: "skewed keys →
  * salting or AQE skew-join").
  *
  * AQE handles skewed *joins* automatically; skewed *aggregations* on a
  * hot key still funnel every row of that key through one reduce task
  * during the final aggregation when the per-key state is large (e.g.
  * collect_list). For algebraic aggregates (count/sum/min/max) Spark's
  * partial aggregation already neutralizes skew — [[saltedCount]] exists
  * for the cases partial agg can't cover and as the documented pattern:
  * stage 1 aggregates (key, salt) — spreading a hot key over `salts`
  * reducers — stage 2 combines the partials per key.
  */
object Skew {

  /** Two-stage salted count-by-key; result identical to
    * `df.groupBy(key).count()` for any salt width.
    */
  def saltedCount(df: DataFrame, key: Column, salts: Int = 16): DataFrame =
    df.select(key.as("k"))
      .withColumn("salt", pmod(spark_partition_id() + monotonically_increasing_id(), lit(salts)))
      .groupBy(col("k"), col("salt")).agg(count(lit(1)).as("c"))
      .groupBy(col("k")).agg(sum(col("c")).as("cnt"))

  /** Word count through the salted path — hash-checked against the same
    * oracle as the direct text_wordcount, proving the rewrite is exact.
    */
  def saltedWordCount(spark: SparkSession, dir: String): DataFrame =
    saltedCount(
      Tables.documents(spark, dir).select(explode(Text.tokenize(col("text"))).as("word")),
      col("word"))
      .select(col("k").as("word"), col("cnt"))

  /** The repo-wide split arithmetic, shared by [[hashSplit]], the
    * leakage-free split (Curation.leakFreeSplit applies it to the
    * component canonical) and the spam holdout filter — ONE definition so
    * the "same bucket arithmetic" guarantees between them cannot
    * silently diverge. bucket = first-8-hex-of-md5 mod 100,
    * content-stable and engine-portable (no rand()).
    */
  def hashBucket(key: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(conv(substring(md5(key.cast("string")), 1, 8), 16, 10).cast("long"),
      lit(100L)).cast("int")

  /** The 80/10/10 split ladder over a [[hashBucket]] value. */
  def splitOf(bucket: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test")

  /** Deterministic train/val/test split for a training-data pipeline:
    * bucket = md5(key) mod 100 (content-stable, engine-portable — no
    * rand(), so membership survives reruns, repartitioning and backfills;
    * the DuckDB oracle computes the identical buckets). 80/10/10.
    */
  def hashSplit(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), hashBucket(col("doc_id")).as("bucket"))
      .select(col("doc_id"), splitOf(col("bucket")).as("split"))

  /** Salted equi-join for a skewed build side: the probe side gets a
    * CONTENT-DETERMINISTIC salt in [0, salts) — xxhash64 over the whole
    * probe row, the repo's stable-bucketing convention — the build side
    * is REPLICATED once per salt value, and the join keys on
    * (key, salt): a hot key's probe rows spread over `salts` reducers
    * instead of funneling through one (rows of a hot key differ in their
    * non-key columns, which is what the hash spreads on; exact duplicate
    * rows co-locate, which only matters if duplicates themselves are the
    * skew). Hashing row content, not spark_partition_id/mono_id, keeps
    * the salt stable under recomputation and keeps the projection
    * deterministic, so it cannot block predicate pushdown. Result
    * identical to the unsalted join for any salt width (each probe row
    * meets each build row exactly once, at its own salt).
    *
    * WHEN IS SALTING UNNECESSARY? AqeSkewSpec runs the skew-corpus join
    * under `spark.sql.adaptive.skewJoin` and proves the automatic split
    * produces identical numbers — on modern Spark prefer AQE first. The
    * spec's findings on when AQE does NOT cover you (each observed
    * directly while building it):
    *  1. a broadcastable build side makes skew moot before AQE ever
    *     looks — the broadcast is always the first fix;
    *  2. `OptimizeSkewedJoin` matches only SMJ/SHJ whose children are
    *     Sort-over-Shuffle — an aggregate (or any operator) between the
    *     build's shuffle and the join defeats it SILENTLY; materialize
    *     derived dimensions first;
    *  3. detection is compressed-map-output-bytes-based: a hot key of
    *     low-entropy rows compresses below the thresholds and hides,
    *     and output-side skew (C(df,2) self-join blowup on a hot key —
    *     the dedup inverted-index shape) is entirely invisible to it:
    *     there the df cap, not AQE and not salting, is the fix;
    *  4. splits are MAPPER-granular: a skewed partition fed by one map
    *     task can never be split (small scans / coalesced upstreams) —
    *     salting has no such floor.
    * Explicit salting remains the tool for those four cases and for
    * skewed aggregates ([[saltedCount]]); AQE covers the plain fat-key
    * shuffle join.
    *
    * LIMITATION of the content salt: EXACT-DUPLICATE probe rows hash to
    * the same salt, so a hot key made of verbatim repeats (a common skew
    * shape in log data) still funnels through one reducer. For those
    * probes set `spreadDuplicates = true`: the salt then also mixes
    * spark_partition_id + a per-partition counter, spreading identical
    * rows round-robin. That opt-in trades the content salt's
    * determinism-under-recomputation: a recomputed partition may re-salt
    * rows differently. The join RESULT is identical for any COMPLETE salt
    * assignment, but completeness under a mid-shuffle fetch failure —
    * where only SOME map tasks would naively recompute — rests on Spark's
    * indeterminate-stage handling (SPARK-23207 rollback: a stage whose
    * output is flagged nondeterministic, as monotonically_increasing_id's
    * is, is re-executed whole, never patched partially), so rows are
    * neither duplicated nor dropped. A fully deterministic alternative —
    * row_number() over a window keyed on the hot key — would cost an
    * extra shuffle of the probe side, defeating the point; prefer the
    * default content salt unless verbatim-duplicate skew is measured.
    */
  def saltedJoin(probe: DataFrame, build: DataFrame, key: String,
                 salts: Int = 16, spreadDuplicates: Boolean = false): DataFrame = {
    val contentSalt = xxhash64(probe.columns.toIndexedSeq.map(col): _*)
    val salt =
      if (spreadDuplicates)
        pmod(contentSalt + spark_partition_id() + monotonically_increasing_id(), lit(salts))
      else pmod(contentSalt, lit(salts))
    val salted = probe.withColumn("salt", salt)
    val replicated = build.withColumn("salt",
      explode(sequence(lit(0), lit(salts - 1)).cast("array<int>")))
    salted.join(replicated, Seq(key, "salt")).drop("salt")
  }

  /** Per-customer order-lineitem volumes through the salted join —
    * hash-checked against the same oracle shape as a plain join, proving
    * the rewrite exact.
    */
  def saltedJoinVolumes(spark: SparkSession, dir: String): DataFrame =
    saltedJoin(
      Tables.lineitem(spark, dir).select(col("l_orderkey").as("o_orderkey"),
        col("l_quantity").cast("decimal(12,2)").as("qty")),
      Tables.orders(spark, dir).select(col("o_orderkey"), col("o_custkey")),
      "o_orderkey",
      // 8 spreads a hot key over a quarter of the 32-way cluster while
      // keeping the build replication factor (the salting tax) low
      salts = 8)
      .groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n_items"),
        sum(col("qty")).cast("double").as("sum_qty"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sk_salted_wordcount" -> ((s, d) => saltedWordCount(s, d)),
    "sk_salted_join"      -> ((s, d) => saltedJoinVolumes(s, d)),
    "ml_hash_split"       -> ((s, d) => hashSplit(s, d)),
  )

  val oracles: Map[String, String] = Map(
    "sk_salted_wordcount" -> graft.text.Text.oracles("text_wordcount"),
    "sk_salted_join" ->
      """SELECT o_custkey, count(*) AS n_items,
              CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DOUBLE) AS sum_qty
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         GROUP BY o_custkey""",
    "ml_hash_split" ->
      s"""SELECT doc_id,
                CASE WHEN bucket < 80 THEN 'train'
                     WHEN bucket < 90 THEN 'val'
                     ELSE 'test' END AS split
         FROM (SELECT doc_id,
                 ${graft.OracleSql.md5Bucket()}
                   AS bucket
               FROM documents)""",
  )
}
