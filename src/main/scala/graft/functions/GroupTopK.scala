package graft.functions

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._

/** Grouped top-k as a MERGEABLE bounded aggregate — the 100 TB
  * alternative to the window idiom. `row_number() OVER (PARTITION BY g
  * ORDER BY v)` SORTS every group's full history after a shuffle of
  * every row; this Aggregator carries at most k (value, id) pairs per
  * group through partial aggregation, so the map side already reduces
  * each partition's contribution to k rows per group and the exchange
  * moves O(groups·k), not O(rows) — the difference between a per-user
  * leaderboard costing a full-table sort and costing a keyed aggregate
  * at a 10⁹-row/user history. Same output as the window form
  * (deterministic (value DESC, id ASC) order), which is exactly what
  * the DuckDB oracle replays.
  *
  * Merge keeps both inputs' candidates and re-truncates — associative
  * and commutative, so any partial-agg merge tree yields the identical
  * top-k (property-checked over random splits in spec).
  */
object GroupTopK {

  val K = 3

  /** ≤ k (value, id) pairs, kept sorted by (value DESC, id ASC). */
  case class TkBuf(vs: Array[Double], ids: Array[Long])

  class TopKAgg(k: Int) extends Aggregator[(Long, Double), TkBuf, TkBuf] {
    def zero: TkBuf = TkBuf(Array.emptyDoubleArray, Array.emptyLongArray)

    private def insert(b: TkBuf, id: Long, v: Double): TkBuf = {
      // find insertion point in the (v DESC, id ASC) order. Comparison is
      // java.lang.Double.compare — the TOTAL order both engines sort by
      // (NaN greater than every value, so NaN rows rank first under DESC
      // exactly as the row_number window form and DuckDB order them; IEEE
      // `>` would instead drop NaN silently). -0.0 < 0.0 under this order
      // is the one divergence from SQL equality — absent from the fixture
      // and only able to flip a tie between bit-distinct zeros.
      var i = 0
      while (i < b.vs.length && {
        val c = java.lang.Double.compare(b.vs(i), v)
        c > 0 || (c == 0 && b.ids(i) < id)
      }) i += 1
      if (i >= k) b
      else {
        val n = math.min(k, b.vs.length + 1)
        val vs = new Array[Double](n); val ids = new Array[Long](n)
        System.arraycopy(b.vs, 0, vs, 0, i); System.arraycopy(b.ids, 0, ids, 0, i)
        vs(i) = v; ids(i) = id
        val rest = math.min(b.vs.length - i, n - i - 1)
        System.arraycopy(b.vs, i, vs, i + 1, rest)
        System.arraycopy(b.ids, i, ids, i + 1, rest)
        TkBuf(vs, ids)
      }
    }

    def reduce(b: TkBuf, x: (Long, Double)): TkBuf = insert(b, x._1, x._2)

    def merge(a: TkBuf, b: TkBuf): TkBuf = {
      var out = a
      var i = 0
      while (i < b.vs.length) { out = insert(out, b.ids(i), b.vs(i)); i += 1 }
      out
    }

    def finish(b: TkBuf): TkBuf = b
    def bufferEncoder: Encoder[TkBuf] = Encoders.product[TkBuf]
    def outputEncoder: Encoder[TkBuf] = Encoders.product[TkBuf]
  }

  /** Per-user top-[[K]] events by (value DESC, event_id ASC): one keyed
    * aggregate, k rows per group through every exchange, zero window
    * sort. Output matches the row_number window form row for row.
    */
  def topKPerUser(spark: SparkSession, dir: String, k: Int = K): DataFrame = {
    import spark.implicits._
    val agg = new TopKAgg(k)
    graft.Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("value").cast("double").as("v"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapValues(r => (r._2, r._3))
      .agg(agg.toColumn.name("tk"))
      .toDF("user_id", "tk")
      .select(col("user_id"), posexplode(arrays_zip(col("tk.vs"), col("tk.ids"))))
      .select(col("user_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.ids").as("event_id"), col("col.vs").as("value"))
  }

  /** Top `n` rows of `df` by (`score` DESC, `id` ASC), numbered 1..n
    * into `rank`: the un-grouped twin of [[TopKAgg]]. The cut is
    * `orderBy.limit(n)` (TakeOrderedAndProject: per-partition bounded
    * heaps plus a driver merge) and `rank` a partition-less row_number
    * over its ≤n survivors in the same total order, so ranks 1..n are the
    * global ranks and no window pushes every candidate through one task's
    * sort. PlanAuditSpec's window lint enforces that shape registry-wide
    * (a limit strictly below every partition-less window; a constant
    * partition key would be folded away by the optimizer, so the bound
    * lives in the plan shape). The per-execution WindowExec notice is
    * demoted in Sessions.local.
    */
  def rankedTop(df: DataFrame, score: String, id: String, n: Int,
                rank: String = "rank"): DataFrame = {
    val order = Seq(col(score).desc, col(id))
    df.orderBy(order: _*).limit(n)
      .withColumn(rank, row_number().over(Window.orderBy(order: _*)))
  }

  /** [[rankedTop]] per group of the `by` columns: a row_number window
    * partitioned by `by`, cut at `n` — the window form of [[TopKAgg]].
    */
  def rankedTopPer(df: DataFrame, by: Seq[String], score: String, id: String, n: Int,
                   rank: String = "rank"): DataFrame =
    df.withColumn(rank, row_number().over(
        Window.partitionBy(by.map(col): _*).orderBy(col(score).desc, col(id))))
      .where(col(rank) <= n)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ev_topk_per_user" -> ((s, d) => topKPerUser(s, d))
  )

  val oracles: Map[String, String] = Map(
    // the window replay: identical (value DESC, event_id ASC) order; the
    // value column is ordered and emitted, never computed on, so raw
    // parquet doubles hash identically in both engines
    "ev_topk_per_user" ->
      s"""SELECT user_id, CAST(rank AS INT) AS rank, event_id, value FROM (
            SELECT user_id, event_id, CAST(value AS DOUBLE) AS value,
                   row_number() OVER (PARTITION BY user_id
                                      ORDER BY CAST(value AS DOUBLE) DESC, event_id) AS rank
            FROM events)
          WHERE rank <= $K"""
  )
}
