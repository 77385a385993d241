package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Small-file compaction — the table-maintenance operator every 100-TB
  * lake runs continuously (Delta/Iceberg OPTIMIZE, Hive concatenate): a
  * streaming or per-batch writer leaves thousands of KB-sized files, and
  * scan cost at that point is dominated by file listing + per-file open
  * overhead, not bytes. Compaction rewrites a directory to
  * ceil(bytes / targetFileSize) files.
  *
  * The operator is exercised end-to-end against real bytes: the events
  * fixture is first written DELIBERATELY over-split (64 files — the
  * small-files problem, staged once per session under the artifact
  * root), then compacted by measuring the directory's actual on-disk
  * size and repartitioning to the computed file count. The registry
  * query aggregates FROM THE COMPACTED FILES and hash-gates against the
  * oracle over the raw table — compaction must be value-transparent —
  * while the file-count mechanics (before ≫ after, after =
  * ceil(bytes/target)) are pinned in LayoutSpec. Target size is 1 MiB at
  * fixture scale (events sf0.1 ≈ a few MiB); production uses 256 MiB–
  * 1 GiB, same arithmetic.
  */
object Compact {

  val TargetFileBytes: Long = 1L * 1024 * 1024
  val SmallFiles = 64

  private def dirBytes(path: java.io.File): Long = {
    val kids = Option(path.listFiles()).getOrElse(Array.empty)
    kids.map(f => if (f.isDirectory) dirBytes(f)
                  else if (f.getName.startsWith("_") || f.getName.startsWith(".")) 0L
                  else f.length()).sum
  }

  private[graft] def smallPath(dir: String): String =
    graft.Caches.artifactBase(dir).resolve("compact/events_small").toString
  private[graft] def compactedPath(dir: String): String =
    graft.Caches.artifactBase(dir).resolve("compact/events_compacted").toString

  /** Stage the over-split layout and compact it; returns the compacted
    * relation (lineage rooted at the compacted Parquet files). Memoized —
    * the stage/measure/rewrite cost lands on a ledgered `build:*` row.
    */
  def compactedEvents(spark: SparkSession, dir: String): DataFrame =
    graft.Caches.memoized(spark, dir, "op:compact") {
      val small = smallPath(dir)
      Tables.events(spark, dir).repartition(SmallFiles)
        .write.mode("overwrite").parquet(small)
      val bytes = dirBytes(new java.io.File(small))
      val nOut = math.max(1, math.ceil(bytes.toDouble / TargetFileBytes).toInt)
      spark.read.parquet(small).repartition(nOut)
        .write.mode("overwrite").parquet(compactedPath(dir))
      spark.read.parquet(compactedPath(dir))
    }

  /** Row-preservation gate over the compacted files: every column
    * participates in an order-free exact aggregate, so a single dropped,
    * duplicated, or corrupted row anywhere in the rewrite flips the hash.
    */
  def compactChecksum(spark: SparkSession, dir: String): DataFrame =
    compactedEvents(spark, dir).agg(
      count(lit(1)).as("n_rows"),
      count_distinct(col("event_id")).as("n_event_ids"),
      sum(col("event_id")).as("sum_event_id"),
      count_distinct(col("user_id")).as("n_users"),
      sum(col("value").cast("decimal(12,2)")).cast("double").as("sum_value"),
      sum(unix_millis(col("ts"))).as("sum_ts_ms"),
      sum(expr("CAST(conv(substr(md5(event_type), 1, 7), 16, 10) AS BIGINT)"))
        .as("type_hash_sum"))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "op_compact" -> ((s, d) => compactChecksum(s, d)),
  )

  val oracles: Map[String, String] = Map(
    "op_compact" ->
      """SELECT count(*) AS n_rows,
           count(DISTINCT event_id) AS n_event_ids,
           CAST(sum(event_id) AS BIGINT) AS sum_event_id,
           count(DISTINCT user_id) AS n_users,
           CAST(sum(CAST(value AS DECIMAL(12,2))) AS DOUBLE) AS sum_value,
           CAST(sum(epoch_ms(CAST(ts AS TIMESTAMP))) AS BIGINT) AS sum_ts_ms,
           CAST(sum(CAST('0x' || substr(md5(event_type), 1, 7) AS BIGINT)) AS BIGINT)
             AS type_hash_sum
         FROM events""",
  )
}
