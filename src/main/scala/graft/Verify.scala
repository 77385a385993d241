package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  /** oracle_sql.json. json4s escapes quotes, backslashes and ALL control
    * chars: a tab or CR in hand-written SQL must not make the oracle
    * runner's json.load fail and silently zero the round's correctness.
    */
  private[graft] def oracleJson: String = org.json4s.jackson.JsonMethods.compact(
    org.json4s.JObject(SparkEntry.oracleSql.toList.map { case (k, v) => k -> org.json4s.JString(v) }))

  def main(args: Array[String]): Unit = {
    // args: sfDir outDir [comma-separated query subset]. The driver
    // passes two args, so driver runs always dump the full registry;
    // the subset form is for development isolation.
    val Array(sfDir, outDir) = args.take(2)
    val only = args.drop(2).headOption
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // the one shared builder (r14 ADVICE; see Sessions.local)
    val spark = Sessions.local(cpus)
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), oracleJson)
    Caches.releaseAll()
    spark.stop()
  }
}
