package graft
import org.apache.spark.sql.SparkSession

/** The ONE session configuration every driver-contract main runs under
  * (r14 ADVICE): Bench, Verify and PlanDump each re-declared the same
  * builder, so a config drift in one would silently de-sync the dumped
  * plans/r* evidence files (PlanDump) from the plans the bench times and
  * the frames Verify hands the oracle. Centralizing the builder makes
  * "same plan everywhere" a structural property instead of a convention.
  */
object Sessions {
  /** Local session at `cpus` cores with the repo's portability and
    * status-store settings. `cpus` comes from SPARK_GRAFT_CPUS at every
    * call site — the driver also runs at a lower core count to measure
    * scaling, so the master must never be hard-coded.
    */
  def local(cpus: String): SparkSession = {
    val spark = builder(cpus).getOrCreate()
    // Demote WindowExec's "No Partition Defined" notice (r14 verdict
    // item 9) AFTER session creation — Spark (re)initializes log4j
    // during startup, which would wipe an earlier per-logger override.
    // The registry's partition-less windows all run over limit-bounded
    // or value-grid-bounded inputs, an invariant ENFORCED by
    // PlanAuditSpec's window lint (an unbounded global window fails the
    // build), so the per-execution WARN carries no information here and
    // its flood (AQE re-plans re-log it per stage) buried real warnings
    // in the Verify tail. The lint, not this demotion, keeps future
    // unbounded windows out.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution.window.WindowExec",
      org.apache.logging.log4j.Level.ERROR)
    spark
  }

  /** The shared builder, for a host that adds its own static confs
    * before the session starts (the test session's warehouse dir).
    */
  private[graft] def builder(cpus: String): SparkSession.Builder = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    // NANOS-generation events fixtures need this at session build (no
    // per-read option exists); a no-op for micros fixtures
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    // The status store tracks executions/jobs/stages EVEN WITH THE UI
    // OFF, retaining 1000 executions' plan graphs by default. A
    // 228-query run with iterative loops emits thousands of executions
    // with deep plans; the accumulated store measured as severe in-run
    // degradation (pr_components 1.9 s isolated vs 11-23 s mid-run — the
    // r7 "attribution instability" in large part) — capped, the same
    // mid-run queries match their isolated times.
    .config("spark.sql.ui.retainedExecutions", "20")
    .config("spark.ui.retainedJobs", "100")
    .config("spark.ui.retainedStages", "100")
    .config("spark.ui.retainedTasks", "1000")
    // Generated-class cache sized to the registry (r15): the default 100
    // entries hold a fraction of the ~thousands of distinct codegen
    // classes a 228-query pass produces, so IN-CONTEXT every rep of
    // every query re-ran janino on all its stages — queries with fat
    // generated code read far above their isolated medians with every
    // contention sensor quiet (ev_moments 2.97 s in-context vs 0.35 s
    // isolated; forcing maxEntries=1 on the isolated run reproduced
    // 2× inflation: 0.35→0.71, ev_funnel_windowed 0.50→1.26). Sized
    // for the registry's working set; bytecode entries are small next
    // to the 48g heap. Static conf — must be set before the first
    // session of the JVM (all driver mains come through this builder).
    .config("spark.sql.codegen.cache.maxEntries", "4000")
}
