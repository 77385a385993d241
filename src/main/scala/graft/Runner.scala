package graft

/** Bench's execution phases over the registry: a concurrent prebuild that
  * absorbs every memo build, serial timed reps with noisy-median
  * escalation, and a quiet retime of the heavy build rows.
  * `materialize` runs one query and returns its error, if any.
  */
final class Runner(names: Seq[String], reps: Int, materialize: String => Option[String],
                   sensors: Sensors, ledger: Ledger, verbose: Boolean = false) {
  import Runner._

  private def onPool(par: Int, queries: Seq[String]): Double = {
    val t0 = sensors.read()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
    try queries.map(n => pool.submit(new Runnable {
      // errors are not recorded here: a timed rep reports the same error
      def run(): Unit = { ledger.currentQuery.set(n); materialize(n) }
    })).foreach(_.get())
    finally pool.shutdown()
    sensors.read().delta(t0).sec
  }

  /** PREBUILD phase (r13 verdict task 2): every query once, on a bounded
    * pool, before any timed rep. The ~110 scheduler-latency-bound memo
    * builds overlap instead of serializing inside first reps, and every
    * timed rep then runs against hot memos. Returns the phase wall.
    */
  def prebuild(par: Int): Double = onPool(par, names)

  /** Timed reps, serially, in `names` order. A query whose rep spread
    * exceeds 2×, or whose window rode a steal or ambient burst, runs
    * extra reps (r11 verdict ask 6) so the median re-centers on the quiet
    * mode. The median pools QUIET reps only (r12 task 3, extended r14):
    * reps flagged by either sensor drop out, unless every rep was.
    */
  def timed(): Seq[Result] =
    names.map { name =>
      ledger.currentQuery.set(name)
      def oneRep(): Rep = {
        ledger.repBuildSec = 0.0
        val s0 = sensors.read()
        val err = materialize(name)
        val d = sensors.read().delta(s0)
        val (pb, pa) = sensors.bracket()
        Rep(d.sec - ledger.repBuildSec, err, d.steal, d.sec, pb, pa)
      }
      var runs = Vector.fill(reps)(oneRep())
      // provisional ambient test (min-so-far baseline): escalation only
      val escalate = reps > 1 && runs.forall(_.err.isEmpty) &&
        (spreadSuspect(runs) || runs.exists(r => r.stealHeavy || sensors.hot(r.probe)))
      if (escalate) runs ++= Vector.fill(EscalatedReps - runs.size)(oneRep())
      // per-rep chronology on stderr (stdout carries only the compact
      // line): [min, max] can't tell "cold rep 1" from "a warm rep
      // degraded mid-run"
      if (verbose)
        System.err.println(s"REPS $name: ${runs.map(r => f"${r.time}%.2f").mkString(" ")}" +
          s" steal: ${runs.map(_.steal).mkString(" ")}" +
          s" probe: ${runs.map(r => f"${r.pAfter}%.3f").mkString(" ")}" +
          (if (escalate) " (escalated)" else ""))
      (name, runs, escalate)
    }.map { case (name, runs, escalate) =>
      // published flags re-test against the RUN-GLOBAL min
      val ambient = runs.map(r => sensors.hot(r.probe))
      val quiet = runs.zip(ambient).collect { case (r, false) if !r.stealHeavy => r }
      Result(name, runs, quiet, ambient.count(identity), escalate)
    }

  /** Retime pass for BUILD rows: steal-flagged keys (builds run once, so
    * the quiet-median treatment can't reach them) and EVERY row from
    * [[RetimeThresholdSec]] up (r14 verdict task 2: the saturated
    * prebuild on a cold JVM inflated exclusive rows 4-6×). The memos are
    * dropped and one consumer per key re-materialized on a 2-thread pool
    * — enough overlap to back-fill scheduler gaps, not enough to
    * re-create the contention — and each key publishes
    * min(first, retimed). Returns (pass wall, pre-retime rows, keys
    * still steal-flagged after their rebuild).
    */
  def retime(): (Double, Map[String, Double], Seq[String]) = {
    val first = ledger.synchronized(ledger.rows.toMap)
    val flagged = ledger.stealFlagged
    val keys = (flagged ++ first.collect { case (k, s) if s >= RetimeThresholdSec => k }).distinct
    var sec = 0.0
    if (keys.nonEmpty) {
      ledger.retimeKeys = keys.toSet
      ledger.retiming = true
      Caches.releaseAll()
      // a consumer re-triggers its whole build chain: one per key suffices
      val consumers = ledger.synchronized(keys.flatMap(ledger.consumer.get)).distinct.sorted
      sec = onPool(2, consumers)
      ledger.retiming = false
    }
    (sec, first, ledger.stillFlagged(flagged))
  }
}

object Runner {
  /** Reps a noisy query escalates to. */
  val EscalatedReps = 5
  /** Build rows from this many exclusive seconds up are retimed. */
  val RetimeThresholdSec = 0.3

  final case class Rep(time: Double, err: Option[String], steal: Long,
                       wall: Double, pBefore: Double, pAfter: Double) {
    def stealHeavy: Boolean = Sensors.stealHeavy(wall, steal)
    /** A rep flags ambient only when BOTH bracketing probes read hot: a
      * sustained burst holds every probe hot, while idle-box probe noise
      * (GC pauses, scheduler quanta) is uncorrelated across the two.
      */
    def probe: Double = math.min(pBefore, pAfter)
  }

  /** One query's reps; `quiet` are the reps neither sensor flagged. */
  final case class Result(name: String, reps: Seq[Rep], quiet: Seq[Rep],
                          nAmbient: Int, escalated: Boolean) {
    val median: Double = {
      val times = (if (quiet.nonEmpty) quiet else reps).map(_.time).sorted
      times(times.length / 2)
    }
    def err: Option[String] = reps.flatMap(_.err).headOption
    def stealSuspect: Boolean = reps.exists(_.stealHeavy)
    def spreadSuspect: Boolean = Runner.spreadSuspect(reps)
  }

  def spreadSuspect(reps: Seq[Rep]): Boolean = {
    val times = reps.map(_.time)
    times.size > 1 && times.min > 0 && times.max / times.min > 2.0 &&
      times.max - times.min > 0.2 // micro-query jitter is not contention
  }
}
